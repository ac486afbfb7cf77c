"""Micro-batch ingest buffer with size/rows/age rotation (operator A10).

Reference behavior (``pkg/datasink/filesystem/filesystem.go``):
NDJSON appends to an open file per (database, table); a rotation pass
closes files when ``bytes >= max_size ∨ rows >= max_rows ∨ age >=
max_age``; an upload pass moves closed files to durable storage and
enqueues an InsertData message per file. Delete-local-then-enqueue
gives at-least-once delivery (a crash between upload and enqueue can
re-deliver; inserts must tolerate replay).

"Durable storage" is a ``BlobStore`` (blobstore.py): the local-dir
store by default, S3/GCS in production — same contract, put + enqueue
the key. Threads: one rotation ticker, one upload ticker, mirroring
the reference cadences (1 s / 10 s).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from scratchdata_spark.blobstore import BlobStore, LocalBlobStore
from scratchdata_spark.config import SinkConfig
from scratchdata_spark.ids import next_row_id
from scratchdata_spark.queue import Queue


@dataclass
class _OpenFile:
    path: str
    created: float
    bytes: int = 0
    rows: int = 0


class FileSystemSink:
    """open/<db>/<table>/<snowflake>.ndjson → closed/ → blob/ + queue."""

    def __init__(
        self,
        config: SinkConfig,
        queue: Queue | None = None,
        blobstore: BlobStore | None = None,
    ):
        self.config = config
        self.queue = queue
        self._open: dict[tuple[str, str], _OpenFile] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        for sub in ("open", "closed"):
            os.makedirs(os.path.join(config.data_dir, sub), exist_ok=True)
        self.blobstore = blobstore or LocalBlobStore(
            os.path.join(config.data_dir, "blob")
        )

    # ------------------------------------------------------------- write
    def write_data(self, database: str, table: str, data: bytes) -> None:
        """Append one NDJSON payload (must end with newline)."""
        if not data.endswith(b"\n"):
            data += b"\n"
        rows = data.count(b"\n")
        with self._lock:
            f = self._open.get((database, table))
            if f is None:
                d = os.path.join(self.config.data_dir, "open", database, table)
                os.makedirs(d, exist_ok=True)
                f = _OpenFile(os.path.join(d, f"{next_row_id()}.ndjson"), time.time())
                self._open[(database, table)] = f
            with open(f.path, "ab") as fh:
                fh.write(data)
            f.bytes += len(data)
            f.rows += rows

    # ---------------------------------------------------------- rotation
    def _needs_rotation(self, f: _OpenFile) -> bool:
        return (
            f.bytes >= self.config.max_file_size_bytes
            or f.rows >= self.config.max_rows_per_file
            or time.time() - f.created >= self.config.max_file_age_seconds
        )

    def rotate(self, force: bool = False) -> int:
        """Move due open files to closed/. Returns files rotated."""
        n = 0
        with self._lock:
            for key, f in list(self._open.items()):
                if f.rows == 0:
                    continue
                if force or self._needs_rotation(f):
                    db, table = key
                    d = os.path.join(self.config.data_dir, "closed", db, table)
                    os.makedirs(d, exist_ok=True)
                    os.replace(f.path, os.path.join(d, os.path.basename(f.path)))
                    del self._open[key]
                    n += 1
        return n

    # ------------------------------------------------------------ upload
    def upload(self) -> int:
        """closed/ → blob store + enqueue insert message per file.
        The message carries the blob KEY (db/table/name); when the
        store is local it also carries the direct path so same-host
        workers skip the copy."""
        n = 0
        closed = os.path.join(self.config.data_dir, "closed")
        for db in sorted(os.listdir(closed)):
            for table in sorted(os.listdir(os.path.join(closed, db))):
                src_dir = os.path.join(closed, db, table)
                for name in sorted(os.listdir(src_dir)):
                    # upload → enqueue → delete local, in that order
                    # (reference filesystem.go): a crash mid-sequence
                    # leaves the closed file; the next pass re-uploads
                    # the same key (idempotent overwrite) and
                    # re-enqueues (at-least-once — inserts replay)
                    src = os.path.join(src_dir, name)
                    key = f"{db}/{table}/{name}"
                    self.blobstore.put_file(src, key)
                    if self.queue is not None:
                        payload = {"database": db, "table": table, "key": key}
                        local = self.blobstore.local_path(key)
                        if local is not None:
                            payload["path"] = local
                        self.queue.enqueue("insert_data", payload)
                    os.remove(src)
                    n += 1
        return n

    def flush(self) -> int:
        """Synchronous rotate-all + upload (tests, shutdown)."""
        self.rotate(force=True)
        return self.upload()

    # ---------------------------------------------------------- recovery
    def recover(self) -> int:
        """Crash recovery at startup: files under open/ that no live
        buffer tracks are a previous process's — close them so the
        upload pass ships them. (closed/ needs nothing: upload() walks
        it every tick, which is also the reference's implicit recovery;
        the reference LEAKS orphaned open files — filesystem.go tracks
        them only in memory — so this is a deliberate improvement.)"""
        n = 0
        open_root = os.path.join(self.config.data_dir, "open")
        with self._lock:
            live = {f.path for f in self._open.values()}
            for dirpath, _, names in os.walk(open_root):
                for name in names:
                    path = os.path.join(dirpath, name)
                    if path in live or os.path.getsize(path) == 0:
                        continue
                    rel = os.path.relpath(dirpath, open_root)
                    dst_dir = os.path.join(self.config.data_dir, "closed", rel)
                    os.makedirs(dst_dir, exist_ok=True)
                    os.replace(path, os.path.join(dst_dir, name))
                    n += 1
        return n

    # ----------------------------------------------------------- tickers
    def start(self) -> None:
        self.recover()  # ship a crashed predecessor's buffered files

        def rotate_loop():
            while not self._stop.wait(self.config.rotate_interval_seconds):
                self.rotate()

        def upload_loop():
            while not self._stop.wait(self.config.upload_interval_seconds):
                self.upload()

        for fn in (rotate_loop, upload_loop):
            t = threading.Thread(target=fn, daemon=True)
            t.start()
            self._threads.append(t)

    def stop(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join(timeout=5)
        self.flush()
