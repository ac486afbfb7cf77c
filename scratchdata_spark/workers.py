"""Worker pool: drains the queue, executes insert/copy jobs (A11).

Reference flow (``workers/workers.go:87-127``): download file →
CreateEmptyTable → CreateColumns (whole-file type inference) →
InsertFromNDJsonFile → delete file + queue row. Here the three
destination calls are one, ``Destination.insert_ndjson``, which infers
the file's types once and writes atomically. Failures release the
claim (at-least-once; inserts replay — the reference has the same
property).

Spark note: jobs are submitted from these driver threads; Spark's
scheduler runs them concurrently across the cluster, so worker
``count`` is about job-submission parallelism, not compute.
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections import deque

from scratchdata_spark.config import WorkersConfig
from scratchdata_spark.copy import copy_data
from scratchdata_spark.engine import Destination
from scratchdata_spark.queue import Message, Queue


class WorkerPool:
    def __init__(
        self,
        queue: Queue,
        destinations: dict[str, Destination],
        config: WorkersConfig | None = None,
        blobstore=None,
    ):
        self.queue = queue
        self.destinations = destinations
        self.config = config or WorkersConfig()
        self.blobstore = blobstore  # BlobStore | None — fetch-by-key path
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        # bounded: a retrying poison message must not grow memory forever
        self.errors: deque[str] = deque(maxlen=200)

    # ------------------------------------------------------------- jobs
    def process(self, msg: Message) -> None:
        if msg.type == "insert_data":
            self._process_insert(msg.payload)
        elif msg.type == "copy_data":
            self._process_copy(msg.payload)
        else:
            raise ValueError(f"unknown message type: {msg.type}")

    def _process_insert(self, p: dict) -> None:
        dest = self.destinations[p.get("database", "default")]
        table = p["table"]
        # Reference flow (workers.go:87-127): download from the blob
        # store, insert, delete the blob on success (failure leaves it
        # for the at-least-once retry). A local store short-circuits
        # the download via the direct path in the payload.
        key, path, tmp = p.get("key"), p.get("path"), None
        if path is None and key is not None and self.blobstore is not None:
            tmp = path = tempfile.mktemp(suffix=".ndjson", prefix="sd-ingest-")
            self.blobstore.get_file(key, path)
        try:
            # single atomic call: schema registration + data write under
            # the per-table lock (concurrent batches can't interleave)
            dest.insert_ndjson(table, path)
        finally:
            if tmp is not None and os.path.exists(tmp):
                os.remove(tmp)
        if key is not None and self.blobstore is not None:
            self.blobstore.delete(key)
        elif path is not None and os.path.exists(path):
            os.remove(path)
        # opportunistic small-file compaction: once the table's current
        # generation has accumulated auto_compact_files micro-batches,
        # fold them into ~target-size files (engine.compact_table docs).
        # The batch is stored and its file gone: a compaction error is
        # recorded, never turned into a retry of the batch.
        limit = self.config.auto_compact_files
        if (
            limit > 0
            and hasattr(dest, "compact_table")
            and dest.file_count(table) >= limit
        ):
            try:
                dest.compact_table(table, min_files=limit)
            except Exception as e:  # noqa: BLE001
                self.errors.append(f"compact {table}: {e}")

    def _process_copy(self, p: dict) -> None:
        src = self.destinations[p["source"]]
        dst = self.destinations[p["destination"]]
        copy_data(src, p["query"], dst, p["table"], self.config)

    # ------------------------------------------------------------- loop
    def _handle(self, msg: Message) -> bool:
        """Run one claimed job: complete it, or record the error and
        hand it to ``queue.fail`` (retried, dead-lettered after
        ``max_attempts`` with its batch file kept). True on success."""
        try:
            self.process(msg)
            self.queue.complete(msg.id)
            return True
        except Exception as e:  # noqa: BLE001 — job errors must not kill the pool
            self.errors.append(f"{msg.type}#{msg.id}: {e}")
            self.queue.fail(msg.id, str(e))
            return False

    def _run(self) -> None:
        while not self._stop.is_set():
            msg = self.queue.dequeue()
            if msg is None or not self._handle(msg):
                self._stop.wait(self.config.dequeue_timeout_seconds)

    def start(self) -> None:
        for _ in range(self.config.count):
            t = threading.Thread(target=self._run, daemon=True)
            t.start()
            self._threads.append(t)

    def stop(self) -> None:
        self._stop.set()
        for t in self._threads:
            t.join(timeout=10)

    def drain(self) -> None:
        """Synchronously process everything queued (tests/shutdown). A
        failed job is retried within the same drain until it succeeds
        or is dead-lettered, so the drain ends."""
        while (msg := self.queue.dequeue()) is not None:
            self._handle(msg)
