"""End-to-end benchmark of the scratch-spark HTTP gateway.

    python3 gateway_bench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The script starts the real app
(``app_proc.py``: ``get_spark`` → ``service.build_app`` → ``ApiServer``
on loopback) over a fresh root under ``.bench_run/`` and drives it
through HTTP from this process, the load generator. Every workload is a
closed loop: each client sends its next request only after the reply
to the previous one. All inputs come from ``workloads.py`` and the
seed; every answer is checked, and a wrong one counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a
single-client run: an untraced half, then a half with the layer
wrappers of ``spans.py`` installed; it prints the per-layer metrics
plus ``overhead.<metric>``, the traced half minus the untraced half.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The workloads, the metric
definitions and the layer → end-to-end map are in ``README.md``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import quote

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

API_KEY = "bench-key"  # app_proc.py configures the same key
DEADLINE_S = 170  # the whole run, set-up and checks included

# Data sizes per --scale. The query tables fit the OS page cache many
# times over; "tiny" is the self-test's.
SCALES = {
    "full": {"interactive_events": 20_000, "users": 2_000, "pool": 20,
             "drain_rows": 2_000, "ingest_warm_batches": 6,
             "drain_rounds": 5, "drain_round_docs": 10_000},
    "tiny": {"interactive_events": 4_000, "users": 500, "pool": 10,
             "drain_rows": 500, "ingest_warm_batches": 2,
             "drain_rounds": 2, "drain_round_docs": 500},
}
CLIENTS = {"ingest": 2, "query_interactive": 4}
LOAD_BATCH_DOCS = 1_000  # documents per POST while loading the query tables


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- the app


class AppProcess:
    """The gateway in a child process (its own process group, so the
    JVM it launches is stopped with it)."""

    def __init__(self, checkout: str, run_dir: str):
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = checkout + os.pathsep + env.get("PYTHONPATH", "")
        env["TMPDIR"] = os.path.join(run_dir, "tmp")
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        env.setdefault("PYSPARK_PYTHON", sys.executable)
        r, w = os.pipe()
        self.log_path = os.path.join(run_dir, "app.log")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "app_proc.py"),
             "--root", run_dir, "--reply-fd", str(w)],
            cwd=run_dir, env=env, stdin=subprocess.PIPE, stdout=self._log,
            stderr=self._log, pass_fds=(w,), start_new_session=True,
        )
        os.close(w)
        self._replies = os.fdopen(r, "r")
        self._lock = threading.Lock()
        try:
            hello = self._read()
        except BaseException:
            kill_group(self.proc.pid)
            self._log.close()
            raise
        self.port, self.pid = hello["port"], hello["pid"]
        self.jvm_pid = None
        print(f"app up: spark {hello['spark_s']:.2f} s, build_app {hello['build_app_s']:.2f} s",
              file=sys.stderr)

    def _read(self) -> dict:
        line = self._replies.readline()
        if not line:
            raise RuntimeError("app process exited; log tail:\n" + self.log_tail())
        return json.loads(line)

    def call(self, op: str, **kwargs) -> dict:
        with self._lock:
            self.proc.stdin.write((json.dumps({"op": op, **kwargs}) + "\n").encode())
            self.proc.stdin.flush()
            return self._read()

    def log_tail(self, n: int = 4000) -> str:
        with open(self.log_path, "rb") as f:
            return f.read()[-n:].decode(errors="replace")

    def rss_mb(self) -> tuple[float, float]:
        """(python driver RSS, JVM RSS) in MB."""
        if self.jvm_pid is None:
            self.jvm_pid = next((p for p in _descendants(self.pid) if _comm(p) == "java"), None)
        jvm = _rss_kb(self.jvm_pid) if self.jvm_pid is not None else 0
        return _rss_kb(self.pid) / 1024.0, jvm / 1024.0

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call("stop")
                self.proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the kill
            pass
        kill_group(self.proc.pid)
        self._log.close()


def kill_group(pgid: int) -> None:
    """Stop every process of the group and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(100):
            try:
                os.waitpid(pgid, os.WNOHANG)
            except ChildProcessError:
                pass
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


# ------------------------------------------------------------------ HTTP


class Client:
    """One keep-alive connection to the gateway; every request it makes
    is added to ``window``'s HTTP totals."""

    def __init__(self, port: int, window: "Window | None" = None):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.window = window

    def request(self, method: str, path: str, body: bytes | None = None):
        """→ (seconds, status, body bytes)."""
        t0 = time.perf_counter()
        self.conn.request(method, path, body=body,
                          headers={"Content-Type": "application/json"} if body else {})
        resp = self.conn.getresponse()
        data = resp.read()
        secs = time.perf_counter() - t0
        if self.window is not None:
            with self.window.lock:
                self.window.http_n += 1
                self.window.http_s += secs
                if method == "GET":
                    self.window.queries += 1
                    self.window.query_bytes += len(data)
        return secs, resp.status, data

    def insert(self, table: str, body: bytes, style: str):
        return self.request(
            "POST", f"/api/data/insert/{table}?api_key={API_KEY}&flatten={style}", body)

    def query(self, text: str, fmt: str = "json"):
        return self.request(
            "GET", f"/api/data/query?api_key={API_KEY}&format={fmt}&query={quote(text)}")

    def count(self, table: str) -> int:
        _, status, data = self.query(f"SELECT count(*) AS n FROM {table}")
        if status != 200:
            raise RuntimeError(f"count probe: HTTP {status} {data[:200]!r}")
        return json.loads(data)[0]["n"]

    def close(self) -> None:
        self.conn.close()


# --------------------------------------------------------------- measures


@dataclass
class Window:
    """What one timed window observed (shared by its client threads)."""
    latencies: list = field(default_factory=list)
    visible: list = field(default_factory=list)
    drain_rates: list = field(default_factory=list)  # rows/s of each timed drain round
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    reasons: list = field(default_factory=list)
    peak_rss: float = 0.0
    peak_py: float = 0.0
    peak_jvm: float = 0.0
    elapsed: float = 0.0
    http_n: int = 0  # every HTTP request, probes included
    http_s: float = 0.0
    queries: int = 0
    query_bytes: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def ok(self, seconds: float, rows: int) -> None:
        with self.lock:
            self.attempted += 1
            self.latencies.append(seconds)
            self.rows += rows

    def fail(self, reason: str) -> None:
        self.check(False, reason)

    def check(self, passed: bool, reason: str) -> None:
        """One attempted check that is not a timed request."""
        with self.lock:
            self.attempted += 1
            if not passed:
                self.failed += 1
                if len(self.reasons) < 20:
                    self.reasons.append(reason)


def run_window(app: AppProcess, seconds: float, workers, window: Window) -> None:
    """Run ``workers`` (callables taking the stop event) for ``seconds``
    while this thread samples the app's memory; in-flight requests
    complete and are counted."""
    stop = threading.Event()
    errors = []

    def guard(fn):
        try:
            fn(stop)
        except Exception as err:  # noqa: BLE001 — surfaced below
            errors.append(err)
            stop.set()

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in workers]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    while not stop.wait(0.1):
        py, jvm = app.rss_mb()
        window.peak_py, window.peak_jvm = max(window.peak_py, py), max(window.peak_jvm, jvm)
        window.peak_rss = max(window.peak_rss, py + jvm)
        if time.perf_counter() - t0 >= seconds:
            stop.set()
    for t in threads:
        t.join()
    window.elapsed = time.perf_counter() - t0
    if errors:
        raise errors[0]


def pct(values: list[float], q: int) -> float:
    """Interpolated q-th percentile."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# ---------------------------------------------------------------- loading


def encode(docs: list[dict]) -> list[bytes]:
    """POST bodies for loading ``docs`` (made before set-up is timed)."""
    return [json.dumps(docs[i:i + LOAD_BATCH_DOCS]).encode()
            for i in range(0, len(docs), LOAD_BATCH_DOCS)]


def in_parallel(fn, parts: list) -> None:
    """``fn(part)`` on one thread per part; re-raises the first error."""
    errors = []

    def guard(part):
        try:
            fn(part)
        except Exception as err:  # noqa: BLE001 — re-raised below
            errors.append(err)

    threads = [threading.Thread(target=guard, args=(p,)) for p in parts]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def load_tables(app: AppProcess, tables: dict[str, tuple[list[bytes], int]]
                ) -> tuple[int, float]:
    """POST every body through the ingest path (two connections), drain
    once and check that each table shows every row. ``tables`` maps a
    name to (bodies, documents). → (JSON bytes posted, seconds from the
    drain's start to the last probe's answer)."""
    jobs = [(t, b) for t, (bodies, _) in tables.items() for b in bodies]

    def send(mine):
        cl = Client(app.port)
        try:
            for table, body in mine:
                _, status, data = cl.insert(table, body, "horizontal")
                if status != 200:
                    raise RuntimeError(f"load {table}: HTTP {status} {data[:200]!r}")
        finally:
            cl.close()

    in_parallel(send, [jobs[0::2], jobs[1::2]])
    t0 = time.perf_counter()
    app.call("drain")
    cl = Client(app.port)
    try:
        for table, (_, n_docs) in tables.items():
            n = cl.count(table)
            if n != n_docs:
                raise RuntimeError(f"load {table}: {n} rows visible for {n_docs} documents")
    finally:
        cl.close()
    return sum(len(b) for _, b in jobs), time.perf_counter() - t0


class DrainRounds:
    """The write-behind path on its own, after the traced half: each round
    POSTs one body of ``docs`` event documents to a table of its own,
    runs ``App.drain()`` with no other request in flight, and probes
    ``count(*)`` once all rounds are done. The first round of each
    window is not timed (the first one creates the table). Every timed
    round moves the same rows alone, unlike the drains inside the
    ``ingest`` window, which share the app with the POST clients; the
    median round is reported, since single rounds vary by ±20%."""

    table = "drain_probe"  # left out of the storage figures

    def __init__(self, run, rounds: int, docs: int):
        self.run = run
        self.docs = docs
        # its own seed, so these rows are not the query tables' rows
        all_docs, _ = W.event_docs(run.seed + 1, (rounds + 1) * docs)
        self.bodies = [json.dumps(all_docs[i:i + docs]).encode()
                       for i in range(0, len(all_docs), docs)]
        self.sent = 0  # documents acknowledged so far, over all windows

    def after(self, app, w: Window) -> None:
        """Run every round; the timed ones add their rate to ``w``."""
        # a full collection first, so none left over from the window's
        # garbage lands in a timed round
        app.call("gc")
        cl = Client(app.port, w)
        try:
            for i, body in enumerate(self.bodies):
                _, status, data = cl.insert(self.table, body, "horizontal")
                w.check(status == 200, f"drain round: HTTP {status} {data[:200]!r}")
                if status == 200:
                    self.sent += self.docs
                drain_s = app.call("drain")["drain_s"]
                if i:
                    w.drain_rates.append(self.docs / drain_s)
            try:
                n = cl.count(self.table)
            except RuntimeError:  # a failed probe is a failed check
                n = None
            if self.run.corrupt():
                n = -1
            w.check(n == self.sent, f"drain rounds: {n} rows visible, {self.sent} sent")
        finally:
            cl.close()


# -------------------------------------------------------------- workloads


class Ingest:
    """``ingest``: clients POST 100-document batches; one thread drains
    (``App.drain()`` via the app process) each time another
    ``drain_rows`` × clients rows are acknowledged, then probes
    ``count(*)`` over HTTP. Once the clients stop, one more drain moves
    the window's last rows, so every window drains exactly the rows it
    acknowledged."""

    table = "events"

    def __init__(self, run):
        self.run = run
        self.stream = W.IngestStream(run.seed)
        self.next_batch = 0
        self.sent_rows = 0
        self.acked = {"rows": 0, "amount": 0, "users": 0, "docs": 0}
        self.posted_bytes = 0
        self.stored_ratio = 0.0
        self.cv = threading.Condition()

    def setup(self, app) -> None:
        """A few batches and one drain: creates the table and warms the
        write path (the first Spark job of a fresh JVM is the slowest)."""
        w = Window()
        cl = Client(app.port)
        try:
            for _ in range(self.run.scale["ingest_warm_batches"]):
                self._post(cl, w)
            self._drain_probe(app, cl, w)
        finally:
            cl.close()
        if w.failed:
            raise RuntimeError(f"ingest warm-up failed: {w.reasons}")

    def _post(self, client: Client, w: Window) -> None:
        with self.cv:
            k = self.next_batch
            self.next_batch += 1
        style, body, want = self.stream.batch(k)
        with self.cv:
            self.sent_rows += want["rows"]
        secs, status, data = client.insert(self.table, body, style)
        got = json.loads(data).get("rows") if status == 200 else None
        if self.run.corrupt():
            got = (got or 0) + 1
        with self.cv:
            if status == 200:
                # acknowledged rows are in the table whatever the
                # count says; the final checksum holds the program to it
                for key in self.acked:
                    self.acked[key] += want[key]
                self.posted_bytes += len(body)
            self.cv.notify_all()
        if got == want["rows"]:
            w.ok(secs, want["rows"])
        else:
            w.fail(f"batch {k}: HTTP {status}, {got} rows acknowledged, {want['rows']} sent")

    def _drain_probe(self, app, client: Client, w: Window) -> None:
        """Drain, then probe; one visibility sample is the time from the
        drain's start to the probe's answer."""
        with self.cv:
            floor = self.acked["rows"]
        t0 = time.perf_counter()
        app.call("drain")
        try:
            n = client.count(self.table)
        except RuntimeError:  # a failed probe is a failed check
            n = None
        w.visible.append(time.perf_counter() - t0)
        with self.cv:
            ceiling = self.sent_rows
        if self.run.corrupt():
            n = -1
        # every row acknowledged before the drain is visible; nothing
        # beyond what was sent is
        w.check(n is not None and floor <= n <= ceiling,
                f"probe saw {n} rows, acknowledged {floor}, sent {ceiling}")

    def window(self, app, seconds: float, clients: int) -> Window:
        w = Window()
        step = self.run.scale["drain_rows"] * clients

        def client_loop(stop):
            cl = Client(app.port, w)
            try:
                while not stop.is_set():
                    self._post(cl, w)
            finally:
                cl.close()

        def drainer(stop):
            cl = Client(app.port, w)
            try:
                while True:
                    with self.cv:
                        target = (self.acked["rows"] // step + 1) * step
                        while self.acked["rows"] < target and not stop.is_set():
                            self.cv.wait(0.05)
                    if stop.is_set():
                        return
                    self._drain_probe(app, cl, w)
            finally:
                cl.close()

        run_window(app, seconds, [client_loop] * clients + [drainer], w)
        app.call("drain")
        return w

    def finish(self, app, w: Window) -> None:
        """Exact checks once every client has stopped and the last
        window has drained."""
        cl = Client(app.port)
        try:
            _, status, data = cl.query(
                f"SELECT count(*) AS n, sum(amount_cents) AS a, sum(user_id) AS u, "
                f"count(DISTINCT event_id) AS d FROM {self.table}")
        finally:
            cl.close()
        want = [self.acked["rows"], self.acked["amount"], self.acked["users"],
                self.acked["docs"]]
        got = list(json.loads(data)[0].values()) if status == 200 else None
        w.check(got == want, f"final checksum {got} != generator {want}")
        stats = app.call("stats", skip=[DrainRounds.table])
        w.check(not (stats["dead_letters"] or stats["worker_errors"] or stats["queue_depth"]),
                f"pipeline: {stats}")
        self.stored_ratio = stats["parquet_bytes"] / max(1, self.posted_bytes)

    def writes(self, w: Window) -> dict:
        """The window's own drains."""
        return {"visible": w.visible, "stored_ratio": self.stored_ratio}


class Interactive:
    """``query_interactive``: small answers (≤100 rows, mostly JSON) to
    the seeded text mix of ``workloads.QueryMix``, checked against
    DuckDB running the same texts over the same rows. Its windows write
    nothing, so visibility and storage come from the set-up load."""

    def __init__(self, run):
        self.run = run
        s = run.scale
        docs, self.cols = W.event_docs(run.seed, s["interactive_events"])
        udocs, self.ucols = W.user_docs(run.seed, s["users"])
        self.tables = {"events": (encode(docs), len(docs)),
                       "users": (encode(udocs), len(udocs))}
        self.mix = W.QueryMix(run.seed, s["interactive_events"], pool_size=s["pool"])
        self.streams: dict = {}  # client → its QueryMix.stream
        self.seen: dict[str, dict[str, list]] = {}  # text → digest → rows
        # (window, text, digest, seconds, rows) of every answer; window
        # None: a warm-up answer
        self.answers: list[tuple[Window | None, str, str, float, int]] = []
        self.load_writes: dict = {}

    def setup(self, app) -> None:
        """Load both tables, then plan every pool text once."""
        posted, visible = load_tables(app, self.tables)
        self.load_writes = {"visible": [visible],
                            "stored_ratio": app.call("stats")["parquet_bytes"] / posted}
        w = Window()

        def warm(mine):
            cl = Client(app.port)
            try:
                for t in mine:
                    self._ask(cl, t, "json", w, warm=True)
            finally:
                cl.close()

        n = CLIENTS["query_interactive"]
        in_parallel(warm, [self.mix.pool[i::n] for i in range(n)])
        if w.failed:
            raise RuntimeError(f"interactive warm-up failed: {w.reasons}")

    def _ask(self, cl: Client, text: str, fmt: str, w: Window, warm: bool = False) -> None:
        secs, status, data = cl.query(text, fmt)
        if status != 200:
            w.fail(f"HTTP {status}: {data[:200]!r} for {text}")
            return
        try:
            rows = W.canonical(W.parse_rows(fmt, data))
        except ValueError as err:
            w.fail(f"{fmt} answer does not parse ({err}): {text}")
            return
        if self.run.corrupt():
            rows = rows + [["corrupt"]]
        d = W.digest(rows)
        # timed and counted once DuckDB has judged it (``finish``)
        with w.lock:
            self.seen.setdefault(text, {}).setdefault(d, rows)
            self.answers.append((None if warm else w, text, d, secs, len(rows)))

    def window(self, app, seconds: float, clients: int) -> Window:
        w = Window()

        def client_loop(i):
            if i not in self.streams:
                self.streams[i] = self.mix.stream(i)
            texts = self.streams[i]

            def loop(stop):
                cl = Client(app.port, w)
                try:
                    while not stop.is_set():
                        self._ask(cl, *next(texts), w)
                finally:
                    cl.close()
            return loop

        run_window(app, seconds, [client_loop(i) for i in range(clients)], w)
        return w

    def writes(self, w: Window) -> dict:
        return self.load_writes

    def finish(self, app, w: Window) -> None:
        """Compare every distinct answer with DuckDB on the same rows. A
        right one is counted as answered in its window, with its latency
        and rows; a wrong one as failed (a warm-up one in ``w``)."""
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        try:
            con.register("events", pa.table(self.cols))
            con.register("users", pa.table(self.ucols))
            verdict = {}
            for text, digests in self.seen.items():
                want = W.canonical(con.execute(text).fetchall())
                for d, rows in digests.items():
                    verdict[(text, d)] = W.same_rows(rows, want)
        finally:
            con.close()
        for win, text, d, secs, n_rows in self.answers:
            if verdict[(text, d)]:
                if win is not None:
                    win.ok(secs, n_rows)
            else:
                (win or w).fail(f"answer differs from DuckDB: {text}")


WORKLOADS = {"ingest": Ingest, "query_interactive": Interactive}


# -------------------------------------------------------------------- run


class Run:
    def __init__(self, args):
        self.seed = args.seed
        self.scale = SCALES[args.scale]
        self.corrupt_every = args.corrupt_every
        self.timing = False  # set once set-up is done
        self._answers = 0
        self._lock = threading.Lock()

    def corrupt(self) -> bool:
        """True for every ``--corrupt-every``-th answer after set-up
        (self-test only): the answer is altered before it is checked."""
        if not (self.corrupt_every and self.timing):
            return False
        with self._lock:
            self._answers += 1
            return self._answers % self.corrupt_every == 0


E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "ok_frac": "ratio", "rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "api_server.overhead_ms": "ms", "api_server.response_bytes": "bytes",
    "auth.resolve_ms": "ms",
    "flatten.us_per_doc": "us", "flatten.rows_per_doc": "count",
    "sink.write_ms": "ms", "sink.flush_ms": "ms", "sink.files_per_flush": "count",
    "queue.wait_ms": "ms", "queue.depth_max": "count", "workers.process_ms": "ms",
    "jtypes.infer_ms": "ms", "jtypes.infer_calls_per_batch": "count",
    "catalog.add_columns_ms": "ms", "engine.insert_ndjson_ms": "ms",
    "engine.parquet_files": "count",
    "dialect.prepare_ms": "ms", "dialect.prepare_calls_per_request": "count",
    "dialect.rewrite_ms": "ms", "dialect.fallback_ratio": "ratio",
    "engine.query_df_hit_ms": "ms", "engine.query_df_miss_ms": "ms",
    "engine.query_df_calls_per_request": "count", "engine.plan_cache_hit_ratio": "ratio",
    "engine.register_views_ms": "ms",
    "serialize.first_row_ms": "ms", "serialize.fetch_ms": "ms",
    "serialize.format_ms": "ms", "serialize.rows": "count", "serialize.bytes": "bytes",
    "spark.jobs_per_request": "count", "spark.tasks_per_request": "count",
    "driver.py_rss_mb": "MB", "driver.jvm_rss_mb": "MB",
    "visible_p50_ms": "ms", "drain_rows_per_s": "1/s",
}
# tracing is installed after set-up and changes no stored byte
OVERHEAD_UNITS = {f"overhead.{k}": u for k, u in E2E_UNITS.items()
                  if k not in ("setup_s", "stored_bytes_per_input_byte")}


def e2e_metrics(w: Window, writes: dict) -> dict[str, float]:
    """``writes``: visibility samples and storage ratio, of the window's
    drains (``ingest``) or of the set-up load (``query_interactive``)."""
    return {
        "ops_per_s": len(w.latencies) / w.elapsed,
        "latency_p50_ms": 1e3 * pct(w.latencies, 50),
        "latency_p90_ms": 1e3 * pct(w.latencies, 90),
        "ok_frac": 1.0 - w.failed / max(1, w.attempted),
        "rows_per_s": w.rows / w.elapsed,
        # too few drains per run to gate on: printed by the traced run only
        "visible_p50_ms": 1e3 * pct(writes["visible"], 50),
        "stored_bytes_per_input_byte": writes["stored_ratio"],
        "peak_rss_mb": w.peak_rss,
    }


def measure(args, checkout: str) -> dict:
    run = Run(args)
    wl = WORKLOADS[args.workload](run)  # inputs are made before the clock starts
    run_dir = os.path.join(checkout, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    app = None
    try:
        t0 = time.perf_counter()
        app = AppProcess(checkout, run_dir)
        wl.setup(app)
        setup_s = time.perf_counter() - t0
        print(f"set-up {setup_s:.2f} s", file=sys.stderr)
        run.timing = True
        if not args.trace:
            w = wl.window(app, args.seconds, min(CLIENTS[args.workload], nproc()))
            wl.finish(app, w)
            metrics = e2e_metrics(w, wl.writes(w))
            metrics["setup_s"] = setup_s
            units = E2E_UNITS
        else:
            w, metrics = traced_run(args, checkout, app, wl)
            units = {**LAYER_UNITS, **OVERHEAD_UNITS}
        if w.reasons:
            print("failures: " + "; ".join(w.reasons), file=sys.stderr)
        return {
            "correct": w.failed == 0,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    except Exception:
        if app is not None:
            print(app.log_tail(), file=sys.stderr)
        raise
    finally:
        if app is not None:
            app.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def traced_run(args, checkout: str, app: AppProcess, wl) -> tuple[Window, dict]:
    """One client: an untraced half, then a traced half, then the drain
    rounds; the traced half's spans go to
    ``.bench_out/spans-<workload>-<seed>.json``."""
    rounds = DrainRounds(wl.run, wl.run.scale["drain_rounds"],
                         wl.run.scale["drain_round_docs"])
    half = args.seconds / 2
    plain = wl.window(app, half, 1)
    app.call("trace")
    traced = wl.window(app, half, 1)
    spans_path = os.path.join(checkout, ".bench_out", f"spans-{args.workload}-{args.seed}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    report = app.call("report", spans_path=spans_path)
    # after the report, so the rounds' requests stay out of the layer figures
    drains = Window()
    rounds.after(app, drains)
    wl.finish(app, traced)
    a = e2e_metrics(plain, wl.writes(plain))
    b = e2e_metrics(traced, wl.writes(traced))
    print(json.dumps({"spans": report["spans"]}, indent=1), file=sys.stderr)

    out = dict(report["layers"])
    # client-side time of every request minus the time the app spent
    # inside Service for them, per request
    out["api_server.overhead_ms"] = (
        1e3 * (traced.http_s - report["service_s"]) / max(1, traced.http_n))
    out["serialize.bytes"] = traced.query_bytes / max(1, traced.queries)
    out["engine.parquet_files"] = float(
        app.call("stats", skip=[DrainRounds.table])["parquet_files"])
    out["spark.jobs_per_request"] = report["spark_jobs"]
    out["spark.tasks_per_request"] = report["spark_tasks"]
    out["driver.py_rss_mb"], out["driver.jvm_rss_mb"] = traced.peak_py, traced.peak_jvm
    out["visible_p50_ms"] = b["visible_p50_ms"]
    out["drain_rows_per_s"] = statistics.median(drains.drain_rates)
    for k in OVERHEAD_UNITS:
        out[k] = b[k[len("overhead."):]] - a[k[len("overhead."):]]
    # the result covers every check of the run
    for part in (plain, drains):
        traced.attempted += part.attempted
        traced.failed += part.failed
        traced.reasons += part.reasons
    return traced, out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="alter every N-th answer before checking it (self-test)")
    args = ap.parse_args()
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "scratchdata_spark", "service.py")):
        print("run from the root of a scratch-spark checkout", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, _expire)
    watchdog.daemon = True
    watchdog.start()
    # SIGTERM unwinds like an error, so the app is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = measure(args, checkout)
    watchdog.cancel()
    print(json.dumps(result))
    return 0


def _expire() -> None:
    print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
    for pid in _descendants(os.getpid()):
        kill_group(pid)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
