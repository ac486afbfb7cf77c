"""Outside-in span tracer for the app process of a traced run.

Nothing in ``scratchdata_spark`` is edited: each layer is timed by
replacing a public function at the place its caller looks the name
up — a module attribute the caller imports at call time
(``api_server.flatten``, ``engine.infer_types_file``,
``dialect.prepare_query_text``), or a method on the one instance the
app wires together (``service.insert``, ``sink.write_data``,
``dest.query_df``, …). Spans stay in memory until the run ends.

A span is ``[name, start, end, parent, request, busy]``: ``busy`` is
set for the row-fetch span, which covers many short waits spread
through its serializer call; self time counts only the waiting.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict

NAME, START, END, PARENT, REQ, BUSY = range(6)


class Tracer:
    def __init__(self, sc=None):
        self.spans: list[list] = []
        self.sc = sc  # SparkContext: per-request job groups when set
        self.counts: dict[str, float] = defaultdict(float)
        self.enqueued: dict[int, float] = {}
        self.queue_waits: list[float] = []
        self.depth = 0
        self.depth_max = 0
        self.requests: list[list] = []  # root spans: HTTP requests and drains
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> list:
        st = self._stack()
        parent = st[-1] if st else None
        span = [name, time.perf_counter(), None, parent, parent[REQ] if parent else None, None]
        self.spans.append(span)
        st.append(span)
        return span

    def close(self, span: list) -> None:
        span[END] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()

    def begin_request(self, kind: str) -> list:
        """Root span of one request; Spark jobs it submits from this
        thread are tagged with its id as job group."""
        span = self.open(kind)
        span[REQ] = f"{kind}-{next(self._ids)}"
        self.requests.append(span)
        if self.sc is not None:
            self.sc.setJobGroup(span[REQ], span[REQ])
        return span

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` by a spanning wrapper; ``after(span,
        args, result)`` may record counts from the call."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, args, result)
            return result

        setattr(owner, attr, traced)


def install(tracer: Tracer, app, dataframe_cls) -> None:
    """Wrap every layer of a built ``App`` (see the module doc)."""
    from scratchdata_spark import api_server, dialect, engine

    t = tracer
    service = app.service

    # api_server / auth: a request opens at key resolution (the first
    # call every authenticated route makes) and closes when the
    # handler reports it to the metrics registry.
    orig_resolve = service.keys.resolve

    def resolve(*args, **kwargs):
        if not any(s[NAME] == "request" for s in t._stack()):
            t.begin_request("request")
        span = t.open("auth.resolve")
        try:
            return orig_resolve(*args, **kwargs)
        finally:
            t.close(span)

    service.keys.resolve = resolve
    orig_observe = service.metrics.observe_request

    def observe_request(route, status, seconds, nbytes):
        st = t._stack()
        if st and st[0][NAME] == "request":
            root = st[0]
            del st[:]
            root[START] = time.perf_counter() - seconds
            root[END] = time.perf_counter()
            root[BUSY] = None
            t.counts["api_server.response_bytes"] += nbytes
            t.counts["requests"] += 1
            if route == "/api/data/query":
                t.counts["query_requests"] += 1
                root[NAME] = "request.query"
            else:
                root[NAME] = "request.insert"
        return orig_observe(route, status, seconds, nbytes)

    service.metrics.observe_request = observe_request
    for attr in ("insert", "validate_query", "query"):
        t.wrap(service, attr, f"service.{attr}")

    # flatten: counted per document
    def flat_count(span, args, result):
        t.counts["flatten.docs"] += 1
        t.counts["flatten.rows"] += len(result)

    t.wrap(api_server, "flatten", "flatten", flat_count)

    # sink
    t.wrap(app.sink, "write_data", "sink.write")

    def flush_count(span, args, result):
        t.counts["sink.flushes"] += 1
        t.counts["sink.files"] += result

    t.wrap(app.sink, "flush", "sink.flush", flush_count)

    # queue: wait from enqueue to the dequeue that claims the message
    orig_enqueue, orig_dequeue = app.queue.enqueue, app.queue.dequeue

    def enqueue(*args, **kwargs):
        mid = orig_enqueue(*args, **kwargs)
        with t._lock:
            t.enqueued[mid] = time.perf_counter()
            t.depth += 1
            t.depth_max = max(t.depth_max, t.depth)
        return mid

    def dequeue(*args, **kwargs):
        msg = orig_dequeue(*args, **kwargs)
        if msg is not None:
            with t._lock:
                sent = t.enqueued.pop(msg.id, None)
                if sent is not None:
                    t.queue_waits.append(time.perf_counter() - sent)
                    t.depth -= 1
        return msg

    app.queue.enqueue, app.queue.dequeue = enqueue, dequeue

    def batch_count(span, args, result):
        t.counts["workers.batches"] += 1

    t.wrap(app.workers, "process", "workers.process", batch_count)

    # jtypes / catalog / engine write path
    t.wrap(engine, "infer_types_file", "jtypes.infer")
    dest = service.destinations["default"]
    t.wrap(dest.catalog, "add_columns", "catalog.add_columns")
    t.wrap(dest, "insert_ndjson", "engine.insert_ndjson")

    # dialect bridge
    t.wrap(dialect, "prepare_query_text", "dialect.prepare")
    t.wrap(dialect, "rewrite", "dialect.rewrite")

    # engine read path: a plan-cache lookup whose build callback runs
    # is a miss; the query_df span is named after the outcome
    orig_get = dest.plan_cache.get

    def plan_get(key, build):
        span = t.open("engine.plan_cache")
        built = []

        def traced_build():
            built.append(True)
            return build()

        try:
            return orig_get(key, traced_build)
        finally:
            t.close(span)
            t.counts["plan_cache.lookups"] += 1
            t.counts["plan_cache.hits"] += not built
            parent = span[PARENT]
            if parent is not None and parent[NAME] == "engine.query_df":
                parent[NAME] = "engine.query_df.miss" if built else "engine.query_df.hit"

    dest.plan_cache.get = plan_get
    t.wrap(dest, "query_df", "engine.query_df")
    t.wrap(dest, "register_views", "engine.register_views")
    for fmt in ("json", "ndjson", "csv"):
        t.wrap(dest, f"query_{fmt}", "serialize")

    # row fetch: time blocked in the result iterator of the serializer
    orig_iter = dataframe_cls.toLocalIterator

    def to_local_iterator(self, *args, **kwargs):
        # a generator: this body first runs at the serializer's first
        # next(), on its thread, with the serializer span on top
        st = t._stack()
        owner = st[-1] if st else None
        span = t.open("serialize.fetch")
        t.close(span)  # placed in the tree now; interval set below
        t0 = time.perf_counter()
        it = orig_iter(self, *args, **kwargs)
        span[BUSY] = time.perf_counter() - t0
        rows = 0
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                span[END] = time.perf_counter()
                span[BUSY] += span[END] - t0
                t.counts["serialize.rows"] += rows
                return
            now = time.perf_counter()
            span[BUSY] += now - t0
            span[END] = now
            if rows == 0 and owner is not None:
                t.counts["serialize.first_row_s"] += now - owner[START]
            rows += 1
            yield row

    dataframe_cls.toLocalIterator = to_local_iterator

    # drains run on the control thread: one root span each
    orig_drain = app.drain

    def drain():
        root = t.begin_request("drain")
        try:
            orig_drain()
        finally:
            t.close(root)

    app.drain = drain


# ----------------------------------------------------------------- report


def self_times(spans: list[list]) -> dict[list, float]:
    """Self time of every span: duration minus its children's cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s[PARENT] is not None:
            kids[id(s[PARENT])].append(s)
    out = {}
    for s in spans:
        if s[END] is None:
            continue
        cover, last = 0.0, s[START]
        for c in sorted(kids.get(id(s), ()), key=lambda c: c[START]):
            if c[END] is None:
                continue
            if c[BUSY] is not None:
                cover += c[BUSY]
                continue
            lo, hi = max(c[START], last), min(c[END], s[END])
            if hi > lo:
                cover += hi - lo
                last = hi
        out[id(s)] = (s[END] - s[START]) - cover
    return out


def summarize(tracer: Tracer) -> dict:
    """Per-span-name totals plus the per-layer figures the benchmark
    prints (times in ms unless the name says otherwise)."""
    spans = [s for s in tracer.spans if s[END] is not None]
    selfs = self_times(spans)
    by_name: dict[str, dict] = defaultdict(lambda: {"n": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        d = by_name[s[NAME]]
        d["n"] += 1
        d["total_s"] += s[BUSY] if s[BUSY] is not None else s[END] - s[START]
        d["self_s"] += selfs[id(s)]
    c = tracer.counts

    def mean_ms(name, field="total_s"):
        d = by_name.get(name)
        return 1e3 * d[field] / d["n"] if d and d["n"] else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    qreq = c["query_requests"]
    serialize_n = by_name["serialize"]["n"] if "serialize" in by_name else 0
    fetch = by_name.get("serialize.fetch", {"total_s": 0.0})
    qdf_n = sum(by_name[n]["n"] for n in
                ("engine.query_df", "engine.query_df.hit", "engine.query_df.miss")
                if n in by_name)
    layers = {
        "api_server.response_bytes": ratio(c["api_server.response_bytes"], c["requests"]),
        "auth.resolve_ms": mean_ms("auth.resolve"),
        "flatten.us_per_doc": 1e6 * ratio(
            by_name["flatten"]["total_s"] if "flatten" in by_name else 0.0, c["flatten.docs"]),
        "flatten.rows_per_doc": ratio(c["flatten.rows"], c["flatten.docs"]),
        "sink.write_ms": mean_ms("sink.write"),
        "sink.flush_ms": mean_ms("sink.flush"),
        "sink.files_per_flush": ratio(c["sink.files"], c["sink.flushes"]),
        "queue.wait_ms": 1e3 * ratio(sum(tracer.queue_waits), len(tracer.queue_waits)),
        "queue.depth_max": float(tracer.depth_max),
        "workers.process_ms": mean_ms("workers.process"),
        "jtypes.infer_ms": mean_ms("jtypes.infer"),
        "jtypes.infer_calls_per_batch": ratio(
            by_name["jtypes.infer"]["n"] if "jtypes.infer" in by_name else 0,
            c["workers.batches"]),
        "catalog.add_columns_ms": mean_ms("catalog.add_columns"),
        "engine.insert_ndjson_ms": mean_ms("engine.insert_ndjson"),
        "dialect.prepare_ms": mean_ms("dialect.prepare"),
        "dialect.prepare_calls_per_request": ratio(
            by_name["dialect.prepare"]["n"] if "dialect.prepare" in by_name else 0, qreq),
        "dialect.rewrite_ms": mean_ms("dialect.rewrite"),
        "dialect.fallback_ratio": ratio(
            by_name["dialect.rewrite"]["n"] if "dialect.rewrite" in by_name else 0, qreq),
        "engine.query_df_hit_ms": mean_ms("engine.query_df.hit"),
        "engine.query_df_miss_ms": mean_ms("engine.query_df.miss"),
        "engine.query_df_calls_per_request": ratio(qdf_n, qreq),
        "engine.plan_cache_hit_ratio": ratio(c["plan_cache.hits"], c["plan_cache.lookups"]),
        "engine.register_views_ms": mean_ms("engine.register_views"),
        "serialize.first_row_ms": 1e3 * ratio(c["serialize.first_row_s"], serialize_n),
        "serialize.fetch_ms": 1e3 * ratio(fetch["total_s"], serialize_n),
        "serialize.format_ms": mean_ms("serialize", "self_s"),
        "serialize.rows": ratio(c["serialize.rows"], serialize_n),
    }
    service_s = sum(by_name[n]["total_s"] for n in
                    ("service.insert", "service.validate_query", "service.query")
                    if n in by_name)
    return {
        "layers": layers,
        "service_s": service_s,
        "requests": int(c["requests"]),
        "request_ids": [s[REQ] for s in tracer.requests if s[NAME] == "request.query"],
        "spans": {k: {"n": v["n"], "total_ms": 1e3 * v["total_s"],
                      "self_ms": 1e3 * v["self_s"]} for k, v in sorted(by_name.items())},
    }


def spark_jobs(sc, request_ids: list[str]) -> tuple[float, float]:
    """Mean Spark jobs and tasks per request, from the public status
    tracker (jobs carry their request's id as job group)."""
    if not request_ids:
        return 0.0, 0.0
    st = sc.statusTracker()
    jobs = tasks = 0
    for rid in request_ids:
        for jid in st.getJobIdsForGroup(rid):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
    return jobs / len(request_ids), tasks / len(request_ids)


def dump_spans(tracer: Tracer) -> list[dict]:
    """Every span as a JSON-ready record (parent by index)."""
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    out = []
    for s in tracer.spans:
        out.append({
            "name": s[NAME], "start": s[START], "end": s[END],
            "parent": index.get(id(s[PARENT])) if s[PARENT] is not None else None,
            "request": s[REQ], "busy": s[BUSY],
        })
    return out
