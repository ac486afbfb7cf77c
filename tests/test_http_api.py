"""End-to-end HTTP round trips (FIXTURES.md §4.3, mirroring the
reference's clickhouse_test.go e2e): POST JSON → drain → query in all
three formats; schema evolution; share links; auth; copy."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from scratchdata_spark.config import Config
from scratchdata_spark.service import build_app


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("app")
    cfg = Config(api_keys={"local": "default", "teamb": "teamb"}, admin_key="admin")
    cfg.sink.max_file_age_seconds = 3600  # manual drain in tests
    a = build_app(spark, cfg, str(root))
    a.server.start()  # no tickers: tests drain explicitly
    yield a
    a.server.stop()


def _req(app, method, path, body=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{app.port}{path.replace(' ', '%20')}",
        data=json.dumps(body).encode() if body is not None else None,
        method=method,
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_healthcheck(app):
    code, body = _req(app, "GET", "/healthcheck")
    assert code == 200 and json.loads(body) == {"status": "ok"}


def test_duckdb_dialect_text_through_http(app):
    """A reference user's saved DuckDB-dialect query (// division,
    QUALIFY) runs unchanged through the public query endpoint — the
    engine falls back to the dialect rewriter after stock Spark
    rejects the text."""
    code, body = _req(
        app,
        "POST",
        "/api/data/insert/dlct?api_key=local",
        [{"g": 1, "v": 10}, {"g": 1, "v": 20}, {"g": 2, "v": 30}],
    )
    assert code == 200
    app.drain()
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&query="
        "select v // 10 as tens from dlct order by tens",
    )
    assert code == 200 and [r["tens"] for r in json.loads(body)] == [1, 2, 3]
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&query="
        "select g, v from dlct qualify row_number() over"
        " (partition by g order by v) = 1 order by g",
    )
    assert code == 200
    assert [(r["g"], r["v"]) for r in json.loads(body)] == [(1, 10), (2, 30)]


def test_concurrent_requests_share_cached_plan(app):
    """Eight clients repeat one cached text, so every request after the
    first is written from the answer its plan-cache entry kept, from
    its own thread: every body is identical, none fails, and the
    plan cache counts each of them as a hit and an answer hit."""
    import sys
    import threading
    import urllib.parse

    rows = [{"g": i % 4, "v": None if i % 5 == 0 else i} for i in range(40)]
    code, _ = _req(app, "POST", "/api/data/insert/conc?api_key=local", rows)
    assert code == 200
    app.drain()
    sql = "select g, count(*) as n, sum(v) as s from conc group by g order by g"
    path = "/api/data/query?api_key=local&query=" + urllib.parse.quote(sql)
    code, expected = _req(app, "GET", path)
    assert code == 200 and len(json.loads(expected)) == 4

    counts = app.service.destinations["default"].plan_cache.counts
    before = dict(counts)
    results = []

    def client():
        for _ in range(10):
            results.append(_req(app, "GET", path))

    threads = [threading.Thread(target=client) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 80
    assert all(code < 500 for code, _ in results)
    assert {body for _, body in results} == {expected}
    assert counts == {
        "hits": before["hits"] + 80,
        "misses": before["misses"],
        "answer_hits": before["answer_hits"] + 80,
    }


def test_insert_query_roundtrip_and_evolution(app):
    code, body = _req(
        app, "POST", "/api/data/insert/evolve?api_key=local", {"msg": "hello world"}
    )
    assert code == 200 and json.loads(body)["rows"] == 1
    app.drain()

    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query=select __row_id, msg from evolve"
    )
    rows = json.loads(body)
    assert code == 200 and len(rows) == 1
    assert rows[0]["msg"] == "hello world" and rows[0]["__row_id"] > 0

    # second batch adds columns; int+float widen to double in-batch
    code, body = _req(
        app,
        "POST",
        "/api/data/insert/evolve?api_key=local",
        [{"msg": "second", "n": 1}, {"n": 2.5, "flag": True}],
    )
    assert code == 200 and json.loads(body)["rows"] == 2
    app.drain()

    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&query=select msg, n, flag from evolve order by __row_id",
    )
    rows = json.loads(body)
    assert [r.get("n") for r in rows] == [None, 1.0, 2.5]
    assert rows[2]["flag"] is True and rows[2]["msg"] is None

    # ndjson + csv formats
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&format=ndjson&query=select msg, n from evolve order by __row_id",
    )
    assert code == 200 and len(body.strip().split("\n")) == 3
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&format=csv&query=select msg, n from evolve order by __row_id",
    )
    lines = body.strip().split("\r\n")
    assert lines[0] == "msg,n" and len(lines) == 4
    assert lines[1] == "hello world,null"  # nulls render as "null"


def test_vertical_flatten_ingest(app):
    doc = {"user": "u1", "items": [{"sku": "a"}, {"sku": "b"}]}
    code, body = _req(
        app, "POST", "/api/data/insert/vert?api_key=local&flatten=vertical", doc
    )
    assert code == 200 and json.loads(body)["rows"] == 2
    app.drain()
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&query="
        "select items_sku, __order_items from vert order by __order_items",
    )
    rows = json.loads(body)
    assert [r["items_sku"] for r in rows] == ["a", "b"]
    assert [r["__order_items"] for r in rows] == [0, 1]


def test_multitable_flatten_ingest(app):
    doc = {"order_name": "o1", "lines": [{"sku": "x", "qty": 2}]}
    code, _ = _req(
        app, "POST", "/api/data/insert/mt?api_key=local&flatten=multitable", doc
    )
    assert code == 200
    app.drain()
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=local&query="
        "select m.order_name, l.sku, l.qty from mt m join lines l on l.mt_id = m.id",
    )
    rows = json.loads(body)
    assert rows == [{"order_name": "o1", "sku": "x", "qty": 2}]


def test_auth_and_isolation(app):
    code, _ = _req(app, "GET", "/api/data/query?query=select 1 as x")
    assert code == 401
    code, _ = _req(app, "GET", "/api/data/query?api_key=wrong&query=select 1 as x")
    assert code == 401
    # teamb cannot see default's tables
    code, body = _req(
        app, "GET", "/api/data/query?api_key=teamb&query=select * from evolve"
    )
    assert code == 500 and "evolve" in json.loads(body)["error"]
    # admin key impersonates via destination_id
    code, body = _req(
        app,
        "GET",
        "/api/data/query?api_key=admin&destination_id=default&query=select count(*) as n from evolve",
    )
    assert code == 200 and json.loads(body) == [{"n": 3}]


def test_tables_and_columns(app):
    code, body = _req(app, "GET", "/api/tables?api_key=local")
    assert code == 200 and "evolve" in json.loads(body)
    code, body = _req(app, "GET", "/api/tables/evolve/columns?api_key=local")
    cols = {c["name"]: c["type"] for c in json.loads(body)}
    assert cols["n"] == "double" and cols["flag"] == "boolean"


def test_share_links(app):
    code, body = _req(
        app,
        "POST",
        "/api/data/query/share?api_key=local",
        {"name": "s1", "query": "select msg from evolve order by __row_id", "duration": 3600},
    )
    assert code == 200
    uid = json.loads(body)["id"]
    code, body = _req(app, "GET", f"/share/{uid}/data.json")
    assert code == 200 and json.loads(body)[0]["msg"] == "hello world"
    code, body = _req(app, "GET", f"/share/{uid}/data.csv")
    assert code == 200 and body.startswith("msg")
    code, _ = _req(app, "GET", "/share/00000000-0000-0000-0000-000000000000/data.json")
    assert code == 404


def test_share_expiry(app):
    code, body = _req(
        app,
        "POST",
        "/api/data/query/share?api_key=local",
        {"name": "s2", "query": "select 1", "duration": -1},
    )
    uid = json.loads(body)["id"]
    code, _ = _req(app, "GET", f"/share/{uid}/data.json")
    assert code == 404  # expired == missing


def test_copy_endpoint(app):
    code, body = _req(
        app,
        "POST",
        "/api/data/copy?api_key=local",
        {"query": "select msg, n from evolve", "destination_id": "teamb",
         "destination_table": "copied"},
    )
    assert code == 200 and "job_id" in json.loads(body)
    app.drain()
    code, body = _req(
        app, "GET", "/api/data/query?api_key=teamb&query=select count(*) as n from copied"
    )
    assert code == 200 and json.loads(body) == [{"n": 3}]


def test_insert_errors(app):
    code, body = _req(app, "POST", "/api/data/insert/bad?api_key=local")
    assert code == 400
    req = urllib.request.Request(
        f"http://127.0.0.1:{app.port}/api/data/insert/bad?api_key=local",
        data=b"not json{{",
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400
    code, _ = _req(app, "POST", "/api/data/insert/bad?api_key=local", [1, 2, 3])
    assert code == 400  # scalar array elements are not documents


def test_rejected_insert_writes_nothing(app):
    """A request with one non-object element is refused whole: the
    documents before it are not buffered, so no drain creates the
    table."""
    code, _ = _req(
        app, "POST", "/api/data/insert/rejected?api_key=local",
        [{"a": 1}, {"a": 2}, 5],
    )
    assert code == 400
    app.drain()
    code, body = _req(app, "GET", "/api/tables?api_key=local")
    assert code == 200 and "rejected" not in json.loads(body)


def test_keepalive_requests_are_not_delayed(app):
    """On one keep-alive connection, small responses are not held back
    by Nagle until the client's delayed ACK (about 40 ms): the server's
    sockets are TCP_NODELAY."""
    import http.client
    import statistics
    import time

    conn = http.client.HTTPConnection("127.0.0.1", app.port, timeout=60)

    def median_ms(method, path, body=None):
        times = []
        for _ in range(20):
            t0 = time.perf_counter()
            conn.request(method, path, body=body)
            resp = conn.getresponse()
            resp.read()
            times.append((time.perf_counter() - t0) * 1000)
            assert resp.status == 200
        return statistics.median(times)

    try:
        health = median_ms("GET", "/healthcheck")
        insert = median_ms(
            "POST", "/api/data/insert/keepalive?api_key=local", b'{"a": 1}'
        )
    finally:
        conn.close()
    assert health < 20 and insert < 20, (health, insert)


def test_query_response_is_chunked(app):
    """Large results stream with chunked framing and no Content-Length
    (bounded driver memory — VERDICT r1 'What's wrong' #2)."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", app.port, timeout=60)
    conn.request(
        "GET",
        "/api/data/query?api_key=local&query="
        "select%20__row_id,%20msg%20from%20evolve",
    )
    r = conn.getresponse()
    assert r.status == 200
    assert r.getheader("Transfer-Encoding") == "chunked"
    assert r.getheader("Content-Length") is None
    rows = json.loads(r.read().decode())
    assert len(rows) == 3
    conn.close()


def test_query_error_before_headers(app):
    """Analysis errors still produce a clean 500 JSON body, not an
    aborted chunked stream."""
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query=select * from nope_missing"
    )
    assert code == 500 and "error" in json.loads(body)
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query=selectx bogus"
    )
    assert code == 500


def test_query_error_mid_stream_is_logged(app, monkeypatch, caplog):
    """A failure after the 200 headers can only abort the chunked
    body, so the server logs it with its traceback."""
    import http.client

    from scratchdata_spark.api_server import Service

    def fail_after_one_row(self, dest, query, fmt, out):
        out.write('[{"pad": "' + "x" * (70 * 1024) + '"}')  # one chunk
        raise RuntimeError("boom mid-stream")

    monkeypatch.setattr(Service, "query", fail_after_one_row)
    conn = http.client.HTTPConnection("127.0.0.1", app.port, timeout=60)
    try:
        conn.request("GET", "/api/data/query?api_key=local&query=select%201")
        r = conn.getresponse()
        assert r.status == 200
        with pytest.raises(http.client.IncompleteRead) as e:
            r.read()
    finally:
        conn.close()
    assert e.value.partial.startswith(b'[{"pad": "xxx')
    assert any(
        rec.name == "scratchdata_spark.api_server"
        and rec.exc_info
        and "boom mid-stream" in str(rec.exc_info[1])
        for rec in caplog.records
    )


def test_admin_unknown_destination_rejected(app):
    """ADVICE fix: admin key + unknown destination_id must 401, not
    crash the handler or enqueue poison jobs."""
    code, _ = _req(
        app,
        "GET",
        "/api/data/query?api_key=admin&destination_id=nope&query=select 1 as x",
    )
    assert code == 401
    code, _ = _req(app, "GET", "/api/tables?api_key=admin&destination_id=nope")
    assert code == 401


def test_destination_and_key_crud(app):
    """Multi-tenant onboarding (reference pkg/api/destinations.go):
    admin creates a destination, mints a key, and the key holder can
    insert + query in their own namespace."""
    # non-admin refused
    code, _ = _req(app, "POST", "/api/destinations?api_key=local",
                   {"name": "tenant1"})
    assert code == 401
    code, body = _req(app, "POST", "/api/destinations?api_key=admin",
                      {"name": "tenant1", "type": "spark"})
    assert code == 200 and json.loads(body) == {"name": "tenant1", "type": "spark"}
    # duplicate name rejected
    code, _ = _req(app, "POST", "/api/destinations?api_key=admin",
                   {"name": "tenant1"})
    assert code == 400
    # listing includes it
    code, body = _req(app, "GET", "/api/destinations?api_key=admin")
    names = {d["name"] for d in json.loads(body)}
    assert {"tenant1", "default", "teamb"} <= names
    # mint a key, then use it end to end
    code, body = _req(app, "POST", "/api/destinations/tenant1/keys?api_key=admin")
    assert code == 200
    key = json.loads(body)["key"]
    code, _ = _req(app, "POST", f"/api/data/insert/tt?api_key={key}", {"v": 1})
    assert code == 200
    app.drain()
    code, body = _req(
        app, "GET", f"/api/data/query?api_key={key}&query=select v from tt"
    )
    assert code == 200 and json.loads(body) == [{"v": 1}]
    # key is scoped: cannot see default's tables
    code, _ = _req(
        app, "GET", f"/api/data/query?api_key={key}&query=select * from evolve"
    )
    assert code == 500
    # unknown destination for key minting
    code, _ = _req(app, "POST", "/api/destinations/nope/keys?api_key=admin")
    assert code == 404


def test_metrics_endpoint(app):
    """Prometheus text scrape (reference pkg/api/prometheus.go)."""
    _req(app, "GET", "/healthcheck")  # ensure at least one observation
    code, body = _req(app, "GET", "/metrics")
    assert code == 200
    assert "# TYPE latency histogram" in body
    assert 'latency_bucket{route="/healthcheck",status_code="200",le="+Inf"}' in body
    assert "# TYPE insert_bytes histogram" in body
    assert "insert_bytes_count" in body and "requests_total" in body
    # route labels are patterns, not raw paths (bounded cardinality)
    assert "/api/data/insert/{table}" in body


def test_metrics_plan_cache_counters(app):
    """/metrics counts plan-cache hits, misses and hits written from a
    kept answer per destination: a fresh text is a miss, and repeating
    it is a hit served from the answer the first request kept."""
    import re as _re
    import urllib.parse

    def counters():
        _, body = _req(app, "GET", "/metrics")
        out = {}
        for outcome in ("hits", "misses", "answer_hits"):
            name = f"plan_cache_{outcome}_total"
            assert f"# TYPE {name} counter" in body
            m = _re.search(rf'^{name}{{destination="default"}} (\d+)$', body, _re.M)
            out[outcome] = int(m.group(1))
        return out

    _req(app, "POST", "/api/data/insert/pcm?api_key=local", [{"v": 1}, {"v": 2}])
    app.drain()
    path = "/api/data/query?api_key=local&query=" + urllib.parse.quote(
        "select sum(v) as s from pcm"
    )
    before = counters()
    code, cold = _req(app, "GET", path)
    assert code == 200 and json.loads(cold) == [{"s": 3}]
    after_miss = counters()
    assert after_miss == {**before, "misses": before["misses"] + 1}
    code, warm = _req(app, "GET", path)
    assert code == 200 and warm == cold
    assert counters() == {
        **after_miss,
        "hits": after_miss["hits"] + 1,
        "answer_hits": after_miss["answer_hits"] + 1,
    }


def test_compact_route(app):
    """Admin maintenance endpoint folds micro-batch files."""
    for i in range(5):
        _req(app, "POST", "/api/data/insert/many?api_key=local", {"v": i})
        app.drain()  # one parquet file per drained batch
    code, _ = _req(app, "POST", "/api/tables/many/compact?api_key=local")
    assert code == 401  # non-admin refused
    code, body = _req(
        app, "POST",
        "/api/tables/many/compact?api_key=admin&destination_id=default&min_files=2",
    )
    assert code == 200
    out = json.loads(body)
    assert out["compacted"] is True and out["files_in"] >= 5
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=local&query=select count(*) as n from many",
    )
    assert json.loads(body) == [{"n": 5}]
    code, _ = _req(
        app, "POST",
        "/api/tables/nope/compact?api_key=admin&destination_id=default",
    )
    assert code == 404


def test_partitioning_route(app):
    """Admin declares partitioning on an empty table; subsequent
    inserts lay out hive dirs and partition predicates still work."""
    # create table + schema via one insert on a THROWAWAY table to get
    # the column registered? No — partitioning needs an empty table, so
    # pre-register via the destination directly.
    d = app.service.destinations["default"]
    d.create_empty_table("plogs")
    d.catalog.add_columns(d.database, "plogs", {"day": "string", "v": "int"})

    code, _ = _req(app, "POST", "/api/tables/plogs/partitioning?api_key=local&column=day")
    assert code == 401  # non-admin refused
    code, body = _req(
        app, "POST",
        "/api/tables/plogs/partitioning?api_key=admin&destination_id=default&column=day",
    )
    assert code == 200 and json.loads(body)["partition_col"] == "day"
    # unknown column refused
    code, _ = _req(
        app, "POST",
        "/api/tables/plogs/partitioning?api_key=admin&destination_id=default&column=nope",
    )
    assert code == 400
    for day, v in [("d0", 1), ("d1", 2)]:
        _req(app, "POST", f"/api/data/insert/plogs?api_key=local",
             {"day": day, "v": v})
    app.drain()
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=local&query=select v from plogs where day = 'd1'",
    )
    assert code == 200 and json.loads(body) == [{"v": 2}]
    # declaring on the now-non-empty table is refused
    code, _ = _req(
        app, "POST",
        "/api/tables/plogs/partitioning?api_key=admin&destination_id=default&column=v",
    )
    assert code == 400


def test_metrics_gauges(app):
    """Operational gauges sample live state at scrape time."""
    _req(app, "POST", "/api/data/insert/gtest?api_key=local", {"v": 1})
    app.sink.flush()  # enqueue without processing → depth rises
    code, body = _req(app, "GET", "/metrics")
    assert code == 200
    import re as _re

    depth = int(_re.search(r"^queue_depth (\d+)", body, _re.M).group(1))
    assert depth >= 1
    assert _re.search(r"^queue_dead_letters \d+", body, _re.M)
    assert _re.search(r"^worker_errors \d+", body, _re.M)
    app.drain()
    _, body = _req(app, "GET", "/metrics")
    assert int(_re.search(r"^queue_depth (\d+)", body, _re.M).group(1)) == 0


def test_format_param_case_insensitive(app):
    """format=CSV matches case-insensitively, unknown values default
    to JSON (reference data.go strings.ToLower switch)."""
    _req(app, "POST", "/api/data/insert/fmt?api_key=local", {"a": 1})
    app.drain()
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query=select a from fmt&format=CSV"
    )
    assert code == 200 and body.splitlines()[0] == "a"
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=local&query=select a from fmt&format=bogus",
    )
    assert code == 200 and json.loads(body) == [{"a": 1}]


def test_generations_introspection_route(app):
    code, _ = _req(app, "POST", "/api/data/insert/gtab?api_key=local", {"a": 1})
    assert code == 200
    app.drain()
    code, body = _req(app, "GET", "/api/tables/gtab/generations?api_key=local")
    assert code == 200 and json.loads(body) == [0]
    code, _ = _req(app, "GET", "/api/tables/nosuch/generations?api_key=local")
    assert code == 404


def test_compact_statement_admin_gated_over_http(app):
    """COMPACT TABLE through the query endpoint needs the admin key —
    same gate as the HTTP compact route (a query key must not trigger
    rewrites/generation flips); scripts can't hide one mid-batch."""
    code, _ = _req(app, "POST", "/api/data/insert/cg?api_key=local", {"a": 1})
    assert code == 200
    app.drain()
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=local&query=COMPACT TABLE cg MIN FILES 1",
    )
    assert code == 401 and "admin" in body
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=local&query="
        "SELECT 1 AS x; COMPACT TABLE cg MIN FILES 1",
    )
    assert code == 401 and "admin" in body
    # with the admin key it runs (below min_files here: no-op row)
    code, body = _req(
        app, "GET",
        "/api/data/query?api_key=admin&query=COMPACT TABLE cg MIN FILES 99",
    )
    assert code == 200 and json.loads(body)[0]["compacted"] is False


def _count_calls(monkeypatch, owner, attr, keep=lambda *a, **k: True):
    """Replace ``owner.attr`` by a pass-through that records the calls
    ``keep`` accepts; returns the record."""
    calls = []
    orig = getattr(owner, attr)

    def spy(*args, **kwargs):
        if keep(*args, **kwargs):
            calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, attr, spy)
    return calls


def test_select_is_prepared_and_looked_up_once(app, monkeypatch):
    """One HTTP SELECT prepares its text once and looks the plan cache
    up once, on the cold request (a miss) and on the warm one (a hit):
    the serializer writes the DataFrame validation built."""
    import urllib.parse

    from scratchdata_spark import dialect

    code, _ = _req(app, "POST", "/api/data/insert/once?api_key=local", [{"v": 1}, {"v": 2}])
    assert code == 200
    app.drain()
    dest = app.service.destinations["default"]
    prepares = _count_calls(monkeypatch, dialect, "prepare_query_text")
    lookups = _count_calls(monkeypatch, dest.plan_cache, "get")
    path = "/api/data/query?api_key=local&query=" + urllib.parse.quote(
        "select sum(v) as s from once"
    )
    for fmt in ("json", "json", "csv", "ndjson"):
        del prepares[:], lookups[:]
        code, body = _req(app, "GET", f"{path}&format={fmt}")
        assert code == 200 and "3" in body
        assert (len(prepares), len(lookups)) == (1, 1), fmt


@pytest.mark.parametrize(
    "sql", ["select current_timestamp() as t", "select rand() as r"]
)
def test_uncached_text_is_analyzed_once(app, monkeypatch, sql):
    """A text the plan cache refuses (it reads the clock or draws
    random values) reaches spark.sql and register_views once per
    request: validation's DataFrame is the one served."""
    import urllib.parse

    dest = app.service.destinations["default"]
    sqls = _count_calls(
        monkeypatch, dest.spark, "sql", lambda text, *a, **k: text == sql
    )
    registers = _count_calls(monkeypatch, dest, "register_views")
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query=" + urllib.parse.quote(sql)
    )
    assert code == 200 and len(json.loads(body)) == 1
    assert (len(sqls), len(registers)) == (1, 1)


def test_insert_statement_prepared_and_executed_once(app, monkeypatch):
    """An INSERT over HTTP is validated without side effects, then
    executed exactly once, from one preparation of its text."""
    import urllib.parse

    from scratchdata_spark import dialect, warehouse_dml

    code, _ = _req(app, "POST", "/api/data/insert/ins_once?api_key=local", {"a": 1})
    assert code == 200
    app.drain()
    prepares = _count_calls(monkeypatch, dialect, "prepare_query_text")
    executes = _count_calls(monkeypatch, warehouse_dml, "execute")
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query="
        + urllib.parse.quote("insert into ins_once (a) values (5)"),
    )
    assert code == 200 and body == '[{"count":1}]'
    assert (len(prepares), len(executes)) == (1, 1)
    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query="
        + urllib.parse.quote("select a from ins_once order by a"),
    )
    assert code == 200 and json.loads(body) == [{"a": 1}, {"a": 5}]


def test_jdbc_query_reads_remote_once_per_request(app, monkeypatch, spark):
    """A JDBC destination builds its DataFrame (a remote schema probe
    and query) once per request: validation's DataFrame is served."""
    from scratchdata_spark.jdbc_destination import JDBCDestination

    class ReaderSpy(JDBCDestination):
        def __init__(self, spark):
            super().__init__(spark, url="jdbc:fake://db")
            self.reads = []

        def _reader(self, *, query=None, dbtable=None, custom_schema=None):
            self.reads.append(query)
            return self.spark.sql("select 1 as a, 'x' as b")

    spy = ReaderSpy(spark)
    monkeypatch.setitem(app.service.destinations, "jdbc_spy", spy)
    path = "/api/data/query?api_key=admin&destination_id=jdbc_spy&query=select%20a,%20b%20from%20t;"
    for fmt, want in (
        ("json", '[{"a":1,"b":"x"}]'),
        ("ndjson", '{"a":1,"b":"x"}\n'),
        ("csv", "a,b\r\n1,x\r\n"),
    ):
        del spy.reads[:]
        code, body = _req(app, "GET", f"{path}&format={fmt}")
        assert (code, body) == (200, want)
        assert spy.reads == ["select a, b from t"]


def test_select_over_missing_table_at_is_not_unknown_destination(app):
    """A SELECT whose ``table_at`` names no table fails as that query's
    error, not as the 404 of an unknown destination."""
    import urllib.parse

    code, body = _req(
        app, "GET", "/api/data/query?api_key=local&query="
        + urllib.parse.quote("select * from table_at('nosuch_tt', 1)"),
    )
    assert code == 500 and "nosuch_tt" in json.loads(body)["error"]


def test_stopped_app_releases_its_port(spark, tmp_path):
    """After App.stop() the port can be bound again at once."""
    import socket

    cfg = Config(api_keys={"local": "default"})
    cfg.api.port = 0
    a = build_app(spark, cfg, str(tmp_path / "app"))
    a.server.start()
    port = a.port
    a.stop()
    with socket.socket() as s:
        s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        s.bind(("127.0.0.1", port))


def test_dotted_key_is_one_column(app):
    """A key with a dot is stored as one column of that name, not read
    as a struct field."""
    body = json.dumps([{"k": 1, "a.b": 5}]).encode()
    assert app.service.insert("default", "dotted", body, "horizontal") == 1
    app.drain()
    dest = app.service.destinations["default"]
    assert [r[0] for r in dest.query_df('select "a.b" from dotted').collect()] == [5]


def test_lone_surrogate_refused_before_any_row_is_written(app):
    """A document whose key or string value does not encode to UTF-8
    (a lone surrogate escape) is refused with 400, and no row of the
    request is written."""
    for doc in ({"s": "a\ud800b"}, {"k\udc00": 1}):
        code, body = _req(
            app, "POST", "/api/data/insert/surr?api_key=local", [{"s": "ok"}, doc]
        )
        assert code == 400 and "UTF-8" in json.loads(body)["error"]
        with pytest.raises(ValueError, match="UTF-8"):
            app.service.insert("default", "surr", json.dumps(doc).encode(), "horizontal")
    app.drain()
    assert "surr" not in app.service.destinations["default"].tables()
