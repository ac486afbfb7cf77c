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
    """Four clients repeat one cached text, so every request after the
    first re-runs the same planned DataFrame from its own thread: every
    body is identical and none fails."""
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

    results = []

    def client():
        for _ in range(20):
            results.append(_req(app, "GET", path))

    threads = [threading.Thread(target=client) for _ in range(4)]
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
    import tempfile, os as _os

    fd, p = tempfile.mkstemp(suffix=".ndjson")
    with _os.fdopen(fd, "w") as f:
        f.write('{"day": "d0", "v": 0}\n')
    d.create_columns("plogs", p)
    _os.remove(p)

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
