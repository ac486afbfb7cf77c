"""SparkDestination round-trip + schema-evolution tests (FIXTURES.md §4.3,
modeled on the reference's only e2e test, clickhouse_test.go:87-102)."""

from __future__ import annotations

import csv
import io
import json
import os
import time

import pytest

from scratchdata_spark.catalog import TableCatalog
from scratchdata_spark.engine import SparkDestination, trim_query


@pytest.fixture()
def dest(spark, tmp_path):
    return SparkDestination(spark, TableCatalog(str(tmp_path / "warehouse")), "db1")


def _insert(dest, table, lines):
    import tempfile, os

    fd, path = tempfile.mkstemp(suffix=".ndjson")
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(lines) + "\n")
    try:
        dest.insert_ndjson(table, path)
    finally:
        os.remove(path)


def test_trim_query():
    assert trim_query("  select 1 ;  ") == "select 1"
    assert trim_query("select 1") == "select 1"


def test_roundtrip_hello_world(dest):
    _insert(dest, "tbl", ['{"__row_id": 7, "msg": "hello world"}'])
    buf = io.StringIO()
    dest.query_json("select * from tbl", buf)
    assert json.loads(buf.getvalue()) == [{"__row_id": 7, "msg": "hello world"}]


def test_row_id_assigned_when_missing(dest):
    _insert(dest, "tbl", ['{"msg": "a"}', '{"msg": "b"}'])
    rows = dest.query_df("select __row_id from tbl").collect()
    ids = [r[0] for r in rows]
    assert all(isinstance(i, int) and i > 0 for i in ids)
    assert len(set(ids)) == 2


def test_schema_evolution_roundtrip(dest):
    _insert(dest, "evolve", ['{"__row_id": 1, "msg": "hello world"}'])
    _insert(
        dest,
        "evolve",
        ['{"__row_id": 2, "msg": "second", "n": 1}', '{"__row_id": 3, "n": 2.5, "flag": true}'],
    )
    df = dest.query_df("select * from evolve order by __row_id")
    assert df.columns == ["__row_id", "msg", "n", "flag"]
    rows = [r.asDict() for r in df.collect()]
    assert rows[0] == {"__row_id": 1, "msg": "hello world", "n": None, "flag": None}
    assert rows[1] == {"__row_id": 2, "msg": "second", "n": 1.0, "flag": None}
    assert rows[2] == {"__row_id": 3, "msg": None, "n": 2.5, "flag": True}
    # n widened to double within the batch (int 1 + float 2.5 → float)
    assert dict((c["name"], c["type"]) for c in dest.columns("evolve"))["n"] == "double"


def test_existing_column_never_retypes_cast_on_write(dest):
    _insert(dest, "t2", ['{"__row_id": 1, "n": 5}'])
    _insert(dest, "t2", ['{"__row_id": 2, "n": "not a number"}'])
    rows = {r["__row_id"]: r["n"] for r in dest.query_df("select * from t2").collect()}
    assert rows == {1: 5, 2: None}  # non-castable → NULL (documented policy)


def test_local_result_serializer_fast_path(dest):
    """r14: driver-built results (DML counts, DESCRIBE/SHOW shapes)
    carry ``_sd_local_result`` and the serializers collect() them
    directly — same rows as the toLocalIterator path, minus its
    serving-socket setup (~0.5 s per statement measured)."""
    from scratchdata_spark.warehouse_dml import _count_df

    df = _count_df(dest, 3)
    assert getattr(df, "_sd_local_result", False)
    # r14: driver-built results plan as LocalTableScan (VALUES), so
    # collect() launches no job at all — createDataFrame's PythonRDD
    # paid a defaultParallelism-task job per action
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    fast = list(dest._fetch_rows(df, True))
    slow = list(dest._fetch_rows(df, False))
    assert fast == slow
    assert fast[0]["count"] == 3

    # end to end: a DML statement's count result serializes through
    # the fast path with the same shape as before
    _insert(dest, "lrt", ['{"__row_id": 1, "a": 1}'])
    buf = io.StringIO()
    dest.query_json("DELETE FROM lrt WHERE a = 999", buf)
    assert json.loads(buf.getvalue()) == [{"count": 0}]


def test_serialization_formats(dest):
    _insert(dest, "s", ['{"__row_id": 1, "a": 1, "b": "x"}', '{"__row_id": 2, "a": 2}'])
    nd = io.StringIO()
    dest.query_ndjson("select a, b from s order by a", nd)
    lines = [json.loads(l) for l in nd.getvalue().strip().split("\n")]
    # NULL fields are present and explicit — every reference backend
    # writer emits them (r11 catch: plain toJSON dropped the key)
    assert lines == [{"a": 1, "b": "x"}, {"a": 2, "b": None}]

    csv_buf = io.StringIO()
    dest.query_csv("select a, b from s order by a", csv_buf)
    out = csv_buf.getvalue().strip().split("\r\n")
    assert out[0] == "a,b"
    assert out[1] == "1,x"
    assert out[2] == "2,null"  # reference renders nulls as "null"


def test_tables_and_columns_introspection(dest):
    _insert(dest, "t_a", ['{"x": 1}'])
    _insert(dest, "t_b", ['{"y": "s"}'])
    assert dest.tables() == ["t_a", "t_b"]
    cols = dest.columns("t_a")
    assert cols == [{"name": "__row_id", "type": "bigint"}, {"name": "x", "type": "bigint"}]


def test_query_over_testdata(dest, sf_dir):
    df = dest.spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df.createOrReplaceTempView("lineitem_raw")
    n = dest.spark.sql("select count(*) as n from lineitem_raw").collect()[0][0]
    assert n > 0


def test_dialect_rewrite_is_a_fallback(dest):
    """query_df tries stock Spark first and only rewrites after a
    parse/analysis failure, so valid Spark SQL can never be corrupted
    by the DuckDB bridging (ADVICE r3) — while DuckDB-dialect text
    still runs."""
    _insert(dest, "dlq", ['{"__row_id": 1, "v": 7}'])
    # a doubled-quote escape + // inside the literal: must run
    # verbatim (the old always-rewrite path would have mis-scanned
    # the literal boundary).  r12 contract note: the query surface
    # reads literals with DUCKDB semantics — quote doubling, literal
    # backslashes — so the pre-r12 backslash-escaped spelling
    # ('a\'b') is no longer the way to put a quote in a string.
    row = dest.query_df("select 'a''b // c' as s, v from dlq").collect()[0]
    assert row["s"] == "a'b // c" and row["v"] == 7
    # DuckDB-dialect text (// division) falls back to the rewriter
    assert dest.query_df("select v // 2 as h from dlq").collect()[0]["h"] == 3


def test_plan_cache_reuse_and_invalidation(dest):
    """Repeated query text reuses the analyzed plan (prepared-statement
    semantics); any write invalidates so results never go stale."""
    _insert(dest, "pc", ['{"__row_id": 1, "v": 10}'])
    q = "select count(*) as n from pc"
    df1 = dest.query_df(q)
    df2 = dest.query_df(q)
    assert df1 is df2  # cache hit: same analyzed DataFrame object
    assert df1.collect()[0]["n"] == 1
    _insert(dest, "pc", ['{"__row_id": 2, "v": 20}'])
    df3 = dest.query_df(q)
    assert df3 is not df1  # write invalidated the cached plan
    assert df3.collect()[0]["n"] == 2


def _serve(dest, fmt, sql):
    buf = io.StringIO()
    getattr(dest, f"query_{fmt}")(sql, buf)
    return buf.getvalue()


def _values(fmt, body, col):
    """Column ``col`` of every row of a json/ndjson/csv response."""
    if fmt == "json":
        return [r[col] for r in json.loads(body)]
    if fmt == "ndjson":
        return [json.loads(line)[col] for line in body.splitlines()]
    rows = list(csv.DictReader(io.StringIO(body)))
    return [r[col] for r in rows]


@pytest.mark.parametrize(
    "sql",
    ["SELECT rand() AS v", "SELECT uuid() AS v", "SELECT shuffle(sequence(1, 50)) AS v"],
)
def test_random_texts_are_never_cached(dest, sql):
    """A reused plan would repeat its first draw: the analyzer pins the
    seed of rand()/uuid()/shuffle(), so every request plans afresh."""
    assert dest.query_df(sql) is not dest.query_df(sql)
    for fmt in ("json", "ndjson", "csv"):
        first = _values(fmt, _serve(dest, fmt, sql), "v")
        second = _values(fmt, _serve(dest, fmt, sql), "v")
        assert first != second, fmt


def test_clock_texts_are_never_cached(dest):
    """now()/current_timestamp() fold to a literal once per plan, so a
    cached plan would serve the first request's time forever."""
    import time

    _insert(dest, "events", ['{"__row_id": 1, "v": 1}'])
    sql = "SELECT current_timestamp() AS t, count(*) AS n FROM events"
    assert dest.query_df(sql) is not dest.query_df(sql)
    _serve(dest, "json", "CREATE VIEW stamped AS SELECT v, now() AS t FROM events")
    for q in ("SELECT now() AS t", "SELECT current_date AS t",
              "SELECT unix_timestamp() AS t", "SELECT t FROM stamped",
              "SELECT v FROM events WHERE v IN (SELECT v FROM stamped)"):
        assert dest.query_df(q) is not dest.query_df(q), q
    for fmt in ("json", "ndjson", "csv"):
        first = _serve(dest, fmt, sql)
        time.sleep(0.05)
        second = _serve(dest, fmt, sql)
        assert _values(fmt, first, "t") != _values(fmt, second, "t"), fmt
        assert [str(n) for n in _values(fmt, second, "n")] == ["1"]
    # a timestamp given as a literal does not read the clock
    fixed = "SELECT unix_timestamp('2020-01-01 00:00:00') AS t"
    assert dest.query_df(fixed) is dest.query_df(fixed)


def _jobs(dest, fn):
    """fn()'s result and the number of Spark jobs it ran (its job
    group's count)."""
    sc = dest.spark.sparkContext
    group = f"counted-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


_FORMATS = ("json", "ndjson", "csv")


def test_warm_request_reuses_planned_projection(dest):
    """A cache hit writes the cold request's bytes in every format:
    NULL fields, CSV's ``null`` and the column order survive, and a
    small answer is written from the text the cold request kept, with
    no Spark job. A write still makes the next request see new rows."""
    lines = [
        json.dumps({"__row_id": i, "k": i % 3, "a b": None if i % 3 == 2 else i})
        for i in range(1, 31)
    ]
    _insert(dest, "wr", lines)
    sql = (
        "SELECT k, count(*) AS n, sum(`a b`) AS `s``x` FROM wr"
        " GROUP BY k ORDER BY k"
    )
    cold = {}
    for fmt in _FORMATS:
        cold[fmt], jobs = _jobs(dest, lambda: _serve(dest, fmt, sql))
        assert jobs >= 1, fmt
    assert json.loads(cold["json"])[2] == {"k": 2, "n": 10, "s`x": None}
    assert cold["ndjson"].splitlines()[2] == '{"k":2,"n":10,"s`x":null}'
    assert cold["csv"].splitlines()[0] == "k,n,s`x"
    assert cold["csv"].splitlines()[3] == "2,10,null"
    for fmt in _FORMATS:
        assert _jobs(dest, lambda: _serve(dest, fmt, sql)) == (cold[fmt], 0), fmt

    _insert(dest, "wr", ['{"__row_id": 31, "k": 7, "a b": 5}'])
    rows = json.loads(_serve(dest, "json", sql))
    assert rows[-1] == {"k": 7, "n": 1, "s`x": 5}
    assert _values("csv", _serve(dest, "csv", sql), "k")[-1] == "7"
    assert json.loads(_serve(dest, "ndjson", sql).splitlines()[-1])["k"] == 7


# the text around the padding in each format for one row {"s": <pad>}
_PAD_FRAME = {"json": len('[{"s":""}]'), "ndjson": len('{"s":""}\n'), "csv": len("s\r\n\r\n")}


@pytest.mark.parametrize("fmt", _FORMATS)
def test_answer_over_the_cap_is_not_kept(dest, fmt):
    """An answer of exactly ANSWER_CAP UTF-8 bytes is kept, so its warm
    request runs no job; one byte more, or the same number of
    characters where one is two bytes in UTF-8, is not kept: its warm
    request re-runs the planned result stage, exactly one job, and
    writes the same bytes."""
    from scratchdata_spark.engine import ANSWER_CAP

    _insert(dest, "one", ['{"__row_id": 1}'])
    n = ANSWER_CAP - _PAD_FRAME[fmt]
    for pad, chars, kept in [
        (f"repeat('x', {n})", ANSWER_CAP, True),
        (f"repeat('x', {n + 1})", ANSWER_CAP + 1, False),
        # the kept answer's length in characters, one byte over in UTF-8
        (f"concat('é', repeat('x', {n - 1}))", ANSWER_CAP, False),
    ]:
        sql = f"SELECT {pad} AS s FROM one"
        cold = _serve(dest, fmt, sql)
        assert len(cold) == chars
        assert _jobs(dest, lambda: _serve(dest, fmt, sql)) == (cold, 0 if kept else 1)


def _spy(monkeypatch, spark, method, keep=lambda *a: True):
    """Count calls of a DataFrame method (on the class Spark's
    DataFrames really are, not pyspark.sql's abstract base)."""
    cls = type(spark.range(1))
    orig = getattr(cls, method)
    calls = []

    def spy(self, *args, **kwargs):
        if keep(*args):
            calls.append(args)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, method, spy)
    return calls


def test_one_partition_answers_are_collected(dest, monkeypatch):
    """An answer whose executed plan has one partition is fetched with
    collect() in every format, with the same bytes as the streamed
    path served, and its warm request writes the kept text. A
    multi-partition answer streams through toLocalIterator: a small one
    on its cold request only, one over ANSWER_CAP once per request,
    cold and warm."""
    _insert(dest, "op", [
        json.dumps({"__row_id": i, "v": i, **({"g": g} if g else {})})
        for i, g in enumerate(["x,y", "z", None, "x,y", "z", None], start=1)
    ])
    grouped = "SELECT g, count(*) AS n, sum(v) AS s FROM op GROUP BY g ORDER BY g"
    top = "SELECT g, v FROM op ORDER BY v DESC LIMIT 2"
    expected = {
        (grouped, "json"):
            '[{"g":null,"n":2,"s":9},{"g":"x,y","n":2,"s":5},{"g":"z","n":2,"s":7}]',
        (grouped, "ndjson"):
            '{"g":null,"n":2,"s":9}\n{"g":"x,y","n":2,"s":5}\n{"g":"z","n":2,"s":7}\n',
        (grouped, "csv"): 'g,n,s\r\nnull,2,9\r\n"x,y",2,5\r\nz,2,7\r\n',
        (top, "json"): '[{"g":null,"v":6},{"g":"z","v":5}]',
        (top, "ndjson"): '{"g":null,"v":6}\n{"g":"z","v":5}\n',
        (top, "csv"): "g,v\r\nnull,6\r\nz,5\r\n",
    }
    streams = _spy(monkeypatch, dest.spark, "toLocalIterator")
    for (sql, fmt), body in expected.items():
        dest.plan_cache.invalidate()  # each format gets a cold request
        assert _serve(dest, fmt, sql) == body, (sql, fmt)  # cold
        assert _serve(dest, fmt, sql) == body, (sql, fmt)  # warm
    assert streams == []

    spread = "SELECT /*+ REPARTITION(3, v) */ v FROM op"
    wide = "SELECT /*+ REPARTITION(3, v) */ v, repeat('x', 20000) AS pad FROM op"
    for fmt in _FORMATS:
        dest.plan_cache.invalidate()
        for sql, per_request in [(spread, [1, 0]), (wide, [1, 1])]:
            for n in per_request:
                before = len(streams)
                body = _serve(dest, fmt, sql)
                assert len(streams) == before + n, (fmt, sql)
                assert sorted(map(int, _values(fmt, body, "v"))) == [1, 2, 3, 4, 5, 6]


def test_failed_write_keeps_no_answer(dest):
    """A write that fails partway (the client went away) keeps nothing:
    the next request runs the plan again and writes the whole answer,
    and only that complete write is kept."""

    class Dropped(io.StringIO):
        def write(self, s):
            if self.tell() > 3:
                raise BrokenPipeError("client went away")
            return super().write(s)

    _insert(dest, "fw", [json.dumps({"__row_id": i, "v": i}) for i in range(1, 6)])
    sql = "SELECT v FROM fw ORDER BY v"
    for fmt in _FORMATS:
        with pytest.raises(BrokenPipeError):
            getattr(dest, f"query_{fmt}")(sql, Dropped())
        body, jobs = _jobs(dest, lambda: _serve(dest, fmt, sql))
        assert jobs >= 1 and _values(fmt, body, "v") in ([1, 2, 3, 4, 5], list("12345"))
        assert _jobs(dest, lambda: _serve(dest, fmt, sql)) == (body, 0), fmt


def test_kept_answers_follow_every_change(spark, dest):
    """A kept answer serves only while its plan-cache entry lives: in
    every format, the request after a local insert, another instance's
    write (aged and racy directories), a stored-view change and a
    drop shows the change."""
    _insert(dest, "x", ['{"__row_id": 1, "v": 1}'])
    _serve(dest, "json", "CREATE VIEW xv AS SELECT v FROM x WHERE v > 1")
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    dirs = {
        dest.catalog.table_root(dest.database, "x"),
        dest.catalog.data_dir(dest.database, "x"),
    }

    def counts(sql):
        """count(*) of ``sql`` in every format, after checking that a
        repeated request is written from the kept answer."""
        out = {}
        for fmt in _FORMATS:
            body = _serve(dest, fmt, sql)
            assert _jobs(dest, lambda: _serve(dest, fmt, sql)) == (body, 0), fmt
            out[fmt] = int(_values(fmt, body, "n")[0])
        assert len(set(out.values())) == 1, out
        return out["json"]

    def set_mtimes(ns):
        for d in dirs:
            os.utime(d, ns=(ns, ns))

    table, view = "SELECT count(*) AS n FROM x", "SELECT count(*) AS n FROM xv"
    _age_dirs(dest, ["x"])
    assert (counts(table), counts(view)) == (1, 0)
    _insert(dest, "x", ['{"__row_id": 2, "v": 2}'])
    assert (counts(table), counts(view)) == (2, 1)
    _age_dirs(dest, ["x"])
    assert counts(table) == 2
    _insert(other, "x", ['{"__row_id": 3, "v": 3}'])
    assert (counts(table), counts(view)) == (3, 2)

    # racy: the other instance's write lands in the registration's
    # mtime tick. The tick is set ahead of the clock, and put back
    # after the write, so the mtimes say nothing of it.
    tick = time.time_ns() + 30 * 1_000_000_000
    set_mtimes(tick)
    assert (counts(table), counts(view)) == (3, 2)
    _insert(other, "x", ['{"__row_id": 4, "v": 4}'])
    set_mtimes(tick)
    assert (counts(table), counts(view)) == (4, 3)

    _serve(other, "json", "CREATE OR REPLACE VIEW xv AS SELECT v FROM x WHERE v > 3")
    assert counts(view) == 1
    _serve(other, "json", "DROP TABLE x")
    for fmt in _FORMATS:
        with pytest.raises(Exception, match=r"TABLE_OR_VIEW_NOT_FOUND[\s\S]*`x`"):
            _serve(dest, fmt, table)


def _age_dirs(dest, tables, seconds=60):
    """Set the table-root and data-dir mtimes ``seconds`` into the
    past, as if the tables had been written that long ago."""
    past = time.time_ns() - seconds * 1_000_000_000
    for t in tables:
        for d in {
            dest.catalog.table_root(dest.database, t),
            dest.catalog.data_dir(dest.database, t),
        }:
            os.utime(d, ns=(past, past))


def test_miss_reregisters_only_changed_tables(dest, monkeypatch):
    names = [f"t{i:02d}" for i in range(50)]
    for t in names:
        dest.create_empty_table(t)
    _insert(dest, "t00", ['{"__row_id": 1, "k": 1}'])
    _age_dirs(dest, names)
    assert json.loads(_serve(dest, "json", "SELECT count(*) AS n FROM t00")) == [
        {"n": 1}
    ]
    registered = _spy(
        monkeypatch, dest.spark, "createOrReplaceTempView", lambda n: n in names
    )
    assert json.loads(_serve(dest, "json", "SELECT k FROM t00")) == [{"k": 1}]
    assert registered == []


def test_writes_stay_visible_to_the_next_miss(spark, dest):
    """A table written through a second destination over the same
    catalog (its own session) is visible at the first destination's
    next plan-cache miss — also when the write leaves the directory
    mtimes where they were at the registration (a write in the same
    timestamp tick); so is a local insert. A stored view over the
    table follows it."""
    def values(tag):
        sql = f"SELECT v, '{tag}' AS q FROM x ORDER BY v"
        return [r["v"] for r in json.loads(_serve(dest, "json", sql))]

    def view_count(tag):
        sql = f"SELECT count(*) AS n, '{tag}' AS q FROM xv"
        return json.loads(_serve(dest, "json", sql))[0]["n"]

    _insert(dest, "x", ['{"__row_id": 1, "v": 1}'])
    _serve(dest, "json", "CREATE VIEW xv AS SELECT v FROM x")
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    root = dest.catalog.table_root(dest.database, "x")
    data = dest.catalog.data_dir(dest.database, "x")

    # the directories are old at the registration
    _age_dirs(dest, ["x"])
    assert values("aged") == [1]
    _insert(other, "x", ['{"__row_id": 2, "v": 2}'])
    assert values("after-aged-write") == [1, 2]

    # the directories were written just now (racy), and another
    # instance's write lands in the same mtime tick
    now = time.time_ns()
    for d in {root, data}:
        os.utime(d, ns=(now, now))
    assert values("racy") == [1, 2]
    assert view_count("racy") == 2
    _insert(other, "x", ['{"__row_id": 3, "v": 3}'])
    for d in {root, data}:
        os.utime(d, ns=(now, now))
    assert view_count("after-racy-write") == 3
    assert values("after-racy-write") == [1, 2, 3]

    _insert(dest, "x", ['{"__row_id": 4, "v": 4}'])
    assert values("after-local-write") == [1, 2, 3, 4]


def test_partition_appends_stay_visible_to_the_next_miss(spark, dest):
    """A SQL INSERT by a second destination into an EXISTING partition
    of a partitioned table lands files only in that partition's subdir;
    it is still visible at the first destination's next miss."""
    def values(tag):
        sql = f"SELECT v, '{tag}' AS q FROM pt ORDER BY v"
        return [r["v"] for r in json.loads(_serve(dest, "json", sql))]

    dest.create_empty_table("pt")
    dest.catalog.add_columns(dest.database, "pt", {"day": "string", "v": "int"})
    dest.set_partitioning("pt", "day")
    _insert(dest, "pt", ['{"__row_id": 1, "day": "d1", "v": 1}'])
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)

    _age_dirs(dest, ["pt"])
    assert values("aged") == [1]
    _serve(other, "json", "INSERT INTO pt (day, v) VALUES ('d1', 2)")
    assert values("after-partition-append") == [1, 2]


def test_concurrent_misses_never_see_rows_disappear(dest):
    """Misses on 8 threads race local inserts. Each thread's row
    counts never go down (a slower registration must not put back an
    older scan after a newer one was remembered), and after the last
    insert every miss sees every row."""
    import sys
    import threading

    _insert(dest, "cc", ['{"__row_id": 1, "v": 1}'])
    _age_dirs(dest, ["cc"])
    stop = threading.Event()
    seen: dict[int, list[int]] = {i: [] for i in range(8)}
    errors = []

    def reader(i):
        n = 0
        try:
            while not stop.is_set():
                n += 1
                sql = f"SELECT count(*) AS n, {i * 10_000 + n} AS q FROM cc"
                seen[i].append(json.loads(_serve(dest, "json", sql))[0]["n"])
        except Exception as err:  # noqa: BLE001 — reported below
            errors.append(err)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    try:
        for t in threads:
            t.start()
        for k in (2, 3, 4):
            _insert(dest, "cc", [json.dumps({"__row_id": k, "v": k})])
        stop.set()
        for t in threads:
            t.join(timeout=120)
    finally:
        stop.set()
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for counts in seen.values():
        assert counts == sorted(counts)
    assert json.loads(_serve(dest, "json", "SELECT count(*) AS n FROM cc")) == [
        {"n": 4}
    ]


def _count(dest, sql):
    return json.loads(_serve(dest, "json", sql))[0]["n"]


def test_table_dropped_by_another_instance_leaves_this_session(spark, dest):
    """After another destination over the same catalog (its own
    session) drops a table, naming it here fails with Spark's
    table-not-found error, for a repeated text and for a new one,
    instead of failing at execution over the deleted files."""
    _insert(dest, "x", ['{"__row_id": 1, "v": 1}'])
    _insert(dest, "keep", ['{"__row_id": 1, "v": 1}'])
    assert _count(dest, "select count(*) n from x") == 1
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    _serve(other, "json", "DROP TABLE x")
    for sql in ("select count(*) n from x", "select count(v) n from x"):
        with pytest.raises(Exception, match=r"TABLE_OR_VIEW_NOT_FOUND[\s\S]*`x`"):
            _serve(dest, "json", sql)
    assert _count(dest, "select count(*) n from keep") == 1
    _insert(other, "x", ['{"__row_id": 2, "v": 2}'])
    assert _count(dest, "select count(*) n from x") == 1


def test_repeated_text_follows_another_instances_writes(spark, dest):
    """A cached plan is valid only while the tables it reads are
    unchanged: a repeated text sees rows another destination over the
    same catalog (its own session) inserted — with aged directories,
    with racy ones whose mtimes a write in the same tick leaves where
    they were, and with mtimes just under a second old."""
    sql = "select count(*) n from x"
    _insert(dest, "x", ['{"__row_id": 1, "v": 1}'])
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    dirs = {
        dest.catalog.table_root(dest.database, "x"),
        dest.catalog.data_dir(dest.database, "x"),
    }

    def set_mtimes(ns):
        for d in dirs:
            os.utime(d, ns=(ns, ns))

    _age_dirs(dest, ["x"])
    assert _count(dest, sql) == 1
    assert dest.query_df(sql) is dest.query_df(sql)
    _insert(other, "x", ['{"__row_id": 2, "v": 2}'])
    assert _count(dest, sql) == 2

    now = time.time_ns()
    set_mtimes(now)
    assert _count(dest, sql) == 2
    assert dest.query_df(sql) is dest.query_df(sql)
    _insert(other, "x", ['{"__row_id": 3, "v": 3}'])
    set_mtimes(now)
    assert _count(dest, sql) == 3

    # mtimes just under a second old at the build, a lookup after
    # they pass a second, then a write
    set_mtimes(time.time_ns() - 900_000_000)
    assert _count(dest, sql) == 3
    time.sleep(0.2)
    assert _count(dest, sql) == 3
    _insert(other, "x", ['{"__row_id": 4, "v": 4}'])
    assert _count(dest, sql) == 4


def test_another_instances_write_is_seen_with_unmoved_mtimes(spark, dest):
    """Another instance's insert is seen by a repeated text and by a
    new text, in every format, also when the table's directory mtimes
    are put back to their values before it (as on a coarse-timestamp
    or clock-skewed shared file system): readers compare the catalog
    entry the insert commits, not the file system's timestamps."""
    _insert(dest, "x", ['{"__row_id": 1, "v": 1}'])
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    _age_dirs(dest, ["x"])
    aged = {
        d: os.stat(d).st_mtime_ns
        for d in (
            dest.catalog.table_root(dest.database, "x"),
            dest.catalog.data_dir(dest.database, "x"),
        )
    }
    repeated, new = "select count(*) n from x", "select count(v) n from x"
    for fmt in _FORMATS:
        assert _values(fmt, _serve(dest, fmt, repeated), "n") in ([1], ["1"])
    _insert(other, "x", ['{"__row_id": 2, "v": 2}'])
    for d, ns in aged.items():
        os.utime(d, ns=(ns, ns))
    for sql in (repeated, new):
        for fmt in _FORMATS:
            assert _values(fmt, _serve(dest, fmt, sql), "n") in ([2], ["2"]), (sql, fmt)


def test_schema_change_during_an_insert_survives_its_commit(spark, dest, monkeypatch):
    """An insert's commit writes the catalog entry as it stands after
    the append, so an ADD COLUMN and a DROP COLUMN that another
    instance (its own catalog object, so its own locks) runs while the
    append writes its files both survive the commit."""
    _insert(dest, "x", ['{"__row_id": 1, "v": 1, "w": 1}'])
    other = SparkDestination(
        spark.newSession(), TableCatalog(dest.catalog.warehouse), dest.database
    )
    append = SparkDestination._append

    def append_racing_alter(self, *args):
        append(self, *args)
        if self is dest:
            _serve(other, "json", "ALTER TABLE x ADD COLUMN c BIGINT")
            _serve(other, "json", "ALTER TABLE x DROP COLUMN w")

    monkeypatch.setattr(SparkDestination, "_append", append_racing_alter)
    _insert(dest, "x", ['{"__row_id": 2, "v": 2}'])
    info = dest.catalog.get(dest.database, "x")
    assert [c["name"] for c in info.columns] == ["__row_id", "v", "c"]
    assert info.dropped == ["w"]
    monkeypatch.undo()
    assert json.loads(_serve(dest, "json", "select v, c from x order by v")) == [
        {"v": 1, "c": None},
        {"v": 2, "c": None},
    ]


def test_write_to_one_table_keeps_plans_over_others_warm(dest, monkeypatch):
    """An insert into table a re-plans and re-registers nothing for a
    repeated text that reads only table b."""
    _insert(dest, "a", ['{"__row_id": 1, "v": 1}'])
    _insert(dest, "b", ['{"__row_id": 1, "w": 1}', '{"__row_id": 2, "w": 2}'])
    _age_dirs(dest, ["a", "b"])
    sql = "SELECT count(*) AS n, sum(w) AS s FROM b"
    assert json.loads(_serve(dest, "json", sql)) == [{"n": 2, "s": 3}]
    df = dest.query_df(sql)
    _insert(dest, "a", ['{"__row_id": 2, "v": 2}'])
    registered = _spy(monkeypatch, dest.spark, "createOrReplaceTempView")
    planned = []
    sql_fn = dest.spark.sql
    monkeypatch.setattr(
        dest.spark, "sql", lambda *a, **k: planned.append(a) or sql_fn(*a, **k)
    )
    assert dest.query_df(sql) is df
    assert json.loads(_serve(dest, "json", sql)) == [{"n": 2, "s": 3}]
    assert registered == [] and planned == []


def test_stored_view_follows_another_instances_view_ddl(spark, dest):
    """A repeated text over a stored view follows CREATE OR REPLACE
    VIEW and DROP VIEW run by another destination; so does DESCRIBE
    after the other destination adds a column."""
    _insert(dest, "x", ['{"__row_id": 1, "v": 1}', '{"__row_id": 2, "v": 20}'])
    _age_dirs(dest, ["x"])
    _serve(dest, "json", "CREATE VIEW xv AS SELECT v FROM x")
    other = SparkDestination(spark.newSession(), dest.catalog, dest.database)
    sql = "SELECT count(*) AS n FROM xv"
    assert _count(dest, sql) == 2
    _serve(other, "json", "CREATE OR REPLACE VIEW xv AS SELECT v FROM x WHERE v > 10")
    assert _count(dest, sql) == 1
    _serve(other, "json", "DROP VIEW xv")
    with pytest.raises(Exception, match="(?i)xv"):
        dest.query_df(sql)

    def described():
        return [r["column_name"] for r in dest.query_df("DESCRIBE x").collect()]

    assert "w" not in described()
    _serve(other, "json", "ALTER TABLE x ADD COLUMN w BIGINT")
    assert "w" in described()


def test_read_parquet_outside_the_warehouse_sees_new_files(spark, dest, tmp_path):
    """A repeated read_parquet text over a directory outside the
    warehouse sees a file added to that directory."""
    d = str(tmp_path / "outside")
    spark.range(3).write.parquet(d)
    sql = f"SELECT count(*) AS n FROM read_parquet('{d}')"
    assert _count(dest, sql) == 3
    spark.range(4).write.mode("append").parquet(d)
    assert _count(dest, sql) == 7


# ------------------------------------------------------------ compaction
def _q(dest, sql):
    buf = io.StringIO()
    dest.query_json(sql, buf)
    return buf.getvalue()


def test_compact_folds_small_files_and_flips_generation(dest):
    import os

    for i in range(6):
        _insert(dest, "c1", [f'{{"a": {i}, "b": "x{i}"}}'])
    assert dest.file_count("c1") >= 6
    before = {(r["a"], r["b"]) for r in
              json.loads(_q(dest, "SELECT a, b FROM c1 ORDER BY a"))}

    out = dest.compact_table("c1", min_files=4)
    assert out["compacted"] and out["files_in"] >= 6
    assert dest.file_count("c1") < out["files_in"]
    info = dest.catalog.get("db1", "c1")
    assert info.generation == 1
    # data dir now resolves into g1/ and every row survived
    assert dest.catalog.data_dir("db1", "c1").endswith("g1")
    after = {(r["a"], r["b"]) for r in
             json.loads(_q(dest, "SELECT a, b FROM c1 ORDER BY a"))}
    assert after == before

    # inserts keep working post-flip (land in the new generation)...
    _insert(dest, "c1", ['{"a": 100, "b": "new"}'])
    rows = json.loads(_q(dest, "SELECT count(*) AS n FROM c1"))
    assert rows[0]["n"] == 7
    # ...and a second compaction retires generation 0's loose files
    for i in range(5):
        _insert(dest, "c1", [f'{{"a": {200 + i}}}'])
    out2 = dest.compact_table("c1", min_files=2)
    assert out2["generation"] == 2
    root = dest.catalog.table_root("db1", "c1")
    assert not any(f.endswith(".parquet") for f in os.listdir(root))
    assert os.path.isdir(os.path.join(root, "g1"))  # parent kept for readers
    rows = json.loads(_q(dest, "SELECT count(*) AS n FROM c1"))
    assert rows[0]["n"] == 12


def test_compact_below_min_files_is_noop(dest):
    _insert(dest, "c2", ['{"a": 1}'])
    out = dest.compact_table("c2", min_files=8)
    assert out == {"compacted": False, "files": 1, "reason": "below min_files"}
    assert dest.catalog.get("db1", "c2").generation == 0


def test_compact_preserves_schema_evolution(dest):
    """Rows written before a column existed read back NULL after the
    rewrite (explicit-schema scan, same as pre-compaction)."""
    for i in range(3):
        _insert(dest, "c3", [f'{{"a": {i}}}'])
    for i in range(3):
        _insert(dest, "c3", [f'{{"a": {10 + i}, "later": "v{i}"}}'])
    dest.compact_table("c3", min_files=2)
    rows = json.loads(_q(dest, "SELECT a, later FROM c3 ORDER BY a"))
    assert [r.get("later") for r in rows] == [None, None, None, "v0", "v1", "v2"]


def test_auto_compaction_via_worker(spark, tmp_path):
    """WorkerPool triggers compaction once a table crosses the
    configured file count."""
    from scratchdata_spark.config import WorkersConfig
    from scratchdata_spark.queue import Queue
    from scratchdata_spark.workers import WorkerPool

    d = SparkDestination(spark, TableCatalog(str(tmp_path / "wh")), "default")
    q = Queue(str(tmp_path / "m.sqlite"))
    pool = WorkerPool(
        q, {"default": d}, WorkersConfig(auto_compact_files=4)
    )
    for i in range(5):
        p = tmp_path / f"b{i}.ndjson"
        p.write_text(f'{{"v": {i}}}\n')
        q.enqueue("insert_data", {"database": "default", "table": "t", "path": str(p)})
    pool.drain()
    assert not pool.errors
    assert d.catalog.get("default", "t").generation >= 1
    assert d.file_count("t") <= 2
    rows = json.loads(_q(d, "SELECT count(*) AS n FROM t"))
    assert rows[0]["n"] == 5


# ---------------------------------------------------------- partitioning
def test_partitioned_table_roundtrip_and_pruning(dest):
    import os

    dest.create_empty_table("pt")
    # register the partition column first (empty-table requirement)
    dest.catalog.add_columns(dest.database, "pt", {"day": "string", "v": "int"})
    dest.set_partitioning("pt", "day")
    for day, v in [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)]:
        _insert(dest, "pt", [f'{{"day": "{day}", "v": {v}}}'])

    d = dest.catalog.data_dir("db1", "pt")
    assert os.path.isdir(os.path.join(d, "day=2024-01-01"))
    rows = json.loads(_q(dest, "SELECT day, v FROM pt ORDER BY v"))
    assert [(r["day"], r["v"]) for r in rows] == [
        ("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)
    ]
    # a partition predicate prunes directories at planning time
    plan = dest.query_df(
        "SELECT v FROM pt WHERE day = '2024-01-02'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters")[1][:120]

    # partitioning a non-empty table is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dest.set_partitioning("pt", "v")


def test_partitioned_compaction_preserves_layout(dest):
    import os

    dest.create_empty_table("pc")
    dest.catalog.add_columns(dest.database, "pc", {"day": "string", "v": "int"})
    dest.set_partitioning("pc", "day")
    for i in range(6):
        _insert(dest, "pc", [f'{{"day": "d{i % 2}", "v": {i}}}'])
    before = json.loads(_q(dest, "SELECT day, sum(v) AS s FROM pc GROUP BY day ORDER BY day"))

    out = dest.compact_table("pc", min_files=4)
    assert out["compacted"]
    d = dest.catalog.data_dir("db1", "pc")
    assert d.endswith("g1")
    assert os.path.isdir(os.path.join(d, "day=d0"))  # hive layout kept
    after = json.loads(_q(dest, "SELECT day, sum(v) AS s FROM pc GROUP BY day ORDER BY day"))
    assert after == before
    assert dest.file_count("pc") < out["files_in"]


def test_compact_catches_up_files_inserted_during_rewrite(dest):
    """A batch that lands between the snapshot rewrite and the pointer
    flip must survive: the lock-held catch-up moves it into the new
    generation by rename (no lost rows — the compaction race the
    generation design exists to close)."""
    for i in range(4):
        _insert(dest, "race", [f'{{"v": {i}}}'])

    def land_late_batch():
        _insert(dest, "race", ['{"v": 100}'])

    out = dest.compact_table("race", min_files=2, _after_rewrite=land_late_batch)
    assert out["compacted"] and out["late_files"] == 1
    rows = json.loads(_q(dest, "SELECT count(*) AS n, sum(v) AS s FROM race"))
    assert rows[0] == {"n": 5, "s": 106}


def test_concurrent_compactions_are_serialized(dest):
    """Two compactors racing on one table: the second must not rewrite
    the same generation (its overwrite would delete the winner's
    late-file catch-up renames). One wins, the other reports busy or
    a superseded generation — and no rows are lost."""
    import threading

    for i in range(8):
        _insert(dest, "cc", [f'{{"v": {i}}}'])
    results = []

    def compact():
        results.append(dest.compact_table("cc", min_files=2))

    threads = [threading.Thread(target=compact) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(1 for r in results if r["compacted"]) <= 1
    rows = json.loads(_q(dest, "SELECT count(*) AS n, sum(v) AS s FROM cc"))
    assert rows[0] == {"n": 8, "s": 28}


def test_compaction_clusters_by_sort_cols(spark, tmp_path):
    """compact_table(sort_cols=...) range-partitions + sorts, so the
    output files carry tight, disjoint min/max footer ranges on the
    cluster key — the stats that let range scans and the footer-pruned
    CoW mutations skip whole files."""
    import json as _json

    import pyarrow.parquet as pq

    from scratchdata_spark.catalog import TableCatalog
    from scratchdata_spark.engine import SparkDestination

    cat = TableCatalog(str(tmp_path / "whz"))
    d = SparkDestination(spark.newSession(), cat, "db")
    # 8 inserts with interleaved key ranges: every file spans ~all keys
    for b in range(8):
        nd = "\n".join(
            _json.dumps({"k": i * 8 + b, "x": "v"}) for i in range(50)
        )
        p = tmp_path / f"z{b}.ndjson"
        p.write_text(nd + "\n")
        d.insert_ndjson("zt", str(p))
    res = d.compact_table(
        "zt", target_file_bytes=6000, min_files=2, sort_cols=["k"]
    )
    assert res["compacted"] and res["files_out"] >= 2
    cur = cat.data_dir("db", "zt")

    def krange(f):
        md = pq.ParquetFile(f"{cur}/{f}").metadata
        ci = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "k"
        )
        st = md.row_group(0).column(ci).statistics
        return st.min, st.max

    ranges = sorted(krange(f) for f in d._list_parquet(cur))
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered ranges
    # rows intact
    import io

    buf = io.StringIO()
    d.query_csv("select count(*) as n from zt", buf)
    assert buf.getvalue().splitlines()[1] == "400"
    with pytest.raises(ValueError, match="unknown sort"):
        d.compact_table("zt", min_files=1, sort_cols=["nope"])


def test_time_travel_read_generation(spark, tmp_path):
    """retain_generations > 2 keeps a history window: every retained
    generation reads back its own snapshot, the SQL-text form
    table_at('t', N) works (including cross-generation joins), and
    generations past the window are retired with a clear error."""
    import os

    dest = SparkDestination(
        spark, TableCatalog(str(tmp_path / "warehouse")), "tt",
        retain_generations=3,
    )
    for i in range(4):
        _insert(dest, "t", [f'{{"a": {i}}}'])
    g0 = {r.a for r in dest.read_generation("t", 0).collect()}
    assert g0 == {0, 1, 2, 3}

    dest.compact_table("t", min_files=2)          # -> g1
    _insert(dest, "t", ['{"a": 100}'])
    for i in range(3):
        _insert(dest, "t", [f'{{"a": {200 + i}}}'])
    dest.compact_table("t", min_files=2)          # -> g2
    assert dest.generations("t") == [0, 1, 2]     # retain 3: g0 still here

    # a frozen generation holds every row visible just before its
    # successor's flip (inserts land in the then-current dir); the g0
    # scan must not descend into the sibling g1/g2 dirs
    assert {r.a for r in dest.read_generation("t", 0).collect()} == {0, 1, 2, 3}
    assert {r.a for r in dest.read_generation("t", 1).collect()} == {
        0, 1, 2, 3, 100, 200, 201, 202,
    }
    n_now = dest.query_df("SELECT count(*) AS n FROM t").collect()[0].n
    assert n_now == 8

    # SQL-text time travel + joining two generations in one query
    rows = dest.query_df(
        "SELECT count(*) AS n FROM table_at('t', 0)"
    ).collect()
    assert rows[0].n == 4
    diff = dest.query_df(
        "SELECT t.a FROM t LEFT ANTI JOIN table_at('t', 0) o ON t.a = o.a"
        " ORDER BY a"
    ).collect()
    assert [r.a for r in diff] == [100, 200, 201, 202]

    # third flip: g0 falls out of the 3-generation window
    for i in range(3):
        _insert(dest, "t", [f'{{"a": {300 + i}}}'])
    dest.compact_table("t", min_files=2)          # -> g3
    assert dest.generations("t") == [1, 2, 3]
    root = dest.catalog.table_root("tt", "t")
    assert not any(f.endswith(".parquet") for f in os.listdir(root))
    with pytest.raises(ValueError, match="not retained"):
        dest.read_generation("t", 0)
    with pytest.raises(ValueError, match="not retained"):
        dest.query_df("SELECT * FROM table_at('t', 0)").collect()


def test_retain_generations_default_keeps_parent_only(dest):
    """Default retention (2) preserves the pre-time-travel behavior:
    current + immediate parent, grandparent retired at each flip."""
    for i in range(4):
        _insert(dest, "g", [f'{{"a": {i}}}'])
    dest.compact_table("g", min_files=2)
    for i in range(3):
        _insert(dest, "g", [f'{{"a": {10 + i}}}'])
    dest.compact_table("g", min_files=2)
    assert dest.generations("g") == [1, 2]
    with pytest.raises(ValueError, match="retain_generations"):
        SparkDestination(
            dest.spark, dest.catalog, "bad", retain_generations=1
        )


def test_time_travel_survives_pruned_cow_delete(spark, tmp_path):
    """A footer-pruned copy-on-write DELETE adopts untouched files
    into the new generation; with a retention window > 2 they
    hard-link instead of renaming, so the PARENT generation still
    reads as a complete pre-delete snapshot."""
    dest = SparkDestination(
        spark, TableCatalog(str(tmp_path / "warehouse")), "tt2",
        retain_generations=3,
    )
    for i in range(6):
        _insert(dest, "d", [f'{{"a": {i}}}'])  # one file per row
    dest.compact_table("d", min_files=2)       # -> g1 current
    gen_before = dest.catalog.get("tt2", "d").generation
    before = {r.a for r in dest.read_generation("d", gen_before).collect()}
    assert before == {0, 1, 2, 3, 4, 5}

    dest.query_df("DELETE FROM d WHERE a = 3")
    info = dest.catalog.get("tt2", "d")
    assert info.generation == gen_before + 1   # CoW flip happened
    now = {r.a for r in dest.query_df("SELECT a FROM d").collect()}
    assert now == {0, 1, 2, 4, 5}
    # the parent snapshot is still complete — adopted files linked,
    # not moved
    old = {r.a for r in dest.read_generation("d", gen_before).collect()}
    assert old == {0, 1, 2, 3, 4, 5}


def test_table_at_ignored_inside_literals_and_comments(dest):
    """table_at(...) spelled inside a string literal or a comment is
    data, not a table reference — the rewrite must not mutate it (or
    error on a nonexistent table/generation named there)."""
    _insert(dest, "lit", ['{"msg": "see table_at(\'nope\', 9)"}'])
    rows = dest.query_df(
        "SELECT msg FROM lit WHERE msg = 'see table_at(''nope'', 9)'"
        " -- table_at('alsonope', 3)"
    ).collect()
    assert [r.msg for r in rows] == ["see table_at('nope', 9)"]
    # and the real thing still rewrites in the same statement shape
    n = dest.query_df("SELECT count(*) AS n FROM table_at('lit', 0)")
    assert n.collect()[0].n == 1


def test_default_retention_parent_snapshot_complete_after_pruned_dml(
    spark, tmp_path
):
    """Even at the default retain_generations=2, the parent generation
    generations() advertises must read back COMPLETE after a pruned
    copy-on-write DELETE — adopted files hard-link into the new
    generation instead of renaming out of the parent."""
    dest = SparkDestination(
        spark, TableCatalog(str(tmp_path / "warehouse")), "rt2"
    )
    for i in range(6):
        _insert(dest, "d", [f'{{"a": {i}}}'])
    dest.compact_table("d", min_files=2)  # -> g1
    dest.query_df("DELETE FROM d WHERE a = 3")  # pruned CoW -> g2
    assert dest.generations("d") == [1, 2]
    old = {r.a for r in dest.read_generation("d", 1).collect()}
    assert old == {0, 1, 2, 3, 4, 5}
    now = {r.a for r in dest.query_df("SELECT a FROM d").collect()}
    assert now == {0, 1, 2, 4, 5}


def test_stored_view_over_time_travel(spark, tmp_path):
    """A stored view may pin a generation snapshot: CREATE VIEW over
    table_at('t', N) analyzes, registers, and serves the frozen rows
    even after the base table mutates."""
    dest = SparkDestination(
        spark, TableCatalog(str(tmp_path / "warehouse")), "vtt",
        retain_generations=3,
    )
    for i in range(4):
        _insert(dest, "t", [f'{{"a": {i}}}'])
    dest.compact_table("t", min_files=2)          # -> g1
    dest.query_df(
        "CREATE VIEW snap AS SELECT a FROM table_at('t', 1)"
    )
    dest.query_df("DELETE FROM t WHERE a = 2")    # -> g2
    live = {r.a for r in dest.query_df("SELECT a FROM t").collect()}
    frozen = {r.a for r in dest.query_df("SELECT a FROM snap").collect()}
    assert live == {0, 1, 3}
    assert frozen == {0, 1, 2, 3}


def test_describe_show_tables_duckdb_shapes(dest):
    # the engine's query surface speaks DuckDB: DESCRIBE / SHOW
    # TABLES return DUCKDB's output shapes (probed: column_name /
    # column_type / null / key / default / extra with DuckDB type
    # names; SHOW TABLES = one `name` column), not Spark's catalogs'
    _insert(dest, "dsc", ['{"name": "x", "n": 3, "rate": 1.5}'])
    rows = [tuple(r) for r in dest.query_df("DESCRIBE dsc").collect()]
    assert ("n", "BIGINT", "YES", None, None, None) in rows
    assert ("rate", "DOUBLE", "YES", None, None, None) in rows
    assert dest.query_df("DESCRIBE dsc").columns == [
        "column_name", "column_type", "null", "key", "default", "extra"
    ]
    # DESC alias and the DESCRIBE SELECT form (the body may be
    # DuckDB-dialect text — routed through the query path)
    assert [tuple(r) for r in dest.query_df(
        "DESC SELECT n + 1 AS m, [1,2] AS l FROM dsc").collect()] == [
        ("m", "BIGINT", "YES", None, None, None),
        ("l", "INTEGER[]", "YES", None, None, None),
    ]
    names = [r.name for r in dest.query_df("SHOW TABLES").collect()]
    assert "dsc" in names and dest.query_df("SHOW TABLES").columns == ["name"]
    # a column named "name" in ORDER BY still queries (guard scope)
    assert [tuple(r) for r in dest.query_df(
        "SELECT name FROM dsc ORDER BY name").collect()] == [("x",)]


def test_int_past_int64_is_stored_as_a_double(dest, tmp_path):
    """An integer outside int64 is typed float, as strconv.Atoi fails
    on it, so its column is a double holding the value, not a long
    holding NULL."""
    p = tmp_path / "big.ndjson"
    p.write_text('{"a": 12345678901234567890, "b": 1}\n')
    dest.insert_ndjson("big", str(p))
    types = {c["name"]: c["type"] for c in dest.columns("big")}
    assert types["a"] == "double" and types["b"] == "bigint"
    [row] = dest.query_df("select a, b from big").collect()
    assert (row.a, row.b) == (1.2345678901234567e19, 1)


def test_insert_ndjson_infers_types_once(dest, tmp_path, monkeypatch):
    """A batch insert infers its types once, strictly: the same map
    registers the columns and drives the append, and a batch with a
    malformed line still fails before any row is appended."""
    from scratchdata_spark import engine

    calls = []
    infer = engine.infer_types_file

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return infer(*args, **kwargs)

    monkeypatch.setattr(engine, "infer_types_file", spy)
    good = tmp_path / "good.ndjson"
    good.write_text('{"__row_id": 1, "a": 1, "s": "x"}\n{"__row_id": 2, "a": 2.5}\n')
    dest.insert_ndjson("once", str(good))
    assert calls == [{}]
    assert {c["name"]: c["type"] for c in dest.columns("once")} == {
        "__row_id": "bigint", "a": "double", "s": "string",
    }
    bad = tmp_path / "bad.ndjson"
    bad.write_text('{"__row_id": 3, "a": 3}\n{"a": \n')
    del calls[:]
    with pytest.raises(ValueError):
        dest.insert_ndjson("once", str(bad))
    assert calls == [{}]
    rows = dest.query_df("select __row_id, a, s from once order by __row_id").collect()
    assert [tuple(r) for r in rows] == [(1, 1.0, "x"), (2, 2.5, None)]
