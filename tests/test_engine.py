"""SparkDestination round-trip + schema-evolution tests (FIXTURES.md §4.3,
modeled on the reference's only e2e test, clickhouse_test.go:87-102)."""

from __future__ import annotations

import csv
import io
import json

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
        dest.create_empty_table(table)
        dest.create_columns(table, path)
        dest.insert_ndjson_file(table, path)
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


def test_warm_request_reuses_planned_projection(dest):
    """A cache hit serves the same bytes as the cold request in every
    format, and a warm JSON request re-runs only the result stage: one
    Spark job. A write still makes the next request see new rows."""
    lines = [
        json.dumps({"__row_id": i, "k": i % 3, "a b": None if i % 3 == 2 else i})
        for i in range(1, 31)
    ]
    _insert(dest, "wr", lines)
    sql = (
        "SELECT k, count(*) AS n, sum(`a b`) AS `s``x` FROM wr"
        " GROUP BY k ORDER BY k"
    )
    cold = {fmt: _serve(dest, fmt, sql) for fmt in ("json", "ndjson", "csv")}
    assert json.loads(cold["json"])[2] == {"k": 2, "n": 10, "s`x": None}
    assert cold["csv"].splitlines()[0] == "k,n,s`x"
    assert cold["csv"].splitlines()[3] == "2,10,null"
    for fmt in ("json", "ndjson", "csv"):
        assert _serve(dest, fmt, sql) == cold[fmt], fmt

    sc = dest.spark.sparkContext
    group = "warm-json-request"
    sc.setJobGroup(group, group)
    try:
        assert _serve(dest, "json", sql) == cold["json"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    _insert(dest, "wr", ['{"__row_id": 31, "k": 7, "a b": 5}'])
    rows = json.loads(_serve(dest, "json", sql))
    assert rows[-1] == {"k": 7, "n": 1, "s`x": 5}
    assert _values("csv", _serve(dest, "csv", sql), "k")[-1] == "7"


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
    _insert_schema_only = '{"day": "2024-01-01", "v": 0}'
    dest.create_columns("pt", _write_tmp([_insert_schema_only]))
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
    dest.create_columns("pc", _write_tmp(['{"day": "d1", "v": 0}']))
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


def _write_tmp(lines):
    import tempfile, os

    fd, path = tempfile.mkstemp(suffix=".ndjson")
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


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
