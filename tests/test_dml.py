"""Warehouse DML/DDL statements (warehouse_dml.py): CTAS, INSERT …
SELECT/VALUES, UPDATE, DELETE, TRUNCATE, DROP through the passthrough
query path — executed against the TableCatalog (never Spark's session
catalog), copy-on-write generation flips for the mutating rewrites,
and exactly-once execution through the HTTP validate-then-stream
shape."""

from __future__ import annotations

import io
import json

import pytest

from scratchdata_spark.catalog import TableCatalog
from scratchdata_spark.engine import SparkDestination
from scratchdata_spark.jtypes import infer_types_file


@pytest.fixture()
def dest(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "wh"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = "\n".join(
        json.dumps({"g": c, "v": i}) for i, c in enumerate("aabbcc")
    )
    p = tmp_path / "seed.ndjson"
    p.write_text(nd + "\n")
    d.insert_ndjson("t", str(p))
    return d


def run(dest, q):
    out = io.StringIO()
    dest.query_json(q, out)
    return json.loads(out.getvalue())


def test_ctas_registers_in_engine_catalog(dest):
    assert run(dest, "create table t2 as select g, v*2 as v2 from t") == [
        {"count": 6}
    ]
    # visible to the ENGINE's catalog (introspection, other sessions),
    # not lost in Spark's session catalog
    assert "t2" in dest.tables()
    cols = {c["name"]: c["type"] for c in dest.columns("t2")}
    assert cols["v2"] == "bigint" and "__row_id" in cols
    assert run(dest, "select sum(v2) as s from t2") == [{"s": 30}]
    # plain CREATE collides; OR REPLACE and IF NOT EXISTS don't
    with pytest.raises(Exception):
        run(dest, "create table t2 as select 1 as x")
    assert run(dest, "create table if not exists t2 as select 1 as x") == [
        {"count": 0}
    ]
    run(dest, "create or replace table t2 as select 9 as x")
    assert run(dest, "select x from t2") == [{"x": 9}]


def test_ctas_rich_types_round_trip(dest):
    run(
        dest,
        "create table rich as select timestamp '2024-05-01 10:00:00' as ts,"
        " array(1, 2) as arr, g from t",
    )
    cols = {c["name"]: c["type"] for c in dest.columns("rich")}
    assert cols["ts"] == "timestamp" and cols["arr"] == "array<int>"
    rows = run(dest, "select ts, arr[0] as a0 from rich limit 1")
    assert rows[0]["a0"] == 1 and rows[0]["ts"].startswith("2024-05-01")


def test_create_from_defs_and_positional_insert(dest):
    run(dest, "create table t4 (a INT, b STRING)")
    # declaration order survives registration: positional VALUES map
    cols = [c["name"] for c in dest.columns("t4")]
    assert cols == ["__row_id", "a", "b"]
    assert run(dest, "insert into t4 values (1, 'x')") == [{"count": 1}]
    assert run(dest, "insert into t4 (b) select 'only-b'") == [{"count": 1}]
    rows = run(dest, "select a, b from t4 order by b")
    assert rows == [{"a": None, "b": "only-b"}, {"a": 1, "b": "x"}]
    with pytest.raises(Exception, match="arity"):
        run(dest, "insert into t4 values (1, 'x', 99)")


def test_insert_select_appends(dest):
    before = run(dest, "select count(*) as n from t")[0]["n"]
    assert run(dest, "insert into t select g, v + 100 from t") == [
        {"count": before}
    ]
    assert run(dest, "select count(*) as n from t")[0]["n"] == 2 * before
    # appended rows got unique __row_ids
    dup = run(
        dest,
        "select count(*) as n from"
        " (select __row_id from t group by __row_id having count(*) > 1) d",
    )
    assert dup[0]["n"] == 0


def test_update_and_delete_copy_on_write(dest):
    gen0 = dest.catalog.get("dml", "t").generation
    assert run(dest, "update t set v = v + 1000 where g = 'a'") == [
        {"count": 2}
    ]
    assert run(dest, "select min(v) as m from t where g = 'a'") == [
        {"m": 1000}
    ]
    assert run(dest, "delete from t where v >= 1000") == [{"count": 2}]
    assert run(dest, "select count(*) as n from t") == [{"n": 4}]
    # each mutation flipped a generation pointer (snapshot semantics)
    assert dest.catalog.get("dml", "t").generation == gen0 + 2
    # DELETE without WHERE empties but keeps the table
    assert run(dest, "delete from t") == [{"count": 4}]
    assert run(dest, "select count(*) as n from t") == [{"n": 0}]
    assert "t" in dest.tables()


def test_update_null_predicate_rows_untouched(dest):
    run(dest, "insert into t values (null, 7)")
    # pred g = 'zz' is NULL for the null-g row: must NOT update it
    assert run(dest, "update t set v = -1 where g = 'zz'") == [{"count": 0}]
    assert run(dest, "select v from t where g is null") == [{"v": 7}]


def test_truncate_and_drop(dest):
    run(dest, "create table tr as select * from t")
    assert run(dest, "truncate table tr") == [{"count": 0}]
    assert run(dest, "select count(*) as n from tr") == [{"n": 0}]
    run(dest, "drop table tr")
    assert "tr" not in dest.tables()
    # the stale temp view must not keep resolving
    with pytest.raises(Exception):
        run(dest, "select * from tr")
    assert run(dest, "drop table if exists tr") == [{"count": 0}]
    with pytest.raises(KeyError):
        run(dest, "drop table tr")


def test_dml_with_duckdb_dialect_expressions(dest):
    """Statement bodies run through the same dialect fallback as
    queries — a saved DuckDB script's `//` works inside DML."""
    run(dest, "create table dd as select g, v // 2 as half from t")
    assert run(dest, "select max(half) as m from dd") == [{"m": 2}]
    assert run(dest, "delete from dd where half // 1 = 2") == [{"count": 2}]


def test_validate_does_not_execute(dest):
    """The HTTP layer validates then streams; validation of a DML
    statement must be side-effect-free or inserts double-execute."""
    q = "insert into t values ('z', 42)"
    assert dest.validate_statement(q) is True
    assert run(dest, "select count(*) as n from t where g = 'z'") == [
        {"n": 0}
    ]
    # …and the real execution is exactly once
    run(dest, q)
    assert run(dest, "select count(*) as n from t where g = 'z'") == [
        {"n": 1}
    ]
    # non-statements are declined without analysis side effects
    assert dest.validate_statement("select 1") is False
    # broken statements fail validation loudly
    with pytest.raises(KeyError):
        dest.validate_statement("insert into nosuch select 1")


def test_http_dml_executes_exactly_once(spark, tmp_path):
    import urllib.request

    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    cfg = Config(api_keys={"k": "default"}, admin_key="adm")
    cfg.sink.max_file_age_seconds = 3600
    app = build_app(spark, cfg, str(tmp_path / "app"))
    app.server.start()
    try:
        base = f"http://127.0.0.1:{app.port}"

        def req(method, path, body=None):
            r = urllib.request.Request(
                base + path,
                data=json.dumps(body).encode() if body else None,
                method=method,
            )
            with urllib.request.urlopen(r, timeout=60) as resp:
                return resp.status, resp.read().decode()

        s, _ = req("POST", "/api/data/insert/ht?api_key=k", [{"x": 1}])
        assert s == 200
        app.drain()
        import urllib.parse

        def q(sql):
            s, b = req(
                "GET",
                "/api/data/query?api_key=k&query=" + urllib.parse.quote(sql),
            )
            assert s == 200, b
            return json.loads(b)

        # one POSTed INSERT inserts exactly ONE row (validate+stream
        # must not run the statement twice)
        assert q("insert into ht values (99)") == [{"count": 1}]
        assert q("select count(*) as n from ht where x = 99") == [{"n": 1}]
        assert q("create table agg as select sum(x) as s from ht") == [
            {"count": 1}
        ]
        assert q("select s from agg") == [{"s": 100}]
    finally:
        app.server.stop()


# ------------------------- fixes from the DML adversarial review


def test_create_or_replace_self_reference(dest):
    """CREATE OR REPLACE TABLE t AS SELECT … FROM t (the standard
    cleanup idiom) must materialize the source BEFORE the old table
    is dropped — and must not lose the data on the way."""
    assert run(
        dest, "create or replace table t as select g, v from t where v < 4"
    ) == [{"count": 4}]
    assert run(dest, "select count(*) as n from t") == [{"n": 4}]
    assert run(dest, "select max(v) as m from t") == [{"m": 3}]


def test_insert_select_star_including_row_id(dest):
    """INSERT INTO archive SELECT * FROM t: the view exposes
    __row_id, so the positional width includes it; ids are
    REGENERATED (engine-internal), rows land intact."""
    run(dest, "create table archive as select * from t where 1 = 0")
    assert run(dest, "insert into archive select * from t") == [{"count": 6}]
    assert run(dest, "select count(*) as n from archive") == [{"n": 6}]
    dup = run(
        dest,
        "select count(*) as n from (select __row_id from archive"
        " group by __row_id having count(*) > 1) d",
    )
    assert dup[0]["n"] == 0


def test_insert_duplicate_source_columns_positional(dest):
    run(dest, "create table pair (a STRING, b STRING)")
    # SELECT g, g — duplicate names are positional, not ambiguous
    assert run(dest, "insert into pair select g, g from t where v = 0") == [
        {"count": 1}
    ]
    rows = run(dest, "select a, b from pair")
    assert rows == [{"a": "a", "b": "a"}]


def test_leading_comment_does_not_hide_statement(dest):
    run(dest, "-- rebuild rollup\ncreate table roll as select g from t")
    # in the ENGINE catalog, not lost in Spark's session catalog
    assert "roll" in dest.tables()


def test_drop_does_not_resurrect_old_generations(dest):
    """delete (gen flip) → drop → re-create same name: the old
    generation's parent files must not reappear at generation 0."""
    run(dest, "delete from t where v >= 3")  # flips to g1; root keeps parents
    assert run(dest, "select count(*) as n from t") == [{"n": 3}]
    run(dest, "drop table t")
    run(dest, "create table t as select 'fresh' as g, 777 as v")
    rows = run(dest, "select g, v from t")
    assert rows == [{"g": "fresh", "v": 777}]


def test_update_bad_set_expression_fails_validation(dest):
    with pytest.raises(Exception):
        dest.validate_statement("update t set v = no_such_col + 1")


def test_http_missing_table_error_names_the_table(spark, tmp_path):
    import urllib.error
    import urllib.parse
    import urllib.request

    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    cfg = Config(api_keys={"k": "default"})
    cfg.sink.max_file_age_seconds = 3600
    app = build_app(spark, cfg, str(tmp_path / "app2"))
    app.server.start()
    try:
        url = (
            f"http://127.0.0.1:{app.port}/api/data/query?api_key=k&query="
            + urllib.parse.quote("insert into nosuch select 1")
        )
        try:
            urllib.request.urlopen(url, timeout=60)
            raise AssertionError("expected an error status")
        except urllib.error.HTTPError as e:
            body = e.read().decode()
            assert "nosuch" in body
            assert "unknown destination" not in body
    finally:
        app.server.stop()


def test_partition_pruned_delete(spark, tmp_path):
    """DELETE whose predicate touches only the partition column must
    rewrite ONLY the matching partitions: untouched partition files
    are renamed (identical file names in the new generation), and a
    predicate reaching no partition is a complete no-op."""
    import os

    cat = TableCatalog(str(tmp_path / "whp"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = "\n".join(
        json.dumps({"part": p, "v": i})
        for i, p in enumerate(["x", "x", "y", "y", "z"])
    )
    seed = tmp_path / "p.ndjson"
    seed.write_text(nd + "\n")
    d.create_empty_table("pt")
    d.catalog.add_columns("dml", "pt", {"part": "string", "v": "int"})
    d.set_partitioning("pt", "part")
    d.insert_ndjson("pt", str(seed))

    cur = cat.data_dir("dml", "pt")
    files_before = {
        f for f in d._list_parquet(cur) if f.startswith("part=y/")
    }
    assert files_before
    assert run(d, "delete from pt where part = 'x'") == [{"count": 2}]
    assert run(d, "select count(*) as n from pt") == [{"n": 3}]
    # untouched partition y: same physical files, renamed over
    cur2 = cat.data_dir("dml", "pt")
    files_after = {
        f for f in d._list_parquet(cur2) if f.startswith("part=y/")
    }
    assert files_after == files_before
    # x partition is gone entirely
    assert not any(f.startswith("part=x/") for f in d._list_parquet(cur2))

    # predicate reaching no partition: no generation flip at all
    gen = cat.get("dml", "pt").generation
    assert run(d, "delete from pt where part = 'nope'") == [{"count": 0}]
    assert cat.get("dml", "pt").generation == gen

    # predicate on a NON-partition column still works (full rewrite)
    assert run(d, "delete from pt where v = 4") == [{"count": 1}]
    assert run(d, "select count(*) as n from pt") == [{"n": 2}]


def test_partition_pruned_update(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "whu"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = "\n".join(
        json.dumps({"part": p, "v": i})
        for i, p in enumerate(["x", "y", "y"])
    )
    seed = tmp_path / "u.ndjson"
    seed.write_text(nd + "\n")
    d.create_empty_table("ut")
    d.catalog.add_columns("dml", "ut", {"part": "string", "v": "int"})
    d.set_partitioning("ut", "part")
    d.insert_ndjson("ut", str(seed))
    cur = cat.data_dir("dml", "ut")
    x_files = {f for f in d._list_parquet(cur) if f.startswith("part=x/")}

    assert run(d, "update ut set v = v * 10 where part = 'y'") == [
        {"count": 2}
    ]
    rows = run(d, "select part, v from ut order by v")
    assert rows == [
        {"part": "x", "v": 0},
        {"part": "y", "v": 10},
        {"part": "y", "v": 20},
    ]
    # x partition renamed over untouched
    cur2 = cat.data_dir("dml", "ut")
    assert {
        f for f in d._list_parquet(cur2) if f.startswith("part=x/")
    } == x_files


def test_copy_to_exports(dest, tmp_path):
    """COPY … TO 'path': single exact-path file by default (DuckDB's
    contract), distributed part directory with PER_THREAD_OUTPUT."""
    import csv
    import os

    import duckdb

    p = tmp_path / "out.parquet"
    assert run(dest, f"copy (select g, v from t order by v) to '{p}'") == [
        {"count": 6}
    ]
    assert p.is_file()
    rows = duckdb.sql(f"select g, v from '{p}' order by v").fetchall()
    assert rows[0] == ("a", 0) and len(rows) == 6

    c = tmp_path / "out.csv"
    run(dest, f"copy t to '{c}' (HEADER, DELIMITER '|')")
    with open(c) as f:
        header = f.readline().strip().split("|")
    assert "g" in header and "v" in header

    d = tmp_path / "parts"
    run(
        dest,
        f"copy (select * from t) to '{d}' (FORMAT PARQUET, PER_THREAD_OUTPUT)",
    )
    assert os.path.isdir(d)
    assert any(f.endswith(".parquet") for f in os.listdir(d))

    with pytest.raises(Exception, match="unsupported format"):
        run(dest, f"copy t to '{tmp_path}/x.xlsx'")


def test_create_view_persists_across_sessions(spark, dest):
    """CREATE VIEW stores the SQL in the catalog; a brand-new Spark
    session over the same warehouse resolves it — spark.sql's session
    catalog could never do this."""
    run(dest, "create view busy as select g, count(*) as n from t group by g")
    assert run(dest, "select * from busy order by g") == [
        {"g": "a", "n": 2}, {"g": "b", "n": 2}, {"g": "c", "n": 2},
    ]
    # fresh session, same warehouse
    d2 = SparkDestination(spark.newSession(), dest.catalog, "dml")
    assert run(d2, "select n from busy where g = 'a'") == [{"n": 2}]
    # view-on-view and OR REPLACE
    run(dest, "create view busy2 as select sum(n) as total from busy")
    assert run(dest, "select total from busy2") == [{"total": 6}]
    run(dest, "create or replace view busy as select 1 as one")
    assert run(dest, "select one from busy") == [{"one": 1}]
    with pytest.raises(Exception, match="view exists"):
        run(dest, "create view busy as select 2 as two")
    # dialect text inside a stored view
    run(dest, "create view halves as select v // 2 as h from t")
    assert run(dest, "select max(h) as m from halves") == [{"m": 2}]
    # drop
    run(dest, "drop view busy2")
    with pytest.raises(Exception):
        run(dest, "select * from busy2")
    assert run(dest, "drop view if exists busy2") == [{"count": 0}]
    with pytest.raises(KeyError):
        run(dest, "drop view busy2")


def test_alter_table_add_and_drop_column(dest):
    run(dest, "alter table t add column note STRING")
    cols = {c["name"] for c in dest.columns("t")}
    assert "note" in cols
    # new column reads NULL from pre-existing rows, accepts inserts
    assert run(dest, "select count(*) as n from t where note is null") == [
        {"n": 6}
    ]
    run(dest, "insert into t values ('d', 10, 'hello')")
    assert run(dest, "select note from t where g = 'd'") == [{"note": "hello"}]
    with pytest.raises(Exception, match="column exists"):
        run(dest, "alter table t add column note STRING")
    assert run(
        dest, "alter table t add column if not exists note STRING"
    ) == [{"count": 0}]
    # drop: metadata-only, column vanishes from scans
    run(dest, "alter table t drop column note")
    assert "note" not in {c["name"] for c in dest.columns("t")}
    with pytest.raises(Exception):
        run(dest, "select note from t")
    # re-ADD is refused: parquet files still carry old values
    with pytest.raises(Exception, match="resurrect"):
        run(dest, "alter table t add column note INT")
    with pytest.raises(Exception, match="unknown column"):
        run(dest, "alter table t drop column nope")


# ------------------- fixes from the views/COPY adversarial review


def test_ingest_skips_tombstoned_column(dest, tmp_path):
    """A producer still posting a dropped field must not break
    ingest: the tombstone refuses only the explicit ALTER ADD."""
    run(dest, "alter table t add column extra STRING")
    run(dest, "alter table t drop column extra")
    nd = json.dumps({"g": "n", "v": 50, "extra": "still here"})
    p = tmp_path / "late.ndjson"
    p.write_text(nd + "\n")
    dest.insert_ndjson("t", str(p))  # must not raise
    assert run(dest, "select v from t where g = 'n'") == [{"v": 50}]
    assert "extra" not in {c["name"] for c in dest.columns("t")}


def test_copy_rejects_nested_statement(dest, tmp_path):
    """COPY (delete from t) must be refused — a nested statement
    would execute during zero-side-effect validation AND again at
    serialization. The same holds for every embedded source: a CTAS
    body, a MERGE or DELETE USING subquery."""
    before = run(dest, "select count(*) as n from t")[0]["n"]
    for q in (
        f"copy (delete from t) to '{tmp_path}/x.json'",
        "create table x as delete from t where v = 0",
        "merge into t using (delete from t where v = 1) s on true"
        " when matched then delete",
        "delete from t using (delete from t where v = 2) s where true",
    ):
        with pytest.raises(Exception, match="must be a SELECT"):
            dest.validate_statement(q)
        with pytest.raises(Exception, match="must be a SELECT"):
            run(dest, q)
    assert run(dest, "select count(*) as n from t") == [{"n": before}]
    assert dest.tables() == ["t"]


def test_table_cannot_shadow_view_and_vice_versa(dest):
    run(dest, "create view shadow as select 1 as x")
    with pytest.raises(Exception, match="view exists"):
        run(dest, "create table shadow as select 2 as x")
    with pytest.raises(Exception, match="view exists"):
        run(dest, "create table shadow (a INT)")
    with pytest.raises(Exception, match="table exists"):
        run(dest, "create view t as select 1 as x")


def test_view_chain_depth_three_resolves_in_fresh_session(spark, dest):
    """Adverse alphabetical order: a reads b reads c reads t — a
    fixed two-pass registration would lose 'a' in a new session."""
    run(dest, "create view v_c as select v from t")
    run(dest, "create view v_b as select v + 1 as v from v_c")
    run(dest, "create view v_a as select v + 1 as v from v_b")
    d2 = SparkDestination(spark.newSession(), dest.catalog, "dml")
    assert run(d2, "select max(v) as m from v_a") == [{"m": 7}]


def test_empty_copy_to_writes_valid_files(dest, tmp_path):
    import duckdb

    p = tmp_path / "empty.parquet"
    assert run(dest, f"copy (select g, v from t where 1 = 0) to '{p}'") == [
        {"count": 0}
    ]
    # a VALID parquet file with the schema, not a 0-byte stub
    assert duckdb.sql(f"select * from '{p}'").fetchall() == []
    assert duckdb.sql(f"select * from '{p}' limit 0").columns == ["g", "v"]
    c = tmp_path / "empty.csv"
    run(dest, f"copy (select g from t where 1 = 0) to '{c}' (HEADER)")
    assert open(c).readline().strip() == "g"


def _warehouse_state(dest):
    """Every file under the warehouse (catalog entries, stored views,
    data dirs) with its size and mtime."""
    import os

    root = dest.catalog.warehouse
    return {
        os.path.relpath(os.path.join(dirpath, f), root): (
            os.stat(os.path.join(dirpath, f)).st_size,
            os.stat(os.path.join(dirpath, f)).st_mtime_ns,
        )
        for dirpath, _dirs, files in os.walk(root)
        for f in files
    }


def _refused_alike(dest, q, match):
    """Validation and execution refuse ``q`` with the same error, and
    neither changes the warehouse."""
    before = _warehouse_state(dest)
    errors = []
    for call in (dest.validate_statement, dest.query_df):
        with pytest.raises(Exception, match=match) as err:
            call(q)
        errors.append((type(err.value), str(err.value).splitlines()[0]))
    assert errors[0] == errors[1], q
    assert _warehouse_state(dest) == before, q


def test_validation_covers_view_and_alter_failures(dest):
    """Every failure mode must surface at validation, before the
    HTTP layer commits to a 200, with the error execution raises."""
    run(dest, "create view vv as select 1 as x")
    _refused_alike(dest, "create view vv as select 2 as y", "view exists")
    _refused_alike(dest, "create view t as select 1 as x", "table exists")
    _refused_alike(dest, "drop view nosuch", "no such view")
    _refused_alike(dest, "alter table t add column v STRING", "column exists")
    _refused_alike(dest, "alter table t drop column nosuch", "unknown column")
    _refused_alike(dest, "alter table t drop column __row_id", "engine-internal")
    run(dest, "alter table t add column gone INT")
    run(dest, "alter table t drop column gone")
    _refused_alike(dest, "alter table t add column gone INT", "resurrect")


def test_each_statement_kind_is_refused_alike(dest, tmp_path):
    """One failing statement per kind: validation runs the same plan
    step execution runs, so both raise the same error and neither
    writes — a CREATE with an unknown PRIMARY KEY column leaves no
    table behind."""
    extra = tmp_path / "extra.parquet"
    dest.spark.createDataFrame(
        [("x", 1, 2)], "g string, v long, nope long"
    ).write.parquet(str(extra))
    for q, match in (
        ("create table t as select 1 as x", "table exists: t"),
        ("create table t (a INT)", "table exists: t"),
        ("create table u (a INT, primary key (zz))", "PRIMARY KEY column: zz"),
        ("create table u (a INT default nosuch_fn(1))", "nosuch_fn"),
        ("insert into t values ('q', 1, 2)", "arity"),
        ("insert into t values ('q', 1) returning nosuch", "nosuch"),
        ("drop table nosuch", "no such table: nosuch"),
        ("truncate nosuch", "no such table: nosuch"),
        ("delete from t where nosuch = 1", "nosuch"),
        ("delete from t using t as t where true", "aliases collide"),
        ("update t set nosuch = 1", "unknown column: nosuch"),
        (
            "update t set v = s.x from (select 1 as x) s where t.nosuch = s.x",
            "nosuch",
        ),
        (
            "merge into t using (select 'zz' as g, 1 as nv) s on t.g = s.g"
            " when not matched then insert (g) values (s.g, s.nv)",
            "arity",
        ),
        (f"copy t to '{tmp_path}/out.xyz'", "unsupported format"),
        (f"copy t from '{extra}'", "not on t"),
        ("compact table t cluster by (nope)", "unknown sort column"),
    ):
        _refused_alike(dest, q, match)
    assert dest.tables() == ["t"]


def test_file_level_pruned_delete(spark, tmp_path):
    """Unpartitioned table, three insert batches with disjoint v
    ranges → three parquet files with disjoint min/max. A DELETE on
    one range rewrites ONLY that file; the others adopt by rename."""
    cat = TableCatalog(str(tmp_path / "whf"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    for lo in (0, 100, 200):
        nd = "\n".join(
            json.dumps({"g": "x", "v": lo + i}) for i in range(10)
        )
        p = tmp_path / f"b{lo}.ndjson"
        p.write_text(nd + "\n")
        d.insert_ndjson("ft", str(p))
    cur = cat.data_dir("dml", "ft")
    files = d._list_parquet(cur)
    assert len(files) >= 3

    # identify which files can contain v in [100, 110): footer check
    import pyarrow.parquet as pq

    def vrange(f):
        md = pq.ParquetFile(f"{cur}/{f}").metadata
        ci = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "v"
        )
        st = md.row_group(0).column(ci).statistics
        return st.min, st.max

    low_files = {f for f in files if vrange(f)[1] < 100}
    assert low_files  # the 0-99 batch

    assert run(d, "delete from ft where v >= 100 and v < 110") == [
        {"count": 10}
    ]
    assert run(d, "select count(*) as n from ft") == [{"n": 20}]
    # the sub-100 files were adopted unchanged (same names, new gen)
    cur2 = cat.data_dir("dml", "ft")
    after = set(d._list_parquet(cur2))
    assert low_files <= after
    # a predicate provably outside every file's range: complete no-op
    gen = cat.get("dml", "ft").generation
    assert run(d, "delete from ft where v > 10000") == [{"count": 0}]
    assert cat.get("dml", "ft").generation == gen
    # a non-prunable predicate (string col) still deletes correctly
    assert run(d, "delete from ft where g = 'x' and v = 0") == [{"count": 1}]
    assert run(d, "select count(*) as n from ft") == [{"n": 19}]


def test_numeric_conjunct_parser_soundness(spark, tmp_path):
    from scratchdata_spark.warehouse_dml import _numeric_conjuncts

    cat = TableCatalog(str(tmp_path / "whc"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = json.dumps({"g": "x", "v": 1, "f": 1.5})
    p = tmp_path / "c.ndjson"
    p.write_text(nd + "\n")
    d.insert_ndjson("ct", str(p))
    info = cat.get("dml", "ct")
    assert _numeric_conjuncts(info, "v >= 100 AND v < 110") == [
        ("v", ">=", 100.0), ("v", "<", 110.0)
    ]
    assert _numeric_conjuncts(info, "250 > v") == [("v", "<", 250.0)]
    # OR / NOT / string literals / non-numeric cols: no pruning
    assert _numeric_conjuncts(info, "v = 1 OR v = 2") == []
    assert _numeric_conjuncts(info, "NOT v = 1") == []
    assert _numeric_conjuncts(info, "g = 'x' AND v = 1") == []
    assert _numeric_conjuncts(info, "g = 'x'") == []
    # mixed with an unusable conjunct: the usable one still prunes
    assert _numeric_conjuncts(info, "length(g) > 1 AND v = 5") == [
        ("v", "=", 5.0)
    ]


def test_file_pruning_bigint_precision_and_case(spark, tmp_path):
    """Stats and literals above 2^53 must compare exactly (float()
    coercion would equate 2^53 and 2^53+1 and wrongly prune); column
    matching is case-insensitive like Spark's resolution; float
    columns never prune (NaN orders above everything in Spark while
    some writers exclude it from min/max)."""
    from scratchdata_spark.warehouse_dml import (
        _file_may_match,
        _numeric_conjuncts,
    )

    cat = TableCatalog(str(tmp_path / "whb"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    big = 2**53
    nd = json.dumps({"v": big + 1, "f": 1.5})
    p = tmp_path / "big.ndjson"
    p.write_text(nd + "\n")
    d.insert_ndjson("bt", str(p))
    info = cat.get("dml", "bt")

    cj = _numeric_conjuncts(info, f"v > {big}")
    assert cj and isinstance(cj[0][2], int)
    f = next(
        f"{cat.data_dir('dml', 'bt')}/{x}"
        for x in d._list_parquet(cat.data_dir("dml", "bt"))
    )
    # the file HOLDS 2^53+1 > 2^53: must NOT be pruned
    assert _file_may_match(f, cj) is True
    # a range provably above the file's max IS pruned
    assert _file_may_match(f, _numeric_conjuncts(info, f"v > {big + 1}")) is False
    # case-insensitive column match still prunes
    assert _numeric_conjuncts(info, "V > 5")[0][0] == "v"
    # float/double columns: no pruning conjuncts at all
    assert _numeric_conjuncts(info, "f > 100.0") == []


def test_views_appear_in_introspection(dest):
    """DuckDB's SHOW TABLES (the reference's /api/tables source)
    lists views; so do ours, with columns derived from the view's
    analyzed schema."""
    run(dest, "create view intro_v as select g, count(*) as n from t group by g")
    assert "intro_v" in dest.tables()
    cols = {c["name"]: c["type"] for c in dest.columns("intro_v")}
    assert cols == {"g": "string", "n": "bigint"}
    run(dest, "drop view intro_v")
    assert "intro_v" not in dest.tables()


def test_primary_key_and_upsert_statements(spark, tmp_path):
    """CREATE with constraints (PK recorded, rest stripped), INSERT OR
    IGNORE/REPLACE, and ON CONFLICT DO NOTHING / DO UPDATE
    (EXCLUDED.col form) — the idempotent-ingest/upsert surface."""
    cat = TableCatalog(str(tmp_path / "whk"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    run(d, "create table kv (k INT PRIMARY KEY, a STRING, b INT NOT NULL)")
    assert cat.get("dml", "kv").primary_key == ["k"]
    assert [c["name"] for c in d.columns("kv")] == ["__row_id", "k", "a", "b"]
    run(d, "insert into kv values (1, 'one', 10), (2, 'two', 20)")

    # OR IGNORE: existing key 2 keeps its row, key 3 lands
    assert run(
        d, "insert or ignore into kv values (2, 'TWO', 99), (3, 'three', 30)"
    ) == [{"count": 1}]
    assert run(d, "select a from kv where k = 2") == [{"a": "two"}]
    assert run(d, "select count(*) as n from kv") == [{"n": 3}]

    # OR REPLACE: whole-row replacement
    run(d, "insert or replace into kv values (2, 'TWO', 99)")
    assert run(d, "select a, b from kv where k = 2") == [{"a": "TWO", "b": 99}]
    assert run(d, "select count(*) as n from kv") == [{"n": 3}]

    # ON CONFLICT (k) DO NOTHING — explicit target
    assert run(
        d,
        "insert into kv values (3, 'x', 0), (4, 'four', 40)"
        " on conflict (k) do nothing",
    ) == [{"count": 1}]
    assert run(d, "select a from kv where k = 3") == [{"a": "three"}]

    # DO UPDATE SET a = EXCLUDED.a: listed column replaced on match,
    # unlisted column (b) retained; new key inserted
    run(
        d,
        "insert into kv values (4, 'FOUR', 44), (5, 'five', 50)"
        " on conflict do update set a = EXCLUDED.a",
    )
    assert run(d, "select a, b from kv where k = 4") == [
        {"a": "FOUR", "b": 40}
    ]
    assert run(d, "select a from kv where k = 5") == [{"a": "five"}]
    # row ids stay unique through the merge
    dup = run(
        d,
        "select count(*) as n from (select __row_id from kv"
        " group by __row_id having count(*) > 1) x",
    )
    assert dup[0]["n"] == 0

    # guardrails: arbitrary DO UPDATE exprs and PK-less OR IGNORE fail
    # at VALIDATION (before HTTP commits a 200)
    with pytest.raises(ValueError, match="EXCLUDED"):
        d.validate_statement(
            "insert into kv values (9, 'x', 0)"
            " on conflict do update set a = upper(EXCLUDED.a)"
        )
    run(d, "create table nopk (x INT)")
    with pytest.raises(ValueError, match="conflict target"):
        d.validate_statement("insert or ignore into nopk values (1)")
    # PK columns cannot be dropped
    with pytest.raises(Exception, match="PRIMARY KEY"):
        run(d, "alter table kv drop column k")


def test_upsert_prunes_files_and_inserts_out_of_range_keys(spark, tmp_path):
    """Upsert file pruning by batch-key range: files whose key range
    cannot intersect the batch adopt by rename; and when NO file can
    match (all batch keys new, out of range), the batch must still
    insert — an empty touched set is not a no-op for upserts."""
    cat = TableCatalog(str(tmp_path / "whu2"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    run(d, "create table ks (k INT PRIMARY KEY, a STRING)")
    for lo in (0, 100):
        run(
            d,
            "insert into ks values "
            + ", ".join(f"({lo + i}, 'v{lo + i}')" for i in range(5)),
        )
    cur = cat.data_dir("dml", "ks")
    files = d._list_parquet(cur)
    assert len(files) >= 2

    # upsert touching only the 100-range: low-range file adopts
    import pyarrow.parquet as pq

    def kmax(f):
        md = pq.ParquetFile(f"{cur}/{f}").metadata
        ci = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "k"
        )
        return md.row_group(0).column(ci).statistics.max

    low_files = {f for f in files if kmax(f) < 100}
    assert low_files
    run(d, "insert or replace into ks values (101, 'REPL')")
    cur2 = cat.data_dir("dml", "ks")
    assert low_files <= set(d._list_parquet(cur2))
    assert run(d, "select a from ks where k = 101") == [{"a": "REPL"}]
    assert run(d, "select count(*) as n from ks") == [{"n": 10}]

    # batch entirely out of range: still inserted (no silent drop)
    run(d, "insert or replace into ks values (999, 'new')")
    assert run(d, "select a from ks where k = 999") == [{"a": "new"}]
    assert run(d, "select count(*) as n from ks") == [{"n": 11}]


def test_create_constraint_stripping_edge_cases(spark, tmp_path):
    from scratchdata_spark.warehouse_dml import _parse_column_defs

    clean, pk, dflt = _parse_column_defs("k INT DEFAULT 0 PRIMARY KEY, a STRING")
    assert pk == ["k"] and clean == "k INT, a STRING"
    assert dflt == {"k": "0"}  # r11: DEFAULT recorded, not dropped
    clean, pk, dflt = _parse_column_defs(
        "a INT, b INT, CONSTRAINT pk PRIMARY KEY (a, b)"
    )
    assert pk == ["a", "b"] and clean == "a INT, b INT" and dflt == {}
    clean, pk, dflt = _parse_column_defs("x INT, CHECK (x > 0), UNIQUE (x)")
    assert pk == [] and clean == "x INT"
    clean, pk, dflt = _parse_column_defs(
        "u INT REFERENCES users(id) PRIMARY KEY, note STRING DEFAULT 'a,b'"
    )
    assert pk == ["u"] and clean == "u INT, note STRING"
    assert dflt == {"note": "'a,b'"}  # literal default, comma intact
    # end-to-end: constrained DDL creates and inserts fine
    cat = TableCatalog(str(tmp_path / "whc2"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    run(
        d,
        "create table cx (id INT NOT NULL, v DOUBLE DEFAULT 1.5,"
        " CONSTRAINT ck CHECK (v > 0), PRIMARY KEY (id))",
    )
    assert cat.get("dml", "cx").primary_key == ["id"]
    run(d, "insert or ignore into cx values (1, 2.0), (1, 3.0)")
    assert run(d, "select count(*) as n from cx") == [{"n": 1}]


def test_multi_statement_script(spark, tmp_path):
    """A saved DuckDB script — several statements in one submission —
    executes in order and answers with the LAST statement's result,
    including through the HTTP validate-then-stream shape (exactly
    once per statement)."""
    cat = TableCatalog(str(tmp_path / "whs"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    out = run(
        d,
        "create table s1 (k INT PRIMARY KEY, v STRING);"
        " insert into s1 values (1, 'a'), (2, 'b');"
        " insert or ignore into s1 values (2, 'DUP'), (3, 'c');"
        " select k, v from s1 order by k",
    )
    assert out == [
        {"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}
    ]
    # validation of a script: no side effects, later-part references
    # to tables created earlier in the script are tolerated
    q = (
        "create table s2 as select 41 + 1 as x;"
        " insert into s2 select x + 1 from s2;"
        " select count(*) as n from s2"
    )
    assert d.validate_statement(q) is True
    assert "s2" not in d.tables()  # validate did NOT execute
    assert run(d, q) == [{"n": 2}]
    # a genuinely broken later statement still fails validation
    with pytest.raises(Exception):
        d.validate_statement("select 1; insert into nosuch select 1")
    # a script may drop a table and create it again, in either form
    for create, n in (
        ("create table s2 (k INT)", 0),
        ("create table s2 as select 5 as k", 1),
    ):
        q = f"drop table s2; {create}; select count(*) as n from s2"
        before = run(d, "select * from s2")
        assert d.validate_statement(q) is True
        assert run(d, "select * from s2") == before
        assert run(d, q) == [{"n": n}]
    # semicolons inside string literals never split
    assert run(d, "select 'a;b' as s") == [{"s": "a;b"}]


# ----------------- round-5 advisor fixes: view staleness, COPY root


def test_view_sees_table_mutations(dest):
    """A stored view must re-resolve after base-table DML: the view
    temp view pins the base plan + file listing at registration, so
    INSERT/DELETE/UPDATE must force re-registration (DuckDB, the
    reference, re-resolves views per query)."""
    run(dest, "create view totals as select g, sum(v) as s from t group by g")
    assert run(dest, "select s from totals where g = 'a'") == [{"s": 1}]
    run(dest, "insert into t values ('a', 100)")
    assert run(dest, "select s from totals where g = 'a'") == [{"s": 101}]
    run(dest, "update t set v = v + 1 where g = 'a'")
    assert run(dest, "select s from totals where g = 'a'") == [{"s": 104}]
    run(dest, "delete from t where g = 'a'")
    assert run(dest, "select count(*) as n from totals where g = 'a'") == [
        {"n": 0}
    ]


def test_view_survives_generation_flips(dest):
    """Two copy-on-write flips retire the g<N> dir a pinned view plan
    would still point at — reads through the view must not fail on
    missing input files."""
    run(dest, "create view vv as select count(*) as n from t")
    assert run(dest, "select n from vv") == [{"n": 6}]
    run(dest, "delete from t where v = 0")
    run(dest, "delete from t where v = 1")
    run(dest, "delete from t where v = 2")
    assert run(dest, "select n from vv") == [{"n": 3}]


def test_dropped_view_leaves_session(dest):
    run(dest, "create view ephem as select 1 as one")
    assert run(dest, "select one from ephem") == [{"one": 1}]
    run(dest, "drop view ephem")
    with pytest.raises(Exception):
        run(dest, "select one from ephem")


def test_copy_to_confined_to_export_root(spark, tmp_path):
    """With export_root set (the HTTP service always sets it), COPY TO
    may only write under it — a query API key must not be a
    filesystem-write primitive against the catalog/metadata files."""
    import os

    cat = TableCatalog(str(tmp_path / "wh"))
    root = tmp_path / "exports"
    d = SparkDestination(
        spark.newSession(), cat, "dml", export_root=str(root)
    )
    p = tmp_path / "seed.ndjson"
    p.write_text(json.dumps({"g": "a", "v": 1}) + "\n")
    d.insert_ndjson("t", str(p))
    # relative target lands under the root
    assert run(d, "copy t to 'out.csv' (HEADER)") == [{"count": 1}]
    assert (root / "out.csv").is_file()
    # absolute target inside the root is fine
    run(d, f"copy t to '{root}/abs.json'")
    assert (root / "abs.json").is_file()
    # escapes are refused — both at execution and at validation time
    outside = tmp_path / "wh" / "dml" / "t" / "evil.csv"
    with pytest.raises(Exception, match="export root"):
        run(d, f"copy t to '{outside}'")
    with pytest.raises(Exception, match="export root"):
        d.validate_statement(f"copy t to '{outside}'")
    with pytest.raises(Exception, match="export root"):
        run(d, "copy t to '../escape.csv'")
    assert not outside.exists()


def test_copy_to_validation_creates_no_export_root(spark, tmp_path):
    """Validating a COPY TO writes nothing, not even the export root;
    executing it creates the root and writes the file."""
    cat = TableCatalog(str(tmp_path / "wh"))
    root = tmp_path / "exports"
    d = SparkDestination(spark.newSession(), cat, "dml", export_root=str(root))
    p = tmp_path / "seed.ndjson"
    p.write_text(json.dumps({"g": "a", "v": 1}) + "\n")
    d.insert_ndjson("t", str(p))
    assert d.validate_statement("copy t to 'x.csv'")
    assert not root.exists()
    assert run(d, "copy t to 'x.csv'") == [{"count": 1}]
    assert (root / "x.csv").is_file()


def test_update_count_matches_snapshot(dest):
    """UPDATE's reported count is computed on the locked snapshot the
    rewrite transforms (not a separate pre-lock scan)."""
    assert run(dest, "update t set v = v + 10 where g = 'b'") == [
        {"count": 2}
    ]
    assert run(dest, "update t set v = 0 where g = 'zz'") == [{"count": 0}]


def test_script_validation_not_fooled_by_short_names(spark, tmp_path):
    """A pending created-table named 't' or 'a' must not swallow
    genuine later-statement failures whose error text merely CONTAINS
    that letter (bare substring matching would: 'table' contains 'a')."""
    cat = TableCatalog(str(tmp_path / "wh"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    # 'a' is pending; the second statement fails on a DIFFERENT
    # missing table — must raise, not return 200-shaped True
    with pytest.raises(Exception):
        d.validate_statement(
            "create table a as select 1 as x; insert into nosuch select 1"
        )
    # the legitimate forward reference still validates
    assert d.validate_statement(
        "create table a as select 1 as x; select * from a"
    )
    # a pending name that is ALSO a word in Spark's error boilerplate
    # ('catalog', 'schema') must not mark unrelated failures expected
    with pytest.raises(Exception):
        d.validate_statement(
            "create table catalog as select 1 as x;"
            " insert into nosuch select 1"
        )


# --------------------------------------------------------- MERGE INTO


def test_merge_update_insert_delete(dest, tmp_path):
    """The standard three-clause MERGE: matched rows update or delete
    (first-match-wins), unmatched source rows insert."""
    run(dest, "create table tgt as select g, v from t where v < 4")
    assert run(dest, "select count(*) as n from tgt") == [{"n": 4}]
    run(
        dest,
        "create table src as select * from (values ('a', 100), ('zz', 7),"
        " ('b', -1)) as x(g, nv)",
    )
    out = run(
        dest,
        "merge into tgt using src on tgt.g = src.g and tgt.v % 2 = 0"
        " when matched and src.nv < 0 then delete"
        " when matched then update set v = src.nv"
        " when not matched then insert (g, v) values (src.g, src.nv)",
    )
    rows = run(dest, "select g, v from tgt order by g, v")
    # v<4 rows: a0 a1 b2 b3. Even-v matched: a0 (nv=100 -> update),
    # b2 (nv=-1 -> delete). Odd-v rows untouched. src rows with no
    # even-v match: zz -> insert; 'a'/'b' matched so not inserted.
    assert rows == [
        {"g": "a", "v": 1},
        {"g": "a", "v": 100},
        {"g": "b", "v": 3},
        {"g": "zz", "v": 7},
    ]
    assert out == [{"count": 3}]  # 2 matched + 1 inserted


def test_merge_count_excludes_predicate_misses(dest):
    """A matched target row counts as affected only when some WHEN
    MATCHED clause predicate actually fires on it — `WHEN MATCHED AND
    s.nv < 0` with no qualifying rows must report 0, not every
    ON-match (round-5 advisor finding)."""
    run(dest, "create table pm as select g, v from t where v < 2")
    run(
        dest,
        "create table pmsrc as select * from (values ('a', 5))"
        " as x(g, nv)",
    )
    out = run(
        dest,
        "merge into pm using pmsrc on pm.g = pmsrc.g and pm.v = 0"
        " when matched and pmsrc.nv < 0 then update set v = pmsrc.nv",
    )
    assert out == [{"count": 0}]
    # and the qualifying case still counts
    out = run(
        dest,
        "merge into pm using pmsrc on pm.g = pmsrc.g and pm.v = 0"
        " when matched and pmsrc.nv > 0 then update set v = pmsrc.nv",
    )
    assert out == [{"count": 1}]
    assert run(dest, "select v from pm where g = 'a' order by v") == [
        {"v": 1},
        {"v": 5},
    ]


def test_merge_insert_star_by_name(dest):
    run(dest, "create table m2 as select g, v from t where v = 0")
    out = run(
        dest,
        "merge into m2 using (select g, v from t where v >= 4) s"
        " on m2.g = s.g when not matched then insert *",
    )
    assert out == [{"count": 2}]
    assert run(dest, "select count(*) as n from m2") == [{"n": 3}]


def test_merge_multiple_match_raises(dest):
    """A target row matching several source rows must raise, not pick
    one silently (SQL cardinality rule)."""
    run(dest, "create table m3 as select g, v from t where v = 0")
    run(
        dest,
        "create table msrc as select * from (values ('a', 1), ('a', 2))"
        " as x(g, nv)",
    )
    with pytest.raises(Exception, match="[Mm]ultiple source rows"):
        run(
            dest,
            "merge into m3 using msrc on m3.g = msrc.g"
            " when matched then update set v = msrc.nv",
        )
    # table unchanged after the failed rewrite
    assert run(dest, "select v from m3") == [{"v": 0}]


def test_merge_validates_without_executing(dest):
    assert dest.validate_statement(
        "merge into t using (select 'a' as g, 1 as nv) s on t.g = s.g"
        " when matched then update set v = s.nv"
    )
    with pytest.raises(Exception, match="needs an alias"):
        dest.validate_statement(
            "merge into t using (select 1 as x) on true"
            " when matched then delete"
        )
    with pytest.raises(Exception, match="must INSERT"):
        dest.validate_statement(
            "merge into t using t2 on true when not matched then delete"
        )
    before = run(dest, "select count(*) as n from t")[0]["n"]
    assert run(dest, "select count(*) as n from t") == [{"n": before}]


def test_merge_insert_only_ignores_multiple_matches(dest):
    """SQL cardinality rule applies only to UPDATE/DELETE clauses —
    an insert-only MERGE with a multiply-matched target succeeds
    (SQL Server / Delta semantics)."""
    run(dest, "create table io as select g, v from t where v = 0")
    run(
        dest,
        "create table iosrc as select * from (values ('a', 1), ('a', 2),"
        " ('q', 9)) as x(g, nv)",
    )
    out = run(
        dest,
        "merge into io using iosrc on io.g = iosrc.g"
        " when not matched then insert (g, v) values (iosrc.g, iosrc.nv)",
    )
    assert out == [{"count": 1}]  # only 'q' inserted
    assert run(dest, "select g, v from io order by g") == [
        {"g": "a", "v": 0}, {"g": "q", "v": 9},
    ]


def test_merge_insert_arity_and_qualified_set(dest):
    with pytest.raises(Exception, match="arity"):
        run(
            dest,
            "merge into t using (select 'zz' as g, 1 as nv) s on t.g = s.g"
            " when not matched then insert (g) values (s.g, s.nv)",
        )
    # alias-qualified SET target column is accepted
    run(dest, "create table qs as select g, v from t where v = 0")
    run(
        dest,
        "merge into qs using (select 'a' as g, 77 as nv) s on qs.g = s.g"
        " when matched then update set qs.v = s.nv",
    )
    assert run(dest, "select v from qs") == [{"v": 77}]


def test_merge_validate_analyzes_expressions(dest):
    """A typo'd column in ON / SET / VALUES must fail validation, not
    execution after the HTTP 200 (validate-then-stream shape)."""
    for bad in (
        "merge into t using (select 'a' as g) s on t.nosuch = s.g"
        " when matched then delete",
        "merge into t using (select 'a' as g) s on t.g = s.g"
        " when matched then update set v = s.typo_col",
        "merge into t using (select 'a' as g) s on t.g = s.g"
        " when not matched then insert (v) values (s.missing + 1)",
    ):
        with pytest.raises(Exception):
            dest.validate_statement(bad)


def test_merge_prunes_files_by_key_range(spark, tmp_path):
    """A MERGE whose ON is an equi-join on an integer key rewrites
    only the files the source key range can reach — the rest adopt by
    rename (same reach bound as upserts)."""
    cat = TableCatalog(str(tmp_path / "whm"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    for lo in (0, 100, 200):
        nd = "\n".join(
            json.dumps({"k": lo + i, "x": "old"} ) for i in range(10)
        )
        p = tmp_path / f"m{lo}.ndjson"
        p.write_text(nd + "\n")
        d.insert_ndjson("mt", str(p))
    cur = cat.data_dir("dml", "mt")
    import pyarrow.parquet as pq

    def krange(f):
        md = pq.ParquetFile(f"{cur}/{f}").metadata
        ci = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "k"
        )
        st = md.row_group(0).column(ci).statistics
        return st.min, st.max

    files = d._list_parquet(cur)
    low_files = {f for f in files if krange(f)[1] < 100}
    assert low_files
    out = run(
        d,
        "merge into mt using (select * from (values (105, 'new'),"
        " (300, 'ins')) as v(k, nx)) s on mt.k = s.k"
        " when matched then update set x = s.nx"
        " when not matched then insert (k, x) values (s.k, s.nx)",
    )
    assert out == [{"count": 2}]
    assert run(d, "select x from mt where k = 105") == [{"x": "new"}]
    assert run(d, "select x from mt where k = 300") == [{"x": "ins"}]
    assert run(d, "select count(*) as n from mt") == [{"n": 31}]
    # the sub-100 files adopted unchanged (same names in the new gen)
    after = set(d._list_parquet(cat.data_dir("dml", "mt")))
    assert low_files <= after


def test_merge_string_source_key_never_mispruned(spark, tmp_path):
    """A STRING-typed source key must disable key-range pruning: its
    lexicographic min/max ('100' < '9') is unsound for the numeric
    equi-join, and pruning on it would silently drop matched updates
    and re-insert duplicates."""
    cat = TableCatalog(str(tmp_path / "whsk"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = "\n".join(json.dumps({"k": k, "x": "old"}) for k in range(10))
    p = tmp_path / "sk.ndjson"
    p.write_text(nd + "\n")
    d.insert_ndjson("sk", str(p))
    out = run(
        d,
        "merge into sk using (select * from (values ('9', 'new'),"
        " ('100', 'ins')) as v(k, nx)) s on sk.k = s.k"
        " when matched then update set x = s.nx"
        " when not matched then insert (k, x) values (s.k, s.nx)",
    )
    assert out == [{"count": 2}]
    # the k=9 update must land (not be pruned away), exactly once
    assert run(d, "select x from sk where k = 9") == [{"x": "new"}]
    assert run(d, "select count(*) as n from sk where k = 9") == [{"n": 1}]
    assert run(d, "select count(*) as n from sk") == [{"n": 11}]


def test_compact_table_statement(dest, tmp_path):
    """COMPACT TABLE through the SQL surface: folds files, flips the
    generation, validates CLUSTER BY columns, reports below-min_files
    as a no-op row instead of erroring."""
    for i in range(5):
        p = tmp_path / f"more{i}.ndjson"
        p.write_text(json.dumps({"g": "z", "v": 100 + i}) + "\n")
        dest.insert_ndjson("t", str(p))
    out = run(dest, "COMPACT TABLE t MIN FILES 2")
    assert out[0]["compacted"] is True and out[0]["generation"] == 1
    assert out[0]["files_out"] < out[0]["files_in"]
    assert run(dest, "select count(*) as n from t") == [{"n": 11}]

    # below min_files now: no-op with a reason, not an error
    out = run(dest, "COMPACT TABLE t MIN FILES 99")
    assert out[0]["compacted"] is False and out[0]["reason"] == "below min_files"

    # CLUSTER BY with a bad column is caught by validation
    with pytest.raises(ValueError, match="unknown sort column"):
        dest.query_df("COMPACT TABLE t CLUSTER BY (nope)")
    # and with a real column it range-clusters
    for i in range(5):
        p = tmp_path / f"again{i}.ndjson"
        p.write_text(json.dumps({"g": "q", "v": 200 + i}) + "\n")
        dest.insert_ndjson("t", str(p))
    out = run(dest, "COMPACT TABLE t CLUSTER BY (v) MIN FILES 2")
    assert out[0]["compacted"] is True and out[0]["generation"] == 2


def test_compact_statement_rejects_empty_cluster_by(dest):
    with pytest.raises(ValueError, match="at least one column"):
        dest.query_df("COMPACT TABLE t CLUSTER BY ()")
    with pytest.raises(ValueError, match="at least one column"):
        dest.validate_statement("COMPACT TABLE t CLUSTER BY ( , )")


def test_copy_from_round_trip(dest, tmp_path):
    """COPY TO then COPY FROM round-trips by name: values land typed
    (cast-on-write), absent table columns come back NULL, unknown
    source columns error, csv with header loads too."""
    out = tmp_path / "t.parquet"
    run(dest, f"COPY t TO '{out}'")
    run(dest, "CREATE TABLE t2 AS SELECT g, v FROM t WHERE 1 = 0")
    n = run(dest, f"COPY t2 FROM '{out}'")
    assert n == [{"count": 6}]
    assert run(dest, "SELECT count(*) AS n FROM t2") == [{"n": 6}]
    orig = run(dest, "SELECT g, v FROM t ORDER BY v")
    assert run(dest, "SELECT g, v FROM t2 ORDER BY v") == orig

    # csv with header: ints arrive as strings, try_cast restores them
    csvp = tmp_path / "t.csv"
    csvp.write_text("g,v\nzz,100\nzz,101\n")
    run(dest, f"COPY t2 FROM '{csvp}'")
    assert run(
        dest, "SELECT count(*) AS n FROM t2 WHERE g = 'zz' AND v >= 100"
    ) == [{"n": 2}]

    # unknown source column is loud
    badp = tmp_path / "bad.csv"
    badp.write_text("g,v,nope\nx,1,2\n")
    with pytest.raises(ValueError, match="not on t2"):
        dest.query_df(f"COPY t2 FROM '{badp}'")

    # missing source column loads as NULL
    partial = tmp_path / "partial.csv"
    partial.write_text("g\nonly\n")
    run(dest, f"COPY t2 FROM '{partial}'")
    assert run(
        dest, "SELECT v FROM t2 WHERE g = 'only'"
    ) == [{"v": None}]  # NULL v explicit (r11: reference writers emit it)

    # validation: missing file fails before execution
    with pytest.raises(FileNotFoundError):
        dest.validate_statement(f"COPY t2 FROM '{tmp_path}/ghost.parquet'")


def test_http_refused_ddl_answers_500_before_headers(spark, tmp_path):
    """CREATE over an existing table and COPY FROM a file with a
    column the table lacks are refused by validation: a 500 with a
    JSON error, never a 200 whose body is cut off."""
    import urllib.error
    import urllib.parse
    import urllib.request

    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    cfg = Config(api_keys={"k": "default"})
    cfg.sink.max_file_age_seconds = 3600
    cfg.api.port = 0  # any free port
    app = build_app(spark, cfg, str(tmp_path / "app3"))
    app.server.start()
    try:
        base = f"http://127.0.0.1:{app.port}"
        r = urllib.request.Request(
            base + "/api/data/insert/ht?api_key=k",
            data=json.dumps([{"x": 1}]).encode(),
            method="POST",
        )
        urllib.request.urlopen(r, timeout=60).close()
        app.drain()
        extra = tmp_path / "src.parquet"
        spark.createDataFrame([(1, 2)], "x long, nope long").write.parquet(
            str(extra)
        )
        for sql, match in (
            ("create table ht (a int)", "table exists: ht"),
            (f"copy ht from '{extra}'", "not on ht"),
        ):
            url = (
                base + "/api/data/query?api_key=k&query="
                + urllib.parse.quote(sql)
            )
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(url, timeout=60)
            with err.value as resp:
                assert resp.code == 500, sql
                assert match in json.loads(resp.read())["error"]
    finally:
        app.server.stop()


# ------------------------------------------------ r10 review findings


def test_prune_case_nested_and_is_not_a_conjunct(dest):
    """`CASE WHEN flag AND b = 2 ...` must not lift b = 2 into a file
    prune — rows in files whose b-range excludes 2 can still match
    the predicate (r10 review catch)."""
    run(dest, "create table pc as select cast(2 as bigint) as b,"
              " false as flag")
    run(dest, "insert into pc values (7, true)")  # second file: b != 2
    run(dest, "delete from pc where case when flag and b = 2 and flag"
              " then false else true end")
    # predicate is TRUE for both rows; both must delete
    assert run(dest, "select count(*) as n from pc") == [{"n": 0}]


def test_prune_paren_nested_and_stays_sound(dest):
    run(dest, "create table pf as select cast(7 as bigint) as b,"
              " cast(1 as bigint) as c")
    run(dest, "delete from pf where (b = 7) and (c = 1)")
    assert run(dest, "select count(*) as n from pf") == [{"n": 0}]


def _partitioned(spark, tmp_path, name, rows, part_col):
    cat = TableCatalog(str(tmp_path / f"wh_{name}"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    seed = tmp_path / f"{name}.ndjson"
    seed.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    d.create_empty_table(name)
    d.catalog.add_columns("dml", name, infer_types_file(str(seed)))
    d.set_partitioning(name, part_col)
    d.insert_ndjson(name, str(seed))
    return d


def test_partition_is_null_prunes_to_null_partition_string_col(
    spark, tmp_path
):
    """String partition column: the hive sentinel must map to NULL
    before the cast, or `p IS NULL` never touches the null partition
    and deletes nothing (r10 review catch)."""
    d = _partitioned(
        spark, tmp_path, "pn",
        [{"v": 1, "p": "a"}, {"v": 2, "p": None}, {"v": 3, "p": None}],
        "p",
    )
    assert run(d, "delete from pn where p is null") == [{"count": 2}]
    assert run(d, "select v from pn order by v") == [{"v": 1}]


def test_partition_prune_rejects_nondeterministic_predicate(
    spark, tmp_path
):
    d = _partitioned(
        spark, tmp_path, "pr",
        [{"v": 1, "p": 0}, {"v": 2, "p": 1}, {"v": 3, "p": 2}],
        "p",
    )
    # rand()*0 == 0 always; the guard refuses to PRUNE on rand and the
    # unpruned row-level path deletes exactly partition 0
    run(d, "delete from pr where p = cast(rand() * 0 as bigint)")
    assert run(d, "select v from pr order by v") == [
        {"v": 2}, {"v": 3},
    ]


def test_ctas_regenerates_row_ids_on_fanout(dest):
    run(dest, "create table dupsrc as select g, v from t")
    run(dest, "create table dup as select * from dupsrc"
              " union all select * from dupsrc")
    assert run(
        dest,
        "select count(*) as n from (select __row_id from dup"
        " group by __row_id having count(*) > 1) d",
    ) == [{"n": 0}]
    # and the previously-tripping MERGE cardinality guard now passes
    run(dest, "merge into dup using (select 'a' as g) s on dup.g = s.g"
              " when matched then update set v = 99")


def test_insert_duplicate_column_list_rejected(dest):
    run(dest, "create table dc (a bigint, b bigint)")
    with pytest.raises(ValueError, match="duplicate column"):
        run(dest, "insert into dc (a, a) values (1, 2)")


def test_upsert_null_key_rejected(dest):
    run(dest, "create table uk (k INT PRIMARY KEY, v STRING)")
    with pytest.raises(ValueError, match="NULL in a conflict key"):
        run(dest, "insert or ignore into uk values (null, 'x')")
    # non-null path still works and stays idempotent
    run(dest, "insert or ignore into uk values (1, 'x')")
    run(dest, "insert or ignore into uk values (1, 'x')")
    assert run(dest, "select count(*) as n from uk") == [{"n": 1}]


def test_merge_literal_containing_when_matched(dest):
    """String literals carrying MERGE keywords must not truncate the
    clause parse (r10 review catch: parsing runs on masked text)."""
    run(dest, "create table ml (k INT, note STRING)")
    run(dest, "insert into ml values (1, 'old')")
    run(dest, "merge into ml using (select 1 as k) s on ml.k = s.k"
              " when matched then update set"
              " note = 'WHEN NOT MATCHED escalate'")
    assert run(dest, "select note from ml") == [
        {"note": "WHEN NOT MATCHED escalate"}
    ]


def test_update_from_joined(dest):
    """UPDATE … FROM (Postgres/DuckDB joined update) delegates to the
    MERGE machinery: source columns in SET scope, one CoW rewrite,
    and the cardinality guard raising on multi-match instead of an
    arbitrary pick (r11 DML differential probe catch)."""
    run(dest, "CREATE TABLE uf (k INT, v INT)")
    run(dest, "CREATE TABLE ufs (k INT, nv INT)")
    run(dest, "INSERT INTO uf VALUES (1, 10), (2, 20)")
    run(dest, "INSERT INTO ufs VALUES (1, 100)")
    assert run(dest, "UPDATE uf SET v = ufs.nv FROM ufs WHERE uf.k = ufs.k") == [
        {"count": 1}
    ]
    assert run(dest, "SELECT k, v FROM uf ORDER BY k") == [
        {"k": 1, "v": 100},
        {"k": 2, "v": 20},
    ]
    # a second source row for the same key trips the cardinality rule
    run(dest, "INSERT INTO ufs VALUES (1, 200)")
    with pytest.raises(Exception, match="matched multiple"):
        run(dest, "UPDATE uf SET v = ufs.nv FROM ufs WHERE uf.k = ufs.k")
    # a FROM inside a scalar-subquery assignment is NOT the joined
    # form — the plain UPDATE path still handles it
    run(dest, "UPDATE uf SET v = (SELECT max(nv) FROM ufs) WHERE k = 2")
    assert run(dest, "SELECT v FROM uf WHERE k = 2") == [{"v": 200}]


def test_delete_using_joined(dest):
    """DELETE … USING removes target rows with at least one matching
    source row (left-anti CoW rewrite; multi-matches are harmless so
    no cardinality guard — unlike UPDATE … FROM)."""
    run(dest, "CREATE TABLE du (k INT)")
    run(dest, "CREATE TABLE dus (k INT)")
    run(dest, "INSERT INTO du VALUES (1), (2), (3)")
    run(dest, "INSERT INTO dus VALUES (2), (2)")  # duplicate matches OK
    assert run(dest, "DELETE FROM du USING dus WHERE du.k = dus.k") == [
        {"count": 1}
    ]
    assert run(dest, "SELECT k FROM du ORDER BY k") == [{"k": 1}, {"k": 3}]
    # subquery source needs an alias; aliased form works
    assert run(
        dest,
        "DELETE FROM du USING (SELECT 1 AS kk) s WHERE du.k = s.kk",
    ) == [{"count": 1}]
    assert run(dest, "SELECT k FROM du") == [{"k": 3}]
    with pytest.raises(Exception, match="alias"):
        run(dest, "DELETE FROM du USING (SELECT 3 AS kk) WHERE du.k = kk")


def test_create_table_duckdb_type_aliases(dest):
    """Saved DuckDB schemas use bare VARCHAR / INTn / HUGEINT type
    names; the column-def parser bridges them (the reference's own
    Postgres type map emits VARCHAR)."""
    run(
        dest,
        "CREATE TABLE ta (a VARCHAR, b INT8, c INT2, d FLOAT8, e HUGEINT)",
    )
    cols = {c["name"]: c["type"] for c in dest.columns("ta")}
    assert cols["a"] == "string" and cols["b"] == "bigint"
    # integral widths widen to the bigint storage type — the same
    # documented jsontype widening every CREATE/CTAS column gets
    assert cols["c"] == "bigint" and cols["d"] == "double"
    assert cols["e"].startswith("decimal(38")
    run(dest, "INSERT INTO ta VALUES ('x', 1, 2, 1.5, 99)")
    assert run(dest, "SELECT a, b FROM ta") == [{"a": "x", "b": 1}]


def test_update_with_table_alias(dest):
    """UPDATE t alias SET … (both bare and AS forms) — predicates and
    assignments may qualify with the alias (r11 wave-6 catch: the
    aliased form previously fell through to Spark's own UPDATE and
    failed with an unsupported-table error)."""
    run(dest, "CREATE TABLE ua (k INT, v INT)")
    run(dest, "INSERT INTO ua VALUES (1, 10), (2, 20)")
    assert run(dest, "UPDATE ua t SET v = 0 WHERE t.k = 1") == [{"count": 1}]
    assert run(dest, "UPDATE ua AS u SET v = u.v + 1 WHERE u.k = 2") == [
        {"count": 1}
    ]
    assert run(dest, "SELECT k, v FROM ua ORDER BY k") == [
        {"k": 1, "v": 0},
        {"k": 2, "v": 21},
    ]


def test_ctas_with_no_data(dest):
    """CREATE TABLE … AS SELECT … WITH NO DATA: schema only."""
    run(dest, "CREATE TABLE nd AS SELECT g, v * 2 AS v2 FROM t WITH NO DATA")
    assert run(dest, "SELECT count(*) AS n FROM nd") == [{"n": 0}]
    cols = {c["name"] for c in dest.columns("nd")}
    assert cols == {"__row_id", "g", "v2"}
    run(dest, "INSERT INTO nd VALUES ('x', 9)")
    assert run(dest, "SELECT g, v2 FROM nd") == [{"g": "x", "v2": 9}]


def test_default_values_applied_on_insert(dest):
    """Declared DEFAULTs fill omitted columns (r11 wave-6 catch: the
    old constraint-stripping inserted NULL where DuckDB inserts the
    default), and INSERT … DEFAULT VALUES synthesizes a full default
    row."""
    run(
        dest,
        "CREATE TABLE dv (k INT DEFAULT 7, v INT,"
        " tag VARCHAR DEFAULT 'none')",
    )
    run(dest, "INSERT INTO dv (v) VALUES (1)")
    assert run(dest, "SELECT k, v, tag FROM dv") == [
        {"k": 7, "v": 1, "tag": "none"}
    ]
    run(dest, "INSERT INTO dv DEFAULT VALUES")
    assert run(
        dest, "SELECT k, v, tag FROM dv WHERE v IS NULL"
    ) == [{"k": 7, "v": None, "tag": "none"}]
    # a listed column with an explicit value overrides its default
    run(dest, "INSERT INTO dv (k, v) VALUES (99, 2)")
    assert run(dest, "SELECT k, tag FROM dv WHERE v = 2") == [
        {"k": 99, "tag": "none"}
    ]


def test_insert_returning(dest):
    """INSERT … RETURNING on plain inserts: expressions over exactly
    the adopted rows (a concurrent insert's rows cannot leak in —
    the read targets the adopted part files), * includes the table's
    real columns, and conflict modes refuse loudly."""
    run(dest, "CREATE TABLE ri (k INT, v INT DEFAULT 5)")
    assert run(dest, "INSERT INTO ri VALUES (1, 10) RETURNING k, v") == [
        {"k": 1, "v": 10}
    ]
    assert run(
        dest, "INSERT INTO ri (k) VALUES (2) RETURNING k, v, v * 2 AS d"
    ) == [{"k": 2, "v": 5, "d": 10}]
    star = run(dest, "INSERT INTO ri VALUES (3, 30) RETURNING *")
    assert set(star[0]) == {"__row_id", "k", "v"} and star[0]["k"] == 3
    with pytest.raises(Exception, match="plain INSERT only"):
        run(dest, "INSERT OR IGNORE INTO ri VALUES (1, 1) RETURNING k")
    assert run(dest, "SELECT count(*) AS n FROM ri") == [{"n": 3}]


def test_insert_literal_containing_dml_keywords(dest):
    """r12 advisor catch: _INSERT_RE matched RAW text, so a string
    literal containing ' RETURNING x' (or ' ON CONFLICT ') terminated
    the lazy body group at the literal and a valid INSERT failed.
    The regex now runs on masked text."""
    run(dest, "CREATE TABLE kw (k INT, s STRING)")
    run(dest, "INSERT INTO kw VALUES (1, 'see RETURNING x for details')")
    run(dest, "INSERT INTO kw SELECT 2, 'then ON CONFLICT (k) DO NOTHING'")
    assert run(dest, "SELECT count(*) AS n FROM kw") == [{"n": 2}]
    got = run(
        dest,
        "INSERT INTO kw VALUES (3, 'a RETURNING trap') RETURNING k, s",
    )
    assert got == [{"k": 3, "s": "a RETURNING trap"}]
    # DELETE USING with keyword-bearing literals parses on masked text
    run(dest, "CREATE TABLE kws AS SELECT 3 AS k")
    run(
        dest,
        "DELETE FROM kw USING kws WHERE kw.k = kws.k"
        " AND kw.s <> 'x USING y WHERE z'",
    )
    assert run(dest, "SELECT count(*) AS n FROM kw") == [{"n": 2}]


def test_create_default_duckdb_flavored_expression(dest):
    """r12 advisor catch: DEFAULT expressions were recorded verbatim
    and applied with raw F.expr, so a DuckDB-flavored default (ord(),
    ::INT8 casts) passed CREATE validation via the fallback path but
    made every partial-column INSERT fail at analysis.  They are now
    normalized to plain Spark SQL at record time."""
    run(
        dest,
        "CREATE TABLE dd (k INT, c INT DEFAULT ord('a'),"
        " w BIGINT DEFAULT 0::INT8)",
    )
    run(dest, "INSERT INTO dd (k) VALUES (1)")
    assert run(dest, "SELECT k, c, w FROM dd") == [{"k": 1, "c": 97, "w": 0}]
    run(dest, "INSERT INTO dd DEFAULT VALUES")
    assert run(dest, "SELECT count(*) AS n FROM dd WHERE c = 97") == [
        {"n": 2}
    ]


def test_backslash_literals_duckdb_semantics(dest):
    """r12 probe-wave catch (the largest silent-divergence class):
    DuckDB literals do not process backslash escapes, stock Spark's
    parser does — so '\\d' in a saved query matched the letter d.
    query_df doubles backslashes inside '…' literals before parsing;
    quote-doubling ('' → ') must keep working at the same time (the
    escapedStringLiterals flag would have broken it)."""
    run(dest, "CREATE TABLE bs AS SELECT 'a1b22' AS s")
    assert run(dest, r"SELECT regexp_extract(s, '\d+', 0) AS m FROM bs") == [
        {"m": "1"}
    ]
    assert run(dest, r"SELECT '\d' AS raw") == [{"raw": "\\d"}]
    assert run(dest, "SELECT 'a''b' AS q") == [{"q": "a'b"}]
    # through the DML path too: the literal survives storage round trip
    run(dest, r"INSERT INTO bs VALUES ('x\ny')")
    assert run(dest, r"SELECT count(*) AS n FROM bs WHERE s = 'x\ny'") == [
        {"n": 1}
    ]
