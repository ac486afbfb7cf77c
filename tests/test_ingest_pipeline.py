"""Ingestion pipeline units: sink rotation rules, queue claim
semantics, worker insert jobs, cross-destination copy."""

from __future__ import annotations

import io
import json
import os
import time

import pytest

from scratchdata_spark.catalog import TableCatalog
from scratchdata_spark.config import SinkConfig, WorkersConfig
from scratchdata_spark.copy import copy_data
from scratchdata_spark.duckdb_destination import DuckDBDestination
from scratchdata_spark.engine import SparkDestination
from scratchdata_spark.queue import Queue
from scratchdata_spark.sink import FileSystemSink
from scratchdata_spark.workers import WorkerPool


@pytest.fixture()
def sink_env(tmp_path):
    q = Queue(str(tmp_path / "meta.sqlite"))
    cfg = SinkConfig(
        data_dir=str(tmp_path / "data"),
        max_file_size_bytes=10_000,
        max_rows_per_file=3,
        max_file_age_seconds=3600,
    )
    return FileSystemSink(cfg, q), q


def test_rotation_by_rows(sink_env):
    sink, q = sink_env
    sink.write_data("db", "t", b'{"a":1}\n{"a":2}\n')
    assert sink.rotate() == 0  # 2 rows < 3
    sink.write_data("db", "t", b'{"a":3}\n')
    assert sink.rotate() == 1  # hit max_rows
    assert sink.upload() == 1
    assert q.depth() == 1
    msg = q.dequeue()
    assert msg.type == "insert_data" and msg.payload["table"] == "t"
    assert os.path.exists(msg.payload["path"])


def test_rotation_by_size(sink_env):
    sink, _ = sink_env
    sink.write_data("db", "big", b'{"x":"' + b"y" * 20_000 + b'"}\n')
    assert sink.rotate() == 1


def test_rotation_by_age(tmp_path):
    q = Queue(str(tmp_path / "m.sqlite"))
    sink = FileSystemSink(
        SinkConfig(data_dir=str(tmp_path / "d"), max_file_age_seconds=0), q
    )
    sink.write_data("db", "t", b'{"a":1}\n')
    time.sleep(0.01)
    assert sink.rotate() == 1


def test_queue_claim_release_complete(tmp_path):
    q = Queue(str(tmp_path / "q.sqlite"))
    q.enqueue("insert_data", {"n": 1})
    q.enqueue("insert_data", {"n": 2})
    m1 = q.dequeue()
    m2 = q.dequeue()
    assert {m1.payload["n"], m2.payload["n"]} == {1, 2}
    assert q.dequeue() is None  # both claimed
    q.release(m1.id)
    m1b = q.dequeue()
    assert m1b.id == m1.id  # released → re-claimable (at-least-once)
    q.complete(m1.id)
    q.complete(m2.id)
    assert q.depth() == 0


def test_worker_insert_job(spark, tmp_path):
    q = Queue(str(tmp_path / "q.sqlite"))
    dest = SparkDestination(spark, TableCatalog(str(tmp_path / "wh")), "default")
    pool = WorkerPool(q, {"default": dest})
    blob = tmp_path / "file.ndjson"
    blob.write_text('{"__row_id": 1, "msg": "via worker"}\n')
    q.enqueue("insert_data", {"database": "default", "table": "wt", "path": str(blob)})
    pool.drain()
    assert not pool.errors
    rows = dest.query_df("select * from wt").collect()
    assert rows[0]["msg"] == "via worker"
    assert not blob.exists()  # consumed


def test_copy_spark_to_spark(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "wh"))
    src = SparkDestination(spark, cat, "src")
    dst = SparkDestination(spark, cat, "dst")
    f = tmp_path / "in.ndjson"
    f.write_text('{"__row_id":1,"v":10}\n{"__row_id":2,"v":20}\n')
    src.insert_ndjson("t", str(f))
    n = copy_data(src, "select v * 2 as v2 from t", dst, "t2")
    assert n == 2
    vals = sorted(r.v2 for r in dst.query_df("select v2 from t2").collect())
    assert vals == [20, 40]


def test_copy_spark_to_spark_assigns_row_ids(spark, tmp_path):
    """The same-cluster copy assigns fresh ``__row_id``s: a source's
    ids are never carried (two copies of ``select *`` must not
    duplicate them), and a projection without the column gets ids
    too."""
    cat = TableCatalog(str(tmp_path / "wh"))
    src = SparkDestination(spark, cat, "src")
    dst = SparkDestination(spark, cat, "dst")
    f = tmp_path / "in.ndjson"
    f.write_text('{"v":10}\n{"v":20}\n')
    src.insert_ndjson("t", str(f))
    for _ in range(2):
        assert copy_data(src, "select * from t", dst, "twice") == 2
    assert copy_data(src, "select v from t", dst, "proj") == 2
    for table, n in (("twice", 4), ("proj", 2)):
        row = dst.query_df(
            "select count(*) as n, count(__row_id) as ids,"
            f" count(distinct __row_id) as distinct_ids from {table}"
        ).first()
        assert (row.n, row.ids, row.distinct_ids) == (n, n, n)


def test_copy_spark_to_duckdb(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "wh"))
    src = SparkDestination(spark, cat, "src2")
    duck = DuckDBDestination()
    f = tmp_path / "in.ndjson"
    f.write_text('{"__row_id":1,"msg":"hello","n":1.5}\n')
    src.insert_ndjson("t", str(f))
    n = copy_data(src, "select msg, n from t", duck, "t_copy", WorkersConfig())
    assert n == 1
    buf = io.StringIO()
    duck.query_json("select msg, n from t_copy", buf)
    assert json.loads(buf.getvalue()) == [{"msg": "hello", "n": 1.5}]


def test_duckdb_destination_roundtrip(tmp_path):
    duck = DuckDBDestination()
    f = tmp_path / "x.ndjson"
    f.write_text('{"msg": "hello world"}\n')
    duck.insert_ndjson("tbl", str(f))
    buf = io.StringIO()
    duck.query_json("select msg from tbl", buf)
    assert json.loads(buf.getvalue()) == [{"msg": "hello world"}]
    assert "tbl" in duck.tables()
    assert {"name": "msg", "type": "VARCHAR"} in duck.columns("tbl")


def test_duckdb_insert_ndjson_infers_types_once(tmp_path, monkeypatch):
    from scratchdata_spark import duckdb_destination

    calls = []
    infer = duckdb_destination.infer_types_file

    def spy(*args, **kwargs):
        calls.append(args)
        return infer(*args, **kwargs)

    monkeypatch.setattr(duckdb_destination, "infer_types_file", spy)
    duck = DuckDBDestination()
    f = tmp_path / "x.ndjson"
    f.write_text('{"n": 1, "s": "a"}\n{"n": 2}\n')
    duck.insert_ndjson("tbl", str(f))
    assert calls == [(str(f),)]
    assert {"name": "n", "type": "BIGINT"} in duck.columns("tbl")
    buf = io.StringIO()
    duck.query_json("select n, s from tbl order by n", buf)
    assert json.loads(buf.getvalue()) == [{"n": 1, "s": "a"}, {"n": 2, "s": None}]


def _duck_load(tmp_path, confined, as_list, lines):
    """A DuckDB destination (confined: loads through the staging
    instance) after one ``insert_ndjson`` of ``lines`` into ``tbl``,
    given as a file or a one-file list."""
    duck = DuckDBDestination(
        ":memory:", export_root=str(tmp_path / "exp") if confined else None
    )
    f = tmp_path / "x.ndjson"
    f.write_text("".join(json.dumps(line) + "\n" for line in lines))
    duck.insert_ndjson("tbl", [str(f)] if as_list else str(f))
    return duck


def _duck_rows(duck, sql):
    buf = io.StringIO()
    duck.query_json(sql, buf)
    return json.loads(buf.getvalue())


_DUCK_PATHS = pytest.mark.parametrize(
    "confined,as_list", [(False, False), (False, True), (True, False), (True, True)]
)


@_DUCK_PATHS
def test_duckdb_int_past_int64_loads_as_double(tmp_path, confined, as_list):
    """The load reads a column as the batch's inferred type: an int
    past int64 (typed float) loads as a DOUBLE where DuckDB's own
    inference failed the batch."""
    duck = _duck_load(tmp_path, confined, as_list, [
        {"__row_id": 1, "a": 12345678901234567890}, {"__row_id": 2, "a": 1},
    ])
    assert {"name": "a", "type": "DOUBLE"} in duck.columns("tbl")
    assert _duck_rows(duck, "select a from tbl order by __row_id") == [
        {"a": 1.2345678901234567e19}, {"a": 1.0},
    ]


@_DUCK_PATHS
def test_duckdb_object_then_string_column_keeps_the_string(
    tmp_path, confined, as_list
):
    """A column holding an object in one row and a string in the next
    (typed string) stores the string as written, not JSON-quoted."""
    duck = _duck_load(tmp_path, confined, as_list, [
        {"__row_id": 1, "c": {"x": 1}}, {"__row_id": 2, "c": "s"},
    ])
    assert {"name": "c", "type": "VARCHAR"} in duck.columns("tbl")
    assert _duck_rows(duck, "select c from tbl order by __row_id") == [
        {"c": '{"x":1}'}, {"c": "s"},
    ]


def test_queue_dead_letter(tmp_path):
    """A poison message retries max_attempts times, then dead-letters
    instead of spinning the pool forever (ADVICE fix)."""
    from scratchdata_spark.queue import Queue

    q = Queue(str(tmp_path / "q.db"), max_attempts=3)
    q.enqueue("insert_data", {"table": "t", "path": "/nonexistent"})
    seen = 0
    while True:
        msg = q.dequeue()
        if msg is None:
            break
        seen += 1
        assert seen < 10, "dead-letter cap not enforced"
        q.fail(msg.id, "boom")
    assert seen == 3
    dead = q.dead_letters()
    assert len(dead) == 1 and dead[0].payload["__error"] == "boom"
    assert q.depth() == 0  # dead letters don't count as live work


class _FlakyDest:
    """Destination stub whose insert raises its first ``fails`` calls."""

    def __init__(self, fails):
        self.fails = fails
        self.rows = []

    def insert_ndjson(self, table, path):
        if self.fails:
            self.fails -= 1
            raise RuntimeError("transient")
        with open(path) as f:
            self.rows += [json.loads(line) for line in f]


def test_drain_retries_a_failed_batch(tmp_path):
    """An insert that raises once is retried by the same drain(): its
    rows land, its file is consumed, and errors records the failure."""
    q = Queue(str(tmp_path / "q.db"))
    dest = _FlakyDest(fails=1)
    pool = WorkerPool(q, {"default": dest})
    blob = tmp_path / "b.ndjson"
    blob.write_text('{"a": 1}\n{"a": 2}\n')
    q.enqueue("insert_data", {"table": "t", "path": str(blob)})
    pool.drain()
    assert dest.rows == [{"a": 1}, {"a": 2}]
    assert len(pool.errors) == 1 and "transient" in pool.errors[0]
    assert q.depth() == 0 and q.dead_letters() == []
    assert not blob.exists()


def test_drain_dead_letters_a_batch_that_always_fails(tmp_path):
    """An insert that always raises ends in dead_letters() after
    max_attempts tries within one drain(), and its file is kept."""
    q = Queue(str(tmp_path / "q.db"), max_attempts=3)
    dest = _FlakyDest(fails=10)
    pool = WorkerPool(q, {"default": dest})
    blob = tmp_path / "b.ndjson"
    blob.write_text('{"a": 1}\n')
    q.enqueue("insert_data", {"table": "t", "path": str(blob)})
    pool.drain()
    assert dest.fails == 7 and dest.rows == []
    assert len(pool.errors) == 3
    (dead,) = q.dead_letters()
    assert dead.payload["path"] == str(blob) and dead.payload["__error"] == "transient"
    assert q.depth() == 0
    assert blob.exists()


def test_failed_auto_compaction_keeps_the_stored_batch_done(tmp_path):
    """A compaction error after the batch is stored is recorded, and
    the batch is neither retried nor dead-lettered."""
    q = Queue(str(tmp_path / "q.db"))
    dest = _FlakyDest(fails=0)
    dest.file_count = lambda table: 100

    def compact_table(table, min_files):
        raise RuntimeError("compaction failed")

    dest.compact_table = compact_table
    pool = WorkerPool(q, {"default": dest}, WorkersConfig(auto_compact_files=8))
    blob = tmp_path / "b.ndjson"
    blob.write_text('{"a": 1}\n')
    q.enqueue("insert_data", {"table": "t", "path": str(blob)})
    pool.drain()
    assert dest.rows == [{"a": 1}]
    assert list(pool.errors) == ["compact t: compaction failed"]
    assert q.depth() == 0 and q.dead_letters() == []


def test_concurrent_inserts_no_schema_race(spark, tmp_path):
    """Two threads inserting different new columns into one table must
    both register their columns (ADVICE fix: atomic insert_ndjson)."""
    import threading

    from scratchdata_spark.catalog import TableCatalog
    from scratchdata_spark.engine import SparkDestination

    dest = SparkDestination(spark, TableCatalog(str(tmp_path / "wh")), "db")
    paths = []
    for i, col in enumerate(("alpha", "beta", "gamma", "delta")):
        p = tmp_path / f"b{i}.ndjson"
        p.write_text(json.dumps({col: i}) + "\n")
        paths.append(str(p))

    threads = [
        threading.Thread(target=dest.insert_ndjson, args=("race", p)) for p in paths
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    cols = {c["name"] for c in dest.columns("race")}
    assert {"alpha", "beta", "gamma", "delta"} <= cols
    n = dest.query_df("select count(*) as n from race").collect()[0]["n"]
    assert n == 4


def test_chunked_writer_spools_and_splits(tmp_path):
    """ChunkedWriter: newline-aligned splits, size cap, partial-line
    carry (parity contract with the reference's chunked writer)."""
    from scratchdata_spark.copy import ChunkedWriter, CopyTooLargeError

    cw = ChunkedWriter(str(tmp_path), chunk_size=30, max_size=10_000)
    for i in range(10):
        cw.write(f'{{"v": {i}}}')   # partial: no newline yet
        cw.write("\n")
    cw.close()
    assert cw.rows == 10
    assert len(cw.paths) > 1  # split past 30 bytes
    joined = "".join(open(p).read() for p in cw.paths)
    assert joined.count("\n") == 10
    for p in cw.paths[:-1]:
        assert open(p).read().endswith("\n")  # never splits mid-line

    cw2 = ChunkedWriter(str(tmp_path / "x2"), chunk_size=30, max_size=25)
    (tmp_path / "x2").mkdir()
    import pytest as _pytest

    with _pytest.raises(CopyTooLargeError):
        for i in range(100):
            cw2.write(f'{{"v": {i}}}\n')


def test_sink_recovers_orphaned_open_files(tmp_path):
    """A crash leaves buffered files under open/ with no in-memory
    tracking; a new sink instance must close and ship them on start
    (the reference leaks these — filesystem.go tracks open files only
    in memory)."""
    q = Queue(str(tmp_path / "m.sqlite"))
    cfg = SinkConfig(data_dir=str(tmp_path / "d"), max_rows_per_file=100)
    sink1 = FileSystemSink(cfg, q)
    sink1.write_data("db", "t", b'{"a": 1}\n')  # buffered, never rotated
    # simulate crash: a fresh process with a fresh sink over the same dir
    sink2 = FileSystemSink(cfg, q)
    assert sink2.recover() == 1
    assert sink2.upload() == 1
    msg = q.dequeue()
    assert msg.payload["table"] == "t"
    with open(msg.payload["path"], "rb") as f:
        assert f.read() == b'{"a": 1}\n'
    # second recover is a no-op
    assert sink2.recover() == 0


def test_duckdb_copy_to_confined(tmp_path):
    """The DuckDB backend must honor the same COPY TO export-root
    confinement as the Spark engine — its native COPY writes anywhere
    the process can, so an onboarded duckdb connection would otherwise
    hand a query API key a filesystem-write primitive."""
    import io

    import pytest

    from scratchdata_spark.duckdb_destination import DuckDBDestination

    root = tmp_path / "exports"
    d = DuckDBDestination(":memory:", export_root=str(root))
    with pytest.raises(PermissionError, match="export root"):
        d.query_csv(
            f"copy (select 1 as x) to '{tmp_path}/evil.csv'", io.StringIO()
        )
    assert not (tmp_path / "evil.csv").exists()
    d.query_csv("copy (select 1 as x) to 'ok.csv' (HEADER)", io.StringIO())
    assert (root / "ok.csv").is_file()
    # unconfined embedded use keeps working
    d2 = DuckDBDestination(":memory:")
    d2.query_csv(
        f"copy (select 1 as x) to '{tmp_path}/fine.csv'", io.StringIO()
    )
    assert (tmp_path / "fine.csv").is_file()


def test_duckdb_confine_multi_statement_and_comment_bypass(tmp_path):
    """duckdb's execute() runs multi-statement strings, so the
    confinement must gate every statement: `select 1; copy … to
    '/abs'` and a leading `-- comment` before COPY were both
    regex-anchor bypasses (round-5 advisor finding), and SET must be
    denied so a query cannot flip enable_external_access back on."""
    import io

    import pytest

    from scratchdata_spark.duckdb_destination import DuckDBDestination

    root = tmp_path / "exports"
    d = DuckDBDestination(":memory:", export_root=str(root))
    evil = tmp_path / "evil.csv"
    with pytest.raises(PermissionError):
        d.query_csv(
            f"select 1; copy (select 1 as x) to '{evil}'", io.StringIO()
        )
    assert not evil.exists()
    with pytest.raises(PermissionError):
        d.query_csv(
            f"-- harmless\ncopy (select 1 as x) to '{evil}'", io.StringIO()
        )
    assert not evil.exists()
    for stmt in (
        "SET enable_external_access=true",
        "PRAGMA temp_directory='/tmp'",
        "EXPORT DATABASE '/tmp/exp'",
        f"ATTACH '{tmp_path}/other.db'",
        "INSTALL httpfs",
    ):
        with pytest.raises(PermissionError):
            d.query_csv(stmt, io.StringIO())
    # multi-statement of allowed shapes still works (duckdb scripts
    # return the last result), incl. a confined COPY mid-script
    out = io.StringIO()
    d.query_json(
        "create table ms (a int); insert into ms values (7);"
        " copy ms to 'ms.csv' (HEADER); select a from ms",
        out,
    )
    import json as _json

    assert _json.loads(out.getvalue()) == [{"a": 7}]
    assert (root / "ms.csv").is_file()


def test_duckdb_confined_blocks_table_function_reads(tmp_path):
    """Round-6 advisor finding: the statement-head deny-list gated
    COPY/ATTACH/SET, but DuckDB table functions inside a plain SELECT
    (read_csv, read_text, glob) read arbitrary host files.  The
    confinement is now engine-level — enable_external_access=false +
    lock_configuration=true on the user-facing connection — so these
    die inside DuckDB regardless of statement shape, while the
    permitted COPY round trip (staged through a privileged instance
    with root-resolved literal paths) keeps working."""
    import io

    import pytest

    from scratchdata_spark.duckdb_destination import DuckDBDestination

    secret = tmp_path / "secret.csv"
    secret.write_text("k,v\n1,topsecret\n")
    root = tmp_path / "exports"
    d = DuckDBDestination(":memory:", export_root=str(root))
    for q in (
        f"SELECT * FROM read_csv('{secret}')",
        f"SELECT * FROM read_csv_auto('{secret}')",
        f"SELECT * FROM read_text('{secret}')",
        f"SELECT * FROM glob('{tmp_path}/*')",
        f"CREATE TABLE exfil AS SELECT * FROM read_csv('{secret}')",
    ):
        with pytest.raises(Exception, match="disabled through configuration"):
            d.query_json(q, io.StringIO())
    # the engine lock is irreversible even if a SET slipped the gate
    with pytest.raises(Exception):
        with d._lock:
            d.conn.execute("SET enable_external_access=true")
    # permitted file I/O still works: COPY TO under root, COPY FROM
    # relative round trip, and absolute COPY FROM outside root refused
    out = io.StringIO()
    d.query_json(
        "create table t (a int); insert into t values (3);"
        " copy t to 'x.csv' (HEADER); copy t from 'x.csv';"
        " select sum(a) as s from t",
        out,
    )
    assert json.loads(out.getvalue()) == [{"s": 6}]
    assert (root / "x.csv").is_file()
    with pytest.raises(PermissionError, match="outside the export root"):
        d.query_json(f"copy t from '{secret}'", io.StringIO())


def test_duckdb_confine_rewrites_copy_from(tmp_path):
    """The DuckDB twin resolves relative COPY FROM sources under the
    export root, so COPY TO -> COPY FROM round-trips like the Spark
    engine's statement pair (native DuckDB would read cwd)."""
    from scratchdata_spark.duckdb_destination import DuckDBDestination

    d = DuckDBDestination(":memory:", export_root=str(tmp_path / "exp"))
    with d._lock:
        d.conn.execute("CREATE TABLE t (a INT, b VARCHAR)")
        d.conn.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    import io, json

    out = io.StringIO()
    d.query_json("COPY t TO 'rt.csv'", out)
    with d._lock:
        d.conn.execute("CREATE TABLE t2 (a INT, b VARCHAR)")
    out2 = io.StringIO()
    d.query_json("COPY t2 FROM 'rt.csv'", out2)
    out3 = io.StringIO()
    d.query_json("SELECT a, b FROM t2 ORDER BY a", out3)
    assert json.loads(out3.getvalue()) == [
        {"a": 1, "b": "x"}, {"a": 2, "b": "y"},
    ]
