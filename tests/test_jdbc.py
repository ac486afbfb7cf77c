"""JDBC federated destination (jdbc_destination.py).

No JDBC driver jar or live endpoint exists in this container, so the
remote engine is simulated at the class's three seams (_execute,
_reader, _write) — the tests verify the DDL dialects, schema-merge
semantics and cast-on-write flow that those seams carry. A live
round trip needs only a driver jar on spark.jars plus a real URL.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from scratchdata_spark.jdbc_destination import JDBCDestination

_SPARK_T = {
    "BIGINT": LongType(),
    "VARCHAR": StringType(),
    "DOUBLE PRECISION": DoubleType(),
    "BOOLEAN": BooleanType(),
}


class FakeJDBC(JDBCDestination):
    """Simulates the remote engine's state behind the three seams."""

    def __init__(self, spark, engine="postgres"):
        super().__init__(spark, url="jdbc:fake://db", engine=engine)
        self.ddl: list[str] = []
        self.remote_cols: list[tuple[str, str]] = []  # (name, sql_type)
        self.written: list[tuple[str, list]] = []

    def _execute(self, sql):
        self.ddl.append(sql)
        if "CREATE TABLE" in sql and not self.remote_cols:
            self.remote_cols.append(("__row_id", "BIGINT"))
        if "ADD COLUMN" in sql:
            # last two tokens: <name> <type...>; name is quoted
            frag = sql.split("ADD COLUMN IF NOT EXISTS", 1)[1].strip()
            name = frag.split()[0].strip('"`')
            typ = frag[len(frag.split()[0]):].strip()
            self.remote_cols.append((name, typ))

    def columns(self, table):
        return [{"name": n, "type": t.lower()} for n, t in self.remote_cols]

    def _reader(self, *, query=None, dbtable=None):
        assert dbtable is not None, "fake supports table reads only"
        schema = StructType(
            [StructField(n, _SPARK_T[t], True) for n, t in self.remote_cols]
        )
        return self.spark.createDataFrame([], schema)

    def _write(self, df, table):
        self.written.append((table, df.collect()))


def _ndjson(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(p)


def test_create_table_dialects(spark):
    pg = FakeJDBC(spark, "postgres")
    pg.create_empty_table("t1")
    assert pg.ddl == ['CREATE TABLE IF NOT EXISTS "t1" ("__row_id" BIGINT)']
    ch = FakeJDBC(spark, "clickhouse")
    ch.create_empty_table("t1")
    assert "ENGINE = MergeTree PRIMARY KEY" in ch.ddl[0]
    with pytest.raises(ValueError):
        JDBCDestination(spark, "jdbc:x", engine="oracle")


def test_schema_evolution_and_type_map(spark, tmp_path):
    d = FakeJDBC(spark)
    d.create_empty_table("t")
    p = _ndjson(tmp_path, "a.ndjson", [{"msg": "x", "n": 1, "f": 2.5, "b": True}])
    d.insert_ndjson("t", p)
    added = {n: t for n, t in d.remote_cols}
    assert added["msg"] == "VARCHAR" and added["n"] == "BIGINT"
    assert added["f"] == "DOUBLE PRECISION" and added["b"] == "BOOLEAN"
    # second batch: existing columns never re-ALTER
    def alters():
        return [s for s in d.ddl if s.startswith("ALTER TABLE")]

    n_ddl = len(alters())
    d.insert_ndjson("t", _ndjson(tmp_path, "b.ndjson", [{"msg": "y", "new1": 3}]))
    assert len(alters()) == n_ddl + 1  # only new1


def test_insert_casts_to_remote_schema(spark, tmp_path):
    d = FakeJDBC(spark)
    d.create_empty_table("t")
    p1 = _ndjson(tmp_path, "c1.ndjson", [{"__row_id": 5, "msg": "ok", "n": 7}])
    d.insert_ndjson("t", p1)  # n registers as BIGINT
    # second batch: n arrives as a non-numeric string; the existing
    # BIGINT column never retypes — the value casts to NULL on write
    p2 = _ndjson(tmp_path, "c2.ndjson", [{"msg": "notnum", "n": "oops"}])
    d.insert_ndjson("t", p2)
    assert dict(d.remote_cols)["n"] == "BIGINT"  # never retyped
    table, rows = d.written[0]
    assert table == "t"
    assert rows[0]["__row_id"] == 5 and rows[0]["n"] == 7
    _, rows2 = d.written[1]
    assert rows2[0]["n"] is None  # cast-on-write -> NULL
    assert rows2[0]["__row_id"] is not None  # snowflake assigned


def test_insert_ndjson_infers_types_once(spark, tmp_path, monkeypatch):
    """A batch insert infers its types once, strictly: the same map
    adds the remote columns and drives the write, and a batch with a
    malformed line fails before anything is written."""
    from scratchdata_spark import jdbc_destination

    calls = []
    infer = jdbc_destination.infer_types_file

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return infer(*args, **kwargs)

    monkeypatch.setattr(jdbc_destination, "infer_types_file", spy)
    d = FakeJDBC(spark)
    d.insert_ndjson("t", _ndjson(tmp_path, "ok.ndjson", [{"__row_id": 1, "msg": "x", "n": 7}]))
    assert calls == [{}]
    assert dict(d.remote_cols) == {"__row_id": "BIGINT", "msg": "VARCHAR", "n": "BIGINT"}
    (table, rows), = d.written
    assert table == "t" and rows[0]["msg"] == "x" and rows[0]["n"] == 7
    bad = tmp_path / "bad.ndjson"
    bad.write_text('{"__row_id": 2, "msg": "y"}\n{"msg": \n')
    del calls[:]
    with pytest.raises(ValueError):
        d.insert_ndjson("t", str(bad))
    assert calls == [{}]
    assert len(d.written) == 1


def test_int_past_int64_is_written_not_nulled(spark, tmp_path):
    d = FakeJDBC(spark)
    d.insert_ndjson(
        "t", _ndjson(tmp_path, "big.ndjson", [{"a": 12345678901234567890, "b": 1}])
    )
    assert dict(d.remote_cols)["a"] == "DOUBLE PRECISION"
    (_, rows), = d.written
    assert rows[0]["a"] == 1.2345678901234567e19 and rows[0]["b"] == 1


def test_copy_spark_to_jdbc(spark, tmp_path):
    """Cross-backend copy through the generic chunked path."""
    from scratchdata_spark.catalog import TableCatalog
    from scratchdata_spark.copy import copy_data
    from scratchdata_spark.engine import SparkDestination

    src = SparkDestination(spark, TableCatalog(str(tmp_path / "wh")), "src")
    f = _ndjson(tmp_path, "s.ndjson", [{"__row_id": 1, "v": 10}, {"__row_id": 2, "v": 20}])
    src.insert_ndjson("t", f)

    dst = FakeJDBC(spark)
    n = copy_data(src, "select v * 2 as v2 from t", dst, "t2")
    assert n == 2
    _, rows = dst.written[0]
    assert sorted(r["v2"] for r in rows) == [20, 40]


# ---------------------- ClickHouse read-side type matrix (VERDICT r5 #6)


def test_clickhouse_read_type_matrix_covers_reference():
    """Every type the reference's jsonToGoType converts
    (clickhouse/insert.go:148-201) has an explicit Spark mapping; the
    documented widenings/escapes apply (UInt64 -> decimal(20,0),
    128/256-bit ints -> string, enums -> string labels)."""
    from scratchdata_spark.jdbc_destination import clickhouse_spark_type as cst

    expected = {
        "String": "string", "FixedString": "string", "Bool": "boolean",
        "UInt8": "smallint", "UInt16": "int", "UInt32": "bigint",
        "UInt64": "decimal(20,0)", "UInt128": "string", "UInt256": "string",
        "Int8": "tinyint", "Int16": "smallint", "Int32": "int",
        "Int64": "bigint", "Int128": "string", "Int256": "string",
        "Float32": "float", "Float64": "double", "UUID": "string",
        "Date": "date", "Date32": "date",
        "DateTime": "timestamp", "DateTime64": "timestamp",
        "Enum8": "string", "Enum16": "string",
    }
    for ch, sp in expected.items():
        assert cst(ch) == sp, ch
    # parameterized / wrapped forms
    assert cst("Decimal(18, 4)") == "decimal(18,4)"
    assert cst("Decimal(38,0)") == "decimal(38,0)"
    assert cst("Decimal(76, 10)") == "string"  # beyond Spark's 38 digits
    assert cst("Nullable(UInt64)") == "decimal(20,0)"
    assert cst("LowCardinality(Nullable(String))") == "string"
    assert cst("DateTime64(3)") == "timestamp"
    assert cst("FixedString(16)") == "string"
    assert cst("Enum8('a' = 1, 'b' = 2)") == "string"
    assert cst("SomeFutureType") == "string"  # default branch parity


def test_clickhouse_custom_schema_valid_spark_ddl(spark):
    """The generated customSchema string parses as Spark DDL and the
    mapped types hold the reference types' edge values (UInt64 max
    does NOT fit BIGINT — the matrix exists precisely for that)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import StructType

    from scratchdata_spark.jdbc_destination import clickhouse_custom_schema

    cols = [
        ("id", "UInt64"), ("amount", "Decimal(18, 4)"), ("d", "Date32"),
        ("ts", "DateTime64(3)"), ("label", "Enum8('x' = 1)"),
        ("big", "UInt256"), ("r", "Float32"),
    ]
    ddl = clickhouse_custom_schema(cols)
    schema = StructType.fromDDL(ddl)
    assert [f.name for f in schema.fields] == [c for c, _ in cols]
    umax = 2**64 - 1
    u256 = str(2**255)  # survives only as string
    row = (
        Decimal(umax), Decimal("1234.5678"),
        datetime.date(1890, 1, 2),  # pre-1970 (Date32's reason to exist)
        datetime.datetime(2024, 5, 6, 7, 8, 9, 123000),
        "x", u256, 1.5,
    )
    df = spark.createDataFrame([row], schema)
    got = df.collect()[0]
    assert got["id"] == Decimal(umax)  # > 2^63: BIGINT would overflow
    assert got["amount"] == Decimal("1234.5678")
    assert got["d"] == datetime.date(1890, 1, 2)
    assert got["ts"].microsecond == 123000
    assert got["big"] == u256


def test_query_df_typed_passes_custom_schema(spark):
    """query_df_typed threads the matrix into the JDBC reader as the
    customSchema option (captured at the seam)."""
    captured = {}

    class CapturingJDBC(FakeJDBC):
        def _reader(self, *, query=None, dbtable=None, custom_schema=None):
            captured["query"] = query
            captured["custom_schema"] = custom_schema
            return spark.range(0)

    d = CapturingJDBC(spark, engine="clickhouse")
    d.query_df_typed(
        "SELECT id, ts FROM t", [("id", "UInt64"), ("ts", "DateTime64(6)")]
    )
    assert captured["query"] == "SELECT id, ts FROM t"
    assert captured["custom_schema"] == "`id` decimal(20,0), `ts` timestamp"


def test_clickhouse_sized_decimal_shorthands():
    """Decimal32/64/128(s) carry implied precision (9/18/38 digits);
    Decimal256 exceeds Spark's ceiling and escapes to string like
    Decimal(76,s)."""
    from scratchdata_spark.jdbc_destination import clickhouse_spark_type as cst

    assert cst("Decimal32(4)") == "decimal(9,4)"
    assert cst("Decimal64(4)") == "decimal(18,4)"
    assert cst("Decimal128(10)") == "decimal(38,10)"
    assert cst("Decimal256(10)") == "string"
    assert cst("Nullable(Decimal64(2))") == "decimal(18,2)"


# ---------------------------------------------------------------- live e2e

_CH_URL = __import__("os").environ.get("SCRATCHDATA_CLICKHOUSE_URL")


def _live_jdbc_roundtrip(tmp_path, dest, quote: str):
    """Shared body of the live-backend e2e gates: insert-NDJSON →
    auto-columns → schema evolution → query-JSON, then drop."""
    import io
    import time

    table = f"sd_e2e_{int(time.time())}"
    nd = tmp_path / "rows.ndjson"
    nd.write_text(
        '{"user_id": 1, "name": "ada", "score": 1.5}\n'
        '{"user_id": 2, "name": "bob", "score": 2.5}\n'
    )
    try:
        dest.insert_ndjson(table, str(nd))
        # second insert with a NEW column: schema evolution live
        nd2 = tmp_path / "rows2.ndjson"
        nd2.write_text('{"user_id": 3, "name": "eve", "extra": "x"}\n')
        dest.insert_ndjson(table, str(nd2))
        cols = {c["name"] for c in dest.columns(table)}
        assert {"user_id", "name", "score", "extra"} <= cols
        out = io.StringIO()
        dest.query_json(
            f"SELECT user_id, name FROM {table} ORDER BY user_id", out
        )
        rows = json.loads(out.getvalue())
        assert [r["user_id"] for r in rows] == [1, 2, 3]
        assert rows[2]["name"] == "eve"
    finally:
        dest._execute(f"DROP TABLE IF EXISTS {quote}{table}{quote}")


_PG_URL = __import__("os").environ.get("SCRATCHDATA_POSTGRES_URL")


@pytest.mark.skipif(
    not _PG_URL,
    reason=(
        "real-Postgres e2e: set SCRATCHDATA_POSTGRES_URL (e.g."
        " jdbc:postgresql://localhost:5432/postgres) and put the"
        " PostgreSQL JDBC jar on the session classpath via"
        " SPARK_GRAFT_EXTRA_JARS before the first Spark test runs —"
        " the reference's most-used real backend"
        " (postgres/insert.go:83-155)"
    ),
)
def test_postgres_live_roundtrip(spark, tmp_path):
    """Insert-NDJSON → auto-columns → query-JSON against a REAL
    Postgres over the production JDBC path (no fakes) — the same
    flow the ClickHouse gate drives, on the reference's most-used
    backend.  Gated on env so the suite passes hermetically where no
    server exists."""
    import os

    from scratchdata_spark.jdbc_destination import JDBCDestination

    driver = os.environ.get(
        "SCRATCHDATA_POSTGRES_DRIVER", "org.postgresql.Driver"
    )
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except Exception:
        pytest.skip(
            f"Postgres JDBC driver {driver} not on the session"
            " classpath (SPARK_GRAFT_EXTRA_JARS must be set before"
            " the first Spark test creates the JVM)"
        )
    d = JDBCDestination(
        spark,
        _PG_URL,
        engine="postgres",
        driver=driver,
        user=os.environ.get("SCRATCHDATA_POSTGRES_USER", "postgres"),
        password=os.environ.get("SCRATCHDATA_POSTGRES_PASSWORD", ""),
    )
    _live_jdbc_roundtrip(tmp_path, d, quote='"')


@pytest.mark.skipif(
    not _CH_URL,
    reason=(
        "real-ClickHouse e2e: set SCRATCHDATA_CLICKHOUSE_URL (e.g."
        " jdbc:clickhouse://localhost:8123/default) and put the"
        " ClickHouse JDBC jar on the session classpath via"
        " SPARK_GRAFT_EXTRA_JARS before the first Spark test runs —"
        " mirrors the reference's only end-to-end test"
        " (clickhouse/clickhouse_test.go:15-103)"
    ),
)
def test_clickhouse_live_roundtrip(spark, tmp_path):
    """Insert-NDJSON → auto-columns → query-JSON against a REAL
    ClickHouse over the production JDBC path (no fakes): the same
    flow the reference's dockertest e2e drives.  Gated on env so the
    suite passes hermetically where no server exists."""
    import os

    from scratchdata_spark.jdbc_destination import JDBCDestination

    driver = os.environ.get(
        "SCRATCHDATA_CLICKHOUSE_DRIVER", "com.clickhouse.jdbc.ClickHouseDriver"
    )
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except Exception:
        pytest.skip(
            f"ClickHouse JDBC driver {driver} not on the session"
            " classpath (SPARK_GRAFT_EXTRA_JARS must be set before"
            " the first Spark test creates the JVM)"
        )
    d = JDBCDestination(
        spark,
        _CH_URL,
        engine="clickhouse",
        driver=driver,
        user=os.environ.get("SCRATCHDATA_CLICKHOUSE_USER", "default"),
        password=os.environ.get("SCRATCHDATA_CLICKHOUSE_PASSWORD", ""),
    )
    _live_jdbc_roundtrip(tmp_path, d, quote="`")
