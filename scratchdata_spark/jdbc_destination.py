"""Federated JDBC destination: one class covers Postgres, Redshift,
ClickHouse and MySQL — engines the reference implements as separate
bespoke drivers (``postgres/postgres.go:24-47``,
``redshift/redshift.go:31-53``, ``clickhouse/clickhouse.go:39-124``)
— because Spark's JDBC source provides query pushdown, partitioned
parallel reads and batched writes generically.

Query path: the user's SQL executes ON the remote engine
(``option("query", ...)``); Spark ships only result batches. At scale
a partition column splits the fetch across executors — the remote
engine does its own scan/optimize exactly as in the reference's
passthrough model.

DDL (CREATE/ALTER) goes through a plain ``java.sql`` connection from
the driver — Spark's DataFrame API has no DDL surface for JDBC — the
same role ``database/sql`` Exec plays in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scratchdata_spark.engine import (
    DataFrameSerializers,
    Destination,
    _check_ident,
    trim_query,
)
from scratchdata_spark.jtypes import infer_types_file

# jsontype -> backend column type, per the reference's insert paths
# (postgres/insert.go:18-49, redshift/insert.go:15-46,
#  clickhouse/insert.go:96-121)
TYPE_MAPS: dict[str, dict[str, str]] = {
    "postgres": {
        "string": "VARCHAR",
        "int": "BIGINT",
        "float": "DOUBLE PRECISION",
        "bool": "BOOLEAN",
    },
    "redshift": {
        "string": "VARCHAR",
        "int": "BIGINT",
        "float": "DOUBLE PRECISION",
        "bool": "BOOLEAN",
    },
    "clickhouse": {
        "string": "String",
        "int": "Int64",
        "float": "Float64",
        "bool": "Boolean",
    },
    "mysql": {
        "string": "TEXT",
        "int": "BIGINT",
        "float": "DOUBLE",
        "bool": "BOOLEAN",
    },
}

_QUOTE = {"postgres": '"', "redshift": '"', "clickhouse": "`", "mysql": "`"}

# ---------------------------------------------------------------------
# ClickHouse READ-side type matrix (reference clickhouse/insert.go:
# 148-201 jsonToGoType — the reference converts these on every query
# result). Spark's JDBC reader maps whatever java.sql type the driver
# reports, which loses or misranges several ClickHouse types (UInt64
# reported as BIGINT overflows above 2^63); the Spark-first fix is the
# JDBC source's ``customSchema`` option, built from this table.
#
# Loudly-documented conversions:
# * UInt64  -> decimal(20,0)  (SURVEY §1.2: no unsigned in Spark)
# * UInt128/256, Int128/256 -> string — the reference returns big.Int
#   (arbitrary precision); Spark's DecimalType caps at 38 digits,
#   which cannot hold 2^127+, so the lossless mapping is the decimal
#   STRING, parse with CAST(.. AS DECIMAL(38,s)) only if you know the
#   range fits.
# * Enum8/16 -> string — the JDBC driver surfaces the enum LABEL; the
#   reference's native driver returns the numeric code
#   (insert.go:193-197). Divergence documented: labels are the
#   lossless form (codes are recoverable via CAST in ClickHouse SQL).
# * DateTime64 keeps sub-second precision up to Spark's microseconds;
#   nanosecond DateTime64(9) truncates (Spark TimestampType is µs).
_CLICKHOUSE_READ_MAP: dict[str, str] = {
    "String": "string",
    "FixedString": "string",
    "Bool": "boolean",
    "UInt8": "smallint",  # widen to next signed size (SURVEY §1.2)
    "UInt16": "int",
    "UInt32": "bigint",
    "UInt64": "decimal(20,0)",
    "UInt128": "string",
    "UInt256": "string",
    "Int8": "tinyint",
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
    "Int128": "string",
    "Int256": "string",
    "Float32": "float",
    "Float64": "double",
    "UUID": "string",
    "Date": "date",
    "Date32": "date",
    "DateTime": "timestamp",
    "DateTime64": "timestamp",
    "Enum8": "string",
    "Enum16": "string",
}


def clickhouse_spark_type(ch_type: str) -> str:
    """Spark SQL type string for a ClickHouse column type, per the
    reference's read-side conversion matrix. Handles parameterized
    forms: ``Decimal(p, s)`` keeps its precision/scale;
    ``Nullable(T)``/``LowCardinality(T)`` unwrap; ``DateTime64(p)``/
    ``FixedString(n)``/``Enum8('a'=1)`` strip their arguments.
    Unknown types fall back to ``string`` — the same default branch
    as insert.go:199 (``data.String()``)."""
    t = ch_type.strip()
    # unwrap nullability/cardinality wrappers (composable)
    import re as _re

    while True:
        m = _re.fullmatch(r"(Nullable|LowCardinality)\((.*)\)", t)
        if not m:
            break
        t = m.group(2).strip()
    m = _re.fullmatch(r"Decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        if p > 38:
            # Decimal(76) etc: beyond Spark's 38-digit ceiling —
            # lossless only as string (documented above)
            return "string"
        return f"decimal({p},{s})"
    # the sized shorthands Decimal32(s)/64/128/256(s): precision is
    # implied by the width (9/18/38 digits; 256 = 76 digits, past
    # Spark's ceiling -> string like Decimal(76,s))
    m = _re.fullmatch(r"Decimal(32|64|128|256)\s*\(\s*(\d+)\s*\)", t)
    if m:
        width, s = m.group(1), int(m.group(2))
        if width == "256":
            return "string"
        prec = {"32": 9, "64": 18, "128": 38}[width]
        return f"decimal({prec},{s})"
    base = t.split("(", 1)[0].strip()
    return _CLICKHOUSE_READ_MAP.get(base, "string")


def clickhouse_custom_schema(cols: list[tuple[str, str]]) -> str:
    """``customSchema`` option value for Spark's JDBC reader from
    (name, clickhouse_type) pairs — apply with
    ``.option("customSchema", ...)`` so the read-side matrix above
    overrides the driver's java.sql report."""
    return ", ".join(
        f"`{name}` {clickhouse_spark_type(t)}" for name, t in cols
    )

# CREATE TABLE IF NOT EXISTS t (__row_id <int64>) — duckdb/insert.go:72-76;
# ClickHouse needs an engine + primary key (clickhouse/destination.go:10-21)
_CREATE = {
    "postgres": 'CREATE TABLE IF NOT EXISTS {t} ("__row_id" BIGINT)',
    "redshift": 'CREATE TABLE IF NOT EXISTS {t} ("__row_id" BIGINT)',
    "clickhouse": (
        "CREATE TABLE IF NOT EXISTS {t} (`__row_id` Int64) "
        "ENGINE = MergeTree PRIMARY KEY (`__row_id`)"
    ),
    "mysql": "CREATE TABLE IF NOT EXISTS {t} (`__row_id` BIGINT)",
}


class JDBCDestination(DataFrameSerializers, Destination):
    """A remote OLAP engine reached over JDBC, behind the Destination ABC.

    ``engine`` picks the dialect details (type map, identifier quoting,
    CREATE TABLE shape); everything else is generic JDBC.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        engine: str = "postgres",
        driver: str | None = None,
        user: str | None = None,
        password: str | None = None,
        fetch_size: int = 10_000,
        batch_size: int = 10_000,
    ):
        if engine not in TYPE_MAPS:
            raise ValueError(f"unsupported jdbc engine: {engine}")
        self.spark = spark
        self.url = url
        self.engine = engine
        self.driver = driver
        self.user = user
        self.password = password
        self.fetch_size = fetch_size
        self.batch_size = batch_size

    # ------------------------------------------------------------- seams
    def _options(self) -> dict[str, str]:
        opts = {"url": self.url, "fetchsize": str(self.fetch_size)}
        if self.driver:
            opts["driver"] = self.driver
        if self.user:
            opts["user"] = self.user
        if self.password:
            opts["password"] = self.password
        return opts

    def _reader(
        self,
        *,
        query: str | None = None,
        dbtable: str | None = None,
        custom_schema: str | None = None,
    ) -> DataFrame:
        r = self.spark.read.format("jdbc")
        for k, v in self._options().items():
            r = r.option(k, v)
        if custom_schema:
            # read-side type override (the ClickHouse rich-type
            # matrix): Spark maps the DRIVER's java.sql report by
            # default, which misranges UInt64 etc.
            r = r.option("customSchema", custom_schema)
        if query is not None:
            r = r.option("query", query)
        else:
            r = r.option("dbtable", dbtable)
        return r.load()

    def _write(self, df: DataFrame, table: str) -> None:
        w = df.write.format("jdbc").mode("append")
        for k, v in self._options().items():
            w = w.option(k, v)
        w.option("dbtable", table).option("batchsize", str(self.batch_size)).save()

    def _execute(self, sql: str) -> None:
        """Driver-side DDL through java.sql.DriverManager (the DataFrame
        API cannot issue DDL)."""
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        if self.user:
            props.setProperty("user", self.user)
        if self.password:
            props.setProperty("password", self.password)
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    # -------------------------------------------------------------- read
    def query_df(self, query) -> DataFrame:
        return self._reader(query=self._prepared(query).text)

    def query_df_typed(
        self, query: str, result_types: list[tuple[str, str]]
    ) -> DataFrame:
        """Query with the ClickHouse read-side type matrix applied:
        ``result_types`` is (column, clickhouse_type) pairs for the
        result set (e.g. from :meth:`columns` or ClickHouse's
        ``system.columns``), converted per the reference's
        jsonToGoType table (clickhouse/insert.go:148-201) into a
        ``customSchema`` override. Works on any engine but exists for
        ClickHouse's driver-misreported types (UInt64, Date32,
        DateTime64, Enum)."""
        return self._reader(
            query=trim_query(query),
            custom_schema=clickhouse_custom_schema(result_types),
        )

    def tables(self) -> list[str]:
        df = self._reader(
            query=(
                "SELECT table_name FROM information_schema.tables "
                "ORDER BY table_name"
            )
        )
        return [r[0] for r in df.collect()]

    def columns(self, table: str) -> list[dict]:
        # schema arrives via JDBC statement metadata — no rows move
        df = self._reader(dbtable=self._dbtable(table))
        return [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ]

    # ------------------------------------------------------------- write
    def _q(self, ident: str) -> str:
        q = _QUOTE[self.engine]
        return f"{q}{_check_ident(ident)}{q}"

    def _q_table(self, table: str) -> str:
        """Quoted DDL target for ``table`` — seam so schema-qualifying
        subclasses (RedshiftDestination: ``"schema"."table"``) aim
        every CREATE/ALTER at the right namespace."""
        return self._q(table)

    def _dbtable(self, table: str) -> str:
        """JDBC ``dbtable`` option value — same seam for reads/writes."""
        return _check_ident(table)

    def create_empty_table(self, table: str) -> None:
        self._execute(_CREATE[self.engine].format(t=self._q_table(table)))

    def insert_ndjson(self, table: str, ndjson_path) -> None:
        """Batch insert: the batch's types are inferred once, strictly
        (a malformed line fails the batch before any row is written),
        and serve both the column registration and the append."""
        self.create_empty_table(table)
        types = infer_types_file(ndjson_path)
        self._add_columns(table, types)
        self._append(table, ndjson_path, types)

    def _add_columns(self, table: str, types: dict[str, str]) -> None:
        tmap = TYPE_MAPS[self.engine]
        have = {c["name"] for c in self.columns(table)}
        for name, jt in types.items():
            if name in have:
                continue  # existing columns never retype (§1.2)
            try:
                self._execute(
                    f"ALTER TABLE {self._q_table(table)} "
                    f"ADD COLUMN IF NOT EXISTS {self._q(name)} {tmap[jt]}"
                )
            except Exception:
                # engines without IF NOT EXISTS (MySQL): tolerate the
                # duplicate-column error like postgres/insert.go:35-43
                if name not in {c["name"] for c in self.columns(table)}:
                    raise

    def _append(self, table: str, ndjson_path, batch_types: dict[str, str]) -> None:
        """Batch load: read the batch's columns (``batch_types``) as
        strings, cast to the REMOTE table's schema (cast-on-write,
        non-castable → NULL), missing columns → NULL, then one batched
        JDBC write. Subclasses with their own load path override this
        and may ignore ``batch_types``."""
        from scratchdata_spark.jtypes import conform_to_struct, to_struct

        table = self._dbtable(table)
        target = self._reader(dbtable=table).schema
        string_schema = to_struct({k: "string" for k in batch_types})
        raw = (
            self.spark.read.schema(string_schema)
            .option("mode", "DROPMALFORMED")
            .json(ndjson_path)
        )
        out = conform_to_struct(raw, target)
        from scratchdata_spark.catalog import ROW_ID
        from scratchdata_spark.ids import snowflake_column

        if ROW_ID in out.columns:
            out = out.withColumn(
                ROW_ID, F.coalesce(F.col(ROW_ID), snowflake_column())
            )
        self._write(out, table)
