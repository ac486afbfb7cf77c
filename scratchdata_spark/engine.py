"""Destination interface + the Spark destination (the default backend).

Mirrors the reference's 9-method Destination interface
(``pkg/destinations/destinations.go:27-40``): QueryJSON / QueryNDJson /
QueryCSV / Tables / Columns / CreateEmptyTable / CreateColumns /
InsertFromNDJsonFile / Close — kept as a Python ABC so other OLAP
backends (DuckDB, JDBC engines) can slot in behind the same API,
with Spark as the primary.

Query semantics: raw SQL passthrough. The only rewrite is the
reference's whitespace/trailing-``;`` trim (``pkg/util/sql.go:9-13``);
Spark's parser is the validator.

Serving path: ``query_df`` returns the DataFrame for a query text from
the destination's ``PlanCache``. A hit is a DataFrame that already
holds its physical plan, and the JSON/NDJSON ``to_json`` projection
over it is built once and kept with it, so a warm request re-runs only
the result stage of that plan (its shuffle and broadcast outputs are
reused). Texts whose answer depends on the clock or on randomness are
never cached. Results stream via ``toLocalIterator`` so a 100 GB result
never materializes on the driver (the moral equivalent of the
reference's fifo streaming, ``duckdb/query.go:15-116``).
"""

from __future__ import annotations

import functools
import json
import os
import re
from abc import ABC, abstractmethod
from typing import IO, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scratchdata_spark.catalog import ROW_ID, TableCatalog
from scratchdata_spark.jtypes import infer_types_file, to_struct

# Per-(warehouse, database, table) compaction mutexes — process-wide so
# destinations sharing a catalog can't run concurrent compactions of the
# same table (see SparkDestination.compact_table).
import threading as _threading

_COMPACT_LOCKS: dict = {}
_COMPACT_GUARD = _threading.Lock()


def trim_query(query: str) -> str:
    """pkg/util/sql.go:9-13 — strip whitespace and one trailing ';'."""
    query = query.strip()
    if query.endswith(";"):
        query = query[:-1].strip()
    return query


class Destination(ABC):
    """One analytics backend holding many tables (unit of multi-tenancy)."""

    @abstractmethod
    def query_df(self, query: str) -> DataFrame | None: ...

    @abstractmethod
    def query_json(self, query: str, out: IO[str]) -> None: ...

    @abstractmethod
    def query_ndjson(self, query: str, out: IO[str]) -> None: ...

    @abstractmethod
    def query_csv(self, query: str, out: IO[str]) -> None: ...

    @abstractmethod
    def tables(self) -> list[str]: ...

    @abstractmethod
    def columns(self, table: str) -> list[dict]: ...

    @abstractmethod
    def create_empty_table(self, table: str) -> None: ...

    @abstractmethod
    def create_columns(self, table: str, ndjson_path: str) -> None: ...

    @abstractmethod
    def insert_ndjson_file(self, table: str, ndjson_path: str) -> None: ...

    def insert_ndjson(
        self, table: str, ndjson_path: str | list[str], skip_malformed: bool = False
    ) -> None:
        """Full batch insert: ensure table, register columns, load.
        Backends override to make the whole sequence atomic."""
        self.create_empty_table(table)
        self.create_columns(table, ndjson_path)
        self.insert_ndjson_file(table, ndjson_path)

    def close(self) -> None:  # pragma: no cover - trivial
        pass


def plan_is_reusable(df: DataFrame) -> bool:
    """False when re-running ``df`` may give a different answer even
    though no table changed: its analyzed plan is nondeterministic
    (``rand()``, ``uuid()``, ``shuffle()`` — the analyzer pins their
    seed, so a reused plan repeats its first values), or it reads the
    clock (``now()``, ``current_date``, ``current_timestamp``,
    ``unix_timestamp()`` — the optimizer folds them to literals once
    per plan). The clock test applies Catalyst's own
    ``ComputeCurrentTime`` rule and checks whether it changed the plan,
    so it covers subqueries and views like the optimizer does."""
    analyzed = df._jdf.queryExecution().analyzed()
    if not analyzed.deterministic():
        return False
    rule = _compute_current_time(df.sparkSession._jvm)
    return rule.apply(analyzed).fastEquals(analyzed)


@functools.lru_cache(maxsize=None)
def _compute_current_time(jvm):
    # one py4j round trip per package segment: resolve the rule once
    return jvm.org.apache.spark.sql.catalyst.optimizer.ComputeCurrentTime


class PlanCache:
    """Prepared-statement-style reuse of query plans, keyed by the
    prepared query text.

    An entry is the DataFrame a query text built. Its ``QueryExecution``
    plans once, on the first execution, and keeps the physical plan;
    the JSON serializer's ``to_json`` projection is memoized on the
    same DataFrame (``DataFrameSerializers``). A warm request therefore
    skips parsing, analysis, optimization and planning, and runs only
    the result stage: the shuffle and broadcast outputs of the first
    execution are reused. Those shuffle files stay on local disk while
    the entry lives: Spark's context cleaner removes them only after the
    entry is evicted (oldest first, beyond ``max_entries``) or
    invalidated and its plan is garbage-collected.

    Never cached (``plan_is_reusable``): texts whose analyzed plan is
    nondeterministic or reads the clock. A reused plan would serve the
    first answer's ``rand()`` values or timestamp forever, so those
    texts are planned fresh on every request.

    Invalidation: a cached plan pins the parquet file listing captured
    at analysis time, so ANY write to the destination clears the cache
    (coarse but correct; per-table invalidation would need plan-lineage
    tracking for cross-table queries).
    """

    def __init__(self, max_entries: int = 256):
        self._max = max_entries
        self._plans: dict[str, DataFrame] = {}
        # monotonic mutation epoch: every write path on the engine
        # calls invalidate(), so this counter is a free O(1) "has any
        # local mutation happened" signal — register_views keys its
        # view-staleness fingerprint on it instead of re-walking every
        # table's parquet file listing per query.
        self.epoch = 0

    def get(self, key: str, build) -> DataFrame:
        df = self._plans.get(key)
        if df is None:
            df = build()
            if not plan_is_reusable(df):
                return df
            if len(self._plans) >= self._max:
                # drop oldest insertion (dict preserves order)
                self._plans.pop(next(iter(self._plans)))
            self._plans[key] = df
        return df

    def invalidate(self) -> None:
        self._plans.clear()
        self.epoch += 1


class DataFrameSerializers:
    """JSON / NDJSON / CSV streaming serializers (A13–A15) for any
    backend exposing ``query_df`` — shared by the Spark and JDBC
    destinations.

    JSON and NDJSON run ``to_json`` in the JVM over a projection of the
    query's DataFrame. The projection is built once per DataFrame and
    memoized on it, so for a ``PlanCache`` hit it is already planned and
    a warm request re-runs only its result stage; CSV executes the
    DataFrame itself. All three stream through ``toLocalIterator``, so
    the driver holds one partition at a time — EXCEPT local-relation
    results (DML counts, command results), which ``collect()``: that
    launches no job, and the whole relation is already on the driver,
    so the peak driver memory is the same."""

    def query_df(self, query: str) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    @staticmethod
    def _fetch_rows(out: DataFrame, local: bool):
        if local:
            return iter(out.collect())
        # prefetchPartitions lets the JVM serve the next partition
        # while the driver consumes the current one (same one-
        # partition-at-a-time driver memory bound, minus the ack
        # round trip per partition)
        return out.toLocalIterator(prefetchPartitions=True)

    def _json_rows(self, df: DataFrame) -> Iterator[str]:
        # The (projection, is-local) pair is memoized on ``df``: for a
        # cached plan it keeps its own physical plan and shuffle
        # outputs, and goes with the cache entry. Concurrent first uses
        # may each build one; the last one stored wins.
        memo = getattr(df, "_sd_json_projection", None)
        if memo is None:
            memo = df._sd_json_projection = self._json_projection(df)
        out, local = memo
        return (r["__j"] for r in self._fetch_rows(out, local))

    @staticmethod
    def _json_projection(df: DataFrame) -> tuple[DataFrame, bool]:
        # NULL fields are kept explicitly (ignoreNullFields=false):
        # every reference backend writer emits them — DuckDB's COPY
        # (FORMAT JSON), ClickHouse JSONEachRow, the Postgres
        # json.Encoder — so a consumer checking ``row["v"] is None``
        # must see the key.  Plain df.toJSON() silently DROPS null
        # fields.
        #
        # isLocal is checked on the INPUT df: the analyzed plan of the
        # to_json projection is a Project over the LocalRelation, which
        # isLocal() no longer recognizes (the optimizer folds it back
        # into a LocalRelation before execution, so collect() still
        # runs without a job).  _sd_local_result is the engine's own
        # tag on driver-built small results (DML counts, DESCRIBE/SHOW
        # shapes) — createDataFrame yields a LogicalRDD, which
        # isLocal() reports False even for one literal row.
        local = getattr(df, "_sd_local_result", False) or df.isLocal()
        cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
        out = df.select(
            F.to_json(
                F.struct(*cols), {"ignoreNullFields": "false"}
            ).alias("__j")
        )
        return out, local

    def query_json(self, query: str, out: IO[str]) -> None:
        out.write("[")
        for i, row in enumerate(self._json_rows(self.query_df(query))):
            if i:
                out.write(",")
            out.write(row)
        out.write("]")

    def query_ndjson(self, query: str, out: IO[str]) -> None:
        for row in self._json_rows(self.query_df(query)):
            out.write(row)
            out.write("\n")

    def query_csv(self, query: str, out: IO[str]) -> None:
        import csv

        df = self.query_df(query)
        writer = csv.writer(out)
        writer.writerow(df.columns)  # deterministic column order
        # (fixes the reference's BigQuery map-iteration bug, query.go:112-180)
        local = getattr(df, "_sd_local_result", False) or df.isLocal()
        for row in self._fetch_rows(df, local):
            writer.writerow(["null" if v is None else v for v in row])


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
# time-travel table function in query text: table_at('name', N)
_TABLE_AT_RE = re.compile(
    r"\btable_at\(\s*'([A-Za-z_][A-Za-z0-9_]*)'\s*,\s*(\d+)\s*\)",
    re.IGNORECASE,
)


def _spark_code_segments(sql: str) -> list[tuple[bool, str]]:
    """(is_code, text) segments under SPARK literal semantics
    (backslash escapes inside '…'/"…", `…` identifiers with ``
    doubling, -- and /* */ comments) — the table_at rewrite runs
    BEFORE stock spark.sql, so unlike dialect._segments (DuckDB
    semantics, post-rejection only) it must not touch the contents of
    literals in valid Spark text.  Input arrives backslash-doubled by
    escape_backslashes_for_spark, which the escape-pair scan below
    walks correctly."""
    out: list[tuple[bool, str]] = []
    i, n, start = 0, len(sql), 0
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            if start < i:
                out.append((True, sql[start:i]))
            j = i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == ch:
                    if j + 1 < n and sql[j + 1] == ch:  # '' doubling
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            out.append((False, sql[i:j]))
            start = i = j
            continue
        if ch == "`":
            if start < i:
                out.append((True, sql[start:i]))
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            out.append((False, sql[i:j]))
            start = i = j
            continue
        if sql[i : i + 2] == "--":
            if start < i:
                out.append((True, sql[start:i]))
            j = sql.find("\n", i)
            j = n if j == -1 else j
            out.append((False, sql[i:j]))
            start = i = j
            continue
        if sql[i : i + 2] == "/*":
            if start < i:
                out.append((True, sql[start:i]))
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append((False, sql[i:j]))
            start = i = j
            continue
        i += 1
    if start < n:
        out.append((True, sql[start:n]))
    return out


def _sub_in_code(sql: str, regex: "re.Pattern[str]", repl) -> str:
    """re.sub, but a match only fires when it STARTS in a code
    segment — a ``table_at(...)`` spelled inside a string literal or
    comment is data, not a table reference. (The match itself spans
    the quoted table name, so the test is on the start offset, not
    containment.)"""
    spans = []
    pos = 0
    for is_code, text in _spark_code_segments(sql):
        if is_code:
            spans.append((pos, pos + len(text)))
        pos += len(text)
    out, last = [], 0
    for m in regex.finditer(sql):
        if any(a <= m.start() < b for a, b in spans):
            out.append(sql[last : m.start()])
            out.append(repl(m))
            last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _check_ident(name: str) -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid identifier: {name!r}")
    return name


class SparkDestination(DataFrameSerializers, Destination):
    """Tables = schema-registered parquet dirs; queries = spark.sql.

    Scale notes: inserts append parquet files written with the full
    merged schema (missing columns NULL), so reads are a plain
    pushdown-friendly parquet scan with an explicit schema — no footer
    merging, no repartition of historical data on schema change.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        database: str = "default",
        duckdb_compat: bool = True,
        export_root: str | None = None,
        retain_generations: int = 2,
    ):
        self.spark = spark
        self.catalog = catalog
        self.database = _check_ident(database)
        self.plan_cache = PlanCache()
        # COPY TO targets are confined under this dir when set (the
        # HTTP service always sets it — see warehouse_dml
        # _resolve_copy_target); None = unconfined embedded use
        self.export_root = export_root
        # generation retention: how many generation snapshots (current
        # included) survive a flip. 2 = the minimum (current + parent
        # for in-flight readers, the pre-time-travel behavior); more
        # keeps a history window for read_generation / table_at()
        if retain_generations < 2:
            raise ValueError("retain_generations must be >= 2")
        self.retain_generations = retain_generations
        # The reference passes user SQL verbatim to DuckDB, so saved
        # queries arrive in DuckDB's dialect; the compat layer lets
        # them run unchanged (dialect.py — alias functions are inlined
        # SQL UDFs, and query_df rewrites only AFTER stock Spark
        # rejects the text, so valid Spark SQL never crosses it).
        self.duckdb_compat = duckdb_compat
        if duckdb_compat:
            from scratchdata_spark.dialect import register_compat_functions

            # DuckDB (and the standard) read "x" as an IDENTIFIER;
            # stock Spark reads it as a string literal, so a saved
            # query touching a quoted column silently projected the
            # literal text instead of the column (r12 DML probe
            # catch).  Session-scoped: destinations own their session
            # (the service calls newSession per destination), and the
            # reference dialect never spells STRING literals with
            # double quotes — those stay '…' on both engines.
            spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
            # Backslash parity is handled by TEXT preprocessing, not
            # a parser flag: DuckDB literals don't process backslash
            # escapes ('\d' is backslash-d) where stock Spark's
            # parser eats them ('\d' → 'd') — every regex class in a
            # saved query silently matched the wrong thing (r12 probe
            # wave, the largest silent-divergence class found to
            # date).  escapedStringLiterals=true would fix that but
            # BREAKS quote-doubling ('a''b' stops collapsing —
            # probed), DuckDB's one escape; Spark offers no config
            # with both semantics.  So query_df/validate_statement
            # double the backslashes inside '…' literals instead
            # (dialect.escape_backslashes_for_spark) and the default
            # parser collapses them back — both paritys hold.
            register_compat_functions(spark)

    # ------------------------------------------------------------- read
    def table_df(self, table: str) -> DataFrame:
        info = self.catalog.get(self.database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        d = self.catalog.data_dir(self.database, table)
        reader = self.spark.read.schema(info.struct())
        if info.partition_col:
            # hive-layout dirs: basePath makes the partition column
            # resolve from directory names; an equality/range predicate
            # on it prunes whole directories at planning time
            reader = reader.option("basePath", d)
        return reader.parquet(d)

    def generations(self, table: str) -> list[int]:
        """Generation snapshots still on disk for ``table``, ascending
        (the last is the current pointer). With the default
        ``retain_generations=2`` this is at most [current-1, current];
        larger retention keeps a deeper time-travel window."""
        table = _check_ident(table)
        info = self.catalog.get(self.database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        root = self.catalog.table_root(self.database, table)
        found = set()
        if os.path.isdir(root):
            for f in os.listdir(root):
                p = os.path.join(root, f)
                if f.startswith("g") and f[1:].isdigit() and os.path.isdir(p):
                    found.add(int(f[1:]))
                elif f.endswith(".parquet") or ("=" in f and os.path.isdir(p)):
                    found.add(0)
        found.add(info.generation)
        return sorted(g for g in found if g <= info.generation)

    def read_generation(self, table: str, generation: int) -> DataFrame:
        """Time-travel read: the table AS OF a retained generation
        (each compaction or copy-on-write DML flip creates one — an
        Iceberg-style snapshot scaled down to a directory pointer).
        A non-current generation is FROZEN at the moment its
        successor flipped in — it holds every row visible just before
        that flip, because inserts land in the then-current directory
        (the current generation is simply the live table). Raises
        with the available window if the requested generation is
        retired or future. The current schema applies to every
        generation (columns added later read NULL); SQL-text form:
        ``table_at('name', N)``."""
        table = _check_ident(table)
        info = self.catalog.get(self.database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        if generation == info.generation:
            return self.table_df(table)
        avail = self.generations(table)
        if generation not in avail:
            raise ValueError(
                f"generation {generation} of {table!r} is not retained"
                f" (available: {avail}; raise retain_generations to"
                " keep a deeper history)"
            )
        root = self.catalog.table_root(self.database, table)
        reader = self.spark.read.schema(info.struct())
        if generation == 0:
            # g0 = loose files in the table root; list explicitly so
            # the scan never descends into sibling g<N> snapshot dirs
            files = self._list_parquet(root)
            if not files:
                return self.spark.createDataFrame([], info.struct())
            if info.partition_col:
                reader = reader.option("basePath", root)
            return reader.parquet(
                *[os.path.join(root, f) for f in files]
            )
        d = os.path.join(root, f"g{generation}")
        if info.partition_col:
            reader = reader.option("basePath", d)
        return reader.parquet(d)

    def register_views(self) -> None:
        """Expose every catalog table as a temp view for spark.sql.

        Metadata-only (a parquet scan node per view); Catalyst prunes
        columns/partitions per query, so registering all tables is
        cheap even with thousands of tables.

        Logical views (catalog.views — CREATE VIEW statements) are
        registered after the tables they read, looping until the
        unresolved set stops shrinking — so view-on-view chains of
        any depth resolve regardless of name order. A view whose SQL
        no longer analyzes (dropped base table) is skipped, and
        referencing it then fails with table-not-found — loud, not
        stale results.

        View registration eagerly ANALYZES each view's SQL (unlike
        the lazy table scan nodes), so it is fingerprint-cached. The
        fingerprint covers the (name, sql) set AND cheap monotonic
        mutation state — NOT a parquet file listing (walking every
        table's files per query is O(total files) and contradicts the
        many-files scale story; round-5 advisor finding). Local
        mutations (insert, DML copy-on-write, compaction flip, drops)
        all bump ``plan_cache.epoch`` via invalidate(); cross-instance
        mutations on a shared warehouse dir surface through each base
        table's generation counter plus two O(1) directory mtime_ns
        stats (table root — a flip creates a new g<N> dir there — and
        the current data dir, whose mtime changes when files land in
        it). Granularity note: a FOREIGN instance appending into an
        existing partition subdir of a partitioned table only moves
        that subdir's mtime; Spark's per-job _SUCCESS rewrite at the
        output root covers it in practice. DuckDB (the reference)
        re-resolves views per query; the stats only run when views
        exist at all, so tables-only destinations pay nothing.
        """
        for t in self.catalog.tables(self.database):
            self.table_df(t).createOrReplaceTempView(t)
        views = self.catalog.views(self.database)
        # a view dropped from the catalog must leave the session too —
        # only names THIS destination registered are ever dropped
        for name in getattr(self, "_registered_views", set()) - set(views):
            self.spark.catalog.dropTempView(name)
        self._registered_views = set()
        if not views:
            self._views_fp = None
            return
        state = []
        for t in self.catalog.tables(self.database):
            info = self.catalog.get(self.database, t)
            root = self.catalog.table_root(self.database, t)
            d = self.catalog.data_dir(self.database, t)
            state.append((
                t,
                d,
                info.generation if info is not None else -1,
                self._dir_mtime(root),
                self._dir_mtime(d),
            ))
        fp = hash((
            tuple(sorted(views.items())),
            self.plan_cache.epoch,
            tuple(state),
        ))
        if fp == getattr(self, "_views_fp", None):
            self._registered_views = set(views)
            return
        pending = dict(views)
        while pending:
            failed = {}
            for name, sql in pending.items():
                try:
                    self.view_df(sql).createOrReplaceTempView(name)
                    self._registered_views.add(name)
                except Exception:  # noqa: BLE001 — retried while shrinking
                    failed[name] = sql
            if len(failed) == len(pending):
                break  # nothing resolved this pass: remaining are broken
            pending = failed
        if not pending:
            # cache only a fully-registered set: a broken view must be
            # retried next call (its base table may just have returned)
            self._views_fp = fp
        else:
            self._views_fp = None

    @staticmethod
    def _dir_mtime(d: str) -> int:
        """mtime_ns of a directory, -1 when absent — one stat call,
        the cross-instance half of the view-staleness fingerprint."""
        try:
            return os.stat(d).st_mtime_ns
        except OSError:
            return -1

    def _rewrite_table_at(self, sql: str) -> str:
        """Swap table_at('t', N) calls (outside literals/comments) for
        freshly registered generation-snapshot views — shared by the
        query path and stored views."""
        if not _TABLE_AT_RE.search(sql):
            return sql

        def _travel(m: "re.Match[str]") -> str:
            t, g = m.group(1), int(m.group(2))
            vname = f"__at_{t}_g{g}"
            self.read_generation(t, g).createOrReplaceTempView(vname)
            return vname

        return _sub_in_code(sql, _TABLE_AT_RE, _travel)

    def view_df(self, sql: str) -> DataFrame:
        """DataFrame for a stored view's SQL — with the same DuckDB
        dialect fallback AND table_at() time-travel rewrite the query
        path has (a saved view may be dialect SQL or pin a
        generation snapshot)."""
        sql = self._rewrite_table_at(sql)
        try:
            return self.spark.sql(sql)
        except Exception:
            if not self.duckdb_compat:
                raise
            from scratchdata_spark.dialect import rewrite

            return self.spark.sql(rewrite(sql))

    def query_df(self, query: str) -> DataFrame:
        query = trim_query(query)
        if self.duckdb_compat:
            # pre-parse bridges (see __init__): the r12 literal-
            # semantics pass ('\d' must stay backslash-d through
            # Spark's escape-processing parser) plus the r13 call-
            # semantics pass (2-arg trim/regexp_extract, ^, 1-arg
            # log, 3-arg regexp_replace — valid in both dialects,
            # different meanings; DuckDB's wins) — applied ONCE at
            # this public boundary so every downstream consumer
            # (stock parse, dialect fallback, warehouse DML fragments
            # via F.expr) sees one consistent text.  Re-entrant
            # internal calls (script statements, embedded INSERT/CTAS
            # sources) use _query_df_prepared: a second pass would
            # double the literal doubling and re-bridge replacement
            # strings (r12/r13 regression tests).
            from scratchdata_spark.dialect import prepare_query_text

            query = prepare_query_text(query)
        return self._query_df_prepared(query)

    def _query_df_prepared(self, query: str) -> DataFrame:
        # warehouse DML/DDL executes HERE, bypassing the plan cache —
        # caching would make a repeated INSERT/DELETE text a no-op —
        # and never reaches spark.sql, whose session catalog would
        # swallow CREATE/DROP invisibly (warehouse_dml module doc)
        from scratchdata_spark import warehouse_dml

        stmt_text = warehouse_dml.normalize(query)
        script = warehouse_dml.split_script(stmt_text)
        if len(script) > 1:
            # a saved multi-statement script: DuckDB executes every
            # statement and answers with the LAST one's result.
            # Intermediate DML runs for its side effects; an
            # intermediate SELECT is built (analyzed) but its rows are
            # never materialized — it has no observable effect.
            for stmt in script[:-1]:
                self._query_df_prepared(stmt)
            return self._query_df_prepared(script[-1])
        if warehouse_dml.statement_kind(stmt_text) is not None:
            self.register_views()
            return warehouse_dml.execute(self, stmt_text)

        def build() -> DataFrame:
            self.register_views()
            # time travel: table_at('name', N) reads a retained
            # generation snapshot (read_generation docstring). The
            # rewrite registers a view per (table, generation) and
            # swaps the call for the view name BEFORE spark.sql —
            # engine-specific surface, deliberately outside the
            # DuckDB dialect fallback (DuckDB has no equivalent).
            sql_text = self._rewrite_table_at(query)
            if self.duckdb_compat:
                # DESCRIBE / SHOW TABLES parse in stock Spark with
                # SPARK's catalog shapes — the speaks-DuckDB contract
                # intercepts them first (dialect.describe_form_df)
                from scratchdata_spark.dialect import describe_form_df

                shaped = describe_form_df(
                    self.spark,
                    sql_text,
                    tables=self._catalog_names,
                    run_sql=self._query_df_prepared,
                )
                if shaped is not None:
                    return shaped
            try:
                return self.spark.sql(sql_text)
            except Exception as stock_err:
                # Dialect compat is a FALLBACK: text that stock Spark
                # accepts is never rewritten, so a valid Spark query
                # can't be corrupted by the DuckDB bridging (every
                # bridged token is a parse/analysis error here).
                if not self.duckdb_compat:
                    raise
                from scratchdata_spark.dialect import (
                    expand_columns_macro,
                    rewrite,
                    statement_form_df,
                )

                stmt = statement_form_df(self.spark, sql_text)
                if stmt is not None:
                    return stmt
                # COLUMNS() macros expand against the registered
                # views' schemas (r13); unresolvable shapes pass
                # through to rewrite's loud refusal
                expanded = expand_columns_macro(
                    sql_text, self._resolve_columns, escaped=True
                )
                rewritten = rewrite(expanded)
                if rewritten == sql_text:
                    raise stock_err
                return self.spark.sql(rewritten)

        return self.plan_cache.get(query, build)

    def _catalog_names(self) -> list[str]:
        """Table + view names of the engine's database, for SHOW
        TABLES' DuckDB-shaped output."""
        names = list(self.catalog.tables(self.database))
        names += list(self.catalog.views(self.database))
        return names

    def _resolve_columns(self, table: str) -> list[str] | None:
        """Column names of a registered table/view, for the COLUMNS()
        macro expansion — None when the name doesn't resolve (the
        dialect layer then refuses loudly instead of guessing)."""
        try:
            return self.spark.table(table).columns
        except Exception:
            return None

    def validate_statement(self, query: str) -> bool:
        """True if ``query`` is a warehouse DML/DDL statement, after
        side-effect-free validation (shape, target table, embedded
        SELECT analysis). The HTTP layer calls this BEFORE streaming:
        query_df would EXECUTE the statement, and the API's
        validate-then-serialize shape would run it twice."""
        from scratchdata_spark import warehouse_dml

        query = trim_query(query)
        if self.duckdb_compat:
            # same pre-parse bridges as query_df — validation must
            # analyze exactly the text execution will see
            from scratchdata_spark.dialect import prepare_query_text

            query = prepare_query_text(query)
        stmt_text = warehouse_dml.normalize(query)
        script = warehouse_dml.split_script(stmt_text)
        if len(script) > 1:
            # validate each DML statement WITHOUT executing; plain
            # SELECT parts are left to execution, and a failure that
            # names a table an EARLIER script statement creates is
            # expected (it doesn't exist yet) — everything else is a
            # genuine error surfaced before the HTTP 200
            self.register_views()
            pending: set[str] = set()
            for stmt in script:
                part = warehouse_dml.normalize(stmt)
                if warehouse_dml.statement_kind(part) is not None:
                    try:
                        warehouse_dml.validate(self, part)
                    except Exception as err:  # noqa: BLE001
                        # only a missing-table error naming a table an
                        # EARLIER script statement creates is expected.
                        # The name must appear QUOTED (Spark backticks
                        # the identifier) or after our own "no such
                        # table:" prefix — a bare \b match would hit
                        # words in Spark's boilerplate ('catalog',
                        # 'schema', 'spelling') for tables so named.
                        msg = str(err)
                        expected = any(
                            re.search(rf"[`'\"]{re.escape(n)}[`'\"]", msg)
                            or re.search(
                                rf"(?i)no such table:\s*{re.escape(n)}\b", msg
                            )
                            for n in pending
                        )
                        if not expected:
                            raise
                for rx, gi in (
                    (warehouse_dml._CTAS_RE, 3),
                    (warehouse_dml._CREATE_DEF_RE, 2),
                    (warehouse_dml._CREATE_VIEW_RE, 2),
                ):
                    m = rx.match(part)
                    if m:
                        pending.add(m.group(gi))
            return True
        if warehouse_dml.statement_kind(stmt_text) is None:
            return False
        self.register_views()
        warehouse_dml.validate(self, stmt_text)
        return True

    # serializers (A13-A15) come from DataFrameSerializers — streamed,
    # constant driver memory

    # ---------------------------------------------------------- metadata
    def tables(self) -> list[str]:
        # stored logical views list alongside tables — DuckDB's SHOW
        # TABLES (the reference's /api/tables source) includes views
        return sorted(
            {
                *self.catalog.tables(self.database),
                *self.catalog.views(self.database),
            }
        )

    def columns(self, table: str) -> list[dict]:
        info = self.catalog.get(self.database, table)
        if info is None:
            sql = self.catalog.views(self.database).get(table)
            if sql is None:
                return []
            try:
                fields = self.view_df(sql).schema.fields
            except Exception:
                return []  # broken view (dropped base table)
            return [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in fields
            ]
        return [
            {"name": f.name, "type": f.dataType.simpleString()} for f in info.struct().fields
        ]

    # ------------------------------------------------------------- write
    def create_empty_table(self, table: str) -> None:
        self.catalog.create_empty_table(self.database, _check_ident(table))
        self.plan_cache.invalidate()

    def create_columns(
        self, table: str, ndjson_path: str | list[str], skip_malformed: bool = False
    ) -> None:
        types = infer_types_file(ndjson_path, skip_malformed=skip_malformed)
        self.catalog.add_columns(self.database, _check_ident(table), types)
        self.plan_cache.invalidate()

    def insert_ndjson(
        self,
        table: str,
        ndjson_path: str | list[str],
        skip_malformed: bool = False,
        dedupe_keys: list[str] | None = None,
    ) -> None:
        """Atomic batch insert: the per-table catalog lock is held
        across schema registration AND the data write, so two
        concurrent batches on one table can't interleave their
        read-modify-write of the schema JSON (the losing batch's new
        columns would silently unregister). Accepts a file list — a
        streaming micro-batch inserts all its source files in one call,
        executor-side, without rows ever visiting the driver.

        ``dedupe_keys`` makes the insert IDEMPOTENT BY KEY (the SQL
        ``INSERT … ON CONFLICT DO NOTHING`` semantics): rows whose
        keys already exist in the table are dropped, so an
        at-least-once producer resending the same logical rows in new
        files cannot double-insert. The read-check-write then holds
        the compaction lock (before the catalog lock, the same order
        every copy-on-write rewrite uses), serializing with
        concurrent dedupe inserts and mutations."""
        table = _check_ident(table)
        if dedupe_keys:
            with self._compaction_lock(table):
                with self.catalog.lock(self.database, table):
                    self.create_empty_table(table)
                    self.create_columns(
                        table, ndjson_path, skip_malformed=skip_malformed
                    )
                    self.insert_ndjson_file(
                        table, ndjson_path, dedupe_keys=dedupe_keys
                    )
            return
        with self.catalog.lock(self.database, table):
            self.create_empty_table(table)
            self.create_columns(table, ndjson_path, skip_malformed=skip_malformed)
            self.insert_ndjson_file(table, ndjson_path)

    def insert_ndjson_file(
        self,
        table: str,
        ndjson_path: str | list[str],
        dedupe_keys: list[str] | None = None,
    ) -> None:
        """Bulk load one NDJSON micro-batch (A9) — one file or a list.

        Read every field as string (exact token preservation), then
        cast to the registered column type — the documented
        cast-on-write policy: a value that does not cast becomes NULL
        (SURVEY §7 "type widening on conflict"). Unknown-to-catalog
        columns are ignored here; create_columns runs first in the
        worker, so in practice every batch column is registered.
        """
        table = _check_ident(table)
        with self.catalog.lock(self.database, table):
            info = self.catalog.get(self.database, table)
            if info is None:
                raise KeyError(f"no such table: {table}")
            # tolerant here: strictness is create_columns' job; this
            # inference only lists which columns the batch carries
            batch_types = infer_types_file(ndjson_path, skip_malformed=True)
            string_schema = to_struct({k: "string" for k in batch_types})
            # DROPMALFORMED: an unparseable line vanishes instead of
            # becoming an all-NULL row (matches inference skipping it)
            raw = (
                self.spark.read.schema(string_schema)
                .option("mode", "DROPMALFORMED")
                .json(ndjson_path)
            )
            from scratchdata_spark.jtypes import conform_to_struct

            out = conform_to_struct(raw, info.struct())
            # A5: assign a snowflake __row_id wherever the batch lacks one.
            from scratchdata_spark.ids import snowflake_column

            out = out.withColumn(ROW_ID, F.coalesce(F.col(ROW_ID), snowflake_column()))
            if dedupe_keys:
                keys = list(dedupe_keys)
                missing = [k for k in keys if k not in out.columns]
                if missing:
                    raise ValueError(
                        f"dedupe_keys not in table schema: {missing}"
                    )
                # within-batch dup keys collapse, then only keys cross
                # the anti-join against the table — never the payload
                out = out.dropDuplicates(keys)
                out = out.join(
                    self.table_df(table).select(*keys), keys, "left_anti"
                )
            writer = out.write.mode("append")
            if info.partition_col:
                writer = writer.partitionBy(info.partition_col)
            writer.parquet(self.catalog.data_dir(self.database, table))
        # cached plans pinned the pre-insert file listing — drop them
        self.plan_cache.invalidate()

    # ------------------------------------------------------ maintenance
    def set_partitioning(self, table: str, column: str | None) -> None:
        """Declare hive-style partitioning (empty tables only — see
        catalog.set_partitioning). The column must already be
        registered; inserts then write ``column=value/`` directories
        and scans prune them on partition predicates."""
        table = _check_ident(table)
        if column is not None:
            _check_ident(column)
            info = self.catalog.get(self.database, table)
            if info is None:
                raise KeyError(f"no such table: {table}")
            if column not in {c["name"] for c in info.columns}:
                raise ValueError(f"unknown column: {column}")
        with self.catalog.lock(self.database, table):
            self.catalog.set_partitioning(self.database, table, column)
        self.plan_cache.invalidate()

    @staticmethod
    def _list_parquet(d: str) -> list[str]:
        """Relative paths of every parquet leaf under d (partitioned
        tables nest files in column=value/ dirs, but never in g*/)."""
        out = []
        for dirpath, dirnames, names in os.walk(d):
            dirnames[:] = [x for x in dirnames if not re.fullmatch(r"g\d+", x)]
            for f in names:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, f), d)
                    out.append(rel.replace(os.sep, "/"))
        return sorted(out)

    def file_count(self, table: str) -> int:
        d = self.catalog.data_dir(self.database, _check_ident(table))
        if not os.path.isdir(d):
            return 0
        return len(self._list_parquet(d))

    def compact_table(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 8,
        sort_cols: list[str] | None = None,
        _after_rewrite=None,  # test hook: runs between rewrite and flip
    ) -> dict:
        """Rewrite a table's accumulated micro-batch files into
        ~``target_file_bytes`` files — the maintenance op that keeps
        the 1000-row ingest rotations from becoming a million-file
        scan at scale.

        Generation-pointer design (a snapshot flip, like an Iceberg
        commit scaled down to one JSON field):
        1. snapshot the current file listing and rewrite it into the
           next generation directory — NO lock held, inserts continue;
        2. under the table lock: move files that arrived during the
           rewrite into the new generation untouched (renames, no
           data pass), then atomically flip ``generation`` in the
           catalog JSON;
        3. retire the grandparent generation only — queries in flight
           on the previous generation finish on their pinned listing.

        The rewrite sorts within partitions by ``__row_id`` (snowflake
        ids are time-ordered) so parquet min/max stats prune time-range
        predicates after compaction. ``sort_cols`` overrides this with
        a data-clustering order: a RANGE repartition + sort on the
        listed columns gives the output files tight, mostly-disjoint
        min/max footer ranges on them, so range predicates skip whole
        files at scan time AND the engine's footer-pruned
        DELETE/UPDATE/MERGE rewrites adopt non-matching files by
        rename — the liveness maintenance a 100 TB table needs to keep
        point mutations from rewriting the corpus.
        """
        table = _check_ident(table)
        info = self.catalog.get(self.database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        # Serialize compactions per table: two racers would both compute
        # new_gen=N+1, and the loser's mode('overwrite') rewrite of
        # g{N+1} after the winner's pointer flip deletes the winner's
        # late-file catch-up renames — lost rows. Non-blocking: a racer
        # reports "in progress" instead of queueing a redundant rewrite.
        comp_lock = self._compaction_lock(table)
        if not comp_lock.acquire(blocking=False):
            return {
                "compacted": False,
                "files": self.file_count(table),
                "reason": "compaction in progress",
            }
        try:
            return self._compact_locked(
                table, info, target_file_bytes, min_files, _after_rewrite,
                sort_cols=sort_cols,
            )
        finally:
            comp_lock.release()

    def _compaction_lock(self, table: str):
        import threading

        key = (self.catalog.warehouse, self.database, table)
        with _COMPACT_GUARD:
            return _COMPACT_LOCKS.setdefault(key, threading.Lock())

    def _compact_locked(
        self, table, info, target_file_bytes, min_files, _after_rewrite,
        sort_cols=None,
    ) -> dict:
        if sort_cols:
            # validate BEFORE the below-min_files early return — a bad
            # column name must not report success on a small table
            known = {c["name"] for c in info.columns}
            bad = [c for c in sort_cols if c not in known]
            if bad:
                raise ValueError(f"unknown sort column(s): {bad}")
        cur_dir = self.catalog.data_dir(self.database, table)
        snapshot = self._list_parquet(cur_dir) if os.path.isdir(cur_dir) else []
        if len(snapshot) < min_files:
            return {"compacted": False, "files": len(snapshot), "reason": "below min_files"}

        total = sum(os.path.getsize(os.path.join(cur_dir, f)) for f in snapshot)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        root = self.catalog.table_root(self.database, table)
        new_gen = info.generation + 1
        new_dir = os.path.join(root, f"g{new_gen}")
        src = (
            self.spark.read.schema(info.struct())
            # basePath keeps partition-column values resolvable when the
            # listing addresses leaf files inside column=value/ dirs
            .option("basePath", cur_dir)
            .parquet(*[os.path.join(cur_dir, f) for f in snapshot])
        )
        if info.partition_col and sort_cols:
            # range partition on (hive partition, sort key): each task
            # holds a contiguous key slice of one partition value, so
            # the files inside every partition dir carry disjoint
            # sort-key ranges too
            src = src.repartitionByRange(
                int(n_out),
                F.col(info.partition_col),
                *[F.col(c) for c in sort_cols],
            )
        elif info.partition_col:
            # co-locate each hive partition's rows in the same tasks so
            # the write emits ~1 file per (task, partition value), not
            # n_out files inside every partition directory
            src = src.repartition(int(n_out), F.col(info.partition_col))
        elif sort_cols:
            # range partitioning gives files DISJOINT sort-key ranges
            # (hash would interleave them and defeat footer pruning)
            src = src.repartitionByRange(int(n_out), *[F.col(c) for c in sort_cols])
        else:
            src = src.repartition(int(n_out))
        order = [F.col(c) for c in sort_cols] if sort_cols else [F.col(ROW_ID)]
        writer = src.sortWithinPartitions(*order).write.mode("overwrite")
        if info.partition_col:
            writer = writer.partitionBy(info.partition_col)
        writer.parquet(new_dir)
        if _after_rewrite is not None:
            _after_rewrite()  # simulate inserts landing mid-compaction
        late = self._flip_generation(
            table, info.generation, cur_dir, snapshot, new_dir, new_gen
        )
        if late is None:
            return {
                "compacted": False,
                "files": self.file_count(table),
                "reason": "generation changed during rewrite",
            }
        return {
            "compacted": True,
            "files_in": len(snapshot),
            "late_files": len(late),
            "files_out": self.file_count(table),
            "bytes": int(total),
            "generation": new_gen,
        }

    def _flip_generation(
        self,
        table: str,
        expected_gen: int,
        cur_dir: str,
        snapshot: list[str],
        new_dir: str,
        new_gen: int,
        adopt: list[str] | None = None,
    ) -> list[str] | None:
        """Shared generation-flip tail for compaction AND the
        warehouse-DML copy-on-write rewrites (warehouse_dml.py):
        re-check the pointer under the table lock, rename late-arrived
        insert files into the new generation untouched, flip, retire
        the grandparent. ``adopt`` lists snapshot files a PRUNED
        rewrite left untouched (partitions a predicate cannot reach) —
        they rename over only after the re-check passes, so an abort
        never destroys files already moved. Returns the late-file
        list, or None if the generation changed under us (the new dir
        is discarded)."""
        import shutil

        root = self.catalog.table_root(self.database, table)
        with self.catalog.lock(self.database, table):
            # A flipper on another instance (shared warehouse dir) may
            # have moved the pointer since our snapshot: abort, our
            # rewrite is based on a superseded listing.
            now = self.catalog.get(self.database, table)
            if now is None or now.generation != expected_gen:
                shutil.rmtree(new_dir, ignore_errors=True)
                return None
            # Adopted/late files HARD-LINK into the new generation
            # (parquet files are immutable once written; a link is
            # O(1) regardless of size — retiring either side later
            # just drops one name). A rename would gut the parent
            # directory, so read_generation / table_at on the parent
            # — which generations() advertises at ANY retention —
            # would silently return a partial snapshot. Copy is the
            # no-hardlink-filesystem fallback.
            def _carry(src: str, dst: str) -> None:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)

            for f in adopt or []:
                _carry(os.path.join(cur_dir, f), os.path.join(new_dir, f))
            # catch-up: batches inserted during the rewrite carry over
            # as-is (their schema may trail — reads pass an explicit
            # schema, missing columns come back NULL)
            late = [
                f for f in self._list_parquet(cur_dir) if f not in set(snapshot)
            ] if os.path.isdir(cur_dir) else []
            for f in late:
                _carry(
                    os.path.join(cur_dir, f),
                    os.path.join(
                        new_dir, os.path.dirname(f),
                        "late-" + os.path.basename(f),
                    ),
                )
            self.catalog.set_generation(self.database, table, new_gen)
            self.plan_cache.invalidate()
        self._retire_generations(root, new_gen)
        return late

    def _retire_generations(self, root: str, new_gen: int) -> None:
        """Retire everything older than the retention window (default
        2: current + immediate parent — the parent stays until the
        NEXT flip for in-flight readers; larger windows keep a history
        for read_generation / table_at() time travel). Sweep ≤ the
        cutoff rather than one exact index so lowering the retention
        later also cleans generations an earlier, larger window left
        behind. Shared by the compaction/rewrite flip above and the
        CREATE OR REPLACE adoption (warehouse_dml._exec_ctas)."""
        import shutil

        cutoff = new_gen - max(2, int(self.retain_generations))
        if cutoff < 0:
            return
        for f in os.listdir(root):
            p = os.path.join(root, f)
            if f.endswith(".parquet") or f == "_SUCCESS":
                os.remove(p)  # g0 = loose files in the root
            elif "=" in f and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)  # g0 hive dirs
            elif (
                f.startswith("g")
                and f[1:].isdigit()
                and 0 < int(f[1:]) <= cutoff
                and os.path.isdir(p)
            ):
                shutil.rmtree(p, ignore_errors=True)
