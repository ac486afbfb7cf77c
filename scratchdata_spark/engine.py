"""Destination interface + the Spark destination (the default backend).

Follows the reference's Destination interface
(``pkg/destinations/destinations.go:27-40``) as a Python ABC so other
OLAP backends (DuckDB, JDBC engines, BigQuery) slot in behind the same
API, with Spark as the primary. The read half matches it (QueryJSON /
QueryNDJson / QueryCSV / Tables / Columns / Close, plus ``query_df``).
The write half is one call, ``insert_ndjson``, where the reference has
three (CreateEmptyTable → CreateColumns → InsertFromNDJsonFile): the
reference's worker always makes the three in that order, and as one
call a backend infers the batch's types once, strictly, and feeds that
one map to its column step and its load step, under whatever lock or
transaction makes the whole write atomic.

Query semantics: raw SQL passthrough, prepared once per request
(``Destination.prepare`` → ``PreparedQuery``): the reference's trim
(``pkg/util/sql.go:9-13``), on Spark the dialect pre-parse bridges,
then the script split and statement kinds. The HTTP path gates,
validates and serves that one value, and serving writes the DataFrame
validation built; the text API (``query_df(text)``, …) prepares its
text the same way. Spark's parser is the validator.

Serving path: ``query_df`` returns the DataFrame for a query from
the destination's ``PlanCache``. A hit is a DataFrame that already
holds its physical plan, and the JSON/NDJSON ``to_json`` projection
over it is built once and kept with it. A hit in a format whose answer
was at most 64 KB when first written (``ANSWER_CAP``) writes the text
the entry kept and runs no Spark job; any other hit re-runs only the
result stage of that plan (its shuffle and broadcast outputs are
reused). An entry, and the answers it keeps, serves as long as the
tables its plan reads and the stored views are unchanged, whoever
wrote them; texts whose answer depends on the clock, on randomness or
on files outside the warehouse are never cached, so never kept. A miss
re-registers only the tables whose catalog entry changed
(``SparkDestination.register_views``).

Result delivery: an answer whose executed plan has one partition is
fetched with one ``collect()``; a larger answer streams through
``toLocalIterator`` one partition at a time, so a 100 GB result never
materializes on the driver (the moral equivalent of the reference's
fifo streaming, ``duckdb/query.go:15-116``). Streaming costs ~40 ms per
partition: the JVM serves each partition in small frames on a socket
with Nagle on while the Python reader delays its ACK, so the common
small answer is collected instead. While a cached plan's answer is
written, a copy of it is kept up to 64 KB per format, so kept answers
take at most 256 entries × 3 formats × 64 KB = 48 MB; a larger answer
is streamed again on every request.
"""

from __future__ import annotations

import functools
import json
import os
import re
from abc import ABC, abstractmethod
from dataclasses import dataclass
from typing import IO, Iterator
from urllib.parse import urlsplit

from py4j.protocol import Py4JError

from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _load_from_socket

from scratchdata_spark.catalog import ROW_ID, TableCatalog, TableInfo
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


@dataclass
class PreparedQuery:
    """One query text, prepared once by ``Destination.prepare`` and
    passed whole through a request: the admin gate reads
    ``needs_admin``, validation stores a SELECT's DataFrame in ``df``,
    and serving writes that DataFrame or executes the statements."""

    text: str
    df: DataFrame | None = None

    @functools.cached_property
    def statements(self) -> list[tuple[str, str | None]]:
        """(statement, ``warehouse_dml.statement_kind``) per script
        statement; kind None is a query, kept as written (it keys the
        plan cache), while a warehouse statement is ``normalize``d."""
        from scratchdata_spark import warehouse_dml

        script = warehouse_dml.split_script(warehouse_dml.normalize(self.text))
        out = []
        for part in script if len(script) > 1 else [self.text]:
            norm = warehouse_dml.normalize(part)
            kind = warehouse_dml.statement_kind(norm)
            out.append((norm if kind else part, kind))
        return out

    @property
    def needs_admin(self) -> bool:
        """Some statement is admin-gated maintenance (COMPACT TABLE)."""
        return any(kind == "compact" for _, kind in self.statements)


class Destination(ABC):
    """One analytics backend holding many tables (unit of multi-tenancy).
    The query methods take a text or a ``PreparedQuery``. Writing is
    ``insert_ndjson`` alone (see the module docstring for why it is one
    call); ``create_empty_table`` is the step backends build it from."""

    def prepare(self, query: str) -> PreparedQuery:
        """The request value for ``query``, trimmed as the reference
        trims it."""
        return PreparedQuery(trim_query(query))

    def _prepared(self, query: str | PreparedQuery) -> PreparedQuery:
        return query if isinstance(query, PreparedQuery) else self.prepare(query)

    @abstractmethod
    def query_df(self, query: str | PreparedQuery) -> DataFrame | None: ...

    @abstractmethod
    def query_json(self, query: str | PreparedQuery, out: IO[str]) -> None: ...

    @abstractmethod
    def query_ndjson(self, query: str | PreparedQuery, out: IO[str]) -> None: ...

    @abstractmethod
    def query_csv(self, query: str | PreparedQuery, out: IO[str]) -> None: ...

    @abstractmethod
    def tables(self) -> list[str]: ...

    @abstractmethod
    def columns(self, table: str) -> list[dict]: ...

    @abstractmethod
    def create_empty_table(self, table: str) -> None: ...

    @abstractmethod
    def insert_ndjson(self, table: str, ndjson_path: str | list[str]) -> None:
        """Write one NDJSON batch (a file or a list of files): create the
        table if absent, add the batch's new columns with the types
        ``jtypes.infer_types_file`` infers once over the whole batch,
        and load the rows. A malformed batch raises before any row is
        written."""

    def close(self) -> None:  # pragma: no cover - trivial
        pass


# leaves that read no table: SELECT without FROM, range(), VALUES
_NO_TABLE_LEAVES = frozenset({"OneRowRelation", "Range", "LocalRelation"})


def plan_reads(df: DataFrame, table_roots: dict[str, str]) -> set[str] | None:
    """The tables ``df`` reads, named through ``table_roots`` (absolute
    table root → table name), or None when its answer may change
    although none of them did, so it must never be cached:

    - a nondeterministic plan (``rand()``, ``uuid()``, ``shuffle()``:
      the analyzer pins their seed, so a reused plan repeats its first
      values);
    - a plan that reads the clock (``now()``, ``current_date``, ...:
      the optimizer folds them to literals once per plan). Catalyst's
      own ``ComputeCurrentTime`` rule is applied to see whether it
      changes the plan, so subqueries and views are covered;
    - an engine-built catalog shape (DESCRIBE, SHOW TABLES: literal
      rows tagged ``_sd_local_result``);
    - a leaf, in the plan or in a subquery expression, that is neither
      a file relation whose root paths lie under table roots nor a
      ``OneRowRelation``, ``Range`` or literal ``LocalRelation`` — e.g.
      ``read_parquet`` of a directory outside the warehouse.

    Stored views and ``table_at`` snapshots resolve to scans of their
    base tables' directories."""
    if getattr(df, "_sd_local_result", False):
        return None
    analyzed = df._jdf.queryExecution().analyzed()
    if not analyzed.deterministic():
        return None
    rule = _compute_current_time(df.sparkSession._jvm)
    if not rule.apply(analyzed).fastEquals(analyzed):
        return None
    tables = set()
    for plan in [analyzed, *_seq(analyzed.subqueriesAll())]:
        for leaf in _seq(plan.collectLeaves()):
            kind = leaf.nodeName()
            if kind in _NO_TABLE_LEAVES:
                continue
            if kind != "LogicalRelation":
                return None
            try:
                roots = leaf.relation().location().rootPaths().mkString("\n")
            except Py4JError:
                return None  # not a file relation (JDBC, ...)
            for uri in roots.split("\n"):
                path = urlsplit(uri).path
                while path not in table_roots:
                    parent = os.path.dirname(path)
                    if parent == path:
                        return None
                    path = parent
                tables.add(table_roots[path])
    return tables


def _seq(seq) -> list:
    """A Scala ``Seq`` from py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


@functools.lru_cache(maxsize=None)
def _compute_current_time(jvm):
    # one py4j round trip per package segment: resolve the rule once
    return jvm.org.apache.spark.sql.catalyst.optimizer.ComputeCurrentTime


@dataclass
class _Snapshot:
    """What a plan was analyzed over: the catalog entry of each table,
    read before its scan was created, and the stored views' (name,
    sql). ``register_views`` returns one for every table; a
    ``PlanCache`` entry keeps the part its plan reads."""

    tables: dict[str, TableInfo]
    views: dict[str, str]

    def restrict(self, tables: set[str]) -> _Snapshot:
        return _Snapshot({t: self.tables[t] for t in tables}, self.views)


class PlanCache:
    """Prepared-statement-style reuse of query plans and of their small
    answers, keyed by the prepared query text.

    An entry is the DataFrame a query text built. Its ``QueryExecution``
    plans once, on the first execution, and keeps the physical plan;
    the JSON serializer's ``to_json`` projection is memoized on the
    same DataFrame (``DataFrameSerializers``). ``get`` also gives every
    DataFrame it stores an empty answers dict (``_sd_answers``), where
    the serializers keep the text each format wrote when it was at most
    ``ANSWER_CAP`` (64 KB). A warm request in a format with a kept
    answer writes that text and runs no Spark job; otherwise it skips
    parsing, analysis, optimization and planning, and runs only the
    result stage: the shuffle and broadcast outputs of the first
    execution are reused. Those shuffle files stay on local disk while
    the entry lives: Spark's context cleaner removes them only after the
    entry is replaced, evicted (oldest first, beyond ``max_entries``)
    or cleared, and its plan is garbage-collected. Kept answers go with
    the entry, so they take at most 256 entries × 3 formats × 64 KB =
    48 MB.

    Validity: an entry serves exactly as long as the tables it reads
    and the stored views are unchanged, whoever writes them. It keeps
    the snapshot of the ``register_views`` pass before its build,
    restricted to the tables its plan reads (``plan_reads``), and
    ``get`` re-reads only those tables' catalog entries: every write
    commits a new entry (``catalog`` module doc), and a write to one
    table leaves plans over other tables warm. A kept answer is what
    re-executing the entry's plan would write, since both read the
    file listing fixed when the plan was analyzed.

    Never cached (``plan_reads`` is None), so never answered from a
    kept text: nondeterministic and clock texts, engine-built catalog
    shapes, and plans with a leaf that names no table, such as
    ``read_parquet`` outside the warehouse.

    ``counts`` holds the lookups so far: ``hits``, ``misses`` (every
    ``build()``, cacheable or not) and ``answer_hits`` (hits written
    from a kept answer, counted by the serializers).
    """

    def __init__(self, dest: SparkDestination, max_entries: int = 256):
        self._dest = dest
        self._max = max_entries
        self._plans: dict[str, tuple[DataFrame, _Snapshot]] = {}
        self.counts = {"hits": 0, "misses": 0, "answer_hits": 0}
        self._count_lock = _threading.Lock()

    def count(self, outcome: str) -> None:
        with self._count_lock:
            self.counts[outcome] += 1

    def get(self, key: str, build) -> DataFrame:
        """The cached DataFrame for ``key`` if its tables and the stored
        views are unchanged; otherwise ``build()``, which returns the
        DataFrame and the ``register_views`` snapshot it was analyzed
        after."""
        entry = self._plans.get(key)
        if entry is not None:
            if self._unchanged(entry[1]):
                self.count("hits")
                return entry[0]
            self._plans.pop(key, None)
        self.count("misses")
        df, snap = build()
        dest = self._dest
        roots = {
            os.path.abspath(dest.catalog.table_root(dest.database, t)): t
            for t in snap.tables
        }
        tables = plan_reads(df, roots)
        if tables is None:
            return df
        df._sd_answers = {}
        if len(self._plans) >= self._max:
            # drop oldest insertion (dict preserves order)
            self._plans.pop(next(iter(self._plans)), None)
        self._plans[key] = (df, snap.restrict(tables))
        return df

    def _unchanged(self, snap: _Snapshot) -> bool:
        dest = self._dest
        if dest.catalog.views(dest.database) != snap.views:
            return False
        return all(
            dest.catalog.get(dest.database, t) == info
            for t, info in snap.tables.items()
        )

    def invalidate(self) -> None:
        """Drop every entry."""
        self._plans.clear()


# the largest answer text, in UTF-8 bytes, that a ``PlanCache`` entry
# keeps per format
ANSWER_CAP = 64 * 1024


class _KeepingWriter:
    """Passes text through to ``out`` and keeps a copy of it until the
    copy would pass ``ANSWER_CAP``; ``text()`` is the copy, or None
    past the cap."""

    def __init__(self, out: IO[str]):
        self._out = out
        self._parts: list[str] | None = []
        self._size = 0

    def write(self, s: str) -> int:
        if self._parts is not None:
            self._size += len(s.encode())
            if self._size > ANSWER_CAP:
                self._parts = None
            else:
                self._parts.append(s)
        return self._out.write(s)

    def text(self) -> str | None:
        return None if self._parts is None else "".join(self._parts)


class DataFrameSerializers:
    """JSON / NDJSON / CSV serializers (A13–A15) for any backend
    exposing ``query_df`` — shared by the Spark and JDBC destinations.

    Kept answers: a DataFrame that ``PlanCache`` holds carries an
    answers dict. When a format finds its text there, the request
    writes that text and runs no Spark job. Otherwise the answer
    streams as below, and a copy of the text is kept in the dict if the
    whole answer is at most ``ANSWER_CAP`` (64 KB) and the write ended
    without an exception; the copy stops at the cap, so a large answer
    is streamed on every request and never held. A DataFrame without
    the dict (uncacheable texts, DML results, the JDBC destination)
    never keeps an answer.

    JSON and NDJSON run ``to_json`` in the JVM over a projection of the
    query's DataFrame. The projection is built once per DataFrame and
    memoized on it, so for a ``PlanCache`` hit it is already planned and
    a request without a kept answer re-runs only its result stage; CSV
    executes the DataFrame itself.

    How rows are fetched is decided once per DataFrame and memoized
    with it (``_collects``): a driver-local result (DML counts, command
    results) or an answer whose executed plan has exactly one partition
    is fetched with one ``collect()``; anything larger streams through
    ``toLocalIterator``. Memory bound: the driver JVM holds one
    partition at a time (a streamed answer also the prefetched next
    one) and Python one pickled batch of rows, so a 100 GB
    multi-partition result still never materializes on the driver. A
    one-partition answer is not necessarily small (a large ``LIMIT``, a
    single-file table, a JDBC scan); it is held whole in the JVM, as
    it was when streamed.
    Collecting avoids the ~40 ms delayed-ACK stall ``toLocalIterator``
    pays per partition. A ``PreparedQuery`` validation turned into a
    DataFrame is served from that DataFrame."""

    def _answer(self, query) -> DataFrame:
        query = self._prepared(query)
        return query.df if query.df is not None else self.query_df(query)

    def _serve(self, query, out: IO[str], fmt: str, write) -> None:
        """Write ``query``'s answer as ``fmt`` with ``write(df, out)``,
        or from the text its plan-cache entry kept (class docstring)."""
        df = self._answer(query)
        answers = getattr(df, "_sd_answers", None)
        if answers is None:
            write(df, out)
            return
        text = answers.get(fmt)
        if text is not None:
            self.plan_cache.count("answer_hits")
            out.write(text)
            return
        keeping = _KeepingWriter(out)
        write(df, keeping)
        text = keeping.text()
        if text is not None:
            answers[fmt] = text

    @staticmethod
    def _fetch_rows(out: DataFrame, collect: bool):
        # ``collect`` only for driver-local or one-partition answers
        # (``_collects``): one job, and the JVM holds that one
        # partition; Python reads it off the socket in pickled batches
        # as it writes (``collect()`` minus its ``list()``), so its own
        # memory stays at one batch. Otherwise stream: the driver
        # holds the partition being consumed, and prefetchPartitions
        # lets the JVM fetch the next one meanwhile (one job per
        # partition, each served after a ~40 ms delayed-ACK stall).
        if collect:
            with SCCallSiteSync(out._sc):
                sock_info = out._jdf.collectToPython()
            return _load_from_socket(
                sock_info, BatchedSerializer(CPickleSerializer())
            )
        return out.toLocalIterator(prefetchPartitions=True)

    @staticmethod
    def _collects(df: DataFrame, out: DataFrame) -> bool:
        """Whether ``out`` (``df`` or its JSON projection) is fetched
        with ``collect()``; memoized on ``out``.

        Locality is checked on ``df``: the analyzed plan of the
        ``to_json`` projection is a Project over the LocalRelation,
        which isLocal() no longer recognizes (the optimizer folds it
        back into a LocalRelation before execution, so collect() still
        runs without a job). ``_sd_local_result`` is the engine's own
        tag on driver-built small results (DML counts, DESCRIBE/SHOW
        shapes) — createDataFrame yields a LogicalRDD, which isLocal()
        reports False even for one literal row.

        The partition count is read from ``out``'s own executed plan:
        ``toRdd`` runs the adaptive map stages the fetch would run
        anyway, and the fetch then reuses that final plan."""
        memo = getattr(out, "_sd_collect", None)
        if memo is None:
            memo = out._sd_collect = bool(
                getattr(df, "_sd_local_result", False)
                or df.isLocal()
                or out._jdf.queryExecution().toRdd().getNumPartitions() == 1
            )
        return memo

    def _json_rows(self, df: DataFrame) -> Iterator[str]:
        # The projection is memoized on ``df``: for a cached plan it
        # keeps its own physical plan, shuffle outputs and fetch
        # decision, and goes with the cache entry. Concurrent first
        # uses may each build one; the last one stored wins.
        out = getattr(df, "_sd_json_projection", None)
        if out is None:
            out = df._sd_json_projection = self._json_projection(df)
        collect = self._collects(df, out)
        return (r["__j"] for r in self._fetch_rows(out, collect))

    @staticmethod
    def _json_projection(df: DataFrame) -> DataFrame:
        # NULL fields are kept explicitly (ignoreNullFields=false):
        # every reference backend writer emits them — DuckDB's COPY
        # (FORMAT JSON), ClickHouse JSONEachRow, the Postgres
        # json.Encoder — so a consumer checking ``row["v"] is None``
        # must see the key.  Plain df.toJSON() silently DROPS null
        # fields.
        cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
        return df.select(
            F.to_json(
                F.struct(*cols), {"ignoreNullFields": "false"}
            ).alias("__j")
        )

    def query_json(self, query, out: IO[str]) -> None:
        self._serve(query, out, "json", self._write_json)

    def query_ndjson(self, query, out: IO[str]) -> None:
        self._serve(query, out, "ndjson", self._write_ndjson)

    def query_csv(self, query, out: IO[str]) -> None:
        self._serve(query, out, "csv", self._write_csv)

    def _write_json(self, df: DataFrame, out: IO[str]) -> None:
        out.write("[")
        for i, row in enumerate(self._json_rows(df)):
            if i:
                out.write(",")
            out.write(row)
        out.write("]")

    def _write_ndjson(self, df: DataFrame, out: IO[str]) -> None:
        for row in self._json_rows(df):
            out.write(row)
            out.write("\n")

    def _write_csv(self, df: DataFrame, out: IO[str]) -> None:
        import csv

        writer = csv.writer(out)
        writer.writerow(df.columns)  # deterministic column order
        # (fixes the reference's BigQuery map-iteration bug, query.go:112-180)
        for row in self._fetch_rows(df, self._collects(df, df)):
            writer.writerow(["null" if v is None else v for v in row])


class RowSerializers:
    """JSON / NDJSON / CSV for a backend that answers a query's text
    with ``_rows(text) -> (columns, rows)`` and has no DataFrame
    surface (DuckDB, BigQuery)."""

    def query_df(self, query):
        raise NotImplementedError(f"{type(self).__name__} has no DataFrame surface")

    def query_json(self, query, out: IO[str]) -> None:
        cols, rows = self._rows(self._prepared(query).text)
        out.write(json.dumps([dict(zip(cols, r)) for r in rows], default=str))

    def query_ndjson(self, query, out: IO[str]) -> None:
        cols, rows = self._rows(self._prepared(query).text)
        for r in rows:
            out.write(json.dumps(dict(zip(cols, r)), default=str))
            out.write("\n")

    def query_csv(self, query, out: IO[str]) -> None:
        import csv

        cols, rows = self._rows(self._prepared(query).text)
        w = csv.writer(out)
        w.writerow(cols)
        for r in rows:
            w.writerow(["null" if v is None else v for v in r])


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

    Freshness: every write that adds or removes a table's files ends
    with one catalog write under the table lock, after its files are
    in place (``catalog`` module doc). Cached plans and registered
    scans are valid exactly while the catalog entries they were built
    over are unchanged, by whichever instance shares the warehouse.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        database: str = "default",
        export_root: str | None = None,
        retain_generations: int = 2,
    ):
        self.spark = spark
        self.catalog = catalog
        self.database = _check_ident(database)
        self.plan_cache = PlanCache(self)
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
        # Backslash parity is TEXT preprocessing, not a parser flag:
        # DuckDB keeps '\d' as backslash-d where Spark's parser eats
        # it, and escapedStringLiterals=true would break DuckDB's
        # quote doubling ('a''b'). So prepare() doubles the
        # backslashes inside '…' literals
        # (dialect.escape_backslashes_for_spark) and the parser
        # collapses them back.
        register_compat_functions(spark)

    # ------------------------------------------------------------- read
    def table_df(self, table: str) -> DataFrame:
        info = self.catalog.get(self.database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        return self._scan(info, self.catalog.data_dir(self.database, table))

    def _scan(self, info, d: str) -> DataFrame:
        """Parquet scan of one generation dir with the catalog schema."""
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
        if generation == 0:
            # g0 = loose files in the table root; list explicitly so
            # the scan never descends into sibling g<N> snapshot dirs
            files = self._list_parquet(root)
            if not files:
                return self.spark.createDataFrame([], info.struct())
            reader = self.spark.read.schema(info.struct())
            if info.partition_col:
                reader = reader.option("basePath", root)
            return reader.parquet(
                *[os.path.join(root, f) for f in files]
            )
        return self._scan(info, os.path.join(root, f"g{generation}"))

    def register_views(self) -> _Snapshot:
        """Expose every catalog table, then every stored view, as a temp
        view for spark.sql, and return the ``_Snapshot`` this pass saw.

        Tables: a table's temp view is re-created only when its
        catalog entry changed. The entry is read before the scan is
        created (creating it lists the table's files), and every
        write, by this instance or by another sharing the warehouse
        dir, commits a new entry after its files are in place
        (``catalog`` module doc); so the scan holds at least the files
        of the commit it was registered under, and an unchanged table
        costs one catalog read. A table of this database that the
        catalog no longer lists, dropped here or by another instance,
        loses its temp view, so naming it fails with table-not-found.
        The entries and the lock that serializes registration live on
        the Spark session, next to the temp views they describe, so
        destinations sharing a session cannot mistake each other's
        registrations for their own.

        Logical views (catalog.views — CREATE VIEW statements) are
        registered after the tables they read, looping until the
        unresolved set stops shrinking — so view-on-view chains of
        any depth resolve regardless of name order. A view whose SQL
        no longer analyzes (dropped base table) is skipped, and
        referencing it then fails with table-not-found — loud, not
        stale results.

        View registration eagerly ANALYZES each view's SQL, so the
        whole view set is cached too: on the (name, sql) set and every
        table's commit id, never a parquet file listing (walking every
        table's files per query is O(total files) and contradicts the
        many-files scale story). DuckDB (the reference) re-resolves
        views per query.
        """
        # one registration at a time per session (the scope of the
        # temp views and their catalog entries): a slower concurrent
        # call must not re-create an older scan after a newer entry
        # was stored for it
        lock = self.spark.__dict__.setdefault(
            "_sd_register_lock", _threading.Lock()
        )
        with lock:
            return self._register_views_locked()

    def _register_views_locked(self) -> _Snapshot:
        # table name → (database, catalog entry) of the temp view this
        # session holds
        registered = self.spark.__dict__.setdefault("_sd_table_fps", {})
        snap = _Snapshot({}, {})
        for t in self.catalog.tables(self.database):
            info = self.catalog.get(self.database, t)
            if info is None:
                continue  # dropped since the listing
            snap.tables[t] = info
            if registered.get(t) == (self.database, info):
                continue
            scan = self._scan(info, self.catalog.data_dir_of(info))
            scan.createOrReplaceTempView(t)
            registered[t] = (self.database, info)
        # a table dropped by any instance leaves the session, so a
        # query naming it fails with table-not-found instead of
        # scanning deleted files
        for t, (db, _) in list(registered.items()):
            if db == self.database and t not in snap.tables:
                self.spark.catalog.dropTempView(t)
                del registered[t]
        views = snap.views = self.catalog.views(self.database)
        # a view dropped from the catalog must leave the session too —
        # only names THIS destination registered are ever dropped
        for name in getattr(self, "_registered_views", set()) - set(views):
            self.spark.catalog.dropTempView(name)
        self._registered_views = set()
        if not views:
            self._views_fp = None
            return snap
        fp = (
            tuple(sorted(views.items())),
            tuple((t, info.commit) for t, info in snap.tables.items()),
        )
        if fp == getattr(self, "_views_fp", None):
            self._registered_views = set(views)
            return snap
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
        # cache only a fully-registered set: a broken view must be
        # retried next call (its base table may just have returned)
        self._views_fp = None if pending else fp
        return snap

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
            from scratchdata_spark.dialect import rewrite

            return self.spark.sql(rewrite(sql))

    def prepare(self, query: str) -> PreparedQuery:
        """Trim, then the dialect pre-parse bridges (see __init__ and
        ``dialect.prepare_query_text``), once per text: every consumer
        (stock parse, dialect fallback, DML fragments via F.expr) sees
        one consistent text, and a second pass would double the
        literal doubling (r12/r13 regression tests)."""
        from scratchdata_spark import dialect

        return PreparedQuery(dialect.prepare_query_text(trim_query(query)))

    def query_df(self, query: str | PreparedQuery) -> DataFrame:
        return self._script_df(self._prepared(query))

    def _query_df_prepared(self, query: str) -> DataFrame:
        """``query_df`` for text that is already prepared: the
        re-entrant internal calls (embedded INSERT/CTAS/COPY sources,
        DESCRIBE bodies)."""
        return self._script_df(PreparedQuery(query))

    def _script_df(self, query: PreparedQuery) -> DataFrame:
        # a saved multi-statement script: DuckDB executes every
        # statement and answers with the LAST one's result.
        # Intermediate DML runs for its side effects; an intermediate
        # SELECT is built (analyzed) but its rows are never
        # materialized — it has no observable effect.
        for stmt, kind in query.statements:
            df = self._statement_df(stmt, kind)
        return df

    def _statement_df(self, stmt: str, kind: str | None) -> DataFrame:
        # warehouse DML/DDL executes HERE, bypassing the plan cache —
        # caching would make a repeated INSERT/DELETE text a no-op —
        # and never reaches spark.sql, whose session catalog would
        # swallow CREATE/DROP invisibly (warehouse_dml module doc)
        if kind is not None:
            from scratchdata_spark import warehouse_dml

            self.register_views()
            return warehouse_dml.execute(self, stmt, kind)

        def build() -> tuple[DataFrame, _Snapshot]:
            snap = self.register_views()
            return self._select_df(stmt), snap

        return self.plan_cache.get(stmt, build)

    def _select_df(self, stmt: str) -> DataFrame:
        """Analyze a query statement over the registered views."""
        # time travel: table_at('name', N) reads a retained
        # generation snapshot (read_generation docstring). The
        # rewrite registers a view per (table, generation) and
        # swaps the call for the view name BEFORE spark.sql —
        # engine-specific surface, deliberately outside the
        # DuckDB dialect fallback (DuckDB has no equivalent).
        sql_text = self._rewrite_table_at(stmt)
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
            from scratchdata_spark.dialect import (
                expand_columns_macro,
                rewrite,
                statement_form_df,
            )

            form = statement_form_df(self.spark, sql_text)
            if form is not None:
                return form
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

    def validate_statement(self, query: str | PreparedQuery) -> bool:
        """True if ``query`` is a warehouse DML/DDL statement or a
        script, after side-effect-free validation: each statement is
        planned by the same step that executes it, and the plan is
        discarded (``warehouse_dml.validate``). The HTTP layer calls
        this BEFORE streaming: query_df would EXECUTE the statement,
        and the API's validate-then-serialize shape would run it
        twice. What may still fail after the 200 is data-dependent:
        INSERT's NULL conflict keys and MERGE's cardinality guard. A
        single query returns False with no analysis."""
        from scratchdata_spark import warehouse_dml

        statements = self._prepared(query).statements
        if len(statements) == 1 and statements[0][1] is None:
            return False
        self.register_views()
        warehouse_dml.validate(self, statements)
        return True

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

    def insert_ndjson(self, table: str, ndjson_path: str | list[str]) -> None:
        """Atomic batch insert (A9): the per-table catalog lock is held
        across schema registration, the data write and its commit
        (``TableCatalog.commit``), so two concurrent batches on one
        table can't interleave their read-modify-write of the schema
        JSON (the losing batch's new columns would silently
        unregister). Accepts a file list.
        The batch's types are inferred once, strictly (a malformed
        line fails the batch before any row is appended), and serve
        both the column registration and the append."""
        table = _check_ident(table)
        with self.catalog.lock(self.database, table):
            self.create_empty_table(table)
            types = infer_types_file(ndjson_path)
            info = self.catalog.add_columns(self.database, table, types)
            self._append(info, ndjson_path, types)
            self.catalog.commit(self.database, table)

    def _append(
        self, info: TableInfo, ndjson_path: str | list[str], batch_types: dict[str, str]
    ) -> None:
        """Load the batch into ``info``'s table under ``insert_ndjson``'s
        lock. Every field is read as a string (exact token
        preservation), then cast to the registered column type — the
        documented cast-on-write policy: a value that does not cast
        becomes NULL (SURVEY §7 "type widening on conflict")."""
        string_schema = to_struct({k: "string" for k in batch_types})
        # DROPMALFORMED: a line Spark's JSON parser rejects although
        # inference parsed it vanishes instead of becoming an all-NULL row
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
        writer = out.write.mode("append")
        if info.partition_col:
            writer = writer.partitionBy(info.partition_col)
        writer.parquet(self.catalog.data_dir_of(info))

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
        CREATE OR REPLACE adoption (warehouse_dml._plan_ctas)."""
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
