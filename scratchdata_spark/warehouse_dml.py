"""Warehouse DML/DDL statements over the parquet catalog.

The reference forwards EVERY statement to its backend verbatim
(``pkg/destinations/duckdb/query.go``, trim at ``pkg/util/sql.go``),
so a reference user's saved scripts contain ``CREATE TABLE AS`` /
``INSERT INTO … SELECT`` / ``DELETE`` / ``UPDATE`` / ``DROP`` /
``TRUNCATE`` alongside their reads. Handing those to ``spark.sql``
is silently wrong here: Spark would route CREATE/DROP at its own
session catalog — invisible to this engine's schema registry,
``/api/tables``, and every other session — and DELETE/UPDATE fail
outright on parquet-backed views. These statements are therefore
intercepted BEFORE the passthrough and executed against the
TableCatalog.

Execution model (designed for 100 TB):

* CTAS / INSERT-SELECT: the source SELECT runs through ``query_df``
  (dialect fallback included), and the write is a distributed
  parquet append with snowflake ``__row_id`` assignment
  (ids.snowflake_column — JVM-side, no driver materialization).
* DELETE / UPDATE / TRUNCATE: copy-on-write into the next
  generation directory plus an atomic pointer flip — the same
  snapshot mechanism as compaction (engine.compact_table), holding
  the same per-table compaction lock so rewrites serialize; readers
  in flight finish on their pinned listing, inserts that land
  mid-rewrite are renamed into the new generation untouched (they
  are not part of the statement's snapshot). Partition-pruned CoW
  (_prunable_partitions): a predicate that touches only the
  partition column rewrites just the matching partition dirs and
  RENAMES everything else over — Delta/Iceberg-style pruning at
  directory granularity, so a point delete on a partitioned 100 TB
  table never rewrites the corpus. A second tier
  (_numeric_conjuncts/_file_may_match) prunes at FILE granularity
  from parquet row-group min/max footers: numeric comparison
  conjuncts rule files out entirely (numeric stats are exact;
  string stats may be writer-truncated and are never used), so even
  an unpartitioned table's point delete rewrites only the files
  whose value range can contain matches.
* One check per statement: each kind's planner (``_PLANNERS``)
  parses the text once and makes every check and analysis that
  writes nothing, then returns a ``run()`` that only writes. The API
  validates before it streams (api_server._run_query): ``validate``
  plans and discards, with zero side effects, and the single
  execution (``execute``: plan, then run) happens when the request
  is served. After the 200 only data-dependent guards can refuse a
  statement — INSERT's NULL conflict keys and MERGE's cardinality
  guard, which need a Spark job over the rows — or a re-read under a
  lock that finds the table changed.

DuckDB DML result parity: every statement returns a one-row
``count BIGINT`` DataFrame (rows written / deleted / updated;
0 for pure DDL), which serializes through the normal JSON/CSV path.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from scratchdata_spark.catalog import ROW_ID

_IDENT = r"[A-Za-z_]\w*"

_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    rf"({_IDENT})\s+AS\s+(.+?)(\s+WITH\s+NO\s+DATA)?\s*;?\s*$",
    re.I | re.S,
)
_CREATE_DEF_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s*\((.+)\)\s*;?\s*$",
    re.I | re.S,
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+(?:OR\s+(IGNORE|REPLACE)\s+)?INTO\s+({_IDENT})"
    rf"\s*(?:\(\s*([^)]*?)\s*\))?\s*"
    rf"((?:SELECT|VALUES|WITH|FROM)\b.+?|DEFAULT\s+VALUES)\s*"
    rf"(?:ON\s+CONFLICT\s*(?:\(\s*([^)]*?)\s*\))?\s+DO\s+"
    rf"(NOTHING|UPDATE\s+SET\s+.+?)\s*)?"
    rf"(?:RETURNING\s+(.+?)\s*)?;?\s*$",
    re.I | re.S,
)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_IDENT})\s*;?\s*$", re.I | re.S
)
_TRUNCATE_RE = re.compile(
    rf"^\s*TRUNCATE\s+(?:TABLE\s+)?({_IDENT})\s*;?\s*$", re.I | re.S
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_IDENT})(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.I | re.S,
)
# Postgres/DuckDB joined delete: DELETE FROM t USING src WHERE cond
_DELETE_USING_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?\s+USING\s+"
    rf"(\(.+?\)|{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
    rf"\s+WHERE\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+({_IDENT})(?:\s+(?:AS\s+)?(?!SET\b)({_IDENT}))?"
    rf"\s+SET\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_MERGE_RE = re.compile(
    rf"^\s*MERGE\s+INTO\s+({_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?\s+USING\s+"
    rf"(\(.+?\)|{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?\s+ON\s+(.+?)"
    rf"\s+(WHEN\s+.+?)\s*;?\s*$",
    re.I | re.S,
)
_MERGE_WHEN_RE = re.compile(
    r"WHEN\s+(NOT\s+)?MATCHED\b(?:\s+AND\s+(.+?))?\s+THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s*\*|"
    r"INSERT\s*\([^)]*\)\s*VALUES\s*\(.+?\))"
    # \b: a column named e.g. matched_total inside a SET expression
    # must not terminate the clause early (r10 review catch)
    r"\s*(?=WHEN\s+(?:NOT\s+)?MATCHED\b|$)",
    re.I | re.S,
)
_COPY_TO_RE = re.compile(
    rf"^\s*COPY\s+({_IDENT}|\(.+\))\s+TO\s+'([^']+)'"
    rf"\s*(?:\(\s*([^)]*)\s*\))?\s*;?\s*$",
    re.I | re.S,
)
_CREATE_VIEW_RE = re.compile(
    rf"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+({_IDENT})\s+AS\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_DROP_VIEW_RE = re.compile(
    rf"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?({_IDENT})\s*;?\s*$", re.I | re.S
)
_ALTER_ADD_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+COLUMN\s+"
    rf"(IF\s+NOT\s+EXISTS\s+)?({_IDENT})\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_ALTER_DROP_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+DROP\s+COLUMN\s+"
    rf"(IF\s+EXISTS\s+)?({_IDENT})\s*;?\s*$",
    re.I | re.S,
)
_COPY_FROM_RE = re.compile(
    rf"^\s*COPY\s+({_IDENT})\s+FROM\s+'([^']+)'"
    rf"\s*(?:\(\s*([^)]*)\s*\))?\s*;?\s*$",
    re.I | re.S,
)
# engine-specific maintenance statement (the HTTP admin route's SQL
# twin): COMPACT TABLE t [CLUSTER BY (a, b)] [MIN FILES n]
_COMPACT_RE = re.compile(
    rf"^\s*COMPACT\s+TABLE\s+({_IDENT})"
    rf"(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?"
    rf"(?:\s+MIN\s+FILES\s+(\d+))?\s*;?\s*$",
    re.I | re.S,
)


_LINE_COMMENT = re.compile(r"^\s*--[^\n]*\n?")
_BLOCK_COMMENT = re.compile(r"^\s*/\*.*?\*/", re.S)


def normalize(query: str) -> str:
    """Strip LEADING comments so '-- rebuild\\nCREATE TABLE … AS …'
    is recognized as a statement — otherwise it would fall through to
    spark.sql and land in Spark's session catalog, the exact silent
    wrongness this module exists to prevent. Interior comments stay;
    the embedded SELECT path handles them."""
    prev = None
    while prev != query:
        prev = query
        query = _LINE_COMMENT.sub("", query, count=1)
        query = _BLOCK_COMMENT.sub("", query, count=1)
    return query


def split_script(query: str) -> list[str]:
    """Depth-0 semicolon split on masked text — a saved DuckDB script
    is often several statements submitted as one string (DuckDB
    executes them all and returns the last result). Semicolons inside
    string literals or parens never split. Returns the non-empty
    statements; a single-statement text returns itself."""
    from scratchdata_spark.dialect import _mask_literals, _unmask_literals

    masked, lits = _mask_literals(query)
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ";" and depth == 0:
            parts.append(masked[start:i])
            start = i + 1
    parts.append(masked[start:])
    out = [_unmask_literals(p, lits).strip() for p in parts]
    return [p for p in out if p]


def _masked_match(rx: re.Pattern, query: str) -> tuple[str | None, ...] | None:
    """Match a DML regex on literal-MASKED text and unmask each group
    (r12 advisor catch: _INSERT_RE's lazy body group terminated early
    at a string literal containing ' RETURNING x' or ' ON CONFLICT ',
    turning a valid INSERT into an unbalanced fragment — the keyword
    split must never see literal contents).  Placeholder indices are
    global, so unmasking a captured fragment is exact."""
    from scratchdata_spark.dialect import _mask_literals, _unmask_literals

    masked, lits = _mask_literals(query)
    m = rx.match(masked)
    if m is None:
        return None
    return tuple(
        _unmask_literals(g, lits) if g is not None else None
        for g in m.groups()
    )


def statement_kind(query: str) -> str | None:
    """Which warehouse statement this text is, or None (normal query
    → passthrough). Callers pass normalize()d text — leading comments
    must not hide a statement. Order matters: CTAS before column-def
    CREATE."""
    for kind, rx in (
        ("ctas", _CTAS_RE),
        ("create_view", _CREATE_VIEW_RE),
        ("create", _CREATE_DEF_RE),
        ("insert", _INSERT_RE),
        ("drop_view", _DROP_VIEW_RE),
        ("drop", _DROP_RE),
        ("truncate", _TRUNCATE_RE),
        ("alter_add", _ALTER_ADD_RE),
        ("alter_drop", _ALTER_DROP_RE),
        ("delete_using", _DELETE_USING_RE),
        ("delete", _DELETE_RE),
        ("update", _UPDATE_RE),
        ("merge", _MERGE_RE),
        ("copy_to", _COPY_TO_RE),
        ("copy_from", _COPY_FROM_RE),
        ("compact", _COMPACT_RE),
    ):
        # insert/delete_using parse on MASKED text at exec time (their
        # regexes split on mid-statement keywords a literal could
        # fake); classify through the same path so both stages agree
        if kind in ("insert", "delete_using"):
            if _masked_match(rx, query) is not None:
                return kind
        elif rx.match(query):
            return kind
    return None


def _count_df(dest, n: int):
    # driver-built one-row result as a LocalRelation: the serializers
    # collect() it with no job (dialect.local_result_df)
    from scratchdata_spark.dialect import local_result_df

    return local_result_df(dest.spark, [(int(n),)], "count bigint")


def _expr(dest, df, text: str):
    """Column from an expression fragment, analyzed EAGERLY against
    ``df`` (F.expr alone defers parsing to plan time, which would
    skip the fallback); DuckDB-dialect tokens fall back through the
    same rewriter the full-query path uses."""
    try:
        col = F.expr(text)
        df.select(col).schema  # force parse + analysis now
        return col
    except Exception:
        from scratchdata_spark.dialect import rewrite

        col = F.expr(rewrite(f"SELECT {text}")[len("SELECT ") :])
        df.select(col).schema
        return col


def _source_df(dest, select_text: str):
    """DataFrame for the statement's embedded SELECT/VALUES — through
    query_df, so the dialect fallback and plan cache apply. A nested
    warehouse STATEMENT is refused, as DuckDB refuses it: planning
    would execute it, during zero-side-effect validation AND again
    when the outer statement runs."""
    body = select_text.strip()
    if statement_kind(normalize(body)) is not None:
        raise ValueError("a source must be a SELECT query, not a statement")
    if re.match(r"(?is)^VALUES\b", body):
        body = f"SELECT * FROM {body}"
    # the statement text was literal-bridged ONCE when the request
    # was prepared; re-entering query_df would bridge it again and
    # double the backslash doubling (r12 regression test)
    return dest._query_df_prepared(body)


def _split_where(dest, set_clause: str) -> tuple[str, str | None]:
    """UPDATE's SET…WHERE split at the last depth-0 WHERE (a WHERE
    inside a scalar-subquery assignment stays with its expression).
    Splitting on MASKED text keeps literal contents out of the
    keyword scan; each side unmasks independently since the cut is a
    keyword boundary, never inside a placeholder."""
    from scratchdata_spark.dialect import (
        _d0_matches,
        _mask_literals,
        _unmask_literals,
    )

    masked, lits = _mask_literals(set_clause)
    hits = list(_d0_matches(masked, r"\bWHERE\b"))
    if not hits:
        return set_clause, None
    cut = hits[-1]
    return (
        _unmask_literals(masked[: cut.start()], lits),
        _unmask_literals(masked[cut.end() :], lits),
    )


def _update_from_to_merge(table, t_alias, rest: str) -> str | None:
    """``UPDATE t SET … FROM src [WHERE cond]`` (the Postgres/DuckDB
    joined update; ``rest`` is the text after SET) rewritten as the
    equivalent MERGE statement —
    returns None when the UPDATE has no depth-0 FROM (the plain form;
    a FROM inside a scalar-subquery assignment sits at depth > 0 and
    never splits).  Delegating to MERGE gives the joined update the
    machinery it needs for free: both relations in scope for the SET
    expressions, one CoW rewrite, and the SQL-standard CARDINALITY
    GUARD — a target row matching multiple source rows raises loudly
    where Postgres would silently pick an arbitrary one (r11 DML
    differential probe: the old path mis-analyzed the statement
    entirely).  Comma-separated multi-source FROM lists do not parse
    as a MERGE USING relation and stay a loud error."""
    from scratchdata_spark.dialect import (
        _d0_matches,
        _mask_literals,
        _unmask_literals,
    )

    masked, lits = _mask_literals(rest)
    froms = list(_d0_matches(masked, r"\bFROM\b"))
    if not froms:
        return None
    set_text = _unmask_literals(masked[: froms[0].start()], lits).strip()
    tail = masked[froms[0].end() :]
    wh = list(_d0_matches(tail, r"\bWHERE\b"))
    if wh:
        src_text = _unmask_literals(tail[: wh[-1].start()], lits).strip()
        cond_text = _unmask_literals(tail[wh[-1].end() :], lits).strip()
    else:
        src_text, cond_text = _unmask_literals(tail, lits).strip(), "TRUE"
    t_sql = f"{table} AS {t_alias}" if t_alias else table
    return (
        f"MERGE INTO {t_sql} USING {src_text} ON {cond_text}"
        f" WHEN MATCHED THEN UPDATE SET {set_text}"
    )


# ------------------------------------------------------- plan / execute
#
# ``_plan_<kind>(dest, query)`` parses once, checks everything that
# needs no write, and returns ``run()``, which only writes (module
# docstring, "One check per statement").


def execute(dest, query: str, kind: str):
    """Plan a warehouse statement of ``statement_kind`` ``kind``, then
    run it; returns the count DataFrame."""
    return _PLANNERS[kind](dest, query)()


def validate(dest, statements) -> None:
    """Plan every warehouse statement of ``statements`` (a
    ``PreparedQuery.statements`` list) and discard the plans: the same
    checks execution makes before it writes, with zero side effects
    ON WAREHOUSE STATE. The API calls this before it commits to a 200;
    execution happens exactly once, later. (Analyzing a view/SELECT
    over ``table_at()`` does register session-scoped ``__at_*`` temp
    views — an idempotent session-catalog convenience, not a
    warehouse mutation.)

    In a script each statement is planned against the state BEFORE
    the script, so a failure that names a table or view an EARLIER
    statement creates or drops is expected (``create table t …;
    insert into t …`` or ``drop table t; create table t …``); any
    other failure raises. Plain SELECT parts are left to execution."""
    pending: set[str] = set()
    for stmt, kind in statements:
        if kind is None:
            continue
        try:
            names = getattr(_PLANNERS[kind](dest, stmt), "names", ())
        except Exception as err:  # noqa: BLE001
            if not _names_pending(str(err), pending):
                raise
            names = getattr(err, "names", ())
        pending.update(names)


def _names_pending(msg: str, pending: set[str]) -> bool:
    """The error names a pending table/view. The name must appear
    QUOTED (Spark backticks the identifier) or after one of this
    module's own prefixes — a bare \\b match would hit words in
    Spark's boilerplate ('catalog', 'schema', 'spelling') for tables
    so named."""
    return any(
        re.search(rf"[`'\"]{re.escape(n)}[`'\"]", msg)
        or re.search(
            r"(?i)(?:no such table|table exists|no such view|view exists):"
            rf"\s*{re.escape(n)}\b",
            msg,
        )
        for n in pending
    )


@contextlib.contextmanager
def _naming(*names: str):
    """Checks of a statement that creates or drops ``names``: a failure
    carries the names, as the statement's ``run`` does, since a
    script's later statements may refer to them (``validate``)."""
    try:
        yield
    except Exception as err:
        err.names = names
        raise


def _check_ident(dest, name: str) -> str:
    if not re.fullmatch(_IDENT, name):
        raise ValueError(f"invalid table name: {name!r}")
    return name


def _require_table(dest, table: str):
    info = dest.catalog.get(dest.database, table)
    if info is None:
        raise KeyError(f"no such table: {table}")
    return info


def _check_no_view(dest, name: str) -> None:
    """A table may not take a stored view's name: register_views
    registers views AFTER tables, so the view would silently shadow
    the table in every query while inserts write invisible rows."""
    if name in dest.catalog.views(dest.database):
        raise ValueError(f"view exists: {name}")


def _staged_write(dest, out, partition_col) -> tuple[str, int]:
    """Write the result to a staging directory FIRST (self-referential
    statements like ``CREATE OR REPLACE TABLE t AS SELECT … FROM t``
    must fully materialize before the old data may be touched), with
    the row count observed in the SAME pass (Observation metric — no
    persist, no second scan)."""
    import uuid as _uuid

    from pyspark.sql import Observation

    staging = os.path.join(
        dest.catalog.warehouse, "_staging", _uuid.uuid4().hex
    )
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = out.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    try:
        writer.parquet(staging)
    except Exception:
        # a failed source job must not leak its partial staging dir —
        # nothing sweeps _staging, so repeated failures would
        # accumulate orphaned part files unbounded (r10 review catch)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise
    return staging, int(obs.get["n"] or 0)


def _adopt_staged(staging: str, data_dir: str) -> list[str]:
    """Rename the staged parquet files into ``data_dir`` — Spark
    part-file names carry a job UUID, so appends can't collide.
    Returns the adopted destination paths (INSERT … RETURNING reads
    exactly these files back, never the whole table)."""
    adopted: list[str] = []
    for dirpath, _dirs, names in os.walk(staging):
        for f in names:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), staging)
            dst = os.path.join(data_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(dirpath, f), dst)
            adopted.append(dst)
    return adopted


def _append_staged(dest, staging: str, table: str) -> list[str]:
    """Append the staged files to ``table``: under the table lock,
    adopt them into the data dir of the entry as read there, then
    commit (``TableCatalog.commit``). The staging dir goes either way;
    a table dropped meanwhile fails with ``no such table``."""
    try:
        with dest.catalog.lock(dest.database, table):
            info = _require_table(dest, table)
            adopted = _adopt_staged(staging, dest.catalog.data_dir_of(info))
            if adopted:
                dest.catalog.commit(dest.database, table)
            return adopted
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# ------------------------------------------------------ CREATE / CTAS


def _jsontype_of(dt) -> str | None:
    # integral/float widths widen to the ingest jsontypes (bigint /
    # double) — the written data is cast to match, see _plan_ctas
    return {
        "tinyint": "int",
        "smallint": "int",
        "int": "int",
        "bigint": "int",
        "float": "float",
        "double": "float",
        "string": "string",
        "boolean": "bool",
    }.get(dt.simpleString())


def _register_schema(dest, table: str, fields) -> None:
    """Register result columns ONE AT A TIME, in declaration order —
    a jsontype where one fits, a full Spark DDL string (catalog
    'sparktype' entry) for everything else (timestamps, arrays,
    decimals…). Order matters: positional INSERT maps onto the
    catalog's ALTER order."""
    for f in fields:
        if f.name == ROW_ID:
            continue
        jt = _jsontype_of(f.dataType)
        if jt is not None:
            dest.catalog.add_columns(dest.database, table, {f.name: jt})
        else:
            dest.catalog.add_spark_columns(
                dest.database, table, {f.name: f.dataType.simpleString()}
            )


def _target_struct(src_schema) -> StructType:
    """The catalog schema a CTAS result registers as: __row_id first,
    then each source column widened to its jsontype's storage type
    (int→bigint, float→double) where one fits, kept verbatim
    otherwise. The written data is cast to the same types, so parquet
    files and catalog schema always agree."""
    from scratchdata_spark.jtypes import SPARK_TYPES

    fields = [StructField(ROW_ID, LongType(), True)]
    for f in src_schema.fields:
        if f.name == ROW_ID:
            continue
        jt = _jsontype_of(f.dataType)
        dt = SPARK_TYPES[jt] if jt is not None else f.dataType
        fields.append(StructField(f.name, dt, True))
    return StructType(fields)


def _plan_ctas(dest, query: str):
    or_replace, if_not_exists, table, select_text, no_data = (
        _CTAS_RE.match(query).groups()
    )
    with _naming(table):
        _check_ident(dest, table)
        _check_no_view(dest, table)
        existing = dest.catalog.get(dest.database, table)
        if existing is not None:
            if if_not_exists:
                return _noop(dest)
            if not or_replace:
                raise ValueError(f"table exists: {table}")
        src = _source_df(dest, select_text)
    if no_data:
        # CTAS … WITH NO DATA: the SELECT contributes only its SCHEMA
        # (SQL standard / Postgres semantics); limit(0) keeps the
        # whole path identical — the staged write emits no files and
        # adoption is a no-op.  DELIBERATE DIVERGENCE (r11 probe):
        # DuckDB accepts this syntax but SILENTLY IGNORES it and
        # inserts the rows anyway; honoring the user's explicit "no
        # data" beats reproducing that footgun.
        src = src.limit(0)
    target = _target_struct(src.schema)
    # always REGENERATE ids: a self-union or join-fanout SELECT
    # carries duplicate source __row_ids, and preserving them builds
    # a table that trips MERGE's cardinality guard on legal
    # statements (r10 review catch — INSERT and COPY FROM already
    # regenerate for exactly this reason)
    if ROW_ID in src.columns:
        src = src.drop(ROW_ID)
    out = _with_row_id(src).select(
        *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in target.fields]
    )

    def run():
        # materialize to staging BEFORE touching the target: OR REPLACE …
        # FROM <self> must read the old data in full while it still exists
        staging, n = _staged_write(dest, out, None)
        if existing is not None:
            # Crash-atomic replace (r10 DML review finding #10, closed
            # r11): the staged result becomes the NEXT generation of the
            # SAME table root, adopted by the compaction machinery's
            # pointer flip — schema, generation, and the reset of
            # partitioning/tombstones/PK land in ONE atomic catalog write
            # (catalog.replace_table). The old generation stays fully
            # live until that write, so a crash at ANY point leaves the
            # old table readable; it is then retained like a compaction
            # parent (readers in flight, time travel) and retires on
            # later flips. The old drop-then-recreate sequence lost the
            # table if the process died between the two steps.
            comp_lock = dest._compaction_lock(table)
            try:
                with comp_lock, dest.catalog.lock(dest.database, table):
                    info = _require_table(dest, table)  # fresh pointer
                    root = dest.catalog.table_root(dest.database, table)
                    new_gen = info.generation + 1
                    new_dir = os.path.join(root, f"g{new_gen}")
                    # a replace that crashed between adoption and the meta
                    # write may have left a partial g{new_gen}: clear it so
                    # orphaned part files cannot pollute this generation
                    shutil.rmtree(new_dir, ignore_errors=True)
                    _adopt_staged(staging, new_dir)
                    dest.catalog.replace_table(
                        dest.database, table,
                        _catalog_columns(target.fields), new_gen,
                    )
                    dest._retire_generations(root, new_gen)
            finally:
                # e.g. the table was dropped while we staged: nothing
                # sweeps _staging, so the spooled result must not leak
                shutil.rmtree(staging, ignore_errors=True)
            return _count_df(dest, n)
        with dest.catalog.lock(dest.database, table):
            dest.catalog.create_empty_table(dest.database, table)
            _register_schema(dest, table, target.fields)
            _append_staged(dest, staging, table)
        return _count_df(dest, n)

    run.names = (table,)
    return run


def _noop(dest):
    """The plan of a statement whose IF [NOT] EXISTS leaves nothing to
    do."""
    return lambda: _count_df(dest, 0)


def _catalog_columns(fields) -> list[dict]:
    """The catalog `columns` list a CTAS schema registers as — the
    batch twin of _register_schema's one-at-a-time ALTERs, built
    up-front so replace_table can swap it in atomically."""
    cols: list[dict] = [{"name": ROW_ID, "jsontype": "int"}]
    for f in fields:
        if f.name == ROW_ID:
            continue
        jt = _jsontype_of(f.dataType)
        cols.append(
            {"name": f.name, "jsontype": jt}
            if jt is not None
            else {"name": f.name, "sparktype": f.dataType.simpleString()}
        )
    return cols


def _normalize_default(dest, text: str) -> str:
    """Stored-DEFAULT text as plain Spark SQL: keep it verbatim when
    stock Spark analyzes it, otherwise store the dialect-rewritten
    form (which is then re-analyzed, so a genuinely bad default is
    still a loud CREATE-time error, never a deferred INSERT-time
    one)."""
    try:
        dest.spark.range(1).select(F.expr(text)).schema
        return text
    except Exception:
        from scratchdata_spark.dialect import rewrite

        spark_text = rewrite(f"SELECT {text}")[len("SELECT ") :]
        dest.spark.range(1).select(F.expr(spark_text)).schema
        return spark_text


def _plan_create(dest, query: str):
    if_not_exists, table, defs = _CREATE_DEF_RE.match(query).groups()
    with _naming(table):
        _check_ident(dest, table)
        _check_no_view(dest, table)
        if dest.catalog.get(dest.database, table) is not None:
            if if_not_exists:
                return _noop(dest)
            raise ValueError(f"table exists: {table}")
    clean, pk, defaults = _parse_column_defs(defs)
    struct = StructType.fromDDL(clean)  # loud on bad column defs
    names = {f.name for f in struct.fields}
    for c in pk:
        if c not in names:
            raise ValueError(f"unknown PRIMARY KEY column: {c}")
    for c in defaults:
        if c not in names:
            raise ValueError(f"unknown DEFAULT column: {c}")
    # normalize defaults to plain Spark SQL at RECORD time (r12
    # advisor catch): application is raw F.expr, so a DuckDB-flavored
    # default (DEFAULT ord('a'), DEFAULT 0::INT8) stored verbatim
    # would fail EVERY partial-column INSERT at analysis.  Same
    # try-then-rewrite contract as _expr.
    defaults = {
        c: _normalize_default(dest, d) for c, d in defaults.items()
    }

    def run():
        with dest.catalog.lock(dest.database, table):
            dest.catalog.create_empty_table(dest.database, table)
            _register_schema(dest, table, struct.fields)
            if pk:
                dest.catalog.set_primary_key(dest.database, table, pk)
            if defaults:
                dest.catalog.set_defaults(dest.database, table, defaults)
        return _count_df(dest, 0)

    run.names = (table,)
    return run


def _with_row_id(df):
    from scratchdata_spark.ids import snowflake_column

    if ROW_ID in df.columns:
        return df.withColumn(
            ROW_ID, F.coalesce(F.col(ROW_ID), snowflake_column())
        )
    return df.withColumn(ROW_ID, snowflake_column())


# -------------------------------------------------------------- INSERT


_TABLE_CONSTRAINT_RE = re.compile(
    r"^\s*(?:CONSTRAINT\s+\w+\s+)?"
    r"(PRIMARY\s+KEY|UNIQUE|CHECK|FOREIGN\s+KEY)\b(.*)$",
    re.I | re.S,
)
_CONSTRAINT_KEYWORD_RE = re.compile(
    r"\b(PRIMARY\s+KEY|NOT\s+NULL|UNIQUE|DEFAULT|CHECK|REFERENCES)\b", re.I
)
_PK_COL_NAME_RE = re.compile(r"^\s*(`[^`]+`|\"[^\"]+\"|\w+)")


def _parse_column_defs(defs: str) -> tuple[str, list[str]]:
    """Saved DuckDB schemas carry constraints Spark's DDL parser
    rejects — column-level (PRIMARY KEY, NOT NULL, UNIQUE, DEFAULT,
    CHECK, REFERENCES) and table-level ([CONSTRAINT name] PRIMARY
    KEY/UNIQUE/CHECK/FOREIGN KEY …). Strip them all — declared but
    UNENFORCED on plain appends, like much of the warehouse world —
    except PRIMARY KEY, which is recorded in the catalog as the
    default conflict target for ON CONFLICT / INSERT OR
    IGNORE|REPLACE. Parsing runs on MASKED text (a DEFAULT string
    literal can contain anything) and strips RIGHTMOST-first, so
    ``k INT DEFAULT 0 PRIMARY KEY`` records the PK before the greedy
    DEFAULT tail is removed. DEFAULT expressions are RECORDED (they
    change inserted DATA — r11) rather than dropped; quoted/masked
    column names skip default recording (their DDL still parses).
    Returns (clean DDL, pk columns, {column: default SQL})."""
    from scratchdata_spark.dialect import (
        _mask_literals,
        _split_d0_commas,
        _unmask_literals,
        rewrite_type_aliases,
    )

    masked, lits = _mask_literals(defs)
    clean, pk = [], []
    defaults: dict[str, str] = {}
    for item in _split_d0_commas(masked):
        tm = _TABLE_CONSTRAINT_RE.match(item)
        if tm:
            if tm.group(1).upper().startswith("PRIMARY"):
                inner = re.search(r"\(\s*([^)]*)\s*\)", tm.group(2))
                if inner:
                    pk += [
                        c.strip().strip('`"')
                        for c in inner.group(1).split(",")
                    ]
            continue  # table-level constraint: dropped entirely
        cur = item
        while True:
            hits = list(_CONSTRAINT_KEYWORD_RE.finditer(cur))
            if not hits:
                break
            last = hits[-1]
            kw = last.group(1).upper().replace(" ", "")
            if kw.startswith("PRIMARY"):
                nm = _PK_COL_NAME_RE.match(cur)
                if nm:
                    pk.append(nm.group(1).strip('`"'))
            elif kw == "DEFAULT":
                # rightmost-first stripping means everything after
                # this keyword IS the default expression (trailing
                # constraints already removed); the expression changes
                # DATA on insert, so unlike the other declarations it
                # is RECORDED, not dropped (r11 probe catch: k INT
                # DEFAULT 7 inserted NULL where DuckDB inserts 7)
                nm = _PK_COL_NAME_RE.match(cur)
                if nm and not nm.group(1).startswith("\x00"):
                    defaults[nm.group(1).strip('`"')] = _unmask_literals(
                        cur[last.end() :].strip(), lits
                    )
            cur = cur[: last.start()]
        # DuckDB type aliases (bare VARCHAR, INT8, HUGEINT …) appear
        # in saved schemas constantly — the reference's own Postgres
        # type map emits VARCHAR; rewrite on the still-masked text so
        # a DEFAULT literal containing 'VARCHAR' stays untouched
        # (r11 DML differential probe catch)
        cur = rewrite_type_aliases(cur)
        # double-quoted (standard/DuckDB) column names → backticks:
        # fromDDL has its own parser that rejects "x" (r12 DML probe
        # catch).  Safe here: DEFAULT expressions — the one place a
        # def could carry a single-quoted literal CONTAINING double
        # quotes — were extracted and stripped above, so any double
        # quote left in the def text is an identifier.
        clean.append(
            re.sub(r'"([^"]*)"', r"`\1`", _unmask_literals(cur.strip(), lits))
        )
    return ", ".join(clean), pk, defaults


def _conflict_spec(info, or_mode, conflict_cols, action):
    """(keys, mode, set_cols) for the INSERT's conflict clause; mode
    is None (plain append), 'nothing', 'replace' (whole row), or
    'update' (listed columns). Keys default to the declared PRIMARY
    KEY. DO UPDATE supports exactly the ``col = EXCLUDED.col`` form —
    arbitrary update expressions are refused loudly rather than
    half-implemented."""
    or_mode = (or_mode or "").upper()
    if not or_mode and not action:
        return None, None, None
    if or_mode and action:
        raise ValueError("use either INSERT OR … or ON CONFLICT, not both")
    have = {f.name for f in info.struct().fields}
    set_cols = None
    if action:
        keys = (
            [c.strip().strip('`"') for c in conflict_cols.split(",")]
            if conflict_cols
            else list(info.primary_key)
        )
        act = action.strip()
        if act.upper() == "NOTHING":
            mode = "nothing"
        else:
            set_text = re.sub(r"(?is)^UPDATE\s+SET\s+", "", act)
            set_cols = []
            for item in set_text.split(","):
                mm = re.match(
                    rf"^\s*({_IDENT})\s*=\s*EXCLUDED\s*\.\s*({_IDENT})\s*$",
                    item,
                    re.I,
                )
                if mm is None or mm.group(1).lower() != mm.group(2).lower():
                    raise ValueError(
                        "ON CONFLICT DO UPDATE supports only"
                        " 'col = EXCLUDED.col' assignments"
                    )
                set_cols.append(mm.group(1))
            mode = "update"
    else:
        keys = list(info.primary_key)
        mode = "nothing" if or_mode == "IGNORE" else "replace"
    if not keys:
        raise ValueError(
            "no conflict target: declare a PRIMARY KEY or use"
            " ON CONFLICT (cols)"
        )
    for k in keys:
        if k not in have or k == ROW_ID:
            raise ValueError(f"unknown conflict column: {k}")
    for c in set_cols or []:
        if c not in have or c == ROW_ID or c in keys:
            raise ValueError(f"bad DO UPDATE column: {c}")
    return keys, mode, set_cols


def _insert_projection(info, src, col_list: str | None):
    """Positional mapping (SQL/DuckDB semantics) of the source onto
    the target columns — the explicit column list when given, else
    every registered column except __row_id, in ALTER order. A
    ``SELECT *`` from an engine view also carries __row_id; that
    width is accepted and the ids REGENERATED (__row_id is
    engine-internal — accepting foreign ids could duplicate them).
    Unlisted columns fill with NULL; arity must match exactly.
    Returns (renamed_src, projection): source columns are renamed to
    ordinals first, so duplicate source names (SELECT x, x) keep
    their positional meaning instead of an ambiguity error."""
    fields = info.struct().fields
    target_names = {f.name for f in fields}
    if col_list and col_list.strip():
        names = [c.strip() for c in col_list.split(",")]
        for n in names:
            if n not in target_names:
                raise ValueError(f"unknown column: {n}")
        if len(set(names)) != len(names):
            # last-wins would silently discard the earlier value
            # (r10 review catch); DuckDB rejects the statement too
            raise ValueError("INSERT: duplicate column in column list")
    else:
        names = [f.name for f in fields if f.name != ROW_ID]
        if ROW_ID in src.columns and len(src.columns) == len(fields):
            names = [f.name for f in fields]  # SELECT * incl __row_id
    if len(src.columns) != len(names):
        raise ValueError(
            f"INSERT arity mismatch: {len(src.columns)} source columns"
            f" for {len(names)} target columns ({', '.join(names)})"
        )
    renamed = src.toDF(*[f"_src{i}" for i in range(len(src.columns))])
    by_name = {n: i for i, n in enumerate(names)}
    cols = []
    for f in fields:
        if f.name == ROW_ID:
            continue  # always re-assigned after the projection
        if f.name in by_name:
            cols.append(
                renamed[f"_src{by_name[f.name]}"]
                .cast(f.dataType)
                .alias(f.name)
            )
        else:
            # unlisted column: the declared DEFAULT when one exists
            # (DuckDB fills defaults on partial-column inserts — the
            # old unconditional NULL was silently wrong data, r11
            # probe catch), NULL otherwise
            d = info.defaults.get(f.name)
            cols.append(
                (F.expr(d) if d else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
            )
    return renamed, cols


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _key_range_prune(df, col: str, target_field) -> str | None:
    """Sound [min, max] reach bound for an integer equi-key: a target
    row outside the range cannot match any ``df`` row. Requires BOTH
    sides integral — a string-typed source key would give a
    LEXICOGRAPHIC min/max ('100' < '9') while the equi-join compares
    numerically, silently pruning files that DO match (lost updates,
    duplicate inserts). Returns the predicate text or None."""
    if target_field.dataType.simpleString() not in _INTEGRAL_TYPES:
        return None
    if df.schema[col].dataType.simpleString() not in _INTEGRAL_TYPES:
        return None
    lohi = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
    if lohi["lo"] is None:
        return None
    return (
        f"{target_field.name} >= {lohi['lo']}"
        f" AND {target_field.name} <= {lohi['hi']}"
    )


def _key_range_prune_fn(dest, prune_pred):
    """prune_fn/file_prune_pred pair for _cow_rewrite from a key-range
    predicate (None → no pruning)."""
    if prune_pred is None:
        return None, None
    return (
        lambda info2, cur_dir: _prunable_partitions(
            dest, info2, prune_pred, F.expr(prune_pred), cur_dir
        )
    ), prune_pred


def _substitute_value_defaults(info, col_list, body: str) -> str:
    """``INSERT … VALUES (DEFAULT, 1)`` — the standard's per-position
    DEFAULT keyword (r12 DML probe catch: a valid statement was an
    unresolved-column error).  Each depth-0 bare DEFAULT token inside
    a VALUES row becomes that position's recorded default expression
    (NULL when the column has none — DuckDB's behavior too).  Runs on
    masked text so a string literal spelling 'DEFAULT' stays data;
    any unmodeled shape returns the body untouched (loud downstream,
    never guessed)."""
    if not re.match(r"(?is)^\s*VALUES\b", body) or not re.search(
        r"(?i)\bDEFAULT\b", body
    ):
        return body
    from scratchdata_spark.dialect import (
        _mask_literals,
        _split_d0_commas,
        _unmask_literals,
    )

    masked, lits = _mask_literals(body)
    if col_list and col_list.strip():
        cols = [c.strip().strip('`"') for c in col_list.split(",")]
    else:
        cols = [f.name for f in info.struct().fields if f.name != ROW_ID]
    head = re.match(r"(?is)^\s*VALUES\b", masked)
    out_rows = []
    for row in _split_d0_commas(masked[head.end():]):
        r = row.strip()
        if not (r.startswith("(") and r.endswith(")")):
            return body
        args = _split_d0_commas(r[1:-1])
        new_args = []
        for i, a in enumerate(args):
            if a.strip().upper() == "DEFAULT":
                if i >= len(cols):
                    return body  # arity error: the projection reports it
                d = info.defaults.get(cols[i])
                a = f"({d})" if d else "NULL"
            new_args.append(a.strip())
        out_rows.append("(" + ", ".join(new_args) + ")")
    return _unmask_literals("VALUES " + ", ".join(out_rows), lits)


def _insert_source(dest, info, col_list, select_text):
    """INSERT's source frame — the embedded SELECT/VALUES, or for
    ``DEFAULT VALUES`` one synthesized row of the declared defaults
    (NULL where none), pre-named so the positional projection maps it
    1:1."""
    if re.fullmatch(r"(?is)DEFAULT\s+VALUES", select_text.strip()):
        if col_list and col_list.strip():
            raise ValueError("INSERT … DEFAULT VALUES takes no column list")
        fields = [f for f in info.struct().fields if f.name != ROW_ID]
        return dest.spark.range(1).select(
            *[
                (
                    F.expr(info.defaults[f.name])
                    if f.name in info.defaults
                    else F.lit(None)
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in fields
            ]
        )
    return _source_df(
        dest, _substitute_value_defaults(info, col_list, select_text)
    )


def _returning_cols(info, returning: str):
    """RETURNING's projection over the inserted rows: ``*`` expands to
    every table column (DuckDB's RETURNING * includes them all — the
    reference's tables carry __row_id as a real column), other items
    are expressions over the inserted row."""
    from scratchdata_spark.dialect import _split_top_level_commas_text

    cols = []
    for item in _split_top_level_commas_text(returning):
        item = item.strip()
        if item == "*":
            cols.extend(F.col(f.name) for f in info.struct().fields)
        else:
            cols.append(F.expr(item))
    return cols


def _plan_insert(dest, query: str):
    (or_mode, table, col_list, select_text,
     conflict_cols, action, returning) = _masked_match(_INSERT_RE, query)
    if returning and (or_mode or action):
        raise ValueError(
            "RETURNING is supported on plain INSERT only — conflict"
            " modes would have to report which rows actually landed"
        )
    info = _require_table(dest, table)
    src = _insert_source(dest, info, col_list, select_text)
    renamed, cols = _insert_projection(info, src, col_list)
    batch = renamed.select(*cols)  # target columns, __row_id pending
    keys, mode, set_cols = _conflict_spec(info, or_mode, conflict_cols, action)
    ret_cols = None
    if returning:
        ret_cols = _returning_cols(info, returning)
        dest.table_df(table).limit(0).select(*ret_cols).schema  # analyzed

    def run():
        if mode is not None:
            # NULL conflict keys break every mode's contract: SQL equality
            # never matches NULL against the stored NULL row, so a retried
            # OR IGNORE re-inserts the "duplicate" it exists to prevent
            # and upserts treat the row as fresh every run (r10 review
            # catch).  DuckDB rejects NULL primary keys outright — match
            # it, loudly, before anything is written.
            null_key = None
            for k in keys:
                c = F.col(k).isNull()
                null_key = c if null_key is None else (null_key | c)
            if not batch.filter(null_key).isEmpty():
                raise ValueError(
                    "ON CONFLICT: NULL in a conflict key column — null-key"
                    " rows can never match and would re-insert on every"
                    " retry (DuckDB rejects NULL keys too)"
                )

        if mode is None:
            out = _with_row_id(batch)
            out = out.select(*[f.name for f in info.struct().fields])
            # stage first (count observed in the same pass), adopt by
            # rename: a self-referential INSERT INTO t SELECT … FROM t
            # reads a listing pinned before any new file lands live
            staging, n = _staged_write(dest, out, info.partition_col)
            adopted = _append_staged(dest, staging, table)
            if ret_cols is not None:
                # read back EXACTLY the adopted part files (never the
                # whole table — a concurrent insert's rows must not leak
                # into this statement's RETURNING); distributed scan, no
                # driver collect, basePath recovers partition columns.
                # Lifetime note (r12 review): the frame reads fixed paths
                # LAZILY, protected by generation retention (current +
                # parent) — it survives ONE concurrent copy-on-write flip
                # and fails LOUDLY (file-not-found) after two, never
                # silently re-reads other rows.  The API path serializes
                # immediately, so the window only matters to an embedded
                # caller holding the frame across its own writes.
                struct = info.struct()
                if not adopted:
                    rdf = dest.spark.createDataFrame([], struct)
                else:
                    rdf = (
                        dest.spark.read.schema(struct)
                        .option(
                            "basePath",
                            dest.catalog.data_dir(dest.database, table),
                        )
                        .parquet(*adopted)
                    )
                return rdf.select(*ret_cols)
            return _count_df(dest, n)

        if mode == "nothing":
            # idempotent append: drop in-batch key dups, then keep only
            # rows whose keys are absent from the table — only key
            # columns cross the anti-join, never the payload. The whole
            # read-check-write holds the COMPACTION lock: two concurrent
            # retries must not both pass the absence check (the exact
            # duplicate this statement exists to prevent)
            with dest._compaction_lock(table):
                deduped = batch.dropDuplicates(keys)
                deduped = deduped.join(
                    dest.table_df(table).select(*keys), keys, "left_anti"
                )
                out = _with_row_id(deduped)
                out = out.select(*[f.name for f in info.struct().fields])
                staging, n = _staged_write(dest, out, info.partition_col)
                _append_staged(dest, staging, table)
            return _count_df(dest, n)

        # upsert modes: ONE copy-on-write rewrite folds the merge —
        # replace: old rows losing their key + the whole new batch;
        # update: old rows keep their __row_id, listed columns replaced
        # from the batch (single left-outer scan with a match flag), plus
        # genuinely new batch rows appended
        from pyspark import StorageLevel

        keyed = batch.dropDuplicates(keys).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n = keyed.count()
        if n == 0:
            keyed.unpersist()
            return _count_df(dest, 0)
        field_order = [f.name for f in info.struct().fields]
        fields = {f.name: f for f in info.struct().fields}

        def transform(src2, info2):
            new_rows = _with_row_id(keyed).select(*field_order)
            if mode == "replace":
                keep = src2.join(keyed.select(*keys), keys, "left_anti")
                return keep.unionByName(new_rows)
            bsel = keyed.select(
                *[F.col(k) for k in keys],
                *[F.col(c).alias(f"__new_{c}") for c in set_cols],
                F.lit(True).alias("__matched"),
            )
            merged = src2.join(bsel, keys, "left_outer").select(
                *[
                    F.when(
                        F.col("__matched"),
                        F.col(f"__new_{f}").cast(fields[f].dataType),
                    )
                    .otherwise(F.col(f))
                    .alias(f)
                    if f in set_cols
                    else F.col(f)
                    for f in field_order
                ]
            )
            inserts = _with_row_id(
                keyed.join(src2.select(*keys), keys, "left_anti")
            ).select(*field_order)
            return merged.unionByName(inserts)

        # file/partition pruning: a conflicting row must carry a batch
        # key, so for a single integer key the [min, max] of the batch's
        # keys is a sound reach bound — files/partitions outside it adopt
        # by rename (conservative: in-range files without the exact keys
        # still rewrite). The batch is already cast to the target schema
        # (_insert_projection), so the helper's both-sides-integral check
        # reduces to the key column's declared type here.
        prune_pred = (
            _key_range_prune(keyed, keys[0], fields[keys[0]])
            if len(keys) == 1
            else None
        )
        prune_fn, file_pred = _key_range_prune_fn(dest, prune_pred)
        try:
            _cow_rewrite(
                dest,
                table,
                transform,
                prune_fn=prune_fn,
                file_prune_pred=file_pred,
                want_counts=False,
                empty_touch_is_noop=False,
            )
        finally:
            keyed.unpersist()
        return _count_df(dest, n)

    return run


# ------------------------------------------------- DROP / copy-on-write


def _plan_drop(dest, query: str):
    if_exists, table = _DROP_RE.match(query).groups()
    with _naming(table):
        if dest.catalog.get(dest.database, table) is None:
            if if_exists:
                return _noop(dest)
            raise KeyError(f"no such table: {table}")

    def run():
        # the session's temp view goes at the next register_views;
        # the lock waits out a write's files-then-commit
        with dest.catalog.lock(dest.database, table):
            dest.catalog.drop_table(dest.database, table)
        return _count_df(dest, 0)

    run.names = (table,)
    return run


def _prunable_partitions(dest, info, pred_text, cond, cur_dir):
    """Hive-partition directories the predicate can possibly reach,
    or None when pruning is unsound — the Delta/Iceberg-style CoW
    optimization: a DELETE/UPDATE whose predicate touches ONLY the
    partition column rewrites just the matching partitions; every
    other file renames into the new generation untouched, so a point
    delete on a 100 TB table never rewrites the whole corpus.

    Sound-only rules: the table must be partitioned, the predicate
    must reference no column other than the partition column (checked
    textually on masked text; identifiers followed by '(' are
    function names), and quoted identifiers bail out (masking hides
    them from the check). The surviving predicate is then evaluated
    ONCE PER PARTITION VALUE on a driver-tiny DataFrame; cast
    failures and the null partition evaluate to no-match and stay
    untouched — exactly what the coalesced row predicate would do."""
    P = info.partition_col
    if not P or pred_text is None:
        return None
    if '"' in pred_text or "`" in pred_text:
        return None
    from scratchdata_spark.dialect import _mask_literals

    masked, _lits = _mask_literals(pred_text)
    cols = {f.name.lower() for f in info.struct().fields}
    refs = {
        t.lower()
        for t in re.findall(r"\b([A-Za-z_]\w*)\b(?!\s*\()", masked)
        if t.lower() in cols
    }
    if refs != {P.lower()}:
        return None
    # non-deterministic predicates evaluate ONCE per partition value
    # here but per ROW in the rewrite — pruning on one draw would skip
    # partitions the row-level semantics can still hit (r10 review
    # catch); real engines require deterministic predicates to prune
    if re.search(
        r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id)"
        r"\s*\(",
        masked,
        re.I,
    ):
        return None
    if not os.path.isdir(cur_dir):
        return None
    import urllib.parse

    dirs = sorted(
        d
        for d in os.listdir(cur_dir)
        if os.path.isdir(os.path.join(cur_dir, d)) and d.startswith(f"{P}=")
    )
    if not dirs:
        return None
    ptype = {f.name: f.dataType for f in info.struct().fields}[P]
    raws = [urllib.parse.unquote(d[len(P) + 1 :]) for d in dirs]
    # the hive null-partition sentinel must become NULL BEFORE the
    # cast: for a STRING partition column the cast keeps the literal
    # sentinel, so `p IS NULL` never touched the null partition and
    # the DELETE silently missed it (r10 review catch; the reader
    # side, table_df, already maps the sentinel to NULL)
    hive_null = "__HIVE_DEFAULT_PARTITION__"
    vdf = dest.spark.createDataFrame(
        [(r,) for r in raws], "raw string"
    ).select(
        "raw",
        F.when(F.col("raw") == hive_null, F.lit(None))
        .otherwise(F.col("raw"))
        .cast(ptype)
        .alias(P),
    )
    hits = {r["raw"] for r in vdf.filter(cond).select("raw").collect()}
    return {d for d, r in zip(dirs, raws) if r in hits}


_CONJUNCT_RE = re.compile(
    rf"^\s*({_IDENT})\s*(==|=|<=|>=|<|>)\s*(-?\d+(?:\.\d+)?)\s*$"
)
_CONJUNCT_REV_RE = re.compile(
    rf"^\s*(-?\d+(?:\.\d+)?)\s*(==|=|<=|>=|<|>)\s*({_IDENT})\s*$"
)
_FLIP_OP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "=="}


def _parse_num(text: str):
    """int when integral, float otherwise — Python's mixed int/float
    comparisons are mathematically exact, while coercing a big int64
    through float() loses precision above 2^53 (float(2^53+1) ==
    2^53) and would wrongly prune a file whose max is 2^53+1 against
    a `> 2^53` predicate."""
    return float(text) if "." in text else int(text)


def _numeric_conjuncts(info, pred_text: str) -> list[tuple[str, str, object]]:
    """(col_lowercase, op, literal) for every top-level AND conjunct
    of the simple numeric-comparison shape. Soundness: the full
    predicate is their conjunction (AND-ed with whatever else), so a
    FILE where any ONE of them is false for every row cannot contain
    a matching row — unparseable conjuncts are simply unusable, never
    unsound. INTEGER columns only: integer parquet stats are exact;
    float/double stats may exclude NaN (some writers), and Spark
    orders NaN above every value, so a `v > lit` prune on a
    NaN-carrying file would wrongly skip rows; string stats may be
    writer-truncated. Column names compare lowercase, matching
    Spark's (and _prunable_partitions') case-insensitive
    resolution."""
    from scratchdata_spark.dialect import _mask_literals, _split_top_and

    masked, _ = _mask_literals(pred_text)
    if re.search(r"\bOR\b|\bNOT\b|\bCASE\b|\x00", masked, re.I):
        # a placeholder means a string literal somewhere — with only
        # numeric conjuncts usable there is nothing it could add, and
        # skipping keeps the parse trivially reviewable.  CASE bails
        # entirely: its WHEN arms nest boolean AND without any
        # parentheses, so even a depth-aware split would lift an
        # inner comparison to a false top-level conjunct (r10 review
        # catch: `CASE WHEN flag AND b = 2 ...` pruned on b = 2)
        conjuncts = []
    else:
        # depth-0 only: a split inside function arguments
        # (`f(a AND b = 2)`) would lift an inner comparison to a false
        # top-level conjunct and make the file prune unsound
        conjuncts = _split_top_and(masked)
    numeric = {
        f.name.lower()
        for f in info.struct().fields
        if f.dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint")
    }
    out = []
    for c in conjuncts:
        m = _CONJUNCT_RE.match(c)
        if m and m.group(1).lower() in numeric:
            out.append((m.group(1).lower(), m.group(2), _parse_num(m.group(3))))
            continue
        m = _CONJUNCT_REV_RE.match(c)
        if m and m.group(3).lower() in numeric:
            out.append(
                (m.group(3).lower(), _FLIP_OP[m.group(2)], _parse_num(m.group(1)))
            )
    return out


def _file_may_match(path: str, conjuncts) -> bool:
    """True unless some conjunct is provably false for every row of
    the file, judged by parquet row-group min/max statistics. Every
    surprise — unreadable footer, non-numeric physical stats,
    anything — resolves to True (never prune blind); an all-NULL
    column satisfies no comparison, so stats-absent-with-rows guards
    that too. Stats stay in their native int type: Python int/float
    comparisons are exact (see _parse_num)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        schema_names: dict[str, int | None] = {}
        for i in range(md.num_columns):
            n = md.schema.column(i).name.lower()
            # two physical columns differing only by case: ambiguous,
            # disable pruning on that name
            schema_names[n] = None if n in schema_names else i
        for col, op, lit in conjuncts:
            ci = schema_names.get(col)
            if ci is None:
                continue
            lo = hi = None
            any_values = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    if md.row_group(rg).num_rows > 0:
                        lo = hi = None
                        any_values = True
                        break
                    continue
                if st.num_values is None:
                    # a writer that omits null_count leaves num_values
                    # unset: UNKNOWN is not zero — pruning here would
                    # skip real rows (r10 review catch); the conjunct
                    # becomes unusable instead
                    lo = hi = None
                    any_values = True
                    break
                if st.num_values > 0:
                    any_values = True
                    if not isinstance(st.min, int) or not isinstance(st.max, int):
                        lo = hi = None  # unexpected physical type
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            if not any_values:
                return False  # only NULLs: no comparison can hold
            if lo is None or hi is None:
                continue  # stats unusable for this conjunct
            impossible = (
                (op in ("=", "==") and (lit < lo or lit > hi))
                or (op == "<" and lo >= lit)
                or (op == "<=" and lo > lit)
                or (op == ">" and hi <= lit)
                or (op == ">=" and hi < lit)
            )
            if impossible:
                return False
        return True
    except Exception:
        return True


def _cow_rewrite(
    dest,
    table: str,
    transform,
    prune_fn=None,
    file_prune_pred=None,
    want_counts: bool = True,
    empty_touch_is_noop: bool = True,
    count_pred=None,
    src_alias: str | None = None,
):
    """Copy-on-write generation flip — the compaction mechanism
    applied to a row transform: snapshot the current listing, rewrite
    it through ``transform`` into g{N+1}, then hand off to the SAME
    flip tail compaction uses (engine._flip_generation: lock,
    generation re-check, untouched-file adoption, late-file catch-up,
    pointer flip, grandparent retirement — one implementation, not
    two). ``prune_fn(info, cur_dir)`` may return the set of partition
    dirs the statement can touch; files outside them are adopted by
    rename instead of rewritten. ``count_pred`` (a Column) is counted
    on the snapshot source INSIDE the lock — UPDATE's matched-row
    count must see the same snapshot the rewrite transforms, or a
    concurrent insert/delete between a pre-lock count scan and the
    rewrite makes the reported count disagree with the rows actually
    rewritten. (Pruned-away files cannot match the predicate by
    construction, so counting the touched set equals the full table.)

    The compaction lock is held for the whole rewrite so concurrent
    DML/compaction serialize, and the TableInfo is re-read INSIDE the
    lock: a generation loaded before blocking would compute a
    new_gen that collides with the directory a racing flipper just
    made live, and the overwrite would destroy it."""
    comp_lock = dest._compaction_lock(table)
    with comp_lock:
        info = _require_table(dest, table)  # fresh generation pointer
        cur_dir = dest.catalog.data_dir(dest.database, table)
        snapshot = (
            dest._list_parquet(cur_dir) if os.path.isdir(cur_dir) else []
        )
        touch_dirs = prune_fn(info, cur_dir) if prune_fn else None
        if touch_dirs is not None:
            touched = [
                f for f in snapshot if f.split("/", 1)[0] in touch_dirs
            ]
            untouched = [f for f in snapshot if f.split("/", 1)[0] not in touch_dirs]
        else:
            touched, untouched = snapshot, []
        # second pruning tier: parquet min/max footer stats — files a
        # numeric conjunct rules out entirely adopt by rename too.
        # Footers are independent read-only I/O; a thread pool bounds
        # the time this holds the table's compaction lock.
        if file_prune_pred is not None and touched:
            conjuncts = _numeric_conjuncts(info, file_prune_pred)
            if conjuncts:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=16) as pool:
                    verdicts = list(
                        pool.map(
                            lambda f: _file_may_match(
                                os.path.join(cur_dir, f), conjuncts
                            ),
                            touched,
                        )
                    )
                keep = []
                for f, may in zip(touched, verdicts):
                    (keep if may else untouched).append(f)
                touched = keep
        if (
            empty_touch_is_noop
            and (prune_fn is not None or file_prune_pred is not None)
            and not touched
        ):
            # DELETE/UPDATE: predicate provably reaches no file → no-op.
            # Upserts pass empty_touch_is_noop=False — their transform
            # INSERTS batch rows even with nothing matched.
            return 0, 0, 0
        root = dest.catalog.table_root(dest.database, table)
        new_gen = info.generation + 1
        new_dir = os.path.join(root, f"g{new_gen}")
        if touched:
            src = (
                dest.spark.read.schema(info.struct())
                .option("basePath", cur_dir)
                .parquet(*[os.path.join(cur_dir, f) for f in touched])
            )
        else:
            src = dest.spark.createDataFrame([], info.struct())
        if src_alias:
            # UPDATE t AS a …: the predicate/assignment expressions
            # are alias-qualified, so the snapshot carries the alias
            # through the count and the transform
            src = src.alias(src_alias)
        matched = (
            src.filter(count_pred).count() if count_pred is not None else 0
        )
        out = transform(src, info)
        writer = out.write.mode("overwrite")
        if info.partition_col:
            writer = writer.partitionBy(info.partition_col)
        writer.parquet(new_dir)
        # metadata-only counts (parquet row-group footers — no data
        # scan): rows in the snapshot vs rows the rewrite kept. An
        # Observation metric would be single-pass too, but the
        # optimizer prunes CollectMetrics together with a folded-away
        # filter (DELETE without WHERE → filter(false) → the observed
        # subtree vanishes and the metric never materializes).
        # Callers that don't consume the counts (upserts, truncate)
        # skip both jobs — they'd run inside the compaction lock.
        before = after = 0
        if want_counts:
            before = src.count()
            try:
                after = dest.spark.read.parquet(new_dir).count()
            except Exception:  # empty result wrote no parquet files
                after = 0
        late = dest._flip_generation(
            table,
            info.generation,
            cur_dir,
            snapshot,
            new_dir,
            new_gen,
            adopt=untouched,
        )
        if late is None:  # cross-process flip raced us (shared dir)
            raise RuntimeError(
                f"table {table} changed during the rewrite; retry"
            )
        return before, after, matched


def _plan_truncate(dest, query: str):
    table = _TRUNCATE_RE.match(query).group(1)
    _require_table(dest, table)

    def run():
        _cow_rewrite(
            dest, table, lambda src, info: src.limit(0), want_counts=False
        )
        return _count_df(dest, 0)

    return run


def _plan_delete(dest, query: str):
    table, pred = _DELETE_RE.match(query).groups()
    _require_table(dest, table)
    cond = (
        F.coalesce(_expr(dest, dest.table_df(table), pred), F.lit(False))
        if pred
        else F.lit(True)
    )

    def run():
        before, after, _ = _cow_rewrite(
            dest,
            table,
            lambda src, info: src.filter(~cond),
            prune_fn=lambda info, cur_dir: _prunable_partitions(
                dest, info, pred, cond, cur_dir
            ),
            file_prune_pred=pred,
        )
        return _count_df(dest, before - after)

    return run


def _plan_delete_using(dest, query: str):
    """``DELETE FROM t USING src WHERE cond`` (Postgres/DuckDB joined
    delete): target rows with AT LEAST ONE source row satisfying the
    predicate are removed — a LEFT ANTI join inside the same CoW
    rewrite plain DELETE uses.  The source resolves like MERGE's
    USING (a table name or a parenthesized query).  Multiple source
    matches are harmless for deletion (the row is gone either way), so
    no cardinality guard applies, unlike UPDATE … FROM.  No
    partition/footer pruning: the predicate spans two relations, so
    the rewrite is whole-table (the same documented contract as
    MERGE)."""
    table, t_alias, using, s_alias, cond = _masked_match(
        _DELETE_USING_RE, query
    )
    _require_table(dest, table)
    if using.startswith("("):
        src = _source_df(dest, using[1:-1])
        if s_alias is None:
            raise ValueError("DELETE USING: a subquery source needs an alias")
    else:
        src = _source_df(dest, f"SELECT * FROM {using}")
        s_alias = s_alias or using
    t_alias = t_alias or table
    if t_alias == s_alias:
        raise ValueError("DELETE USING: target and source aliases collide")
    tdf = dest.table_df(table).alias(t_alias)
    sdf = src.alias(s_alias)
    pred = _expr(dest, tdf.crossJoin(sdf.limit(0)), cond)

    def transform(rows, info):
        return (
            rows.alias(t_alias)
            .join(sdf, pred, "left_anti")
            .select(*[F.col(f.name) for f in info.struct().fields])
        )

    def run():
        before, after, _ = _cow_rewrite(dest, table, transform)
        return _count_df(dest, before - after)

    return run


# ------------------------------------------------------------- COPY TO


def _copy_source_df(dest, source: str):
    if source.startswith("("):
        return _source_df(dest, source[1:-1])
    _require_table(dest, source)
    return dest.table_df(source)


def _parse_copy_options(opts: str | None) -> dict[str, str]:
    from scratchdata_spark.dialect import _split_top_level_commas_text

    out: dict[str, str] = {}
    for item in _split_top_level_commas_text(opts or ""):
        parts = item.split(None, 1)
        key = parts[0].upper()
        val = parts[1].strip().strip("'") if len(parts) > 1 else "true"
        out[key] = val
    return out


def _copy_format(
    path: str, opts_text: str | None, stmt: str = "COPY TO"
) -> tuple[str, dict]:
    opts = _parse_copy_options(opts_text)
    fmt = opts.get("FORMAT", "").lower()
    if not fmt:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        fmt = {"parquet": "parquet", "csv": "csv", "json": "json",
               "ndjson": "json", "jsonl": "json"}.get(ext, "")
    if fmt not in ("parquet", "csv", "json"):
        raise ValueError(
            f"{stmt}: unsupported format {fmt or '(none)'} — use a"
            " .parquet/.csv/.json path or FORMAT parquet|csv|json"
        )
    return fmt, opts


def confine_path_under_root(
    root: str, path: str, what: str, makedirs: bool = False
) -> str:
    """THE root-confinement primitive, shared by every export-root
    boundary (COPY TO targets here; COPY FROM sources on the confined
    DuckDB connection): relative paths resolve under ``root``,
    absolute paths must realpath-resolve inside it (symlinks can't
    escape — existing ancestors are resolved).  One definition on
    purpose: this is a security check, and a hardening fix applied to
    a divergent copy would silently miss the other boundary."""
    root = os.path.realpath(root)
    if makedirs:
        os.makedirs(root, exist_ok=True)
    cand = path if os.path.isabs(path) else os.path.join(root, path)
    resolved = os.path.realpath(cand)
    if resolved != root and not resolved.startswith(root + os.sep):
        raise PermissionError(f"{what} outside the export root: {path!r}")
    return resolved


def _resolve_copy_target(dest, path: str, makedirs: bool = False) -> str:
    """Confine COPY TO targets to the destination's export root.

    A query API key must not be a filesystem-write primitive: an
    unconfined path lets any key holder overwrite the catalog JSON,
    the metadata sqlite, or another tenant's warehouse files via
    os.replace. When ``dest.export_root`` is set (the HTTP service
    always sets it), paths confine via :func:`confine_path_under_root`,
    which creates the root only when ``makedirs`` (a write, not a
    validation, is about to happen). Embedded/library use with
    export_root=None keeps the unconfined behavior."""
    root = getattr(dest, "export_root", None)
    if root is None:
        return path
    return confine_path_under_root(
        root, path, "COPY TO target", makedirs=makedirs
    )


def _plan_copy_to(dest, query: str):
    """DuckDB's export statement: ``COPY <table|(query)> TO 'path'
    [(FORMAT …, HEADER, DELIMITER ',', PER_THREAD_OUTPUT)]``.

    DuckDB writes ONE file at the exact path; Spark writes a
    directory of parts. Default keeps DuckDB's contract (coalesce(1)
    + rename — the right call for result-sized exports). With
    ``PER_THREAD_OUTPUT`` the write stays fully distributed and
    ``path`` becomes a directory of part files — DuckDB's own
    many-files mode, and the only shape that makes sense for a
    100 TB extract."""
    source, target, opts_text = _COPY_TO_RE.match(query).groups()
    df = _copy_source_df(dest, source)
    fmt, opts = _copy_format(target, opts_text)
    _resolve_copy_target(dest, target)  # confinement, pre-200

    def run():
        from pyspark.sql import Observation

        # confined again once the root exists: a symlink made since
        # the plan step must not redirect the write
        path = _resolve_copy_target(dest, target, makedirs=True)
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n"))
        per_thread = "PER_THREAD_OUTPUT" in opts
        out_dir = path if per_thread else path + ".__spark_tmp__"
        # repartition(1), NOT coalesce(1): an empty result folds to a
        # zero-partition plan under coalesce and writes no part file at
        # all — the single-file contract needs one task to always run so
        # even an empty export is a VALID parquet/csv-with-header file
        writer = (out if per_thread else out.repartition(1)).write.mode(
            "overwrite"
        )
        if fmt == "csv":
            writer = writer.option(
                "header", opts.get("HEADER", "true")
            ).option("delimiter", opts.get("DELIMITER", ","))
            writer.csv(out_dir)
        elif fmt == "json":
            writer.json(out_dir)
        else:
            writer.parquet(out_dir)
        n = int(obs.get["n"] or 0)
        if not per_thread:
            part = next(
                (
                    f
                    for f in sorted(os.listdir(out_dir))
                    if f.startswith("part-")
                ),
                None,
            )
            if part is None:
                    # should not happen with repartition(1); a 0-byte parquet
                    # would be invalid, so fail loudly rather than emit one
                shutil.rmtree(out_dir, ignore_errors=True)
                raise RuntimeError(
                    f"COPY TO produced no output file: {path}"
                )
            os.replace(os.path.join(out_dir, part), path)
            shutil.rmtree(out_dir, ignore_errors=True)
        return _count_df(dest, n)

    return run


def _copy_from_source(dest, path: str) -> str:
    """Resolve a COPY FROM source path: relative paths resolve under
    the export root when one is set (so COPY TO → COPY FROM
    round-trips naturally); absolute paths read as-is — reads are
    already reachable through the dialect's read_parquet()/read_csv
    table functions, so this adds no privilege COPY TO's write
    confinement exists to deny."""
    root = getattr(dest, "export_root", None)
    if root is not None and not os.path.isabs(path):
        return os.path.join(root, path)
    return path


def _plan_copy_from(dest, query: str):
    """DuckDB's import statement: ``COPY <table> FROM 'path'
    [(FORMAT parquet|csv|json, HEADER, DELIMITER ',')]``.

    Loads by COLUMN NAME (parquet/json naturally; csv via its
    header): source columns not on the table error loudly, absent
    table columns load as NULL, and values take the engine's
    cast-on-write policy (try_cast to the declared type, malformed →
    NULL — engine.py A9). Appends through the same staged-write +
    adopt-by-rename path as INSERT…SELECT, so a failed load leaves
    no partial files and `__row_id`s are assigned engine-side. The
    plan reads the source file's schema (a read, not a write)."""
    import glob as _glob

    table, path, opts_text = _COPY_FROM_RE.match(query).groups()
    info = _require_table(dest, table)
    fmt, opts = _copy_format(path, opts_text, stmt="COPY FROM")
    if fmt == "csv" and opts.get("HEADER", "true").lower() == "false":
        raise ValueError(
            "COPY FROM: HEADER false is unsupported — the load"
            " aligns by column NAME, which headerless CSV cannot"
            " provide"
        )
    src_path = _copy_from_source(dest, path)
    # glob.glob covers literal paths too; Spark's reader expands
    # */? patterns, so a valid glob must pass
    if not _glob.glob(src_path):
        raise FileNotFoundError(f"COPY FROM source not found: {src_path}")
    reader = dest.spark.read
    if fmt == "parquet":
        src = reader.parquet(src_path)
    elif fmt == "csv":
        src = (
            reader.option("header", True)
            .option("sep", opts.get("DELIMITER", ","))
            .csv(src_path)
        )
    else:
        src = reader.json(src_path)
    tfields = {f.name: f for f in info.struct().fields}
    extra = [c for c in src.columns if c not in tfields]
    if extra:
        raise ValueError(
            f"COPY FROM: column(s) not on {table}: {extra}"
            " (ALTER TABLE ADD COLUMN first, or project the file)"
        )
    from scratchdata_spark.jtypes import conform_to_struct

    if ROW_ID in src.columns:
        src = src.drop(ROW_ID)  # a file's ids are stale; engine assigns
    out = _with_row_id(
        conform_to_struct(src, info.struct()).drop(ROW_ID)
    ).select(*[f.name for f in info.struct().fields])

    def run():
        staging, n = _staged_write(dest, out, info.partition_col)
        _append_staged(dest, staging, table)
        return _count_df(dest, n)

    return run


# ---------------------------------------------------- views + ALTER


def _plan_create_view(dest, query: str):
    """Catalog-persisted logical view: the SQL text survives across
    sessions and re-registers as a temp view per session
    (engine.register_views) — spark.sql's CREATE VIEW would die with
    the session and be invisible to other tenants' engines."""
    or_replace, name, sql = _CREATE_VIEW_RE.match(query).groups()
    with _naming(name):
        _check_ident(dest, name)
        if dest.catalog.get(dest.database, name) is not None:
            raise ValueError(f"table exists: {name}")
        if not or_replace and name in dest.catalog.views(dest.database):
            raise ValueError(f"view exists: {name}")
        df = dest.view_df(sql)  # the text must analyze NOW, not at first read

    def run():
        dest.catalog.create_view(
            dest.database, name, sql.strip(), or_replace=bool(or_replace)
        )
        df.createOrReplaceTempView(name)
        return _count_df(dest, 0)

    run.names = (name,)
    return run


def _plan_drop_view(dest, query: str):
    if_exists, name = _DROP_VIEW_RE.match(query).groups()
    with _naming(name):
        if not if_exists and name not in dest.catalog.views(dest.database):
            raise KeyError(f"no such view: {name}")

    def run():
        dest.catalog.drop_view(dest.database, name)
        try:
            dest.spark.catalog.dropTempView(name)
        except Exception:
            pass
        return _count_df(dest, 0)

    run.names = (name,)
    return run


def _plan_alter_add(dest, query: str):
    table, if_not_exists, name, type_ddl = _ALTER_ADD_RE.match(query).groups()
    info = _require_table(dest, table)
    # explicit DDL refuses tombstoned names (ingest silently skips
    # them instead — catalog.add_columns); IF NOT EXISTS does not
    # soften this: the column does NOT exist, re-adding is the hazard
    dest.catalog.check_not_dropped(info, name)
    if any(c["name"] == name for c in info.columns):
        if if_not_exists:
            return _noop(dest)
        raise ValueError(f"column exists: {name}")
    field = StructType.fromDDL(f"`{name}` {type_ddl}")[0]

    def run():
        with dest.catalog.lock(dest.database, table):
            _register_schema(dest, table, [field])
        return _count_df(dest, 0)

    return run


def _plan_alter_drop(dest, query: str):
    table, if_exists, name = _ALTER_DROP_RE.match(query).groups()
    info = _require_table(dest, table)
    if if_exists and not any(c["name"] == name for c in info.columns):
        return _noop(dest)
    dest.catalog.check_droppable(info, name)

    def run():
        with dest.catalog.lock(dest.database, table):
            dest.catalog.drop_column(dest.database, table, name)
        return _count_df(dest, 0)

    return run


def _split_cols(text: str) -> list[str]:
    return [c.strip().strip('`"') for c in text.split(",") if c.strip()]


def _plan_compact(dest, query: str):
    """COMPACT TABLE t [CLUSTER BY (a, b)] [MIN FILES n] — the SQL
    twin of the admin compaction route (engine.compact_table; CLUSTER
    BY maps to sort_cols range clustering). Answers with the
    compaction summary as a one-row frame."""
    table, cols_text, min_files = _COMPACT_RE.match(query).groups()
    info = _require_table(dest, table)
    sort_cols = None
    if cols_text is not None:
        sort_cols = _split_cols(cols_text)
        if not sort_cols:
            # an empty CLUSTER BY () silently compacting unclustered
            # would fake the footer-pruning guarantee the user asked for
            raise ValueError("CLUSTER BY needs at least one column")
        known = {c["name"] for c in info.columns}
        bad = [c for c in sort_cols if c not in known]
        if bad:
            raise ValueError(f"unknown sort column(s): {bad}")

    def run():
        out = dest.compact_table(
            table,
            min_files=int(min_files) if min_files else 8,
            sort_cols=sort_cols,
        )
        from scratchdata_spark.dialect import local_result_df

        # driver-built one-row result as a LocalRelation (no-job collect)
        return local_result_df(
            dest.spark,
            [(
                bool(out.get("compacted")),
                int(out.get("files_in", out.get("files", 0))),
                int(out.get("files_out", out.get("files", 0))),
                int(out.get("generation", 0)) or None,
                out.get("reason"),
            )],
            "compacted boolean, files_in int, files_out int,"
            " generation int, reason string",
        )

    return run


# -------------------------------------------------------------- UPDATE


_ASSIGN_RE = re.compile(rf"^\s*({_IDENT})\s*=\s*(.+)\s*$", re.S)


def _update_assignments(info, set_clause: str) -> dict[str, str]:
    from scratchdata_spark.dialect import _split_top_level_commas_text

    fields = {f.name: f for f in info.struct().fields}
    out: dict[str, str] = {}
    for item in _split_top_level_commas_text(set_clause):
        am = _ASSIGN_RE.match(item)
        if am is None:
            raise ValueError(f"bad SET assignment: {item!r}")
        col, expr_text = am.group(1), am.group(2)
        if col not in fields or col == ROW_ID:
            raise ValueError(f"unknown column: {col}")
        out[col] = expr_text
    return out


def _plan_update(dest, query: str):
    table, alias, rest = _UPDATE_RE.match(query).groups()
    mq = _update_from_to_merge(table, alias, rest)
    if mq is not None:
        return _plan_merge(dest, mq)
    info = _require_table(dest, table)
    set_clause, pred = _split_where(dest, rest)
    assigns = _update_assignments(info, set_clause)
    tdf = dest.table_df(table)
    if alias:
        tdf = tdf.alias(alias)
    cond = (
        F.coalesce(_expr(dest, tdf, pred), F.lit(False))
        if pred
        else F.lit(True)
    )
    set_cols = {
        name: _expr(dest, tdf, text) for name, text in assigns.items()
    }

    def transform(src, info):
        fields = {f.name: f for f in info.struct().fields}
        cols = []
        for f in info.struct().fields:
            if f.name in set_cols:
                cols.append(
                    F.when(cond, set_cols[f.name].cast(fields[f.name].dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return src.select(*cols)

    def run():
        # matched count runs on the locked snapshot inside _cow_rewrite —
        # a pre-lock count scan could disagree with the rows actually
        # rewritten under concurrent DML (UPDATE rewrites everything
        # anyway, so the rewrite pass dominates; an Observation metric
        # would fold away with trivial predicates, see _cow_rewrite)
        _, _, n = _cow_rewrite(
            dest,
            table,
            transform,
            prune_fn=lambda info, cur_dir: _prunable_partitions(
                dest, info, pred, cond, cur_dir
            ),
            file_prune_pred=pred,
            count_pred=cond,
            src_alias=alias,
        )
        return _count_df(dest, n)

    return run


# --------------------------------------------------------------- MERGE


def _merge_any_pred(dest, frame, not_matched):
    """OR of the WHEN NOT MATCHED predicates (None = always true),
    compiled against ``frame`` for the single stats pass."""
    out = None
    for pred, _cols, _vals in not_matched:
        pc = _expr(dest, frame, pred) if pred else F.lit(True)
        out = pc if out is None else (out | pc)
    return out


def _plan_merge(dest, query: str):
    """MERGE INTO over one copy-on-write rewrite (same flip tail as
    UPDATE/DELETE/upserts): target left-joins the source on the ON
    condition with WHEN clauses applied first-match-wins; a target
    row matching MULTIPLE source rows raises (SQL-standard
    cardinality rule, enforced with a window count + assert_true —
    silently picking one would corrupt the table). WHEN NOT MATCHED
    inserts are the source anti-join, projected by name (INSERT *) or
    through the listed column expressions. Counts report matched
    targets + inserted rows, measured on the locked snapshot.

    The parse yields matched = [(pred|None, ("update", {col: expr}) |
    ("delete",))] and not_matched = [(pred|None, col_list|None,
    value_texts|None)] (col_list None + values None = INSERT *
    by-name). Clauses apply first-match-wins in written order, per the
    SQL standard.

    Scale shape: one shuffle join on the ON condition (AQE picks
    broadcast when the source is small), one window over target row
    ids for the cardinality check, inserts re-use the same source.
    The rewrite is whole-table (no partition pruning yet — the ON
    text is arbitrary); the statement exists for correctness parity,
    batch upserts should prefer INSERT … ON CONFLICT which prunes.
    """
    from pyspark import StorageLevel

    from scratchdata_spark.dialect import (
        _mask_literals,
        _split_top_level_commas_text,
        _unmask_literals,
    )

    # parse over MASKED text: a string literal containing 'WHEN
    # MATCHED' (or 'ON'/'USING' keywords) must not truncate the
    # non-greedy clause captures (r10 review catch); each captured
    # group unmasks back to its original literals
    masked_q, _lits = _mask_literals(query)
    m = _MERGE_RE.match(masked_q)
    if m is None:
        raise ValueError("MERGE: unparsable statement")
    table, t_alias, using_m, s_alias, on_m, whens_m = m.groups()
    using = _unmask_literals(using_m, _lits)
    on_text = _unmask_literals(on_m, _lits)
    info = _require_table(dest, table)
    t_alias = t_alias or table
    if using.startswith("(") and s_alias is None:
        raise ValueError("MERGE: USING (subquery) needs an alias")
    if t_alias == (s_alias or using):
        raise ValueError("MERGE: target and source aliases collide")
    matched, not_matched = [], []
    consumed = 0
    for wm in _MERGE_WHEN_RE.finditer(whens_m):
        consumed += len(wm.group(0))
        neg = wm.group(1)
        pred = (
            None if wm.group(2) is None
            else _unmask_literals(wm.group(2), _lits)
        )
        action = _unmask_literals(wm.group(3), _lits).strip()
        up = action.upper()
        if neg:
            if not up.startswith("INSERT"):
                raise ValueError("MERGE: WHEN NOT MATCHED must INSERT")
            if up.replace(" ", "") == "INSERT*":
                not_matched.append((pred, None, None))
            else:
                im = re.match(
                    r"(?is)INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*$",
                    action,
                )
                if im is None:
                    raise ValueError(f"MERGE: bad INSERT clause: {action!r}")
                cols = [c.strip() for c in im.group(1).split(",")]
                vlist = _split_top_level_commas_text(im.group(2))
                if len(vlist) != len(cols) or len(set(cols)) != len(cols):
                    raise ValueError(
                        f"MERGE: INSERT arity mismatch:"
                        f" {len(cols)} columns, {len(vlist)} values"
                    )
                not_matched.append((pred, cols, vlist))
        elif up == "DELETE":
            matched.append((pred, ("delete",)))
        elif up.startswith("UPDATE"):
            set_text = re.match(r"(?is)UPDATE\s+SET\s+(.+)$", action).group(1)
            assigns = {}
            for item in _split_top_level_commas_text(set_text):
                # accept the alias-qualified form `tgt.col = …` (both
                # aliases are in scope, so ported scripts qualify)
                qm = re.match(
                    rf"^\s*({_IDENT})\.({_IDENT})\s*=\s*(.+)\s*$", item, re.S
                )
                if qm is not None and qm.group(1) == t_alias:
                    name, rhs = qm.group(2), qm.group(3)
                else:
                    am = _ASSIGN_RE.match(item)
                    if am is None:
                        raise ValueError(f"MERGE: bad SET assignment: {item!r}")
                    name, rhs = am.group(1), am.group(2)
                if name == ROW_ID:
                    raise ValueError("MERGE: cannot SET __row_id")
                assigns[name] = rhs
            matched.append((pred, ("update", assigns)))
        else:
            raise ValueError(f"MERGE: bad WHEN MATCHED action: {action!r}")
    if whens_m[consumed:].strip() or not (matched or not_matched):
        raise ValueError(
            "MERGE: unparsed WHEN clauses:"
            f" {_unmask_literals(whens_m, _lits)!r}"
        )
    field_order = [f.name for f in info.struct().fields]
    fields = {f.name: f for f in info.struct().fields}
    for _pred, act in matched:
        if act[0] == "update":
            for c in act[1]:
                if c not in fields:
                    raise ValueError(f"MERGE: unknown column: {c}")
    for _pred, cols, _vals in not_matched:
        for c in cols or []:
            if c not in fields or c == ROW_ID:
                raise ValueError(f"MERGE: unknown INSERT column: {c}")
    # clause shape validated — only now analyze the source (a missing
    # USING table must not mask a malformed WHEN clause)
    if using.startswith("("):
        src = _source_df(dest, using[1:-1])
    else:
        src = _source_df(dest, f"SELECT * FROM {using}")
        s_alias = s_alias or using
    # analyze every expression the rewrite compiles, over an empty join
    # of target and source — a typo must fail here, before the 200
    frame = dest.table_df(table).alias(t_alias).crossJoin(
        src.alias(s_alias).limit(0)
    )
    _expr(dest, frame, on_text)
    for pred, act in matched:
        if pred:
            _expr(dest, frame, pred)
        for rhs in act[1].values() if act[0] == "update" else ():
            _expr(dest, frame, rhs)
    sframe = src.alias(s_alias).limit(0)
    for pred, _cols, vlist in not_matched:
        for text in ([pred] if pred else []) + (vlist or []):
            _expr(dest, sframe, text)
    counts = {"matched": 0, "inserted": 0}

    def transform(tsrc, info2):
        t = tsrc.alias(t_alias)
        sflag = src.withColumn("__merge_m", F.lit(True)).alias(s_alias)
        cond = _expr(dest, t.crossJoin(sflag.limit(0)), on_text)
        if matched:
            joined = t.join(sflag, cond, "left_outer")
            is_m = F.coalesce(F.col("__merge_m"), F.lit(False))
            w = Window.partitionBy(F.col(f"{t_alias}.{ROW_ID}"))
            mcount = F.sum(F.when(is_m, 1).otherwise(0)).over(w)
            # SQL cardinality rule — only when a matched row would be
            # UPDATEd/DELETEd (insert-only MERGEs succeed regardless,
            # matching SQL Server/Delta): the window count
            # materializes as a column (window fns can't sit in
            # WHERE), then assert_true — NULL when the check passes —
            # is forced by the filter
            joined = joined.withColumn(
                "__merge_guard",
                F.assert_true(
                    mcount <= 1,
                    F.lit(
                        "MERGE: a target row matched multiple source rows"
                    ),
                ),
            )
            joined = joined.filter(F.col("__merge_guard").isNull()).drop(
                "__merge_guard"
            )

            action = None  # first-match-wins index over matched clauses
            for idx, (pred, _act) in enumerate(matched):
                c = is_m & (
                    _expr(dest, joined, pred) if pred else F.lit(True)
                )
                action = (F.when if action is None else action.when)(c, idx)
            joined = joined.withColumn("__merge_a", action.otherwise(-1))
            del_idx = [
                i for i, (_p, a) in enumerate(matched) if a[0] == "delete"
            ]
            if del_idx:
                joined = joined.filter(~F.col("__merge_a").isin(del_idx))
            out_cols = []
            for f in field_order:
                col = F.col(f"{t_alias}.{f}")
                for idx, (_pred, act) in enumerate(matched):
                    if act[0] == "update" and f in act[1]:
                        col = F.when(
                            F.col("__merge_a") == idx,
                            _expr(dest, joined, act[1][f]).cast(
                                fields[f].dataType
                            ),
                        ).otherwise(col)
                out_cols.append(col.alias(f))
            merged = joined.select(*out_cols)
        else:
            # insert-only MERGE: targets pass through untouched — no
            # join, no guard, no window
            merged = tsrc.select(*field_order)

        inserts = None
        ins_any = None
        if not_matched:
            anti = (
                src.alias(s_alias)
                .join(tsrc.alias(t_alias), cond, "left_anti")
            )
            taken = F.lit(False)
            pieces = []
            for pred, cols, vals in not_matched:
                pc = _expr(dest, anti, pred) if pred else F.lit(True)
                p = pc & ~taken
                taken = taken | pc
                ins_any = pc if ins_any is None else (ins_any | pc)
                part = anti.filter(p)
                if cols is None:  # INSERT * — by name
                    proj = [
                        (
                            F.col(f).cast(fields[f].dataType)
                            if f in part.columns
                            else F.lit(None).cast(fields[f].dataType)
                        ).alias(f)
                        for f in field_order
                        if f != ROW_ID
                    ]
                else:
                    exprs = dict(zip(cols, vals))
                    proj = [
                        (
                            _expr(dest, part, exprs[f]).cast(
                                fields[f].dataType
                            )
                            if f in exprs
                            else F.lit(None).cast(fields[f].dataType)
                        ).alias(f)
                        for f in field_order
                        if f != ROW_ID
                    ]
                pieces.append(part.select(*proj))
            ins = pieces[0]
            for extra in pieces[1:]:
                ins = ins.unionByName(extra)
            inserts = _with_row_id(ins).select(*field_order)
        # ONE stats pass over the snapshot (full-outer + aggregate)
        # yields both counts — a semi-join count plus an insert count
        # would be two extra scans inside the compaction lock. A
        # matched row counts as affected only when a WHEN MATCHED
        # clause ACTS on it: the match mark is ANDed with the OR of
        # the matched-clause predicates (all-None = unconditional), so
        # `WHEN MATCHED AND s.v < 0` with no qualifying rows reports 0.
        stats_src = t.join(sflag, cond, "full_outer")
        m_mark = F.col("__merge_m").isNotNull()
        if matched and not all(p is None for p, _a in matched):
            any_m = None
            for pred, _act in matched:
                pc = _expr(dest, stats_src, pred) if pred else F.lit(True)
                any_m = pc if any_m is None else (any_m | pc)
            m_mark = m_mark & any_m
        agg_cols = [
            F.count_distinct(
                F.when(m_mark, F.col(f"{t_alias}.{ROW_ID}"))
            ).alias("__m")
        ]
        ins_mark = F.col(f"{t_alias}.{ROW_ID}").isNull()
        if not_matched:
            ins_mark = ins_mark & (
                F.lit(True)
                if all(p is None for p, _c, _v in not_matched)
                else _merge_any_pred(dest, stats_src, not_matched)
            )
        agg_cols.append(
            F.sum(F.when(ins_mark, 1).otherwise(0)).alias("__i")
        )
        row = stats_src.agg(*agg_cols).first()
        counts["matched"] = int(row["__m"] or 0) if matched else 0
        counts["inserted"] = int(row["__i"] or 0) if not_matched else 0
        return (
            merged.unionByName(inserts) if inserts is not None else merged
        )

    def run():
        src.persist(StorageLevel.MEMORY_AND_DISK)
        try:
        # Key-range pruning (sound for a pure alias-qualified equi-key ON
        # with INTEGRAL columns on BOTH sides — _key_range_prune enforces
        # that; the same reach bound upserts use): a target row outside
        # the source's [min, max] key range cannot match ANY source row,
        # so it cannot be updated, deleted, or affect the anti-join — its
        # file adopts by rename. A point-merge then rewrites one file,
        # not the corpus.
            prune_pred = None
            m_on = re.match(
                rf"^\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})\s*$",
                on_text,
            )
            if m_on is not None:
                a1, c1, a2, c2 = m_on.groups()
                tcol = scol = None
                if a1 == t_alias and a2 == s_alias:
                    tcol, scol = c1, c2
                elif a2 == t_alias and a1 == s_alias:
                    tcol, scol = c2, c1
                if tcol in fields and scol in src.columns:
                    prune_pred = _key_range_prune(src, scol, fields[tcol])
            prune_fn, file_pred = _key_range_prune_fn(dest, prune_pred)
            _cow_rewrite(
                dest, table, transform,
                prune_fn=prune_fn,
                file_prune_pred=file_pred,
                want_counts=False,
                # inserts must run even when no target file is reachable
                empty_touch_is_noop=False,
            )
        finally:
            src.unpersist()
        return _count_df(dest, counts["matched"] + counts["inserted"])

    return run


_PLANNERS = {
    "ctas": _plan_ctas,
    "create": _plan_create,
    "insert": _plan_insert,
    "drop": _plan_drop,
    "truncate": _plan_truncate,
    "delete": _plan_delete,
    "delete_using": _plan_delete_using,
    "update": _plan_update,
    "merge": _plan_merge,
    "copy_to": _plan_copy_to,
    "copy_from": _plan_copy_from,
    "create_view": _plan_create_view,
    "drop_view": _plan_drop_view,
    "alter_add": _plan_alter_add,
    "alter_drop": _plan_alter_drop,
    "compact": _plan_compact,
}
