"""DuckDB-dialect compat (dialect.py): a reference user's saved DuckDB
SQL runs unchanged through the Spark passthrough. Unit-tests the
rewriter's token safety, then runs the SAME query text on both engines
and compares values."""

from __future__ import annotations

import json
import struct

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from scratchdata_spark.dialect import (
    DialectError,
    _strftime_to_java,
    register_compat_functions,
    rewrite,
)


def test_exclude_becomes_except():
    assert rewrite("SELECT * EXCLUDE (a) FROM t") == "SELECT * EXCEPT (a) FROM t"
    assert rewrite("SELECT * exclude(a, b) FROM t") == "SELECT * EXCEPT(a, b) FROM t"


def test_int_division():
    assert rewrite("SELECT a // b FROM t") == "SELECT a  DIV  b FROM t"


def test_list_functions():
    assert rewrite("SELECT list_value(1,2)") == "SELECT array(1,2)"
    assert rewrite("SELECT list_contains([1], 1)") == (
        "SELECT array_contains(array(1), 1)"
    )


def test_using_sample():
    assert rewrite("SELECT * FROM t USING SAMPLE 10%") == (
        "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert rewrite("SELECT * FROM t USING SAMPLE 100 ROWS") == (
        "SELECT * FROM t TABLESAMPLE (100 ROWS)"
    )


def test_strftime_translation():
    assert _strftime_to_java("%Y-%m-%d") == "yyyy-MM-dd"
    assert _strftime_to_java("%H:%M:%S") == "HH:mm:ss"
    # literal alphabetics are quoted for java.time — as ONE run:
    # per-char quoting ('y''r') is the literal y'r to java.time
    assert _strftime_to_java("%Yyr") == "yyyy'yr'"
    assert _strftime_to_java("%Y-%m-%dT%H") == "yyyy-MM-dd'T'HH"
    assert _strftime_to_java("%H o'clock") == "HH' o''clock'"
    assert rewrite("SELECT strftime(ts, '%Y-%m') FROM t") == (
        "SELECT date_format(ts, 'yyyy-MM') FROM t"
    )


def test_qualify_rewrite():
    out = rewrite(
        "SELECT a, row_number() OVER (ORDER BY a) rn FROM t QUALIFY rn = 1"
    )
    assert out.startswith("SELECT * EXCEPT (__qualify_pred) FROM (")
    assert "(rn = 1) AS __qualify_pred" in out
    assert out.endswith("WHERE __qualify_pred")
    # trailing ORDER BY / LIMIT stay outside the wrapper
    out = rewrite("SELECT a, rank() OVER (ORDER BY a) r FROM t QUALIFY r <= 2 LIMIT 1")
    assert out.endswith("WHERE __qualify_pred LIMIT 1")


def test_qualify_with_window_in_predicate_runs(spark, sf_dir):
    """The most common QUALIFY form puts the window function directly
    in the predicate — it must execute (windows are illegal in WHERE,
    so the rewrite projects the predicate in an inner SELECT)."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    rows = spark.sql(
        rewrite(
            "SELECT o_custkey, o_orderkey FROM orders QUALIFY"
            " row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1"
        )
    ).collect()
    assert len(rows) > 0
    assert len({r["o_custkey"] for r in rows}) == len(rows)  # one per key


def test_literals_and_comments_untouched():
    assert rewrite("SELECT '* EXCLUDE (x) //' FROM t") == (
        "SELECT '* EXCLUDE (x) //' FROM t"
    )
    assert rewrite('SELECT "we//ird" FROM t') == 'SELECT "we//ird" FROM t'
    sql = "SELECT a FROM t -- list_value(1) // EXCLUDE"
    assert rewrite(sql) == sql
    # QUALIFY inside a subquery (depth > 0) is left for the engine
    sub = "SELECT * FROM (SELECT a FROM t) x WHERE a IN (1)"
    assert rewrite(sub) == sub


def test_valid_spark_sql_passes_through():
    for sql in (
        "SELECT l_returnflag, SUM(l_quantity) FROM lineitem GROUP BY ALL",
        "SELECT * EXCEPT (l_comment) FROM lineitem",
        "SELECT CAST(x AS INT) FROM t WHERE s ILIKE 'a%'",
    ):
        assert rewrite(sql) == sql


# ------------------------------------------------------------------ e2e

DUCKDB_QUERIES = [
    # same text must run on BOTH engines and agree value-for-value
    "SELECT o_orderstatus, count(*)::BIGINT AS n FROM orders GROUP BY ALL ORDER BY ALL",
    "SELECT epoch_us(TIMESTAMP '2024-03-01 12:30:00') AS us",
    "SELECT string_split('a.b.c', '.') AS parts",
    "SELECT o_orderkey // 100 AS bucket, count(*)::BIGINT AS n"
    " FROM orders GROUP BY ALL ORDER BY bucket LIMIT 5",
    "SELECT strftime(TIMESTAMP '2024-03-01 12:30:00', '%Y-%m-%d %H:%M') AS s",
    "SELECT regexp_matches(o_orderpriority, '^1') AS hot, count(*)::BIGINT AS n"
    " FROM orders GROUP BY ALL ORDER BY hot",
]


def test_same_duckdb_text_on_both_engines(spark, sf_dir):
    register_compat_functions(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    for sql in DUCKDB_QUERIES:
        expect = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        norm = lambda rows: sorted(
            json.dumps([str(v) for v in r]) for r in rows
        )
        assert norm(got) == norm(expect), sql


def test_more_list_and_date_functions():
    assert rewrite("SELECT list_transform(a, x -> x+1)") == (
        "SELECT transform(a, x -> x+1)"
    )
    assert rewrite("SELECT list_filter(a, x -> x>1)") == "SELECT filter(a, x -> x>1)"
    # list_unique is a COUNT in DuckDB (r11 wave-5 catch): the bridge
    # is the NULL-filtered distinct size, not array_distinct
    assert "size(array_distinct(filter((a)," in rewrite("SELECT list_unique(a)")
    assert rewrite("SELECT array_length(a)") == "SELECT size(a)"
    assert rewrite("SELECT starts_with(s, 'a')") == "SELECT startswith(s, 'a')"
    # boundary-crossing semantics ride the compat UDF (r11 catch:
    # plain timestampdiff counts complete intervals, not boundaries)
    assert rewrite("SELECT date_diff('day', a, b)") == (
        "SELECT date_diff_boundary('day', a, b)"
    )


DUCKDB_QUERIES_2 = [
    "SELECT list_sum(list_transform([1.0, 2.0, 3.5], x -> x * 2)) AS s",
    "SELECT date_diff('day', DATE '2024-01-01', DATE '2024-02-01') AS d",
    "SELECT starts_with(o_orderpriority, '1') AS hot, count(*)::BIGINT AS n"
    " FROM orders GROUP BY ALL ORDER BY hot",
    "SELECT list_contains([1, 2, 3], 2) AS has2",
]


def test_more_duckdb_text_on_both_engines(spark, sf_dir):
    register_compat_functions(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    for sql in DUCKDB_QUERIES_2:
        expect = con.execute(sql).fetchall()
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        norm = lambda rows: sorted(
            json.dumps([str(v) for v in r]) for r in rows
        )
        assert norm(got) == norm(expect), sql


def test_bracket_literals_vs_subscripts():
    assert rewrite("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)"
    assert rewrite("SELECT ['a', 'b']") == "SELECT array('a', 'b')"
    assert rewrite("SELECT [[1], [2]]") == "SELECT array(array(1), array(2))"
    # integer subscripts keep DuckDB's 1-based meaning via element_at
    # (this text only ever arrives after stock Spark rejected it)
    assert rewrite("SELECT a[1] FROM t") == "SELECT try_element_at(a, 1) FROM t"
    assert rewrite("SELECT split(s, ',')[1]") == (
        "SELECT try_element_at(split(s, ','), 1)"
    )
    # literal then subscript on it
    assert rewrite("SELECT [1, 2][1]") == "SELECT try_element_at(array(1, 2), 1)"


def test_backtick_identifiers_untouched():
    """Spark queries quoting odd column names with backticks (this
    engine mints columns from arbitrary JSON keys) must pass through
    byte-identical — `a//b` is a column name, not integer division."""
    for sql in (
        "SELECT `a//b` FROM t",
        "SELECT `we EXCLUDE (x)` FROM t",
        "SELECT `list_value(` FROM t",
        "SELECT `arr[0]` FROM t",
    ):
        assert rewrite(sql) == sql


def test_literal_mentioning_strftime_or_date_diff_untouched():
    sql = "SELECT concat('strftime(ts, ', fmt, ')') FROM t"
    assert rewrite(sql) == sql
    sql2 = "SELECT 'date_diff(''day'', a, b)' FROM t"
    assert rewrite(sql2) == sql2


def test_epoch_matches_duckdb_fractional_seconds(spark):
    register_compat_functions(spark)
    got = spark.sql(
        "SELECT epoch(TIMESTAMP '2024-03-01 10:30:15.5') AS e"
    ).first()["e"]
    expect = duckdb.connect().execute(
        "SELECT epoch(TIMESTAMP '2024-03-01 10:30:15.5')"
    ).fetchone()[0]
    assert abs(got - float(expect)) < 1e-6


# ----------------------------------------------------- round-4 additions


def test_duckdb_backslash_literal_semantics():
    """The scanner uses DUCKDB literal semantics: backslash is an
    ordinary character, so ``'a\\'`` is a complete literal and the
    following literal's contents must stay untouched while real code
    still rewrites. (The ADVICE-r3 corruption scenario — valid Spark
    text with ``\\'`` escapes crossing the rewriter — is prevented
    structurally: the engine only rewrites after stock Spark rejects
    the text, test_engine.test_dialect_rewrite_is_a_fallback.)"""
    sql = r"SELECT 'a\', 'x // y', b//c FROM t"
    assert rewrite(sql) == r"SELECT 'a\', 'x // y', b DIV c FROM t"
    # quote doubling still escapes
    sql2 = "SELECT 'it''s // fine', x//y FROM t"
    assert rewrite(sql2) == "SELECT 'it''s // fine', x DIV y FROM t"


def test_qualify_after_set_operation_passes_through():
    """DuckDB binds QUALIFY to the LAST branch of a set operation;
    wrapping the whole statement would silently change results, so
    such statements pass through untouched (ADVICE r3)."""
    for setop in ("UNION ALL", "UNION", "INTERSECT", "EXCEPT", "MINUS"):
        sql = (
            f"SELECT a FROM t1 {setop} SELECT a FROM t2 "
            "QUALIFY row_number() OVER (ORDER BY a) = 1"
        )
        assert rewrite(sql) == sql
    # ...but * EXCEPT (...) is a select-list modifier, not a set op
    wrapped = rewrite(
        "SELECT * EXCEPT (b) FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    )
    assert "__qualify_pred" in wrapped


def test_backtick_subscript_not_list_literal():
    # classified as a subscript (not rewritten to a list literal) and
    # then bridged to the 1-based element_at like any other subscript
    assert rewrite("SELECT `arr`[1] FROM t") == (
        "SELECT try_element_at(`arr`, 1) FROM t"
    )


def test_list_sort_bridges_as_text_wrap():
    # r11: list_sort is now a TEXT bridge to array_sort (asc, NULLs
    # LAST — exactly DuckDB), not a refusal; the old DialectError
    # recommended sort_array, whose ascending NULLS FIRST was wrong
    assert rewrite("SELECT list_sort(a) FROM t") == (
        "SELECT array_sort((a)) FROM t"
    )
    assert rewrite("SELECT list_reverse_sort(a) FROM t") == (
        "SELECT sort_array((a), false) FROM t"
    )
    # the two-argument option forms are bridged too (r13): literal
    # direction/null-order map onto the probed sort_array combos
    assert "sort_array((a), false)" in rewrite(
        "SELECT list_sort(a, 'DESC') // 1"
    )
    # inside a literal or comment: untouched
    assert rewrite("SELECT 'list_sort(a)' FROM t") == "SELECT 'list_sort(a)' FROM t"


def test_file_scan_functions():
    assert (
        rewrite("SELECT * FROM read_parquet('/tmp/x.parquet')")
        == "SELECT * FROM parquet.`/tmp/x.parquet`"
    )
    assert (
        rewrite("SELECT a FROM read_ndjson_auto('/d/f.ndjson') WHERE a>1")
        == "SELECT a FROM json.`/d/f.ndjson` WHERE a>1"
    )
    assert (
        rewrite("SELECT * FROM read_csv_auto('/d/f.csv') t")
        == "SELECT * FROM csv.`/d/f.csv` t"
    )
    # globs survive verbatim
    assert (
        rewrite("SELECT * FROM parquet_scan('/data/part-*.parquet')")
        == "SELECT * FROM parquet.`/data/part-*.parquet`"
    )


def test_file_scan_bare_literal():
    assert (
        rewrite("SELECT * FROM '/d/events.parquet' e")
        == "SELECT * FROM parquet.`/d/events.parquet` e"
    )
    assert (
        rewrite("SELECT * FROM t JOIN '/d/x.ndjson' j ON t.a = j.a")
        == "SELECT * FROM t JOIN json.`/d/x.ndjson` j ON t.a = j.a"
    )
    # unknown extension: not a table path, leave alone
    assert rewrite("SELECT * FROM '/d/x.txt'") == "SELECT * FROM '/d/x.txt'"
    # a plain value literal elsewhere never rewrites
    sql = "SELECT 'x.parquet' AS name FROM t"
    assert rewrite(sql) == sql


def test_file_scan_options_pass_through():
    """Call shapes whose options we can't carry into the ``fmt.`path```
    form pass through for a loud analysis error rather than silently
    dropping reader options."""
    sql = "SELECT * FROM read_parquet('/x.parquet', hive_partitioning=true)"
    assert rewrite(sql) == sql
    # non-literal list element: untouched
    sql2 = "SELECT * FROM read_parquet(['/a.parquet', p])"
    assert rewrite(sql2) == "SELECT * FROM read_parquet(array('/a.parquet', p))"


def test_file_scan_path_list_becomes_union_all(spark, sf_dir):
    out = rewrite("SELECT * FROM read_parquet(['/a.parquet', '/b.parquet'])")
    assert out == (
        "SELECT * FROM (SELECT * FROM parquet.`/a.parquet`"
        " UNION ALL SELECT * FROM parquet.`/b.parquet`)"
    )
    # executes: same file twice = doubled row count
    p = f"{sf_dir}/region.parquet"
    n = spark.sql(
        rewrite(f"SELECT count(*) AS n FROM read_parquet(['{p}', '{p}'])")
    ).first()["n"]
    assert n == 10


def test_asof_join_rewrite_shapes():
    out = rewrite(
        "SELECT t.k, q.px FROM trades t ASOF JOIN quotes q "
        "ON t.k = q.k AND t.ts >= q.qts WHERE t.k > 0"
    )
    # union+window form: one shuffle, struct-packed sides, inner-join
    # null filter; backward asof orders ts ASC with right (side 0)
    # first at ties (inclusive >=)
    assert "UNION ALL" in out and "last(__r) IGNORE NULLS OVER" in out
    assert "PARTITION BY __k0 ORDER BY __ts ASC NULLS LAST, __side ASC" in out
    assert "__r IS NOT NULL" in out
    assert out.endswith("WHERE t.k > 0")
    # LEFT variant keeps unmatched left rows (no __r filter); bare *
    # expands to both sides' structs
    out2 = rewrite(
        "SELECT * FROM trades t ASOF LEFT JOIN quotes q ON q.qts <= t.ts"
    )
    assert out2.startswith("SELECT t.*, q.*")
    assert "__r IS NOT NULL" not in out2
    # forward-looking asof (right ts >= left ts) orders ts DESC
    out3 = rewrite("SELECT a.*, b.* FROM a ASOF JOIN b ON b.t >= a.t")
    assert "ORDER BY __ts DESC NULLS LAST, __side ASC" in out3
    # strict inequality: left (side 1) first at ties so equal-ts right
    # rows stay invisible
    out4 = rewrite("SELECT a.*, b.* FROM a ASOF JOIN b ON a.t > b.t")
    assert "ORDER BY __ts ASC NULLS LAST, __side DESC" in out4


def test_asof_join_ambiguous_passes_through():
    # two candidate inequalities: give up rather than guess
    sql = "SELECT * FROM a ASOF JOIN b ON a.t >= b.t AND a.u >= b.u"
    assert rewrite(sql) == sql
    # no inequality at all
    sql2 = "SELECT * FROM a ASOF JOIN b ON a.x = b.y"
    assert rewrite(sql2) == sql2
    # unqualified equality term: sides unknowable from text
    sql3 = "SELECT * FROM a ASOF JOIN b ON k = b.k AND a.t >= b.t"
    assert rewrite(sql3) == sql3
    # left side is not a simple relation (chained join): give up
    sql4 = (
        "SELECT * FROM a JOIN c ON a.i = c.i "
        "ASOF JOIN b ON a.k = b.k AND a.t >= b.t"
    )
    assert rewrite(sql4) == sql4


def test_asof_join_executes(spark):
    from scratchdata_spark.dialect import rewrite as rw

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _asof_t AS SELECT * FROM VALUES"
        " (1, 10), (1, 25), (2, 12), (3, 7) AS t(k, ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _asof_q AS SELECT * FROM VALUES"
        " (1, 5, 1.0), (1, 20, 2.0), (1, 30, 3.0), (2, 1, 4.0) AS q(k, qts, px)"
    )
    rows = spark.sql(
        rw(
            "SELECT t.k, t.ts, q.px FROM _asof_t t ASOF JOIN _asof_q q"
            " ON t.k = q.k AND t.ts >= q.qts"
        )
    ).collect()
    got = {(r.k, r.ts): r.px for r in rows}
    assert got == {(1, 10): 1.0, (1, 25): 2.0, (2, 12): 4.0}
    # LEFT variant keeps the unmatched row (k=3 has no quotes) with
    # NULL right columns; inner (above) dropped it
    left = spark.sql(
        rw(
            "SELECT t.k, t.ts, q.px FROM _asof_t t ASOF LEFT JOIN _asof_q q"
            " ON t.k = q.k AND t.ts > q.qts WHERE t.k = 3"
        )
    ).collect()
    assert [(r.k, r.ts, r.px) for r in left] == [(3, 7, None)]


def test_strptime_and_sample_methods(spark):
    out = rewrite("SELECT strptime(s, '%Y-%m-%d %H:%M:%S') FROM t")
    assert out == "SELECT to_timestamp(s, 'yyyy-MM-dd HH:mm:ss') FROM t"
    # round-trips a real value identically to DuckDB
    got = spark.sql(
        rewrite("SELECT strptime('2024-03-01 10:30:15', '%Y-%m-%d %H:%M:%S') AS ts")
    ).first()["ts"]
    expect = duckdb.connect().execute(
        "SELECT strptime('2024-03-01 10:30:15', '%Y-%m-%d %H:%M:%S')"
    ).fetchone()[0]
    assert got == expect
    # named sampling methods map onto TABLESAMPLE
    assert (
        rewrite("SELECT * FROM t USING SAMPLE bernoulli(10%)")
        == "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert (
        rewrite("SELECT * FROM t USING SAMPLE reservoir(100 ROWS)")
        == "SELECT * FROM t TABLESAMPLE (100 ROWS)"
    )
    assert (
        rewrite("SELECT * FROM t USING SAMPLE system(5%)")
        == "SELECT * FROM t TABLESAMPLE (5 PERCENT)"
    )


def test_asof_null_semantics_match_duckdb(spark):
    """NULL handling verified against DuckDB live (r4 code review):
    right rows with NULL ts or NULL keys never match; a NULL LEFT ts
    sorts as the extreme and takes the closest right row (inclusive
    operators)."""
    from scratchdata_spark.dialect import rewrite as rw

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _nl AS SELECT * FROM VALUES"
        " (1, CAST(NULL AS INT)), (1, 7) AS t(k, ts)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _nr AS SELECT * FROM VALUES"
        " (1, 5), (1, 9), (1, CAST(NULL AS INT)), (CAST(NULL AS INT), 6)"
        " AS q(k, qts)"
    )
    rows = spark.sql(
        rw(
            "SELECT t.k, t.ts, q.qts FROM _nl t ASOF LEFT JOIN _nr q"
            " ON t.k = q.k AND t.ts >= q.qts"
        )
    ).collect()
    got = {(r.k, r.ts): r.qts for r in rows}
    # ts=7 -> greatest qts <= 7 is 5; NULL ts sorts last -> sees all,
    # takes 9; the NULL-qts and NULL-key right rows are invisible
    assert got == {(1, 7): 5, (1, None): 9}


def test_aggregate_renames_match_duckdb(spark, sf_dir):
    """list()/arg_max()/arg_min()/quantile_cont() rewrite to Spark's
    exact counterparts — verified value-for-value on both engines."""
    register_compat_functions(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    queries = [
        "SELECT arg_max(o_orderkey, o_totalprice) AS k,"
        " arg_min(o_orderkey, o_totalprice) AS j FROM orders",
        "SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders",
        # list() is an unordered bag: compare sorted
        "SELECT o_orderstatus, list_sort(list(o_orderkey)) AS ks"
        " FROM orders GROUP BY ALL ORDER BY ALL",
    ]
    for sql in queries:
        expect = con.execute(sql).fetchall()
        spark_sql = sql
        got = [tuple(r) for r in spark.sql(rewrite(spark_sql)).collect()]
        norm = lambda rows: [json.dumps([str(v) for v in r]) for r in rows]
        assert norm(got) == norm(expect), sql
    # token shapes
    assert rewrite("SELECT list(x) FROM t") == "SELECT array_agg(x) FROM t"
    # list_value already rewrote before the bare list() rule
    assert rewrite("SELECT list_value(1)") == "SELECT array(1)"


def test_distinct_on_rewrite_shapes():
    from scratchdata_spark.dialect import rewrite

    # basic: keys partition, ORDER BY hoisted as helper columns
    out = rewrite("SELECT DISTINCT ON (a) a, b FROM t ORDER BY a, c DESC")
    assert "ROW_NUMBER() OVER (PARTITION BY a ORDER BY a, c DESC)" in out
    assert "__sd_rn = 1" in out
    assert "c AS __sd_ob1" in out
    assert out.rstrip().endswith("ORDER BY __sd_ob0, __sd_ob1 DESC")
    # no ORDER BY: deterministic fallback to the keys
    out = rewrite("SELECT DISTINCT ON (x, y) z FROM t")
    assert "PARTITION BY x, y ORDER BY x, y" in out
    # LIMIT stays outside the wrapper
    out = rewrite("SELECT DISTINCT ON (a) a FROM t ORDER BY a LIMIT 3")
    assert out.rstrip().endswith("LIMIT 3")


def test_distinct_on_conservative_passthrough():
    from scratchdata_spark.dialect import rewrite

    untouched = [
        # set operation: DuckDB binds DISTINCT ON per branch
        "SELECT DISTINCT ON (a) a FROM t UNION SELECT 1",
        # aggregation semantics don't compose with the window rewrite
        "SELECT DISTINCT ON (a) a, count(*) FROM t GROUP BY a",
        # ordinal ORDER BY would become a constant in the window spec
        "SELECT DISTINCT ON (a) a, b FROM t ORDER BY 2",
        # subquery DISTINCT ON (depth > 0) is not the top-level SELECT
        "SELECT * FROM (SELECT DISTINCT ON (a) a FROM t)",
    ]
    for sql in untouched:
        assert rewrite(sql) == sql, sql
    # literal containing the phrase is never touched
    sql = "SELECT 'use SELECT DISTINCT ON (x) here' AS tip FROM t"
    assert rewrite(sql) == sql


def test_distinct_on_executes_and_matches_duckdb(spark, sf_dir):
    import duckdb

    from scratchdata_spark.dialect import rewrite

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    # ORDER BY column o_orderdate is NOT in the select list — the
    # helper-column hoist is what makes this resolve on Spark
    sql = (
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey FROM orders"
        " ORDER BY o_custkey, o_orderdate, o_orderkey"
    )
    expect = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
    assert sorted(got) == sorted(expect)
    assert len(got) > 0


def test_struct_pack_and_brace_literal_shapes():
    from scratchdata_spark.dialect import rewrite

    assert (
        rewrite("SELECT struct_pack(a := 1, b := x + 1) FROM t")
        == "SELECT named_struct('a', 1, 'b', x + 1) FROM t"
    )
    # nesting, both mechanisms
    assert (
        rewrite("SELECT struct_pack(a := struct_pack(b := 2)) FROM t")
        == "SELECT named_struct('a', named_struct('b', 2)) FROM t"
    )
    assert (
        rewrite("SELECT {'outer': {'inner': 1}} FROM t")
        == "SELECT named_struct('outer', named_struct('inner', 1)) FROM t"
    )
    # map literal; '::' inside a value is not a key separator
    assert (
        rewrite("SELECT MAP {'k': x::INT} FROM t")
        == "SELECT map('k', x::INT) FROM t"
    )
    # malformed argument lists leave the statement untouched
    assert rewrite("SELECT struct_pack(bad) FROM t") == "SELECT struct_pack(bad) FROM t"
    # braces inside a string literal are never touched
    lit = "SELECT '{not: sql}' AS tip FROM t"
    assert rewrite(lit) == lit


def test_unnest_and_string_split_inline():
    from scratchdata_spark.dialect import rewrite

    out = rewrite("SELECT unnest(string_split(text, ' ')) AS tok FROM t")
    # char(92) spells the backslash without a string escape (r12)
    assert (
        "explode(split(text, concat(char(92), 'Q', ' ', char(92), 'E')))"
        in out
    )


def test_generate_series_rewrite_shapes():
    from scratchdata_spark.dialect import rewrite

    out = rewrite("SELECT * FROM generate_series(1, 10)")
    assert out == "SELECT * FROM (SELECT explode(sequence(1, 10)) AS generate_series)"
    out = rewrite("SELECT * FROM generate_series(1, 10, 2) AS g(n) WHERE n > 3")
    assert out == (
        "SELECT * FROM (SELECT explode(sequence(1, 10, 2)) AS n) g WHERE n > 3"
    )
    # select-list position returns a LIST (r13: bridged via sequence
    # with the wrong-direction guard — Spark's sequence auto-reverses)
    out = rewrite("SELECT generate_series(5)")
    assert "sequence(0, 5)" in out and "array()" in out
    out = rewrite("SELECT range(2, 10, 3)")
    assert "sequence(2," in out and "array()" in out


def test_struct_and_series_execute_matching_duckdb(spark):
    import duckdb

    from scratchdata_spark.dialect import rewrite

    con = duckdb.connect()
    cases = [
        "SELECT struct_pack(a := 1, b := 'x').a AS a",
        "SELECT {'lo': 41 + 1}.lo AS lo",
        "SELECT map_keys(MAP {'k': 1, 'j': 2}) AS ks",
        "SELECT gs.n AS n FROM generate_series(2, 8, 3) gs(n)",
    ]
    for sql in cases:
        expect = [tuple(map(str, r)) for r in con.execute(sql).fetchall()]
        got = [tuple(map(str, r)) for r in spark.sql(rewrite(sql)).collect()]
        assert sorted(got) == sorted(expect), sql


# ------------------------- round-4 additions: subscripts, REPLACE, …


def test_int_subscripts_become_element_at():
    assert rewrite("select l[1] // 2 from t") == (
        "select try_element_at(l, 1)  DIV  2 from t"
    )
    assert "try_element_at(l, -1)" in rewrite("select l[-1], x // y from t")
    assert "try_element_at(try_element_at(l, 1), 2)" in rewrite("select l[1][2] // 1 from t")
    assert "try_element_at(f(x), 1)" in rewrite("select f(x)[1] // 1 from t")
    # string keys (maps/structs: same meaning both engines) untouched
    assert "m['k']" in rewrite("select m['k'] // 1 from t")
    # a list literal is never a subscript base mistake
    assert "try_element_at(array(1,2,3), 2)" in rewrite("select [1,2,3][2]")


def test_array_keyword_constructor():
    assert rewrite("select ARRAY[1, 2] as a") == "select ARRAY(1, 2) as a"


def test_trailing_commas_dropped():
    assert rewrite("select a, b, from t") == "select a, b from t"
    assert rewrite("select struct(a, b, ) from t") == (
        "select struct(a, b ) from t"
    )


def test_star_replace_rewrite():
    assert rewrite("select * replace (v+1 as v) from t") == (
        "select * EXCEPT (v), v+1 as v from t"
    )
    assert rewrite("select t.* REPLACE (x*2 AS x, y AS y2) from t") == (
        "select t.* EXCEPT (x, y2), x*2 AS x, y AS y2 from t"
    )


def test_agg_order_by_rewrites():
    # explicit NULLS LAST: DuckDB's default placement in BOTH
    # directions; Spark's default is NULLS FIRST ascending (r12)
    got = rewrite("select string_agg(s, ',' order by v desc) from t group by g")
    assert "listagg(s, ',') WITHIN GROUP (ORDER BY v desc NULLS LAST)" in got
    # the (key IS [NOT] NULL) guard leads the sort struct so NULL
    # keys land where DuckDB puts them (NULLS LAST both directions)
    got = rewrite("select list(s order by v desc) from t group by g")
    assert (
        "transform(sort_array(array_agg(struct((v) IS NOT NULL AS _n,"
        " v AS _ob, s AS _v)), false), p -> p._v)" in got
    )
    got = rewrite("select list(s order by v) from t group by g")
    assert (
        "transform(sort_array(array_agg(struct((v) IS NULL AS _n,"
        " v AS _ob, s AS _v)), true), p -> p._v)" in got
    )
    # order-insensitive aggs: the no-op ORDER BY drops (r12)
    assert rewrite("select sum(v order by v) // 1 from t") == (
        "select sum(v)  DIV  1 from t"
    )
    # DISTINCT ordered agg, key == distinct expression (r12)
    got = rewrite("select list(distinct s order by s) from t")
    assert "array_agg(DISTINCT struct((s) IS NULL AS _n" in got


def test_try_strptime():
    assert rewrite("select try_strptime(s, '%Y-%m-%d') from t") == (
        "select try_to_timestamp(s, 'yyyy-MM-dd') from t"
    )


def test_slice_and_by_name_raise_with_guidance():
    with pytest.raises(DialectError, match="slice"):
        rewrite("select s[1:2] // 1 from t")
    with pytest.raises(DialectError, match="BY NAME"):
        rewrite("select a // 1 from t union all by name select b from u")


def test_subscript_rewrites_match_duckdb(spark):
    con = duckdb.connect()
    cases = [
        "SELECT list_value(10, 20, 30)[1] // 1 AS first",
        "SELECT list_value(10, 20, 30)[-1] // 1 AS last",
        "SELECT list_value(7, 8)[2] // 1 AS second",
        # struct field by string key: identical meaning on both
        # engines, so it stays a bracket (DuckDB's MAP subscript wraps
        # the result in a list — that one is not bridged)
        "SELECT ({'k': 5})['k'] // 1 AS sk",
    ]
    for sql in cases:
        expect = [tuple(map(str, r)) for r in con.execute(sql).fetchall()]
        got = [tuple(map(str, r)) for r in spark.sql(rewrite(sql)).collect()]
        assert got == expect, sql


def test_ordered_agg_matches_duckdb(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT *"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders"
    )
    sql = (
        "SELECT o_custkey, string_agg(o_orderpriority, '|'"
        " ORDER BY o_orderkey) AS pri FROM orders"
        " GROUP BY o_custkey ORDER BY o_custkey LIMIT 50"
    )
    expect = con.execute(sql).fetchall()
    got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
    assert got == expect
    # array_agg ORDER BY: unique sort key → order fully determined
    sql2 = (
        "SELECT o_custkey, list(o_orderkey ORDER BY o_orderkey DESC) AS ks"
        " FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 50"
    )
    expect2 = [(r[0], list(r[1])) for r in con.execute(sql2).fetchall()]
    got2 = [(r[0], list(r[1])) for r in spark.sql(rewrite(sql2)).collect()]
    assert got2 == expect2


def test_summarize_statement(spark, sf_dir):
    from scratchdata_spark.dialect import statement_form_df

    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    rows = statement_form_df(spark, "SUMMARIZE nation").collect()
    byname = {r["column_name"]: r for r in rows}
    assert set(byname) == {"n_nationkey", "n_name", "n_regionkey"}
    nk = byname["n_nationkey"]
    assert nk["min"] == "0" and nk["count"] == 25 and nk["null_percentage"] == 0.0
    assert byname["n_name"]["avg"] is None  # non-numeric: no moments
    # SELECT form
    rows = statement_form_df(
        spark, "SUMMARIZE SELECT n_regionkey FROM nation"
    ).collect()
    assert len(rows) == 1 and rows[0]["max"] == "4"


def test_pivot_statement_matches_duckdb(spark, sf_dir):
    from scratchdata_spark.dialect import statement_form_df

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT *"
        f" FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders"
    )
    sql = (
        "PIVOT orders ON o_orderstatus USING count(*)"
        " GROUP BY o_orderpriority"
    )
    expect = {tuple(map(str, r)) for r in con.execute(sql).fetchall()}
    df = statement_form_df(spark, sql)
    got = {tuple(map(str, r)) for r in df.collect()}
    assert sorted(df.columns) == sorted(
        [d[0] for d in con.execute(sql).description]
    )
    assert got == expect
    assert statement_form_df(spark, "SELECT 1") is None


def test_list_comprehension_rewrite():
    assert rewrite("select [x + 1 for x in [1,2,3]] as l") == (
        "select transform(array(1,2,3), x -> x + 1) as l"
    )
    assert rewrite("select [x*2 for x in l if x > 0] as l2 from t") == (
        "select transform(filter(l, x -> x > 0), x -> x*2) as l2 from t"
    )


def test_prefix_alias_rewrite():
    got = rewrite("select foo: 1, bar: a // b from t")
    assert "1 AS foo" in got and "a  DIV  b AS bar" in got
    # := named args and :: casts never match the alias pattern
    assert "named_struct('a', 1)" in rewrite("select struct_pack(a := 1) // 1")
    got = rewrite("select n: count(*) from t group by g")
    assert "count(*) AS n" in got


def test_union_by_name_statement(spark):
    from scratchdata_spark.dialect import statement_form_df

    spark.sql("select 1 as a, 2 as b").createOrReplaceTempView("ubn_a")
    spark.sql("select 30 as b, 40 as c").createOrReplaceTempView("ubn_b")
    df = statement_form_df(
        spark, "select * from ubn_a union all by name select * from ubn_b"
    )
    assert sorted(df.columns) == ["a", "b", "c"]
    rows = sorted(
        [(r["a"], r["b"], r["c"]) for r in df.collect()],
        key=lambda t: (t[0] is None, t),
    )
    assert rows == [(1, 2, None), (None, 30, 40)]
    # without ALL: deduplicated
    d2 = statement_form_df(spark, "select 1 as a union by name select 1 as a")
    assert d2.count() == 1
    # a trailing global ORDER BY has no faithful branch split → the
    # statement falls through (and the text guard raises loudly)
    assert (
        statement_form_df(
            spark,
            "select * from ubn_a union all by name"
            " select * from ubn_b order by b",
        )
        is None
    )
    with pytest.raises(DialectError, match="BY NAME"):
        rewrite(
            "select a // 1 from t union all by name select b from u"
        )


def test_comprehension_and_union_by_name_match_duckdb(spark):
    con = duckdb.connect()
    sql = "SELECT [x * 10 FOR x IN [1,2,3] IF x <> 2] AS l"
    expect = [tuple(map(str, r)) for r in con.execute(sql).fetchall()]
    got = [tuple(map(str, r)) for r in spark.sql(rewrite(sql)).collect()]
    assert got == expect


def test_union_by_name_window_order_by_is_not_global(spark):
    """A depth>0 ORDER BY (inside OVER()) in the final branch must NOT
    be mistaken for a statement-level one — the bridgeable shape."""
    from scratchdata_spark.dialect import statement_form_df

    spark.sql("select 1 as a").createOrReplaceTempView("ubn_w1")
    spark.sql("select 5 as x").createOrReplaceTempView("ubn_w2")
    df = statement_form_df(
        spark,
        "select a from ubn_w1 union all by name"
        " select row_number() over (order by x) as a from ubn_w2",
    )
    assert df is not None and sorted(r["a"] for r in df.collect()) == [1, 1]


def test_union_by_name_mixed_dedup_is_left_associative(spark):
    """A UNION BY NAME B UNION ALL BY NAME C: dedup applies to (A,B)
    only; C's duplicates survive — DuckDB's left-assoc semantics."""
    from scratchdata_spark.dialect import statement_form_df

    df = statement_form_df(
        spark,
        "select 1 as a union by name select 1 as a"
        " union all by name select 1 as a",
    )
    assert [r["a"] for r in df.collect()] == [1, 1]
    con = duckdb.connect()
    assert (
        len(
            con.execute(
                "select 1 as a union by name select 1 as a"
                " union all by name select 1 as a"
            ).fetchall()
        )
        == 2
    )


def test_pivot_statement_empty_count_cells_are_zero(spark):
    """Engine-served PIVOT renders empty COUNT cells as 0 like
    DuckDB's statement — not Spark's pivot NULL."""
    from scratchdata_spark.dialect import statement_form_df

    spark.createDataFrame(
        [("p1", "A"), ("p2", "B")], ["grp", "status"]
    ).createOrReplaceTempView("pv0")
    df = statement_form_df(spark, "PIVOT pv0 ON status USING count(*) GROUP BY grp")
    vals = {r["grp"]: (r["A"], r["B"]) for r in df.collect()}
    assert vals == {"p1": (1, 0), "p2": (0, 1)}
    # a single non-count agg keeps NULL (DuckDB sums are NULL too)
    spark.createDataFrame(
        [("p1", "A", 3), ("p2", "B", 4)], ["grp", "status", "v"]
    ).createOrReplaceTempView("pv1")
    df = statement_form_df(spark, "PIVOT pv1 ON status USING sum(v) GROUP BY grp")
    vals = {r["grp"]: (r["A"], r["B"]) for r in df.collect()}
    assert vals == {"p1": (3, None), "p2": (None, 4)}


def test_r11_probe_catches(spark):
    """End-to-end regressions from the r11 differential probe battery
    (each was a silent value or loud-where-bridgeable divergence vs
    DuckDB)."""
    from scratchdata_spark.dialect import register_compat_functions

    register_compat_functions(spark)
    # list_sum: NULL elements ignored; empty and all-NULL lists are
    # NULL (the old 0.0-seeded aggregate returned NULL and 0.0 here)
    row = spark.sql(
        "SELECT list_sum(array(1.0D, NULL, 2.0D)) AS a,"
        " list_sum(array()) AS b,"
        " list_sum(array(CAST(NULL AS DOUBLE))) AS c"
    ).collect()[0]
    assert row.a == 3.0 and row.b is None and row.c is None
    # ISO strftime literal 'T': the quoted pattern must splice into
    # the SQL literal with doubled quotes, and render as a literal T
    got = spark.sql(
        rewrite(
            "SELECT strftime(TIMESTAMP '2024-03-05 07:08:09',"
            " '%Y-%m-%dT%H:%M:%S') AS f"
        )
    ).collect()[0].f
    assert got == "2024-03-05T07:08:09"
    # bare VARCHAR / INTn / FLOATn / HUGEINT cast aliases bridge
    row = spark.sql(
        rewrite(
            "SELECT 7 // 2 AS q, CAST(5 AS VARCHAR) AS s,"
            " 3::INT8 AS i8, 2::INT2 AS i2, 1.5::FLOAT8 AS f8,"
            " 12::HUGEINT AS h"
        )
    ).collect()[0]
    assert (row.q, row.s, row.i8, row.i2, row.f8) == (3, "5", 3, 2, 1.5)
    assert int(row.h) == 12
    # parameterized VARCHAR(n) is valid Spark and stays untouched
    assert "VARCHAR(10)" in rewrite("SELECT x::VARCHAR(10) // 2 FROM t")


def test_r11_probe_catches_wave2(spark):
    """Second differential probe wave: boundary-crossing date_diff,
    the datediff alias, to_hex/array_to_string/str_split_regex, and
    the 4-argument regexp_replace 'g' form."""
    from scratchdata_spark.dialect import register_compat_functions

    register_compat_functions(spark)
    # DuckDB date_diff counts part boundaries CROSSED, not complete
    # intervals: Jan 15 -> Mar 1 is TWO month boundaries (the old
    # timestampdiff bridge said 1 — silently wrong)
    row = spark.sql(
        rewrite(
            "SELECT date_diff('month', DATE '2024-01-15', DATE '2024-03-01') AS m,"
            " date_diff('year', DATE '2023-12-31', DATE '2024-01-01') AS y,"
            " datediff('hour', TIMESTAMP '2024-01-01 00:59:00',"
            "          TIMESTAMP '2024-01-01 01:01:00') AS h,"
            " date_diff('day', DATE '2024-01-01', DATE '2024-01-31') AS d"
        )
    ).collect()[0]
    assert (row.m, row.y, row.h, row.d) == (2, 1, 1, 30)
    row = spark.sql(
        rewrite(
            "SELECT to_hex(255) AS h, array_to_string([1,2,3], '-') AS a,"
            " str_split_regex('a1b2c', '[0-9]') AS sp,"
            " regexp_replace('aaa', 'a', 'b', 'g') AS rr"
        )
    ).collect()[0]
    assert (row.h, row.a, row.sp, row.rr) == ("FF", "1-2-3", ["a", "b", "c"], "bbb")
    # non-'g' option sets refuse loudly with the fix named
    with pytest.raises(DialectError, match="regexp_replace options"):
        rewrite("SELECT regexp_replace('aAa', 'a', 'b', 'gi')")
    # a nested 3-arg call followed by an outer literal must not lose
    # the literal to the flag rewrite (depth-0 comma-count guard)
    kept = rewrite("SELECT foo(regexp_replace(a, 'p', 'r'), 'g') // 2")
    assert "'g'" in kept and "regexp_replace(a, 'p', 'r')" in kept


def test_r11_probe_catches_wave3(spark):
    """Third probe wave: match-operator family, ordered first/last,
    guarded json_extract_string."""
    from scratchdata_spark.dialect import register_compat_functions

    register_compat_functions(spark)
    spark.createDataFrame(
        [(1, "alpha", 10), (2, "beta", 20), (3, "abc", 30)],
        "id long, g string, v long",
    ).createOrReplaceTempView("t_w3")
    # ~ / !~ are DuckDB's FULL regex match (SIMILAR TO) — the literal
    # pattern anchors, so 'a' alone matches nothing and 'a.*' matches
    # whole strings only; ~~ family is LIKE/ILIKE
    got = spark.sql(
        rewrite("SELECT id FROM t_w3 WHERE g ~ 'a.*' AND v // 1 > 5 ORDER BY id")
    ).collect()
    assert [r.id for r in got] == [1, 3]
    got = spark.sql(
        rewrite("SELECT id FROM t_w3 WHERE g ~ 'a' AND v // 1 > 5")
    ).collect()
    assert got == []  # full match: 'a' != 'alpha'
    got = spark.sql(
        rewrite("SELECT id FROM t_w3 WHERE g !~ 'a.*' AND 1 // 1 = 1")
    ).collect()
    assert [r.id for r in got] == [2]
    # non-literal regex pattern refuses with the compat function named
    with pytest.raises(DialectError, match="regexp_full_match"):
        rewrite("SELECT id FROM t_w3 WHERE g ~ other_col AND 1 // 1 = 1")
    # the compat function itself is registered and full-matches
    row = spark.sql(
        rewrite(
            "SELECT regexp_full_match('alpha', 'a.*') AS full,"
            " regexp_full_match('alpha', 'a') AS partial, 1 // 1 AS d"
        )
    ).collect()[0]
    assert row.full is True and row.partial is False
    assert " ILIKE " in rewrite("SELECT 'A' ~~* 'a%' // 1")
    assert " NOT LIKE " in rewrite("SELECT g !~~ 'a%' FROM t // 1")
    # prefix bitwise ~ never matches the infix rewrite
    assert "~5" in rewrite("SELECT ~5 // 2")
    # ~* is not a DuckDB operator either (probed r13): refusal
    # mirrors DuckDB's own error, with the portable fix named
    with pytest.raises(DialectError, match="case-insensitive"):
        rewrite("SELECT g ~* 'A' FROM t // 1")
    # ordered first/last map to min_by/max_by
    row = spark.sql(
        rewrite(
            "SELECT first(v ORDER BY id) AS f, last(v ORDER BY id) AS l,"
            " first(v ORDER BY id DESC) AS fd FROM t_w3"
        )
    ).collect()[0]
    assert (row.f, row.l, row.fd) == (10, 30, 30)
    # json_extract_string bridges for $-paths, refuses others;
    # json_extract refuses with the quoting rationale
    row = spark.sql(
        rewrite(
            'SELECT json_extract_string(\'{"a": "x"}\', \'$.a\') AS j,'
            " 3 // 2 AS d"
        )
    ).collect()[0]
    assert row.j == "x" and row.d == 1
    with pytest.raises(DialectError, match="only.*paths map"):
        rewrite("SELECT json_extract_string(j, 'a') FROM t // 1")
    with pytest.raises(DialectError, match="json_extract"):
        rewrite("SELECT json_extract(j, '$.a') FROM t // 1")


def test_quantified_comparisons_bridge_or_refuse():
    # = ANY/SOME → IN, <> / != ALL → NOT IN (exact per the standard;
    # probed on hit/miss/empty/NULL edges in the differential battery)
    assert rewrite("SELECT 1 = ANY (SELECT v FROM s)") == (
        "SELECT 1  IN (SELECT v FROM s)"
    )
    assert rewrite("SELECT 1 = SOME (SELECT v FROM s)") == (
        "SELECT 1  IN (SELECT v FROM s)"
    )
    assert rewrite("SELECT 1 <> ALL (SELECT v FROM s)") == (
        "SELECT 1  NOT IN (SELECT v FROM s)"
    )
    assert rewrite("SELECT 1 != ALL (SELECT v FROM s)") == (
        "SELECT 1  NOT IN (SELECT v FROM s)"
    )
    # ordered quantifiers have no faithful rewrite — loud, with the
    # manual EXISTS forms named; >= must not half-match as "= ANY"
    for bad in (
        "SELECT 1 > ANY (SELECT v FROM s)",
        "SELECT 1 >= ANY (SELECT v FROM s)",
        "SELECT 1 < ALL (SELECT v FROM s)",
        "SELECT 1 <= SOME (SELECT v FROM s)",
    ):
        with pytest.raises(DialectError, match="quantified comparisons"):
            rewrite(bad)
    # a literal containing '= ANY (' is untouched
    assert "= ANY (" in rewrite("SELECT '= ANY (x)' AS s ~ 'a'")


def test_from_first_statements():
    assert rewrite("FROM t") == "SELECT * FROM t"
    assert rewrite("FROM t SELECT a, b") == "SELECT a, b FROM t"
    assert rewrite("FROM t SELECT a WHERE b > 1 LIMIT 2") == (
        "SELECT a FROM t WHERE b > 1 LIMIT 2"
    )
    # a literal spelling SELECT cannot split the statement
    assert rewrite("FROM t WHERE s = 'x SELECT y'") == (
        "SELECT * FROM t WHERE s = 'x SELECT y'"
    )
    # subquery SELECT is depth-1: bare FROM over it still bridges
    assert rewrite("FROM (SELECT 1 AS a) q") == (
        "SELECT * FROM (SELECT 1 AS a) q"
    )
    with pytest.raises(DialectError, match="COLUMNS"):
        rewrite("SELECT COLUMNS('a.*') FROM t")


def test_bridge_call_semantics_power():
    from scratchdata_spark.dialect import bridge_call_semantics as b

    # left-assoc, unary minus binds tighter, * binds looser (probed)
    assert b("SELECT 2 ^ 3 ^ 2") == "SELECT power(power(2, 3), 2)"
    assert b("SELECT -2 ^ 2") == "SELECT power(-2, 2)"
    assert b("SELECT a - 2 ^ 2 FROM t") == "SELECT a - power(2, 2) FROM t"
    assert b("SELECT 2 * 3 ^ 2") == "SELECT 2 * power(3, 2)"
    assert b("SELECT 2 ^ -1") == "SELECT power(2, -1)"
    assert b("SELECT abs(-2) ^ x.y[1]") == "SELECT power(abs(-2), x.y[1])"
    assert b("SELECT 2.5e-3 ^ 2") == "SELECT power(2.5e-3, 2)"
    assert b("SELECT x::int ^ 2") == "SELECT power(x::int, 2)"
    # ^@ (starts_with) and masked segments are never power
    assert b("SELECT a ^@ b") == "SELECT a ^@ b"
    assert b("SELECT '^' || c ^ 2 FROM t") == (
        "SELECT '^' || power(c, 2) FROM t"
    )
    assert b("-- a ^ b\nSELECT 1") == "-- a ^ b\nSELECT 1"
    with pytest.raises(DialectError, match="power"):
        b("SELECT 2 ^ CASE WHEN a THEN 1 ELSE 2 END")


def test_bridge_call_semantics_calls():
    from scratchdata_spark.dialect import bridge_call_semantics as b

    assert b("SELECT trim('xxhixx', 'x')") == (
        "SELECT trim(BOTH 'x' FROM 'xxhixx')"
    )
    assert b("SELECT ltrim(s, 'x') FROM t") == (
        "SELECT trim(LEADING 'x' FROM s) FROM t"
    )
    assert b("SELECT rtrim(s, c)") == "SELECT trim(TRAILING c FROM s)"
    # 1-arg and keyword forms pass through
    assert b("SELECT rtrim(s)") == "SELECT rtrim(s)"
    assert b("SELECT trim(BOTH 'x' FROM s)") == "SELECT trim(BOTH 'x' FROM s)"
    # nested 2-arg forms both bridge
    assert b("SELECT trim(trim(a, b), c)") == (
        "SELECT trim(BOTH c FROM trim(BOTH b FROM a))"
    )
    # the pattern literal additionally carries the RE2→Java
    # translation ((?d) = UNIX_LINES: Java's line-terminator set
    # shrinks to \n, matching RE2's — r13 regex-dialect wave)
    assert b("SELECT regexp_extract(s, 'p') FROM t") == (
        "SELECT regexp_extract(s, '(?d)p', 0) FROM t"
    )
    assert b("SELECT regexp_extract(s, 'p', 1)") == (
        "SELECT regexp_extract(s, '(?d)p', 1)"
    )
    assert b("SELECT regexp_extract_all(s, 'p')") == (
        "SELECT regexp_extract_all(s, '(?d)p', 0)"
    )
    # a non-literal pattern cannot be translated: the 2-arg group
    # default still applies, the 3-arg form passes through
    assert b("SELECT regexp_extract(s, p) FROM t") == (
        "SELECT regexp_extract(s, p, 0) FROM t"
    )
    assert b("SELECT regexp_extract(s, p, 1)") == (
        "SELECT regexp_extract(s, p, 1)"
    )
    assert b("SELECT log(x)") == "SELECT log10(x)"
    assert b("SELECT log(2, x)") == "SELECT log(2, x)"
    assert b("SELECT dialog(x)") == "SELECT dialog(x)"  # word boundary


def test_bridge_regexp_replace():
    from scratchdata_spark.dialect import bridge_call_semantics as b

    # 3-arg = first occurrence, inlined as the foldable expression
    # (a SQL UDF call cannot live in inline VALUES tables — r13)
    out = b("SELECT regexp_replace(s, 'p', 'r') FROM t")
    assert "regexp_instr((s), ('(?d)p'))" in out and "\x01" not in out
    # RE2 rewrite syntax -> Java in the replacement literal
    assert "'<$1>'" in b(r"SELECT regexp_replace(s, '(a)', '<\1>')")
    # 'g' now folds to Spark's native all-occurrence replace at the
    # pre-parse boundary (r13 regex wave) — no fallback needed
    assert b(r"SELECT regexp_replace(s, '(a)', '<\1>', 'g')") == (
        "SELECT regexp_replace(s, '(?d)(a)', '<$1>')"
    )
    # an 'i' flag folds into the pattern as (?i)
    assert b("SELECT regexp_replace(s, 'p', 'r', 'gi')") == (
        "SELECT regexp_replace(s, '(?i)(?d)p', 'r')"
    )
    assert r"'100\$'" in b("SELECT regexp_replace(s, 'p', '100$')")
    # Spark's position form (non-literal 4th arg) is left whole
    assert b("SELECT regexp_replace(s, 'p', 'r', 2)") == (
        "SELECT regexp_replace(s, 'p', 'r', 2)"
    )
    # non-literal replacement still gets first-occurrence semantics
    assert "regexp_instr((s), ('(?d)p'))" in b(
        "SELECT regexp_replace(s, 'p', other)"
    )
    # nested: each call bridged exactly once (no double transform)
    nested = b(
        r"SELECT regexp_replace(regexp_replace(a, 'x', '\1'), 'p', '\2', 'g')"
    )
    assert "'$1'" in nested and "'$2'" in nested
    assert nested.count("regexp_instr") == 2  # inner template only
    # invalid RE2 escape: DuckDB silently no-ops — we refuse loudly
    with pytest.raises(DialectError, match="invalid RE2 escape"):
        b(r"SELECT regexp_replace(s, 'p', 'a\qb')")


def test_prepare_query_text_composition():
    from scratchdata_spark.dialect import prepare_query_text as p

    # the call bridge runs FIRST (DuckDB literal spelling), then the
    # literal pass doubles any backslash it emitted
    assert "'\\\\$x'" in p("SELECT regexp_replace(s, 'p', '$x')")
    assert p(r"SELECT regexp_extract(s, '\d+')") == (
        r"SELECT regexp_extract(s, '(?d)\\d+', 0)"
    )


def test_expand_columns_macro():
    from scratchdata_spark.dialect import expand_columns_macro as ex

    cols = {"t": ["id", "name", "val", "score"]}
    r = cols.get
    assert ex("SELECT COLUMNS(*) FROM t", r) == (
        "SELECT id AS id, name AS name, val AS val, score AS score FROM t"
    )
    assert ex("SELECT min(COLUMNS('val|score')) FROM t", r) == (
        "SELECT min(val) AS val, min(score) AS score FROM t"
    )
    assert ex("SELECT COLUMNS(* EXCLUDE (name)) FROM t ORDER BY id", r) == (
        "SELECT id AS id, val AS val, score AS score FROM t ORDER BY id"
    )
    assert ex(
        "SELECT id, max(COLUMNS('^s')) FROM t GROUP BY id", r
    ) == "SELECT id, max(score) AS score FROM t GROUP BY id"
    # the regex is a SEARCH, not a full match (DuckDB probe)
    assert "val" in ex("SELECT COLUMNS('al') FROM t", r)
    # unresolvable shapes pass through unchanged (guard refuses later)
    for shape in (
        "SELECT COLUMNS(*) FROM (SELECT 1) q",
        "SELECT COLUMNS(*) FROM t JOIN u ON t.id = u.id",
        "SELECT COLUMNS(*) FROM t UNION SELECT COLUMNS(*) FROM t",
        "SELECT id FROM t WHERE COLUMNS('x') IS NULL",
        "SELECT COLUMNS(*) FROM unknown_table",
    ):
        assert ex(shape, r) == shape
    # modeled-but-wrong shapes refuse loudly
    with pytest.raises(DialectError, match="no matching columns"):
        ex("SELECT COLUMNS('zzz') FROM t", r)
    with pytest.raises(DialectError, match="lambda"):
        ex("SELECT COLUMNS(c -> c LIKE 'v%') FROM t", r)
    with pytest.raises(DialectError, match="alias"):
        ex("SELECT min(COLUMNS(*)) AS x FROM t", r)
    # a literal spelling COLUMNS( is untouched
    sql = "SELECT 'COLUMNS(*)' AS s FROM t"
    assert ex(sql, r) == sql


def test_from_first_set_ops_and_subqueries():
    # r13 probe: Spark accepts the Hive FROM-first form natively, so
    # these only reach the rewriter when another token fails — the
    # old single-cut reorder then corrupted the set-op statement
    assert rewrite("FROM t SELECT id UNION ALL FROM t SELECT id") == (
        "SELECT id FROM t UNION ALL SELECT id FROM t"
    )
    assert rewrite("SELECT * FROM (FROM t WHERE id = 1) s") == (
        "SELECT * FROM (SELECT * FROM t WHERE id = 1) s"
    )
    assert rewrite("FROM (FROM t) q SELECT count(*) AS n") == (
        "SELECT count(*) AS n FROM (SELECT * FROM t) q"
    )
    # '* EXCEPT (a)' select-list modifier is not a split point
    assert "EXCEPT" in rewrite(
        "FROM t SELECT * EXCLUDE (arr) WHERE id < 3"
    )


def test_format_spec_subset():
    out = rewrite("SELECT format('{:>8}', 'x')")
    assert "'%8s'" in out and "AS STRING" in out
    out = rewrite("SELECT format('{:.2f}', 3.14)")
    assert "'%.2f'" in out and "AS DOUBLE" in out
    out = rewrite("SELECT format('{1} {0}', 'a', 'b')")
    assert "'%2$s %1$s'" in out
    # bare width on an unknown type refuses (fmtlib aligns strings
    # left, numbers right — untypeable in a text rewrite)
    with pytest.raises(DialectError, match="untypeable"):
        rewrite("SELECT format('{:8}', 'x')")
    with pytest.raises(DialectError, match="format"):
        rewrite("SELECT format('{} {}', 1)")  # arg-count mismatch


def test_json_keys_pointer_path_refuses():
    with pytest.raises(DialectError, match="JSON-pointer"):
        rewrite("SELECT json_keys(j, '/a/0') FROM t")


def test_list_aggregate_bridge():
    out = rewrite("SELECT list_aggregate(arr, 'sum') // 1 FROM t")
    assert "list_sum(arr)" in out  # the NULL-exact compat function
    assert "array_min(arr)" in rewrite(
        "SELECT list_aggr(arr, 'min') // 1 FROM t"
    )
    assert "array_join" in rewrite(
        "SELECT list_aggregate(arr, 'string_agg', '-') // 1 FROM t"
    )
    # the bare `aggregate` alias never touches Spark's HOF shape
    hof = "SELECT aggregate(arr, '', (a, x) -> concat(a, x)) // 1 FROM t"
    assert "aggregate(arr, ''" in rewrite(hof)
    with pytest.raises(DialectError, match="list_aggregate"):
        rewrite("SELECT list_aggregate(arr, 'median') // 1 FROM t")


def test_re2_pattern_to_java():
    from scratchdata_spark.dialect import re2_pattern_to_java as t

    # (?d) = UNIX_LINES is always prepended: Java's line-terminator
    # set shrinks to \n, matching RE2's
    assert t("abc") == "(?d)abc"
    assert t("[[:digit:]]+") == "(?d)[\\p{Digit}]+"
    assert t("[^[:digit:]]") == "(?d)[^\\p{Digit}]"
    assert t("[[:^digit:]]") == "(?d)[\\P{Digit}]"
    assert t("[[:word:]][[:^word:]]") == "(?d)[\\w][\\W]"
    # $ = end of text in RE2 (Java's also matches before a trailing
    # newline) — except under an inline multiline flag
    assert t("abc$") == "(?d)abc\\z"
    assert t(r"a\$") == "(?d)a\\$"
    assert t("(?m)^b$") == "(?d)(?m)^b$"
    assert t("[$]") == "(?d)[$]"
    # octal escapes (Java would read a backreference)
    assert t(r"\101") == "(?d)\\0101"
    assert t(r"\11x") == "(?d)\\011x"
    # invalid-quantifier braces are literal in RE2
    assert t("a{,3}") == "(?d)a\\{,3}"
    assert t("a{2,3}b{") == "(?d)a{2,3}b\\{"
    # named groups, literal class brackets/ampersands, \Q..\E
    assert t("(?P<d>[0-9])") == "(?d)(?<d>[0-9])"
    assert t("[a[b]") == "(?d)[a\\[b]"
    assert t("[a&&b]") == "(?d)[a\\&\\&b]"
    assert t(r"\Qa.{b\E$") == "(?d)\\Qa.{b\\E\\z"
    # loud refusals mirror DuckDB's own errors (or name the silent
    # Java divergence)
    for bad in (r"\8", "(?U)a", "[[:foo:]]", "[[:digit"):
        with pytest.raises(DialectError):
            t(bad)


def test_fold_regexp_options():
    from scratchdata_spark.dialect import _fold_regexp_options as f

    assert f("abc", "i") == ("(?i)(?d)abc", False)
    # i/c toggle case sensitivity LAST-WINS (probed: 'ic' is
    # sensitive, 'ci' insensitive)
    assert f("abc", "ic") == ("(?d)abc", False)
    assert f("abc", "ci") == ("(?i)(?d)abc", False)
    assert f("a.b", "s") == ("(?s)(?d)a.b", False)
    assert f("a.b", "m") == ("(?d)a.b", False)  # the default mode
    assert f("a.b", "l") == ("\\Qa.b\\E", False)
    assert f("a.b", "li") == ("(?i)\\Qa.b\\E", False)
    assert f("p", "g", replace=True) == ("(?d)p", True)
    with pytest.raises(DialectError, match="'g'"):
        f("p", "g")  # g outside regexp_replace
    with pytest.raises(DialectError, match="option"):
        f("p", "z")


def test_regexp_pattern_bridge_shapes():
    from scratchdata_spark.dialect import bridge_call_semantics as b

    # options folding removes the argument pre-parse
    assert b("SELECT regexp_matches(s, 'a', 'i')") == (
        "SELECT regexp_matches(s, '(?i)(?d)a')"
    )
    assert b("SELECT regexp_extract(s, 'a', 1, 'i')") == (
        "SELECT regexp_extract(s, '(?i)(?d)a', 1)"
    )
    assert b("SELECT str_split_regex(s, 'a')") == (
        "SELECT split(s, '(?d)a')"
    )
    assert b("SELECT regexp_split_to_array(s, 'a', 'i')") == (
        "SELECT split(s, '(?i)(?d)a')"
    )
    # ~ / !~ literal patterns translate and anchor \A..\z pre-parse
    assert b("SELECT g ~ 'a.' FROM t") == (
        "SELECT g RLIKE '\\A(?:(?d)a.)\\z' FROM t"
    )
    assert b("SELECT g !~ 'a' FROM t") == (
        "SELECT g NOT RLIKE '\\A(?:(?d)a)\\z' FROM t"
    )
    # the LIKE-family operators are untouched here (fallback bridges)
    assert b("SELECT g ~~ 'a%' FROM t") == "SELECT g ~~ 'a%' FROM t"
    assert b("SELECT g !~~ 'a%'") == "SELECT g !~~ 'a%'"
    # non-literal pattern with an options argument refuses loudly
    with pytest.raises(DialectError, match="literal pattern"):
        b("SELECT regexp_matches(s, p, 'i')")
    # named-list extract expands to a struct of group extracts
    out = b("SELECT regexp_extract(s, '(a)(b)', ['x', 'y'])")
    assert out.startswith("SELECT named_struct('x', regexp_extract(")
    assert ", 2))" in out and "\x01" not in out


def test_scalar_shape_bridges():
    from scratchdata_spark.dialect import bridge_call_semantics as b

    # concat: every argument coalesces its string cast (NULL-skip)
    assert b("SELECT concat(a, b)") == (
        "SELECT concat(coalesce(CAST((a) AS STRING), ''),"
        " coalesce(CAST((b) AS STRING), ''))"
    )
    # left/right: provably non-negative literal counts pass through
    assert b("SELECT left(s, 2)") == "SELECT left(s, 2)"
    assert b("SELECT right(s, 0)") == "SELECT right(s, 0)"
    assert "greatest(length((s)) + (-2), 0)" in b("SELECT left(s, -2)")
    assert "greatest(length((s)) + (n), 0)" in b("SELECT right(s, n)")
    # substring: provably in-range literals pass through
    assert b("SELECT substring(s, 1, 3)") == "SELECT substring(s, 1, 3)"
    assert b("SELECT substr(s, 2)") == "SELECT substr(s, 2)"
    assert "least(" in b("SELECT substring(s, 0, 3)")
    assert "greatest(" in b("SELECT substring(s, i, 3)")
    # the keyword form is untouched (one argument after the split)
    assert b("SELECT substring(s FROM 2 FOR 3)") == (
        "SELECT substring(s FROM 2 FOR 3)"
    )
    # list_slice spells Spark's slice; the STEP form refuses
    out = b("SELECT list_slice(l, 2, 3)")
    assert out.startswith("SELECT slice((l), ")
    with pytest.raises(DialectError, match="STEP"):
        b("SELECT list_slice(l, 1, 5, 2)")


def test_by_name_guard_is_setop_scoped():
    # r13 verify-drive catch: a column literally named "name" made
    # every fallback query with ORDER/GROUP BY name refuse as a
    # BY NAME set operator
    out = rewrite("SELECT name, list_grade_up(a) AS g FROM t ORDER BY name")
    assert "ORDER BY name" in out
    rewrite("SELECT v FROM t GROUP BY name // 1")  # no refusal
    with pytest.raises(DialectError, match="BY NAME"):
        rewrite("SELECT a FROM t UNION BY NAME SELECT b FROM u // 1")
    with pytest.raises(DialectError, match="BY NAME"):
        rewrite("SELECT a FROM t UNION ALL BY NAME SELECT b FROM u // 1")


def test_columns_macro_re2_pattern_dialect():
    from scratchdata_spark.dialect import expand_columns_macro as ex

    cols = {"w": ["a1", "a2", "bx", "nm"]}
    r = cols.get
    # POSIX classes are RE2 (DuckDB probe: COLUMNS('a[[:digit:]]')
    # selects a1, a2) — Python re would read a literal class
    assert ex("SELECT COLUMNS('a[[:digit:]]') FROM w", r) == (
        "SELECT a1 AS a1, a2 AS a2 FROM w"
    )
    # RE2's $ is end of text; 'x$' selects only bx
    assert ex("SELECT COLUMNS('x$') FROM w", r) == (
        "SELECT bx AS bx FROM w"
    )
    with pytest.raises(DialectError, match="POSIX"):
        ex("SELECT COLUMNS('[[:nope:]]') FROM w", r)
    with pytest.raises(DialectError, match="negated"):
        ex("SELECT COLUMNS('[[:^digit:]]') FROM w", r)


def test_frame_exclude_guard():
    # NO OTHERS (the default) drops; real exclusions refuse loudly
    out = rewrite(
        "SELECT sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING AND"
        " 1 FOLLOWING EXCLUDE NO OTHERS) FROM t // 1"
    )
    assert "EXCLUDE" not in out.upper()
    with pytest.raises(DialectError, match="EXCLUDE"):
        rewrite(
            "SELECT sum(v) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING"
            " AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t // 1"
        )
    # the star-EXCLUDE projection form is untouched by the guard
    assert "EXCEPT" in rewrite("SELECT * EXCLUDE (v) FROM t // 1")


def test_local_result_df_values_relation(spark, caplog):
    """local_result_df renders driver-built rows as a VALUES
    LocalRelation (no-job collect), pinning types, NULLs, reserved
    names, and escaping; empty row sets fold to an empty relation;
    a value outside the vocabulary falls back with a WARNING."""
    from scratchdata_spark.dialect import local_result_df

    df = local_result_df(
        spark,
        [("a's \\ path\nx", None, True, 7), ("plain", "v", False, None)],
        "name string, `default` string, flag boolean, n bigint",
    )
    assert getattr(df, "_sd_local_result", False)
    # the ANALYZED plan keeps a Project over the LocalRelation (so
    # isLocal() is false), but the EXECUTED plan is LocalTableScan,
    # whose executeCollect returns rows without submitting a job
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "string", "boolean", "bigint"
    ]
    rows = [tuple(r) for r in df.collect()]
    assert rows == [
        ("a's \\ path\nx", None, True, 7), ("plain", "v", False, None)
    ]

    empty = local_result_df(spark, [], "name string, n int")
    assert "LocalTableScan" in empty._jdf.queryExecution().executedPlan().toString()
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "string", "int"
    ]

    # values outside the literal vocabulary fall back to
    # createDataFrame — correct rows, just not a LocalRelation — and
    # say so in one WARNING naming the value type and the DDL
    import datetime
    import logging

    with caplog.at_level(logging.WARNING, logger="scratchdata_spark.dialect"):
        fb = local_result_df(
            spark, [(datetime.date(2026, 1, 2),)], "d date"
        )
    assert getattr(fb, "_sd_local_result", False)
    assert [tuple(r) for r in fb.collect()] == [(datetime.date(2026, 1, 2),)]
    warned = [
        r for r in caplog.records if r.name == "scratchdata_spark.dialect"
    ]
    assert [r.levelno for r in warned] == [logging.WARNING]
    assert "date" in warned[0].getMessage()
    assert "'d date'" in warned[0].getMessage()


_LR_DDL = "s string, d double, i bigint, b boolean, v array<double>"
_lr_doubles = st.one_of(
    st.floats(),
    st.sampled_from(
        [-0.0, 5e-324, -5e-324, 2.2250738585072009e-308, float("nan"),
         float("inf"), float("-inf"), 0.1, 1e300]
    ),
)
_lr_strings = st.one_of(
    st.text(max_size=12),
    st.sampled_from(
        ["a\\db", "it's", "\\'", "${env:HOME}", "${spark.app.name}",
         "\x00\n\t\r\x1b\x7f", "ü€😀", "-- x /* y */", ""]
    ),
)
_lr_rows = st.lists(
    st.tuples(
        st.none() | _lr_strings,
        st.none() | _lr_doubles,
        st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.none() | st.booleans(),
        st.none() | st.lists(st.none() | _lr_doubles, max_size=4),
    ),
    max_size=4,
)


def _lr_bits(v):
    """Doubles by their IEEE-754 bytes (so -0.0 != 0.0); NaN as one
    value, since repr — and Spark — carry no NaN payload."""
    if isinstance(v, float):
        return struct.pack("<d", v) if v == v else "nan"
    if isinstance(v, list):
        return [_lr_bits(x) for x in v]
    return v


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_lr_rows)
def test_local_result_df_matches_create_data_frame(spark, rows):
    """For any rows over the renderer's vocabulary, local_result_df
    gives the column types and the exact values of
    createDataFrame(rows, ddl) — doubles bit for bit — and plans as
    LocalTableScan, i.e. it never fell back."""
    from scratchdata_spark.dialect import local_result_df

    df = local_result_df(spark, rows, _LR_DDL)
    ref = spark.createDataFrame(rows, _LR_DDL)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = [[_lr_bits(v) for v in r] for r in df.collect()]
    want = [[_lr_bits(v) for v in r] for r in ref.collect()]
    assert got == want
