"""Query inventory: every SURVEY.md §2.B category as a (Spark, oracle-SQL)
pair, exercised by the driver's DuckDB hash-compare at sf0.01.

Determinism rules (both engines must produce bit-identical value sets):

* double aggregations go through ``CAST(x AS DECIMAL)`` before SUM —
  decimal addition is exact, so partition order can't change the
  result; the final value casts back to DOUBLE.
* outputs never contain raw timestamps (TIMESTAMP_NTZ vs TIMESTAMP
  naming drift) — epoch micros / DATE / formatted strings instead.
* DuckDB widens where Spark doesn't (sum(int)→HUGEINT, year()→BIGINT,
  row_number()→BIGINT): oracle SQL casts back to Spark's type.
* every window ORDER BY includes a unique tiebreak column; every
  LIMIT has a total order underneath.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
the oracle is ANSI SQL DuckDB runs against the same parquet (views
pre-registered by the driver). Entries with ``oracle=None`` are
non-SQL-expressible (approx sketches, sampling) and get the driver's
rows-only check.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# name -> (spark_fn, oracle_sql_or_None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


_LOAD_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def session_key(spark: SparkSession) -> str:
    """Stable cache key for a session: its UUID, not ``id()`` (which
    the allocator can reuse after a stopped session is GC'd)."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:  # pragma: no cover - connect-mode fallback
        return str(id(spark))


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the star schema; also registers temp views for spark.sql use.

    Cached per (session, sf_dir): parquet footer reads + view
    registration cost ~1 s for 10 tables — pure fixed overhead when
    every inventory query re-enters here.
    """
    key = (session_key(spark), sf_dir)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    # Older testdata drops used TIMESTAMP(NANOS); without this flag that
    # scan fails with PARQUET_TYPE_ILLEGAL. Safe to set on any session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "events":
            # Normalize events.ts to epoch MICROS long regardless of the
            # generator's physical type (timezone-independent, matches
            # DuckDB epoch_us(ts)): TIMESTAMP(NANOS) arrives as BIGINT
            # nanos under nanosAsLong; timestamp[us] arrives as
            # TIMESTAMP_NTZ (session TZ is UTC, so the cast is identity).
            ts_type = dict(df.dtypes)["ts"]
            if ts_type == "bigint":
                df = df.withColumn("ts", F.expr("ts DIV 1000"))
            else:
                df = df.withColumn(
                    "ts", F.expr("unix_micros(cast(ts as timestamp))")
                )
        df.createOrReplaceTempView(t)
        out[t] = df
    _LOAD_CACHE[key] = out
    return out


# ---- deterministic numeric helpers ------------------------------------


def dsum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent SUM of a double: exact decimal accumulation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(18,{scale})")).cast("double") / F.count(c)
    ).alias(alias)


def OSUM(expr: str, alias: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def OAVG(expr: str, alias: str, scale: int = 2) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def us(col: str) -> Column:
    """events.ts is already epoch micros after load() — identity."""
    return F.col(col)


# ======================================================================
# Scan / aggregation (TPC-H flavored)
# ======================================================================


@q(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {OSUM('l_quantity', 'sum_qty')},
           {OSUM('l_extendedprice', 'sum_base_price')},
           {OSUM('l_extendedprice * (1 - l_discount)', 'sum_disc_price', 4)},
           {OSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 6)},
           {OAVG('l_quantity', 'avg_qty')},
           {OAVG('l_extendedprice', 'avg_price')},
           {OAVG('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: full scan + hash agg. Catalyst does map-side
    partial aggregation; the scan prunes to 7 of 11 columns."""
    l = load(spark, sf_dir)["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc, "sum_disc_price", 4),
            dsum(charge, "sum_charge", 6),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q02_filter_predicates",
    """
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 30
      AND p_type IN ('ECONOMY', 'PROMO', 'STANDARD')
      AND p_name LIKE '%a%'
      AND p_retailprice > 500.0
      AND p_brand IS NOT NULL
    """,
)
def q02(spark, sf_dir):
    p = load(spark, sf_dir)["part"]
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_type").isin("ECONOMY", "PROMO", "STANDARD")
        & F.col("p_name").like("%a%")
        & (F.col("p_retailprice") > 500.0)
        & F.col("p_brand").isNotNull()
    ).select("p_partkey", "p_name", "p_size", "p_retailprice")


@q(
    "q03_shipping_priority",
    f"""
    SELECT l_orderkey,
           {OSUM('l_extendedprice * (1 - l_discount)', 'revenue', 4)},
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    """,
)
def q03(spark, sf_dir):
    t = load(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-03-15")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1998-03-15")
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
    )


@q(
    "q05_local_supplier_volume",
    f"""
    SELECT n_name, {OSUM('l_extendedprice * (1 - l_discount)', 'revenue', 4)}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q05(spark, sf_dir):
    """Multi-way join: nation/region are broadcast (tiny dims); the
    big fact joins shuffle on their keys with AQE skew handling."""
    t = load(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
    )


@q(
    "q06_forecast_revenue",
    f"""
    SELECT {OSUM('l_extendedprice * l_discount', 'revenue', 4)},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q06(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"]
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", 4),
            F.count("*").alias("n_items"),
        )
    )


@q(
    "q_agg_basic",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           {OSUM('o_totalprice', 'total')},
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_basic(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum("o_totalprice", "total"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@q(
    "q_agg_stats",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
    )


@q(
    "q_count_distinct",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_count_distinct(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


@q("q_approx_count_distinct", None)  # HLL sketches differ across engines
def q_approx_count_distinct(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


@q("q_approx_quantile", None)  # approx sketch, engine-specific
def q_approx_quantile(spark, sf_dir):
    # Scalar columns, not array<double>: the driver's canonicalizer
    # sorts result cells and list cells are unhashable in pandas.
    l = load(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.25).cast("double").alias("p25"),
        F.percentile_approx("l_extendedprice", 0.5).cast("double").alias("p50"),
        F.percentile_approx("l_extendedprice", 0.75).cast("double").alias("p75"),
    )


@q(
    "q_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {OSUM('o_totalprice', 'total')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {OSUM('o_totalprice', 'total')}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@q(
    "q_rollup",
    f"""
    SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS order_year, o_orderstatus,
           COUNT(*) AS n, {OSUM('o_totalprice', 'total')}
    FROM orders
    GROUP BY ROLLUP (CAST(YEAR(o_orderdate) AS INTEGER), o_orderstatus)
    """,
)
def q_rollup(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice", "total"))
    )


@q(
    "q_cube",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {OSUM('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"]
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity", "sum_qty")
    )


# ======================================================================
# Joins
# ======================================================================


@q(
    "q_join_left",
    f"""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           {OSUM('o_totalprice', 'spend')}
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left(spark, sf_dir):
    t = load(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"), dsum("o_totalprice", "spend"))
    )


@q(
    "q_join_right",
    """
    SELECT o_orderkey, c_name
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal < -900
    """,
)
def q_join_right(spark, sf_dir):
    t = load(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "right")
        .filter(F.col("c_acctbal") < -900)
        .select("o_orderkey", "c_name")
    )


@q(
    "q_join_full_outer",
    """
    SELECT n.n_nationkey AS nationkey, n.n_name, s.s_suppkey, s.s_name
    FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
)
def q_join_full_outer(spark, sf_dir):
    t = load(spark, sf_dir)
    return (
        t["nation"]
        .join(t["supplier"], F.col("n_nationkey") == F.col("s_nationkey"), "full_outer")
        .select(
            F.col("n_nationkey").alias("nationkey"), "n_name", "s_suppkey", "s_name"
        )
    )


@q(
    "q_join_cross",
    """
    SELECT r_name, s AS o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS s FROM orders)
    """,
)
def q_join_cross(spark, sf_dir):
    t = load(spark, sf_dir)
    statuses = t["orders"].select(F.col("o_orderstatus").alias("s")).distinct()
    return t["region"].crossJoin(statuses).select("r_name", F.col("s").alias("o_orderstatus"))


@q(
    "q_join_semi",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)
def q_join_semi(spark, sf_dir):
    t = load(spark, sf_dir)
    big = t["lineitem"].filter(F.col("l_quantity") > 45)
    return (
        t["part"]
        .join(big, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name")
    )


@q(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
)
def q_join_anti(spark, sf_dir):
    t = load(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 300000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@q(
    "q_join_theta",
    """
    SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, n1.n_regionkey AS regionkey
    FROM nation n1 JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey AND n1.n_name < n2.n_name
    """,
)
def q_join_theta(spark, sf_dir):
    n = load(spark, sf_dir)["nation"]
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    return n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_name") < F.col("n2.n_name")),
    ).select(
        F.col("n1.n_name").alias("nation_a"),
        F.col("n2.n_name").alias("nation_b"),
        F.col("n1.n_regionkey").alias("regionkey"),
    )


@q(
    "q_join_asof",
    """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           c.event_id AS click_id, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark, sf_dir):
    """AS-OF join (no native Spark equivalent): union+window, one
    shuffle by user_id — see operators/asof.py for the scale analysis."""
    from scratchdata_spark.operators.asof import asof_join

    e = load(spark, sf_dir)["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        purchases, clicks, keys=["user_id"], left_ts="ts", right_ts="ts",
        tiebreak="click_id",
    )
    return joined.select(
        "purchase_id", "user_id", us("ts").alias("purchase_ts_us"),
        "click_id", "click_value",
    )


# ======================================================================
# Window functions
# ======================================================================


@q(
    "q_window_rank",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
           CAST(RANK() OVER w AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_rank(spark, sf_dir):
    c = load(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@q(
    "q_window_lag_lead",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag_lead(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


@q(
    "q_window_frame_rows",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total,
           CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS moving_avg3
    FROM orders
    """,
)
def q_window_frame_rows(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    w1 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w3 = Window.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec).over(w1).cast("double").alias("running_total"),
        F.avg(dec).over(w3).cast("double").alias("moving_avg3"),
    )


@q(
    "q_window_frame_range",
    """
    SELECT o_custkey, o_orderkey,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                          RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW)
             AS n_near
    FROM orders
    """,
)
def q_window_frame_range(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-5000, 0)
    return o.select(
        "o_custkey", "o_orderkey", F.count("*").over(w).alias("n_near")
    )


@q(
    "q_window_ntile",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS INTEGER)
             AS quartile
    FROM customer
    """,
)
def q_window_ntile(spark, sf_dir):
    c = load(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )


@q(
    "q_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Top-k per group = window + filter; Spark pushes the rank filter
    into the sort (WindowGroupLimit) so it never materializes full
    per-group sorts at scale."""
    o = load(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 3)
    )


@q(
    "q_qualify_latest",
    """
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q_qualify_latest(spark, sf_dir):
    """QUALIFY (DuckDB-ism) rewritten as subquery+filter (Spark has no
    QUALIFY): latest order per customer."""
    o = load(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate")
        )
    )


# ======================================================================
# Sort / limit / set ops / distinct
# ======================================================================


@q(
    "q_order_limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 5
    """,
)
def q_order_limit_offset(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(5)
        .limit(10)
    )


@q(
    "q_union_all",
    """
    SELECT user_id, event_type FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, event_type FROM events WHERE event_type = 'purchase'
    """,
)
def q_union_all(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    a = e.filter(F.col("event_type") == "click").select("user_id", "event_type")
    b = e.filter(F.col("event_type") == "purchase").select("user_id", "event_type")
    return a.unionAll(b)


@q(
    "q_union_distinct",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    UNION
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
)
def q_union_distinct(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "view").select("user_id")
    return a.union(b).distinct()


@q(
    "q_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_intersect(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@q(
    "q_except",
    """
    SELECT event_id FROM events WHERE value > 90
    EXCEPT
    SELECT event_id FROM events WHERE event_type = 'click'
    """,
)
def q_except(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    a = e.filter(F.col("value") > 90).select("event_id")
    b = e.filter(F.col("event_type") == "click").select("event_id")
    return a.subtract(b)  # EXCEPT (distinct set-minus)


@q(
    "q_distinct",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def q_distinct(spark, sf_dir):
    c = load(spark, sf_dir)["customer"]
    return c.select("c_mktsegment", "c_nationkey").distinct()


# ======================================================================
# Subqueries / CTE
# ======================================================================


@q(
    "q_scalar_subquery",
    """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
)
def q_scalar_subquery(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        """
    )


@q(
    "q_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      AND o_orderstatus = 'F'
    """,
)
def q_in_subquery(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
          AND o_orderstatus = 'F'
        """
    )


@q(
    "q_exists_correlated",
    """
    SELECT s_suppkey, s_name FROM supplier
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_suppkey = s_suppkey AND l_quantity >= 49
    )
    """,
)
def q_exists_correlated(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM supplier
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_suppkey = s_suppkey AND l_quantity >= 49
        )
        """
    )


@q(
    "q_cte",
    f"""
    WITH spend AS (
      SELECT o_custkey, {OSUM('o_totalprice', 'total_spend')}
      FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment, {OSUM('total_spend', 'segment_spend')}, COUNT(*) AS n_customers
    FROM spend JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def q_cte(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        f"""
        WITH spend AS (
          SELECT o_custkey, {OSUM('o_totalprice', 'total_spend')}
          FROM orders GROUP BY o_custkey
        )
        SELECT c_mktsegment, {OSUM('total_spend', 'segment_spend')}, COUNT(*) AS n_customers
        FROM spend JOIN customer ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """
    )


# ======================================================================
# Scalar functions
# ======================================================================


@q(
    "q_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_name) AS up,
           LOWER(p_brand) AS lo,
           SUBSTR(p_name, 1, 4) AS sub4,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           CONCAT_WS('-', p_brand, p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_us,
           REGEXP_EXTRACT(p_name, '^(\\w+)', 1) AS first_word_re,
           SPLIT_PART(p_name, ' ', 1) AS first_word,
           TRIM(CONCAT(' ', p_name, ' ')) AS trimmed,
           LPAD(p_brand, 10, '*') AS padded,
           CASE WHEN p_name LIKE 'small%' THEN 1 ELSE 0 END AS is_small
    FROM part
    """,
)
def q_string_funcs(spark, sf_dir):
    p = load(spark, sf_dir)["part"]
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 4).alias("sub4"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word_re"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.lpad("p_brand", 10, "*").alias("padded"),
        F.when(F.col("p_name").like("small%"), 1).otherwise(0).alias("is_small"),
    )


@q(
    "q_date_funcs",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS y,
           CAST(MONTH(o_orderdate) AS INTEGER) AS m,
           CAST(DAY(o_orderdate) AS INTEGER) AS d,
           CAST(QUARTER(o_orderdate) AS INTEGER) AS qtr,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
             AS days_since,
           STRFTIME(o_orderdate, '%Y-%m') AS ym,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    """,
)
def q_date_funcs(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.quarter(d).alias("qtr"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("plus30"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.last_day(d.cast("date")).alias("month_end"),
    )


@q(
    "q_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 0) AS price_round,
           ABS(l_extendedprice - 1000.0) AS price_dev,
           FLOOR(l_quantity / 7.0) AS qty_floor,
           CEIL(l_quantity / 7.0) AS qty_ceil,
           SQRT(l_quantity) AS qty_sqrt,
           LN(l_extendedprice) AS price_ln,
           LOG10(l_extendedprice) AS price_log10,
           POW(l_quantity, 2) AS qty_sq,
           l_orderkey % 7 AS key_mod,
           CAST(SIGN(l_extendedprice - 2000.0) AS INTEGER) AS price_sign
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def q_math_funcs(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") < 500)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_round"),
        F.abs(F.col("l_extendedprice") - 1000.0).alias("price_dev"),
        # DuckDB floor/ceil(double) stay double; Spark returns long — cast.
        F.floor(F.col("l_quantity") / 7.0).cast("double").alias("qty_floor"),
        F.ceil(F.col("l_quantity") / 7.0).cast("double").alias("qty_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.log(F.col("l_extendedprice")).alias("price_ln"),
        F.log10("l_extendedprice").alias("price_log10"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_extendedprice") - 2000.0).cast("int").alias("price_sign"),
    )


@q(
    "q_json_funcs",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           COUNT(*) AS n
    FROM events
    GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT)
    """,
)
def q_json_funcs(spark, sf_dir):
    """``from_json`` with an explicit schema, not ``get_json_object``:
    one Jackson parse per row into a typed struct (~8× faster here and
    the difference only grows with repeated ``$.path`` extractions —
    get_json_object re-parses the document per call).

    The parse sits ABOVE a fan-out of the projected ``props`` column
    (r14, guide §2.5 input skew / VERDICT r13 #4): the testdata
    parquet is single-row-group, so without it the whole Jackson
    parse runs on one core — 7.4× DuckDB's vectorized JSON at sf1.
    The round-robin exchange moves only the JSON strings being
    parsed; on a real many-split scan ``ensure_parallelism`` is a
    no-op."""
    from scratchdata_spark.operators import ensure_parallelism

    e = load(spark, sf_dir)["events"]
    return (
        ensure_parallelism(e.select("props"))
        .select(F.from_json("props", "k string").alias("j"))
        .select(F.col("j.k").cast("bigint").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q_case_cast",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 150000 THEN 'mid'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_disp,
           CAST(o_totalprice > 200000 AS INTEGER) AS is_large,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
    FROM orders
    """,
)
def q_case_cast(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 150000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_disp"
        ),
        (F.col("o_totalprice") > 200000).cast("int").alias("is_large"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_str"),
    )


# ======================================================================
# Pivot / unpivot / sampling
# ======================================================================

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@q(
    "q_pivot",
    """
    SELECT n_name,
           COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS "AUTOMOBILE",
           COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS "BUILDING",
           COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS "FURNITURE",
           COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS "HOUSEHOLD",
           COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS "MACHINERY"
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_pivot(spark, sf_dir):
    t = load(spark, sf_dir)
    joined = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        joined.groupBy("n_name")
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
        .na.fill(0, _SEGMENTS)
    )


@q(
    "q_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 200
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def q_unpivot(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") < 200)
    return l.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (metric, val)",
    )


@q(
    "q_sample_deterministic",
    """
    SELECT event_id, user_id, event_type FROM events WHERE event_id % 20 = 0
    """,
)
def q_sample_deterministic(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    return e.filter(F.col("event_id") % 20 == 0).select(
        "event_id", "user_id", "event_type"
    )


@q("q_tablesample", None)  # Bernoulli sampling: engine-specific RNG
def q_tablesample(spark, sf_dir):
    e = load(spark, sf_dir)["events"]
    return e.sample(fraction=0.1, seed=42).select("event_id", "user_id")


# ======================================================================
# Bench variants — natural double aggregates.
#
# The DECIMAL casts in the oracle-checked queries exist solely to make
# value hashes bit-identical across engines (order-independent exact
# accumulation). They cost ~4× on the agg hot path (sum over
# decimal(28,2) leaves Spark's long-backed fast path). The benchmark
# measures the queries as a user would write them — plain double sums,
# like the DuckDB baseline runs natively.
# ======================================================================

BENCH_VARIANTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def bench_variant(name: str):
    def deco(fn):
        BENCH_VARIANTS[name] = fn
        return fn

    return deco


@bench_variant("q01_pricing_summary")
def b_q01(spark, sf_dir):
    """SQL-text plan: one parse/analyze round trip instead of ~20 Py4J
    DataFrame-builder calls (the chain costs ~75 ms of pure driver-side
    latency per execution; the SQL path ~12 ms)."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               AVG(l_quantity) AS avg_qty,
               AVG(l_extendedprice) AS avg_price,
               AVG(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@bench_variant("q03_shipping_priority")
def b_q03(spark, sf_dir):
    """Un-hinted SQL plan (r14): the r6-era BROADCAST(customer,orders)
    hints were re-A/B'd under the honest protocol and LOSE at both
    measured scales — sf0.1 0.49 vs 0.42 s, synthesized sf1 1.38 vs
    1.28 s — because the broadcast BUILD of orders (a driver collect +
    relation build that grows with SF) costs more than the shuffle it
    replaces, and orders outgrows broadcast entirely at cluster scale
    (guide §3.1: broadcast the side that FITS).  The planner now
    chooses per-stats, as the registry version always did."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1998-03-15'
          AND l_shipdate > '1998-03-15'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        """
    )


@bench_variant("q05_local_supplier_volume")
def b_q05(spark, sf_dir):
    """Broadcast hints only on the TRUE dimension sides (r14):
    customer/orders scale with the data and their broadcast builds
    lose at sf1 (1.71 vs 1.40 s measured, honest protocol) and are a
    memory hazard at cluster scale; supplier/nation/region stay
    hinted — the measured winner at sf1, within noise at sf0.1."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(supplier), BROADCAST(nation), BROADCAST(region) */
               n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """
    )


@bench_variant("q06_forecast_revenue")
def b_q06(spark, sf_dir):
    l = load(spark, sf_dir)["lineitem"]
    return l.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@bench_variant("q_intersect")
def b_intersect(spark, sf_dir):
    """INTERSECT rewritten as broadcast semi-join + distinct: Spark
    plans INTERSECT as aggregate-both-sides + join (three shuffles);
    semi-joining against the broadcast purchase side then
    deduplicating the survivors keeps ONE shuffle, over the already
    semi-filtered ids. Same semantics (INTERSECT is distinct by
    definition); the broadcast is valid while one side's distinct ids
    fit an executor — at cluster scale AQE picks the same plan only
    when that holds, which is exactly when it should."""
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(b) */ DISTINCT a.user_id
        FROM (SELECT user_id FROM events WHERE event_type = 'click') a
        LEFT SEMI JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') b
        ON a.user_id = b.user_id
        """
    )


@bench_variant("q_grouping_sets")
def b_grouping_sets(spark, sf_dir):
    load(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               SUM(o_totalprice) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@bench_variant("q_window_frame_rows")
def b_window_frame_rows(spark, sf_dir):
    o = load(spark, sf_dir)["orders"]
    w1 = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w3 = Window.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w1).alias("running_total"),
        F.avg("o_totalprice").over(w3).alias("moving_avg3"),
    )


# ======================================================================
# Multi-row-group scan entries (r14, VERDICT r13 #5; guide §6).
#
# The testdata parquet is written as ONE row group per table, and
# parquet cannot split inside a row group — so every scan in the bench
# is a single task no matter the core count, and the driver's 8-vs-32
# core scaling measurement reads ≈1 everywhere: the bench produced NO
# parallelism evidence at all.  These entries run the SAME q01/q03/q05
# queries (same oracle SQL, same rows, hash-identical results) against
# a row-group-split copy of the inputs that the engine's own parquet
# sink writes ONCE per (sf_dir, mtime) under /tmp.
#
# This is a DATA-LAYOUT rewrite, not result caching: the copy contains
# the raw input rows only (no query results, no derived columns, no
# filters), exactly the layout any real ingest through the engine's
# sink would produce (the sink bounds rows per file; a 100 TB table is
# always many row groups).  The rewrite runs at plan-build time —
# outside the timed region — and is skipped when the copy is current.
# The split count derives from the SOURCE BYTE SIZE (~256 KB per
# file, capped at 64), never from the session's core count, so the
# 8-core and 32-core driver passes read byte-identical inputs.
# ======================================================================

_MRG_TABLES = ("lineitem", "orders", "customer", "supplier", "nation", "region")
# Only the PROBE side needs the split layout: the q01/q03/q05 plans
# broadcast every other table, and the scaling signal lives in the
# big-table scan's task count.  Splitting the broadcast sides too
# costs their build jobs a many-small-files scan for no signal (at
# synthesized sf1 the 64-file dimension scans made q03_mrg ~50%
# SLOWER than q03 — measured r14); they register as straight views
# over the source parquet instead.
_MRG_SPLIT = ("lineitem",)
_MRG_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def load_mrg(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Row-group-split copies of the join tables, registered as
    ``<table>_mrg`` temp views (separate names — re-pointing the main
    views would silently change what every OTHER query scans)."""
    import hashlib
    import os

    key = (session_key(spark), sf_dir)
    cached = _MRG_CACHE.get(key)
    if cached is not None:
        return cached
    ap = os.path.abspath(sf_dir)
    root = (
        "/tmp/scratchdata_mrg/"
        f"{os.path.basename(ap)}-{hashlib.md5(ap.encode()).hexdigest()[:8]}"
    )
    out: dict[str, DataFrame] = {}
    for t in _MRG_TABLES:
        src = f"{ap}/{t}.parquet"
        if t in _MRG_SPLIT:
            dst = f"{root}/{t}"
            stamp = f"{dst}/_SUCCESS"
            if (
                not os.path.exists(stamp)
                or os.path.getmtime(stamp) < os.path.getmtime(src)
            ):
                n = int(max(1, min(64, os.path.getsize(src) // (256 * 1024))))
                (
                    spark.read.parquet(src)
                    .repartition(n)
                    .write.mode("overwrite")
                    .parquet(dst)
                )
            df = spark.read.parquet(dst)
        else:
            df = spark.read.parquet(src)
        df.createOrReplaceTempView(f"{t}_mrg")
        out[t] = df
    _MRG_CACHE[key] = out
    return out


@q("q01_pricing_summary_mrg", REGISTRY["q01_pricing_summary"][1])
def q01_mrg(spark, sf_dir):
    """q01 over the row-group-split layout: the lineitem scan fans out
    across splits instead of running as one task."""
    l = load_mrg(spark, sf_dir)["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc, "sum_disc_price", 4),
            dsum(charge, "sum_charge", 6),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q("q03_shipping_priority_mrg", REGISTRY["q03_shipping_priority"][1])
def q03_mrg(spark, sf_dir):
    """q03 over the row-group-split layout."""
    t = load_mrg(spark, sf_dir)
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-03-15")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1998-03-15")
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
    )


@q("q05_local_supplier_volume_mrg", REGISTRY["q05_local_supplier_volume"][1])
def q05_mrg(spark, sf_dir):
    """q05 over the row-group-split layout."""
    t = load_mrg(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
    )


@bench_variant("q01_pricing_summary_mrg")
def b_q01_mrg(spark, sf_dir):
    """The b_q01 double-sum text over the split views — the bench
    times exactly the q01 variant semantics with only the input
    layout changed, so q01 vs q01_mrg isolates scan parallelism."""
    load_mrg(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               AVG(l_quantity) AS avg_qty,
               AVG(l_extendedprice) AS avg_price,
               AVG(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem_mrg
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@bench_variant("q03_shipping_priority_mrg")
def b_q03_mrg(spark, sf_dir):
    load_mrg(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        FROM customer_mrg
        JOIN orders_mrg ON c_custkey = o_custkey
        JOIN lineitem_mrg ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < '1998-03-15'
          AND l_shipdate > '1998-03-15'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        """
    )


@bench_variant("q05_local_supplier_volume_mrg")
def b_q05_mrg(spark, sf_dir):
    load_mrg(spark, sf_dir)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(supplier_mrg), BROADCAST(nation_mrg),
                   BROADCAST(region_mrg) */
               n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem_mrg
        JOIN orders_mrg ON l_orderkey = o_orderkey
        JOIN customer_mrg ON c_custkey = o_custkey
        JOIN supplier_mrg ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation_mrg ON c_nationkey = n_nationkey
        JOIN region_mrg ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """
    )


# ======================================================================
# Arrays / maps / structs / lateral (SURVEY §2.B "Scalar — array/map/
# struct (list_*, struct_pack, unnest)" and "subqueries … lateral")
# ======================================================================


@q(
    "q_array_funcs",
    """
    SELECT vec_id,
           len(embedding) AS n_dims,
           embedding[1] AS first_val,
           list_max(embedding) AS vmax,
           ROUND(list_sum(embedding[1:4]), 4) + 0 AS s4
    FROM embeddings
    """,
)
def q_array_funcs(spark, sf_dir):
    """Array scalar functions over the embedding column: size,
    element access, max, and a fold (sum of the first 4 dims). The
    fold accumulates float32 elements into a double in element order
    on both engines, then rounds to 4 decimals."""
    em = load(spark, sf_dir)["embeddings"]
    return em.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.element_at("embedding", 1).alias("first_val"),
        F.array_max("embedding").alias("vmax"),
        F.round(
            F.aggregate(F.slice("embedding", 1, 4), F.lit(0.0), lambda a, x: a + x), 4
        ).alias("s4"),
    )


@q(
    "q_explode_posexplode",
    """
    SELECT vec_id, z[2] AS pos, z[1] AS val FROM (
      SELECT vec_id,
             unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
      FROM embeddings WHERE vec_id % 50 = 0
    )
    """,
)
def q_explode_posexplode(spark, sf_dir):
    """UNNEST with ordinality: posexplode of the embedding array into
    (vec_id, 1-based pos, value) rows. The DuckDB oracle zips the list
    with its index range since it lacks WITH ORDINALITY."""
    em = load(spark, sf_dir)["embeddings"].filter(F.col("vec_id") % 50 == 0)
    return em.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id", (F.col("pos") + 1).cast("bigint").alias("pos"), "val"
    )


@q(
    "q_map_struct_funcs",
    """
    SELECT n_nationkey,
           struct_pack(name := n_name, rk := n_regionkey).name AS s_name,
           map_extract(MAP {'reg': n_regionkey, 'key': n_nationkey}, 'key')[1]
             AS m_key
    FROM nation
    """,
)
def q_map_struct_funcs(spark, sf_dir):
    """Struct construction + field access and map construction + key
    lookup; output columns are scalars so the cross-engine compare
    stays type-exact (struct_pack ↔ F.struct, MAP ↔ create_map)."""
    n = load(spark, sf_dir)["nation"]
    return n.select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("name"), F.col("n_regionkey").alias("rk")
        ).getField("name").alias("s_name"),
        F.element_at(
            F.create_map(
                F.lit("reg"), F.col("n_regionkey"), F.lit("key"), F.col("n_nationkey")
            ),
            "key",
        ).alias("m_key"),
    )


@q(
    "q_percentile_exact",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90,
           ROUND(median(l_extendedprice), 4) AS med_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: linear interpolation) — unlike the
    approx sketches these are deterministic and hash-compare."""
    l = load(spark, sf_dir)["lineitem"]
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_quantity", 0.9), 4).alias("p90"),
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
    )


_AGG_FILTER_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_total
    FROM orders GROUP BY o_orderpriority
"""


@q("q_agg_filter", _AGG_FILTER_SQL)
def q_agg_filter(spark, sf_dir):
    """FILTER-clause aggregates (ANSI, supported verbatim by both
    Spark SQL and DuckDB — the same text runs on each)."""
    load(spark, sf_dir)
    return spark.sql(_AGG_FILTER_SQL)


@q(
    "q_window_first_last",
    """
    SELECT c_custkey, c_nationkey,
           first_value(c_name) OVER w AS first_name,
           last_value(c_name) OVER w AS last_name,
           nth_value(c_name, 2) OVER w AS second_name
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_first_last(spark, sf_dir):
    """Analytic first/last/nth over an explicit full-partition frame
    (default frame would truncate last_value at CURRENT ROW)."""
    c = load(spark, sf_dir)["customer"]
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.first("c_name").over(w).alias("first_name"),
        F.last("c_name").over(w).alias("last_name"),
        F.nth_value("c_name", 2).over(w).alias("second_name"),
    )


_LATERAL_SQL = """
    SELECT n_name, l.mx AS max_acctbal, l.cnt AS n_customers
    FROM nation n, LATERAL (
      SELECT MAX(c_acctbal) AS mx, COUNT(*) AS cnt
      FROM customer c WHERE c.c_nationkey = n.n_nationkey
    ) l
"""


@q("q_lateral_join", _LATERAL_SQL)
def q_lateral_join(spark, sf_dir):
    """Correlated LATERAL subquery (identical ANSI text on both
    engines); Catalyst decorrelates it into an aggregate + join."""
    load(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@q(
    "q_word_count",
    r"""
    SELECT w, COUNT(*) AS n FROM (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents WHERE lang = 'en'
    ) WHERE w <> '' GROUP BY w HAVING COUNT(*) >= 5
    """,
)
def q_word_count(spark, sf_dir):
    """The canonical split→explode→count word count over English
    documents (ASCII \\s+ split semantics agree across engines;
    restricted to lang='en' to dodge unicode case-folding drift)."""
    d = load(spark, sf_dir)["documents"].filter(F.col("lang") == "en")
    words = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w")).filter(
        F.col("w") != ""
    )
    return words.groupBy("w").agg(F.count("*").alias("n")).filter(F.col("n") >= 5)


@q(
    "q_scan_external_files",
    """
    SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id
    FROM events GROUP BY event_type
    """,
)
def q_scan_external_files(spark, sf_dir):
    """External-file scan (SURVEY §2.B "Scan (external files)"):
    queries parquet by PATH — ``parquet.`/path```` — rather than a
    registered table, the Spark SQL equivalent of DuckDB's
    read_parquet()/httpfs path queries (reference loads the httpfs/aws
    extensions at duckdb/duckdb.go:80-98; same syntax reads s3a://)."""
    df = spark.sql(
        f"SELECT event_type, event_id FROM parquet.`{sf_dir}/events.parquet`"
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_id")
    )


def _ext_cache(spark, sf_dir: str, fmt: str):
    """Materialize events(user_id, event_type, event_id) once per
    (sf_dir, fmt) as an external file set; lossless columns only, so
    the round-trip is hash-exact against the parquet-backed oracle."""
    import hashlib
    import os

    key = hashlib.sha256(f"{sf_dir}|{fmt}".encode()).hexdigest()[:16]
    path = os.path.join("/tmp", "sd_external_scan", f"{fmt}-{key}")
    done = os.path.join(path, "_done")
    if not os.path.exists(done):
        df = load(spark, sf_dir)["events"].select("event_id", "user_id", "event_type")
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true")
        getattr(writer, fmt)(path)
        open(done, "w").close()
    return path


@q(
    "q_scan_external_csv",
    """
    SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id
    FROM events GROUP BY event_type
    """,
)
def q_scan_external_csv(spark, sf_dir):
    """External CSV scan: header + explicit schema (never inferSchema —
    inference is a second full pass over the data at scale)."""
    path = _ext_cache(spark, sf_dir, "csv")
    df = (
        spark.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING")
        .option("header", "true")
        .csv(path)
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_id")
    )


@q(
    "q_scan_external_orc",
    """
    SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id
    FROM events GROUP BY event_type
    """,
)
def q_scan_external_orc(spark, sf_dir):
    """External ORC scan by path (``orc.`/path``` SQL syntax), with
    predicate/column pushdown identical to parquet."""
    path = _ext_cache(spark, sf_dir, "orc")
    df = spark.sql(f"SELECT event_type, event_id FROM orc.`{path}`")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.min("event_id").alias("min_id")
    )


@q(
    "q_agg_lists_median_mode",
    """
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities,
           CAST(median(o_totalprice) AS DOUBLE) AS median_price,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_lists_median_mode(spark, sf_dir):
    """List/ordered-string aggregation + exact median: collect_set →
    array_sort → array_join reproduces DuckDB's ordered string_agg
    deterministically (unordered collect would hash-mismatch)."""
    o = load(spark, sf_dir)["orders"]
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.median("o_totalprice").cast("double").alias("median_price"),
        F.count_distinct("o_custkey").alias("n_customers"),
    )


@q(
    "q_time_bucket_15min",
    """
    SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts)) AS bucket_us,
           COUNT(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def q_time_bucket_15min(spark, sf_dir):
    """Arbitrary-interval time bucketing (time_bucket / date_bin):
    epoch-floor arithmetic — ``ts - ts % interval`` — identical on
    both engines and cheaper than a window() struct when only the
    bucket start is needed."""
    e = load(spark, sf_dir)["events"]
    us = 15 * 60 * 1_000_000
    ts_us = F.col("ts")  # load() already normalizes events.ts to µs
    return (
        e.filter(F.col("event_type") == "click")
        .groupBy((ts_us - ts_us % us).alias("bucket_us"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("users"),
        )
    )
