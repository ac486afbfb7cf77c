"""Headline benchmark: wall-clock per query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "oracle_comparable_total": N, "pass_walls": [...], "sf": ...}

Protocol (its history: OPTIMIZATION_r13.md §1, OPTIMIZATION_r14.md §1
and §12). ``bench_session`` runs AQE off (SPARK_GRAFT_BENCH_AQE=1
benches the production AQE-on config) with SPARK_GRAFT_SHUFFLE shuffle
partitions (default 8); no base table is cached. Each query gets one
warm pass (codegen + JIT), then SPARK_GRAFT_BENCH_PASSES full passes
(default 2) of SPARK_GRAFT_BENCH_REPS reps (default 3). Every rep is
``timed_reps``' loop: ``clearCache()``, a fresh build of the query
(``_fresh``: new plan and shuffle IDs, operator persists
re-registered), then the timed ``toArrow()`` action, so each rep
computes from the parquet inputs, warm only at the OS page-cache
level. The clock starts after the build, except for BUILD_TIMED
entries. A query's value is its best rep over all passes; both pass
walls are printed, so machine load shows in the output.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import scratchdata_spark.inventory_extras  # noqa: F401  (registers extras)
from scratchdata_spark.inventory import BENCH_VARIANTS, REGISTRY
from scratchdata_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q_topk_per_group",
    "q_grouping_sets",
    "q_join_semi",
    "q_join_anti",
    "q_join_asof",
    "q_union_all",
    "q_intersect",
    "q_approx_count_distinct",
    "q_window_frame_rows",
    "q_json_funcs",
    # the same q01/q03/q05 over a row-group-split copy of the inputs
    # (inventory.load_mrg), so scans parallelize at any core count
    "q01_pricing_summary_mrg",
    "q03_shipping_priority_mrg",
    "q05_local_supplier_volume_mrg",
]

EXTRAS = [  # entries are never renamed or removed
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    "x_dedup_embedding_lsh",
    "x_ann_cosine_topk",
    "x_ann_ivf_topk",
    "x_text_quality",
    "x_multimodal_meta",
    "x_semantic_dedup",
    "x_lm_perplexity",
    "x_dedup_substring",
    "x_ann_pq_topk",  # fit-once / probe-many: encode+score+rerank timed
    "x_quality_classifier",
    "x_dsir_select",
    # x_dedup_minhash_oracle is deliberately NOT benched: it is the
    # correctness twin with both scale valves off, ~100× the cost of
    # the production tier (x_dedup_minhash_lsh above)
    "x_ann_pq_topk_coldfit",  # x_ann_pq_topk with the codebook fit timed
]

# Entries whose plan BUILD does real work (driver-side fits) and is
# deliberately timed: the clock starts before the query function runs.
BUILD_TIMED = {"x_ann_pq_topk_coldfit"}


def bench_names() -> list[str]:
    """The timed entries, in bench order."""
    return [n for n in HEADLINE + EXTRAS if n in REGISTRY or n in BENCH_VARIANTS]


def _fetch(df) -> int:
    """Materialize the result on the driver (Arrow batches — the
    engine-fair analogue of DuckDB's fetchall; Row-object collect()
    spends its time in pickling, not in the engine)."""
    return df.toArrow().num_rows


def _fresh(name, spark, sf_dir):
    """A fresh build of the query: a new plan with new shuffle IDs (no
    stage skipping), and operator-internal persists registered again."""
    fn = BENCH_VARIANTS[name] if name in BENCH_VARIANTS else REGISTRY[name][0]
    return fn(spark, sf_dir)


def timed_reps(spark, name: str, sf_dir: str, reps: int, action=_fetch) -> list[float]:
    """Seconds of each of ``reps`` reps: clear the cache (operator
    persists included), build the query fresh, time ``action`` on it."""
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = _fresh(name, spark, sf_dir)
        if name not in BUILD_TIMED:
            t0 = time.perf_counter()
        action(df)
        runs.append(time.perf_counter() - t0)
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = bench_session("scratchdata-bench", sf_dir)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    names = bench_names()
    for name in names:
        _fetch(_fresh(name, spark, sf_dir))  # warm pass

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    walls: list[float] = []
    for _ in range(passes):
        pass_wall = 0.0
        for name in names:
            best = min(timed_reps(spark, name, sf_dir, reps))
            pass_wall += best
            if best < timings.get(name, float("inf")):
                timings[name] = round(best, 4)
        walls.append(round(pass_wall, 4))

    total = round(sum(timings.values()), 4)
    # subtotal over queries that HAVE a DuckDB oracle — the honest
    # denominator for BASELINE.md's "within 2× of DuckDB" target
    # (tools/bench_duckdb.py times the same set on DuckDB)
    comparable = round(
        sum(v for n, v in timings.items() if n in REGISTRY and REGISTRY[n][1]), 4
    )
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "oracle_comparable_total": comparable,
                "pass_walls": walls,
                "sf": sf,
            }
        )
    )


def bench_session(app_name: str, sf_dir: str):
    """The bench's Spark session, with the star schema at ``sf_dir``
    registered (temp views and parquet footers only, nothing cached)."""
    spark = get_spark(
        app_name=app_name,
        # the knob that must scale with data volume: sf0.1 shuffle
        # payloads are KB-scale, and 8 reduce tasks saturate them
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={
            # the testdata is single-row-group, so this adds only
            # empty splits; production keeps the 128 MB default
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            # off: at sf0.1 AQE's per-exchange stage barrier adds
            # +30–130% to every sub-second query; production keeps it on
            "spark.sql.adaptive.enabled": (
                "true" if os.environ.get("SPARK_GRAFT_BENCH_AQE") == "1" else "false"
            ),
        },
    )
    from scratchdata_spark.inventory import load

    load(spark, sf_dir)
    return spark


if __name__ == "__main__":
    main()
