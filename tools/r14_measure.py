"""Optimization-round measurement harness, round 14 (guide §1).

Follows the bench protocol (bench.py module docstring):

* captures ``df.explain("formatted")`` to ``plans/r14/<name>_<tag>.txt``
* times the computation with the noop sink (guide §1.4) — every column
  of every row is computed and discarded, so the number excludes the
  driver-collect cost that bench.py's ``toArrow()`` action includes
* labels each job (guide §1.5) so the UI/event log attributes time
* every timed rep REBUILDS the query DataFrame after a clearCache()
  (fresh physical plan, operator persists re-registered — the r14
  protocol; r13's reuse of one Dataset dropped persist registrations
  from rep 2 on) and computes from the parquet inputs

AQE follows the bench default (off at this scale; SPARK_GRAFT_BENCH_AQE=1
to measure the production AQE-on config).

Usage: python tools/r14_measure.py <tag> [--plans-only] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scratchdata_spark.inventory_extras  # noqa: F401
from bench import EXTRAS, HEADLINE, _query_fn
from scratchdata_spark.inventory import BENCH_VARIANTS, REGISTRY
from scratchdata_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--plans-only"]
    plans_only = "--plans-only" in sys.argv[1:]
    tag = args[0] if args else "before"
    only = set(args[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    plans_dir = os.environ.get(
        "SPARK_GRAFT_PLANS_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            "r14",
        ),
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(
        app_name="r14-measure",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.adaptive.enabled": (
                "true"
                if os.environ.get("SPARK_GRAFT_BENCH_AQE") == "1"
                else "false"
            ),
        },
    )

    names = [n for n in HEADLINE + EXTRAS if n in REGISTRY or n in BENCH_VARIANTS]
    if only:
        names = [n for n in names if n in only]

    timings: dict[str, float] = {}
    for name in names:
        df = _query_fn(name)(spark, sf_dir)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if plans_only:
            continue
        spark.sparkContext.setJobDescription(f"{tag}: {name}")
        # warm pass (codegen/JIT), then best-of-N noop-sink runs over a
        # FRESH build each rep (r14 protocol: persists re-registered,
        # data recomputed from parquet after clearCache)
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(reps):
            spark.catalog.clearCache()
            df = _query_fn(name)(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 4)

    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "noop_best_of": reps,
                      "queries": timings,
                      "total": round(sum(timings.values()), 4)}))


if __name__ == "__main__":
    main()
