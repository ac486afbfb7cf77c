"""Paired A/B timer for single queries under the honest bench protocol
(bench.py: fresh physical plan per rep, clearCache between reps, toArrow
action, best-of-N after one warm pass).  Usage:

    python tools/ab_one.py <label> <query> [query ...]

Prints one JSON line per query.  Run it once per code state (the label
tags the state); alternate states to control box drift.  AQE follows the
bench default (off; SPARK_GRAFT_BENCH_AQE=1 to A/B the production AQE-on
config).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import scratchdata_spark.inventory_extras  # noqa: F401
from bench import _fetch, _fresh, _query_fn
from scratchdata_spark.session import get_spark


def main() -> None:
    label = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark(
        app_name="ab-one",
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
    from scratchdata_spark.inventory import load

    load(spark, sf_dir)
    for name in names:
        _fetch(_query_fn(name)(spark, sf_dir))  # warm: codegen + JIT
        best, runs = float("inf"), []
        for _ in range(reps):
            spark.catalog.clearCache()
            fresh = _fresh(name, spark, sf_dir)
            t0 = time.perf_counter()
            _fetch(fresh)
            dt = time.perf_counter() - t0
            runs.append(round(dt, 4))
            best = min(best, dt)
        print(json.dumps({"label": label, "query": name,
                          "best": round(best, 4), "runs": runs}))


if __name__ == "__main__":
    main()
