"""Measurement harness on bench.py's protocol: its session
(``bench_session``), query set (``bench_names``) and rep loop
(``timed_reps``: clearCache, fresh build, timed action). Usage:

    python tools/measure.py plans <tag> [query ...]
    python tools/measure.py noop <tag> [query ...]
    python tools/measure.py ab <label> <query> [query ...]

with SPARK_GRAFT_SF_DIR naming the data directory.

* ``plans`` writes each bench query's ``explain("formatted")`` to
  ``$SPARK_GRAFT_PLANS_DIR/<name>_<tag>.txt`` (default ``plans/r14``);
  listed queries restrict the set.
* ``noop`` does the same, then times each query with the noop sink:
  every column of every row is computed and discarded, so the number
  excludes the driver collect that bench.py's ``toArrow()`` includes.
  Each query's jobs carry the description ``<tag>: <name>``.
  Both print one JSON line (``queries`` holds the best noop times).
* ``ab`` times each listed query with bench.py's ``toArrow()`` action
  and prints one JSON line per query with every rep. Run it once per
  code state (the label tags the state) and alternate the states to
  control machine drift.

A timed query gets one warm pass (codegen + JIT), then
SPARK_GRAFT_BENCH_REPS reps (default 3). ``ab`` adds a second warm
pass, one rep run and discarded, before its timed reps: after a single
warm pass the first timed rep ran 11–22% slower than the rest
(sf0.01, 4-core Linux box). AQE follows the bench default (off;
SPARK_GRAFT_BENCH_AQE=1 measures the production AQE-on config).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _fetch, _fresh, bench_names, bench_session, timed_reps


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plans(spark, mode, tag, only, sf_dir, reps) -> None:
    plans_dir = os.environ.get(
        "SPARK_GRAFT_PLANS_DIR", os.path.join(REPO, "plans", "r14")
    )
    os.makedirs(plans_dir, exist_ok=True)
    names = [n for n in bench_names() if not only or n in only]
    timings: dict[str, float] = {}
    for name in names:
        df = _fresh(name, spark, sf_dir)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if mode == "plans":
            continue
        spark.sparkContext.setJobDescription(f"{tag}: {name}")
        _noop(df)  # warm pass
        timings[name] = round(min(timed_reps(spark, name, sf_dir, reps, _noop)), 4)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"tag": tag, "sf_dir": sf_dir, "noop_best_of": reps,
                      "queries": timings,
                      "total": round(sum(timings.values()), 4)}))


def _ab(spark, label, names, sf_dir, reps) -> None:
    for name in names:
        _fetch(_fresh(name, spark, sf_dir))  # warm pass
        timed_reps(spark, name, sf_dir, 1)  # second warm pass, discarded
        runs = timed_reps(spark, name, sf_dir, reps)
        print(json.dumps({"label": label, "query": name,
                          "best": round(min(runs), 4),
                          "runs": [round(r, 4) for r in runs]}))


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in ("plans", "noop", "ab"):
        sys.exit(__doc__)
    mode, tag, queries = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = bench_session(f"measure-{mode}", sf_dir)
    if mode == "ab":
        _ab(spark, tag, queries, sf_dir, reps)
    else:
        _plans(spark, mode, tag, set(queries), sf_dir, reps)


if __name__ == "__main__":
    main()
