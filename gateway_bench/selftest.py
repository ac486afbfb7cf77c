"""Self-test of the gateway benchmark.

    python3 gateway_bench/selftest.py

Run from the root of a checkout. For each workload of ``run.py`` it
makes tiny runs (``--scale tiny``, a few seconds each):

* ``--trace 0`` must print every end-to-end metric of
  ``BENCHMARK.json`` with its unit, be correct and fail nothing;
* ``--trace 1`` must print every per-layer metric with its unit; on
  ``query_interactive`` its traced half must include fresh texts that
  miss the plan cache and cross the dialect bridge;
* ``--corrupt-every 3`` alters every third answer before it is
  checked, and the run must then report failures, ``correct: false``
  and ``ok_frac`` below 1.

It also checks the per-request counts the traced run must show at this
design (three dialect passes and two ``query_df`` calls per plain
SELECT, two type inferences per ingest batch). Exits 0 when every
check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "query_interactive")


def run(workload: str, trace: int, *extra: str, seconds: int = 4) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_units(result: dict, specs: list[dict], where: str) -> list[str]:
    problems = []
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        if got is None:
            problems.append(f"{where}: {spec['name']} missing")
        elif got["unit"] != spec["unit"] or not isinstance(got["value"], (int, float)):
            problems.append(f"{where}: {spec['name']} printed as {got}")
    return problems


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems: list[str] = []
    for wl in WORKLOADS:
        plain = run(wl, 0)
        problems += check_units(plain, bench["end_to_end"], f"{wl} --trace 0")
        if not plain["correct"] or plain["failed"] or plain["metrics"]["ok_frac"]["value"] != 1.0:
            problems.append(f"{wl}: clean run reported failures: {plain}")

        # halves long enough for two fresh texts each, so one of them is
        # DuckDB-only
        traced = run(wl, 1, seconds=12)
        problems += check_units(traced, bench["per_layer"], f"{wl} --trace 1")
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        if (layers["dialect.prepare_calls_per_request"] != 3
                or layers["engine.query_df_calls_per_request"] != 2):
            problems.append(f"{wl}: per-request dialect/query_df counts {layers}")
        if not layers["drain_rows_per_s"] > 0:
            problems.append(f"{wl}: no drain rounds timed: {layers}")
        if wl == "ingest" and layers["jtypes.infer_calls_per_batch"] != 2:
            problems.append(f"ingest: infer calls per batch {layers}")
        if wl == "query_interactive" and not (
                layers["dialect.fallback_ratio"] > 0 and layers["dialect.rewrite_ms"] > 0
                and layers["engine.query_df_miss_ms"] > 0
                and layers["engine.plan_cache_hit_ratio"] < 1):
            problems.append(f"query_interactive: traced half has no fresh or rewritten "
                            f"text: {layers}")

        bad = run(wl, 0, "--corrupt-every", "3")
        if bad["correct"] or not bad["failed"] or bad["metrics"]["ok_frac"]["value"] >= 1.0:
            problems.append(f"{wl}: corrupted answers went unnoticed: {bad}")
        print(f"{wl}: checked", file=sys.stderr)
    for p in problems:
        print("FAIL " + p, file=sys.stderr)
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
