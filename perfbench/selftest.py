#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about three minutes).

    python3 perfbench/selftest.py

Checks that
- BENCHMARK.json names exactly the metrics (and units) the benchmark prints;
- every workload runs, passes the oracle gate and prints every end-to-end
  metric, and a traced run prints every per-layer metric, each with its unit;
- a deliberately corrupted result (two doc_ids swapped in every result)
  fails the oracle gate: `failed` and the error rate go up.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {
    "turns": 1_000,
    "warmup_turns": 200,
    "append_turns": 50,
    "delete_docs": 6,
    "batch_size": 12,
    "ingest_batches": 1,
    "merged_warmup": 1,
}
SECONDS = 2.0


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def check_metrics(metrics: dict, expected: dict, what: str) -> None:
    check(set(metrics) == set(expected), f"{what}: every metric printed")
    for name, unit in expected.items():
        m = metrics[name]
        check(m["unit"] == unit and math.isfinite(m["value"]),
              f"{what}: {name} = {m['value']:.6g} {m['unit']}")


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from ojsbench import report
    from ojsbench.workloads import WORKLOADS
    from run import execute

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({m["name"]: m["unit"] for m in spec["end_to_end"]}
          == report.END_TO_END, "BENCHMARK.json end_to_end matches")
    check({m["name"]: m["unit"] for m in spec["per_layer"]}
          == report.PER_LAYER, "BENCHMARK.json per_layer matches")
    check({w["name"] for w in spec["workloads"]} <= set(WORKLOADS),
          "BENCHMARK.json workloads exist")

    for workload in sorted(WORKLOADS):
        result, props = execute(workload, 7, SECONDS, False, TINY)
        check(result["correct"] and result["failed"] == 0
              and props["error_rate"] == 0.0,
              f"{workload}: oracle gate passes ({result['attempted']} ops)")
        check_metrics(result["metrics"], report.END_TO_END, workload)
        check(all(m["value"] > 0 for m in result["metrics"].values()),
              f"{workload}: no end-to-end metric is 0")

    result, _ = execute("search_merged", 7, SECONDS, True, TINY)
    check(result["correct"], "traced search_merged: oracle gate passes")
    check_metrics(result["metrics"], report.PER_LAYER, "traced search_merged")

    result, props = execute("search_merged", 7, SECONDS, False, TINY,
                            corrupt=True)
    check(not result["correct"] and result["failed"] > 0
          and props["error_rate"] > 0
          and result["metrics"]["success_rate"]["value"] < 1.0,
          f"swapped doc_ids fail the gate (error_rate "
          f"{props['error_rate']:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
