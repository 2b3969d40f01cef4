#!/usr/bin/env python3
"""Benchmark of the Spark BM25 engine's index lifecycle.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds nothing: the engine is imported
from the checkout. Spark runs as local[nproc] with a driver heap well
below physical RAM, and every file the run writes lives under
.perfbench_work/ in the checkout and is removed at the end.

Output: a properties line (corpus size, segments built, repeat share,
sample counts, ...) and, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from spans
around every engine call (also written to .perfbench_out/).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_INIT = os.path.join(ROOT, "opensearch_jvector_plugin_spark", "__init__.py")


def execute(workload: str, seed: int, seconds: float, trace: bool,
            sizes: dict | None = None, corrupt: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns (result, properties)."""
    from ojsbench import environment, report
    from ojsbench.runner import OperationFailed, Run
    from ojsbench.workloads import SIZES, WORKLOADS

    ws = environment.Workspace(ROOT, f"{workload}-{seed}-{os.getpid()}")
    ws.enter()
    run = Run(ws, seed, seconds, trace, {**SIZES, **(sizes or {})})
    run.corrupt = corrupt
    try:
        try:
            WORKLOADS[workload](run)
        except OperationFailed:
            pass
        rss = environment.peak_rss_mb()
    finally:
        if run.spark is not None:
            environment.stop_spark(run.spark)
        ws.leave()

    metrics, props = report.end_to_end(run, sum(rss.values()))
    if trace:
        metrics = report.per_layer(run)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(out_dir, f"trace-{workload}-{seed}.json"))
    props = {**run.props, **props, "workload": workload, "trace": trace,
             "peak_rss_mb_by_program": rss,
             "errors": run.errors[:10]}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return result, props


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from ojsbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, props = execute(args.workload, args.seed, args.seconds,
                            bool(args.trace))
    print(json.dumps({"properties": props}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isfile(PACKAGE_INIT):
        sys.exit(f"engine package not found at {os.path.dirname(PACKAGE_INIT)}")
    sys.path.insert(0, ROOT)
    sys.exit(main())
