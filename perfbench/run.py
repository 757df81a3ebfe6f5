"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed, runs the engine only through its public calls, checks every
output, prints one detail JSON line and then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also records Spark's event log and reports the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=harness.workloads())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    t_proc0 = harness.process_start_epoch()
    sys.path.insert(0, ROOT)
    import flink_essentials_spark  # noqa: F401  (fails outside a full checkout)

    import batch
    import stream

    spec = batch.SPECS.get(args.workload)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    harness.pin_environment(work, spec is not None and spec.force_distributed, ROOT)

    run = harness.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work,
        cache_dir=os.path.join(HERE, ".work", "cache"), t_proc0=t_proc0,
    )
    os.makedirs(run.cache_dir, exist_ok=True)
    try:
        (batch if spec is not None else stream).run(run)
    finally:
        run.close()

    missing = [k for k in harness.end_to_end() if k not in run.metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    # a layer that does not apply to the workload reads 0
    wanted = harness.per_layer() if run.trace else harness.end_to_end()
    source = run.layers if run.trace else run.metrics
    detail = dict(run.detail, workload=args.workload, seed=args.seed,
                  failures=run.failures, end_to_end=run.metrics)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": min(run.failed, run.attempted),
        "metrics": {k: {"value": source.get(k, 0.0), "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
