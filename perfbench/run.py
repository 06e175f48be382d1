"""hiselspark benchmark: one command, seeded workloads, checked outputs.

Usage (from the checkout root)::

    python3 perfbench/run.py --workload pit_select --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload catchup_ingest --seed 1 --smoke

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
traced per-layer variant of the workload (see ``tracing.py``).  The last
line of stdout is one JSON object ``{correct, attempted, failed,
metrics}``.  Workloads, metrics and bounds are listed in
``BENCHMARK.json`` at the checkout root.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: exercises every code path quickly")
    ap.add_argument("--fail", action="store_true",
                    help="testing: every operation raises")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "hiselspark")):
        print("perfbench: no hiselspark package next to perfbench/",
              file=sys.stderr)
        return 2
    harness.prepare_environment()
    import workloads
    import tracing
    table = tracing.TRACED if args.trace else workloads.WORKLOADS
    if args.workload not in table:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(table)}", file=sys.stderr)
        return 2
    run = workloads.Run(args.seed, args.seconds,
                        "smoke" if args.smoke else "full", args.fail)
    try:
        table[args.workload](run)
    finally:
        harness.shutdown_jvm()
    return 0


if __name__ == "__main__":
    sys.exit(main())
