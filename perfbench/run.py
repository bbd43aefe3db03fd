"""Benchmark entry point.

    python3 perfbench/run.py --workload wire_backfill --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Renders the workload's inputs from
the seed, measures for ``--seconds``, checks the program's outputs and
prints one JSON result line last on stdout: the end-to-end metrics, or
with ``--trace 1`` the per-layer ones.  Workloads and metrics are
described in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("wire_backfill", "json_stream")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    ctx = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    ctx.check_program()
    ctx.prepare()
    try:
        if args.workload == "wire_backfill":
            from perfbench import wire_backfill as workload
        else:
            from perfbench import json_stream as workload
        workload.run(ctx)
    finally:
        ctx.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
