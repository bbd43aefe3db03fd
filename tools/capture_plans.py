"""Capture .explain("formatted") for the headline (or named) queries
into plans/<tag>/<query>_<suffix>.txt — the before/after evidence an
optimization round commits alongside the code.

Usage: python tools/capture_plans.py <tag> <suffix> [sf_dir] [query ...]
e.g.   python tools/capture_plans.py r12 before /root/testdata/sf0.1
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    if len(args) < 2:
        print(__doc__)
        return 2
    tag, suffix = args[0], args[1]
    sf_dir = args[2] if len(args) > 2 else "/root/testdata/sf0.1"
    names = args[3:] or HEADLINE

    from divolte_collector_spark.plans import explain_formatted
    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_formatted(df))
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
