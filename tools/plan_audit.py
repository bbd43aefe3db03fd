"""Dump the physical-plan audit for every registered query (or the
names given) as JSON lines — the review loop behind `.explain` and the
plan-shape tests.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a]

    from divolte_collector_spark.plans import (
        audit,
        rowwise_python_nodes,
        unbounded_loop_joins,
        unpartitioned_unbounded_windows,
    )
    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    for name in names or sorted(registry):
        try:
            df = registry[name].fn(spark, sf_dir)
            a = audit(df)
            # the three repo-wide guards (tests/test_plan_shapes.py),
            # reported here so a dump review sees what the tests
            # enforce — non-empty lists in any row are either
            # allowlisted (with a written argument) or a regression
            guards = {
                "global_windows": unpartitioned_unbounded_windows(df),
                "unbounded_loop_joins": unbounded_loop_joins(df),
                "rowwise_python": rowwise_python_nodes(df),
            }
            print(json.dumps({"query": name, **a.as_dict(), **guards}))
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(json.dumps({"query": name, "error": str(exc)[:200]}))
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
