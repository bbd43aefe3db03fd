"""Run any registered query from the command line.

Usage:
    python tools/run_query.py <query> [sf_dir] [--plan] [--limit N]

Prints the result (limited) and, with ``--plan``, the formatted
physical plan plus the plan-audit summary — the loop used while tuning:
run, read the plan, fix the shuffle, run again.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    argv = sys.argv[1:]
    args: list[str] = []
    flags: set[str] = set()
    limit = 20
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--limit":  # space-separated form: --limit N
            if i + 1 >= len(argv) or not argv[i + 1].isdigit():
                print("--limit requires a numeric argument")
                return 2
            limit = int(argv[i + 1])
            i += 2
            continue
        if a.startswith("--limit="):
            try:
                limit = int(a.split("=", 1)[1])
            except ValueError:
                print("--limit requires a numeric argument")
                return 2
        elif a.startswith("--"):
            flags.add(a)
        else:
            args.append(a)
        i += 1
    if not args:
        from divolte_collector_spark.queries import all_queries

        print("usage: run_query.py <query> [sf_dir] [--plan] [--limit N]")
        print("queries:", ", ".join(sorted(all_queries())))
        return 2
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import get_spark

    registry = all_queries()
    if name not in registry:
        print(f"unknown query {name!r}; known: {', '.join(sorted(registry))}")
        return 2
    spark = get_spark("run-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = registry[name].fn(spark, sf_dir)
    if "--plan" in flags:
        from divolte_collector_spark.plans import audit, explain_formatted

        print(explain_formatted(df))
        print(json.dumps(audit(df).as_dict(), indent=2))
    df.show(limit, truncate=False)
    print(f"rows: {df.count()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
