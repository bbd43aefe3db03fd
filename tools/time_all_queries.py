"""Time every registered query at the given SF: one timed build
(driver-side plan construction) plus N noop executions (min reported).

Usage: python tools/time_all_queries.py [sf_dir] [attempts] [out.json]

The per-query numbers drive the optimization loop (which operators are
worth plan work) and the round writeup's examined-everything table.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # clamp: attempts=0 would leave `best` None and round(None, 3)
    # raise AFTER the full (minutes-long) build sweep
    attempts = max(1, int(sys.argv[2])) if len(sys.argv) > 2 else 2
    out_path = sys.argv[3] if len(sys.argv) > 3 else "/tmp/query_times.json"

    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import get_spark, load_table

    spark = get_spark("time-all")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # same warmups as bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf

    def _warm_fn(s):
        import numpy  # noqa: F401

        from divolte_collector_spark.functions import mincode, murmur  # noqa: F401

        return s

    _warm = pandas_udf(_warm_fn, "long")
    spark.range(100000).repartition(32).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    for tbl in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, tbl).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()

    results = {}
    for name in sorted(registry):
        fn = registry[name].fn
        try:
            t0 = time.time()
            df = fn(spark, sf_dir)
            build_s = round(time.time() - t0, 3)
            best = None
            for _ in range(attempts):
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
                # DELIBERATE session-wide clear: cold timing requires
                # dropping every cached relation between attempts; it
                # also discards any track_persist state built so far,
                # which is fine in this standalone tool (each query
                # rebuilds its own persists on the next attempt)
                spark.catalog.clearCache()
            results[name] = {"build": build_s, "exec_min": round(best, 3)}
            print(f"{name}: build {build_s}s exec {round(best,3)}s", flush=True)
        except Exception as ex:  # noqa: BLE001 — record and continue
            results[name] = {"error": str(ex)[:200]}
            print(f"{name}: ERROR {str(ex)[:120]}", flush=True)
            spark.catalog.clearCache()
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    top = sorted(
        (r.get("exec_min", 0), n) for n, r in results.items() if "exec_min" in r
    )[::-1][:25]
    print("\nTop by exec_min:")
    for t, n in top:
        print(f"  {t:7.3f}s  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
