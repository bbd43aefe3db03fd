"""Replicate the sf0.1 tables K-fold into a bench-compatible directory.

The provided testdata tops out at sf0.1; this builds K=10/100 volumes
(~sf1 / ~sf10 equivalents) for the SCALING CURVE measurement only —
correctness stays gated on the driver-provided parquet. Replication
preserves referential integrity (every TPC-H key offsets by
replica * OFFSET consistently on both sides of each join), grows key
cardinality rather than per-key history (user_id/doc_id/vec_id offset
per replica, so window partitions stay the same size while the table
grows — the realistic shape), and mutates document text with a
per-replica token so the dedup queries don't see a K-fold planted
duplicate explosion that no real corpus would have.

Replicated tables are written as MANY files (>= one cluster-width of
32, ~one per replica beyond that, capped at 256): the exploded build
plan otherwise inherits the single-partition source layout and emits
ONE parquet file per table at any K — and a 100x fact table stored as
one file caps every downstream scan at its handful of row groups
(measured: the 10x events table scanned as 2 tasks on 32 cores, so
every narrow-map curve row was timing the file layout, not the plan).
No real dataset at these volumes is a single file; the curve should
measure plan scaling under the layout a parallel writer actually
produces. That policy applies at EVERY K including k==1, so the 1x
curve point is an apples-to-apples multi-file baseline rather than
the single-file source artifact. Dimension tables (region/nation)
keep the source layout. A `_layout_version` marker records the
policy revision; the curve harness rebuilds on mismatch.

Usage: python tools/scale_data.py K [out_dir]   (default /tmp/sfscale_K)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

OFFSET = 10_000_000
SRC = "/root/testdata/sf0.1"

# Bumped whenever the on-disk layout policy changes; scale_curve.py
# refuses to reuse a /tmp dataset whose marker is missing or stale, so
# a pre-fix generator's single-file layout can't silently survive a
# re-run while the docs claim the new policy.
LAYOUT_VERSION = 2


def target_files(k: int) -> int:
    """File count per fact table: at least full cluster width (32),
    ~one file per replica past that, capped so the 100x build doesn't
    shatter into thousands of tiny files."""
    return max(32, min(k, 256))

# table -> columns to offset per replica (consistent across tables)
KEYED = {
    "region": [],
    "nation": [],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build(k: int, out_dir: str) -> None:
    from divolte_collector_spark.session import get_spark, load_table

    spark = get_spark(f"scale-data-{k}")
    spark.sparkContext.setLogLevel("ERROR")
    for table, keys in KEYED.items():
        df = load_table(spark, SRC, table)
        if table in ("region", "nation"):
            # tiny dimensions keep the source layout at every K
            out = df
        elif not keys or k == 1:
            # fact tables get the multi-file layout even unexpanded:
            # the 1x curve point must measure the same parallel-writer
            # layout as 10x/100x, not the single-file source artifact
            out = df.repartition(target_files(k))
        else:
            # widen BEFORE the explode — to the TARGET file count, so
            # one shuffle provides both the expansion parallelism and
            # the output layout (repartitioning after the explode would
            # move the entire expanded volume just to set file count).
            # The source tables are one parquet file each, and exploding
            # from a single partition serializes the whole K-fold
            # expansion into one task (measured: the 100x lineitem build
            # alone ran >15 min single-task; wide it's minutes total).
            rep = df.repartition(target_files(k)).select(
                "*", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_r")
            )
            for c in keys:
                rep = rep.withColumn(c, F.col(c) + F.col("_r") * OFFSET)
            if table == "documents":
                # distinct text per replica: no artificial K-fold dups
                rep = rep.withColumn(
                    "text",
                    F.concat_ws(" ", F.col("text"), F.concat(F.lit("r"), F.col("_r"))),
                ).withColumn("n_chars", F.length("text"))
            if table == "embeddings":
                # perturb per replica: exact-duplicate vectors would give
                # every original 100 identical LSH siblings -> K^2 pair
                # blowup no real corpus has; a small deterministic nudge
                # keeps neighborhoods while breaking exact ties
                rep = rep.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (F.element_at("embedding", 1)
                             + F.col("_r") * F.lit(0.003)).cast("float")
                        ),
                        F.slice("embedding", 2, 10_000),
                    ),
                )
            out = rep.drop("_r")
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
        print(f"{table}: x{k} -> {out_dir}/{table}.parquet", file=sys.stderr)
    with open(f"{out_dir}/_layout_version", "w") as fh:
        fh.write(f"{LAYOUT_VERSION}\n")


if __name__ == "__main__":
    k = int(sys.argv[1])
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sfscale_{k}"
    build(k, out)
