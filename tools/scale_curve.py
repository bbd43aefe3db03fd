"""Measure the scaling curve: the same queries at 1x / 10x / 100x the
sf0.1 volume (built by tools/scale_data.py).

Prints one JSON line per K with per-query steady-state seconds
(min-of-2 after a warm-up). A plan that survives a 100x scale-up
shows sub-linear-to-linear growth here; a plan with a hidden
all-pairs or single-task stage shows super-linear growth and fails
the ratio gate below.

Usage: python tools/scale_curve.py [K ...] [--only q1,q2]
(default Ks: 1 10 100; --only restricts to named curve queries, for
re-measuring a changed plan without paying for the whole sweep)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CURVE_QUERIES = [
    "q1_pricing_summary",        # scan + partial agg
    "q5_regional_revenue",       # 5-way broadcast join
    "dedup_exact",               # hash shuffle
    "dedup_minhash_lsh",         # signature agg + band join
    "sessionize_30min",          # per-user window
    "token_counts",              # explode + agg
    "geoip_enrich_events",       # broadcast range join
    "knn_bruteforce_cosine",     # broadcast queries x scan
    "token_unigram_logprob",     # vocab shuffle + token equi-join + fold
    "recsys_covisitation",       # basket self-join (per-key bounded)
    "user_scd2_history",         # gaps-and-islands, one user shuffle
    "url_canonical_dedup",       # narrow canonicalization map + agg
    "reorder_depth_stats",       # running-max window per user
    "span_dedup_crossdoc",       # window-hash shuffle + sliver verify
    "pack_sequences_ffd",        # salted-bucket window + closed-form pack
    "text_line_dedup",           # keeper-relation line dedup, 2 shuffles
    "snapshot_diff_docs",        # full outer join on md5, 2 shuffles
    "ann_recall_probe_frontier",  # score-once multi-probe IVF + exact baseline
    "vector_nn_descent_graph",   # bounded-init graph rounds, detached lineage
    "vector_index_incremental_append",  # frozen-centroid assign + probe
    "text_rerank_stage",         # corpus-wide sparse pass + Q*N rerank
    "sample_pps_systematic",     # two-phase prefix scan + 20-row grid NLJ
    "ann_bq_hamming_topk",    # 16B/vec packed scan, broadcast probes
    "dedup_star_representatives",  # O(docs) star-edge LSH -> CC -> reps
    "browser_wire_roundtrip",    # one-Arrow-crossing wire decode
    "doc_tfidf_top_terms",       # tf/df diamond + bounded top-k window
    "token_heavy_hitters",       # CMS candidates + exact verify
    "dedup_simhash",             # banded 64-bit simhash candidates
    "agg_user_rfm_segments",     # 3x two-phase global rank + closed ntile
    "agg_user_activity_gini",    # two-phase global rank + integer Gini
]
# NOTE on vector_nn_descent_graph under replication: replicas are
# verbatim vector copies, so every node's top-K converges to its own
# replicas at cos 1.0 — recall against replicated ground truth is
# meaningless, but the candidate volume per round stays O(n*K^2) and
# the joins scale exactly as at 1x, which is what the curve measures.
# NOTE on span_dedup_crossdoc under replication: scale_data replicates
# document TEXT verbatim, so at K>1 every window is cross-doc
# duplicated and the string-verify sliver is the whole window relation
# — the worst case for this plan (maximum verify traffic). Output stays
# one row per document, so the curve still measures plan growth, just
# at the adversarial end.
# semantic_dedup_kmeans is deliberately NOT on the curve: scale_data
# replicates embedding VECTORS verbatim (only vec_id offsets), so every
# replica is an exact near-duplicate of every other and the true pair
# count grows as K^2 — a data artifact, not a plan property.


def main() -> None:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            raise SystemExit("--only needs a comma-separated query list")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
        unknown = only - set(CURVE_QUERIES)
        if unknown:
            raise SystemExit(f"not curve queries: {sorted(unknown)}")
    ks = [int(a) for a in args] or [1, 10, 100]

    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import get_spark

    from scale_data import LAYOUT_VERSION, build

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    def ensure_dataset(k: int) -> str:
        # Every K — including 1x — goes through scale_data so all curve
        # points share the same parallel-writer file layout; reading the
        # single-file source directly at 1x would compare a layout-
        # serialized baseline against multi-file scans and bias ratios.
        sf_dir = f"/tmp/sfscale_{k}"
        marker = f"{sf_dir}/_layout_version"
        fresh = (
            os.path.exists(f"{sf_dir}/lineitem.parquet")
            and os.path.exists(marker)
            and open(marker).read().strip() == str(LAYOUT_VERSION)
        )
        if not fresh:
            build(k, sf_dir)
        return sf_dir

    for k in ks:
        sf_dir = ensure_dataset(k)
        timings = {}
        for name in CURVE_QUERIES if only is None else sorted(only):
            fn = registry[name].fn
            best = None
            for attempt in range(3):  # first run warms, then min-of-2
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if attempt > 0:
                    best = dt if best is None or dt < best else best
                spark.catalog.clearCache()
            timings[name] = round(best, 3)
        print(json.dumps({
            "k": k,
            "rows_equivalent_sf": 0.1 * k,
            "queries": timings,
            "total": round(sum(timings.values()), 3),
        }), flush=True)


if __name__ == "__main__":
    main()
