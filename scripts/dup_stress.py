#!/usr/bin/env python
"""Duplicate-heavy stress at ~sf1: replicate the sf0.1 fixtures 10× with
shifted ids (every doc/vector/event has 10 exact copies — the worst case
for similarity candidate generation and a realistic web-crawl property),
then run the heavy per-round keys with per-key wall-clock.

Round-2 ran this ad-hoc and caught the quadratic prefix-bucket blowup in
dedup_ngram_jaccard; this committed version makes the layer reproducible.
Staging lives under /tmp (never under /root/testdata).

Usage: python scripts/dup_stress.py [key ...]   (default: round-3 set)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGE = "/tmp/trireme_dup_sf1"
SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000  # multiple of 50 so doc_id % 50 patterns survive

DEFAULT_KEYS = [
    "text_decontaminate",
    "text_quality_gopher",
    "dedup_doc_canonical",
    "shuffle_deterministic",
    "embed_centroid_label",
    "cluster_assign",
    "cluster_kmeans_fit",
    "embed_pq_quantize",
    "join_interval_bucketed",
    "events_funnel",
    "dedup_minhash_clusters",
    "etl_training_corpus",
    # round-4 batch-5 composites (added r5): the duplicate-×10 layer is
    # where this repo's real scale bugs have surfaced every round
    "lineitem_market_basket",
    "events_active_users",
    "text_template_detect",
    # round-5 batch-12/15 additions: 10× baskets stress the wedge join
    # and the rule ratio joins (same distinct edge set, 10× pair
    # instances); ×10 docs stress the CMS vocab explode and the URL
    # collision groups; ×10 vectors stress the MaxSim token fan-out
    "graph_triangle_count",
    "lineitem_association_rules",
    "sim_maxsim_late_interaction",
    "agg_cms_heavy_hitters",
    "dedup_url_canonical",
    "ts_interpolate_linear",
    # ×10 exact copies make EVERY point a DBSCAN core (9 zero-distance
    # neighbors) and multiply co-cell pairs ×100 — the worst case the
    # grid + CC path must absorb; boilerplate's planted footers repeat
    # across 10× the docs, stressing the sentence-df join
    "cluster_dbscan_grid",
    "text_boilerplate_removal",
    # round-5 batch-30+ additions: ×10 docs grow every df and the MLT
    # postings stream; user_ids are NOT shifted, so ×10 events mean
    # 10×-LONGER per-user sequences — exactly the recursion-length
    # stress the applyInPandas folds (EWMA/CUSUM) must absorb; ×10
    # baskets re-stress the weighted-median collapse (distinct prices
    # unchanged, weights ×10)
    "search_more_like_this",
    "ts_ewma_smoothing",
    "ts_cusum_changepoint",
    "agg_weighted_median",
    "events_funnel_windowed",
    # batch 40-49 heavies: ×10 docs make every excerpt find 10 exact
    # containers (candidate fan-out ×10 per prefix bucket); the kNN
    # graph GEMM grows ×100 in work with ×10 duplicate vectors — the
    # block decomposition must absorb it; PMI/skipgram pair tables
    # stay language-bounded under duplication (the two-level claim)
    "dedup_containment",
    "sim_knn_graph_all",
    "text_collocations_pmi",
    "text_skipgram_pairs",
    # sim_sparse_cosine_tfidf's EXACT leg is deliberately NOT here —
    # and still not after the r14 dense pivot: the pivot removed the
    # Σ|posting|² CANDIDATE cost (int64 block GEMM now), but the exact
    # contract's OUTPUT is quadratic in the duplication factor (every
    # duplicate pair scores ≥ 0.5), so the 500 k-doc duplicated stage
    # would emit ~1e10 result rows whatever the plan — infeasible for
    # ANY engine without changing the contract itself.
    # The DIMSUM leg (generators='dimsum': collapse identical vectors →
    # norm-weighted sampling → exact map-dot verify → expand) IS the
    # documented scale path and runs below via SPECIAL_KEYS.
]

# keys that run through a non-default generator at stress scale
SPECIAL_KEYS = {
    "sim_sparse_cosine_tfidf[dimsum]": (
        "sim_sparse_cosine_tfidf",
        {"generators": "dimsum"},
    ),
}
DEFAULT_KEYS = DEFAULT_KEYS + list(SPECIAL_KEYS)

ID_COLS = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    # lineitem duplicates by shifting l_orderkey: 10× baskets with the
    # same part mix — exactly the duplicate skew market-basket pair
    # fan-out must survive (pairs stay per-basket bounded)
    "lineitem": "l_orderkey",
}


def build_stage(spark) -> None:
    from pyspark.sql import functions as F

    from trireme_spark.sources.io import TABLES, table

    if os.path.isdir(os.path.join(STAGE, "_DONE")):
        return
    for name in TABLES:
        df = table(spark, SRC, name)
        id_col = ID_COLS.get(name)
        if id_col:
            copies = [
                df.withColumn(
                    id_col, F.col(id_col) + F.lit(i * SHIFT)
                )
                for i in range(10)
            ]
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        else:
            out = df  # dimension tables keep their cardinality
        out.write.mode("overwrite").parquet(
            os.path.join(STAGE, f"{name}.parquet")
        )
    os.makedirs(os.path.join(STAGE, "_DONE"), exist_ok=True)


def main() -> None:
    keys = sys.argv[1:] or DEFAULT_KEYS

    from trireme_spark import registry
    from trireme_spark.session import get_spark

    spark = get_spark("trireme-dup-stress", cpus="8", driver_memory="16g")
    build_stage(spark)

    # Cache-boundedness gate (r15, verdict item 9): every cache_once /
    # .cache() frame claims to be bounded (signatures, edge lists,
    # dimension rollups — never corpus-grain). At ×10 duplication this
    # asserts it: no cached block may spill to disk, and no single
    # cached frame may exceed CACHE_FRAME_CAP in memory. A frame that
    # trips this is corpus-grain in disguise — the
    # lineitem_association_rules rejection class.
    CACHE_FRAME_CAP = 1 << 30  # 1 GiB

    seen_bad: set[int] = set()

    def check_cached_frames(key: str) -> list[str]:
        # getRDDStorageInfo also lists localCheckpoint blocks, which
        # outlive clearCache() until the ContextCleaner collects them —
        # report each offending RDD id once, attributed to the first
        # key that observes it.
        problems = []
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
            rid = info.id()
            if rid in seen_bad:
                continue
            mem, disk = info.memSize(), info.diskSize()
            msg = None
            if disk > 0:
                msg = (
                    f"{key}: cached frame '{info.name()}' spilled "
                    f"{disk / 1e6:.1f} MB to disk"
                )
            elif mem > CACHE_FRAME_CAP:
                msg = (
                    f"{key}: cached frame '{info.name()}' holds "
                    f"{mem / 1e6:.1f} MB in memory (cap 1 GiB)"
                )
            if msg:
                seen_bad.add(rid)
                problems.append(msg)
        return problems

    failures = []
    for key in keys:
        base, kwargs = SPECIAL_KEYS.get(key, (key, {}))
        fn = registry.QUERIES[base]
        t0 = time.perf_counter()
        try:
            fn(spark, STAGE, **kwargs).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            cache_problems = check_cached_frames(key)
            for p in cache_problems:
                print(f"CACHE-BOUND FAIL {p}", flush=True)
            if cache_problems:
                failures.append(key)
            print(f"{key}: {dt:.1f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue
            failures.append(key)
            print(f"{key}: FAIL {type(exc).__name__}: {exc}", flush=True)
        finally:
            # Per-key cache isolation (r15): earlier keys' frames no
            # longer accumulate, so each key's wall-clock now INCLUDES
            # its own cache fill — times are not comparable to r14's
            # accumulate-mode numbers (which rode shared fills).
            spark.catalog.clearCache()
            import gc

            gc.collect()  # release localCheckpoint refs to the cleaner
    if failures:
        print(f"FAILURES: {failures}")
        sys.exit(1)
    print("DUP-STRESS OK")


if __name__ == "__main__":
    main()
