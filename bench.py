"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec}, "sf": ...}.

Methodology: one untimed warmup execution of EACH query absorbs
whole-stage-codegen, Arrow init, and any intra-query cache fill (the
dedup keys cache their multi-use shingle-set subtree; the fill belongs
to warmup, not steady state — measured 6.9 s fill vs 2.0 s steady at
sf0.1); each query is then timed as the best of THREE steady-state runs
(BASELINE.md's like-for-like interpretation). Best-of-3 (was best-of-2
through r8) per the r8 verdict: two rounds running, the single committed
number was the noisiest observation of the tree (r7: 10.71 driver vs
9.58-9.92 same-tree; r8: 12.12 vs 10.43-11.26 band) — one extra timed
run per key costs ~12 s total at sf0.1 and tightens the number the
per-key 2x gate consumes.
"""

from __future__ import annotations

import gc
import json
import os
import time

HEADLINE = [
    "agg_pricing_summary",   # q1 shape (BASELINE.md)
    "limit_topk",            # q3 shape
    "join_multiway",         # q5 shape
    "win_ranking",           # window rank
    "agg_count_distinct",
    "fn_json",
    "sim_knn_cosine",        # exact cosine top-10
    "dedup_fuzzy_minhash",
    "text_tfidf",
    # round-3 training-data keys
    "text_decontaminate",
    "cluster_assign",
    "shuffle_deterministic",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from trireme_spark import registry
    from trireme_spark.session import get_spark

    # Shuffle width: session.shuffle_width(), the width prep() applies.
    spark = get_spark("trireme-bench", cpus=cpus)

    keys = [k for k in HEADLINE if k in registry.QUERIES]
    def run(key: str) -> None:
        # noop sink: full plan execution on the executors, zero driver
        # transfer — row-for-row materialization without measuring Python
        # pickle bandwidth on wide results (standard Spark bench practice).
        df = registry.QUERIES[key](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for key in keys:
        # Per-key cache isolation: earlier keys' cached subtrees (shingle
        # sets, GEMM blocks) otherwise accumulate in executor memory and
        # inflate later keys via GC pressure (measured: minhash 4.2 s at
        # bench slot 8 vs 2.2 s in a fresh session, same config). Each
        # key's own warmup run refills its cache, so steady-state timing
        # still measures the warm-cache plan. clearCache() does not reach
        # localCheckpoint blocks (the graph keys' iteration barriers); they
        # are released only once their Python DataFrames are collected and
        # the ContextCleaner runs, so collect them here.
        spark.catalog.clearCache()
        gc.collect()
        # The warmup run is also timed and reported as first_run_sec
        # (r15, reporting honesty): it includes codegen, Arrow init and
        # any intra-query cache FILL, so cache_once keys cannot hide the
        # fill cost behind warmup. Comparisons stay on the steady-state
        # best-of-3 field ("queries"), unchanged methodology.
        t0 = time.perf_counter()
        run(key)  # per-key warmup: codegen, Arrow, cache fill
        first_run[key] = round(time.perf_counter() - t0, 4)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run(key)
            best = min(best, time.perf_counter() - t0)
        times[key] = round(best, 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(times.values()), 4),
                "unit": "sec",
                "queries": times,
                "first_run_sec": first_run,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
