"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() over the final frame); the
first run of the session includes JVM/codegen warmup, so a tiny warmup query
runs first and is not counted.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "search",
    "find_symmetric",
    "overlaps",
    "overlaps_sparse",
    "overlaps_prefix",
    "overlaps_incremental",
    "reindex_parents",
    "dedup_exact",
    "dedup_lsh_pairs",
    "dedup_lsh_capped",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "embedding_neardup",
    "embedding_clusters",
    "ann_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "events_sessions",
    "view_tile",
    "graph_preview",
    "text_quality",
    "text_lang_id",
    "text_winnowing",
    "text_lang_ngram",
    "text_chunks",
    "text_packing",
    "pipeline_filter",
    "mvcc_latest",
    "mvcc_asof",
    "events_tumbling",
    "events_rollup",
    "events_quantiles",
    "events_moving",
    "graph_descendants",
    "graph_ancestor_path",
    "graph_components",
    "graph_pagerank",
    "graph_triangles",
    "siblings",
    "display_class",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
    "text_decontam",
    "pii_scrub",
    "text_repetition",
    "select_budget",
    "training_order",
    "text_boilerplate",
    "embedding_centroids",
    "embedding_assign",
    "distinct_hll",
    "sketch_countmin",
    "text_tfidf",
    "layout_zorder",
    "kmeans_train",
    "bloom_semijoin",
    "sample_topn",
    "sample_mixture",
    "dedup_incremental",
    "table_profile",
    "events_funnel",
    "events_retention",
    "mvcc_diff",
    "graph_ppr",
    "ann_ivf_trained",
    "text_outliers",
    "sketch_join_est",
    "crossmodal_centroids",
    "sample_repeat",
    "events_outliers_grouped",
    # round-3 additions (BENCH_r03 ⊇ BENCH_r02: keys only ever append)
    "dedup_lsh_verify",
    "dedup_containment",
    "split_assign",
    "select_best_group",
    "graph_bfs_depth",
    "text_chunk_dedup",
    "text_surprisal",
    "events_rollup_cascade",
    "embedding_quantize",
    "ann_pq_codes",
    "sketch_rollup",
    "graph_kcore",
    "sample_weighted",
    "ann_pq_adc",
    "events_twa",
    "events_drift_state",
    "events_histogram",
    # round-5 additions: residual IVFADC build (cold) + serving (warm)
    # + gate-checked streaming ingest
    "ann_ivfpq_codes",
    "ann_ivfpq",
    "ann_ivfpq_rerank",  # two-tier refine serves warm off the same index
    "streaming_ivfpq_ingest",
    "streaming_rollup_ingest",
    "streaming_hll_ingest",
    "streaming_sessions_ingest",
    # round-6 additions: broadcast subscription via the checkpointed
    # episode file source (state after 3 pulls == batch export), and the
    # REAL image-header decode loop (engine-built PNG bytes parsed back)
    "streaming_broadcast_ingest",
    "multimodal_decode",
    "multimodal_resize",  # real PNG codec: encode -> resize -> decode
    "multimodal_audio",   # real WAV codec: PCM frames -> waveform stats
    "multimodal_jpeg",    # real baseline JPEG: Huffman/DCT lossy roundtrip
    "multimodal_video",   # real y4m container: frame-sampled luma stats
    "multimodal_gif",     # real animated GIF: LZW decode + compositing
]


# Several gates share session-cached build artifacts (harness memos): the
# dedup overlap relation, the trained k-means state, the PQ codebook+codes
# index. To keep the bench honest about BOTH costs, the build-side key of
# each group is timed COLD (ONLY its own group's cache dropped before each
# timed run -> the full build pipeline cost) while the serving-side keys
# that follow measure the warm marginal cost — the actual shape of a
# deployed engine (index built once, served many). Clearing only the
# group's own cache keeps other groups' warm numbers independent of list
# order; tools/scale_curve.py imports this mapping so the two stay in sync.
COLD_KEY_CACHES = {
    "dedup_lsh_verify": "_OVERLAP_CACHE",  # dedup_containment serves warm
    "kmeans_train": "_KMEANS_CACHE",       # ann_ivf_trained serves warm
    "ann_pq_codes": "_PQ_CACHE",           # ann_pq_adc serves warm
    "ann_ivfpq_codes": "_IVFPQ_CACHE",     # ann_ivfpq serves warm
}


def reset_shared_caches(name: str) -> None:
    cache_attr = COLD_KEY_CACHES.get(name)
    if cache_attr is not None:
        from assemblagedb_spark.harness import clear_artifact_cache

        clear_artifact_cache(cache_attr)


# ---------------------------------------------------------------------------
# Host-drift canary (round-9 verdict #1)
# ---------------------------------------------------------------------------
# Two consecutive rounds adjudicated double-digit committed-snapshot
# inflation as host envelope (r7: 85.6 -> r8: 104s best-of on identical
# untouched keys; interleaved same-code A/Bs spanned 1.5-2.7x in ONE day).
# The canary makes that envelope a measured column instead of a prose
# adjudication: a small PINNED set of pure-JVM probes — no harness code, no
# parquet, no Python workers — timed at the start, middle and end of every
# bench run. Their sources and baselines are sha-pinned by
# tests/test_artifact_immutability.py: changing a canary is changing the
# ruler, and must re-baseline explicitly.
#
# The committed artifact then carries, per key: the absolute time, the run's
# canary factor (median canary total / frozen baseline total), and the
# canary-NORMALIZED time (absolute / factor). Round-over-round adjudication
# applies the 1.5x bar to the NORMALIZED column; the absolute column remains
# what the driver's 2x gate sees.


def _canary_shuffle(spark):
    # scheduler + shuffle write/read + partial aggregation
    from pyspark.sql import functions as F

    return (
        spark.range(0, 8_000_000)
        .withColumn("k", F.col("id") % 4096)
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def _canary_join(spark):
    # sort-merge/hash join machinery on two generated relations
    from pyspark.sql import functions as F

    a = spark.range(0, 4_000_000).withColumn("k", F.col("id") % 100_000)
    b = spark.range(0, 100_000).withColumn("v", F.col("id") * 3)
    return a.join(b.withColumnRenamed("id", "k2"), a["k"] == F.col("k2")).agg(
        F.sum("v").alias("s")
    )


def _canary_codegen(spark):
    # whole-stage-codegen arithmetic throughput, no exchange
    from pyspark.sql import functions as F

    c = (F.col("id") * 2654435761) % 2**31
    return spark.range(0, 100_000_000).select(
        F.sum((c * c) % 997).alias("s")
    )


CANARY_QUERIES = {
    "canary_shuffle": _canary_shuffle,
    "canary_join": _canary_join,
    "canary_codegen": _canary_codegen,
}

# Frozen reference totals (seconds, min-of-2 per key, summed): measured at
# the round-9 close on the bench host in a quiet window. factor = measured
# total / this total; factor 1.0 = the reference envelope, 2.0 = the host
# is running at half the reference throughput. NEVER retune silently — the
# immutability test pins these values with the canary sources.
CANARY_BASELINE_TOTAL = 0.75


def time_canaries(spark, runs: int = 2) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, fn in CANARY_QUERIES.items():
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            fn(spark).collect()
            best = min(best, time.time() - t0)
        out[name] = best
    return out


def warmup(spark, sf_dir: str) -> None:
    """JVM + parquet footer reads + Python-UDF worker pool warmup (the 32
    workers cost ~6s to spawn; that's provisioning, not query time)."""
    import pandas as _pd

    from assemblagedb_spark.harness import SPARK_QUERIES

    SPARK_QUERIES["mvcc_last_updated"](spark, sf_dir).collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: (_pd.DataFrame({"x": [1]}) for _ in it), "x int"
    ).count()
    # warm the canary plans too: the first canary leg must measure the
    # host, not the canaries' own one-off codegen/JIT
    for fn in CANARY_QUERIES.values():
        fn(spark).collect()


def time_queries(
    spark, sf_dir: str, names: list[str], runs: int = 2
) -> dict[str, float]:
    """Min-of-``runs`` wall time per query with the cold-key cache resets
    (the single timing discipline — tools/scale_curve.py imports this so
    SCALING.md measures exactly what BENCH_LOCAL.json does). The first
    run pays one-off codegen/JIT; the min reflects steady-state
    throughput (materialized indexes persist across queries, as they
    would in a deployed engine). Returns UNROUNDED seconds — callers
    round for display only, so ratio fits never divide by a rounded
    zero."""
    from assemblagedb_spark.harness import SPARK_QUERIES

    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            reset_shared_caches(name)
            t0 = time.time()
            SPARK_QUERIES[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        out[name] = best
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from assemblagedb_spark.session import get_spark

    spark = get_spark("assemblagedb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    warmup(spark, sf_dir)
    # canary legs interleave the suite: start / middle / end. The median
    # total is the run's envelope sample (median, not min: the canary
    # measures the HOST during this run, so a one-off quiet leg must not
    # mask a loaded session)
    canary_runs = [time_canaries(spark)]
    half = len(BENCH_QUERIES) // 2
    timings = {
        name: round(t, 3)
        for name, t in time_queries(spark, sf_dir, BENCH_QUERIES[:half]).items()
    }
    canary_runs.append(time_canaries(spark))
    timings.update(
        {
            name: round(t, 3)
            for name, t in time_queries(
                spark, sf_dir, BENCH_QUERIES[half:]
            ).items()
        }
    )
    canary_runs.append(time_canaries(spark))

    canary_totals = sorted(sum(c.values()) for c in canary_runs)
    canary_median = canary_totals[len(canary_totals) // 2]
    factor = canary_median / CANARY_BASELINE_TOTAL
    normalized = {k: round(v / factor, 3) for k, v in timings.items()}

    total = round(sum(timings.values()), 3)
    payload = json.dumps(
        {
            "metric": "headline-query wall time (engine operator suite)",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "canary": {
                "legs": [
                    {k: round(v, 3) for k, v in c.items()} for c in canary_runs
                ],
                "median_total": round(canary_median, 3),
                "baseline_total": CANARY_BASELINE_TOTAL,
                "factor": round(factor, 3),
            },
            "queries_normalized": normalized,
            "value_normalized": round(sum(normalized.values()), 3),
        }
    )
    print(payload)
    # the driver's capture truncates long stdout tails — also write the
    # full line next to the repo so per-query regression diffing never
    # depends on a truncated artifact (BENCH_LOCAL.json is committed each
    # round; see ROTATION.md round-4 plan)
    try:
        with open(bench_local_path(), "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass


def bench_local_path() -> str:
    """The BENCH_LOCAL.json side file main() writes: next to this script."""
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )


if __name__ == "__main__":
    main()
