"""Materialized overlaps: the set-similarity self-join.

Reference semantics (``assemblage_db/src/index.rs:302-347``): after every
write, recompute the overlaps of changed blocks against the whole index in
SymmetricOverlap mode, keep score > 0.5, drop self-pairs, and maintain the
reverse edge on each affected partner. A node never overlaps its own
ancestors/descendants (``tests/overlap_add.rs:65-115``) — block granularity
plus an ancestor anti-join produce this.

Scale design: the naive postings self-join explodes on frequent grams
(a gram shared by d blocks yields d² join rows). ``overlap_pairs`` therefore
supports *candidate capping by document frequency*: grams with df above a
cap are excluded from candidate generation, and the exact intersection is
then recomputed only for surviving candidate pairs. Because a score > 0.5
pair shares > half its grams, any such pair still shares at least one gram
below the cap unless >half its grams are globally frequent — the cap is set
high enough (default off) that the exact path is used at harness scale; at
100 TB a MinHash-LSH prefilter (operators/dedup.py) feeds this the candidate
pairs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.operators.search import OVERLAP_MIN_SCORE


def overlap_pairs(
    grams: DataFrame,
    counts: DataFrame,
    *,
    min_score: float = OVERLAP_MIN_SCORE,
    changed: DataFrame | None = None,
    excluded_pairs: DataFrame | None = None,
    both_directions: bool = True,
    broadcast_grams: bool = False,
) -> DataFrame:
    """All block pairs with overlap score > ``min_score``.

    grams: (node_id, gram, occurrences); counts: (node_id, gram_count).
    ``changed`` (optional, column ``node_id``) restricts the *source* side —
    the incremental-maintenance path (reference recomputes only changed
    blocks' overlaps). ``excluded_pairs`` (src_id, dst_id) is anti-joined
    (ancestor/descendant exclusion). Returns
    (src_id, dst_id, a, b, intersection, score).
    """
    left = grams
    if changed is not None:
        left = grams.join(
            F.broadcast(changed.select(F.col("node_id"))), "node_id"
        )
    l = left.select(
        F.col("node_id").alias("src_id"),
        "gram",
        F.col("occurrences").alias("occ_a"),
    )
    r = grams.select(
        F.col("node_id").alias("dst_id"),
        "gram",
        F.col("occurrences").alias("occ_b"),
    )
    if broadcast_grams:
        # small-index regime: broadcast the smaller relation so the other
        # side stays in its scan partitions and the pair partial-aggregation
        # combines locally per partition instead of per gram-shuffle slice.
        # With a ``changed`` subset the changed-block postings are the small
        # side; in the full self-join it's the probe copy. At large scale
        # leave this off — the gram-key shuffle join is the plan that
        # survives a corpus that doesn't fit one executor.
        if changed is not None:
            l = F.broadcast(l)
        else:
            r = F.broadcast(r)
    # When both sides are the whole index the result is symmetric: compute
    # only ordered pairs (half the join/aggregation volume) and mirror at
    # the end. With a ``changed`` subset the sides differ, so keep both
    # orientations (reverse-edge maintenance adds the mirrors).
    symmetric_halving = changed is None
    pair_filter = (
        (F.col("src_id") < F.col("dst_id"))
        if symmetric_halving
        else (F.col("src_id") != F.col("dst_id"))
    )
    inter = (
        l.join(r, "gram")
        .filter(pair_filter)
        .groupBy("src_id", "dst_id")
        .agg(F.sum(F.least("occ_a", "occ_b")).cast("long").alias("intersection_raw"))
    )
    ca = counts.select(F.col("node_id").alias("src_id"), F.col("gram_count").alias("source_count"))
    cb = counts.select(F.col("node_id").alias("dst_id"), F.col("gram_count").alias("match_count"))
    scored = (
        inter.join(ca, "src_id")
        .join(cb, "dst_id")
        .withColumn("a", F.expr("(255 * source_count) div greatest(source_count, match_count)").cast("int"))
        .withColumn("b", F.expr("(255 * match_count) div greatest(source_count, match_count)").cast("int"))
        .withColumn(
            "intersection",
            F.expr("(255 * intersection_raw) div greatest(source_count, match_count)").cast("int"),
        )
        .withColumn("score", F.col("intersection") / F.least("a", "b"))
        .filter(F.col("score") > min_score)
    )
    if excluded_pairs is not None:
        scored = scored.join(excluded_pairs, ["src_id", "dst_id"], "left_anti")
    out = scored.select("src_id", "dst_id", "a", "b", "intersection", "score")
    if (symmetric_halving or changed is not None) and both_directions:
        # mirror: symmetric halving restores the (dst, src) rows; with a
        # changed subset this is the reverse-edge maintenance of
        # index.rs:302-347 (partners get the mirrored overlap row).
        rev = out.select(
            F.col("dst_id").alias("src_id"),
            F.col("src_id").alias("dst_id"),
            F.col("b").alias("a"),
            F.col("a").alias("b"),
            "intersection",
            "score",
        )
        out = out.unionByName(rev)
        if changed is not None:
            out = out.distinct()
    return out


_DENSE_CHUNK = 8  # rows per work unit; chunking amortizes Arrow round-trips


def _u8_scores(c_i, c, i_raw, rng, i, min_score):
    """Shared u8-floored scoring for the broadcast kernels: one block's raw
    intersections against every block → (keep, a, b, intersection, score)
    per data.rs:521-529. SINGLE-SOURCED so the dense and sparse kernels
    cannot drift apart in score semantics (route invariance is a pinned
    contract of the front door)."""
    import numpy as np

    mx = np.maximum(c_i, c)
    mx_safe = np.where(mx == 0, 1, mx)
    a = 255 * c_i // mx_safe
    b = 255 * c // mx_safe
    inter = 255 * i_raw // mx_safe
    mn = np.minimum(a, b)
    score = np.where(mn == 0, 0.0, inter / np.where(mn == 0, 1, mn))
    keep = (score > min_score) & (rng != i)
    return keep, a, b, inter, score


def _emit_pairs_batch(acc, idl):
    """Assemble one Arrow batch from accumulated per-row keeps (the shared
    tail of both broadcast kernels); per-row yields cost more in
    serialization than the whole numpy pass."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "src_id": np.concatenate([np.repeat(idl[t[0]], len(t[2])) for t in acc]),
            "dst_id": np.concatenate([idl[t[1]] for t in acc]),
            "a": np.concatenate([t[2] for t in acc]).astype("int32"),
            "b": np.concatenate([t[3] for t in acc]).astype("int32"),
            "intersection": np.concatenate([t[4] for t in acc]).astype("int32"),
            "score": np.concatenate([t[5] for t in acc]),
        }
    )


def _mirror_changed_distinct(out: DataFrame) -> DataFrame:
    """Reverse-edge maintenance for the broadcast kernels' changed path:
    pin the kernel output (the union reads it twice), mirror, and distinct
    (changed-changed pairs are computed from both ends)."""
    out = out.localCheckpoint(eager=True)
    rev = out.select(
        F.col("dst_id").alias("src_id"),
        F.col("src_id").alias("dst_id"),
        F.col("b").alias("a"),
        F.col("a").alias("b"),
        "intersection",
        "score",
    )
    return out.unionByName(rev).distinct()


def overlap_pairs_dense(
    grams: DataFrame,
    *,
    min_score: float = OVERLAP_MIN_SCORE,
    max_dense_cells: int = 64_000_000,
    max_nnz: int = 8_000_000,
    changed: DataFrame | None = None,
    precounted_nnz: int | None = None,
) -> DataFrame | None:
    """Dense-regime physical strategy for the symmetric overlap self-join.

    When the corpus sits in the *dense-overlap regime* — few distinct grams,
    most block pairs sharing most of their grams — the postings join emits
    ~sum(df²) rows and the inverted index is the wrong plan (at harness
    scale: 1156 distinct grams × 1000 blocks → 77M join rows for 615k output
    pairs). Here the multiset intersection has a closed form over dense count
    vectors::

        sum_g min(a_g, b_g) = (|a| + |b| - L1(a - b)) / 2

    so the whole self-join collapses to pairwise L1 over a (blocks × vocab)
    count matrix. The matrix is collected and broadcast exactly like the
    build side of a broadcast-hash join, and each task computes its slice of
    rows against the full matrix with vectorized numpy (Arrow-batched
    ``mapInPandas``) — no shuffle at all.

    Returns ``None`` when the matrix exceeds the broadcast budget; callers
    then use :func:`overlap_pairs`, the plan that survives a 100 TB corpus
    (vocab 2^32, sparse overlap). Same exact integer semantics as
    ``overlap_pairs`` (u8 normalization per ``data.rs:521-529``), both
    directions emitted.

    ``changed`` (column ``node_id``) restricts the *source* rows of the L1
    pass — the incremental-maintenance regime (index.rs:302-347 recomputes
    only changed blocks' overlaps). Only |changed| matrix rows are scanned
    against the full matrix; the reverse edges onto affected partners are
    mirrored from the computed half, exactly like the sparse path.
    """
    import numpy as np
    import pandas as pd

    # one cheap count() guards the collect; vocab/block sizes are derived
    # from the collected batch itself (a countDistinct pre-pass costs more
    # than the whole kernel). The front door passes its stats aggregate's
    # row count through ``precounted_nnz`` so the guard costs no extra job.
    nnz = grams.count() if precounted_nnz is None else precounted_nnz
    if nnz > max_nnz:
        return None

    spark = grams.sparkSession
    # Arrow transfer + factorize: the collect is the build side of a
    # broadcast join, not a driver-side compute loop
    pdf = grams.select("node_id", "gram", "occurrences").toArrow().to_pandas()
    if len(pdf) == 0:
        return None
    node_codes, id_index = pd.factorize(pdf["node_id"])
    gram_codes, _ = pd.factorize(pdf["gram"])
    if len(id_index) * (gram_codes.max() + 1) > max_dense_cells:
        return None
    occ = pdf["occurrences"].to_numpy()
    # int16 halves-again the memory traffic of the L1 pass; per-block gram
    # counts beyond int16 range force the sparse path (never at block scale:
    # a block is one paragraph)
    if occ.max() >= 2**15:
        return None
    mat = np.zeros((len(id_index), gram_codes.max() + 1), dtype=np.int16)
    mat[node_codes, gram_codes] = occ
    id_list = id_index.to_numpy()
    tot = mat.sum(axis=1, dtype=np.int64)  # gram_count per block
    if changed is None:
        sel = np.arange(len(id_list))
    else:
        # bounded by the same budget as the matrix collect (a subset of its
        # row ids); scan only changed rows against the full matrix
        ch = changed.select("node_id").toArrow().to_pandas()["node_id"].to_numpy()
        sel = np.flatnonzero(np.isin(id_list, ch))
    b_mat = spark.sparkContext.broadcast((mat, tot, id_list, sel))

    id_type = dict(grams.dtypes)["node_id"]
    out_schema = (
        f"src_id {id_type}, dst_id {id_type}, a int, b int, "
        "intersection int, score double"
    )

    def kernel(batches):
        m, c, idl, sl = b_mat.value
        n = len(c)
        rng = np.arange(n)
        for pdf_in in batches:
            acc = []
            for start_i in pdf_in["i"].to_numpy():
                for i in sl[start_i : start_i + _DENSE_CHUNK]:
                    l1 = np.abs(m - m[i]).sum(axis=1, dtype=np.int64)
                    i_raw = (c[i] + c - l1) // 2
                    keep, a, b, inter, score = _u8_scores(
                        c[i], c, i_raw, rng, i, min_score
                    )
                    if keep.any():
                        acc.append((i, keep, a[keep], b[keep], inter[keep], score[keep]))
            if not acc:
                continue
            yield _emit_pairs_batch(acc, idl)

    starts = list(range(0, len(sel), _DENSE_CHUNK))
    if not starts:
        return spark.createDataFrame([], out_schema)
    par = min(spark.sparkContext.defaultParallelism, len(starts))
    idx = spark.createDataFrame([(s,) for s in starts], "i int")
    out = idx.repartition(par).mapInPandas(kernel, out_schema)
    if changed is not None:
        # an unpinned mapInPandas would re-run the dense L1 pass for each
        # union branch — exactly the work the changed-row restriction
        # exists to avoid (review finding, round 4); the helper pins first
        out = _mirror_changed_distinct(out)
    return out


def overlap_pairs_sparse(
    grams: DataFrame,
    *,
    min_score: float = OVERLAP_MIN_SCORE,
    max_sparse_nnz: int = 64_000_000,
    changed: DataFrame | None = None,
    precounted_expanded: int | None = None,
) -> DataFrame | None:
    """Open-vocabulary sibling of :func:`overlap_pairs_dense`: the same
    broadcast + chunked-scan strategy, but over a COMPRESSED SPARSE
    representation, for corpora whose vocabulary blows the dense matrix
    budget while the postings themselves still fit a broadcast.

    Identity that makes the sparse kernel exact: expanding each block's
    gram multiset to (gram, copy) elements (copy k present iff
    occurrences ≥ k) turns the multiset intersection into a BINARY set
    intersection — ``sum_g min(a_g, b_g) = |expand(a) ∩ expand(b)|`` — so
    one ``np.bincount`` over the concatenated postings lists of a block's
    elements yields its exact intersection with EVERY other block at
    once. Work is sum_e df(e)² (the true pair-sharing mass), fully
    vectorized, zero shuffle; on an open vocabulary df(e) thins as the
    corpus grows, which is exactly the regime where the round-8 exact
    batch was a structural DNF (the postings JOIN materialized the same
    mass as shuffled rows; this scan keeps it in a per-task integer
    gather).

    Returns ``None`` when the expanded postings exceed ``max_sparse_nnz``
    (broadcast budget ~8 bytes/element); callers fall back to the
    distributed prefix plan. Output/semantics identical to
    :func:`overlap_pairs_dense` (both directions, u8-floored score,
    ``changed`` restricts scanned rows with mirrored reverse edges).
    """
    import numpy as np
    import pandas as pd

    if precounted_expanded is not None:
        expanded = precounted_expanded
    else:
        expanded = grams.agg(
            F.sum("occurrences").cast("long").alias("n")
        ).collect()[0]["n"]
    if expanded is not None and expanded > max_sparse_nnz:
        return None
    spark = grams.sparkSession
    id_type = dict(grams.dtypes)["node_id"]
    out_schema = (
        f"src_id {id_type}, dst_id {id_type}, a int, b int, "
        "intersection int, score double"
    )
    if expanded is None:  # empty corpus: trivially in budget, no pairs
        return spark.createDataFrame([], out_schema)
    pdf = grams.select("node_id", "gram", "occurrences").toArrow().to_pandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], out_schema)
    occ = pdf["occurrences"].to_numpy()
    # expand to (block, element) incidence: element = (gram, copy) —
    # vectorized (cumsum offsets, no per-row arange): the expansion runs
    # on the driver for up to max_sparse_nnz elements
    rep = np.repeat(np.arange(len(pdf)), occ)
    starts = np.cumsum(occ) - occ
    copy = np.arange(rep.size, dtype=np.int64) - starts[rep] + 1
    node_codes, id_index = pd.factorize(pdf["node_id"])
    blocks = rep  # row index per incidence
    elem_keys = pd.MultiIndex.from_arrays(
        [pdf["gram"].to_numpy()[rep], copy]
    )
    elem_codes, _ = pd.factorize(elem_keys)
    bid = node_codes[blocks]
    # CSR by element: postings[eptr[e]:eptr[e+1]] = block ids holding e
    order = np.argsort(elem_codes, kind="stable")
    postings = bid[order].astype(np.int32)
    eptr = np.zeros(elem_codes.max() + 2, dtype=np.int64)
    np.add.at(eptr, elem_codes + 1, 1)
    eptr = np.cumsum(eptr)
    # CSR by block: elems[bptr[i]:bptr[i+1]] = element ids of block i
    order_b = np.argsort(bid, kind="stable")
    blk_elems = elem_codes[order_b].astype(np.int64)
    bptr = np.zeros(len(id_index) + 1, dtype=np.int64)
    np.add.at(bptr, bid + 1, 1)
    bptr = np.cumsum(bptr)
    tot = np.diff(bptr).astype(np.int64)  # gram_count per block
    id_list = id_index.to_numpy()
    if changed is None:
        sel = np.arange(len(id_list))
    else:
        ch = changed.select("node_id").toArrow().to_pandas()["node_id"].to_numpy()
        sel = np.flatnonzero(np.isin(id_list, ch))
    b_csr = spark.sparkContext.broadcast(
        (postings, eptr, blk_elems, bptr, tot, id_list, sel)
    )

    def kernel(batches):
        post, ep, be, bp, c, idl, sl = b_csr.value
        n = len(c)
        rng = np.arange(n)
        for pdf_in in batches:
            acc = []
            for start_i in pdf_in["i"].to_numpy():
                for i in sl[start_i : start_i + _DENSE_CHUNK]:
                    es = be[bp[i] : bp[i + 1]]
                    if len(es) == 0:
                        continue
                    gathered = np.concatenate(
                        [post[ep[e] : ep[e + 1]] for e in es]
                    )
                    i_raw = np.bincount(gathered, minlength=n).astype(np.int64)
                    keep, a, b, inter, score = _u8_scores(
                        c[i], c, i_raw, rng, i, min_score
                    )
                    if keep.any():
                        acc.append((i, keep, a[keep], b[keep], inter[keep], score[keep]))
            if not acc:
                continue
            yield _emit_pairs_batch(acc, idl)

    starts = list(range(0, len(sel), _DENSE_CHUNK))
    if not starts:
        return spark.createDataFrame([], out_schema)
    par = min(spark.sparkContext.defaultParallelism, len(starts))
    idx = spark.createDataFrame([(s,) for s in starts], "i int")
    out = idx.repartition(par).mapInPandas(kernel, out_schema)
    if changed is not None:
        out = _mirror_changed_distinct(out)
    return out


def overlap_pairs_prefix(
    grams: DataFrame,
    counts: DataFrame | None = None,
    *,
    min_score: float = OVERLAP_MIN_SCORE,
    excluded_pairs: DataFrame | None = None,
    both_directions: bool = True,
) -> DataFrame:
    """EXACT symmetric overlaps via prefix-filtered candidates — the plan
    for corpora whose vocabulary is too large for the dense matrix and
    whose Zipf head makes the naive postings self-join ~B² (every pair
    shares head grams). Same output as :func:`overlap_pairs` with
    ``changed=None``; only the physical strategy differs.

    The filter (ppjoin-family, Xiao et al. WWW'08, adapted to this
    engine's 255-floored multiset score): expand each block's gram
    multiset to (gram, copy) elements — copy k exists iff occurrences ≥ k
    — so multiset intersection becomes set intersection of equal-sized
    expansions. For a passing pair, score > 0.5 forces (through the
    integer floors of data.rs:521-529: 2·floor(255i/m) ≥ floor(255c/m)+1
    ⇒ 255i/m > 255c/(2m) ⇒ i ≥ θ := floor(c/2)+1) the pair to share MORE
    than half the smaller block's elements. Order ALL elements by one
    global total order (document frequency asc, gram, copy) and let e* be
    the globally-rarest SHARED element: every other shared element ranks
    above e* in both blocks, so rank_x(e*) ≤ cnt_x − θ + 1 = ceil(c/2)
    AND rank_y(e*) ≤ cnt_y − θ + 1 — the SAME element lands in the
    smaller block's rarest-half prefix and in the larger block's first
    cnt_y − floor(c/2) positions (ppjoin's positional filter). Candidates
    are therefore the (gram, copy) equi-join of prefixes against ranked
    expansions with both rank conditions as residual predicates, plus the
    size cut cnt_y ≤ 255·cnt_x (beyond it floor(255·cnt_x/cnt_y) = 0 and
    the score is NULL) — Zipf-head elements rank LAST inside both blocks,
    so the df² head blow-up of the naive postings join disappears while
    exactness is a theorem, not a recall measurement. Survivors get the
    exact multiset intersection via a per-pair map_zip_with over two
    compact gram→occurrence maps (~2 KB a side, the dedup compact-verify
    shape).

    100 TB audit: every step is a key-partitioned equi-join / aggregation
    (elements shuffle on (gram, copy), blocks on node_id, candidates on
    the pair) — no broadcast of corpus-sized state, no driver collect, no
    cross join. Worst case (all blocks near-identical) degrades to the
    output size, which is itself B² then — output-complete, not a plan
    defect.

    Measured density band (round 9, /tmp/open_sf1): prefix filtering
    thins poorly on LONG multisets at this threshold — 10k blocks of
    ~500-word Zipfian docs yield 29.6M candidates (59% of all pairs) for
    609,738 true output rows (48x), because most block pairs share some
    mid-rank (gram, copy) element; the 2.5k-block subset completes in
    ~36s (33,944 rows). The verify stage's per-pair compact maps are the
    cost at that candidate volume (~2 KB × candidates of shuffle): under
    the harness's static 32 shuffle partitions that is ~GBs per task and
    the local JVM GC-thrashes, while at a scale-appropriate setting
    (``SPARK_GRAFT_SHUFFLE=512``; AQE coalesced the verify exchange to
    328 tasks) the SAME plan completes the 10k-block subset EXACTLY —
    609,738 rows, equal to the sparse kernel's count on the same input —
    in 631s. Partition sizing, not the plan; a real cluster runs with
    thousands of shuffle partitions and AQE does this sizing by default.
    The 46x gap vs the sparse kernel's 13.6s on the same subset is why
    the front door prefers the broadcast kernels whenever they fit; on
    corpora both too large for every broadcast AND this dense, exact
    all-pairs overlap is intrinsically candidate-bound — route
    maintenance through ``changed`` (incremental) or the candidate-
    bounded LSH family instead.
    """
    if counts is None:
        counts = grams.groupBy("node_id").agg(
            F.sum("occurrences").cast("long").alias("gram_count")
        )
    cnt = counts.select("node_id", F.col("gram_count").cast("long"))
    # (node_id, gram, copy) expanded elements; copies are 1..occurrences
    el = grams.select(
        "node_id",
        "gram",
        F.explode(F.expr("sequence(1, occurrences)")).alias("copy"),
    )
    edf = el.groupBy("gram", "copy").agg(F.count(F.lit(1)).alias("edf"))
    from pyspark.sql import Window

    ranked = (
        el.join(edf, ["gram", "copy"])
        .join(cnt, "node_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("node_id").orderBy("edf", "gram", "copy")
            ),
        )
        # consumed twice (prefix probe side + full index side of the
        # candidate self-join): pin, or the expand+df+window subtree runs
        # once per side — measured 10x on the gate (13.5s -> 1.4s).
        # localCheckpoint (not persist): blocks self-release on GC instead
        # of accumulating in the CacheManager across calls
        .localCheckpoint(eager=True)
    )
    # prefix = the ceil(count/2) rarest elements of each block (the bound
    # for e* on the smaller side, rank ≤ cnt − θ + 1 with θ = floor(c/2)+1)
    prefix = ranked.filter(
        F.col("rnk") <= F.expr("CAST(ceil(gram_count / 2) AS BIGINT)")
    ).select(
        F.col("node_id").alias("src_id"),
        "gram",
        "copy",
        F.col("rnk").alias("rnk_a"),
        F.col("gram_count").alias("cnt_a"),
    )
    full = ranked.select(
        F.col("node_id").alias("dst_id"),
        "gram",
        "copy",
        F.col("rnk").alias("rnk_b"),
        F.col("gram_count").alias("cnt_b"),
    )
    # canonical orientation: probe side is the smaller block (ties by id),
    # so each unordered pair is generated exactly once, from the side
    # whose prefix the pigeonhole argument applies to. The two residual
    # predicates are what keep Zipf-head elements from pairing everything:
    # - positional: e* must also sit within the larger block's first
    #   cnt_b − floor(cnt_a/2) positions (head elements rank near cnt_b)
    # - size: past cnt_b > 255·cnt_a the u8-floored score is NULL
    # Round-10 negative result, recorded so it is not re-tried: the
    # ppjoin SUFFIX bound (per matched element e, intersection ≤
    # min(rnk_a, rnk_b) − 1 + 1 + min(cnt_a − rnk_a, cnt_b − rnk_b),
    # min'd over matches, pruned against θ = floor(cnt_a/2)+1) adds
    # NOTHING here — it is implied by the two window filters below:
    # any surviving row has rnk_b ≤ cnt_b − floor(cnt_a/2) (so
    # cnt_b − rnk_b ≥ floor(cnt_a/2)) and rnk_a ≤ ceil(cnt_a/2) (so
    # cnt_a − rnk_a ≥ floor(cnt_a/2)), hence the bound is ≥
    # 1 + floor(cnt_a/2) = θ for every candidate. Measured to confirm:
    # 0 of 30,778 pairs pruned at the gate, 0 of 9,693,647 on the
    # open-vocabulary 5k-doc corpus. The count-based variant (shared
    # prefix elements P + suffix bound at the highest-ranked match)
    # degenerates the same way at P = 1. The per-element window filters
    # ARE the tightest positional filter for this threshold.
    cand = (
        prefix.join(full, ["gram", "copy"])
        .filter(
            (F.col("cnt_a") < F.col("cnt_b"))
            | (
                (F.col("cnt_a") == F.col("cnt_b"))
                & (F.col("src_id") < F.col("dst_id"))
            )
        )
        .filter(
            F.col("rnk_b")
            <= F.col("cnt_b") - F.expr("CAST(floor(cnt_a / 2) AS BIGINT)")
        )
        .filter(F.col("cnt_b") <= 255 * F.col("cnt_a"))
        .select("src_id", "dst_id")
        .distinct()
    )
    # Spread the candidate relation before the verify stage: its rows are
    # two ids (tiny in bytes) but each costs a full map_zip_with multiset
    # intersection downstream, so AQE's byte-based coalescing parks the
    # whole verify in ONE task (measured at the gate: 30,778 candidates ->
    # 1 partition, verify single-threaded; round-9 audit). Keyless
    # round-robin with an EXPLICIT count: a keyed repartition on the pair
    # key would be collapsed into the distinct's identical exchange
    # whenever the counts match (exactly the bench configuration), and
    # AQE never coalesces a user-specified numPartitions. The
    # sort-before-repartition determinism cost is two long columns per
    # row — negligible against the per-pair intersection it parallelizes.
    cand = cand.repartition(
        grams.sparkSession.sparkContext.defaultParallelism
    )
    # per-block totals come from the SAME counts relation the ranking cuts
    # used (re-summing grams here would both duplicate a corpus-wide
    # aggregation and open a latent rank-vs-score disagreement if a
    # caller's counts ever diverged from grams)
    maps = grams.groupBy("node_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("gram", F.col("occurrences").cast("long")))
        ).alias("gmap"),
    ).join(cnt.select("node_id", F.col("gram_count").alias("gcnt")), "node_id")
    scored = (
        cand.join(
            maps.select(
                F.col("node_id").alias("src_id"),
                F.col("gmap").alias("gmap_a"),
                F.col("gcnt").alias("source_count"),
            ),
            "src_id",
        )
        .join(
            maps.select(
                F.col("node_id").alias("dst_id"),
                F.col("gmap").alias("gmap_b"),
                F.col("gcnt").alias("match_count"),
            ),
            "dst_id",
        )
        .withColumn(
            "intersection_raw",
            F.expr(
                "aggregate(map_values(map_zip_with(gmap_a, gmap_b, "
                "(k, va, vb) -> least(coalesce(va, 0L), coalesce(vb, 0L)))), "
                "0L, (acc, v) -> acc + v)"
            ),
        )
        .withColumn("a", F.expr("(255 * source_count) div greatest(source_count, match_count)").cast("int"))
        .withColumn("b", F.expr("(255 * match_count) div greatest(source_count, match_count)").cast("int"))
        .withColumn(
            "intersection",
            F.expr("(255 * intersection_raw) div greatest(source_count, match_count)").cast("int"),
        )
        .withColumn("score", F.col("intersection") / F.least("a", "b"))
        .filter(F.col("score") > min_score)
    )
    if excluded_pairs is not None:
        scored = scored.join(excluded_pairs, ["src_id", "dst_id"], "left_anti")
    out = scored.select("src_id", "dst_id", "a", "b", "intersection", "score")
    if both_directions:
        # pin before mirroring: the union reads `out` once directly and
        # once through `rev`; unpinned, the candidate+verify pipeline
        # would execute twice (same reasoning as overlap_pairs_dense's
        # changed path)
        out = out.localCheckpoint(eager=True)
        rev = out.select(
            F.col("dst_id").alias("src_id"),
            F.col("src_id").alias("dst_id"),
            F.col("b").alias("a"),
            F.col("a").alias("b"),
            "intersection",
            "score",
        )
        out = out.unionByName(rev)
    return out


def store_overlaps(
    grams: DataFrame,
    counts: DataFrame | None = None,
    *,
    min_score: float = OVERLAP_MIN_SCORE,
    changed: DataFrame | None = None,
    excluded_pairs: DataFrame | None = None,
    both_directions: bool = True,
    max_dense_cells: int = 64_000_000,
    max_nnz: int = 8_000_000,
    max_sparse_nnz: int = 64_000_000,
    dispatch_out: dict | None = None,
) -> DataFrame:
    """THE front door for materialized overlaps (round-8 verdict #3): one
    entry with the reference's exact semantics (score > 0.5, reverse
    edges, exclusion anti-join; ``assemblage_db/src/index.rs:302-347``),
    dispatching the physical strategy by measured corpus density instead
    of leaving the choice to each caller.

    Route, from ONE cheap stats aggregate over the gram relation
    (rows / distinct grams / distinct blocks):

    - ``dense`` — the broadcast count-matrix L1 kernel
      (:func:`overlap_pairs_dense`), when blocks × vocab fits the
      broadcast budget: the closed-vocabulary regime, where the postings
      join would emit ~sum(df²) rows for output that a vectorized scan
      computes shuffle-free.
    - ``sparse`` — the broadcast-CSR bincount kernel
      (:func:`overlap_pairs_sparse`), when the vocabulary outgrows the
      dense matrix but the expanded postings still fit a broadcast: the
      open-vocabulary single-machine-index regime — the round-8 50k-doc
      open corpus, a structural DNF for the exact postings JOIN, computes
      here in seconds because the same pair-sharing mass is an integer
      gather instead of a shuffle.
    - ``prefix`` — the exact prefix+positional-filtered candidate plan
      (:func:`overlap_pairs_prefix`), when the index outgrows any
      broadcast: the fully distributed plan; candidates collapse on
      corpora whose rare elements are discriminative, and degrade toward
      ALL-PAIRS when block multisets are long and share mid-rank
      elements (measured, round 9: 10k 500-word Zipfian blocks → 29.6M
      candidates = 59% of all pairs for 610k true output — see the
      density note in :func:`overlap_pairs_prefix`). The route ordering
      encodes that measurement: broadcast kernels are always preferred
      while they fit.
    - ``sparse-incremental`` — the df-bounded postings join restricted to
      ``changed`` blocks (:func:`overlap_pairs`), when a changed set is
      given and no broadcast kernel fits: only changed-block postings
      probe the index.

    ``dispatch_out`` (optional dict) receives ``{"route": <name>}`` —
    the branch-vacuity hook (tests pin that both corpus families actually
    take different branches).

    ``excluded_pairs`` and ``both_directions`` are applied HERE, after the
    chosen kernel, never inside it: the kernels differ in which
    orientation they compute first (dense/sparse emit both directions,
    the join plans mirror a canonical half), so a kernel-side anti-join
    would make exclusion orientation-sensitive per route — the front
    door's route-invariance contract forbids that. Post-kernel, exclusion
    removes exactly the listed (src, dst) orientations on every route,
    and ``both_directions=False`` keeps the same canonical half on every
    route (src < dst for the full self-join; the changed-side orientation
    in incremental mode).
    """
    stats = grams.agg(
        F.count(F.lit(1)).alias("nnz"),
        F.countDistinct("gram").alias("vocab"),
        F.countDistinct("node_id").alias("blocks"),
        F.sum("occurrences").cast("long").alias("expanded"),
    ).collect()[0]
    dense_ok = (
        stats["nnz"] <= max_nnz
        and stats["blocks"] * stats["vocab"] <= max_dense_cells
    )
    out = None
    if dense_ok:
        out = overlap_pairs_dense(
            grams,
            min_score=min_score,
            max_dense_cells=max_dense_cells,
            max_nnz=max_nnz,
            changed=changed,
            precounted_nnz=stats["nnz"],
        )
        if out is not None and dispatch_out is not None:
            dispatch_out["route"] = "dense"
    if out is None:
        out = overlap_pairs_sparse(
            grams,
            min_score=min_score,
            max_sparse_nnz=max_sparse_nnz,
            changed=changed,
            precounted_expanded=stats["expanded"],
        )
        if out is not None and dispatch_out is not None:
            dispatch_out["route"] = "sparse"
    if out is None:
        if counts is None:
            counts = grams.groupBy("node_id").agg(
                F.sum("occurrences").cast("long").alias("gram_count")
            )
        if changed is not None:
            if dispatch_out is not None:
                dispatch_out["route"] = "sparse-incremental"
            out = overlap_pairs(
                grams,
                counts,
                min_score=min_score,
                changed=changed,
                broadcast_grams=True,
            )
        else:
            if dispatch_out is not None:
                dispatch_out["route"] = "prefix"
            out = overlap_pairs_prefix(grams, counts, min_score=min_score)
    if excluded_pairs is not None:
        out = out.join(excluded_pairs, ["src_id", "dst_id"], "left_anti")
    if not both_directions:
        if changed is None:
            out = out.filter(F.col("src_id") < F.col("dst_id"))
        else:
            out = out.join(
                F.broadcast(
                    changed.select(F.col("node_id").alias("src_id"))
                ).distinct(),
                "src_id",
            )
    return out
