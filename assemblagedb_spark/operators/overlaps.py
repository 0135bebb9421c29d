"""Materialized overlaps: the set-similarity self-join.

Reference semantics (``assemblage_db/src/index.rs:302-347``): after every
write, recompute the overlaps of changed blocks against the whole index in
SymmetricOverlap mode, keep score > 0.5, drop self-pairs, and maintain the
reverse edge on each affected partner. A node never overlaps its own
ancestors/descendants (``tests/overlap_add.rs:65-115``) — block granularity
plus an ancestor anti-join produce this.

Physical plans, chosen by the one front door :func:`store_overlaps`:

- :func:`overlap_pairs_sparse` — the postings collected to broadcast CSR
  arrays and scanned one block row at a time with an integer gather; no
  shuffle. Used whenever the expanded postings fit the broadcast budget.
- :func:`overlap_pairs_prefix` — the exact prefix+positional-filtered
  candidate plan, all key-partitioned equi-joins, for an index that
  outgrows any broadcast.
- :func:`overlap_pairs` with ``changed`` — the postings join restricted to
  changed blocks, for incremental maintenance past the broadcast budget.

Every plan returns the same exact relation: both directions, u8-floored
scores per ``data.rs:521-529`` (:func:`search.overlap_columns`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.operators.search import OVERLAP_MIN_SCORE, overlap_columns

_SCAN_CHUNK = 8  # rows per work unit; chunking amortizes Arrow round-trips
# the sparse kernel's broadcast budget in expanded (gram, copy) elements
# (~8 bytes each); store_overlaps routes to a distributed plan beyond it
MAX_SPARSE_NNZ = 64_000_000


def _mirror(out: DataFrame, *, distinct: bool) -> DataFrame:
    """Add the reverse edge of every overlap row (index.rs:302-347 keeps
    both). Pins ``out`` first: the union reads it twice, and unpinned the
    whole pair computation would run once per branch. ``distinct`` drops
    the duplicates a changed subset produces, whose changed-changed pairs
    are computed from both ends."""
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
    return out.distinct() if distinct else out


def overlap_pairs(
    grams: DataFrame,
    counts: DataFrame,
    *,
    changed: DataFrame | None = None,
) -> DataFrame:
    """All block pairs with score > ``OVERLAP_MIN_SCORE``, both directions,
    from the postings self-join on ``gram``.

    grams: (node_id, gram, occurrences); counts: (node_id, gram_count).
    ``changed`` (optional, column ``node_id``) restricts the *source* side —
    the incremental-maintenance path (reference recomputes only changed
    blocks' overlaps); the changed postings are broadcast, so the index side
    stays in its scan partitions, and the reverse edges onto untouched
    partners are mirrored. Returns (src_id, dst_id, a, b, intersection,
    score).
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
    if changed is not None:
        l = F.broadcast(l)
    r = grams.select(
        F.col("node_id").alias("dst_id"),
        "gram",
        F.col("occurrences").alias("occ_b"),
    )
    # When both sides are the whole index the result is symmetric: compute
    # only ordered pairs (half the join/aggregation volume) and mirror at
    # the end. With a ``changed`` subset the sides differ, so keep both
    # orientations; the mirror then adds the partners' reverse edges.
    pair_filter = (
        (F.col("src_id") < F.col("dst_id"))
        if changed is None
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
    scored = overlap_columns(inter.join(ca, "src_id").join(cb, "dst_id")).filter(
        F.col("score") > OVERLAP_MIN_SCORE
    )
    out = scored.select("src_id", "dst_id", "a", "b", "intersection", "score")
    return _mirror(out, distinct=changed is not None)


def overlap_pairs_sparse(
    grams: DataFrame, *, changed: DataFrame | None = None
) -> DataFrame | None:
    """Broadcast-CSR strategy for the symmetric overlap self-join: the
    postings are collected and broadcast like the build side of a
    broadcast-hash join, and each task scans its slice of block rows
    against them with vectorized numpy (Arrow-batched ``mapInPandas``).

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
    gather). On the closed-vocabulary gate corpus it also beats a dense
    count-matrix L1 kernel at sf0.1 and sf1-class (SCALING_R10.md).

    Returns ``None`` when the expanded postings exceed ``MAX_SPARSE_NNZ``
    (broadcast budget ~8 bytes/element); callers fall back to the
    distributed plans. Emits both directions, u8-floored scores;
    ``changed`` (column ``node_id``) restricts the scanned rows — the
    incremental-maintenance regime — and the scan itself emits the reverse
    edge onto every partner no row of the scan covers, so the output needs
    no mirror pass or distinct.
    """
    import numpy as np
    import pandas as pd

    expanded = grams.agg(
        F.sum("occurrences").cast("long").alias("n")
    ).collect()[0]["n"]
    if expanded is not None and expanded > MAX_SPARSE_NNZ:
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
    # on the driver for up to MAX_SPARSE_NNZ elements
    rep = np.repeat(np.arange(len(pdf)), occ)
    starts = np.cumsum(occ) - occ
    copy = np.arange(rep.size, dtype=np.int64) - starts[rep]  # 0-based
    node_codes, id_index = pd.factorize(pdf["node_id"])
    gram_codes, _ = pd.factorize(pdf["gram"])
    # one int64 key per (gram, copy): factorizing it is ~10x faster than
    # a MultiIndex of the pairs (3.3 s → 0.2 s at sf1-class, one thread)
    elem_codes, _ = pd.factorize(gram_codes[rep] * np.int64(occ.max()) + copy)
    bid = node_codes[rep]
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
        scanned = np.zeros(n, dtype=bool)
        scanned[sl] = True
        for pdf_in in batches:
            # per scanned row: (src, dst, a, b, intersection, score) arrays,
            # concatenated into one Arrow batch (per-row yields cost more
            # in serialization than the whole numpy pass)
            acc = []
            for start_i in pdf_in["i"].to_numpy():
                for i in sl[start_i : start_i + _SCAN_CHUNK]:
                    es = be[bp[i] : bp[i + 1]]
                    if len(es) == 0:
                        continue
                    gathered = np.concatenate(
                        [post[ep[e] : ep[e + 1]] for e in es]
                    )
                    i_raw = np.bincount(gathered, minlength=n).astype(np.int64)
                    d = np.flatnonzero(i_raw)
                    d = d[d != i]
                    # u8 floors of overlap_columns; c[i] ≥ 1 since es is
                    # non-empty, and a zero min(a, b) scores NULL there
                    mx = np.maximum(c[i], c[d])
                    a = 255 * c[i] // mx
                    b = 255 * c[d] // mx
                    inter = 255 * i_raw[d] // mx
                    mn = np.minimum(a, b)
                    score = inter / np.where(mn == 0, 1, mn)
                    k = (mn > 0) & (score > OVERLAP_MIN_SCORE)
                    if k.any():
                        acc.append(
                            (np.full(k.sum(), i), d[k], a[k], b[k], inter[k], score[k])
                        )
                    # reverse edges (index.rs:302-347) onto unscanned
                    # partners; a scanned partner emits its own row
                    r = k & ~scanned[d]
                    if r.any():
                        acc.append(
                            (d[r], np.full(r.sum(), i), b[r], a[r], inter[r], score[r])
                        )
            if not acc:
                continue
            src, dst, a, b, inter, score = (np.concatenate(x) for x in zip(*acc))
            yield pd.DataFrame(
                {
                    "src_id": idl[src],
                    "dst_id": idl[dst],
                    "a": a.astype("int32"),
                    "b": b.astype("int32"),
                    "intersection": inter.astype("int32"),
                    "score": score,
                }
            )

    starts = list(range(0, len(sel), _SCAN_CHUNK))
    if not starts:
        return spark.createDataFrame([], out_schema)
    par = min(spark.sparkContext.defaultParallelism, len(starts))
    idx = spark.createDataFrame([(s,) for s in starts], "i int")
    return idx.repartition(par).mapInPandas(kernel, out_schema)


def overlap_pairs_prefix(grams: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """EXACT symmetric overlaps via prefix-filtered candidates — the plan
    for corpora whose postings are too large for any broadcast and whose
    Zipf head makes the naive postings self-join ~B² (every pair shares
    head grams). Same output as :func:`overlap_pairs` with
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
    the front door prefers the broadcast kernel whenever it fits; on
    corpora both too large for the broadcast AND this dense, exact
    all-pairs overlap is intrinsically candidate-bound — route
    maintenance through ``changed`` (incremental) or the candidate-
    bounded LSH family instead.
    """
    return _mirror(_prefix_half(grams, counts), distinct=False)


def _prefix_half(grams: DataFrame, counts: DataFrame | None) -> DataFrame:
    """:func:`overlap_pairs_prefix` before its mirror pass: each passing
    pair in one orientation. Plan inspection reads this frame (the
    mirror's union hides the candidate pipeline)."""
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
    )
    return overlap_columns(scored).filter(F.col("score") > OVERLAP_MIN_SCORE).select(
        "src_id", "dst_id", "a", "b", "intersection", "score"
    )


def store_overlaps(
    grams: DataFrame,
    counts: DataFrame | None = None,
    *,
    changed: DataFrame | None = None,
    excluded_pairs: DataFrame | None = None,
) -> DataFrame:
    """THE front door for materialized overlaps (round-8 verdict #3): one
    entry with the reference's exact semantics (score > 0.5, reverse
    edges, exclusion anti-join; ``assemblage_db/src/index.rs:302-347``),
    choosing the physical strategy instead of leaving it to each caller.

    Routes:

    - ``sparse`` — the broadcast-CSR bincount kernel
      (:func:`overlap_pairs_sparse`), whenever the expanded postings fit
      ``MAX_SPARSE_NNZ``: the single-machine-index regime, closed or open
      vocabulary — the round-8 50k-doc open corpus, a structural DNF for
      the exact postings JOIN, computes here in seconds because the same
      pair-sharing mass is an integer gather instead of a shuffle.
    - ``prefix`` — the exact prefix+positional-filtered candidate plan
      (:func:`overlap_pairs_prefix`), when the index outgrows the
      broadcast: the fully distributed plan; candidates collapse on
      corpora whose rare elements are discriminative, and degrade toward
      ALL-PAIRS when block multisets are long and share mid-rank
      elements (measured, round 9: 10k 500-word Zipfian blocks → 29.6M
      candidates = 59% of all pairs for 610k true output — see the
      density note in :func:`overlap_pairs_prefix`). The route ordering
      encodes that measurement: the broadcast kernel is always preferred
      while it fits.
    - ``sparse-incremental`` — the postings join restricted to
      ``changed`` blocks (:func:`overlap_pairs`), when a changed set is
      given and the broadcast does not fit: only changed-block postings
      probe the index.

    ``excluded_pairs`` is applied HERE, after the chosen kernel, never
    inside it: the kernels differ in which orientation they compute first
    (the sparse kernel emits both directions, the join plans mirror a
    canonical half), so a kernel-side anti-join would make exclusion
    orientation-sensitive per route — the front door's route-invariance
    contract forbids that. Post-kernel, exclusion removes exactly the
    listed (src, dst) orientations on every route.
    """
    out = overlap_pairs_sparse(grams, changed=changed)
    if out is None and changed is None:
        out = overlap_pairs_prefix(grams, counts)
    elif out is None:
        if counts is None:
            counts = grams.groupBy("node_id").agg(
                F.sum("occurrences").cast("long").alias("gram_count")
            )
        out = overlap_pairs(grams, counts, changed=changed)
    if excluded_pairs is not None:
        out = out.join(excluded_pairs, ["src_id", "dst_id"], "left_anti")
    return out
