"""Deduplication operators for large-scale text pipelines.

Beyond the reference's own overlap search (which IS a near-dup detector at
block granularity), these are the standard web-scale dedup family, each
designed so the expensive pairwise phase only ever runs on LSH-bucketed
candidates:

- exact:         normalize → md5 → groupBy (one shuffle, fully scalable)
- minhash + LSH: shingles → k universal-hash mins → b bands → bucket join
- simhash:       per-gram signed bit votes → 32/64-bit fingerprint → hamming
- n-gram jaccard: exact set similarity, for candidate verification
- embedding near-dup: cosine over an embedding column (see similarity.py)

All hashing is explicit universal-hash arithmetic (functions/core.py), never
an engine builtin, so results are identical across engines and stable across
versions. Everything stays JVM-side (higher-order array functions, no Python
UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.functions.core import (
    MINHASH_PRIME,
    minhash_coeffs,
    spark_grams_array_expr,
)

SIMHASH_BITS = 32
SIMHASH_SEED = 12345  # the gram hash mix32(g, SIMHASH_SEED)


def _spread_for_fold(docs: DataFrame, key_col: str) -> DataFrame:
    """Spread a narrow scan before a CPU-heavy per-row fold: a corpus file
    small in bytes but large in row count or gram expansion can park the
    whole fold in a handful of tasks. Repartition on the bare key when the
    input arrives in fewer than half the executor slots — guarded so a
    large, already-split input never pays a raw-text shuffle. One helper so
    the parallelism policy is single-sourced across the gram/minhash/
    simhash folds (round-8 review find). Note the probe itself is not free:
    `docs.rdd.getNumPartitions()` converts the plan to an RDD per call, so
    callers on hot paths should filter rows they intend to drop BEFORE
    calling (the spread would shuffle them too) and call at most once per
    fold."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism // 2:
        return docs.repartition(parallelism, key_col)
    return docs


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def normalized_text(text_col: str) -> F.Column:
    """Whitespace-collapsed, lower-cased canonical form."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: (text_hash, keeper_id, n_copies), keeper = min id.

    One hash + one groupBy — the canonical first pass at any scale.
    """
    return (
        docs.select("doc_id", F.md5(normalized_text("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    *,
    k: int = 16,
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT> of length k) — minhash over the distinct
    byte-4-gram shingle set, h_j(g) = (a_j*g + b_j) mod P.

    Computed entirely inside whole-stage codegen: the shingle set is a
    per-row array, each permutation is an array_min over a transform —
    no explode, no shuffle until the band grouping.
    """
    coeffs = minhash_coeffs(k)
    arr_a = "array(" + ", ".join(str(a) for a, _ in coeffs) + ")"
    arr_b = "array(" + ", ".join(str(b) for _, b in coeffs) + ")"
    # Single fold over the shingle set: the (expensive) gram array is
    # evaluated exactly once per row; each shingle updates all k mins via an
    # element-wise zip_with. O(len + len*k) arithmetic per row.
    # g reduces mod P FIRST: byte grams reach 2^32-1 and (2^32)·a would
    # overflow int64; for ASCII grams (always < P) the reduction is the
    # identity, so driver-data signatures are unchanged
    sig = F.expr(
        f"aggregate(array_distinct({spark_grams_array_expr('text')}), "
        f"transform(sequence(1, {k}), i -> CAST({MINHASH_PRIME} AS BIGINT)), "
        f"(acc, g) -> zip_with(acc, sequence(0, {k - 1}), (m, i) -> "
        f"least(m, ((g % {MINHASH_PRIME}) * element_at({arr_a}, i + 1) "
        f"+ element_at({arr_b}, i + 1)) % {MINHASH_PRIME})))"
    )
    # spread the scan before the per-row signature fold (same guard as
    # ngram_overlap_pairs / simhash_fingerprints): a corpus file small in
    # bytes but large in doc count parks the whole interpreted HOF fold in
    # a handful of tasks otherwise (measured: 50k-doc single-file corpus
    # ran the fold 3-wide — one straggler task held the stage for minutes
    # on a 32-core machine); guarded so a large input never pays a
    # raw-text shuffle
    # NULL text has no shingle set: no signature row, never a candidate
    # (the SQL twin's gram CTE unnests nothing for it) — filtered BEFORE
    # the spread so dropped rows are never shuffled (round-8 advice item)
    docs = _spread_for_fold(docs.filter(F.col("text").isNotNull()), "doc_id")
    return docs.select("doc_id", sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become a candidate
    pair. Returns distinct (id_a, id_b), id_a < id_b.

    The band bucket join is an equi-join on (band, band_sig) — shuffle on
    the bucket key only. Candidate volume is Σ C(bucket_size, 2): on a
    corpus whose near-dup density doesn't thin with N (the decade-up
    measurement in SCALING.md — a closed 31-word vocabulary densifies
    quadratically), bucket sizes grow ~linearly with N and the pair
    expansion goes ~N². ``max_bucket`` is the standard guard for that
    regime: buckets larger than the cap are DROPPED before expansion
    (their members are near-identical mega-clusters — exact dedup or the
    remaining bands still surface them; the trade is stated recall on
    pathological clusters for a hard bound on join fan-out). None (the
    default, and every gate's setting) expands everything.
    """
    # both join sides derive from the signatures; materialize them once so
    # the (expensive) minhash fold isn't evaluated twice (skip if the caller
    # already persisted them)
    lvl = signatures.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        signatures = signatures.localCheckpoint(eager=True)
    exploded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("sig", b * rows_per_band + 1, rows_per_band).cast("string")
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    if max_bucket is not None:
        small = (
            exploded.groupBy("band", "band_sig")
            .count()
            .filter(F.col("count") <= max_bucket)
            .select("band", "band_sig")
        )
        exploded = exploded.join(small, ["band", "band_sig"])
    a = exploded.select(F.col("doc_id").alias("id_a"), "band", "band_sig")
    b = exploded.select(F.col("doc_id").alias("id_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated jaccard = fraction of agreeing signature components."""
    sa = signatures.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (agree / F.size("sig_a")).alias("jaccard_est"))
    )


# ---------------------------------------------------------------------------
# Exact n-gram jaccard (candidate verification)
# ---------------------------------------------------------------------------


def ngram_overlap_pairs(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """The shared exact-verification core of candidate-bounded jaccard
    and containment: ``(id_a, id_b, inter, n_a, n_b)`` — per candidate
    pair, the distinct-4-gram intersection size and both shingle-set
    sizes. Jaccard and both containments are pure projections of this
    relation, so a pipeline that wants several similarity scores over the
    same LSH candidates (the normal case) pays the heavy stage once.

    Scale shape: one COMPACT distinct-gram array per document (never an
    exploded (doc, gram) stream), joined to the pair list by id alone —
    two equi-joins whose record count is |pairs|, with the intersection
    computed by the codegen'd ``array_intersect`` inside the row. The
    previous shape (explode → join candidates on id_a → equi-join on
    (id_b, gram) → count) shuffled |pairs| × |grams per doc| skinny rows
    and went from 260s to 12s here when replaced (sf1-class corpus,
    10.5M candidates — the decade-up measurement in SCALING.md; exact
    parity pinned by test_overlap_compact_equals_explode_join). Work per
    pair is O(n_a + n_b) hash intersection, shuffle volume per pair is
    the two gram arrays (~2 KB) instead of ~2·n gram rows.
    ``candidates`` must be DISTINCT (id_a, id_b) pairs, and pairs with
    ZERO gram overlap drop out of the relation (both exactly as before).
    """
    # spread the scan before the gram derivation: a corpus file small in
    # bytes but large in gram expansion can land the whole stage in ONE
    # task; guarded so a large input never pays a raw-text shuffle
    docs = _spread_for_fold(docs, "doc_id")
    gram_sets = docs.select(
        "doc_id",
        F.array_distinct(F.expr(spark_grams_array_expr("text"))).alias("gs"),
    )
    ga = gram_sets.select(
        F.col("doc_id").alias("id_a"), F.col("gs").alias("gs_a")
    )
    gb = gram_sets.select(
        F.col("doc_id").alias("id_b"), F.col("gs").alias("gs_b")
    )
    return (
        candidates.select("id_a", "id_b")
        .join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("gs_a", "gs_b")).cast("long").alias("inter"),
            F.size("gs_a").cast("long").alias("n_a"),
            F.size("gs_b").cast("long").alias("n_b"),
        )
        .filter(F.col("inter") > 0)
    )


def jaccard_from_overlap(
    overlap: DataFrame, *, min_jaccard: float = 0.5
) -> DataFrame:
    """Jaccard projection of :func:`ngram_overlap_pairs` output."""
    return (
        overlap.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")
    )


def containment_from_overlap(overlap: DataFrame) -> DataFrame:
    """Asymmetric-containment projection of :func:`ngram_overlap_pairs`:
    ``containment_a = |A∩B| / |A|`` and ``containment_b = |A∩B| / |B|``.

    Jaccard under-scores a small document wholly quoted inside a big one;
    containment is the sub-document/quotation detector a dedup pipeline
    runs next to jaccard (reference analogue: the asymmetric
    ``AsymmetricBasedOnSourceOnly`` mode of `find`,
    assemblage_db/src/index.rs:230-236)."""
    return overlap.select(
        "id_a", "id_b", "inter", "n_a", "n_b",
        (F.col("inter") / F.col("n_a")).alias("containment_a"),
        (F.col("inter") / F.col("n_b")).alias("containment_b"),
    )


def ngram_jaccard_pairs(docs: DataFrame, *, min_jaccard: float = 0.5) -> DataFrame:
    """Exact jaccard over distinct 4-gram shingle sets: an all-pairs
    postings join (harness scale only). The 100 TB path verifies LSH
    candidates instead: ``jaccard_from_overlap(ngram_overlap_pairs(docs,
    candidates))``, which never runs the quadratic postings self-join.
    """
    # spread the scan before the shingle explode: a corpus file small in
    # bytes but large in gram expansion can land the whole explode in ONE
    # task; guarded so a large input never pays a raw-text shuffle
    docs = _spread_for_fold(docs, "doc_id")
    shingles = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(spark_grams_array_expr("text")))).alias("gram"),
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = shingles.select(F.col("doc_id").alias("id_a"), "gram")
    b = shingles.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return jaccard_from_overlap(
        inter.join(na, "id_a").join(nb, "id_b").select(
            "id_a", "id_b", "inter", "n_a", "n_b"
        ),
        min_jaccard=min_jaccard,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT): bit i is set iff the sum over distinct
    shingles g of sign(bit_i(h(g))) is positive, h(g) = mix32(g,
    SIMHASH_SEED).

    h must fill all ``SIMHASH_BITS`` with decorrelated bits: the previous affine
    (a·g+b) mod (2^31−1) left bit 31 permanently zero (a dead band slice)
    and fed structured low bits; the avalanche mixer fixes both.

    Pure Catalyst higher-order functions — the replayable-in-SQL form the
    DuckDB oracle mirrors, no Python in the hot path. The gram array is
    hashed ONCE up front (``transform`` to a hash array), then the vote
    fold reads plain lambda variables:
    inlining the mixer text into the per-bit CASE instead re-evaluates
    it bits×(its ~8x textual self-expansion) ≈ 256 times per gram —
    interpreted HOF lambdas get no common-subexpression elimination, and
    that exact shape measured ~6x slower end-to-end at sf0.1. A numpy
    Arrow kernel is slower here (warm A/B: ~0.5s vs ~0.3s per 1k docs):
    at ~2 KB/doc the worker round-trips cost more than the fold.
    """
    # NULL text has no shingle set: no fingerprint row (the SQL twin's
    # gram CTE unnests nothing for it; empty text '' keeps its 3
    # padding shingles in both engines) — filtered BEFORE the spread so
    # dropped rows are never shuffled, per _spread_for_fold's policy
    docs = docs.filter(F.col("text").isNotNull())
    # spread the scan before the per-row gram/hash work (same guard as
    # ngram_overlap_pairs): a corpus file small in bytes parks the whole
    # CPU-bound projection in ONE task otherwise
    docs = _spread_for_fold(docs, "doc_id")
    from assemblagedb_spark.functions.core import mix32_spark_text

    bits = SIMHASH_BITS
    h = mix32_spark_text("g", SIMHASH_SEED)
    hashed = f"transform(array_distinct({spark_grams_array_expr('text')}), g -> ({h}))"
    # Single fold: votes[i] = sum over shingles of ±1 by bit i of h(g);
    # simhash bit i = votes[i] > 0.
    votes = (
        f"aggregate({hashed}, "
        f"transform(sequence(0, {bits - 1}), i -> CAST(0 AS BIGINT)), "
        f"(acc, hv) -> zip_with(acc, sequence(0, {bits - 1}), (v, i) -> "
        f"v + CASE WHEN hv div shiftleft(CAST(1 AS BIGINT), i) % 2 = 1 THEN 1 ELSE -1 END))"
    )
    expr = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, i) -> CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return docs.select("doc_id", F.expr(expr).alias("simhash"))


def simhash_band_candidates(fingerprints: DataFrame, *, bands: int = 4) -> DataFrame:
    """Banded candidate pairs for simhash: split each fingerprint into
    ``bands`` contiguous bit-bands and bucket-join on any equal band.

    Pigeonhole guarantee: two fingerprints within hamming distance
    ``bands - 1`` differ in at most ``bands - 1`` bits, so at least one band
    is bit-identical — recall is exactly 1.0 for ``max_hamming <= bands - 1``
    (the Manku et al. WWW'07 construction). Candidate volume for random
    pairs is ~``bands / 2^(SIMHASH_BITS/bands)`` of the cross join (4×8-bit bands:
    ~1.6%), and the join is a bucket equi-join — the 100 TB plan.

    ``SIMHASH_BITS`` need not divide evenly: the fingerprint is partitioned into
    contiguous bands whose widths differ by at most one bit (e.g. 32 bits /
    5 bands -> widths 7,7,6,6,6); the pigeonhole argument only needs a
    partition, not equal widths.
    """
    base, extra = divmod(SIMHASH_BITS, bands)
    widths = [base + (1 if b < extra else 0) for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    banded = fingerprints.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    (
                        F.shiftright("simhash", offsets[b]).bitwiseAND(
                            F.lit((1 << widths[b]) - 1)
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_bits"),
    )
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_bits")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_bits")
    return (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_near_pairs(
    fingerprints: DataFrame, *, max_hamming: int = 3, candidates: DataFrame | None = None
) -> DataFrame:
    """Pairs within hamming distance. All-pairs without ``candidates``
    (verification scale); at 100 TB feed LSH buckets (e.g. split the
    fingerprint into 4 bands of 8 bits and bucket-join on any equal band)."""
    fa = fingerprints.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    fb = fingerprints.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    if candidates is not None:
        joined = candidates.join(fa, "id_a").join(fb, "id_b")
    else:
        joined = fa.crossJoin(fb)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def band_split(
    signatures: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc_id, band, band_sig) — the stored LSH band table of a signature
    set (the index half of :func:`lsh_candidate_pairs`, reusable across
    ingest batches). Persist/bucket this by (band, band_sig) at scale."""
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("sig", b * rows_per_band + 1, rows_per_band).cast("string")
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )


def lsh_incremental_pairs(
    new_signatures: DataFrame,
    corpus_bands: DataFrame,
    *,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental near-dup ingest: candidate (new_id, corpus_id) pairs
    between a NEW batch and the stored corpus band table, without touching
    the corpus signatures.

    The steady-state shape of a 100 TB dedup pipeline: the corpus index is
    built once (:func:`band_split`, bucketed by band key); each arriving
    batch explodes its own bands (tiny) and broadcast-joins them against
    the stored table — the corpus is scanned but never shuffled, and work
    is proportional to the batch, not the corpus. Feed the pairs to
    ``minhash_jaccard_estimate`` / ``ngram_overlap_pairs`` to verify,
    then to the components keeper to merge into clusters.
    """
    nb = band_split(
        new_signatures, bands=bands, rows_per_band=rows_per_band
    ).select(F.col("doc_id").alias("new_id"), "band", "band_sig")
    return (
        F.broadcast(nb)
        .join(corpus_bands, ["band", "band_sig"])
        .filter(F.col("new_id") != F.col("doc_id"))
        .select("new_id", F.col("doc_id").alias("corpus_id"))
        .distinct()
    )


def fingerprint_near_pairs(
    fingerprints: DataFrame,
    *,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Substring-overlap candidate pairs from winnowing fingerprints (the
    pair half of MOSS: documents sharing ≥ ``min_shared`` selected window
    hashes overlap in actual substrings, Schleimer et al. 2003) — the
    scalable stand-in for exact substring dedup (Lee et al. 2022): shared
    fingerprints ⇒ shared ≥ k-char spans, with no suffix array built.

    ``max_df`` drops fingerprints present in more than that many documents
    BEFORE the self-join — ubiquitous substrings (headers, license
    boilerplate) would otherwise create quadratic hub buckets; they carry
    no discriminating signal and are the classic MOSS df-cap. The join is
    then an equi-join on fingerprint with bucket sizes ≤ max_df.
    """
    fps = fingerprints.select(
        "doc_id", F.col("fingerprint").alias("fp")
    ).distinct()
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    f2 = fps.join(keep, "fp")
    a = f2.select(F.col("doc_id").alias("id_a"), "fp")
    b = f2.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
