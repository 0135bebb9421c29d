"""Deterministic sampling: hash-based Bernoulli and stratified rates.

``df.sample()`` draws from a per-partition RNG — results change with
partitioning, task retries, and Spark version, which disqualifies it for
reproducible training-data pipelines (and for oracle comparison). These
operators decide membership from universal-hash arithmetic on a key
column: ``h(k) = (k*a + b) mod P`` with the permille bucket
``h(k) mod 1000`` — the same explicit-hash discipline as the minhash/
simhash family (functions/core.py), identical in any engine, stable
under repartitioning, and naturally consistent across tables (the same
key samples in or out everywhere — exactly what train/eval splits need).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.functions.core import MINHASH_PRIME

# fixed odd multiplier / offset pair for the sampling hash family; any
# (a, b) works, these are the repo-wide defaults so splits are stable
SAMPLE_A = 2654435761
SAMPLE_B = 97531
BERNOULLI_PERMILLE = 100  # hash_sample keeps 10%
MAX_REPEAT = 10  # repeat_to_mixture's cap on one row's repeats
# per-operator hash seeds (sample_bucket's default seed 1 serves
# hash_sample, stratified_sample and mixture_sample)
FIXED_SIZE_SEED = 0
REPEAT_SEED = 2
WEIGHTED_SEED = 4


def snap_weight(w: float) -> Fraction:
    """The exact rational a float mixture weight STANDS FOR: the nearest
    fraction with denominator ≤ 10^6 (so 0.2 means 1/5, not the binary
    double 0.2000…0111). All mixture arithmetic — binding-domain
    selection and permille floors — runs on these exact rationals, which
    makes the thresholds integer-replayable in any engine (the DuckDB
    oracles re-derive them with HUGEINT cross-multiplication from the
    same numerator/denominator literals) instead of depending on float
    equality surviving a SQL round-trip."""
    return Fraction(w).limit_denominator(10**6)


def exact_permille(
    counts: dict[str, int],
    weights: dict[str, float],
    *,
    binding: str,
    cap: int,
) -> dict[str, int]:
    """Permille acceptance/repeat thresholds per domain with the binding
    domain pinned to exactly 1000. ``binding='min'`` → C = min(n_d/w_d)
    (down-sampling: max rate hits 1); ``'max'`` → C = max (up-sampling:
    min repeat hits 1). Pure ``Fraction`` arithmetic end to end: the
    binding test is exact rational equality and every floor is an exact
    integer floor, so no domain can be silently un-pinned by float
    rounding on either engine (the round-3 permille-floor bug class,
    closed for good)."""
    wf = {d: snap_weight(weights[d]) for d in counts}
    ratios = {
        d: Fraction(counts[d], 1) / wf[d] for d in counts if wf[d] > 0
    }
    if not ratios:
        return {}
    c = min(ratios.values()) if binding == "min" else max(ratios.values())
    return {
        d: 1000 if ratios[d] == c
        else min(cap, int(c * wf[d] / counts[d] * 1000))
        for d in ratios
    }


def sample_bucket(key_col: str, seed: int = 1) -> F.Column:
    """Permille bucket 0..999 of a BIGINT key — the membership hash."""
    return (
        (F.col(key_col) * SAMPLE_A + SAMPLE_B * seed) % MINHASH_PRIME
    ) % 1000


def bucket_sql(key_col: str, seed: int = 1) -> str:
    """The identical bucket formula as engine-portable SQL (for oracles)."""
    return f"((({key_col} * {SAMPLE_A} + {SAMPLE_B * seed}) % {MINHASH_PRIME}) % 1000)"


def hash_sample(df: DataFrame) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose ``doc_id`` bucket
    falls below ``BERNOULLI_PERMILLE``. Same key → same decision on any
    cluster, any partitioning, any engine."""
    return df.filter(sample_bucket("doc_id") < BERNOULLI_PERMILLE)


def stratified_sample(
    df: DataFrame,
    *,
    strata_col: str,
    rates_permille: dict[str, int],
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample boilerplate-heavy
    sources, keep all rare ones): membership = bucket < rate(stratum).
    Strata not listed are dropped."""
    rate = F.lit(0)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(permille)).otherwise(rate)
    return df.filter(sample_bucket(key_col) < rate)


def fixed_size_sample(
    df: DataFrame,
    n: int,
    *,
    key_col: str,
) -> DataFrame:
    """Deterministic fixed-SIZE sample: the ``n`` rows whose mixed key hash
    is lowest (ties impossible for distinct keys; key breaks any residual
    tie).

    The reservoir-sample replacement for exact-count draws: rate-based
    sampling can't hit "give me exactly 10k docs", and a true reservoir
    depends on encounter order. ``orderBy(hash).limit(n)`` compiles to
    TakeOrderedAndProject — each partition keeps its local top-n and only
    n*partitions candidate rows reach the driver-side merge; no global
    sort, no full shuffle. Same keys → same sample, any partitioning.
    """
    from assemblagedb_spark.functions.core import mix32_col

    return (
        df.withColumn("__sk", mix32_col(F.col(key_col).cast("long"), FIXED_SIZE_SEED))
        .orderBy(F.col("__sk").asc(), F.col(key_col).asc())
        .limit(n)
        .drop("__sk")
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    *,
    domain_col: str = "source",
) -> DataFrame:
    """Deterministic resampling to a target DOMAIN MIXTURE (DoReMi-style
    static mixing): given target proportions per domain, down-sample
    over-represented domains so the output approaches the target mix while
    keeping 100% of the most-constrained domain.

    Acceptance rate per domain d:  r_d = C * w_d / n_d  with C chosen so
    max(r_d) = 1 (the binding domain keeps everything; nothing is ever
    up-sampled — duplication is a separate, explicit op). Membership is the
    permille hash gate (:func:`sample_bucket`), so the SAME documents are
    kept on every run and on any partitioning.

    Scale: one count aggregate over the domain column (tiny result), rates
    broadcast back as a literal map — the corpus itself is scanned once and
    never shuffled. Domains absent from ``weights`` are dropped.
    """
    counts = {
        r[domain_col]: r["n"]
        for r in df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[domain_col] in weights
    }
    if not counts:
        return df.filter(F.lit(False))
    # exact-rational thresholds, binding domain pinned to 1000 — see
    # exact_permille (no float equality anywhere in the pin)
    permille = exact_permille(counts, weights, binding="min", cap=1000)
    if not permille:
        return df.filter(F.lit(False))
    gate = None
    bucket = sample_bucket("doc_id")
    for d, p in permille.items():
        cond = (F.col(domain_col) == d) & (bucket < p)
        gate = cond if gate is None else (gate | cond)
    return df.filter(gate)


def group_fixed_size_sample(
    df: DataFrame,
    n_per_group: int,
    *,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """Deterministic fixed-size sample PER GROUP: the ``n_per_group``
    lowest-mixed-hash keys within each group (a balanced per-domain /
    per-language draw — the fixed-size companion to rate-based
    ``stratified_sample``).

    One shuffle on the group key; the rank window sorts only within each
    group's partition. Same keys → same rows, any layout.
    """
    from pyspark.sql import Window

    from assemblagedb_spark.functions.core import mix32_col

    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__sk").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__sk", mix32_col(F.col(key_col).cast("long"), FIXED_SIZE_SEED))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__sk", "__rn")
    )


def repeat_to_mixture(
    df: DataFrame,
    weights: dict[str, float],
    *,
    domain_col: str = "source",
) -> DataFrame:
    """Deterministic UP-sampling to a target mixture: each row of an
    under-represented domain is emitted ``floor(r_d)`` or ``ceil(r_d)``
    times (hash-gated fractional part), where r_d = target share / natural
    share normalized so the LARGEST domain keeps repeat 1 — the epoch-
    repetition half of data mixing (small high-quality domains are seen
    multiple times per epoch; nothing is ever dropped).

    Output adds ``epoch`` (0-based repeat index) so downstream shuffling
    can interleave repeats. Rates are clamped to ``MAX_REPEAT`` (beyond
    ~4 epochs repetition stops helping and starts memorizing). One count
    aggregate; the corpus scans once, the explode is per-row local.
    """
    counts = {
        r[domain_col]: r["n"]
        for r in df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")).collect()
        if r[domain_col] in weights and weights[r[domain_col]] > 0
    }
    if not counts:
        return df.filter(F.lit(False)).withColumn("epoch", F.lit(0).cast("long"))
    # normalize so min(r_d) = 1: the best-represented domain repeats
    # exactly once — its permille is pinned to 1000 by exact_permille
    # ("nothing is ever dropped" holds by exact rational arithmetic, not
    # by a float round-trip landing on the right side of 1000)
    permille = exact_permille(
        counts, weights, binding="max", cap=MAX_REPEAT * 1000
    )
    bucket = sample_bucket("doc_id", REPEAT_SEED)
    reps = None
    for d, p in permille.items():
        r = F.lit(p // 1000) + (bucket < (p % 1000)).cast("int")
        cond = F.when(F.col(domain_col) == d, r)
        reps = cond if reps is None else reps.when(F.col(domain_col) == d, r)
    reps = reps.otherwise(F.lit(0))
    return (
        df.withColumn("__reps", reps)
        .filter(F.col("__reps") > 0)
        .withColumn("epoch", F.explode(F.expr("sequence(0, __reps - 1)")))
        .withColumn("epoch", F.col("epoch").cast("long"))
        .drop("__reps")
    )


def split_assign(
    df: DataFrame,
    *,
    val_permille: int = 10,
    test_permille: int = 10,
    seed: int = 3,
) -> DataFrame:
    """Deterministic train/validation/test assignment from the permille
    hash gate: bucket < val → 'val', < val+test → 'test', else 'train'.

    Content-keyed splits are the only splits that survive re-runs,
    re-partitioning, and incremental corpus growth — a random() split
    leaks documents across sets every rerun. Adds a ``split`` column; no
    shuffle (per-row hash gate), so it composes with any downstream scan.
    """
    bucket = sample_bucket("doc_id", seed)
    return df.withColumn(
        "split",
        F.when(bucket < val_permille, F.lit("val"))
        .when(bucket < val_permille + test_permille, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame,
    weight_permille: F.Column,
) -> DataFrame:
    """Deterministic PER-ROW weighted sampling: keep a row iff its permille
    hash bucket falls below its own ``weight_permille`` column (0..1000,
    clamped) — importance downsampling where each document carries its own
    keep probability (e.g. a quality score), the per-row generalization of
    :func:`stratified_sample`'s per-stratum rates.

    Same key → same decision on any partitioning or engine; rows
    with weight ≥ 1000 are always kept, ≤ 0 never. Pure per-row gate — no
    shuffle, composes with any scan.
    """
    w = F.greatest(F.lit(0), F.least(F.lit(1000), weight_permille.cast("long")))
    return df.filter(sample_bucket("doc_id", WEIGHTED_SEED) < w)
