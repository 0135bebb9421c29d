"""Corpus selection operators: global running totals without a single-node
sort, token-budget selection, deterministic training order, boilerplate
n-gram filtering.

The shared primitive is a two-phase global prefix aggregate: a naive
``Window.orderBy(...)`` with no partition key collapses the whole relation
into ONE task — correct on a laptop, a non-starter on 100 TB. Instead:

1. ``repartitionByRange`` on the total order (each partition holds a
   contiguous key range; Spark samples boundaries),
2. a per-partition window computes the LOCAL prefix,
3. per-partition totals (one row per partition — a few hundred rows at any
   scale) come to the driver, an exclusive prefix over them is broadcast
   back, and local + offset = global.

Every executor does one local sort of its own range; nothing global ever
materializes on one node. The order columns must form a total order (pass a
unique tiebreaker) so equal keys cannot straddle a range boundary
ambiguously.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

_PID = "__pid"
_LOCAL = "__local"
_OFFSET = "__offset"
IQR_WHISKER = 3  # Tukey fences sit this many IQRs outside the quartiles


def _local_prefix(
    df: DataFrame, order: Sequence[Column], value: Column, parts: int
) -> DataFrame:
    """Phases 1-2 as a lazy plan: ``parts`` range partitions on ``order``,
    each with its LOCAL inclusive running sum of ``value``."""
    ranged = df.repartitionByRange(parts, *order).withColumn(
        _PID, F.spark_partition_id()
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn(_LOCAL, F.sum(value).over(w))


def _two_phase_prefix(
    df: DataFrame,
    order: Sequence[Column],
    value: Column,
    out_col: str,
    parts: int,
) -> DataFrame:
    """Global inclusive running SUM of ``value`` in ``order`` over ``parts``
    range partitions — distributed two-phase plan (see module docstring)."""
    # Pin the sorted local prefix: the totals collect below and the final
    # join both consume it, and without pinning, the range shuffle +
    # per-partition sort would execute twice. localCheckpoint (not
    # persist) so the blocks are ContextCleaner-reclaimed when the result
    # goes out of scope — persist() registers in the SQL CacheManager and
    # accumulates forever in a long-lived session.
    # The lazy plan lives in ``_local_prefix`` so that plan inspection
    # (localCheckpoint truncates the visible plan) reads it directly: no
    # flag or module global exists that could change a production plan.
    local = _local_prefix(df, order, value, parts).localCheckpoint(eager=True)
    totals = {
        r[_PID]: r["t"]
        for r in local.groupBy(_PID).agg(F.sum(value).alias("t")).collect()
    }
    acc = 0
    offsets = []
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    spark = df.sparkSession
    off = spark.createDataFrame(offsets, f"{_PID} int, {_OFFSET} long")
    return (
        local.join(F.broadcast(off), _PID)
        .withColumn(out_col, (F.col(_LOCAL) + F.col(_OFFSET)).cast("long"))
        .drop(_PID, _LOCAL, _OFFSET)
    )


def _parallelism(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def global_row_number(
    df: DataFrame, order: Sequence[Column], out_col: str = "row_idx"
) -> DataFrame:
    """1-based global row number over the total order (running count)."""
    return _two_phase_prefix(df, order, F.lit(1), out_col, _parallelism(df))


def select_token_budget(docs: DataFrame, budget: int) -> DataFrame:
    """Greedy quality-ordered selection: keep documents in descending
    ``score`` (ties broken by ascending ``doc_id``) while the INCLUSIVE
    cumulative ``n_tokens`` stays ≤ ``budget``.

    The standard "best N tokens" curation step: rank the corpus by a quality
    score and cut at the training-token budget. Output is the kept set with
    its cumulative position, so the caller can audit the cut point.
    """
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    ranked = _two_phase_prefix(
        docs, order, F.col("n_tokens"), "cum_tokens", _parallelism(docs)
    )
    return ranked.filter(F.col("cum_tokens") <= budget)


def training_order(docs: DataFrame, *, seed: int = 0) -> DataFrame:
    """Deterministic global shuffle for training: each document gets a
    pseudorandom ``shuffle_key`` (Knuth multiplicative hash of its id
    followed by an xorshift finalizer — an explicit arithmetic formula any
    engine can replay, not an engine hash) and a dense 1-based
    ``order_idx`` in shuffle-key order.

    The finalizer matters: an affine-only hash maps ``seed`` to a constant
    shift of every key, so different seeds would yield (nearly) the SAME
    permutation. Two xorshift-multiply rounds (the public "hash32 /
    lowbias32" mixer; multiplier 0x45D9F3B kept < 2^27 so every
    intermediate stays inside int64) avalanche low bits into the ordering-
    dominant high bits, making each seed an independent epoch order.

    Writing the corpus sorted by ``order_idx`` yields a reproducible
    training order independent of input layout, partition count, or
    engine — re-running with the same seed gives the same epoch order.
    """
    from assemblagedb_spark.functions.core import mix32_col

    keyed = docs.withColumn(
        "shuffle_key", mix32_col(F.col("doc_id"), seed).cast("long")
    )
    return global_row_number(
        keyed, [F.col("shuffle_key").asc(), F.col("doc_id").asc()], "order_idx"
    )


def boilerplate_ngram_stats(
    docs: DataFrame,
    *,
    n: int = 8,
    df_threshold: int = 2,
) -> DataFrame:
    """Per-document boilerplate exposure via corpus-wide n-gram document
    frequency (the n-gram analogue of CCNet's shared-line removal —
    reference corpora carry headers/footers/license blocks repeated across
    thousands of pages).

    A word ``n``-gram is *boilerplate* when it occurs in ≥ ``df_threshold``
    distinct documents. Output: (doc_id, n_grams, n_boiler_grams) counting
    gram INSTANCES, so ``n_boiler_grams / n_grams`` is the fraction of the
    document covered by cross-document repeated material.

    Scale: the corpus is exploded ONCE into per-document gram counts (one
    map-side-partial groupBy); document frequency then falls out of that
    counts table (each (doc, gram) row is one document) without touching
    the raw text again, and a single gram equi-join annotates it back. No
    per-pair work, no cartesian; skewed mega-grams are exactly the ones the
    threshold flags, and AQE splits their join partitions.
    """
    from assemblagedb_spark.operators.decontam import exploded_ngrams

    # a corpus file small relative to its gram expansion can land the
    # whole scan in ONE task (split sizing is byte-based); spread the rows
    # before the CPU-heavy tokenize+explode. Guarded on the actual scan
    # parallelism: a genuinely large input already has plenty of
    # partitions and must NOT eat a full shuffle of its raw text.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism // 2:
        docs = docs.repartition(parallelism, "doc_id")
    counts = (
        exploded_ngrams(docs, n=n)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # consumed twice (doc-frequency derivation + final join);
        # localCheckpoint so the blocks self-release on GC instead of
        # accumulating in the CacheManager across calls
        .localCheckpoint(eager=True)
    )
    gram_df = counts.groupBy("gram").agg(
        F.count(F.lit(1)).alias("gram_docfreq")
    )
    return (
        counts.join(gram_df, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("gram_docfreq") >= df_threshold, F.col("cnt"))
                .otherwise(F.lit(0))
            ).cast("long").alias("n_boiler_grams"),
        )
    )


def exact_quantiles(df: DataFrame, value: Column, qs: Sequence[float]) -> list[int]:
    """EXACT discrete quantiles of ``value`` at 100 TB: global rank via the
    two-phase range-partitioned row number (no single-node sort), then one
    tiny lookup of the order-statistic positions ceil(q * n).

    ``percentile_approx`` trades error for speed; when the quantile FEEDS A
    FILTER (outlier fences, budget cuts) the error compounds downstream —
    this is the exact path. Returns driver-side values (len(qs) numbers).
    """
    projected = df.select(value.alias("__v"))
    ranked = global_row_number(projected, [F.col("__v").asc()], "__r").persist()
    try:
        n = ranked.count()
        if n == 0:
            return [None for _ in qs]
        import math

        positions = {max(1, math.ceil(q * n)) for q in qs}
        vals = {
            r["__r"]: r["__v"]
            for r in ranked.filter(F.col("__r").isin(list(positions))).collect()
        }
        return [vals[max(1, math.ceil(q * n))] for q in qs]
    finally:
        # both consuming actions happen inside this function, so the cache
        # can be released before returning (driver-side values only)
        ranked.unpersist()


def iqr_outliers(docs: DataFrame, value: Column) -> DataFrame:
    """Tukey-fence outlier flags on an integer metric: rows outside
    [q1 - IQR_WHISKER*IQR, q3 + IQR_WHISKER*IQR] of the EXACT discrete
    quartiles.

    The quantile pass costs one two-phase rank; the flag pass is a pure
    scan with the fences as literals — the standard length/garbage filter
    in a curation pipeline, with no approximation in the cut.
    """
    q1, q3 = exact_quantiles(docs, value, [0.25, 0.75])
    if q1 is None:
        # empty input: no quartiles, no fences, no rows (the SQL twin's
        # final cross join against the empty metric relation)
        return docs.select(
            "doc_id",
            value.cast("long").alias("metric"),
            F.lit(None).cast("long").alias("is_outlier"),
            F.lit(None).cast("long").alias("fence_lo"),
            F.lit(None).cast("long").alias("fence_hi"),
        ).where(F.lit(False))
    iqr = q3 - q1
    lo, hi = q1 - IQR_WHISKER * iqr, q3 + IQR_WHISKER * iqr
    return docs.select(
        "doc_id",
        value.cast("long").alias("metric"),
        ((value < lo) | (value > hi)).cast("long").alias("is_outlier"),
        F.lit(lo).cast("long").alias("fence_lo"),
        F.lit(hi).cast("long").alias("fence_hi"),
    )


def grouped_iqr_outliers(
    df: DataFrame,
    value: Column,
    group_cols: Sequence[str],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-GROUP Tukey fences on exact discrete quartiles: each group's
    rows ranked within the group (ONE shuffle on the group key — the
    window sorts group-locally, no global order needed), quartiles read at
    ceil(q·n_g), fences joined back group-wise.

    The grouped form of :func:`iqr_outliers`: 'flag events whose value is
    extreme FOR THAT EVENT TYPE' — per-slice anomaly gating where a global
    fence would drown slices with different scales.

    NULL handling (aggregate-natural, like SQL SUM/AVG): NULL metric
    values are EXCLUDED from the quartile ranks (they'd otherwise shift
    ceil(q·n) by their engine-specific sort position) but their rows stay
    in the output with their group's fences and a NULL flag; a NULL group
    key is a genuine group (null-safe join), not dropped.
    """
    from pyspark.sql import Window

    base = df.select(
        *group_cols, F.col(id_col).alias("doc_id"), value.alias("__v")
    )
    ranked = base.filter(F.col("__v").isNotNull()).withColumn(
        "__rn", F.row_number().over(
            Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
        )
    ).withColumn("__n", F.count(F.lit(1)).over(
        Window.partitionBy(*group_cols)
    ))
    qs = (
        ranked.filter(
            (F.col("__rn") == F.ceil(F.col("__n") * 0.25))
            | (F.col("__rn") == F.ceil(F.col("__n") * 0.75))
        )
        .groupBy(*group_cols)
        .agg(F.min("__v").alias("q1"), F.max("__v").alias("q3"))
    )
    b, q = base.alias("__b"), qs.alias("__q")
    cond = None
    for c in group_cols:
        eq = F.col(f"__b.{c}").eqNullSafe(F.col(f"__q.{c}"))
        cond = eq if cond is None else (cond & eq)
    return (
        b.join(q, cond, "left")
        .select(
            *[F.col(f"__b.{c}").alias(c) for c in group_cols],
            "doc_id",
            F.col("__v").cast("long").alias("metric"),
            (
                (F.col("__v") < F.col("q1") - IQR_WHISKER * (F.col("q3") - F.col("q1")))
                | (F.col("__v") > F.col("q3") + IQR_WHISKER * (F.col("q3") - F.col("q1")))
            ).cast("long").alias("is_outlier"),
            (F.col("q1") - IQR_WHISKER * (F.col("q3") - F.col("q1")))
            .cast("long").alias("fence_lo"),
            (F.col("q3") + IQR_WHISKER * (F.col("q3") - F.col("q1")))
            .cast("long").alias("fence_hi"),
        )
    )


def best_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order: Sequence[Column],
    *,
    keep: int = 1,
) -> DataFrame:
    """The top ``keep`` rows of every group under ``order`` — canonical-
    representative selection (best-quality document per source/URL/cluster,
    newest version per key, highest-scoring response per prompt).

    ONE shuffle on the group key; the rank window sorts group-locally
    (partitioned window — never a global sort). Callers pass a total order
    (include a unique id as the last key) so the kept set is deterministic.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= keep)
        .drop("__rk")
    )
