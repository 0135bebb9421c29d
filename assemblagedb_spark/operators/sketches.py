"""Distributed sketches with engine-portable hashing: HyperLogLog-style
registers, linear counting, count-min frequency counters.

At 100 TB, exact per-key distinct counts and full frequency tables are
often the wrong tool — a sketch gives a bounded-size summary that merges
associatively across partitions (one map-side partial per executor, one
tiny reduce). Spark's built-ins (``approx_count_distinct``) use engine-
private hashing that no oracle can replay; these operators use the explicit
``mix32`` / polynomial string hash from ``functions/core.py`` so DuckDB
reproduces every register bit-for-bit, and the SKETCH STATE (registers /
counters — all integers) is the compared output. Estimate formulas (floats)
are left to the caller, as with any sketch store.

All three reduce to one groupBy with map-side partial aggregation — the
sketch never exists as a driver-side object, only as rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.functions.core import mix32_col


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    m: int = 256,
) -> DataFrame:
    """HyperLogLog register table: per group and bucket, the max over keys
    of rho = 1 + trailing-zero count of the mixed hash's remaining bits.

    Output: group_cols + (bucket, register). |output| ≤ |groups| * m
    regardless of cardinality; registers merge with MAX, so partial
    aggregation does the heavy lifting executor-side.

    rho is computed as ``length(bin(h & -h))`` — the bit-length of the
    lowest set bit — because ``floor(log2(x))`` is NOT reliably exact
    (log2 via log(x)/log(2) can undershoot on exact powers of two);
    string-length-of-binary is integer-exact in both engines.
    """
    group_cols = group_cols or []
    h = mix32_col(F.col(key_col).cast("long"))
    bucket = F.pmod(h, F.lit(m)).cast("int")
    rest = (h / F.lit(m)).cast("long")  # floor-div: drop bucket bits
    rho = (
        F.when(rest == 0, F.lit(33))  # all-zero remainder: max rho + 1
        .otherwise(F.length(F.bin(rest.bitwiseAND(-rest))))
        .cast("int")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").cast("long").alias("register"))
    )


def linear_counting(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    m: int = 4096,
) -> DataFrame:
    """Linear-counting state: per group, how many of the m hash buckets are
    occupied (estimate = -m * ln(1 - filled/m), left to the caller).

    Exactly one shuffle on (group, bucket) then a count-distinct-free
    second aggregate; preferable to HLL when cardinality ≲ m.
    """
    group_cols = group_cols or []
    bucket = F.pmod(mix32_col(F.col(key_col).cast("long")), F.lit(m))
    return (
        df.select(*group_cols, bucket.alias("bucket"))
        .distinct()
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_filled"))
        .withColumn("m", F.lit(m).cast("long"))
    )


def countmin_counters(
    items: DataFrame,
    item_col: str,
    *,
    d: int = 2,
    w: int = 1024,
) -> DataFrame:
    """Count-min sketch state over a STRING item stream: for each of ``d``
    hash rows, the item count landing in each of ``w`` columns.

    Output: (row, col, counter) — d*w rows max, merged with SUM (map-side
    partial). Point estimate for an item = min over rows of its counter;
    always an over-estimate, bounded by ||stream||/w per row.

    Row hashes reuse ONE polynomial string hash re-mixed per row with
    mix32(seed=row) — one string fold per item, d cheap integer mixes.
    """
    from assemblagedb_spark.functions.core import strhash_spark_sql

    base = items.select(
        F.expr(strhash_spark_sql(item_col)).alias("__h"),
        F.lit(1).alias("__wt"),
    )
    # One explode (not a d-way union, which would re-run the string fold
    # once per branch): each item emits its d (row, col) cells inline.
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    F.pmod(mix32_col(F.col("__h"), seed=r), F.lit(w))
                    .cast("int")
                    .alias("col"),
                )
                for r in range(d)
            ]
        )
    )
    return (
        base.select(cells.alias("cell"), F.col("__wt"))
        .groupBy(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .agg(F.sum("__wt").cast("long").alias("counter"))
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    m: int = 8192,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter state as rows: the distinct set bit positions per group
    (k = ``n_hashes`` mix32 probes per key, bit = hash % m).

    Row-form keeps the filter mergeable by plain UNION/distinct and lets an
    oracle replay it; pack to a bitmap only at the edge (e.g. for a
    broadcast variable). |output| ≤ |groups| * m.
    """
    group_cols = group_cols or []
    key = F.col(key_col).cast("long")
    probes = F.explode(
        F.array(
            *[
                F.pmod(mix32_col(key, seed=r), F.lit(m)).cast("long")
                for r in range(n_hashes)
            ]
        )
    )
    return df.select(*group_cols, probes.alias("bit")).distinct()


def bloom_prefilter(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str,
    *,
    m: int = 8192,
    n_hashes: int = 3,
) -> DataFrame:
    """Keep only probe rows whose key passes the Bloom filter (every one of
    its ``n_hashes`` bit positions is set in ``bits``).

    The big-join prefilter: build bits over the SMALL side's join key,
    broadcast them (≤ m rows), and semi-join the 100 TB side down to
    probable matches before the real shuffle join — Spark's runtime row-
    group Bloom pushdown, materialized as an explicit, testable operator.
    No false negatives (guaranteed by construction); false positives just
    pass through to the exact join.
    """
    key = F.col(key_col).cast("long")
    # Pack the filter into ONE dense bitmap row (m/64 longs) and broadcast
    # it; the probe side is then a pure scan whose membership test is
    # n_hashes O(1) element_at lookups. (A sorted-array + array_except
    # variant costs O(m) PER ROW inside the join condition — measured 20×
    # slower at m=4096 — and expression-collapsing would re-inline the hash
    # chain into the condition, so probe positions are projected BEFORE the
    # join.)
    nwords = (m + 63) // 64
    bitmap = (
        bits.select(
            F.shiftright(F.col("bit"), 6).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bit & 63 AS INT))"
            ).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("mask"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("w"), F.col("mask")))
            ).alias("bm")
        )
        .select(
            F.expr(
                f"transform(sequence(0, {nwords - 1}), "
                f"i -> coalesce(element_at(bm, i), CAST(0 AS BIGINT)))"
            ).alias("__bitmap")
        )
    )
    probes = F.array(
        *[
            F.pmod(mix32_col(key, seed=r), F.lit(m)).cast("long")
            for r in range(n_hashes)
        ]
    )
    with_probes = probe.withColumn("__probes", probes)
    hit = " AND ".join(
        f"(shiftright(element_at(__bitmap, "
        f"CAST(shiftright(element_at(__probes, {r + 1}), 6) AS INT) + 1), "
        f"CAST(element_at(__probes, {r + 1}) & 63 AS INT)) & 1) = 1"
        for r in range(n_hashes)
    )
    return (
        with_probes.crossJoin(F.broadcast(bitmap))
        .filter(F.expr(hit))
        .drop("__probes", "__bitmap")
    )


def countmin_join_estimate(cm_a: DataFrame, cm_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches built
    with the SAME (d, w, hash family): per row, the inner product
    Σ_col counterA·counterB over-estimates |A ⋈ B| (AMS/count-min inner
    product); the caller takes the MIN over rows as the estimate.

    The query-optimizer primitive: deciding broadcast vs shuffle vs salted
    join for a 100 TB join costs two d×w sketches (one pass each) instead
    of running the join. Output: (row, inner_product) — d tiny rows.
    """
    a = cm_a.select("row", "col", F.col("counter").alias("ca"))
    b = cm_b.select("row", "col", F.col("counter").alias("cb"))
    return (
        a.join(b, ["row", "col"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("inner_product"))
    )


def hll_rollup(
    df: DataFrame,
    key_col: str,
    levels: list[list[str]],
    *,
    m: int = 256,
) -> DataFrame:
    """Sketch ROLLUP: build the HLL register table once at the finest
    grouping, then derive every coarser level by MAX-merging the previous
    level's registers — never rescanning raw rows (the Druid/Theta-sketch
    rollup pattern; distinct counts can't re-aggregate, sketch states
    can).

    ``levels`` is finest-first, each a list of group columns that must be
    a subset of the previous level's columns (a grouping chain, e.g.
    [["day", "event_type"], ["day"], []]). Output: (level, *finest_cols,
    bucket, register) with the dropped columns NULL at coarser levels —
    exactly what a grouping-sets scan of pre-rolled sketch segments serves.
    """
    if not levels:
        raise ValueError("levels must list at least the finest grouping")
    for prev, cur in zip(levels, levels[1:]):
        if not set(cur) <= set(prev):
            raise ValueError("each coarser level must drop columns, not add")
    finest = levels[0]
    base = hll_registers(df, key_col, finest, m=m)
    out = base.withColumn("level", F.lit(0).cast("long"))
    prev = base
    for i, cols in enumerate(levels[1:], start=1):
        prev = (
            prev.groupBy(*cols, "bucket")
            .agg(F.max("register").alias("register"))
        )
        widened = prev
        for c in finest:
            if c not in cols:
                widened = widened.withColumn(
                    c, F.lit(None).cast(dict(base.dtypes)[c])
                )
        out = out.unionByName(
            widened.select(*finest, "bucket", "register")
            .withColumn("level", F.lit(i).cast("long"))
        )
    return out.select("level", *finest, "bucket", "register")
