"""Banded range join: pairs within a bounded distance, without a cross join.

``range_pairs(df, key, ts, max_gap)`` finds ordered pairs of rows of the
same key whose timestamps differ by at most ``max_gap``. The naive plan is
a per-key theta join (quadratic per key — Spark executes it as a
BroadcastNestedLoop or a key-equi join with a residual filter, both of
which materialize every same-key pair). The banded plan buckets time into
``max_gap``-sized bins: a qualifying pair is always in the same or adjacent
bins, so emitting each left row under (bin, bin+1) and equi-joining on
(key, bin) bounds the join fan-out by actual temporal density — the classic
interval-bucketing strategy used by range-join optimizers.

The bucket join produces each candidate pair exactly once (no dedup pass):
a pair with bin distance 0 matches only via the left row's own bin, one
with distance 1 only via the +1 replica.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def range_pairs(
    df: DataFrame,
    *,
    key: str,
    ts: str,
    max_gap: int,
    id_col: str,
) -> DataFrame:
    """Ordered same-key pairs (a before b, a != b) with ``ts_b - ts_a <=
    max_gap``. Ordering is (ts, id) lexicographic so duplicate timestamps
    pair deterministically. Returns (key, id_a, id_b, ts_a, ts_b, gap)."""
    base = df.select(
        F.col(key).alias("k"),
        F.col(ts).alias("t"),
        F.col(id_col).alias("i"),
    )
    left = base.select(
        "*", F.explode(F.array(F.expr(f"t div {max_gap}"), F.expr(f"t div {max_gap} + 1"))).alias("bin")
    )
    right = base.withColumn("bin", F.expr(f"t div {max_gap}"))
    l = left.select(
        F.col("k"), F.col("bin"),
        F.col("t").alias("ts_a"), F.col("i").alias("id_a"),
    )
    r = right.select(
        F.col("k"), F.col("bin"),
        F.col("t").alias("ts_b"), F.col("i").alias("id_b"),
    )
    return (
        l.join(r, ["k", "bin"])
        .filter(
            (F.col("ts_b") - F.col("ts_a") <= max_gap)
            & (
                (F.col("ts_a") < F.col("ts_b"))
                | ((F.col("ts_a") == F.col("ts_b")) & (F.col("id_a") < F.col("id_b")))
            )
        )
        .select(
            F.col("k").alias(key),
            "id_a", "id_b", "ts_a", "ts_b",
            (F.col("ts_b") - F.col("ts_a")).alias("gap"),
        )
    )
