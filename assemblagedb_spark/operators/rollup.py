"""Multi-resolution rollup cascade — continuous-aggregate re-aggregation.

The hypertable pattern (TimescaleDB continuous aggregates, Druid/Pinot
rollup segments): maintain the FINEST time bucket from raw events once,
then derive every coarser resolution by re-aggregating the next-finer
aggregate, never rescanning raw. At 100 TB the raw stream is scanned once
per refresh; the minute->hour->day cascade re-aggregates tables that are
orders of magnitude smaller, and additive merge states (COUNT, SUM — and
MIN/MAX/HLL-style states generally) make the cascade exactly equal to
aggregating raw directly, which is what the oracle gate pins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def rollup_cascade(
    events: DataFrame,
    value: Column,
    *,
    bucket_ns: Sequence[tuple[str, int]],
) -> DataFrame:
    """Cascaded time-bucket aggregates: ``bucket_ns`` is a FINEST-FIRST
    list of (level_name, bucket_width_ns); each coarser level is computed
    from the previous level's merge state (n, sum), not from raw rows.
    Every coarser width must be a multiple of the finest width (the usual
    minute/hour/day ladder) so bucket starts nest exactly.

    Output: (level, bucket_start, event_type, n, sum_value) — the union
    of all levels, grouped by ``event_type``; bucket_start is the epoch-ns
    start of the bucket (of ``ts``).
    """
    if not bucket_ns:
        raise ValueError("bucket_ns must list at least the finest level")
    for _, ns in bucket_ns[1:]:
        if ns % bucket_ns[0][1] != 0:
            raise ValueError(
                "coarser bucket widths must be multiples of the finest"
            )
    name0, ns0 = bucket_ns[0]
    base = (
        events.withColumn(
            "bucket_start",
            (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(ns0))),
        )
        .groupBy("bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(value).cast("long").alias("sum_value"),
        )
    )
    out = base.withColumn("level", F.lit(name0))
    prev = base
    for name, ns in bucket_ns[1:]:
        prev = (
            prev.withColumn(
                "bucket_start",
                F.col("bucket_start") - F.pmod(F.col("bucket_start"), F.lit(ns)),
            )
            .groupBy("bucket_start", "event_type")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_value").cast("long").alias("sum_value"),
            )
        )
        out = out.unionByName(prev.withColumn("level", F.lit(name)))
    return out.select("level", "bucket_start", "event_type", "n", "sum_value")
