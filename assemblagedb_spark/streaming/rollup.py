"""Streaming continuous aggregates: keep the multi-resolution rollup
cascade (operators/rollup.py) current over an unbounded event stream with
a foreachBatch merge.

Each micro-batch aggregates ONLY its own rows at the finest bucket (one
tiny partial aggregate), folds them into the stored finest level with a
key-wise (n, sum) SUM-merge, and re-derives the coarser levels from the
finest state — never from raw history. Cost per batch is O(batch + state);
the state tables are exactly what a dashboard or downstream job reads, at
any moment, at every resolution (the TimescaleDB continuous-aggregate
refresh loop, as a Structured Streaming sink).

foreachBatch (not applyInPandasWithState) because the state is a small
RELATION keyed by (bucket, group) — merging is a one-line aggregate and
the store stays engine-readable. Additive merge states make the cascade
exactly equal to re-aggregating the full history (the batch gate
`events_rollup_cascade` pins that identity; the pytest parity suite pins
the streaming merge against the one-shot batch cascade).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F


class RollupStore:
    """Merge target holding the FINEST-level state; coarser levels derive
    from it on read (cheap: the state is already aggregated)."""

    def __init__(
        self,
        spark: SparkSession,
        *,
        bucket_ns: Sequence[tuple[str, int]],
    ):
        for _, ns in bucket_ns[1:]:
            if ns % bucket_ns[0][1] != 0:
                raise ValueError(
                    "coarser bucket widths must be multiples of the finest"
                )
        self.spark = spark
        self.bucket_ns = list(bucket_ns)
        self._fine: DataFrame | None = None

    def merge(self, batch_fine: DataFrame) -> None:
        """Fold a micro-batch's finest-level (bucket_start, event_type, n,
        sum_value) rows into the stored state with key-wise SUM."""
        if self._fine is None:
            merged = batch_fine
        else:
            merged = (
                self._fine.unionByName(batch_fine)
                .groupBy("bucket_start", "event_type")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sum_value").cast("long").alias("sum_value"),
                )
            )
        # pin: the next merge must not re-walk every prior batch's lineage
        self._fine = merged.localCheckpoint(eager=True)

    def levels(self) -> DataFrame:
        """All resolutions, derived from the stored finest state —
        identical to running the batch cascade over the full history."""
        assert self._fine is not None, "no batches merged yet"
        name0 = self.bucket_ns[0][0]
        out = self._fine.withColumn("level", F.lit(name0))
        prev = self._fine
        for name, ns in self.bucket_ns[1:]:
            prev = (
                prev.withColumn(
                    "bucket_start",
                    F.col("bucket_start")
                    - F.pmod(F.col("bucket_start"), F.lit(ns)),
                )
                .groupBy("bucket_start", "event_type")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("sum_value").cast("long").alias("sum_value"),
                )
            )
            out = out.unionByName(prev.withColumn("level", F.lit(name)))
        return out.select(
            "level", "bucket_start", "event_type", "n", "sum_value"
        )


def rollup_sink(store: RollupStore, value: Column):
    """foreachBatch function maintaining the cascade over a stream:
    ``stream.writeStream.foreachBatch(rollup_sink(store, F.lit(1)))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ns0 = store.bucket_ns[0][1]
        fine = (
            batch_df.withColumn(
                "bucket_start",
                F.col("ts").cast("long")
                - F.pmod(F.col("ts").cast("long"), F.lit(ns0)),
            )
            .groupBy("bucket_start", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(value).cast("long").alias("sum_value"),
            )
        )
        store.merge(fine)

    return sink
