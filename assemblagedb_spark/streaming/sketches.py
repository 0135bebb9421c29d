"""Streaming sketch maintenance: keep HLL registers current over an
unbounded stream with a foreachBatch merge.

The batch operators in :mod:`assemblagedb_spark.operators.sketches` emit
MERGE STATE (registers merge with MAX) — precisely the shape an
incremental sink needs: each micro-batch computes its own tiny sketch (one
partial aggregate over new rows only), then folds it into the stored state
with a key-wise MAX. Cost per batch is O(batch + state size), never
O(stream length); the stored sketch answers cardinality queries at any
moment without rescanning history.

This is the foreachBatch pattern (not ``applyInPandasWithState``) because
the state is a small RELATION, not per-key session data — merging two
sketch tables is itself a one-line aggregate, and the store stays readable
by any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


class SketchStore:
    """In-memory merge target for streaming sketches.

    ``merge_hll`` is idempotence-friendly: replaying a batch can only
    re-assert the same MAX (HLL is replay-safe).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._hll: DataFrame | None = None

    def merge_hll(self, batch_regs: DataFrame) -> None:
        """Fold a micro-batch's (group..., bucket, register) rows into the
        stored registers with key-wise MAX."""
        group = [c for c in batch_regs.columns if c not in ("register",)]
        if self._hll is None:
            merged = batch_regs
        else:
            merged = (
                self._hll.unionByName(batch_regs)
                .groupBy(*group)
                .agg(F.max("register").alias("register"))
            )
        # pin the new state: the next merge must not re-walk the lineage of
        # every previous batch
        self._hll = merged.localCheckpoint(eager=True)

    def hll(self) -> DataFrame:
        assert self._hll is not None, "no batches merged yet"
        return self._hll


def hll_sink(
    store: SketchStore,
    key_col: str,
    group_cols: list[str] | None = None,
    *,
    m: int = 256,
):
    """foreachBatch function maintaining HLL registers over a stream:
    ``stream.writeStream.foreachBatch(hll_sink(store, "user_id", ...))``."""
    from assemblagedb_spark.operators.sketches import hll_registers

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_hll(
            hll_registers(batch_df, key_col, group_cols, m=m)
        )

    return sink
