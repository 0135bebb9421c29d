"""Streaming continuous-aggregate maintenance: foreachBatch merges over
micro-batches equal the one-shot batch cascade over the union."""

from __future__ import annotations

from pyspark.sql import functions as F

from assemblagedb_spark.operators.rollup import rollup_cascade
from assemblagedb_spark.streaming.rollup import RollupStore, rollup_sink

LEVELS = [("10s", 10_000_000_000), ("1m", 60_000_000_000)]


def _events(spark, rows):
    return spark.createDataFrame(rows, "ts long, event_type string, v long")


def test_streaming_rollup_equals_batch_cascade(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    b1 = [((i * 7919) % 300_000_000_000, f"t{i % 3}", i % 5) for i in range(150)]
    b2 = [((i * 104729) % 300_000_000_000, f"t{i % 3}", i % 4) for i in range(120)]
    for b in (b1, b2):
        _events(spark, b).coalesce(1).write.mode("append").parquet(src)

    store = RollupStore(spark, bucket_ns=LEVELS)
    stream = spark.readStream.schema("ts long, event_type string, v long").parquet(src)
    q = (
        stream.writeStream.foreachBatch(rollup_sink(store, F.col("v")))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, store.levels().collect()))
    want = sorted(map(tuple, rollup_cascade(
        _events(spark, b1 + b2), F.col("v"),
        bucket_ns=LEVELS,
    ).collect()))
    assert got == want


def test_rollup_store_rejects_non_nesting_levels(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        RollupStore(spark, bucket_ns=[("7s", 7_000_000_000),
                                      ("10s", 10_000_000_000)])
