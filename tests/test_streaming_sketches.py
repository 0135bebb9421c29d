"""Streaming sketch maintenance: foreachBatch HLL merges over micro-batches
equal the one-shot batch sketch over the union."""

from __future__ import annotations

from assemblagedb_spark.operators.sketches import hll_registers
from assemblagedb_spark.streaming.sketches import SketchStore, hll_sink


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "user_id long")


def test_streaming_hll_merge_equals_batch(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    all_keys = [i * 13 for i in range(400)]
    # two micro-batches with overlap
    _keys_df(spark, all_keys[:250]).coalesce(1).write.mode("append").parquet(src)
    _keys_df(spark, all_keys[200:]).coalesce(1).write.mode("append").parquet(src)

    store = SketchStore(spark)
    stream = spark.readStream.schema("user_id long").parquet(src)
    q = (
        stream.writeStream.foreachBatch(hll_sink(store, "user_id", m=64))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(store.hll().collect())
    want = sorted(hll_registers(_keys_df(spark, all_keys), "user_id", m=64).collect())
    assert got == want
