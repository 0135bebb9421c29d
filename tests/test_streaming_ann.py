"""Streaming IVFPQ ingest: vectors arriving across micro-batches get the
SAME residual codes and cells the batch index build produces — the
frozen-state discipline that lets a stream append straight into the
serving layout."""

from __future__ import annotations

from assemblagedb_spark.operators.pq import (
    coarse_centroid_vectors,
    pq_train_arrow,
    residual_vectors,
)
from assemblagedb_spark.operators.similarity import ivf_assign
from assemblagedb_spark.operators.vectors import kmeans_train
from assemblagedb_spark.streaming.ann import ivfpq_ingest
from tests.conftest import py_pq_encode


def _emb_rows(ids):
    return [(i, [float((i * 7 + j * 3) % 13) for j in range(8)]) for i in ids]


def _residual_index(full, state):
    """The batch build the stream must reproduce: coarse-assign →
    residualize → train residual codebooks (frozen for ingest)."""
    coarse = coarse_centroid_vectors(state)
    assign = ivf_assign(full, centroids=state).withColumnRenamed(
        "c_id", "vec_id"
    )
    resid = residual_vectors(full, assign, coarse)
    book = pq_train_arrow(
        resid, m=2, sub_dim=4, k=4, iters=2, vec_col="rvec", scale=None
    )
    return resid, book


def _drain(spark, src: str, out: str, ckpt: str, codebook, centroids) -> None:
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = (
        ivfpq_ingest(stream, codebook, centroids, m=2, sub_dim=4)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_ingest_matches_batch_index_build(spark, tmp_path):
    src, out, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    all_rows = _emb_rows(range(40))
    full = spark.createDataFrame(all_rows, "vec_id long, embedding array<float>")
    # states train ONCE on the initial corpus and stay frozen for ingest
    state = kmeans_train(full, k=4, iters=2)
    resid, book = _residual_index(full, state)

    spark.createDataFrame(all_rows[:25], "vec_id long, embedding array<float>") \
        .coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt, book, state)
    spark.createDataFrame(all_rows[25:], "vec_id long, embedding array<float>") \
        .coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, out, ckpt, book, state)

    got = sorted(map(tuple, spark.read.parquet(out).select(
        "vec_id", "subspace", "code", "cell").collect()))

    # the batch side is the plain Python encode: ivfpq_ingest and
    # pq_encode_arrow share one argmin kernel, so neither can check the other
    rrows = resid.collect()
    cell = {r["vec_id"]: r["cell"] for r in rrows}
    want = sorted(
        (vid, sp, code, cell[vid])
        for vid, sp, code in py_pq_encode(
            [(r["vec_id"], r["rvec"]) for r in rrows], book.collect(),
            m=2, sub_dim=4, scale=None,
        )
    )
    assert got == want and len(got) == 40 * 2


def test_streaming_ingest_is_stateless_projection(spark):
    # no watermark, no state store: the plan of the ingest transformation
    # on a batch frame is a pure projection + explode (zero exchanges —
    # the coarse centroids fold in as a map literal, nothing joins)
    from assemblagedb_spark.plans.explain import count_exchanges

    emb = spark.createDataFrame(
        _emb_rows(range(20)), "vec_id long, embedding array<float>"
    )
    state = kmeans_train(emb, k=4, iters=1)
    _, book = _residual_index(emb, state)
    out = ivfpq_ingest(emb, book, state, m=2, sub_dim=4)
    assert count_exchanges(out) == 0
    assert out.count() == 20 * 2
