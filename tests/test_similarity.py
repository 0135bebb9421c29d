"""ANN operator invariants the SQL oracle can't express directly:
exhaustive-probe IVF degrades to exact brute force, and the approximate
paths return well-formed per-query rankings."""

from __future__ import annotations

from assemblagedb_spark.operators import similarity
from assemblagedb_spark.operators.similarity import (
    ivf_topk,
    lsh_bucketed_topk,
)
from tests.conftest import py_cosine_topk, py_pq_encode, py_pq_train

# deterministic "embeddings": 20 vectors of dim 8, values from a tiny LCG
DIM = 8
N = 20


def _vecs():
    out = []
    x = 7
    for i in range(N):
        v = []
        for _ in range(DIM):
            x = (x * 1103515245 + 12345) % (1 << 31)
            v.append((x % 1000) / 500.0 - 1.0)
        out.append((i, v))
    return out


def _emb(spark):
    return spark.createDataFrame(_vecs(), "vec_id long, embedding array<float>")


def _rows(df, vec_col="embedding"):
    """(vec_id, vector) pairs as Spark holds them (float32 -> double)."""
    return [(r["vec_id"], r[vec_col]) for r in df.collect()]


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_ivf_full_probe_equals_exact(spark, monkeypatch):
    monkeypatch.setattr(similarity, "TOPK", 5)
    emb = _emb(spark)
    queries = emb.filter("vec_id % 4 = 0")
    exact = {
        (q, rank): n for q, n, rank in py_cosine_topk(_rows(emb), _ids(queries), k=5)
    }
    ivf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(emb, queries, nlist=4, nprobe=4).collect()
    }
    assert ivf == exact


def test_ivf_partial_probe_subset_of_corpus(spark, monkeypatch):
    monkeypatch.setattr(similarity, "TOPK", 5)
    emb = _emb(spark)
    queries = emb.filter("vec_id % 4 = 0")
    rows = ivf_topk(emb, queries, nlist=4, nprobe=1).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        assert r.neighbor_id != r.query_id
    for q, rs in by_q.items():
        ranks = sorted(rank for rank, _ in rs)
        assert ranks == list(range(1, len(rs) + 1))  # dense ranks from 1


def test_lsh_ranks_dense_and_self_excluded(spark, monkeypatch):
    monkeypatch.setattr(similarity, "TOPK", 5)
    emb = _emb(spark)
    queries = emb.filter("vec_id % 4 = 0")
    rows = lsh_bucketed_topk(emb, queries, bits=8, bands=4).collect()
    by_q: dict = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_topk_with_trained_centroids(spark, monkeypatch):
    from assemblagedb_spark.operators.vectors import kmeans_train

    # three well-separated direction clusters; within-cluster neighbors are
    # the true top-k, so a trained quantizer with nprobe=1 gets exact recall
    rows = []
    vid = 0
    for base in ((10.0, 0.1), (0.1, 10.0), (-10.0, -10.0)):
        for j in range(8):
            rows.append((vid, [base[0] + j * 0.01, base[1] + j * 0.01]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    state = kmeans_train(emb, k=3, iters=3)
    queries = emb.filter("vec_id % 8 = 0")
    monkeypatch.setattr(similarity, "TOPK", 3)
    ivf = ivf_topk(emb, queries, nprobe=1, centroids=state)
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf.collect()}
    assert got == py_cosine_topk(_rows(emb), _ids(queries), k=3)


def test_cosine_topk_arrow_query_cap_raises(spark, monkeypatch):
    import pytest as _pytest

    from assemblagedb_spark.operators.similarity import cosine_topk_arrow

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    # the query matrix rides in every task closure — an over-cap query set
    # must fail fast with a clear error, not a late task-binary blowup
    monkeypatch.setattr(similarity, "TOPK", 2)
    with _pytest.raises(ValueError, match="max_queries"):
        cosine_topk_arrow(emb, emb, max_queries=3)
    # at/below the cap still works
    assert cosine_topk_arrow(emb, emb.limit(3), max_queries=3).count() == 6


def test_pq_adc_recovers_separated_clusters(spark):
    from assemblagedb_spark.operators.pq import (
        pq_adc_topk,
        pq_encode_arrow,
        pq_train_arrow,
    )

    # three well-separated clusters in 8 dims; PQ with 2 subspaces of 4.
    # ADC top-k within a cluster must match exact cosine top-k: quantization
    # error is tiny next to the inter-cluster gap. Ids interleave across
    # clusters so the deterministic lowest-id seeds (0,1,2) land one per
    # cluster — all-same-cluster seeds give a degenerate codebook, which is
    # real PQ behavior but not what this recall test probes.
    bases = ((10.0, 0.1), (0.1, 10.0), (-10.0, -10.0))
    rows = []
    for j in range(6):
        for c, base in enumerate(bases):
            vid = j * 3 + c
            v = [base[0] + j * 0.01, base[1] - j * 0.01] * 4
            rows.append((vid, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_train_arrow(emb, m=2, sub_dim=4, k=3, iters=3)
    codes = pq_encode_arrow(emb, book, m=2, sub_dim=4)
    assert codes.count() == len(rows) * 2
    queries = emb.filter("vec_id < 3")
    adc = pq_adc_topk(codes, book, queries, k=3, m=2, sub_dim=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in adc.collect()}
    exact = {(q, n) for q, n, _ in py_cosine_topk(_rows(emb), _ids(queries), k=3)}
    # same neighbor SETS per query (ADC distance ordering within a cluster
    # can permute ranks by quantization, membership cannot change)
    assert got == exact


def test_residual_ivfpq_consistent_with_all_cell_scan(spark):
    # residual IVFADC ≡ its own all-cells scan restricted to probed-cell
    # candidates: probing changes WHICH pairs score, never their
    # residual adc_dist or tie order
    from pyspark.sql import Window, functions as F

    from assemblagedb_spark.operators.pq import (
        coarse_centroid_vectors,
        ivfpq_adc_topk_residual,
        pq_encode_arrow,
        pq_train_arrow,
        query_residuals,
        residual_vectors,
    )
    from assemblagedb_spark.operators.similarity import ivf_assign, ivf_probes
    from assemblagedb_spark.operators.vectors import kmeans_train

    rows = [(i, [float((i * 7 + j * 3) % 13) + (1.0 if i % 3 == j % 3 else 0.0)
                 for j in range(8)])
            for i in range(36)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    state = kmeans_train(emb, k=4, iters=2)
    coarse = coarse_centroid_vectors(state)
    assign = ivf_assign(emb, centroids=state).withColumnRenamed("c_id", "vec_id")
    resid = residual_vectors(emb, assign, coarse)
    book = pq_train_arrow(resid, m=2, sub_dim=4, k=4, iters=2,
                          vec_col="rvec", scale=None)
    cell_codes = pq_encode_arrow(resid, book, m=2, sub_dim=4,
                                 vec_col="rvec", scale=None,
                                 carry_cols=("cell",))
    queries = emb.filter("vec_id % 6 = 0")
    probes = ivf_probes(queries, nprobe=2, centroids=state)

    got = sorted(map(tuple, ivfpq_adc_topk_residual(
        cell_codes, book, query_residuals(queries, probes, coarse),
        k=3, m=2, sub_dim=4,
    ).collect()))

    # reference: residualize the query in EVERY cell (all-cells probe
    # list), then restrict to the probed-cell candidate pairs
    probes_all = queries.select(F.col("vec_id").alias("q_id")).crossJoin(
        coarse.select("cell").distinct()
    )
    full = ivfpq_adc_topk_residual(
        cell_codes, book, query_residuals(queries, probes_all, coarse),
        k=10**6, m=2, sub_dim=4,
    )
    cand = (
        probes.withColumnRenamed("q_id", "query_id")
        .join(resid.select("vec_id", "cell"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    restricted = (
        full.join(cand, ["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("query_id")
            .orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "adc_dist",
                F.col("rank").cast("long").alias("rank"))
    )
    want = sorted(map(tuple, restricted.collect()))
    assert got == want and len(got) > 0


def _residual_frame(emb):
    from assemblagedb_spark.operators.pq import (
        coarse_centroid_vectors,
        residual_vectors,
    )
    from assemblagedb_spark.operators.similarity import ivf_assign
    from assemblagedb_spark.operators.vectors import kmeans_train

    state = kmeans_train(emb, k=3, iters=1)
    coarse = coarse_centroid_vectors(state)
    assign = ivf_assign(emb, centroids=state).withColumnRenamed("c_id", "vec_id")
    return residual_vectors(emb, assign, coarse)


def test_pq_train_arrow_matches_python_reference(spark):
    # the per-round numpy merge-state trainer must reproduce the plain
    # Python Lloyd loop EXACTLY — same seeds, assignments, integer sums
    # and dropped-cluster behavior — on the raw grid, on a pre-quantized
    # residual grid (negative components exercise the floor-division
    # parity) and on a tie-heavy lattice (lowest label wins)
    from assemblagedb_spark.operators.pq import pq_train_arrow

    rows = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
            for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = py_pq_train(_rows(emb), m=2, sub_dim=4, k=4, iters=2)
    b = sorted(map(tuple, pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=2).collect()))
    assert a == b and len(a) > 0

    resid = _residual_frame(emb)
    c = py_pq_train(_rows(resid, "rvec"), m=2, sub_dim=4, k=4, iters=3, scale=None)
    d = sorted(map(tuple, pq_train_arrow(
        resid, m=2, sub_dim=4, k=4, iters=3, vec_col="rvec", scale=None
    ).collect()))
    assert c == d and len(c) > 0

    ties = spark.createDataFrame(
        [(i, [float((i * 5 + j) % 3) for j in range(8)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    # seeds 0 and 3 are the same vector, so round 1 ties every one of its
    # vectors between labels 0 and 3
    for iters in (1, 2):
        e = py_pq_train(_rows(ties), m=2, sub_dim=4, k=4, iters=iters)
        f = sorted(map(tuple, pq_train_arrow(
            ties, m=2, sub_dim=4, k=4, iters=iters).collect()))
        assert e == f and len(e) > 0


def test_pq_train_arrow_fewer_vectors_than_k(spark):
    # a corpus with fewer non-null vectors than k seeds only that many
    # labels (the oracle's `seeds ... LIMIT k` does the same); the seed
    # state must be sized by the seeds, not by k
    from assemblagedb_spark.operators.pq import pq_encode_arrow, pq_train_arrow

    for n in (1, 3):
        rows = [(i, [float((i * 7 + j * 3) % 13) / 10 for j in range(8)])
                for i in range(n)] + [(n, None)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        for iters in (0, 2):
            want = py_pq_train(_rows(emb), m=2, sub_dim=4, k=4, iters=iters)
            book = pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=iters)
            assert sorted(map(tuple, book.collect())) == want, (n, iters)
            assert len(want) == 2 * n * 4
            codes = sorted(map(tuple, pq_encode_arrow(emb, book, m=2, sub_dim=4).collect()))
            assert codes == py_pq_encode(_rows(emb), want, m=2, sub_dim=4)


def test_pq_encode_arrow_matches_python_reference(spark):
    # the numpy encode kernel must emit exactly the plain Python argmin
    # codes — tie-heavy lattice (argmin-first = lowest label) and
    # pre-quantized residual grid — as a pure projection (zero exchanges)
    from assemblagedb_spark.operators.pq import pq_encode_arrow, pq_train_arrow
    from assemblagedb_spark.plans.explain import count_exchanges

    # tie-heavy: few distinct values -> many equidistant codewords
    rows = [(i, [float((i * 5 + j) % 3) for j in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=2)
    a = py_pq_encode(_rows(emb), book.collect(), m=2, sub_dim=4)
    enc = pq_encode_arrow(emb, book, m=2, sub_dim=4)
    b = sorted(map(tuple, enc.collect()))
    assert a == b and len(a) == 100
    assert count_exchanges(enc) == 0
    # the seed codebook holds one vector under labels 0 and 3: exact ties
    seedbook = pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=0)
    assert sorted(map(tuple, pq_encode_arrow(emb, seedbook, m=2, sub_dim=4).collect())) \
        == py_pq_encode(_rows(emb), seedbook.collect(), m=2, sub_dim=4)

    raw = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 13) for j in range(8)]) for i in range(48)],
        "vec_id long, embedding array<float>",
    )
    rawbook = pq_train_arrow(raw, m=2, sub_dim=4, k=4, iters=2)
    assert sorted(map(tuple, pq_encode_arrow(raw, rawbook, m=2, sub_dim=4).collect())) \
        == py_pq_encode(_rows(raw), rawbook.collect(), m=2, sub_dim=4)

    resid = _residual_frame(emb)
    rbook = pq_train_arrow(resid, m=2, sub_dim=4, k=4, iters=2,
                           vec_col="rvec", scale=None)
    c = py_pq_encode(_rows(resid, "rvec"), rbook.collect(), m=2, sub_dim=4, scale=None)
    d = sorted(map(tuple, pq_encode_arrow(
        resid, rbook, m=2, sub_dim=4, vec_col="rvec", scale=None
    ).collect()))
    assert c == d and len(c) == 100
    # carry_cols rides the cell through the same scan
    e = pq_encode_arrow(resid, rbook, m=2, sub_dim=4, vec_col="rvec",
                        scale=None, carry_cols=("cell",))
    assert sorted(map(tuple, e.select("vec_id", "subspace", "code").collect())) == c


def test_ivfpq_ingest_encodes_and_refuses_untrained_subspace(spark):
    # ivfpq_ingest's fused Arrow kernel carries the codebook in its
    # closure; its genuine can't-encode condition is an untrained
    # subspace, which must REFUSE (an aggregate fallback is not
    # append-mode ingest)
    from assemblagedb_spark.operators.pq import pq_train_arrow
    from assemblagedb_spark.operators.vectors import kmeans_train
    from assemblagedb_spark.streaming.ann import ivfpq_ingest

    rows = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=1)

    state = kmeans_train(emb, k=4, iters=1)
    # the batch frame stands in for the stream — the kernel is the same
    # projection
    ingested = ivfpq_ingest(emb, book, state, m=2, sub_dim=4)
    assert ingested.count() == 30 * 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="every subspace trained"):
        ivfpq_ingest(
            emb, book.filter("subspace = 0"), state, m=2, sub_dim=4
        )


def test_pq_codes_partition_invariant(spark):
    from assemblagedb_spark.operators.pq import pq_encode_arrow, pq_train_arrow

    rows = [(i, [float((i * 7 + j * 3) % 13) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    book = pq_train_arrow(emb, m=2, sub_dim=4, k=4, iters=2)
    a = sorted(map(tuple, pq_encode_arrow(emb, book, m=2, sub_dim=4).collect()))
    b = sorted(map(tuple, pq_encode_arrow(
        emb.repartition(11), pq_train_arrow(emb.repartition(7), m=2, sub_dim=4,
                                            k=4, iters=2), m=2, sub_dim=4
    ).collect()))
    # integer-grid training + encoding: identical codes on any partitioning
    assert a == b
