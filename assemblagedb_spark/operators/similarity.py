"""Similarity search over embedding columns (ARRAY<FLOAT>).

The paths of the standard ANN playbook:

- ``cosine_topk_arrow``: exact brute force — the query matrix rides in
  every task's closure and each corpus partition is scored with one
  matmul. Correctness baseline; viable when the query side is small even
  on a huge corpus.
- ``lsh_bucketed_topk``: random-hyperplane LSH — sign-bit sketches
  (``hyperplane_sketch_arrow``) bucket the corpus so each query only
  scores its bucket neighborhood. The corpus sketch is precomputed once
  and a bucket join replaces the cross join. Recall is tunable by
  bands/bits.
- ``ivf_topk``: coarse-cell (IVF) probing, with deterministic or trained
  centroids; ``exact_rerank_topk`` re-scores any shortlist exactly.

All float math is double-precision. ``with_cosine`` folds left-to-right
in element order — the same sequential fold the DuckDB oracle evaluates;
the numpy paths differ from it only in the last ulps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def with_cosine(pairs: DataFrame, vec_a: str = "vec_a", vec_b: str = "vec_b") -> DataFrame:
    return pairs.withColumn(
        "cosine", _dot(vec_a, vec_b) / (_norm(vec_a) * _norm(vec_b))
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact brute-force cosine top-k, Arrow/numpy execution path.

    Self excluded, rank 1 = nearest, ties broken by ascending neighbor
    id; NULL vectors neither query nor match. The scoring runs as a
    vectorized ``mapInPandas`` stage: the query matrix rides along in the
    task closure, each corpus partition is scored with one BLAS matmul, and
    only each partition's local top-k survives to the shuffle — the global
    window then merges ≤ (partitions × |Q| × k) rows instead of |Q| × |C|.
    This is the 100 TB plan: per-partition dense math, bounded shuffle,
    no cross join ever materialized.

    Float caveat: BLAS summation order differs from a sequential fold in the
    last ulps, so rankings are stable only when adjacent cosines differ by
    more than ~1e-12 — true for any real embedding corpus (verified ≥ 1e-7
    on the test tables).
    """
    # the query matrix rides in every task's closure, so it must stay
    # small; an unbounded collect of a fat query set would fail late with
    # an opaque >2 GiB task-binary error — cap it with a clear one instead
    # (same guard discipline as Db.from_tables, db.py:66-91)
    qrows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col).limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_arrow: query side exceeds max_queries="
            f"{max_queries} rows; it is broadcast into every task closure. "
            f"Partition the query set, raise max_queries deliberately, or "
            f"use lsh_topk/ivf_topk for large query sets."
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema).select(
            "query_id", "neighbor_id", F.lit(1).alias("rank")
        ).limit(0)
    qids = np.array([r[0] for r in qrows])
    Q = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.sqrt((Q * Q).sum(1))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].values])
            cids = pdf[id_col].to_numpy()
            cos = (Q @ C.T) / np.outer(qn, np.sqrt((C * C).sum(1)))
            qs, cs, ss = [], [], []
            for i in range(len(qids)):
                mask = cids != qids[i]
                rc, rs = cids[mask], cos[i][mask]
                idx = np.lexsort((rc, -rs))[:k]  # cosine desc, id asc
                qs.append(np.full(len(idx), qids[i], dtype=qids.dtype))
                cs.append(rc[idx])
                ss.append(rs[idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qs),
                    "neighbor_id": np.concatenate(cs),
                    "cosine": np.concatenate(ss),
                }
            )

    part = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col).mapInPandas(score, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def exact_rerank_topk(
    shortlist: DataFrame,
    vectors: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine refinement of an approximate shortlist — the FAISS
    ``IndexRefineFlat`` step layered over any ANN leg (Jégou et al.
    TPAMI'11 §V.C evaluate the same re-rank over IVFADC shortlists):
    fetch the raw vectors for each (query_id, neighbor_id) candidate,
    score with true cosine, keep the top ``k`` per query.

    Scale shape: the shortlist is |Q| × R rows of ids — broadcast-sized
    by construction — so BOTH raw-vector fetches are broadcast hash
    joins against the (huge) vector table: the corpus is scanned, never
    shuffled, and the rank window sees only |Q| × R scored rows. At
    100 TB this is the standard two-tier serving plan: compressed codes
    bound the candidate set, a bounded exact pass restores metric
    fidelity (recall approaches the candidate ceiling as R grows —
    measured in RECALL.md).

    Cosine is the sequential double fold of :func:`with_cosine`, so the
    DuckDB oracle replays it bit-for-bit; ties break by
    ascending neighbor id.
    """
    pairs = shortlist.select("query_id", "neighbor_id")
    nb = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec_b")
    )
    fetched = F.broadcast(pairs).join(nb, "neighbor_id")
    qv = vectors.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vec_a")
    )
    scored = with_cosine(qv.join(F.broadcast(fetched), "query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _cosine_pair_udf():
    """Arrow-batched exact cosine over two ARRAY<FLOAT> columns.

    One numpy pass per batch instead of per-row interpreted higher-order
    functions — the candidate-scoring hot path for the bucketed ANN joins.
    """
    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a.values])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b.values])
        num = (A * B).sum(1)
        den = np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1))
        return pd.Series(num / den)

    return cos


# hyperplane (i, d) cells index the mixer at i * HYP_DIM_STRIDE + d — dim
# must stay below the stride so cells never alias
HYP_DIM_STRIDE = 4096


def _mix_hyperplanes(bits: int, dim: int, seed: int):
    """±1 hyperplane matrix H[i, d]: sign = parity of mix32(i·stride + d,
    seed) — the same mixer formula the DuckDB oracles evaluate (bit-identical across engines).

    History: this was an LCG-parity formula, ((i·A + d·(2·seed+1)) % M)
    % 2 — degenerate, because d·(2·seed+1) never wraps the modulus for
    real dims, so the whole row collapsed to parity(C_i) XOR parity(d):
    only TWO distinct hyperplanes existed at any ``bits``, and LSH
    candidate sets were parity classes (~half the corpus). The avalanche
    mixer gives balanced, pairwise-uncorrelated rows."""
    if dim > HYP_DIM_STRIDE:
        raise ValueError(
            f"hyperplane sketch supports dim <= {HYP_DIM_STRIDE}, got {dim}"
        )
    from assemblagedb_spark.functions.core import mix32_py

    i = np.arange(bits, dtype=np.int64)[:, None]
    d = np.arange(dim, dtype=np.int64)[None, :]
    return np.where(mix32_py(i * HYP_DIM_STRIDE + d, seed) % 2 == 0, 1.0, -1.0)


def hyperplane_sketch_arrow(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane sign sketch: bit i = (v · h_i) > 0 with the
    pseudo-random ±1 hyperplanes of :func:`_mix_hyperplanes` — no stored
    hyperplane matrix, reproducible everywhere. One matmul per Arrow
    batch; NULL vectors sketch nothing. Sketch ints match the oracle's
    (sign flips would need a |v·h| below ~1e-12 — not observed on any
    corpus; the oracle's unordered SQL SUM carries the same tolerance)."""
    weights = (1 << np.arange(bits, dtype=np.int64))

    @pandas_udf("bigint")
    def sk(v: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        H = _mix_hyperplanes(bits, V.shape[1], seed)
        return pd.Series(((V @ H.T) > 0) @ weights)

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col), sk(vec_col).alias("sketch")
    )


def _ivf_centroids(corpus: DataFrame, nlist: int, id_col: str, vec_col: str):
    """Deterministic coarse quantizer: the nlist lowest-id corpus vectors.
    Centroids are nlist rows of metadata — collected once and reused as a
    local relation (otherwise every downstream reference re-runs the
    TakeOrdered job and re-broadcasts its own copy)."""
    cent_rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .orderBy(id_col).limit(nlist).select(id_col, vec_col).collect()
    )
    if not cent_rows:
        # empty corpus: zero cells (shaped empties — a bare np.array([])
        # is 1-D and breaks the axis-1 norm below)
        return np.zeros(0, dtype=np.int64), np.zeros((0, 0)), np.zeros(0)
    cent_ids = np.array([r[0] for r in cent_rows])
    CM = np.array([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    return cent_ids, CM, np.sqrt((CM * CM).sum(1))




def centroid_matrix(state, *, scale: int = 1000):
    """Convert a k-means centroid MERGE STATE (label, pos, sum_q, n_vecs —
    :func:`assemblagedb_spark.operators.vectors.kmeans_train` output) into
    the (ids, matrix, norms) triple the IVF probe kernels ride: component =
    floor(sum_q / n_vecs) / scale, the same quantized value the trainer's
    oracle replays. k x dim rows — driver-side by design."""
    import math

    by_label: dict[int, dict[int, float]] = {}
    for r in state.collect():
        by_label.setdefault(r["label"], {})[r["pos"]] = (
            math.floor(r["sum_q"] / r["n_vecs"]) / scale
        )
    if not by_label:
        # untrained/empty state (empty corpus): zero cells, shaped so the
        # axis-1 norm and downstream matmuls stay well-formed
        return np.zeros(0, dtype=np.int64), np.zeros((0, 0)), np.zeros(0)
    ids = np.array(sorted(by_label))
    CM = np.array([
        [by_label[l][p] for p in sorted(by_label[l])] for l in ids
    ], dtype=np.float64)
    return ids, CM, np.sqrt((CM * CM).sum(1))


def _nearest_cells(
    df: DataFrame, side: str, n: int, cents, id_col: str, vec_col: str
) -> DataFrame:
    """(side_id, cell) rows: each vector's n nearest centroid cells. The
    centroid matrix rides in the task closure: one matmul per Arrow batch
    replaces the (rows × nlist) cross join + rank window."""
    cent_ids, CM, cnorm = cents

    @pandas_udf("array<bigint>")
    def cells(v: pd.Series) -> pd.Series:
        if len(v) == 0 or len(cent_ids) == 0:
            # empty batch, or no trained cells at all (empty corpus):
            # nothing to probe — the explode below then emits no rows
            return pd.Series([np.zeros(0, dtype=np.int64)] * len(v))
        V = np.stack([np.asarray(x, dtype=np.float64) for x in v.values])
        cos = (V @ CM.T) / np.outer(np.sqrt((V * V).sum(1)), cnorm)
        out = []
        for row in cos:
            idx = np.lexsort((cent_ids, -row))[:n]  # cos desc, cell asc
            out.append(cent_ids[idx])
        return pd.Series(out)

    # The kernel is a pure function of its input, but it must be declared
    # nondeterministic: Catalyst otherwise infers a size(cells)>0 predicate
    # below the explode (InferFiltersFromGenerate + constraint propagation
    # from the downstream cell-join's null filter) and duplicates the whole
    # matmul into a second ArrowEvalPython per side — 2x the Python-boundary
    # work for a filter the explode already implies. The marker only blocks
    # that collapse/pushdown; row values are unchanged (oracle-pinned).
    cells = cells.asNondeterministic()

    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias(f"{side}_id"), cells(vec_col).alias("cells")
    ).select(f"{side}_id", F.explode("cells").alias("cell"))


def ivf_assign(
    corpus: DataFrame,
    *,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(c_id, cell) corpus cell assignment — the materializable IVF index
    half. In a deployed pipeline this is computed once at ingest, persisted
    bucketed by cell, and reused by every query batch (pass it to
    :func:`ivf_topk` as ``corpus_assign`` with the same ``nlist``).
    ``centroids``: a TRAINED quantizer merge state (kmeans_train output)
    replacing the deterministic lowest-id quantizer; ``nlist`` is then
    ignored (same contract as :func:`ivf_topk`)."""
    cents = (
        centroid_matrix(centroids)
        if centroids is not None
        else _ivf_centroids(corpus, nlist, id_col, vec_col)
    )
    return _nearest_cells(corpus, "c", 1, cents, id_col, vec_col)


def ivf_probes(
    queries: DataFrame,
    *,
    nprobe: int = 2,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, cell) probe list: each query's ``nprobe`` nearest trained
    cells by cosine (ties cell-asc) — |Q| × nprobe rows, the broadcastable
    side of every IVF serving join."""
    return _nearest_cells(
        queries, "q", nprobe, centroid_matrix(centroids), id_col, vec_col
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_assign: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the corpus
    into ``nlist`` cells; each query exactly re-ranks only the vectors in its
    ``nprobe`` nearest cells.

    The quantizer here is deterministic — centroids are the ``nlist``
    lowest-id corpus vectors — so the oracle can replay it exactly. At
    cluster scale the drop-in upgrade is Spark ML KMeans with a fixed seed
    (same two joins; only the centroid table changes), and the assignment
    table is precomputed once and bucketed by cell so queries shuffle
    nothing but their probe list. ``corpus_assign``: that precomputed
    (c_id, cell) assignment (from :func:`ivf_assign` with the same nlist) —
    skips re-assigning the corpus per query batch. ``centroids``: a
    TRAINED quantizer state (kmeans_train output) — replaces the
    deterministic lowest-id quantizer; ``nlist`` is then ignored.
    """
    cents = (
        centroid_matrix(centroids)
        if centroids is not None
        else _ivf_centroids(corpus, nlist, id_col, vec_col)
    )

    def nearest_cells(df: DataFrame, side: str, n: int) -> DataFrame:
        return _nearest_cells(df, side, n, cents, id_col, vec_col)

    assign = corpus_assign if corpus_assign is not None else nearest_cells(corpus, "c", 1)
    probes = nearest_cells(queries, "q", nprobe)
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("vec_q"))
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("vec_c"))
    cos = _cosine_pair_udf()
    cand = (
        # probe list is |Q|×nprobe rows — broadcast it against the corpus
        # cell assignment so the big side never shuffles
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
        .join(F.broadcast(q), "q_id")
        .join(c, "c_id")
        .withColumn("cosine", cos("vec_q", "vec_c"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"), "rank")
    )


def band_table(
    df: DataFrame,
    *,
    side: str = "c",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, band_bits) LSH band rows — the materializable half of the
    ANN index. In a deployed pipeline the corpus side is computed once at
    ingest, persisted bucketed by (band, band_bits), and reused by every
    query batch (pass it to :func:`lsh_bucketed_topk` as ``corpus_bands``).
    Ids only — embedding arrays are the fat column and must not ride
    through the band join."""
    rows = bits // bands
    mask = (1 << rows) - 1
    s = hyperplane_sketch_arrow(df, id_col=id_col, vec_col=vec_col, bits=bits)
    return s.select(
        F.col("vec_id").alias(f"{side}_id"),
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("sketch", b * rows).bitwiseAND(F.lit(mask)))
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_bits"),
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    bands: int = 4,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing at least one
    sketch band with the query. Bucket equi-join instead of cross join —
    the shuffle is on (band, band_bits), cost proportional to bucket sizes.
    ``corpus_bands``: precomputed :func:`band_table` of the corpus (side
    'c', same bits/bands) — skips re-sketching the corpus per query batch.
    """

    def banded(df: DataFrame, side: str) -> DataFrame:
        return band_table(
            df, side=side, id_col=id_col, vec_col=vec_col, bits=bits, bands=bands
        )

    def sides(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(vec_col).alias(f"vec_{side}"),
        )

    q = banded(queries, "q")
    c = corpus_bands if corpus_bands is not None else banded(corpus, "c")
    cos = _cosine_pair_udf()
    cand = (
        # queries ≪ corpus by construction: broadcast the query bands so the
        # corpus band table is scanned in place, never shuffled
        F.broadcast(q)
        .join(c, ["band", "band_bits"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
        .join(F.broadcast(sides(queries, "q")), "q_id")
        .join(sides(corpus, "c"), "c_id")
        .withColumn("cosine", cos("vec_q", "vec_c"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"), "rank")
    )
