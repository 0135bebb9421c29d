"""Product quantization (PQ) for ANN at memory scale.

The third leg of the ANN stack next to LSH buckets and IVF cells
(similarity.py): split each d-dim vector into ``m`` contiguous subvectors,
train an independent k-means codebook per subspace (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI'11), and store each vector
as ``m`` sub-byte codes — the gated config packs a 64-dim float vector
into 96 bits (~21× compression), which is what lets a 100 TB embedding
table's index live in executor memory.

Querying uses asymmetric distance computation (ADC): the query stays
full-precision, a per-query (m × k) distance table against the codebook is
precomputed ONCE, and each corpus vector's approximate distance is m table
lookups — no float math per corpus row.

Scale shape mirrors the rest of the vector stack: training
(:func:`pq_train_arrow`) is a merge-state k-means loop whose rounds are
one Arrow-kernel corpus scan each; encoding (:func:`pq_encode_arrow`) is
ONE corpus scan with the codebook in the kernel's closure; ADC scoring is
one scan of the (vec_id, subspace, code) table against a broadcast
distance table with a (query, vec) partial-sum aggregate, and IVFADC
(:func:`ivfpq_adc_topk_residual`) restricts that scan to the probed
cells' residual codes. All arithmetic runs on the quantized
integer grid (floor(v * scale)), so codes and ADC scores are bit-identical
on any engine/partitioning — the same oracle-parity discipline as
kmeans_train (vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _qv_body(scale: int | None) -> str:
    """Per-element quantization lambda body over variable ``v``:
    ``floor(v * scale)`` onto the integer grid, or a plain BIGINT cast
    when ``scale is None`` (the input is ALREADY on the grid — e.g. a
    residual array produced by :func:`residual_vectors`)."""
    if scale is None:
        return "CAST(v AS BIGINT)"
    return f"CAST(floor(CAST(v AS DOUBLE) * {scale}) AS BIGINT)"


def _codebook_vectors(codebook: DataFrame) -> DataFrame:
    """(subspace, label, cvec): integer centroid vectors from merge state."""
    return (
        codebook.groupBy("subspace", "label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "sum_q", "n_vecs"))
            ).alias("comps")
        )
        .select(
            "subspace",
            "label",
            F.expr(
                "transform(comps, c -> CAST(floor(c.sum_q / c.n_vecs) AS BIGINT))"
            ).alias("cvec"),
        )
    )


def _codebook_literal(codebook: DataFrame) -> dict[int, list[list[int]]]:
    """Collect the (m × k × sub_dim) merge state into
    {subspace: [centroid ints per label, label-ascending]} — the codebook
    is bounded tiny by construction (the broadcast side of every PQ join),
    so this collect is the same build-side materialization
    :func:`_codebook_vectors` feeds to the planner."""
    by_sp: dict[int, dict[int, dict[int, int]]] = {}
    for r in codebook.collect():
        by_sp.setdefault(r["subspace"], {}).setdefault(r["label"], {})[
            r["pos"]
        ] = r["sum_q"] // r["n_vecs"]  # floor(sum_q / n_vecs), n_vecs > 0
    # keep REAL label values (an emptied cluster leaves a gap; positional
    # renumbering would emit wrong codes), label-ascending for the
    # deterministic tie-break
    out: dict[int, list[tuple[int, list[int]]]] = {}
    for sp, labels in by_sp.items():
        out[sp] = [
            (l, [labels[l][p] for p in sorted(labels[l])])
            for l in sorted(labels)
        ]
    return out


def _adc_distance_table(
    codebook: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    scale: int,
) -> DataFrame:
    """(query_id, subspace, code, d): each query's integer squared distance
    to every subspace centroid — the |Q| × m × k ADC lookup table, the
    broadcast side of every PQ serving join."""
    qsub = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> "
                f"transform(slice({vec_col}, s * {sub_dim} + 1, {sub_dim}), "
                f"v -> {_qv_body(scale)}))"
            )
        ).alias("subspace", "qvec"),
    ).withColumn("subspace", F.col("subspace").cast("long"))
    cent = _codebook_vectors(codebook)
    dist = F.expr(
        "aggregate(zip_with(qvec, cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return qsub.join(F.broadcast(cent), "subspace").select(
        "query_id", "subspace", F.col("label").alias("code"), dist.alias("d")
    )


def _adc_rank(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    sub_dim: int = 8,
    scale: int | None = 1000,
) -> DataFrame:
    """Asymmetric-distance top-k: per query, distances to each subspace
    centroid are computed once (|Q| × m × k rows, broadcast); each corpus
    vector's approximate squared distance is the sum of its m code lookups.

    Output: (query_id, neighbor_id, adc_dist, rank) — rank 1 = nearest,
    self excluded, ties broken by ascending neighbor id. The scan of the
    code table is the only big input; scoring shuffles (query, vec) partial
    sums, never raw vectors."""
    dtable = _adc_distance_table(
        codebook, queries, id_col=id_col, vec_col=vec_col,
        m=m, sub_dim=sub_dim, scale=scale,
    )
    scored = (
        codes.join(F.broadcast(dtable), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    return _adc_rank(scored, k)


def _codebook_matrices(cb: dict[int, list[tuple[int, list[int]]]], m: int):
    """(labs, mats) per subspace from a collected
    :func:`_codebook_literal`: label vectors (ascending) and int64
    centroid matrices — the closure payload of every Arrow encode
    kernel (batch :func:`pq_encode_arrow` AND the fused streaming
    ingest share this, so the parity-critical prep has one home)."""
    import numpy as np

    labs = [
        np.array([l for l, _ in cb[sp]], dtype=np.int64) for sp in range(m)
    ]
    mats = [
        np.array([c for _, c in cb[sp]], dtype=np.int64) for sp in range(m)
    ]
    return labs, mats


def _grid_matrix(vectors, scale: int | None):
    """(n, dim) int64 rows on the integer grid — the numpy form of
    :func:`_qv_body`: floor(v * scale), or the values as-is when
    ``scale is None``."""
    import numpy as np

    V = np.stack([np.asarray(v, dtype=np.float64) for v in vectors])
    if scale is None:
        return V.astype(np.int64)
    return np.floor(V * scale).astype(np.int64)


def _argmin_codes(Q, labs, mats, m: int, sub_dim: int):
    """(n, m) int64 argmin codes for integer-grid rows ``Q``: per
    subspace, squared distance to every centroid, first minimum wins —
    labs is label-ascending and ``np.argmin`` returns the FIRST min, so
    ties break to the lowest label, identical to the oracle's
    ``ORDER BY dist, label`` tie-break. The single definition both the batch encode and the
    streaming ingest call — a fix here fixes both sides of the
    batch ≡ stream parity gate."""
    import numpy as np

    n = Q.shape[0]
    codes = np.empty((n, m), dtype=np.int64)
    for sp in range(m):
        X = Q[:, sp * sub_dim : (sp + 1) * sub_dim]
        d = ((X[:, None, :] - mats[sp][None, :, :]) ** 2).sum(2)
        codes[:, sp] = labs[sp][np.argmin(d, axis=1)]
    return codes


def pq_encode_arrow(
    embeddings: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int | None = 1000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as ``m`` codes: (vec_id, subspace, code).

    Per Arrow batch, ONE numpy distance pass per subspace against the
    closure-held codeword matrices (:func:`_argmin_codes`): integer grid,
    argmin with the lowest label winning ties — the oracle's
    ``row_number() OVER (ORDER BY dist, label)``. A stateless
    projection: one corpus scan, zero shuffle, streaming-safe per
    micro-batch.

    ``carry_cols``: extra input columns copied through unchanged (e.g.
    the coarse ``cell`` of an IVFADC build — emitting the serving layout
    in the encode pass itself).
    """
    import numpy as np
    import pandas as pd

    id_type = embeddings.schema[id_col].dataType.simpleString()
    carry_schema = "".join(
        f", {c} {dict(embeddings.dtypes)[c]}" for c in carry_cols
    )
    out_schema = f"vec_id {id_type}, subspace long, code long{carry_schema}"
    cb = _codebook_literal(codebook)
    if not cb:
        # a NEVER-trained codebook (empty corpus) encodes nothing
        return embeddings.sparkSession.createDataFrame([], out_schema)
    if any(not cb.get(sp) for sp in range(m)):
        raise ValueError(
            "pq_encode_arrow needs every subspace trained; the codebook "
            "has a subspace with no labels"
        )
    labs, mats = _codebook_matrices(cb, m)

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = _argmin_codes(
                _grid_matrix(pdf["__vec"], scale), labs, mats, m, sub_dim
            )
            out = {
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                "subspace": np.tile(np.arange(m, dtype=np.int64), n),
                "code": codes.reshape(-1),
            }
            for c in carry_cols:
                out[c] = np.repeat(pdf[c].to_numpy(), m)
            yield pd.DataFrame(out)

    return embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__vec"),
        *[F.col(c) for c in carry_cols],
    ).mapInPandas(kernel, out_schema)


def coarse_centroid_vectors(state: DataFrame) -> DataFrame:
    """(cell, cvec array<bigint>): integer coarse-quantizer centroids from
    a kmeans_train merge state — floor(sum_q / n_vecs) per component, the
    exact values every engine replays."""
    return (
        state.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "sum_q", "n_vecs"))
            ).alias("comps")
        )
        .select(
            F.col("label").alias("cell"),
            F.expr(
                "transform(comps, c -> CAST(floor(c.sum_q / c.n_vecs) AS BIGINT))"
            ).alias("cvec"),
        )
    )


def residual_vectors(
    embeddings: DataFrame,
    assign: DataFrame,
    coarse: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, cell, rvec): each vector's integer residual against its
    coarse cell centroid — rvec = floor(v·scale) − cvec[cell], the
    quantity IVFADC quantizes instead of the raw vector (Jégou et al.
    TPAMI'11 §V: PQ codebooks trained on residuals capture the
    within-cell geometry the coarse quantizer already removed).

    ``assign``: (vec_id, cell) rows (similarity.ivf_assign output,
    renamed); ``coarse``: (cell, cvec) integer centroids
    (:func:`coarse_centroid_vectors`). Exact integer arithmetic — the
    residual grid replays in any engine. One corpus scan; both joins
    broadcast (assign is corpus-sized but 2 columns — callers that
    already carry the cell on the row pass it through instead)."""
    qvec = F.expr(
        f"transform({vec_col}, v -> {_qv_body(scale)})"
    )
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), qvec.alias("qvec"))
        .join(assign, "vec_id")
        .join(F.broadcast(coarse), "cell")
        .select(
            "vec_id",
            "cell",
            F.expr("zip_with(qvec, cvec, (a, b) -> a - b)").alias("rvec"),
        )
    )


def query_residuals(
    queries: DataFrame,
    probes: DataFrame,
    coarse: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(query_id, cell, rvec): one residual row per (query, PROBED cell)
    — the query side of residual IVFADC, where the distance table is
    per probed cell (the query's residual differs in every cell it
    probes, unlike the raw-vector layout's single table).
    |Q| × nprobe rows — broadcast-sized by construction."""
    qvec = F.expr(f"transform({vec_col}, v -> {_qv_body(scale)})")
    return (
        queries.select(F.col(id_col).alias("query_id"), qvec.alias("qvec"))
        .join(probes.withColumnRenamed("q_id", "query_id"), "query_id")
        .join(F.broadcast(coarse), "cell")
        .select(
            "query_id",
            "cell",
            F.expr("zip_with(qvec, cvec, (a, b) -> a - b)").alias("rvec"),
        )
    )


def ivfpq_adc_topk_residual(
    cell_codes: DataFrame,
    codebook: DataFrame,
    q_resid: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Residual-encoded IVFADC serving (Jégou et al. TPAMI'11 §V — the
    FAISS ``IVFPQ`` layout proper): corpus codes quantize residuals
    y − q1(y), so the per-query ADC table is computed per PROBED CELL
    from the query's residual in that cell.

    ``cell_codes``: (vec_id, subspace, code, cell) residual inverted
    lists (build: :func:`residual_vectors` → :func:`pq_encode_arrow`
    with ``scale=None``). ``q_resid``:
    (query_id, cell, rvec) from :func:`query_residuals` — its (query,
    cell) pairs ARE the probe list, so the distance-table join below
    both routes probes and scores them: one broadcast hash join against
    the big code table, which is scanned, never shuffled (and partition-
    pruned when written bucketed by cell). Work = Σ_q Σ_probed |cell|·m
    lookups — identical candidate volume to the raw layout; only the
    table entries differ. Same exact integer arithmetic, self-exclusion
    and (adc_dist, neighbor_id) tie order as :func:`pq_adc_topk`."""
    cent = _codebook_vectors(codebook)
    sub = q_resid.select(
        "query_id",
        "cell",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> "
                f"slice(rvec, s * {sub_dim} + 1, {sub_dim}))"
            )
        ).alias("subspace", "qvec"),
    ).withColumn("subspace", F.col("subspace").cast("long"))
    dist = F.expr(
        "aggregate(zip_with(qvec, cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    dtable = sub.join(F.broadcast(cent), "subspace").select(
        "query_id", "cell", "subspace",
        F.col("label").alias("code"), dist.alias("d"),
    )
    scored = (
        cell_codes.join(F.broadcast(dtable), ["cell", "subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    return _adc_rank(scored, k)


def pq_train_arrow(
    embeddings: DataFrame,
    *,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int | None = 1000,
) -> DataFrame:
    """Train ``m`` independent subspace codebooks: subspace s covers
    components [s*sub_dim, (s+1)*sub_dim). Returns the per-subspace
    k-means merge states (subspace, label, pos, sum_q, n_vecs) with pos
    LOCAL to the subspace.

    Seeds mirror kmeans_train (vectors.py): label j = j-th lowest vec_id,
    the same seed vectors in every subspace (fewer than ``k`` labels when
    the corpus has fewer than ``k`` non-null vectors). All m codebooks
    train in ONE Lloyd loop on the integer grid: each round is ONE corpus
    scan whose Arrow kernel assigns codes in numpy (lowest label wins
    ties) and pre-aggregates the merge state per batch, so the shuffle
    per round carries only (tasks × m × k × sub_dim) partial rows and the
    tiny state collects driver-side between rounds. Centroids are
    floor(sum_q / n_vecs); a cluster that loses every vector is dropped —
    the oracle's unrolled Lloyd chain replays all of it exactly."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    seed_rows = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col))
        .orderBy("vec_id").limit(k).collect()
    )
    if not seed_rows:
        # empty corpus: no seeds, no codebook — the empty merge state
        # (mirrors kmeans_train; the SQL oracle's seed CTE is empty too)
        return spark.createDataFrame(
            [], "subspace long, label long, pos long, sum_q long, n_vecs long"
        )

    seed_q = _grid_matrix([r[1] for r in seed_rows], scale)  # (≤k, dim), label = row index
    n_seeds = len(seed_rows)
    # state[sp] = (labels asc, sums (k', sd) int64, counts (k',) int64)
    state = {
        sp: (
            np.arange(n_seeds, dtype=np.int64),
            seed_q[:, sp * sub_dim : (sp + 1) * sub_dim].copy(),
            np.ones(n_seeds, dtype=np.int64),
        )
        for sp in range(m)
    }

    partial_schema = (
        "subspace long, label long, pos long, sum_q long, n_vecs long"
    )

    def round_kernel(labs, mats):
        """labs[sp] / mats[sp]: label-ascending labels and their
        floor(sum/n) centroids — the encode kernel's argmin inputs."""

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = _grid_matrix(pdf["__vec"], scale)
                codes = _argmin_codes(Q, labs, mats, m, sub_dim)
                out_sp, out_lab, out_pos, out_sum, out_cnt = [], [], [], [], []
                for sp in range(m):
                    X = Q[:, sp * sub_dim : (sp + 1) * sub_dim]
                    for label in np.unique(codes[:, sp]):
                        mask = codes[:, sp] == label
                        out_sp.extend([sp] * sub_dim)
                        out_lab.extend([int(label)] * sub_dim)
                        out_pos.extend(range(sub_dim))
                        out_sum.extend(int(v) for v in X[mask].sum(0))
                        out_cnt.extend([int(mask.sum())] * sub_dim)
                yield pd.DataFrame(
                    {
                        "subspace": np.array(out_sp, dtype=np.int64),
                        "label": np.array(out_lab, dtype=np.int64),
                        "pos": np.array(out_pos, dtype=np.int64),
                        "sum_q": np.array(out_sum, dtype=np.int64),
                        "n_vecs": np.array(out_cnt, dtype=np.int64),
                    }
                )

        return kernel

    src = embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    state_df = None
    for _ in range(iters):
        labs = {sp: labels for sp, (labels, _, _) in state.items()}
        mats = {
            sp: sums // counts[:, None]
            for sp, (_, sums, counts) in state.items()
        }
        state_df = (
            src.mapInPandas(round_kernel(labs, mats), partial_schema)
            .groupBy("subspace", "label", "pos")
            .agg(
                F.sum("sum_q").cast("long").alias("sum_q"),
                F.sum("n_vecs").cast("long").alias("n_vecs"),
            )
        )
        rows = state_df.collect()  # ≤ m×k×sub_dim rows
        nxt: dict[int, dict[int, tuple[np.ndarray, int]]] = {}
        for r in rows:
            ent = nxt.setdefault(r["subspace"], {}).setdefault(
                r["label"], [np.zeros(sub_dim, dtype=np.int64), 0]
            )
            ent[0][r["pos"]] = r["sum_q"]
            ent[1] = r["n_vecs"]
        state = {}
        for sp, labels in nxt.items():
            order = np.array(sorted(labels), dtype=np.int64)
            state[sp] = (
                order,
                np.stack([labels[l][0] for l in order]),
                np.array([labels[l][1] for l in order], dtype=np.int64),
            )
    if state_df is not None:
        # lineage of the returned frame: the LAST round's single scan +
        # tiny groupBy (already computed above for the driver copy)
        return state_df.localCheckpoint(eager=True)
    # iters=0: the seed state itself
    recs = [
        (sp, int(labs[j]), p, int(sums[j, p]), int(counts[j]))
        for sp, (labs, sums, counts) in state.items()
        for j in range(len(labs))
        for p in range(sub_dim)
    ]
    return spark.createDataFrame(recs, partial_schema)
