"""Streaming IVFPQ index maintenance: encode + cell-assign new vectors.

New embedding rows arriving on a stream become (vec_id, subspace, code,
cell) RESIDUAL inverted-list rows — the exact layout
`operators.pq.ivfpq_adc_topk_residual` serves — per micro-batch, against
FROZEN trained states: residual codebooks and the coarse quantizer
retrain offline on a schedule, ingest never mutates them (the production
ANN discipline; a drifting codebook would silently corrupt every
previously stored code).

All three steps — coarse-cell assignment (matmul + lexsort against the
k × dim centroid matrix, the `similarity._nearest_cells` math), integer
residualization (floor(v·QUANT_SCALE) − ccent[cell]), and PQ encoding
(`pq.pq_encode_arrow`'s vectorized argmin) — run in ONE fused Arrow
kernel per micro-batch, a stateless projection with the trained states
riding in the task closure: no join, no aggregate, no exchange.

Stateless ⇒ append-mode safe with no watermark or state store, and the
sink can write straight into the cell-partitioned code table (bucketed by
cell at scale), where the serving join partition-prunes probes. Batch and streaming encode the same rows to the
same codes by construction (pinned by tests/test_streaming_ann.py, and
gate-checked against the DuckDB oracle via `streaming_ivfpq_ingest`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from assemblagedb_spark.operators.pq import (
    _argmin_codes,
    _codebook_literal,
    _codebook_matrices,
)
from assemblagedb_spark.operators.similarity import centroid_matrix
from assemblagedb_spark.operators.vectors import QUANT_SCALE


def ivfpq_ingest(
    stream: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    *,
    m: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """(vec_id, subspace, code, cell) RESIDUAL inverted-list rows for
    every arriving vector — assign the coarse cell, residualize against
    that cell's integer centroid, encode with the frozen residual
    ``codebook``; identical rows to the batch build
    (`pq.residual_vectors` + `pq.pq_encode_arrow(..., scale=None)` over
    `similarity.ivf_assign(centroids=)`).

    All three steps run in ONE fused Arrow kernel per micro-batch
    (mapInPandas is a stateless projection, so the stream stays
    append-mode safe with zero exchanges): the cosine cell assignment is
    the same matmul + lexsort as `similarity._nearest_cells` (float-
    identical), the residual is exact int64 arithmetic, and the PQ
    argmin is `pq._argmin_codes`, the kernel `pq.pq_encode_arrow` runs.
    Parity is pinned by the gate (state after N batches ≡ batch
    build) and tests/test_streaming_ann.py."""
    # ONE codebook collect serves both the never-trained check and the
    # encode matrices (an eager count() job here would block the
    # streaming setup path for information the literal already carries)
    cb = _codebook_literal(codebook)
    id_type = stream.schema["vec_id"].dataType.simpleString()
    out_schema = f"vec_id {id_type}, subspace long, code long, cell long"
    if not cb:
        # NEVER-trained states (empty offline corpus): nothing can be
        # encoded or cell-assigned — an empty streaming projection with
        # the output schema (still a stream transformation, append-safe)
        return stream.select(
            "vec_id",
            F.lit(None).cast("long").alias("subspace"),
            F.lit(None).cast("long").alias("code"),
            F.lit(None).cast("long").alias("cell"),
        ).where(F.lit(False))
    if any(not cb.get(sp) for sp in range(m)):
        raise ValueError(
            "ivfpq_ingest needs every subspace trained: an untrained "
            "subspace cannot encode a stream."
        )
    labs, mats = _codebook_matrices(cb, m)
    # ONE centroid collect serves both the float cosine matrix (cell
    # assignment) and the integer centroid rows (residual grid)
    cent_ids, CM, cnorm = centroid_matrix(centroids)
    CINT = np.rint(CM * QUANT_SCALE).astype(np.int64)  # floor(sum/n) ints exact

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["__vec"]]
            )
            cos = (V @ CM.T) / np.outer(np.sqrt((V * V).sum(1)), cnorm)
            picks = np.array(
                [np.lexsort((cent_ids, -row))[0] for row in cos]
            )  # cos desc, cell asc — similarity._nearest_cells order
            cells = cent_ids[picks]
            R = np.floor(V * QUANT_SCALE).astype(np.int64) - CINT[picks]
            codes = _argmin_codes(R, labs, mats, m, sub_dim)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), m),
                    "subspace": np.tile(np.arange(m, dtype=np.int64), n),
                    "code": codes.reshape(-1),
                    "cell": np.repeat(cells, m),
                }
            )

    # NULL vectors ingest nothing (same exclusion as the batch build) —
    # a plain filter, so the stream stays append-mode stateless
    return stream.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.col("embedding").alias("__vec")
    ).mapInPandas(kernel, out_schema)
