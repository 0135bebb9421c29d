"""Distributed vector aggregation over embedding columns.

Centroids (per-label mean vectors) are the building block for IVF index
training, cluster drift monitoring, and class-prototype dedup. At scale the
only viable plan is dimension-exploded aggregation: posexplode the
``array<float>`` into (label, pos, value) and run ONE groupBy — map-side
partial sums mean each executor contributes m*dim rows no matter how many
vectors it scanned. Driver never sees a vector.

Sums are integer-quantized (``floor(value * QUANT_SCALE)`` on the float64
promotion of the float32 input) so the compared state is exact: float
summation ORDER is engine- and partitioning-dependent, integers commute.
The float centroid is ``sum_q / (QUANT_SCALE * n)`` — caller-side, like
any fixed-point store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the fixed-point grid of every quantized vector in the package (vectors,
# pq, similarity, streaming.ann): component q = floor(v * QUANT_SCALE)
QUANT_SCALE = 1000


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """(label, pos, sum_q, n_vecs): quantized component sums + counts per
    label — the exact merge state of a distributed mean."""
    return (
        embeddings.select(
            "label",
            F.posexplode("embedding").alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("v").cast("double") * QUANT_SCALE))
            .cast("long")
            .alias("sum_q"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
    )


def centroid_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Nearest-centroid assignment (one k-means E-step): broadcast the
    (tiny) centroid table, compute quantized squared distance per pair with
    a zip_with fold, keep the argmin.

    Distance is on the quantized integer grid (sum of (q_i - c_q_i)^2 with
    c_q_i = floor(sum_q / n_vecs) per component) — deterministic tie-break
    on centroid label. The corpus is scanned once, never shuffled (the
    argmin is a per-row reduce over the broadcast list).
    """
    cent = (
        centroids.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "sum_q", "n_vecs"))
            ).alias("comps")
        )
        .select(
            "label",
            F.expr(
                "transform(comps, c -> CAST(floor(c.sum_q / c.n_vecs) AS BIGINT))"
            ).alias("cvec"),
        )
    )
    qvec = F.expr(
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )
    # a NULL vector has no nearest centroid: its NULL distance would
    # still win a min-struct tie — exclude it like the SQL twin does
    pairs = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", qvec.alias("qvec")
    ).crossJoin(F.broadcast(cent))
    dist = F.expr(
        "aggregate(zip_with(qvec, cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    scored = pairs.select("vec_id", "label", dist.alias("dist"))
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "label")).alias("b")
    )
    return best.select(
        "vec_id", F.col("b.label").alias("label"), F.col("b.dist").alias("dist")
    )


def kmeans_train(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Distributed Lloyd's k-means on the quantized integer grid:
    deterministic init (the ``k`` lowest-id vectors), then ``iters`` rounds
    of literal-folded assign → merge-state recompute.

    Returns the final centroid MERGE STATE (label, pos, sum_q, n_vecs) —
    the exact, engine-replayable form (float centroid =
    sum_q/(QUANT_SCALE*n)).
    Clusters that lose all members drop out (deterministically), matching
    the SQL oracle's unrolled iteration chain.

    Scale shape: per round, ONE corpus scan computes assignments against
    the k×dim centroid list folded into the projection as literals (the
    argmin is a per-row ``array_min(transform(...))`` over the candidate
    structs — no crossJoin, no corpus-sized argmin groupBy, no
    assignment⋈corpus re-join), and ONE map-side-partial groupBy over
    (label, pos) rebuilds the ≤ k×dim-row state — so the only bytes that
    ever shuffle per round are the aggregate partials, the same cycle
    Spark ML's KMeans runs, with integer sums so results are independent
    of partitioning. The per-round state collect is bounded (k×dim rows)
    by construction; centroid components are exact integer floor
    divisions (sum_q // n_vecs ≡ the SQL chain's floor(sum_q / n_vecs) —
    |sum_q| stays far below 2^52, so the double division is exact). The
    argmin tie-break is lexicographic (dist, label), identical to
    ``centroid_assign``'s min-struct. The trained state feeds
    ``similarity.ivf_topk`` as its coarse quantizer.
    """
    qvec = F.expr(
        f"transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )
    # NULL vectors train nothing (and a NULL seed would break the
    # centroid literals) — excluded like every other vector consumer
    quant = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", qvec.alias("qvec")
    )
    # guarded repartition (the byte-small-file trap): Spark splits scans
    # by bytes, so a small parquet parks the whole per-row distance fold
    # in ONE task — and with the literal-folded argmin there is no
    # downstream shuffle left to accidentally re-parallelize the rounds
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if quant.rdd.getNumPartitions() < par // 2:
        quant = quant.repartition(par, "vec_id")
    quant = quant.persist()

    # init: label j = j-th lowest id vector, n_vecs=1 — ONE bounded
    # k-row TakeOrdered collect yields both the seed ids and their
    # vectors (a window would either be partition-less or need a dummy
    # column; k rows on the driver is the cleaner exact plan)
    seed_rows = quant.orderBy("vec_id").limit(k).collect()
    comps: dict[int, list[int]] = {
        i: [int(v) for v in r["qvec"]] for i, r in enumerate(seed_rows)
    }
    if not comps:
        # empty corpus: no seeds, no clusters — the empty merge state
        # (the SQL oracle's row_number() seed CTE yields zero rows too;
        # an array() literal here would type as VOID and fail analysis)
        quant.unpersist()
        return embeddings.sparkSession.createDataFrame(
            [], "label long, pos long, sum_q long, n_vecs long"
        )

    state = None
    for it in range(iters):
        # fold the current centroids into the scan as ONE parsed SQL
        # literal (512 F.lit()/struct() Column calls cost ~1.5s of Py4J
        # round-trips per round; one expr() string parses in ~ms). The
        # per-row array_min over the candidate structs computes the
        # identical lexicographic (dist, label) argmin as
        # centroid_assign's min-struct — replacing its crossJoin + argmin
        # groupBy + assignment⋈corpus re-join, so nothing corpus-sized
        # ever shuffles
        cands_sql = "array(" + ",".join(
            f"named_struct('label', CAST({lab} AS BIGINT), 'cvec', "
            "array(" + ",".join(f"{c}L" for c in comps[lab]) + "))"
            for lab in sorted(comps)
        ) + ")"
        lab_expr = F.expr(
            f"array_min(transform({cands_sql}, c -> named_struct("
            "'dist', aggregate(zip_with(qvec, c.cvec, "
            "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x), "
            "'label', c.label))).label"
        )
        state = (
            quant.select(lab_expr.alias("label"),
                         F.posexplode("qvec").alias("pos", "qv"))
            .groupBy("label", "pos")
            .agg(
                F.sum("qv").cast("long").alias("sum_q"),
                F.count(F.lit(1)).cast("long").alias("n_vecs"),
            )
        )
        # tiny (≤ k×dim rows): pin it so the next round's collect (or the
        # caller's first action) doesn't recompute the whole lineage
        state = state.localCheckpoint(eager=True)
        if it + 1 == iters:
            break  # the last state is the result; no further centroids
        # next round's centroids: exact integer floor division (≡ the SQL
        # chain's floor(sum_q / n_vecs); |sum_q| << 2^52 so the double
        # division is exact). Clusters that lost all members simply have
        # no rows — they drop out of the candidate list, as before.
        nxt: dict[int, dict[int, int]] = {}
        for r in state.collect():
            nxt.setdefault(int(r["label"]), {})[int(r["pos"])] = (
                int(r["sum_q"]) // int(r["n_vecs"])
            )
        comps = {
            lab: [by_pos[p] for p in sorted(by_pos)]
            for lab, by_pos in nxt.items()
        }
    if state is None:
        # iters=0: the init state itself, as the same bounded relation
        state = quant.sparkSession.createDataFrame(
            [
                (lab, pos, cv, 1)
                for lab in sorted(comps)
                for pos, cv in enumerate(comps[lab])
            ],
            "label long, pos long, sum_q long, n_vecs long",
        )
    # the final state is checkpointed — the quantized corpus cache is no
    # longer reachable from the result, so release it
    quant.unpersist()
    # label stays BIGINT end to end: the SQL oracle's row_number()-derived
    # label is int64 and the driver's schema compare is dtype-strict
    return state.select(F.col("label").cast("long").alias("label"),
                        F.col("pos").cast("long").alias("pos"),
                        "sum_q", "n_vecs")


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 post-training quantization: each vector's
    scale is its abs-max component, components map to
    ``floor(x * 127 / amax + 0.5)`` ∈ [-127, 127] (half-up via the floor
    trick, which both engines compute on the identical IEEE double — a
    bare round() differs between half-even and half-away engines).

    Output: (vec_id, pos, q, scale_micro) — the exploded code table plus
    the per-vector scale as integer micro-units (dequant ≈ q * scale /
    127). 4× memory cut for ANN candidate scoring; zero vectors emit q=0
    with scale_micro=0.

    Scale shape: pure per-row projection + one posexplode — no shuffle,
    no Python; quantizing 100 TB of vectors is a map-only job.
    """
    amax = F.expr(
        "array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"
    )
    rows = embeddings.select(
        "vec_id",
        amax.alias("__amax"),
        F.posexplode("embedding").alias("pos", "__x"),
    )
    return rows.select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.when(F.col("__amax") > 0,
               F.floor(F.col("__x").cast("double") * 127 / F.col("__amax") + 0.5))
        .otherwise(F.lit(0)).cast("long").alias("q"),
        F.when(F.col("__amax") > 0,
               F.floor(F.col("__amax") * 1000000 + 0.5))
        .otherwise(F.lit(0)).cast("long").alias("scale_micro"),
    )
