"""Document chunking: fixed-size token windows with overlap — the step
every LLM training-data pipeline runs between cleaning and tokenization.

Pure Catalyst: the token array is bound once per row (lambda-variable CSE
via ``transform(array(x), toks -> ...)``), chunk starts are a stride
sequence, each chunk is a slice + join — no Python, no shuffle; the
output explodes to one row per chunk, which is exactly the shape a
downstream ``repartition`` + tokenizer stage consumes. Deterministic and
SQL-replayable (the DuckDB oracle mirrors slice semantics: both engines
truncate the final short chunk rather than padding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens): whitespace-token windows
    of ``chunk_tokens`` starting every ``chunk_tokens - overlap`` tokens.

    The last chunk of a document may be shorter (slice truncates); empty
    documents yield no chunks. ``overlap`` tokens are shared between
    consecutive chunks so no span of ``overlap`` consecutive tokens is
    ever split across a chunk boundary without appearing whole in one of
    them.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks_sql = "filter(split(trim(coalesce(text, '')), ' +'), t -> t <> '')"
    chunks = (
        f"transform(array({toks_sql}), toks -> "
        f"transform(sequence(0, size(toks) - 1, {step}), s -> named_struct("
        f"'chunk_text', array_join(slice(toks, s + 1, {chunk_tokens}), ' '), "
        f"'n_tokens', CAST(size(slice(toks, s + 1, {chunk_tokens})) AS BIGINT)"
        f")))[0]"
    )
    return (
        docs.filter(F.expr(f"size({toks_sql})") > 0)
        .select(
            "doc_id",
            F.posexplode(F.expr(chunks)).alias("chunk_idx", "c"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


def pack_chunks(
    chunks: DataFrame,
    *,
    budget: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """Sequence packing: assign chunks to context-window bins of
    ``budget`` tokens — the step between chunking and batch assembly in an
    LLM pipeline.

    Deterministic contiguous FIFO packing: within each shard (doc_id mod
    ``n_shards``), chunks are laid end-to-end in (doc_id, chunk_idx) order
    and a chunk's bin is the window its FIRST token falls in
    (``exclusive-running-total div budget``) — one running-sum window per
    shard, all integer arithmetic. Sharding keeps the cumulative sum
    parallel at scale (a global pack would serialize on one partition);
    bins are (shard, bin_in_shard) pairs, encoded as
    ``shard * 2^40 + bin``. A chunk longer than the leftover space
    straddles into the next bin (assignment is by start offset), the
    standard trade of streaming packers that never reorder or split
    chunks.

    Returns (doc_id, chunk_idx, n_tokens, bin_id, bin_offset) — bin_offset
    is the chunk's start position within its shard's token stream.
    """
    from pyspark.sql import Window

    shard = (F.col("doc_id") % n_shards).cast("long")
    w = (
        Window.partitionBy("__shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return (
        chunks.withColumn("__shard", shard)
        .withColumn("__start", start)
        .select(
            "doc_id",
            "chunk_idx",
            "n_tokens",
            (
                F.col("__shard") * F.lit(1 << 40)
                + F.expr(f"__start div {budget}")
            ).cast("long").alias("bin_id"),
            F.col("__start").alias("bin_offset"),
        )
    )
