"""Gram-index construction: text blocks → inverted byte-4-gram index.

Reference behavior (``assemblage_db/src/index.rs:682-759, 826-835``): the
indexing unit is the *block* (a child of a Page list or block-styled node);
a block's gram sequence is the grams of its chain-concatenated descendant
texts (the 3-gram boundary splice at ``index.rs:722-743`` is equivalent to
concatenate-then-gram, see SURVEY §7 "What's hard" #4).

Scale design: one Arrow kernel per batch grams each block's UTF-8 bytes
and aggregates them to (distinct gram, count) inside the row, so the build
is scan → project → explode with no shuffle. At 100 TB the
``grams`` table is written partitioned/bucketed by ``gram`` so ad-hoc search
(a broadcast join of a tiny query-gram set against postings) prunes to the
touched buckets and never shuffles the index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def gram_multiset_arrow(text_col: str) -> Column:
    """STRUCT<grams ARRAY<BIGINT>, counts ARRAY<INT>> of per-text distinct
    grams + multiset counts, computed inside one Arrow batch (numpy sliding
    windows + ``np.unique``). Because the indexing unit is the input row,
    this IS the final (node_id, gram)-level aggregate — no explode of the
    raw gram stream and no shuffle are needed afterwards."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    out_type = StructType(
        [
            StructField("grams", ArrayType(LongType())),
            StructField("counts", ArrayType(IntegerType())),
        ]
    )

    @pandas_udf(out_type)
    def _gram_multiset(s: pd.Series) -> pd.DataFrame:
        w = np.array([1 << 24, 1 << 16, 1 << 8, 1], dtype=np.int64)
        grams, counts = [], []
        for t in s:
            if t is None:
                grams.append(None)  # NULL text indexes nothing (SQL twin)
                counts.append(None)
                continue
            b = np.frombuffer(
                bytes(3) + t.encode("utf-8") + bytes(3), dtype=np.uint8
            ).astype(np.int64)
            u, c = np.unique(
                np.lib.stride_tricks.sliding_window_view(b, 4) @ w,
                return_counts=True,
            )
            grams.append(u.tolist())
            counts.append(c.astype(np.int32).tolist())
        return pd.DataFrame({"grams": grams, "counts": counts})

    return _gram_multiset(text_col)


def block_grams(blocks: DataFrame, id_col: str = "node_id") -> DataFrame:
    """(block_id, text) → inverted index rows (node_id, gram, occurrences).

    One row per distinct gram per block; ``occurrences`` is the multiset
    count, which the search kernel needs for min(q_occ, m_occ) accumulation
    (reference ``index.rs:219-226``).

    The whole per-block aggregation happens inside the Arrow kernel
    (``np.unique`` per row), so the plan is scan → project → explode —
    zero shuffles; the raw gram stream (~1 row per text byte) never
    materializes. Byte-exact on non-ASCII (operates on UTF-8 bytes).

    Precondition: one row per ``id_col`` value. The kernel aggregates
    within each input row, so duplicate ids would yield duplicate
    (node_id, gram) rows — pre-aggregate (concat text per id) before
    calling if ids can repeat.
    """
    return (
        blocks.select(
            F.col(id_col).alias("node_id"),
            gram_multiset_arrow("text").alias("m"),
        )
        .select(
            "node_id", F.explode(F.arrays_zip("m.grams", "m.counts")).alias("z")
        )
        .select(
            "node_id",
            F.col("z.grams").alias("gram"),
            F.col("z.counts").alias("occurrences"),
        )
    )


def gram_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Incremental index maintenance: the delta between two gram-index
    states (reference ``Diff::new``, index.rs:768-813).

    Both inputs are (node_id, gram, occurrences). Returns one row per
    (node_id, gram) whose occurrence count changed, with the NEW count
    (0 = delete) — exactly the shape a MERGE INTO the postings table needs
    (``store_grams``, index.rs:286-300). A full-outer join with map-side
    pruning of unchanged rows: the delta is proportional to the edit, not
    to the index.
    """
    b = before.select("node_id", "gram", F.col("occurrences").alias("occ_before"))
    a = after.select("node_id", "gram", F.col("occurrences").alias("occ_after"))
    return (
        b.join(a, ["node_id", "gram"], "full_outer")
        .filter(
            F.coalesce("occ_before", F.lit(0)) != F.coalesce("occ_after", F.lit(0))
        )
        .select(
            "node_id",
            "gram",
            F.coalesce("occ_after", F.lit(0)).cast("int").alias("occurrences"),
        )
    )


def gram_counts(grams: DataFrame) -> DataFrame:
    """Per-block total gram count (slot 3 ``Count``, ``index.rs:349-356``).

    Sum of occurrences == length of the block's gram sequence (n_bytes + 3).
    """
    return grams.groupBy("node_id").agg(
        F.sum("occurrences").cast("int").alias("gram_count")
    )
