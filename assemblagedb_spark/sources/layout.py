"""Bucketed storage layout: co-located joins without shuffles.

At 100 TB the dominant cost of the engine's recurring joins (edges⋈edges
sibling/traversal walks, grams⋈grams overlap work, nodes⋈edges expansion)
is the exchange. Spark's bucketing writes each table pre-partitioned by the
join key into a fixed number of buckets; two tables bucketed the same way
join bucket-to-bucket with NO exchange — the shuffle is paid once at write
time, amortized over every subsequent query.

Recommended layout (see README):
- ``nodes``, ``edges`` bucketed by ``node_id`` / ``parent_id``
- ``grams`` postings bucketed by ``gram`` (postings-local search)
- ``overlaps`` bucketed by ``src_id``

The helpers write external parquet tables (explicit ``path``), so the data
stays plain parquet readable by anything; the bucket metadata lives in the
session catalog.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    buckets: int,
    key_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as an external bucketed parquet table and register it.

    ``sort_cols`` additionally sorts within buckets, letting sort-merge
    joins skip their sort stage too (full exchange- and sort-free join).
    """
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(buckets, key_cols[0], *key_cols[1:])
    )
    if sort_cols:
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table)
    return table


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys: multi-dimensional data skipping
# ---------------------------------------------------------------------------

def zorder_key_col(x, y, bits: int = 10):
    """Morton interleave of two non-negative ints (x in even bit positions,
    y in odd): sorting/range-partitioning by this key clusters rows so that
    a predicate on EITHER dimension touches O(sqrt) of the files instead of
    all of them — parquet min/max row-group stats then skip the rest.

    Plain shift/mask arithmetic (2*bits result bits), replayable by any
    engine — see :func:`zorder_key_sql` for the SQL twin. Inputs must be
    pre-bucketed into [0, 2^bits).
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for k in range(bits):
        z = z + F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k)
        z = z + F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k + 1)
    return z.cast("long")


def zorder_key_sql(x: str, y: str, bits: int = 10) -> str:
    """The identical Morton interleave as portable SQL text (DuckDB oracle
    twin of :func:`zorder_key_col`)."""
    # every term fully parenthesized: SQL's << binds LOOSER than +, so an
    # unparenthesized `a << 18 + b` parses as `a << (18 + b)` and overflows
    terms = []
    for k in range(bits):
        terms.append(f"(((({x}) >> {k}) & 1) << {2 * k})")
        terms.append(f"(((({y}) >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    x, y,
    *,
    bits: int = 10,
    num_files: int | None = None,
) -> None:
    """Write parquet range-partitioned and sorted by the Morton key of
    (x, y): each output file covers a compact Z-curve segment, so its
    parquet min/max stats are tight on BOTH dimensions."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__z", zorder_key_col(x, y, bits))
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
