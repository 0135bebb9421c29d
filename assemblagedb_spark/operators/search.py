"""The overlap-search kernel: inverted-index set-similarity lookup.

Reference pipeline (``assemblage_db/src/index.rs:174-240``):

1. grams of the search term, with end-trimming slop (ad-hoc search only);
2. all-zero gram sets match nothing;
3. per-gram posting lookup; accumulate ``intersection[id] += min(q_occ, m_occ)``;
4. denominator: ``source_count`` (Asymmetric, ad-hoc search) or the stored
   block gram count (Symmetric, materialized overlaps);
5. u8-normalize into Overlap{a, b, intersection} with floor division
   (``data.rs:521-529``), score = intersection/min(a,b) (``data.rs:566-568``);
6. filter score ≥ 0.3, order by (intersection, a, b) DESC (``data.rs:588-596``).

:func:`find` is the Spark plan of the corpus path; :func:`find_local` is the
same arithmetic in plain Python, which ``AssemblageDb.search``/``overlaps``
run on the driver as the reference's single-writer store does.

Scale design: the query gram multiset is tiny (term length + 3), so it is a
*broadcast* hash join against the postings table — the postings side streams,
nothing shuffles except the final per-node aggregation, which is map-side
combined. With the grams table bucketed by ``gram``, Catalyst prunes the scan
to matching buckets.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from assemblagedb_spark.functions.core import index_text, trim_for_search

SEARCH_MIN_SCORE = 0.3  # index.rs:180
OVERLAP_MIN_SCORE = 0.5  # index.rs:311 (materialized overlaps threshold)


def overlap_columns(df: DataFrame) -> DataFrame:
    """Add the u8-normalized Overlap columns to a frame with integer columns
    ``source_count``, ``match_count``, ``intersection_raw``.

    Floor (integer) division replicates the reference's u8 casts exactly.
    """
    def u8(col: str):  # floor(255 * x / max) — exact integer division
        return F.expr(f"(255 * {col}) div greatest(source_count, match_count)").cast("int")

    return (
        df.withColumn("a", u8("source_count"))
        .withColumn("b", u8("match_count"))
        .withColumn("intersection", u8("intersection_raw"))
        .withColumn("score", F.col("intersection") / F.least("a", "b"))
    )


def find(
    spark: SparkSession,
    grams_index: DataFrame,
    query_grams: list[int],
    *,
    counts: DataFrame | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """The ``find`` kernel (``index.rs:194-240``) for a literal gram multiset.

    Returns (node_id, a, b, intersection, score) — one row per matched block.
    ``symmetric=True`` uses the stored per-block gram count as match_count and
    requires ``counts``.
    """
    if not any(g != 0 for g in query_grams):
        return spark.createDataFrame(
            [], "node_id string, a int, b int, intersection int, score double"
        )
    source_count = len(query_grams)
    q = spark.createDataFrame(
        [(g, c) for g, c in Counter(query_grams).items()], "gram long, q_occ int"
    )
    inter = (
        grams_index.join(F.broadcast(q), "gram")
        .groupBy("node_id")
        .agg(F.sum(F.least("occurrences", "q_occ")).cast("long").alias("intersection_raw"))
        .filter(F.col("intersection_raw") > 0)
    )
    if symmetric:
        if counts is None:
            raise ValueError("symmetric find requires the gram_counts table")
        inter = inter.join(counts, "node_id").withColumnRenamed("gram_count", "match_count")
        inter = inter.withColumn("match_count", F.col("match_count").cast("long"))
    else:
        inter = inter.withColumn("match_count", F.lit(source_count).cast("long"))
    scored = overlap_columns(inter.withColumn("source_count", F.lit(source_count).cast("long")))
    return scored.select("node_id", "a", "b", "intersection", "score")


def find_local(
    index: dict[str, Counter], query: Counter, *, symmetric: bool = False
) -> list[dict]:
    """:func:`find` in plain Python over ``{block id: gram multiset}``: one
    {id, a, b, intersection, score} row per block sharing a gram with
    ``query``, in Overlap order ((intersection, a, b) DESC, then id). A zero
    ``min(a, b)`` scores NULL in :func:`overlap_columns`, so that block is
    dropped. An all-zero query is not rejected here: ``store_overlaps``
    scores empty-text blocks too."""
    source_count = sum(query.values())
    rows = []
    for id, grams in index.items():
        raw = sum(min(n, grams[g]) for g, n in query.items() if g in grams)
        match_count = sum(grams.values()) if symmetric else source_count
        mx = max(source_count, match_count)
        a, b, inter = (255 * x // mx for x in (source_count, match_count, raw))
        if raw and min(a, b):
            rows.append({"id": id, "a": a, "b": b, "intersection": inter, "score": inter / min(a, b)})
    return sorted(rows, key=lambda r: (-r["intersection"], -r["a"], -r["b"], r["id"]))


def search(spark: SparkSession, grams_index: DataFrame, term: str) -> DataFrame:
    """Ad-hoc similarity search (``index.rs:174-184``): end-trimmed grams,
    asymmetric mode, score ≥ ``SEARCH_MIN_SCORE``, Overlap ordering."""
    q = trim_for_search(index_text(term))
    out = find(spark, grams_index, q, symmetric=False)
    return out.filter(F.col("score") >= SEARCH_MIN_SCORE).orderBy(
        F.desc("intersection"), F.desc("a"), F.desc("b"), F.asc("node_id")
    )
