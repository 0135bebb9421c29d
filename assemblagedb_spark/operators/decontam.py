"""Benchmark decontamination: flag training documents that share any word
n-gram with an evaluation/benchmark set.

The standard training-data hygiene pass (GPT-3 appendix C / PaLM §6 style:
13-gram overlap): any training document containing an n-gram that also
appears in a held-out benchmark is flagged (and typically dropped) so that
eval scores are not inflated by memorization.

Scale shape (100 TB corpus, benchmark sets are tiny by construction):
- the eval side's distinct gram set is orders of magnitude smaller than the
  corpus — broadcast it, so the corpus-side gram stream is matched map-side
  with NO shuffle of the training table;
- training grams are generated inline with Catalyst higher-order functions
  (split → slice → array_join) inside whole-stage codegen, then exploded;
  nothing is ever materialized per-gram except the matched survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tokens_expr(text_col: str) -> F.Column:
    """Whitespace tokens of the trimmed text (empty text → empty array)."""
    return F.expr(
        f"filter(split(trim(coalesce({text_col}, '')), ' +'), t -> t <> '')"
    )


def word_ngrams(words_col: str, n: int) -> F.Column:
    """Array of space-joined word ``n``-grams over an ALREADY-TOKENIZED
    array column; empty array when the document has fewer than ``n``
    tokens.

    Taking the token array (not raw text) matters twice over: the split
    runs once per row instead of once per mention inside this expression
    (SQL expressions have no let-binding, and subexpression elimination
    does not reach across the CASE branches), and callers stacking several
    gram sizes tokenize once. ``sequence(1, size-n+1)`` is guarded
    (Spark's sequence runs DESCENDING when stop < start, which would
    fabricate grams on short docs).
    """
    w = words_col
    return F.expr(
        f"CASE WHEN size({w}) >= {n} THEN "
        f"transform(sequence(1, size({w}) - {n} + 1), "
        f"i -> array_join(slice({w}, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def exploded_ngrams(docs: DataFrame, *, n: int) -> DataFrame:
    """(doc_id, gram) — one row per word n-gram INSTANCE. Tokenizes in its
    own projection so the split evaluates once per row."""
    return (
        docs.select("doc_id", tokens_expr("text").alias("__w"))
        .select("doc_id", F.explode(word_ngrams("__w", n)).alias("gram"))
    )


def gram_set(docs: DataFrame, *, n: int = 13) -> DataFrame:
    """Distinct (doc_id, gram) pairs for every word ``n``-gram."""
    return exploded_ngrams(docs, n=n).distinct()


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
) -> DataFrame:
    """(doc_id, n_shared_grams) for every TRAINING document sharing at least
    one word ``n``-gram with the benchmark set.

    Anti-joining the result against the corpus yields the decontaminated
    training set. ``n_shared_grams`` counts DISTINCT contaminated grams per
    document (diagnostic for "how contaminated").

    The benchmark gram set is deduplicated then broadcast — the training
    relation is never shuffled; the only aggregation is over matched rows
    (a vanishingly small fraction of the corpus).
    """
    t = gram_set(train, n=n)
    b = (
        gram_set(benchmark, n=n)
        .select("gram")
        .distinct()
    )
    return (
        t.join(F.broadcast(b), "gram", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
