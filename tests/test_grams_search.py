"""Gram indexing + search parity with the reference's test expectations.

Mirrors ``assemblage_db/tests/index_add.rs`` (cited per test): block-only
searchability, exact and fuzzy scores, chain concatenation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assemblagedb_spark.functions.core import index_text, spark_grams_array_expr, trim_for_search
from assemblagedb_spark.operators.grams import block_grams, gram_counts
from assemblagedb_spark.operators.search import find, search


def blocks_df(spark, rows):
    return spark.createDataFrame(rows, "node_id string, text string")


def test_index_text_reference_semantics():
    # index.rs:826-835 — n bytes -> n+3 grams, zero-padded windows.
    assert index_text("") == [0, 0, 0]
    g = index_text("foo")
    assert len(g) == 6
    f, o = ord("f"), ord("o")
    assert g[0] == f  # [0,0,0,'f']
    assert g[1] == (f << 8) | o
    assert g[2] == (f << 16) | (o << 8) | o
    assert g[3] == (f << 24) | (o << 16) | (o << 8)
    assert g[5] == o << 24


def test_trim_for_search():
    # index.rs:195-200 — drop min((n-1)/2, 3) per end.
    assert trim_for_search(index_text("a")) == index_text("a")[1:3]  # n=4, d=1
    g = index_text("foobar")  # n=9, d=3
    assert trim_for_search(g) == g[3:6]
    g = index_text("x" * 20)  # n=23, d=3
    assert len(trim_for_search(g)) == 17


def test_spark_grams_match_driver_index_text(spark):
    texts = ["foo", "foobarbaz", "This is the text foo", "", "a", "hello world"]
    df = blocks_df(spark, [(f"n{i}", t) for i, t in enumerate(texts)])
    got = {
        r["node_id"]: r["g"]
        for r in df.select("node_id", F.expr(spark_grams_array_expr("text")).alias("g")).collect()
    }
    for i, t in enumerate(texts):
        assert got[f"n{i}"] == index_text(t), t


def test_search_exact_block(spark):
    # index_add.rs:14-36 — only block-registered text is searchable.
    g = block_grams(blocks_df(spark, [("foo", "foo"), ("bar", "bar")]))
    res = search(spark, g, "foo").collect()
    assert [r["node_id"] for r in res] == ["foo"]
    r = res[0]
    # identical text: source==match -> a=b=255, full intersection, score 1.0
    assert (r["a"], r["b"], r["intersection"]) == (255, 255, 255)
    assert r["score"] == pytest.approx(1.0)


def test_search_fuzzy_ordering(spark):
    # index_add.rs fuzzy case: both match, exact one first with score 1.0.
    g = block_grams(
        blocks_df(
            spark,
            [("foo", "This is the text foo"), ("bar", "This is the text bar")],
        )
    )
    res = search(spark, g, "This is the text foo").collect()
    assert [r["node_id"] for r in res] == ["foo", "bar"]
    assert res[0]["score"] == pytest.approx(1.0)
    assert res[1]["score"] < 1.0
    # index_add.rs:52-57 — search("text foo"), score>0.7 keeps only foo
    hi = [r for r in search(spark, g, "text foo").collect() if r["score"] > 0.7]
    assert [r["node_id"] for r in hi] == ["foo"]
    assert hi[0]["score"] == pytest.approx(1.0)
    # index_add.rs:49-51 — search("foo") matches only the foo block
    assert [r["node_id"] for r in search(spark, g, "foo").collect()] == ["foo"]


def test_search_chain_concatenation(spark):
    # index_add.rs:149-165 — "foo"+"bar"+"baz" chain indexed as one block.
    g = block_grams(blocks_df(spark, [("chain", "foobarbaz")]))
    res = search(spark, g, "foobarbaz").collect()
    assert [r["node_id"] for r in res] == ["chain"]
    assert res[0]["score"] == pytest.approx(1.0)


def test_search_all_zero_grams_empty(spark):
    g = block_grams(blocks_df(spark, [("x", "foo")]))
    assert search(spark, g, "").count() == 0


def test_find_symmetric_uses_stored_counts(spark):
    blocks = blocks_df(spark, [("long", "This is a longer sentence about foo"), ("short", "foo")])
    g = block_grams(blocks)
    c = gram_counts(g)
    q = index_text("foo")  # untrimmed, symmetric mode
    res = {r["node_id"]: r for r in find(spark, g, q, counts=c, symmetric=True).collect()}
    # short block: same multiset -> perfect overlap
    assert res["short"]["score"] == pytest.approx(1.0)
    # long block: match_count >> source_count -> a=255*6/40 floor
    long_count = len(index_text("This is a longer sentence about foo"))
    assert res["long"]["b"] == 255
    assert res["long"]["a"] == (255 * len(q)) // long_count


def test_gram_counts(spark):
    g = block_grams(blocks_df(spark, [("x", "foobar")]))
    assert gram_counts(g).collect()[0]["gram_count"] == len("foobar") + 3


def test_overlap_pairs_sparse_matches_shuffle_path(spark):
    # the broadcast-CSR kernel is a physical strategy, not a new
    # operator: same pairs, same exact u8-normalized ints as the postings
    # join, both directions
    from assemblagedb_spark.operators.grams import gram_counts
    from assemblagedb_spark.operators.overlaps import (
        overlap_pairs,
        overlap_pairs_sparse,
    )

    texts = [
        ("a", "This is a sentence about foo."),
        ("b", "This is a sentence about bar."),
        ("c", "completely unrelated words zzz"),
        ("d", "This is a sentence about foo."),
        ("e", ""),
    ]
    g = block_grams(blocks_df(spark, texts))
    shuffle = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"])
        for r in overlap_pairs(g, gram_counts(g)).collect()
    }
    kernel_df = overlap_pairs_sparse(g)
    assert kernel_df is not None
    kernel = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"])
        for r in kernel_df.collect()
    }
    assert shuffle == kernel
    assert ("a", "d") in kernel  # identical text pair present, both ways
    assert ("d", "a") in kernel


def test_overlap_pairs_sparse_incremental_matches_shuffle_path(spark):
    # changed-subset regime: the kernel scans only changed rows, mirrors
    # reverse edges — identical to overlap_pairs(changed=...) incl. scores
    from assemblagedb_spark.operators.grams import gram_counts
    from assemblagedb_spark.operators.overlaps import (
        overlap_pairs,
        overlap_pairs_sparse,
    )

    texts = [
        ("a", "This is a sentence about foo."),
        ("b", "This is a sentence about bar."),
        ("c", "completely unrelated words zzz"),
        ("d", "This is a sentence about foo."),
        ("e", "This is a sentence about baz."),
        ("f", ""),
    ]
    g = block_grams(blocks_df(spark, texts))
    changed = g.sparkSession.createDataFrame(
        [("a",), ("e",), ("f",)], "node_id string"
    )
    shuffle = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"], r["score"])
        for r in overlap_pairs(g, gram_counts(g), changed=changed).collect()
    }
    kernel_df = overlap_pairs_sparse(g, changed=changed)
    assert kernel_df is not None
    kernel = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"], r["score"])
        for r in kernel_df.collect()
    }
    assert shuffle == kernel
    assert len(kernel) > 0
    # reverse edge onto an untouched partner is present
    assert ("d", "a") in kernel
    # untouched-pair overlaps (b,d etc.) are never rescored
    assert all("a" in p or "e" in p for p in kernel)


def test_overlap_pairs_sparse_incremental_empty_changed(spark):
    from assemblagedb_spark.operators.overlaps import overlap_pairs_sparse

    g = block_grams(blocks_df(spark, [("a", "foo bar baz"), ("b", "foo bar baz")]))
    changed = g.sparkSession.createDataFrame([], "node_id string")
    out = overlap_pairs_sparse(g, changed=changed)
    assert out is not None and out.count() == 0


def test_merge_overlaps_equals_full_recompute_after_edit(spark):
    # the incremental half of index.rs:314-347's per-write set-diff merge:
    # edit one block and recompute only ITS overlaps (both edge directions)
    # — they must equal the full recompute's pairs that touch the block
    from assemblagedb_spark.operators.grams import gram_counts
    from assemblagedb_spark.operators.overlaps import overlap_pairs

    v1 = [
        ("a", "This is a sentence about foo."),
        ("b", "This is a sentence about bar."),
        ("c", "completely unrelated words zzz"),
        ("d", "This is a sentence about foo."),
    ]
    g1 = block_grams(blocks_df(spark, v1))
    stored = overlap_pairs(g1, gram_counts(g1))

    # edit block b: now a near-copy of a/d (its overlaps with them grow)
    v2 = [r if r[0] != "b" else ("b", "This is a sentence about foo!") for r in v1]
    g2 = block_grams(blocks_df(spark, v2))
    c2 = gram_counts(g2)
    changed = spark.createDataFrame([("b",)], "node_id string")
    recomputed = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"])
        for r in overlap_pairs(g2, c2, changed=changed).collect()
    }
    full = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"])
        for r in overlap_pairs(g2, c2).collect()
        if "b" in (r["src_id"], r["dst_id"])
    }
    assert recomputed == full
    assert {("a", "b"), ("b", "a")} <= set(recomputed)
    # non-vacuous: the edit moved b's stored overlaps
    stale = {
        (r["src_id"], r["dst_id"]): (r["a"], r["b"], r["intersection"])
        for r in stored.collect()
        if "b" in (r["src_id"], r["dst_id"])
    }
    assert recomputed != stale


def test_overlap_pairs_sparse_guard_returns_none(spark, monkeypatch):
    from assemblagedb_spark.operators import overlaps
    from assemblagedb_spark.operators.overlaps import overlap_pairs_sparse

    monkeypatch.setattr(overlaps, "MAX_SPARSE_NNZ", 1)
    g = block_grams(blocks_df(spark, [("a", "foo"), ("b", "bar")]))
    assert overlap_pairs_sparse(g) is None
