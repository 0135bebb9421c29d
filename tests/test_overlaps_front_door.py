"""store_overlaps front door (round-9, verdict #3): one entry point for
materialized overlaps that picks the physical strategy by the broadcast
budget. The pins here are the two properties the front door must never
lose:

1. ROUTE INVARIANCE — every route (broadcast-CSR kernel, distributed
   prefix plan, changed-restricted incremental) returns the SAME exact
   relation on the same input. Exactness is the reference's contract
   (index.rs:302-347); the route is only a physical choice.
2. DISPATCH VACUITY — the dispatcher actually takes different branches as
   the expanded postings cross the budget (a front door that always picks
   one branch is decoration).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from assemblagedb_spark import harness as h
from assemblagedb_spark.operators.overlaps import (
    overlap_pairs,
    overlap_pairs_prefix,
    overlap_pairs_sparse,
    store_overlaps,
)


def _frame(df):
    pdf = df.toPandas()
    for c in ("score",):
        pdf[c] = pdf[c].round(9)
    return pdf[sorted(pdf.columns)].sort_values(
        by=sorted(pdf.columns), ignore_index=True
    )


@pytest.fixture(scope="module")
def grams(spark, sf_dir):
    g = h._doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 10 == 0)
    g = g.localCheckpoint(eager=True)
    yield g


def test_route_invariance(spark, grams):
    counts = h.gram_counts(grams)
    routes = {}
    frames = {}
    for name, kwargs in (
        ("sparse", {}),
        ("prefix", {"max_sparse_nnz": 0}),
    ):
        disp = {}
        out = store_overlaps(grams, counts, dispatch_out=disp, **kwargs)
        routes[name] = disp["route"]
        frames[name] = _frame(out)
    assert routes == {"sparse": "sparse", "prefix": "prefix"}
    assert len(frames["sparse"]) > 0, "vacuous fixture: no overlapping pairs"
    pd.testing.assert_frame_equal(frames["sparse"], frames["prefix"])
    # and both equal the naive reference plan (overlap_pairs)
    naive = _frame(
        overlap_pairs(grams, counts).select(
            "src_id", "dst_id", "a", "b", "intersection", "score"
        )
    )
    pd.testing.assert_frame_equal(frames["sparse"], naive)


def test_route_invariance_changed(spark, grams):
    counts = h.gram_counts(grams)
    changed = grams.select("node_id").filter(F.col("node_id") % 20 == 0).distinct()
    outs = {}
    for name, kwargs in (
        ("sparse", {}),
        ("sparse-incremental", {"max_sparse_nnz": 0}),
    ):
        disp = {}
        out = store_overlaps(
            grams, counts, changed=changed, dispatch_out=disp, **kwargs
        )
        assert disp["route"] == name
        outs[name] = _frame(out)
    assert len(outs["sparse"]) > 0
    pd.testing.assert_frame_equal(outs["sparse"], outs["sparse-incremental"])


def test_exclusion_applied_on_every_route(spark, grams):
    # exclusion is ORIENTATION-EXACT and route-invariant: excluding one
    # (src, dst) removes exactly that orientation on every route — the
    # mirror row survives (the kernels differ in which orientation they
    # compute first, so a kernel-side anti-join would be route-sensitive;
    # the front door applies it post-kernel, uniformly)
    counts = h.gram_counts(grams)
    base = store_overlaps(grams, counts)
    one = base.limit(1).collect()
    assert one, "vacuous: nothing to exclude"
    s, d = one[0]["src_id"], one[0]["dst_id"]
    excl = spark.createDataFrame([(s, d)], "src_id long, dst_id long")
    mirror = spark.createDataFrame([(d, s)], "src_id long, dst_id long")
    for kwargs in ({}, {"max_sparse_nnz": 0}):
        out = store_overlaps(grams, counts, excluded_pairs=excl, **kwargs)
        assert out.join(excl, ["src_id", "dst_id"]).count() == 0
        assert out.join(mirror, ["src_id", "dst_id"]).count() == 1


def test_changed_exclusion_is_route_invariant(spark, grams):
    # the post-kernel exclusion on the incremental path: with a changed
    # set, exclusion must stay orientation-exact and the result equal on
    # every route that accepts a changed set
    counts = h.gram_counts(grams)
    changed = grams.select("node_id").filter(F.col("node_id") % 20 == 0).distinct()
    base = store_overlaps(grams, counts, changed=changed)
    # exclude a pair whose source is changed, so the scan itself emits it
    one = base.join(
        changed.withColumnRenamed("node_id", "src_id"), "src_id"
    ).limit(1).collect()
    assert one, "vacuous fixture"
    s, d = one[0]["src_id"], one[0]["dst_id"]
    excl = spark.createDataFrame([(s, d)], "src_id long, dst_id long")
    frames = {}
    for name, kwargs in (
        ("sparse", {}),
        ("sparse-incremental", {"max_sparse_nnz": 0}),
    ):
        out = store_overlaps(
            grams, counts, changed=changed, excluded_pairs=excl, **kwargs,
        )
        rows = out.collect()
        assert all((r["src_id"], r["dst_id"]) != (s, d) for r in rows), name
        assert any((r["src_id"], r["dst_id"]) == (d, s) for r in rows), name
        frames[name] = _frame(out)
    assert len(frames["sparse"]) > 0
    pd.testing.assert_frame_equal(frames["sparse"], frames["sparse-incremental"])


def test_sparse_kernel_multiset_exactness(spark):
    # hand fixture with occurrences > 1: the (gram, copy) expansion must
    # reproduce the MULTISET intersection, not the set one. Blocks:
    # A = {g1 x3, g2 x1}, B = {g1 x2, g3 x2} -> inter_raw = min(3,2) = 2,
    # counts 4/4 -> a = b = 255, intersection = 127, score = 127/255 ≈ 0.498
    # (fails 0.5); C = {g1 x3, g2 x1} duplicate of A -> score 1.0 passes.
    rows = [
        (1, 100, 3), (1, 200, 1),
        (2, 100, 2), (2, 300, 2),
        (3, 100, 3), (3, 200, 1),
    ]
    g = spark.createDataFrame(rows, "node_id long, gram long, occurrences long")
    out = overlap_pairs_sparse(g)
    assert out is not None
    got = {(r["src_id"], r["dst_id"]): r for r in out.collect()}
    assert set(got) == {(1, 3), (3, 1)}
    assert got[(1, 3)]["intersection"] == 255 and got[(1, 3)]["score"] == 1.0
    # prefix plan agrees on the same fixture
    pf = {
        (r["src_id"], r["dst_id"]): r
        for r in overlap_pairs_prefix(g).collect()
    }
    assert set(pf) == set(got)


def test_dispatcher_budget_is_density_not_rowcount(spark, grams):
    # the broadcast budget counts EXPANDED (gram, copy) elements, not
    # postings rows: the SAME postings with the budget one element below
    # the fixture's footprint must route away from the kernel, and at the
    # footprint must take it — i.e. the dispatch reads the kernel's own
    # occurrence sum, not a hardcoded branch
    counts = h.gram_counts(grams)
    expanded = grams.agg(F.sum("occurrences").alias("n")).collect()[0]["n"]
    assert expanded > grams.count(), "vacuous fixture: no repeated gram"
    disp = {}
    store_overlaps(grams, counts, max_sparse_nnz=expanded - 1, dispatch_out=disp)
    assert disp["route"] == "prefix"
    disp2 = {}
    store_overlaps(grams, counts, max_sparse_nnz=expanded, dispatch_out=disp2)
    assert disp2["route"] == "sparse"
