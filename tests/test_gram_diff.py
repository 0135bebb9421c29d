"""Incremental index maintenance (Diff::new / store_grams semantics)."""

from __future__ import annotations

from assemblagedb_spark.operators.grams import block_grams, gram_diff


def idx(spark, rows):
    return block_grams(spark.createDataFrame(rows, "node_id string, text string"))


def test_gram_diff_insert_update_delete(spark):
    before = idx(spark, [("a", "foo"), ("b", "bar")])
    after = idx(spark, [("a", "food"), ("c", "new")])  # a edited, b deleted, c added
    diff = gram_diff(before, after).collect()
    by_node = {}
    for r in diff:
        by_node.setdefault(r["node_id"], []).append(r)
    # every b posting deleted (count 0)
    assert all(r["occurrences"] == 0 for r in by_node["b"])
    # c fully inserted with positive counts
    assert all(r["occurrences"] > 0 for r in by_node["c"])
    # a partially changed: some kept rows don't appear, boundary grams do
    assert 0 < len(by_node["a"]) < len("food") + 3 + len("foo") + 3


def test_apply_gram_diff_reaches_after_state(spark):
    # store_grams (index.rs:286-300): a 0-count row deletes an existing
    # posting, every other row upserts — applied to the before-state the
    # diff must reach the after-state exactly
    before = idx(spark, [("a", "foo"), ("b", "bar")])
    after = idx(spark, [("a", "food"), ("c", "new")])
    state = {(r["node_id"], r["gram"]): r["occurrences"] for r in before.collect()}
    for r in gram_diff(before, after).collect():
        key = (r["node_id"], r["gram"])
        if r["occurrences"]:
            state[key] = r["occurrences"]
        else:
            del state[key]
    want = {(r["node_id"], r["gram"]): r["occurrences"] for r in after.collect()}
    assert state == want


def test_gram_diff_empty_for_identical_states(spark):
    state = idx(spark, [("a", "same"), ("b", "text")])
    assert gram_diff(state, state).count() == 0
