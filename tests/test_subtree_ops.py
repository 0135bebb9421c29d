"""Distributed subtree operators: per-root closure, shared-descendant
detection (lib.rs:805-831), ordered-DFS preview (lib.rs:462-509), and
gap-sessionization — cases the DuckDB oracle gate can't cover (cycles,
empty subtrees, duplicate timestamps)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from assemblagedb_spark.operators.sessions import sessionize
from assemblagedb_spark.operators.traversal import (
    ancestors,
    descendants,
    has_shared_descendants,
    preview_leaf,
    subtree_closure,
)
from tests.conftest import (
    assert_matches_oracle,
    components_by_layout,
    py_closure,
    py_components,
)

EDGE_SCHEMA = "parent_id string, child_id string, idx int"


def _edges(spark, rows):
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def _roots(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "node_id string")


def test_subtree_closure_cycle_safe(spark):
    # a -> b -> c -> a: closure terminates, each node once, root not re-added
    e = _edges(spark, [("a", "b", 0), ("b", "c", 0), ("c", "a", 0)])
    out = subtree_closure(e, _roots(spark, "a"), max_depth=10)
    rows = {(r.node_id, r.depth) for r in out.collect()}
    assert rows == {("b", 1), ("c", 2)}


def test_subtree_closure_multi_root_membership(spark):
    # shared child s belongs to both roots' subtrees independently
    e = _edges(spark, [("r1", "s", 0), ("r2", "s", 0), ("s", "t", 0)])
    out = subtree_closure(e, _roots(spark, "r1", "r2"), max_depth=3)
    rows = {(r.root_id, r.node_id) for r in out.collect()}
    assert rows == {("r1", "s"), ("r2", "s"), ("r1", "t"), ("r2", "t")}


@pytest.mark.parametrize("seed,max_depth", [(1, 6), (2, 2), (3, 12)])
def test_frontier_walks_match_python_bfs(spark, seed, max_depth):
    # seeded random graphs with cycles, self-loops, duplicate edges (one
    # with a second idx) and a repeated root: subtree_closure with and
    # without paths and bfs_depth all equal the plain per-root BFS
    from assemblagedb_spark.operators.components import bfs_depth

    rng = random.Random(seed)
    rows = [(rng.randrange(25), rng.randrange(25), rng.randrange(6)) for _ in range(60)]
    rows += rows[:6] + [(rows[0][0], rows[0][1], rows[0][2] + 1)]
    roots = [rng.randrange(25) for _ in range(5)]
    roots.append(roots[0])
    want = py_closure(rows, roots, max_depth)
    e = spark.createDataFrame(rows, "parent_id long, child_id long, idx int")
    r = spark.createDataFrame([(x,) for x in roots], "node_id long")

    with_path = subtree_closure(e, r, max_depth=max_depth, with_path=True).collect()
    assert len(with_path) == len({(x.root_id, x.node_id) for x in with_path})
    assert {(x.root_id, x.node_id): (x.depth, x.path) for x in with_path} == {
        k: v for k, v in want.items() if v[0] > 0
    }
    plain = subtree_closure(e, r, max_depth=max_depth).collect()
    assert sorted((x.root_id, x.node_id, x.depth) for x in plain) == sorted(
        (root, node, d) for (root, node), (d, _) in want.items() if d > 0
    )
    shallowest: dict = {}
    for (_, node), (d, _) in want.items():
        shallowest[node] = min(d, shallowest.get(node, d))
    assert {x.node_id: x.depth for x in bfs_depth(e, r, max_depth=max_depth).collect()} == shallowest


def test_has_shared_descendants_diamond(spark):
    # diamond: r -> x, r -> y, x -> s, y -> s  (s has two parents)
    e = _edges(
        spark,
        [("r", "x", 0), ("r", "y", 1), ("x", "s", 0), ("y", "s", 0), ("z", "w", 0)],
    )
    out = {
        r.root_id: r.has_shared
        for r in has_shared_descendants(e, _roots(spark, "r", "z", "lone"), max_depth=4).collect()
    }
    assert out == {"r": True, "z": False, "lone": False}


def test_preview_skips_blanks_and_structural_nodes(spark):
    # root -> (p0 childless list, p1 -> [blank t0, text t1]): preview = t1;
    # root2 has only blank leaves -> 'empty'
    e = _edges(
        spark,
        [
            ("root", "p0", 0),
            ("root", "p1", 1),
            ("p1", "t0", 0),
            ("p1", "t1", 1),
            ("root2", "t2", 0),
        ],
    )
    blanks = spark.createDataFrame(
        [("t0", True), ("t1", False), ("t2", True)], "node_id string, is_blank boolean"
    )
    out = {
        r.root_id: r.preview_id
        for r in preview_leaf(e, _roots(spark, "root", "root2"), blanks, max_depth=3).collect()
    }
    assert out == {"root": "t1", "root2": "empty"}


def test_preview_orders_by_path_not_id(spark):
    # child at idx 2 named "a", child at idx 1 named "z": path order wins
    e = _edges(spark, [("r", "a", 2), ("r", "z", 1)])
    blanks = spark.createDataFrame(
        [("a", False), ("z", False)], "node_id string, is_blank boolean"
    )
    out = preview_leaf(e, _roots(spark, "r"), blanks, max_depth=1).collect()
    assert out[0].preview_id == "z"


def test_sessionize_gaps_and_duplicate_ts(spark):
    rows = [
        # user 1: two sessions (gap 100 > 10), duplicate ts stays together
        (1, 1, 0),
        (1, 2, 5),
        (1, 3, 5),
        (1, 4, 200),
        # user 2: one session
        (2, 5, 0),
    ]
    ev = spark.createDataFrame(rows, "user_id int, event_id int, ts long")
    out = {
        (r.user_id, r.session_idx): (r.n_events, r.start_ts, r.end_ts)
        for r in sessionize(ev, gap=10).collect()
    }
    assert out == {
        (1, 1): (3, 0, 5),
        (1, 2): (1, 200, 200),
        (2, 1): (1, 0, 0),
    }


def test_is_cyclic_cycle_diamond_duplicate(spark):
    from assemblagedb_spark.operators.traversal import is_cyclic

    e = _edges(
        spark,
        [
            # r1: true cycle a -> b -> a
            ("r1", "a", 0), ("a", "b", 0), ("b", "a", 0),
            # r2: diamond (revisit via second path -> cyclic per lib.rs:424-442)
            ("r2", "x", 0), ("r2", "y", 1), ("x", "s", 0), ("y", "s", 0),
            # r3: plain chain, not cyclic
            ("r3", "c", 0), ("c", "d", 0),
            # r4: same child at two indexes (basics.rs duplicate-child case)
            ("r4", "t", 0), ("r4", "t", 1),
        ],
    )
    out = {
        r.root_id: r.is_cyclic
        for r in is_cyclic(e, _roots(spark, "r1", "r2", "r3", "r4"), max_depth=6).collect()
    }
    assert out == {"r1": True, "r2": True, "r3": False, "r4": True}


def test_is_cyclic_depth_truncation_no_false_positive(spark):
    # chain deeper than max_depth: the edge past the bound must not count
    from assemblagedb_spark.operators.traversal import is_cyclic

    e = _edges(spark, [("r", "a", 0), ("a", "b", 0), ("b", "c", 0), ("c", "d", 0)])
    out = is_cyclic(e, _roots(spark, "r"), max_depth=2).collect()
    assert out[0].is_cyclic is False


def test_is_cyclic_leaves_no_cached_relation(spark):
    # the closure is read from the walk's pinned relation: nothing may stay
    # registered in the session's CacheManager after the call
    from assemblagedb_spark.operators.traversal import is_cyclic

    spark.catalog.clearCache()
    e = _edges(spark, [("r", "a", 0), ("a", "b", 0), ("b", "a", 0), ("r", "b", 1)])
    for _ in range(3):
        assert is_cyclic(e, _roots(spark, "r"), max_depth=4).collect()[0].is_cyclic
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_is_blank_roots(spark):
    from assemblagedb_spark.operators.traversal import is_blank_roots

    e = _edges(spark, [("r1", "a", 0), ("r1", "b", 1), ("r2", "c", 0), ("r3", "s", 0)])
    blanks = spark.createDataFrame(
        [("a", True), ("b", True), ("c", False)], "node_id string, is_blank boolean"
    )
    # r3's child s is structural (not renderable) -> vacuously blank
    out = {
        r.root_id: r.is_blank
        for r in is_blank_roots(e, _roots(spark, "r1", "r2", "r3"), blanks, max_depth=2).collect()
    }
    assert out == {"r1": True, "r2": False, "r3": True}


def test_asof_join_backward_semantics(spark):
    from assemblagedb_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p2"), (2, 10, "p3")],
        "user_id int, ts long, name string",
    )
    right = spark.createDataFrame(
        # user 1: quotes at 50 (exact-ts match for p2) and 90; user 2: none
        # two quotes at ts=90 -> tiebreak picks greater quote_id
        [(1, 50, 500, 5), (1, 90, 900, 9), (1, 90, 901, 10)],
        "user_id int, ts long, quote_id int, qv int",
    )
    out = {
        r.name: (r.quote_id, r.qv)
        for r in asof_join_backward(
            left, right, key="user_id", ts="ts",
            payload=["quote_id", "qv"], right_tiebreak=["quote_id"],
        ).collect()
    }
    assert out == {
        "p1": (901, 10),   # latest <= 100, tie at 90 resolved by quote_id
        "p2": (500, 5),    # inclusive: exact ts matches
        "p3": (None, None),  # no prior right row
    }


def test_range_pairs_banding_exactly_once(spark):
    from assemblagedb_spark.operators.rangejoin import range_pairs

    rows = [
        # same bin (gap 3), adjacent bins (gap 9 <= 10 across 10-boundary),
        # exactly max_gap (inclusive), beyond max_gap (excluded),
        # duplicate ts (id tiebreak, ordered once)
        (1, 1, 0), (1, 2, 3), (1, 3, 12), (1, 4, 22), (1, 5, 40),
        (2, 6, 5), (2, 7, 5),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_id int, ts long")
    out = {
        (r.user_id, r.id_a, r.id_b): r.gap
        for r in range_pairs(
            df, key="user_id", ts="ts", max_gap=10, id_col="event_id"
        ).collect()
    }
    assert out == {
        (1, 1, 2): 3,    # same bin
        (1, 2, 3): 9,    # adjacent bins
        (1, 3, 4): 10,   # inclusive boundary, adjacent bins
        (2, 6, 7): 0,    # duplicate ts ordered by id, exactly once
    }


def test_siblings_escalated_minigraph(spark):
    """core.rs:152-299 escalation: no eligible sibling in-parent -> nearest
    non-blank parent-sibling, descending to its last/first non-blank leaf;
    all-blank parents are skipped at the upper level (lib.rs:389-416)."""
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.traversal import siblings_escalated

    leaf = spark.createDataFrame(
        [
            ("P1", "a1", 0, False),
            ("P1", "a2", 1, True),
            ("P2", "b1", 0, True),
            ("P3", "c1", 0, True),
            ("P3", "c2", 1, False),
        ],
        "parent_id string, child_id string, idx int, is_blank boolean",
    )
    pe = spark.createDataFrame(
        [("G", "P1", 0), ("G", "P2", 1), ("G", "P3", 2)],
        "parent_id string, child_id string, idx int",
    )
    got = {
        r["child_id"]: (r["before_id"], r["after_id"])
        for r in siblings_escalated(leaf, pe, F.col("is_blank")).collect()
    }
    assert got["a1"] == (None, "c2")   # escalate forward past blank a2 and P2
    assert got["a2"] == ("a1", "c2")   # in-parent before, escalated after
    assert got["b1"] == ("a1", "c2")   # both escalated (P2 all blank)
    assert got["c1"] == ("a1", "c2")   # escalated before skips blank P2
    assert got["c2"] == ("a1", None)   # escalated before, no next parent


def test_descendants_until_links_includes_but_does_not_expand(spark):
    # lib.rs:695-797 link boundary: the link child is in the closure, its
    # subtree is not

    edges = spark.createDataFrame(
        [
            ("r", "a", False),
            ("r", "l", True),   # link child
            ("a", "a1", False),
            ("l", "hidden", False),
        ],
        "parent_id string, child_id string, is_link boolean",
    )
    roots = spark.createDataFrame([("r",)], "node_id string")
    got = {
        (r["node_id"], r["depth"])
        for r in descendants(edges, roots, max_depth=3, link_col="is_link").collect()
    }
    assert got == {("r", 0), ("a", 1), ("l", 1), ("a1", 2)}


def test_descendants_forest_walk_is_bounded(spark):
    # one row per reached node and level; nothing past max_depth
    e = _edges(spark, [("r", "a", 0), ("r", "b", 1), ("a", "c", 0), ("c", "d", 0)])
    got = {
        (r["node_id"], r["depth"])
        for r in descendants(e, _roots(spark, "r"), max_depth=2).collect()
    }
    assert got == {("r", 0), ("a", 1), ("b", 1), ("c", 2)}


def test_ancestors_forest_walk(spark):
    # depth 1 is the parent; a walk ends at the root or at the depth bound
    e = _edges(spark, [("r", "a", 0), ("a", "b", 0), ("b", "c", 0), ("r", "x", 1)])
    got = {
        (r["start_id"], r["ancestor_id"], r["depth"])
        for r in ancestors(e, _roots(spark, "c", "x"), depth=2).collect()
    }
    assert got == {("c", "b", 1), ("c", "a", 2), ("x", "r", 1)}


@pytest.mark.parametrize(
    "name",
    [
        "graph_descendants",
        "graph_descendants_links",
        "graph_orphans",
        "graph_ancestor_path",
        "view_lineage",
        "graph_shared",
        "graph_preview",
        "graph_cyclic",
        "graph_blank",
        "export_incremental",
        "display_class",
    ],
)
def test_traversal_gate_matches_oracle(spark, sf_dir, name):
    assert_matches_oracle(spark, sf_dir, name)


@pytest.mark.parametrize(
    "name",
    [
        "graph_components",
        "graph_pagerank",
        "graph_ppr",
        "dedup_clusters",
        "embedding_clusters",
    ],
)
def test_graph_analytics_gate_matches_oracle(spark, sf_dir, name):
    assert_matches_oracle(spark, sf_dir, name)


def test_contracted_components(spark):
    # two disjoint components, one containing a cycle; every label is the
    # per-component min id
    rows = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # cycle
        ("c", "d"),
        ("x", "y"),                          # separate chain
    ]
    edges = _edges(spark, [(a, b, 0) for a, b in rows])
    for layout, got in components_by_layout(edges).items():
        assert dict(got) == {
            "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"
        }, layout
        assert got == py_components(rows), layout


def test_label_propagation_convergence_mode(spark):
    # the finisher probes convergence: a chain much longer than any
    # default round guess still fully merges to the min id (the VERDICT
    # round-1 under-merge hazard) on every layout, the one-level layout
    # included, where label propagation does the merging
    n = 24  # diameter 24 ≫ the 6-8 round gate settings
    chain = [(f"n{i:02d}", f"n{i + 1:02d}", 0) for i in range(n)]
    edges = _edges(spark, chain).select("parent_id", "child_id")
    for layout, got in components_by_layout(edges).items():
        assert dict(got) == {f"n{i:02d}": "n00" for i in range(n + 1)}, layout


def test_triangle_counts(spark):
    # K4 on a-b-c-d (4 triangles, each node in 3) plus a pendant edge and
    # an isolated pair: pendant/pair nodes report 0
    from assemblagedb_spark.operators.components import triangle_counts

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    extra = [("d", "e"), ("x", "y")]
    edges = spark.createDataFrame(
        [(u, v, 0) for u, v in k4 + extra],
        "parent_id string, child_id string, ignored int",
    ).select("parent_id", "child_id")
    got = {
        r["node_id"]: r["n_triangles"] for r in triangle_counts(edges).collect()
    }
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0, "x": 0, "y": 0}

    # orientation-insensitive: reversing some edges changes nothing
    rev = spark.createDataFrame(
        [(v, u, 0) for u, v in k4] + [(u, v, 0) for u, v in extra],
        "parent_id string, child_id string, ignored int",
    ).select("parent_id", "child_id")
    assert {
        r["node_id"]: r["n_triangles"] for r in triangle_counts(rev).collect()
    } == got


def test_asof_tolerance(spark):
    from assemblagedb_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3")],
        "user_id long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 95, "c1"), (1, 120, "c2")], "user_id long, ts long, cid string"
    )
    kw = dict(key="user_id", ts="ts", payload=["cid"], right_tiebreak=["cid"])
    unbounded = {
        r["pid"]: r["cid"]
        for r in asof_join_backward(left, right, **kw).collect()
    }
    assert unbounded == {"p1": "c1", "p2": "c2", "p3": None}
    # tol=10: p1 keeps c1 (gap 5); p2 loses c2 (gap 80 > 10)
    bounded = {
        r["pid"]: r["cid"]
        for r in asof_join_backward(left, right, tolerance=10, **kw).collect()
    }
    assert bounded == {"p1": "c1", "p2": None, "p3": None}
