"""Graph traversal operators: BFS closure, ancestor walk, sibling queries.

Reference semantics re-expressed over an ``edges(parent_id, child_id, idx)``
relation:

- ``descendants`` (``assemblage_db/src/lib.rs:695-797``): bounded closure
  downward; with a link column, a child reached through a link edge is
  included but never expanded (``descendants_until_links``).
- ``ancestors`` (``lib.rs:552-639``): bounded walk upward over a forest;
  ``AssemblageDb.ancestor_path`` holds the reference's general-graph stop
  rules (0 or >1 parents, a closed cycle).
- ``subtree_closure``: per-root closure behind ``has_shared_descendants``,
  ``is_cyclic``, ``is_blank`` and ``preview`` (``lib.rs:389-509,805-831``).
- ``before``/``after`` (``core.rs:152-299``): nearest non-blank sibling per
  direction within the same parent.

Scale design: each walk is a loop of equi-joins on the parent (or child)
key, one join per level. ``descendants`` and ``ancestors`` are point walks
from a handful of roots: each level's frontier is broadcast, so the edge
relation is only scanned, never shuffled, and pinned with an eager
``localCheckpoint``, so level d is one probe of the edge relation instead
of a re-derivation of levels 1..d (O(d²/2) scans). ``subtree_closure``
runs ``components.frontier_walk`` per root — one pinned level per job,
cycle safety from an anti-join against the per-root visited set (the
DataFrame equivalent of the reference's ``HashSet`` guard) and an exit
probe on the pin job — except a shallow forest walk, which stays one lazy
plan.

Side effect of the eager pins: these calls run Spark jobs while the
DataFrame is built, and checkpointed blocks are not recomputable if an
executor is lost. For long walks on an unreliable cluster, swap in a
reliable ``checkpoint()`` at the same call sites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from assemblagedb_spark.operators.components import child_path, frontier_walk

# subtree_closure: the deepest forest walk left as one lazy plan
_LAZY_MAX_DEPTH = 4


def descendants(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    link_col: str | None = None,
) -> DataFrame:
    """Bounded closure downward from ``roots`` (one column ``node_id``):
    (node_id, depth), roots at depth 0, for every node within ``max_depth``
    hops.

    Forest contract: the caller guarantees every node is reachable along
    one path (a leveled FK hierarchy, a tree), so the walk needs no
    per-level distinct and no visited anti-join — each level is one join.
    With ``link_col`` (a boolean edge column) a child reached through a
    link edge IS included but never expanded: the reference's
    ``descendants_until_links`` stops descending at block-inside-span
    boundaries.

    Each level's frontier is broadcast and pinned with an eager
    ``localCheckpoint`` (see the module docstring).
    """
    link = [F.col(link_col).alias("__link")] if link_col else []
    e = edges.select("parent_id", "child_id", *link)
    frontier = roots.select("node_id").distinct()
    out = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        f = F.broadcast(frontier.withColumnRenamed("node_id", "parent_id"))
        step = (
            e.join(f, "parent_id")
            .select(F.col("child_id").alias("node_id"), *(["__link"] if link else []))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(step.select("node_id").withColumn("depth", F.lit(depth)))
        frontier = step.filter(~F.col("__link")).select("node_id") if link else step
    return out


def ancestors(edges: DataFrame, starts: DataFrame, *, depth: int) -> DataFrame:
    """Upward walk from each start node (column ``node_id``):
    (start_id, ancestor_id, depth) for the first ``depth`` ancestors,
    depth = 1 for the immediate parent.

    Forest contract: the caller guarantees ``edges`` holds one parent per
    child, no duplicate edge and no cycle (a leveled FK hierarchy), so the
    walk needs neither a parent-uniqueness aggregate nor a cycle guard.
    The reference's ``ancestor_path`` (lib.rs:552-639) on a general graph
    — stop at a node with 0 or >1 parents or when the path closes a cycle —
    is ``AssemblageDb.ancestor_path``.

    Frontiers are |starts| rows: each level's is broadcast and pinned with
    an eager ``localCheckpoint`` (see the module docstring).
    """
    parent_of = edges.select("child_id", "parent_id")
    frontier = starts.select(
        F.col("node_id").alias("start_id"), F.col("node_id").alias("current_id")
    )
    out = None
    for level in range(1, depth + 1):
        step = (
            F.broadcast(frontier)
            .join(parent_of.withColumnRenamed("child_id", "current_id"), "current_id")
            .select("start_id", F.col("parent_id").alias("ancestor_id"))
            .localCheckpoint(eager=True)
        )
        found = step.withColumn("depth", F.lit(level))
        out = found if out is None else out.unionByName(found)
        frontier = step.select("start_id", F.col("ancestor_id").alias("current_id"))
    return out


def subtree_closure(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    with_path: bool = False,
    assume_forest: bool = False,
) -> DataFrame:
    """Per-root downward closure: (root_id, node_id, depth[, path]), the
    roots themselves excluded.

    Unlike :func:`descendants` (which collapses all roots into one visited
    set), this keeps subtree membership per root — the relation behind
    ``has_shared_descendants`` / ``export`` subtree collection and the
    ordered-descent ``preview`` (``assemblage_db/src/lib.rs:805-831,462-509``).

    With ``with_path`` each row carries a ``/``-joined zero-padded child-idx
    string, lexicographically ordered exactly like the reference's ordered
    DFS — the distributed substitute for recursive descent. A node reachable
    along several routes keeps the lexicographically smallest path of its
    first (shallowest) level.

    The walk is ``components.frontier_walk`` keyed on ``root_id``: cycle-safe
    through its per-root visited anti-join, one pinned, probed job per
    level. ``assume_forest`` (the caller guarantees single-path
    reachability) with ``max_depth <= _LAZY_MAX_DEPTH`` instead builds one
    lazy plan of plain level joins: on a forest the dedup and the visited
    anti-join are no-ops, and a shallow lineage needs no pins or probe.
    """
    # max_depth 0 goes to the walk too: it has no level for a lazy union
    if not (assume_forest and 1 <= max_depth <= _LAZY_MAX_DEPTH):
        seeds = roots.select(F.col("node_id").alias("root_id"), "node_id")
        return frontier_walk(
            edges, seeds, max_depth=max_depth, keys=["root_id"], with_path=with_path
        ).filter(F.col("depth") > 0)
    e = edges.select("parent_id", "child_id", *(["idx"] if with_path else []))
    frontier = roots.select(F.col("node_id").alias("root_id"), F.col("node_id"))
    if with_path:
        frontier = frontier.withColumn("path", F.lit(""))
    out = None
    for depth in range(1, max_depth + 1):
        nxt = e.join(frontier.withColumnRenamed("node_id", "parent_id"), "parent_id")
        nxt = nxt.select(
            "root_id",
            F.col("child_id").alias("node_id"),
            *([child_path().alias("path")] if with_path else []),
        )
        level = nxt.withColumn("depth", F.lit(depth).cast("long"))
        out = level if out is None else out.unionByName(level)
        frontier = nxt
    return out


def has_shared_descendants(
    edges: DataFrame,
    roots: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
) -> DataFrame:
    """For each root: does the subtree contain a node with more than one
    parent (reference ``has_shared_descendants_until_links``,
    ``assemblage_db/src/lib.rs:805-831``)?

    One bounded BFS for ALL roots at once, then a join against per-node
    parent counts — set-at-a-time instead of the reference's per-root
    recursion, so 10^9 roots cost one extra shuffle, not 10^9 traversals.
    """
    sub = subtree_closure(edges, roots, max_depth=max_depth, assume_forest=assume_forest)
    n_parents = edges.groupBy("child_id").agg(
        F.countDistinct("parent_id").alias("n_parents")
    )
    flags = (
        sub.join(n_parents, sub.node_id == n_parents.child_id, "left")
        .groupBy("root_id")
        .agg(F.max(F.coalesce(F.col("n_parents"), F.lit(1)) > 1).alias("has_shared"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(flags, "root_id", "left")
        .select("root_id", F.coalesce("has_shared", F.lit(False)).alias("has_shared"))
    )


def preview_leaf(
    edges: DataFrame,
    roots: DataFrame,
    blanks: DataFrame,
    *,
    max_depth: int,
    assume_forest: bool = False,
) -> DataFrame:
    """First non-blank leaf in ordered-DFS order per root — the distributed
    form of the reference's ``preview`` (``assemblage_db/src/lib.rs:462-509``:
    ordered descent, blank skipping, Empty when nothing qualifies).

    ``blanks`` is (node_id, is_blank) over the *renderable* (text) nodes —
    only nodes present there are preview candidates; structural nodes
    (lists) and childless inner nodes are skipped, matching the reference's
    blank-block skipping (an empty list renders as blank). Returns
    (root_id, preview_id), ``'empty'`` when the subtree has no non-blank
    candidate.
    """
    sub = subtree_closure(
        edges,
        roots,
        max_depth=max_depth,
        with_path=True,
        assume_forest=assume_forest,
    )
    first = (
        sub.join(blanks, "node_id")
        .filter(~F.col("is_blank"))
        .groupBy("root_id")
        .agg(F.min(F.struct("path", "node_id")).alias("m"))
        .select("root_id", F.col("m.node_id").alias("preview_id"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(first, "root_id", "left")
        .select("root_id", F.coalesce("preview_id", F.lit("empty")).alias("preview_id"))
    )


def is_cyclic(edges: DataFrame, roots: DataFrame, *, max_depth: int) -> DataFrame:
    """Per root: would a downward traversal revisit a node (reference
    ``is_cyclic``, ``assemblage_db/src/lib.rs:424-442``)?

    The reference pushes every child edge-instance and reports true on the
    first pop of an already-visited id — so true cycles, diamonds, AND a
    child listed twice under one parent all count. Set formulation: each
    first visit consumes exactly one push, so a revisit exists iff

        #edge-instances with parent in closure(root)  >=  |closure(root)|

    (closure includes the root; the root's initial push is the +1). One
    bounded BFS for all roots plus one aggregated join — no per-root
    recursion. ``max_depth`` must cover the closure diameter.
    """
    # ``sub`` is the walk's pinned relation, so the two reads of
    # ``closure`` below need no cache of their own
    sub = subtree_closure(edges, roots, max_depth=max_depth)
    r = roots.select(F.col("node_id").alias("root_id")).distinct()
    closure = sub.select("root_id", "node_id").unionByName(
        r.select("root_id", F.col("root_id").alias("node_id"))
    )
    sizes = closure.groupBy("root_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    # both endpoints must be inside the closure: with a truncated (bounded-
    # depth) closure, an edge leading past the depth bound is not a revisit
    n_edges = (
        closure.withColumnRenamed("node_id", "parent_id")
        .join(edges.select("parent_id", "child_id"), "parent_id")
        .join(
            closure.withColumnRenamed("node_id", "child_id"),
            ["root_id", "child_id"],
        )
        .groupBy("root_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return (
        sizes.join(n_edges, "root_id", "left")
        .select(
            "root_id",
            (F.coalesce("n_edges", F.lit(0)) >= F.col("n_nodes")).alias("is_cyclic"),
        )
    )


def is_blank_roots(
    edges: DataFrame,
    roots: DataFrame,
    blanks: DataFrame,
    *,
    max_depth: int,
) -> DataFrame:
    """Per root: does the subtree contain only blank renderable nodes
    (reference ``is_blank``, ``assemblage_db/src/lib.rs:389-416``)?

    ``blanks`` is (node_id, is_blank) over renderable (text) nodes;
    structural nodes contribute nothing, and a subtree with no renderable
    node at all is blank (an empty list renders as blank) — the vacuous
    ``True`` of the coalesce.
    """
    sub = subtree_closure(edges, roots, max_depth=max_depth)
    flags = (
        sub.join(blanks, "node_id")
        .groupBy("root_id")
        .agg(F.expr("bool_and(is_blank)").alias("all_blank"))
    )
    return (
        roots.select(F.col("node_id").alias("root_id"))
        .distinct()
        .join(flags, "root_id", "left")
        .select("root_id", F.coalesce("all_blank", F.lit(True)).alias("is_blank"))
    )


def siblings_before_after(
    edges: DataFrame,
    blank: F.Column | None = None,
) -> DataFrame:
    """For every child: the nearest non-blank previous and next sibling
    within the same parent (reference ``before``/``after``, core.rs:152-299 —
    flat-case semantics: blank siblings are skipped, search continues past
    them).

    ``blank`` is a boolean Column over the edges frame marking siblings to
    skip (the reference skips whitespace-only and Aside-styled siblings).
    Implemented as two running-extreme windows — one shuffle on parent_id,
    no self-join, linear in |edges| at any scale.
    """
    if blank is None:
        blank = F.lit(False)
    e = edges.withColumn("__blank", blank)
    w = Window.partitionBy("parent_id").orderBy("idx")
    before_w = w.rowsBetween(Window.unboundedPreceding, -1)
    after_w = w.rowsBetween(1, Window.unboundedFollowing)
    # max/min of struct(idx, child_id) picks the nearest eligible sibling
    # (struct comparison is field-order lexicographic, idx first).
    eligible = F.when(~F.col("__blank"), F.struct("idx", "child_id"))
    return (
        e.withColumn("before_id", F.max(eligible).over(before_w)["child_id"])
        .withColumn("after_id", F.min(eligible).over(after_w)["child_id"])
        .select("parent_id", "child_id", "idx", "before_id", "after_id")
    )


def siblings_escalated(
    leaf_edges: DataFrame,
    parent_edges: DataFrame,
    blank: F.Column,
) -> DataFrame:
    """``before``/``after`` with grandparent escalation — the full shape of
    the reference's sibling search (``assemblage_db/src/core.rs:152-299``):
    when a node has no eligible sibling inside its own parent, the search
    escalates to the parent's siblings (within the grandparent) and descends
    into the nearest non-blank one — to its LAST non-blank leaf for
    ``before``, FIRST for ``after``. A parent whose leaves are all blank is
    itself blank (``lib.rs:389-416``) and is skipped at the upper level.
    (The reference suppresses escalation for link-displayed children; pass
    only non-link leaves.)

    ``leaf_edges``: (parent_id, child_id, idx) + whatever ``blank`` needs;
    ``parent_edges``: (parent_id = grandparent, child_id = parent, idx).
    Returns (parent_id, child_id, idx, before_id, after_id).

    Scale shape: one shuffle on parent_id serves the in-parent windows AND
    the per-parent first/last/blank aggregate; the parent level re-runs the
    same running-extreme windows on a relation one fan-out smaller; the
    escalation itself is two equi-joins on parent keys. No self-joins, no
    iteration — cost is linear in |leaf_edges| at any scale.
    """
    e = leaf_edges.withColumn("__blank", blank)
    w = Window.partitionBy("parent_id").orderBy("idx")
    eligible = F.when(~F.col("__blank"), F.struct("idx", "child_id"))
    l1 = e.withColumn(
        "before_id", F.max(eligible).over(w.rowsBetween(Window.unboundedPreceding, -1))["child_id"]
    ).withColumn(
        "after_id", F.min(eligible).over(w.rowsBetween(1, Window.unboundedFollowing))["child_id"]
    )
    # per-parent digest: blankness + first/last non-blank leaf (one pass,
    # same shuffle key as the windows above)
    digest = e.groupBy("parent_id").agg(
        F.max(~F.col("__blank")).alias("any_nb"),
        F.min(eligible).alias("first_nb"),
        F.max(eligible).alias("last_nb"),
    )
    # parent level: the same nearest-non-blank windows over parent siblings
    pe = parent_edges.select(
        F.col("parent_id").alias("gp_id"),
        F.col("child_id").alias("parent_id"),
        F.col("idx").alias("pidx"),
    ).join(digest, "parent_id", "left")
    pw = Window.partitionBy("gp_id").orderBy("pidx")
    p_eligible = F.when(
        F.coalesce("any_nb", F.lit(False)), F.struct(F.col("pidx"), F.col("parent_id"))
    )
    p1 = pe.withColumn(
        "prev_parent",
        F.max(p_eligible).over(pw.rowsBetween(Window.unboundedPreceding, -1))["parent_id"],
    ).withColumn(
        "next_parent",
        F.min(p_eligible).over(pw.rowsBetween(1, Window.unboundedFollowing))["parent_id"],
    ).select("parent_id", "prev_parent", "next_parent")
    # descend: last non-blank leaf of the previous parent / first of the next
    last_of = digest.select(
        F.col("parent_id").alias("prev_parent"), F.col("last_nb")["child_id"].alias("esc_before")
    )
    first_of = digest.select(
        F.col("parent_id").alias("next_parent"), F.col("first_nb")["child_id"].alias("esc_after")
    )
    return (
        l1.join(p1, "parent_id", "left")
        .join(last_of, "prev_parent", "left")
        .join(first_of, "next_parent", "left")
        .select(
            "parent_id",
            "child_id",
            "idx",
            F.coalesce("before_id", "esc_before").alias("before_id"),
            F.coalesce("after_id", "esc_after").alias("after_id"),
        )
    )


def display_class(nodes: DataFrame, *, max_iter: int = 8) -> DataFrame:
    """Resolve the reference's display-class recursion (``is_span`` /
    ``is_block``, assemblage_db/src/lib.rs:347-380) over a node relation
    ``(node_id, kind, child_id)``.

    ``kind`` ∈ {text, chain, page, span_styled, block_styled}; ``child_id``
    is a styled wrapper's single child (null otherwise). Text and chain
    lists render as spans, page lists and block-styled wrappers as blocks;
    a span-styled wrapper takes the class of its child — a recursion the
    reference guards with a visited set. A wrapper whose chain has no
    non-wrapper within ``max_iter`` children (a styled cycle, or deeper
    nesting than the bound) falls back to block, matching the reference's
    cycle guard. A dangling child pointer also classifies as block.

    Pointer doubling / path compression: compose the one-step relation
    with itself, so a ``max_iter`` of 2^k costs k+1 joins instead of 2^k —
    ceil(log2) shuffle rounds at 100 TB. ``max_iter`` is decomposed in
    binary, so any bound is scanned EXACTLY (no overshoot past the cycle
    guard).
    """
    base = (
        F.when(F.col("kind").isin("text", "chain"), F.lit("span"))
        .when(F.col("kind").isin("page", "block_styled"), F.lit("block"))
    )
    lut = nodes.select("node_id", base.alias("dc"), "child_id")

    # T_k(x): scan the k-node chain x, child(x), ... — dc = class of the
    # first non-wrapper found (null if all wrappers), cur = the pointer
    # after k nodes (to continue composition). T_{a+b} = T_a then T_b.
    def compose(a: DataFrame, b: DataFrame) -> DataFrame:
        bb = b.select(
            F.col("node_id").alias("cur"),
            F.col("dc").alias("dc_b"),
            F.col("cur").alias("cur_b"),
        )
        return a.join(bb, "cur", "left").select(
            "node_id",
            F.coalesce("dc", "dc_b").alias("dc"),
            F.when(F.col("dc").isNotNull(), F.col("cur"))
            .otherwise(F.col("cur_b"))
            .alias("cur"),
        )

    t1 = lut.select("node_id", "dc", F.col("child_id").alias("cur"))
    total, power = None, t1
    k = max_iter
    first = True
    while k:
        if k & 1:
            total = power if first else compose(total, power)
            first = False
        k >>= 1
        if k:
            power = compose(power, power)
    # wrapper w scans its CHILD chain: look T_{max_iter} up at child_id
    chain = total.select(
        F.col("node_id").alias("child_id"), F.col("dc").alias("chain_dc")
    )
    out = lut.join(chain, "child_id", "left").select(
        "node_id",
        F.coalesce("dc", "chain_dc", F.lit("block")).alias("dc"),
    )
    return nodes.join(out, "node_id", "left").select(
        *nodes.columns, F.coalesce("dc", F.lit("block")).alias("display_class")
    )
