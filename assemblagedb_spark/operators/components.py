"""GraphX-style analytics over the engine's edge relation (BASELINE.json
north star: "GraphX for analytics queries", re-expressed as DataFrame
rounds). One operator per analytic:

- :func:`contracted_components`: connected components. Partition-local
  union-find contraction, finished by min-label propagation run to its
  fixed point.
- :func:`pagerank_rounds`: integer fixed-point PageRank, global or
  personalized to a seed set, for a fixed round count.
- :func:`triangle_counts`, :func:`bfs_depth` and :func:`k_core_delta`.

Scale design: no operator materializes a transitive closure, so hub nodes
cause no row explosion. A loop round is one join on the edge side plus one
node aggregate, and its result is pinned by an eager ``localCheckpoint``
so lineage never grows. (Each round still pays its own exchanges: a
checkpointed relation exposes no partitioning for Catalyst to reuse; see
the k_core_delta pin note.) Every probed round goes through :func:`_pin`,
which reads the round's exit and guard counts off the pin job itself.

:func:`frontier_walk` is the one cycle-safe BFS: ``bfs_depth`` runs it
over one seed set, ``traversal.subtree_closure`` runs it per root.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

# union-find contraction budget: passes, and the partition coalesce factor
# between consecutive passes (also the memory bound of a pass's dict; see
# contracted_components)
_CONTRACTION_LEVELS = 3
_FANIN = 16
# integer PageRank: ranks are BIGINT multiples of 1/_SCALE, damping in
# percent
_SCALE = 1_000_000
_DAMPING_PCT = 85
# frontier_walk: frontier and settled sides are broadcast while their
# probed row counts stay within this bound (~tens of MB of node ids)
_WALK_BROADCAST_ROWS = 500_000
# zero-padded width of each child idx in a frontier_walk path string
_PATH_PAD = 10
# k_core_delta: peel-round budget, and the largest dead frontier whose
# join side is broadcast
_KCORE_MAX_ROUNDS = 100
_KCORE_BROADCAST_MAX_DEAD = 2_000_000


def _pin(df: DataFrame, **probes: Column) -> tuple[DataFrame, dict]:
    """Pin ``df`` with an eager ``localCheckpoint`` and read each probe
    (an aggregate Column, by name) off that same job via ``observe()``:
    one job per loop round, not a checkpoint plus a second count scan. A
    probe over no rows reads 0, not None.

    Retry safety, the argument every probed loop exit rests on: the
    session runs ``local[N,2]``, so a task can run twice and its metrics
    can be counted twice. A probe may over-count; it never under-counts.
    Every loop exits when the probe of the round just pinned reads 0, and
    never compares counts taken by two different jobs. So an over-count
    only adds one round past the fixed point, where a round is the
    identity, or pushes a broadcast guard toward its shuffle branch,
    which changes bytes moved, not output. ``Observation`` is looked up
    at call time, so a test can patch ``pyspark.sql.Observation``.
    """
    from pyspark.sql import Observation

    obs = Observation()
    pinned = df.observe(
        obs, *(c.alias(name) for name, c in probes.items())
    ).localCheckpoint(eager=True)
    return pinned, {name: v or 0 for name, v in obs.get.items()}


def child_path() -> Column:
    """A child row's ordered-DFS path: its parent's ``path`` plus ``/``
    and its zero-padded ``idx``, so string order is sibling order at
    every level."""
    return F.concat(
        "path", F.lit("/"), F.lpad(F.col("idx").cast("string"), _PATH_PAD, "0")
    )


def _propagate_labels(stars: DataFrame) -> DataFrame:
    """(node_id, component) by synchronous min-label propagation over a
    (src, dst) relation taken as undirected, run to its fixed point: the
    finisher of :func:`contracted_components`.

    Each round every node takes the min label in its closed neighborhood
    (one |E| join + one |V| aggregate, the Pregel loop GraphX ships).
    Labels only decrease, so within diameter + 1 rounds every label is its
    component's min node id and a round changes nothing; the loop stops
    there and needs no round cap. The input is the contracted star
    relation, tiny by construction, so it is cached without a hash
    partitioning: a defaultParallelism-wide exchange and as many tasks
    per round on a few hundred edges is pure overhead (interleaved A/B on
    dedup_clusters: ~0.3s slower with it).

    The changed-label probe rides each round's pin (:func:`_pin`). It is
    read from round 0, because on a contracted graph the first round
    usually IS the fixed point.
    """
    und = (
        stars.unionByName(
            stars.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
    )
    changed = 1
    while changed:
        neigh = (
            und.join(
                labels.select(
                    F.col("node_id").alias("src"), F.col("component").alias("nl")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("nl").alias("nl"))
            .withColumnRenamed("dst", "node_id")
        )
        pinned, probe = _pin(
            labels.join(neigh, "node_id", "left").select(
                "node_id",
                F.col("component").alias("prev"),
                F.least(
                    "component", F.coalesce("nl", F.col("component"))
                ).alias("component"),
            ),
            changed=F.sum((F.col("component") != F.col("prev")).cast("long")),
        )
        labels = pinned.select("node_id", "component")
        changed = probe["changed"]
    und.unpersist()
    return labels


def pagerank_rounds(
    edges: DataFrame, *, rounds: int, seeds: DataFrame | None = None
) -> DataFrame:
    """Fixed-point integer PageRank: ``rounds`` synchronous iterations with
    ranks held as BIGINT multiples of 1/``_SCALE`` and integer-division
    contributions — every engine computes bit-identical ranks (no float
    summation order), which is what makes the result oracle-comparable
    (the DuckDB gates unroll the same rounds).

    ``seeds``: a (node_id) frame for personalized PageRank (random walk
    with restart): the start mass and the teleport mass land ONLY on the
    seeds — "which nodes does a walk from THESE nodes keep reaching", the
    related-documents query over a near-dup or citation graph. The seed
    set is broadcast into the node join. ``None`` makes every node a seed,
    which is global PageRank.

    Per round: one |E| join (contribution = rank div out-degree), one |V|
    aggregate — same shuffle shape as the Pregel PageRank GraphX ships.
    Dangling mass is dropped (nodes with no outgoing edges contribute
    nothing), the common simplification for bounded-round analytics.

    The edge cache is hash-partitioned on ``src`` BEFORE persisting:
    unlike a localCheckpoint, an InMemoryRelation keeps its
    outputPartitioning, so every round's contribution join and the
    out-degree aggregate reuse the cached layout instead of re-shuffling
    |E| per round — the standard co-location move for iterative graph
    jobs (interleaved A/B at sf0.1: ~1.4x faster, identical ranks; at
    corpus scale it removes rounds x |E| shuffle traffic).
    """
    parts = edges.sparkSession.sparkContext.defaultParallelism
    e = edges.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    ).distinct().repartition(parts, "src").persist()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.withColumn("is_seed", F.lit(True))
    else:
        seed_flag = seeds.select(F.col("node_id")).distinct().withColumn(
            "__is_seed", F.lit(True)
        )
        nodes = nodes.join(F.broadcast(seed_flag), "node_id", "left").select(
            "node_id", F.coalesce("__is_seed", F.lit(False)).alias("is_seed")
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (100 - _DAMPING_PCT) * _SCALE // 100
    base_col = F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0))
    ranks = nodes.withColumn(
        "rank",
        F.when(F.col("is_seed"), F.lit(_SCALE)).otherwise(F.lit(0)).cast("long"),
    )
    for _ in range(rounds):
        contrib = (
            e.join(ranks.withColumnRenamed("node_id", "src"), "src")
            .join(outdeg, "src")
            .select("dst", F.expr("rank div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
            .withColumnRenamed("dst", "node_id")
        )
        ranks = (
            ranks.drop("rank")
            .join(contrib, "node_id", "left")
            .select(
                "node_id", "is_seed",
                (
                    base_col
                    + F.expr(f"({_DAMPING_PCT} * coalesce(in_sum, 0)) div 100")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return ranks.select("node_id", "rank")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts — the third canonical graph
    analytic next to components/PageRank (GraphX ``triangleCount``).

    Each triangle is enumerated exactly once as e(a,b) ⋈ e(b,c) ⋈
    e(a,c) over DEGREE-ORDERED oriented edges — two equi-joins, no
    wedge ever materialized twice. Every node of the input edge set
    gets a row (0 if triangle-free).

    Orientation (round 10): edges point from the lower to the higher
    endpoint under the total order (degree, id) — the classic
    degree-ordered orientation (Chiba–Nishizeki / Schank–Wagner): the
    wedge join's cost is Σ out-deg(v)² and orienting toward the
    higher-degree endpoint caps every out-degree by O(√m) (more
    precisely by the graph's arboricity-class bound), so hub nodes
    stop dominating — the previous id-ordered orientation left a hub's
    full degree on the out side and cost Σ deg(v)² (an sf1-class
    scaling leg once put that blow-up at 559s full compute — a figure
    not reproduced since; SCALING_R10.md holds the measured sf1-class
    numbers of this orientation). The triangle SET is
    orientation-independent, so the result — and the oracle — are
    unchanged; the extra work is one degree aggregate + two joins to
    attach degrees before orienting, below the pinned edge relation.
    """
    und = edges.select(
        F.least("parent_id", "child_id").alias("u"),
        F.greatest("parent_id", "child_id").alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # total order (degree, id): one symmetric-degree aggregate over the
    # deduped undirected edges, attached to both endpoints
    deg = (
        und.select(F.col("u").alias("n"))
        .unionByName(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        und.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # eager localCheckpoint, NOT persist: the returned frame is lazy, and
    # the previous persist() was unpersisted before the caller's action
    # ever ran, so the cache never substituted and the edge pipeline
    # re-executed once per reference (4x — a latent round-9 bug this
    # round's plan pin now catches: the enumeration plan must carry NO
    # joins below the pinned edge relation)
    e = keyed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("v"),
    ).localCheckpoint(eager=True)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # one explode, not a 3-branch union: Catalyst does not share common
    # subtrees across union branches, so the union formulation executed
    # the two-join triangle enumeration THREE times (round-9 plan audit:
    # 3 copies of the join tree, noop-timed 8.1s -> 3.7s at sf0.1 with
    # identical output). explode(array(a,b,c)) feeds the same partial
    # aggregation from a single copy of the join.
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("u").alias("node_id"))
        .unionByName(e.select(F.col("v").alias("node_id")))
        .distinct()
    )
    return nodes.join(per_node, "node_id", "left").select(
        "node_id",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )


def contraction_pass(rel: DataFrame) -> DataFrame:
    """One union-find contraction level: a (src, dst) edge relation in, a
    (src=root, dst=node) star relation out — ONE MapInPandas over the
    input's existing partitioning, no exchange (plan-pinned). The closure
    pickles by value, so no worker-side package import is needed."""
    from pyspark.sql.types import StructField, StructType

    node_type = rel.schema["src"].dataType
    star_schema = StructType(
        [StructField("src", node_type), StructField("dst", node_type)]
    )

    def _contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = parent.setdefault(x, x)
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        nodes = list(parent)
        # (root, node) stars; roots emit their (root, root) row too, so
        # the node universe survives every level intact
        yield pd.DataFrame(
            {"src": [find(n) for n in nodes], "dst": nodes}
        )

    return rel.mapInPandas(_contract, schema=star_schema)


def contracted_components(edges: DataFrame) -> DataFrame:
    """Connected components via partition-local union-find contraction —
    the "local sequential step" of large-scale CC systems (Kiveris et al.,
    SoCC'14 §4 use the same idea to cut rounds) — finished by
    convergence-probed min-label propagation on the contracted graph.

    Phase 1 (per level): ONE Arrow pass over the raw edge partitions —
    union-find needs neither symmetry nor dedup, so the input is never
    shuffled first. Each partition union-finds the edges it holds (min-id
    roots, path-compressed) and emits its components as (root, node)
    stars. Replacing a partition's edges by a star over the same nodes
    preserves connectivity, so the union of stars across partitions has
    exactly the input's components — but every within-partition path is
    now ≤2 hops. Each level feeds its stars to the next with ``_FANIN``×
    fewer partitions (a shuffle-free ``coalesce``), so level 2 sees most
    of a component's stars in one task and collapses the cross-partition
    chains as well; ``_CONTRACTION_LEVELS`` caps the pass count.

    Phase 2: :func:`_propagate_labels` over the final star relation. On
    typical graphs the contraction has already converged and the loop
    exits at the first probe; on adversarial layouts (a chain whose every
    edge landed in a different partition) it simply runs the remaining
    rounds — exactness NEVER depends on the contraction having finished
    the job.

    Output: (node_id, component), component = the component's min node id
    (roots are per-partition minima; the finisher takes the global min).
    ``edges`` is (parent_id, child_id), read as undirected. A half-NULL
    edge gives its real endpoint a row; an all-NULL edge gives none.

    Scale: union-find state is one dict entry per DISTINCT node in the
    task's input and never leaves the executor — no driver collect, no
    broadcast, no assumption the graph fits anywhere whole. Arrow
    batches stream through the pass; only the node dict is resident.
    ``_FANIN`` is therefore a memory bound, not just a round knob: a
    level-k task sees at most ``_FANIN`` level-(k-1) partitions' star
    rows, so its dict is bounded by ``_FANIN`` × nodes-per-partition
    (less when partitions share nodes, which is the whole point). Where
    plain min-label propagation pays diameter rounds of |E| shuffle each,
    this pays the map-side passes + the few rounds the contracted graph
    still needs (interleaved A/B on graph_components at sf0.1 in
    SCALING_R10.md).
    """
    fwd = edges.select(
        F.col("parent_id").alias("src"), F.col("child_id").alias("dst")
    )
    # Python's None is not orderable inside the union-find: a half-null
    # edge collapses to a self-loop so its real endpoint still gets its
    # singleton label row; an all-null edge names no node and is dropped
    fwd = fwd.filter(
        F.col("src").isNotNull() | F.col("dst").isNotNull()
    ).select(
        F.coalesce("src", "dst").alias("src"),
        F.coalesce("dst", "src").alias("dst"),
    )
    # level 0 runs on the input's own partitioning; each further level
    # coalesces _FANIN× and re-contracts, STOPPING EARLY once the star
    # relation fits one partition (that task union-finds the whole
    # contracted graph, so the finisher exits at its first probe). The
    # early exit matters both ways: a single-partition input skips the
    # extra levels entirely, and a small graph arriving in many
    # partitions (e.g. pairs derived from a 32-way-parallelized build —
    # the round-8 dedup_clusters regression: 2.3 → 4-6s when the minhash
    # fold went 32-wide) collapses fully instead of leaving
    # cross-partition chains to diameter-priced finisher rounds. The
    # localCheckpoint makes getNumPartitions a metadata read, and
    # ``_CONTRACTION_LEVELS`` still caps the pass count at scale (a
    # 1000-partition corpus stops at 1000 → 63 → 4, each task's
    # union-find dict _FANIN-bounded exactly as before).
    cur = contraction_pass(fwd).localCheckpoint(eager=True)
    for _ in range(1, _CONTRACTION_LEVELS):
        n_parts = cur.rdd.getNumPartitions()
        if n_parts <= 1:
            break
        cur = contraction_pass(
            cur.coalesce(max(1, n_parts // _FANIN))
        ).localCheckpoint(eager=True)
    # Exactness shortcut: mapInPandas is partition-preserving, so the
    # checkpointed star relation has exactly its pass's input partition
    # count — if that is ONE, the last union-find task saw every edge of
    # the (contracted) graph and its per-task min-id roots ARE the global
    # components. The finisher would symmetrize, persist and probe one
    # propagation round just to confirm the fixed point; skip it and emit
    # the stars as labels directly ((root, node) rows cover every node
    # exactly once, roots included). The condition is checked
    # mechanically at runtime — a multi-partition relation still takes
    # the probed finisher, so exactness never rests on the contraction
    # having converged. Assumption (ADVICE r9): node ids must order
    # identically under Python's `<` (the union-find's min-root choice)
    # and Spark's ordering (the finisher's F.min) for the two branches to
    # agree — true for the integral/string ids every caller feeds; a
    # float graph with NaN ids or mixed-type ids is outside the contract.
    if cur.rdd.getNumPartitions() == 1:
        return cur.select(
            F.col("dst").alias("node_id"), F.col("src").alias("component")
        )
    return _propagate_labels(cur)


def frontier_walk(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_depth: int,
    keys: Sequence[str] = (),
    with_path: bool = False,
) -> DataFrame:
    """Cycle-safe BFS over ``edges(parent_id, child_id[, idx])``, run
    separately for each value of the ``keys`` columns of ``seeds``:
    (*keys, node_id, depth[, path]) for every node within ``max_depth``
    hops. The (*keys, node_id) rows of ``seeds`` report depth 0, and a node
    reachable at several depths reports the smallest (BFS invariant: the
    first visit is the shallowest). With ``keys=[]`` this is one walk
    from a seed SET; ``keys=["root_id"]`` keeps one walk per root.

    The reference's ``descendants`` and ``is_cyclic``
    (``assemblage_db/src/lib.rs:695-797, 424-442``) are one such walk: a
    frontier plus a ``HashSet`` visited guard. Here each level is one
    frontier⋈edges equi-join, a dedup, and an anti-join against the
    settled set (the visited guard: a revisited node is never expanded
    again), so level d costs |frontier_d ⋈ E|, never |V|².

    With ``with_path`` each row also carries its :func:`child_path`
    string; a node reached along several routes keeps the smallest path
    of its shallowest level — the ordered-DFS position of its first
    visit.

    One pin per level: the settled ∪ new relation goes through
    :func:`_pin`, the next frontier is a filter (depth == d-1) over its
    in-memory blocks, and the level's new-row probe rides the pin job and
    ends the walk when it reads 0. The join strategy comes from the same
    probes: the frontier and settled counts are exact before each level
    is planned, and while one fits ``_WALK_BROADCAST_ROWS`` its join side
    is broadcast, so the edge relation is not shuffled for a small
    frontier. Past the bound the hints are simply not attached and both
    joins shuffle. Identical output either way — the hints move bytes,
    not semantics.
    """
    ids = [*keys, "node_id"]
    path = ["path"] if with_path else []
    fwd = edges.select(
        F.col("parent_id").alias("src"),
        F.col("child_id").alias("dst"),
        *(["idx"] if with_path else []),
    )
    start = seeds.select(*ids).distinct().withColumn("depth", F.lit(0).cast("long"))
    if with_path:
        start = start.withColumn("path", F.lit(""))
    settled, probe = _pin(start, n=F.count(F.lit(1)))
    n_settled = frontier_n = probe["n"]
    for d in range(1, max_depth + 1):
        frontier = settled.filter(F.col("depth") == d - 1).select(
            *keys, F.col("node_id").alias("src"), *path
        )
        if frontier_n <= _WALK_BROADCAST_ROWS:
            frontier = F.broadcast(frontier)
        anti = settled.select(*ids)
        if n_settled <= _WALK_BROADCAST_ROWS:
            anti = F.broadcast(anti)
        step = fwd.join(frontier, "src")
        if with_path:
            nxt = step.groupBy(*keys, F.col("dst").alias("node_id")).agg(
                F.min(child_path()).alias("path")
            )
        else:
            nxt = step.select(*keys, F.col("dst").alias("node_id")).distinct()
        nxt = nxt.join(anti, ids, "left_anti").withColumn(
            "depth", F.lit(d).cast("long")
        )
        merged, probe = _pin(
            settled.unionByName(nxt),
            n_new=F.sum((F.col("depth") == d).cast("long")),
        )
        if probe["n_new"] == 0:
            break
        frontier_n = probe["n_new"]
        n_settled += frontier_n
        settled = merged
    return settled


def bfs_depth(edges: DataFrame, seeds: DataFrame, *, max_depth: int) -> DataFrame:
    """Multi-source BFS: (node_id, depth) = fewest hops from ANY seed
    (``seeds``: one column ``node_id``), following edges parent→child,
    for every node within ``max_depth`` — :func:`frontier_walk` over one
    seed set. Seeds report depth 0."""
    return frontier_walk(edges, seeds, max_depth=max_depth)


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Both orientations of (parent_id, child_id) in ONE input scan —
    explode emits the forward and reverse row per edge, so the map side
    reads the edge relation once (a two-branch union scans it twice);
    self-loops dropped."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("parent_id").alias("u"),
                        F.col("child_id").alias("v"),
                    ),
                    F.struct(
                        F.col("child_id").alias("u"),
                        F.col("parent_id").alias("v"),
                    ),
                )
            ).alias("uv")
        )
        .select("uv.u", "uv.v")
        .filter(F.col("u") != F.col("v"))
    )


def k_core_delta(
    edges: DataFrame,
    k: int,
    *,
    assume_distinct: bool = False,
) -> DataFrame:
    """The k-core of the undirected simple graph: iteratively peel every
    node whose current degree is below ``k`` (all at once per round) until
    the surviving subgraph is stable. Output: (node_id, degree) for core
    members, with degree counted INSIDE the core — the densest-region
    extractor used for community seeds and hub detection (the GraphX
    ``connectedComponents``-family analytic Spark itself never shipped).

    Frontier-delta formulation: instead of re-scanning the full
    alive-restricted edge set every round, maintain a degree table and
    propagate only the DELTAS — each round joins the static edge set
    against the nodes that died LAST round and decrements their surviving
    neighbors' degrees. Cost per round: |dead_frontier ⋈ E|
    (frontier-bounded, like BFS) plus one O(|V_alive|) degree-table
    rewrite — vs a simultaneous peel's O(|E_alive|) rescan. The loop
    convergence-probes (a round that kills nobody ends it), bounded by
    ``_KCORE_MAX_ROUNDS``; the SQL oracle unrolls a fixed round count past
    measured convergence, which matches because peeling is monotone
    (once stable, further rounds are identity). Parity against a
    plain-Python peel is pinned in tests/test_round3_ops.py.

    A node dies exactly once (new deaths are computed among the alive
    set only), so each edge to a dead endpoint is decremented exactly
    once and the final degree equals the degree within the surviving
    core.

    ``assume_distinct``: the input rows are already distinct DIRECTED
    edges and no reverse duplicate exists (e.g. a typed hierarchy where
    parent and child id spaces are disjoint) — skips the symmetrized
    distinct, otherwise the single most expensive shuffle of the job.

    Broadcast guard: each round's probe counts the next dead frontier, so
    the frontier join broadcasts the dead side only while
    ``n_front <= _KCORE_BROADCAST_MAX_DEAD`` (~2M ids ≈ tens of MB) and
    otherwise lets the planner shuffle. Without the hint the checkpointed
    edge blocks expose no partitioning, so the round-0 frontier join (the
    one big frontier: every initially-under-k node) re-shuffles the FULL
    edge relation; broadcasting the frontier keeps every round's scan
    exchange-free (interleaved A/B at sf0.1: ~8.6s → ~5.4s end to end,
    identical output). SCALING_R10.md holds the sf0.1 and sf1-class
    measurements of this loop."""
    sym = _symmetrized(edges)
    if not assume_distinct:
        sym = sym.distinct()
    # Pin note: compact into defaultParallelism balanced blocks, keyed on
    # v. What this buys (interleaved A/B at sf0.1): every round scans
    # fewer, even-sized in-memory blocks than the raw input layout (~15%
    # total). What it does NOT buy: Catalyst never reuses the hash
    # partitioning — a groupBy/join over repartition(key).localCheckpoint
    # still plans an Exchange (checkpointed blocks expose no
    # partitioning; verified). Keyed, not round-robin: repartition(n)
    # without a key adds a determinism sort to every map task, measured
    # slower than the hash-keyed write.
    parts = edges.sparkSession.sparkContext.defaultParallelism

    def _pin_e() -> DataFrame:
        return sym.repartition(parts, "v").localCheckpoint(eager=True)

    dead, alive = F.col("deg") < k, F.col("deg") >= k
    # the dead-frontier probe is both the broadcast guard and the exit
    n_dead = F.sum(dead.cast("long"))

    def _pin_base(src: DataFrame) -> tuple[DataFrame, dict]:
        return _pin(
            src.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg")),
            n_front=n_dead,
        )

    if assume_distinct:
        # the two setup pins are independent jobs over the same input —
        # overlap them (guide §2.6) instead of serializing two full
        # passes; with a distinct() in sym they would each re-run the
        # dedup shuffle, so that case derives base from the pinned e
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_e = pool.submit(_pin_e)
            f_base = pool.submit(_pin_base, sym)
            e, (base, probe) = f_e.result(), f_base.result()
    else:
        e = _pin_e()
        base, probe = _pin_base(e)
    n_front = probe["n_front"]
    for _ in range(_KCORE_MAX_ROUNDS):
        if n_front == 0:
            break
        # decrements: surviving neighbors of the nodes that died last
        # round (round 0: initial degree below k), a lazy filter over the
        # pinned degree table
        front_v = base.filter(dead).select(F.col("u").alias("v"))
        if n_front <= _KCORE_BROADCAST_MAX_DEAD:
            front_v = F.broadcast(front_v)
        dec = (
            e.join(front_v, "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).cast("long").alias("dec"))
        )
        base, probe = _pin(
            base.filter(alive)
            .join(dec, "u", "left")
            .select(
                "u",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0)))
                .alias("deg"),
            ),
            n_front=n_dead,
        )
        n_front = probe["n_front"]
    if n_front > 0:
        # a pending dead frontier means surviving degrees were never
        # decremented for those deaths — returning would be silently
        # wrong; fail loudly
        raise RuntimeError(
            f"k_core_delta: peeling did not stabilize within "
            f"_KCORE_MAX_ROUNDS={_KCORE_MAX_ROUNDS} (each round peels at "
            "least one node, so |V| rounds always suffice)"
        )
    return base.filter(alive).select(
        F.col("u").alias("node_id"), F.col("deg").alias("degree")
    )
