from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from assemblagedb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("assemblagedb-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# -- plain-Python references for the vector kernels -------------------------
# rows are (vec_id, vector) pairs as collected from Spark, so float32 inputs
# arrive as the same doubles the kernels see; NULL vectors are skipped.


def _grid(v, scale):
    """floor(v * scale) per component, or the integers as-is (scale=None)."""
    return [int(x) if scale is None else math.floor(x * scale) for x in v]


def _nearest(x, cents):
    """Label of the closest (label, cvec) by squared distance; lowest label
    wins ties."""
    return min(cents, key=lambda c: (sum((a - b) ** 2 for a, b in zip(x, c[1])), c[0]))[0]


def py_pq_train(rows, *, m, sub_dim, k, iters, scale=1000):
    """Sorted (subspace, label, pos, sum_q, n_vecs) PQ merge state: label j
    seeds from the j-th lowest id, centroids are floor(sum / n), and a
    cluster that loses every vector is dropped."""
    q = sorted((i, _grid(v, scale)) for i, v in rows if v is not None)
    cut = lambda v, sp: v[sp * sub_dim:(sp + 1) * sub_dim]  # noqa: E731
    state = [{j: (cut(v, sp), 1) for j, (_, v) in enumerate(q[:k])} for sp in range(m)]
    for _ in range(iters):
        nxt = [{} for _ in range(m)]
        for sp in range(m):
            cents = [(l, [s // n for s in sums]) for l, (sums, n) in sorted(state[sp].items())]
            for _, v in q:
                x = cut(v, sp)
                label = _nearest(x, cents)
                sums, n = nxt[sp].get(label, ([0] * sub_dim, 0))
                nxt[sp][label] = ([a + b for a, b in zip(sums, x)], n + 1)
        state = nxt
    return sorted((sp, l, p, s, n) for sp in range(m)
                  for l, (sums, n) in state[sp].items() for p, s in enumerate(sums))


def py_pq_encode(rows, book, *, m, sub_dim, scale=1000):
    """Sorted (vec_id, subspace, code) against a merge-state codebook."""
    cents: dict = {}
    for sp, l, _, s, n in sorted(book):
        cents.setdefault(sp, {}).setdefault(l, []).append(s // n)
    return sorted(
        (i, sp, _nearest(_grid(v, scale)[sp * sub_dim:(sp + 1) * sub_dim], sorted(cents[sp].items())))
        for i, v in rows if v is not None for sp in range(m)
    )


def py_cosine_topk(rows, query_ids, *, k):
    """{(query_id, neighbor_id, rank)}: exact cosine as a sequential
    left-to-right double fold, self excluded, ties to the lower id."""
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    vecs = {i: v for i, v in rows if v is not None}
    out = set()
    for q in (q for q in query_ids if q in vecs):
        a = vecs[q]
        ranked = sorted((-dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))), i)
                        for i, b in vecs.items() if i != q)
        out |= {(q, i, r) for r, (_, i) in enumerate(ranked[:k], 1)}
    return out


# -- plain-Python reference for the display-class recursion -----------------


def py_display_class(rows, *, max_iter):
    """{node_id: 'span' | 'block'} by the literal per-hop chase of
    ``is_span``/``is_block`` (lib.rs:347-380): a span-styled wrapper takes
    the class of the first non-wrapper among its next ``max_iter``
    children; a chain that does not reach one (a styled cycle, deeper
    nesting) or that dangles is a block. ``rows`` are
    (node_id, kind, child_id)."""
    base = {"text": "span", "chain": "span", "page": "block", "block_styled": "block"}
    kind = {n: k for n, k, _ in rows}
    child = {n: c for n, _, c in rows}

    def resolve(node):
        if kind[node] in base:
            return base[kind[node]]
        cur = child[node]
        for _ in range(max_iter):
            if cur not in kind:
                return "block"
            if kind[cur] in base:
                return base[kind[cur]]
            cur = child[cur]
        return "block"

    return {n: resolve(n) for n in kind}


# -- plain-Python references for the graph analytics ------------------------


def py_components(rows):
    """Sorted (node_id, component) by union-find over (a, b) edges read as
    undirected: component = the min node id of the node's connected
    component. A half-NULL edge names only its real endpoint; an all-NULL
    edge names no node."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a is None and b is None:
            continue
        a, b = (b if a is None else a), (a if b is None else b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


def components_by_layout(edges):
    """{layout: sorted (node_id, component)} from ``contracted_components``
    over ``edges`` as given, scattered to 16 partitions, on one partition
    (the finisher-free shortcut), and scattered to 12 partitions with one
    contraction level and fan-in 1, where the probed finisher must finish
    the job."""
    from assemblagedb_spark.operators import components as C

    def run(df):
        return sorted(
            (r["node_id"], r["component"])
            for r in C.contracted_components(df).collect()
        )

    out = {
        "input": run(edges),
        "repartition(16)": run(edges.repartition(16)),
        "repartition(1)": run(edges.repartition(1)),
    }
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "_CONTRACTION_LEVELS", 1)
        mp.setattr(C, "_FANIN", 1)
        out["repartition(12), one level"] = run(edges.repartition(12))
    return out


def py_pagerank(pairs, *, rounds, seeds=None):
    """{node_id: rank} replaying ``pagerank_rounds``' integer arithmetic
    over the distinct directed edges in ``pairs``: ranks in millionths,
    85% damping, dangling mass dropped; the start and teleport mass land
    only on ``seeds`` (every node when None)."""
    scale, damping = 1_000_000, 85
    pairs = set(pairs)
    nodes = {n for p in pairs for n in p}
    seeds = nodes if seeds is None else set(seeds)
    out: dict = {}
    for a, b in pairs:
        out.setdefault(a, []).append(b)
    base = (100 - damping) * scale // 100
    rank = {n: scale if n in seeds else 0 for n in nodes}
    for _ in range(rounds):
        in_sum = dict.fromkeys(nodes, 0)
        for src, dsts in out.items():
            for d in dsts:
                in_sum[d] += rank[src] // len(dsts)
        rank = {
            n: (base if n in seeds else 0) + damping * in_sum[n] // 100
            for n in nodes
        }
    return rank


def py_closure(edges, roots, max_depth):
    """{(root, node): (depth, path)} by a plain per-root BFS over
    (parent, child, idx) ``edges``, each root at (0, ""): a node keeps
    its shallowest depth and, among its routes at that depth, the
    smallest path of ``/``-joined 10-digit zero-padded idx values."""
    children: dict = {}
    for p, c, i in edges:
        children.setdefault(p, []).append((c, i))
    out = {}
    for root in set(roots):
        out[(root, root)] = (0, "")
        seen, frontier = {root}, {root: ""}
        for depth in range(1, max_depth + 1):
            nxt: dict = {}
            for p, path in frontier.items():
                for c, i in children.get(p, ()):
                    cand = f"{path}/{i:010d}"
                    if c not in seen and (c not in nxt or cand < nxt[c]):
                        nxt[c] = cand
            seen |= nxt.keys()
            out.update({(root, c): (depth, path) for c, path in nxt.items()})
            frontier = nxt
    return out


# -- Spark-vs-DuckDB gate comparison ----------------------------------------


def assert_matches_oracle(spark, sf_dir: str, name: str) -> None:
    """Run gate ``name`` on Spark and its DuckDB oracle over the parquet
    tables in ``sf_dir`` and compare the normalized frames by value."""
    import duckdb
    import pandas.testing as pdt

    from assemblagedb_spark import harness as h
    from assemblagedb_spark.sources.tpch import TABLES
    from tools.check_oracles import normalize

    sdf = h.SPARK_QUERIES[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    odf = con.execute(h.ORACLES[name]).fetchdf()
    con.close()
    assert sorted(sdf.columns) == sorted(odf.columns), name
    assert len(sdf) == len(odf), f"{name}: spark={len(sdf)} oracle={len(odf)}"
    if len(sdf):
        # NaN-aware value compare (tolist() would make NaN != NaN)
        pdt.assert_frame_equal(
            normalize(sdf), normalize(odf), check_dtype=False
        )
