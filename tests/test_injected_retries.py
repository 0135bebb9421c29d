"""Every observe()-probed loop under real task retries.

``_pin`` (operators/components.py) argues that a retried task can only
over-count a loop's probe, and that an over-count never changes output.
These tests make the retries happen: the edge input goes through a
pass-through kernel whose partition-0 task fails on its first attempt.
The session runs ``local[N,2]``, so Spark runs that task again and the
job succeeds. Each loop must then return exactly what it returns on the
clean input.
"""

from __future__ import annotations

import itertools
import random

import pytest

from assemblagedb_spark.operators import components as C
from assemblagedb_spark.operators.traversal import subtree_closure
from tests.conftest import components_by_layout, py_components

_GROUPS = (f"injected-retries-{i}" for i in itertools.count())


def _fail_first_attempt(df):
    """``df`` through a pass-through ``mapInPandas`` whose partition-0
    task raises on attempt 0 and passes every row through on the retry."""

    def kernel(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt failure")
        yield from batches

    return df.mapInPandas(kernel, schema=df.schema)


def _failed_tasks(spark, group: str) -> int:
    """Failed task attempts over every job run under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            n += info.numFailedTasks if info else 0
    return n


def _under_retries(spark, run, edges):
    """(clean output, output with the injected retries) of ``run(edges)``;
    fails unless the injector really caused a retry."""
    clean = run(edges)
    sc, group = spark.sparkContext, next(_GROUPS)
    sc.setJobGroup(group, "first attempt of partition 0 fails")
    try:
        retried = run(_fail_first_attempt(edges))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _failed_tasks(spark, group) > 0, "no task was retried"
    return clean, retried


@pytest.fixture
def graph(spark):
    """A seeded random graph with cycles, self-loops and duplicate edges,
    spread over 4 partitions, plus 3 of its nodes as roots."""
    rng = random.Random(7)
    rows = [(rng.randrange(30), rng.randrange(30), rng.randrange(5)) for _ in range(80)]
    edges = spark.createDataFrame(
        rows + rows[:8], "parent_id long, child_id long, idx int"
    ).repartition(4)
    roots = spark.createDataFrame([(0,), (11,), (23,)], "node_id long")
    return edges, roots


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_bfs_depth_under_retries(spark, graph):
    edges, roots = graph
    clean, retried = _under_retries(
        spark, lambda e: _rows(C.bfs_depth(e, roots, max_depth=10)), edges
    )
    assert clean and clean == retried


@pytest.mark.parametrize("with_path", [False, True])
def test_subtree_closure_walk_under_retries(spark, graph, with_path):
    edges, roots = graph

    def run(e):
        return _rows(subtree_closure(e, roots, max_depth=10, with_path=with_path))

    clean, retried = _under_retries(spark, run, edges)
    assert clean and clean == retried


def test_k_core_delta_under_retries(spark, graph):
    edges, _ = graph
    clean, retried = _under_retries(
        spark, lambda e: _rows(C.k_core_delta(e, k=2)), edges
    )
    assert clean and clean == retried


def test_contracted_components_finisher_under_retries(spark, graph):
    edges, _ = graph
    pairs = edges.select("parent_id", "child_id")
    want = py_components(map(tuple, pairs.collect()))
    clean, retried = _under_retries(spark, components_by_layout, pairs)
    assert clean == retried
    assert retried["repartition(12), one level"] == want
    # the layout above retries the contraction pass; feeding the stars
    # through the injector puts a retry inside the finisher's first
    # probed round
    stars = C.contraction_pass(
        pairs.select(pairs.parent_id.alias("src"), pairs.child_id.alias("dst"))
    )
    clean, retried = _under_retries(
        spark, lambda s: _rows(C._propagate_labels(s)), stars
    )
    assert clean == retried == want
