"""Join layout control: with broadcast disabled, a self-join of an
unbucketed edge relation shuffles both sides."""

from __future__ import annotations

import pytest

from assemblagedb_spark.plans.explain import count_exchanges


@pytest.fixture
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_needs_exchanges(spark, no_broadcast):
    edges = spark.createDataFrame(
        [(f"p{i % 7}", f"c{i}", i) for i in range(100)],
        "parent_id string, child_id string, idx int",
    )
    joined = edges.join(
        edges.withColumnRenamed("child_id", "other_child"), "parent_id"
    )
    assert count_exchanges(joined) == 2
