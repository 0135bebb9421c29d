"""Bucketed layout: the co-located join must be exchange-free.

The 100 TB argument in executable form — two tables bucketed on the join
key, sorted within buckets, joined with broadcast disabled: the plan must
contain zero Exchange nodes (and no Sort for the sorted case)."""

from __future__ import annotations

import pytest

from assemblagedb_spark.plans.explain import count_exchanges, formatted_plan
from assemblagedb_spark.sources.layout import drop_table, write_bucketed


@pytest.fixture
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_no_exchange(spark, tmp_path, no_broadcast):
    edges = spark.createDataFrame(
        [(f"p{i % 7}", f"c{i}", i) for i in range(100)],
        "parent_id string, child_id string, idx int",
    )
    try:
        write_bucketed(
            edges, "t_edges_a", str(tmp_path / "ea"),
            buckets=4, key_cols=["parent_id"], sort_cols=["parent_id"],
        )
        write_bucketed(
            edges, "t_edges_b", str(tmp_path / "eb"),
            buckets=4, key_cols=["parent_id"], sort_cols=["parent_id"],
        )
        a = spark.table("t_edges_a")
        b = (
            spark.table("t_edges_b")
            .select("parent_id", "child_id")
            .withColumnRenamed("child_id", "other_child")
        )
        joined = a.join(b, "parent_id")
        plan = formatted_plan(joined)
        assert count_exchanges(joined) == 0, plan
        assert joined.count() == 2 * 15 * 15 + 5 * 14 * 14
    finally:
        drop_table(spark, "t_edges_a")
        drop_table(spark, "t_edges_b")


def test_bucketed_postings_agg_and_self_join_shuffle_free(spark, tmp_path):
    # grams.py/search.py: "grams table is written partitioned/bucketed by
    # gram" — the per-gram aggregate and the postings self-join (the
    # overlaps candidate machinery) on REAL gram data must then need no
    # exchange: the one shuffle of the dedup pipeline is paid at write time
    from pyspark.sql import functions as F

    from assemblagedb_spark import harness as h
    from tests.conftest import SF_DIR

    g = h._doc_gram_index(spark, SF_DIR).filter(F.col("node_id") % 5 == 0)
    try:
        write_bucketed(
            g, "t_grams_by_gram", str(tmp_path / "gg"),
            buckets=8, key_cols=["gram"], sort_cols=["gram"],
        )
        t = spark.table("t_grams_by_gram")
        agg = t.groupBy("gram").agg(F.sum("occurrences").alias("df"))
        assert count_exchanges(agg) == 0
        assert agg.count() > 0

        join = t.alias("a").hint("merge").join(t.alias("b"), "gram").filter(
            F.col("a.node_id") < F.col("b.node_id")
        )
        plan = formatted_plan(join)
        assert count_exchanges(join) == 0
        assert "SortMergeJoin" in plan
        # co-located result equals the shuffled one
        shuffled = (
            g.alias("a").hint("shuffle_hash").join(g.alias("b"), "gram")
            .filter(F.col("a.node_id") < F.col("b.node_id"))
        )
        assert join.count() == shuffled.count()
    finally:
        drop_table(spark, "t_grams_by_gram")


def test_bucketed_kv_latest_version_window_shuffle_free(spark, tmp_path):
    # mvcc.py: "with the table bucketed by key the sort is cheap" — over
    # bucketBy(key) the latest-version rank window needs no exchange (its
    # sort stays partition-local over pre-grouped buckets)
    from pyspark.sql import Window, functions as F

    from assemblagedb_spark import harness as h
    from tests.conftest import SF_DIR

    kv = h.load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("version"),
        F.col("o_totalprice").alias("value"),
    )
    try:
        write_bucketed(
            kv, "t_kv_by_key", str(tmp_path / "kv"),
            buckets=8, key_cols=["key"], sort_cols=["key", "version"],
        )
        t = spark.table("t_kv_by_key")
        w = Window.partitionBy("key").orderBy(F.desc("version"))
        latest = t.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )
        assert count_exchanges(latest) == 0
        assert latest.count() == kv.select("key").distinct().count()
    finally:
        drop_table(spark, "t_kv_by_key")


def test_write_zordered_files_cover_disjoint_z_ranges(spark, tmp_path):
    # the z-ordered writer must place each output file on a compact,
    # non-overlapping Z-curve segment — that interval disjointness IS the
    # property that makes per-file min/max stats tight on both dimensions
    import glob

    from pyspark.sql import functions as F

    from assemblagedb_spark.sources.layout import write_zordered, zorder_key_col

    rows = [(x, y, x * 100 + y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    path = str(tmp_path / "z")
    write_zordered(df, path, F.col("x"), F.col("y"), bits=5, num_files=8)

    # round-trip: no row lost or duplicated
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        pf = spark.read.parquet(f).select(
            zorder_key_col(F.col("x"), F.col("y"), 5).alias("z")
        ).agg(F.min("z"), F.max("z")).collect()[0]
        ranges.append((pf[0], pf[1]))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint z segments file-to-file


def test_unbucketed_join_needs_exchanges(spark, no_broadcast):
    # control: the same join without bucketing shuffles both sides
    edges = spark.createDataFrame(
        [(f"p{i % 7}", f"c{i}", i) for i in range(100)],
        "parent_id string, child_id string, idx int",
    )
    joined = edges.join(
        edges.withColumnRenamed("child_id", "other_child"), "parent_id"
    )
    assert count_exchanges(joined) == 2
