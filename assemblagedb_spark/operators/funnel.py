"""Event-sequence analytics: ordered funnels and cohort retention.

Both are aggregate-then-join shapes: each stage/cohort is ONE map-side-
partial groupBy on user_id, and the joins are user-keyed equi-joins that
AQE broadcasts when a stage's survivors shrink enough — no window over the
whole event stream, no per-user collect_list materialization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

DAY_NS = 86_400_000_000_000  # cohort_retention's day bucket


def funnel_stages(events: DataFrame, stages: Sequence[str]) -> DataFrame:
    """Ordered funnel: per user, the earliest time each stage was reached
    AFTER the previous stage (strict event-time order).

    Output: (user_id, t_1..t_k as epoch-ns BIGINT, nullable once a stage
    is missed, funnel_stage = number of stages completed). Only users who
    reached stage 1 appear.

    Plan: stage i is one filtered conditional aggregate joined to the
    stage-(i-1) survivors on user_id — k tiny aggregates over one cached
    scan; the event table itself is never windowed or re-sorted.
    """
    # one scan feeds every stage aggregate; localCheckpoint (not persist)
    # so the pinned blocks are GC-reclaimed once the result is dropped
    # rather than accumulating in the CacheManager across calls
    ev = events.select(
        "user_id",
        F.col("event_type").alias("etype"),
        F.col("ts").cast("long").alias("ts"),
    ).localCheckpoint(eager=True)

    cur = (
        ev.filter(F.col("etype") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_1"))
    )
    for i, stage in enumerate(stages[1:], start=2):
        nxt = (
            ev.filter(F.col("etype") == stage)
            .join(cur.select("user_id", F.col(f"t_{i - 1}").alias("__prev")), "user_id")
            .filter(F.col("ts") > F.col("__prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t_{i}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    stage_num = F.lit(0)
    for i in range(1, len(stages) + 1):
        stage_num = stage_num + F.col(f"t_{i}").isNotNull().cast("int")
    return cur.withColumn("funnel_stage", stage_num.cast("long"))


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-active day
    (cohort), counted per day-offset they return.

    Output: (cohort_day, day_offset, n_users) with day = floor(ts /
    DAY_NS) and offset ≥ 0. Two groupBys (first-seen per user; distinct
    user-day activity) + one user-keyed join.
    """
    days = events.select(
        "user_id",
        F.expr(f"CAST(ts AS BIGINT) div {DAY_NS}").alias("day"),
    )
    active = days.distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(first, "user_id")
        .select(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
