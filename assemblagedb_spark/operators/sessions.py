"""Gap-based sessionization over an event stream.

The batch-shaped form of the Structured Streaming session-window pattern
(``F.session_window`` / ``applyInPandasWithState``): consecutive events of a
key belong to one session while the inter-event gap stays within ``gap``.

Scale design: one shuffle on the key, two window passes (lag + running sum)
over the same partitioning — Spark reuses the sort, so the whole operator is
a single exchange. State per key is O(1); no driver-side iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(events: DataFrame, *, gap: int) -> DataFrame:
    """(user_id, session_idx, n_events, start_ts, end_ts), session_idx
    1-based in ``ts`` order. ``gap`` is in the units of ``ts`` (here:
    nanoseconds).

    Session boundaries depend only on timestamp gaps, so the result is
    deterministic even with duplicate timestamps (the ``event_id``
    tiebreak fixes lag order; same-ts events always share a session).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (prev.isNull() | ((F.col("ts") - prev) > gap)).cast("long")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("__new", is_new)
        .withColumn("session_idx", F.sum("__new").over(run))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
    )
