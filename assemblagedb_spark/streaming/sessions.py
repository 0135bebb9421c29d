"""Stateful streaming sessionization (``applyInPandasWithState``).

The streaming form of :func:`assemblagedb_spark.operators.sessions.sessionize`:
events grouped by key; a session stays open while the inter-event gap is
within ``gap``; closed sessions are emitted, the open one is carried in
per-key state across micro-batches (and emitted when the state times out
after the gap passes in processing time).

Scale design: state per key is O(1) — five scalars, no event buffering —
so a billion keys cost exactly the state-store footprint of a billion
rows. Input inside one batch is sorted per key in the worker (events of a
key land in one group), so the operator is insensitive to intra-batch
arrival order; cross-batch reordering is bounded by the watermark the
caller sets upstream.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("start_ts", LongType()),
        StructField("end_ts", LongType()),
    ]
)

# (next_session_idx, open_start, open_end, open_count)
STATE_SCHEMA = StructType(
    [
        StructField("session_idx", LongType()),
        StructField("start_ts", LongType()),
        StructField("end_ts", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _session_fn(gap: int):
    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[Any, ...]] = []
        if state.exists:
            idx, start, end, cnt = state.get
        else:
            idx, start, end, cnt = 0, None, None, 0
        ts_all = sorted(
            int(t) for pdf in pdfs for t in pdf["ts"].to_numpy()
        )
        for t in ts_all:
            if start is None:
                idx, start, end, cnt = idx + 1, t, t, 1
            elif t - end > gap:
                closed.append((user_id, idx, cnt, start, end))
                idx, start, end, cnt = idx + 1, t, t, 1
            else:
                end, cnt = t, cnt + 1
        if start is not None:
            state.update((idx, start, end, cnt))
        yield pd.DataFrame(closed, columns=[f.name for f in OUTPUT_SCHEMA])

    return fn


def sessionize_stream(events: DataFrame, *, gap: int) -> DataFrame:
    """events(user_id, event_id, ts[ns]) stream -> closed sessions stream.

    Emits (user_id, session_idx, n_events, start_ts, end_ts) in append mode;
    the open session per key lives in the state store until a later event
    closes it (deterministic drains close open sessions downstream).
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
