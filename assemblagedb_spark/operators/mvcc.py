"""MVCC / versioned-read operators over append-only tables.

Reference semantics (``assemblage_kv/src/lib.rs``): writes append versions;
a read sees the latest version with ``ts <= snapshot`` (lib.rs:280-284,
585-591); tombstones are versions with ``is_removed`` (lib.rs:155-163);
``merge()`` compacts to latest-version-only (lib.rs:233-277).

Spark design: "latest version per key" is a rank-1 window. At scale the
window shuffles once on the key; with the table bucketed by key the sort is
local and no exchange is needed. Snapshot reads (``as_of``) push the
``ts <= snapshot`` predicate into the parquet scan (partition-prune on a
date-derived partition column in a real deployment).

All functions are generic over (key columns, ts column, tombstone column) so
they serve both the engine's own ``nodes``/``edges`` tables and arbitrary
user tables (the harness's ``events`` stream).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _version_window(keys: Sequence[str], ts: str, tiebreak: Sequence[str] = ()):
    order = [F.desc(ts)] + [F.desc(c) for c in tiebreak]
    return Window.partitionBy(*keys).orderBy(*order)


def latest(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Latest version per key, tombstones included (``get_unremoved`` path,
    kv lib.rs:355-363 reads this then checks the flag)."""
    w = _version_window(keys, ts, tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def current(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    removed: str = "is_removed",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Live current state: latest version per key, then drop tombstoned keys
    (``Snapshot::get``, kv lib.rs:337-344 — a key whose latest version is
    removed reads as absent)."""
    return latest(df, keys, ts, tiebreak).filter(~F.col(removed))


def as_of(
    df: DataFrame,
    snapshot_ts,
    keys: Sequence[str],
    ts: str = "ts",
    removed: str = "is_removed",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Snapshot-isolation read: only versions with ts <= snapshot are visible
    (kv lib.rs:585-591, 690-703). The filter is applied *before* the rank so
    it pushes into the scan."""
    return current(df.filter(F.col(ts) <= F.lit(snapshot_ts)), keys, ts, removed, tiebreak)


def versions(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Full ordered version history (kv lib.rs:411-431)."""
    return df.orderBy(*[F.col(k) for k in keys], F.asc(ts), *[F.asc(c) for c in tiebreak])


def live_keys(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    removed: str = "is_removed",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """All keys whose latest version is not a tombstone (kv lib.rs:449-465)."""
    return current(df, keys, ts, removed, tiebreak).select(*keys)


def last_updated(df: DataFrame, ts: str = "ts") -> DataFrame:
    """Max commit timestamp (kv lib.rs:435-443)."""
    return df.agg(F.max(ts).alias("last_updated"))


def restore_candidates(
    df: DataFrame,
    keys: Sequence[str],
    ts: str = "ts",
    removed: str = "is_removed",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Un-tombstone payloads (``restore``, assemblage_db/src/core.rs:552-594,
    index.rs:434-447): for every key whose *current* version is a tombstone,
    the latest non-removed payload — the row the restore transaction
    re-appends (with a fresh commit ts) to resurrect the key.

    Scale design: both ranks ride the same (key, ts desc) sort, so the plan
    is one shuffle + one sort, and the tombstoned-key set joins back as a
    broadcast semi-join when small (the common case: restores touch few
    keys).
    """
    w = _version_window(keys, ts, tiebreak)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    trashed = (
        ranked.filter((F.col("__rn") == 1) & F.col(removed)).select(*keys)
    )
    live = (
        df.filter(~F.col(removed))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return live.join(F.broadcast(trashed), list(keys))


def snapshot_diff(
    df: DataFrame,
    t1,
    t2,
    keys: Sequence[str],
    ts: str = "ts",
    removed: str = "is_removed",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Visible-state delta between two snapshots (the replication question
    "what changed since t1?" answered from version history alone — the
    as-of read pair the reference answers via export_since episodes,
    assemblage_db/src/broadcasts.rs, re-expressed relationally).

    Output: keys + ``change`` ('added' | 'removed' | 'updated') + the old
    and new version timestamps (NULL where absent). Keys whose visible
    version is identical at both snapshots are excluded. Both sides are
    one rank-per-key pass; the comparison is a single full-outer key join.
    """
    a = as_of(df, t1, keys, ts, removed, tiebreak).select(
        *keys, F.col(ts).alias("__ts_a"),
        *[F.col(c).alias(f"__tb_a_{c}") for c in tiebreak],
    )
    b = as_of(df, t2, keys, ts, removed, tiebreak).select(
        *keys, F.col(ts).alias("__ts_b"),
        *[F.col(c).alias(f"__tb_b_{c}") for c in tiebreak],
    )
    joined = a.join(b, list(keys), "full_outer")
    same = F.col("__ts_a") == F.col("__ts_b")
    for c in tiebreak:
        same = same & (F.col(f"__tb_a_{c}") == F.col(f"__tb_b_{c}"))
    change = (
        F.when(F.col("__ts_a").isNull(), F.lit("added"))
        .when(F.col("__ts_b").isNull(), F.lit("removed"))
        .when(same, F.lit(None))
        .otherwise(F.lit("updated"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *keys, "change",
            F.col("__ts_a").cast("long").alias("old_ts"),
            F.col("__ts_b").cast("long").alias("new_ts"),
        )
    )
