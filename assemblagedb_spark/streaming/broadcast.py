"""Structured Streaming subscription over broadcast episode directories.

The reference's pub/sub replication (``assemblage_db/src/broadcast.rs:56-68``)
is an incremental pull with a per-subscription watermark — exactly the
semantics of a Structured Streaming *file source* with checkpointing: each
episode parquet file is discovered once, processed exactly-once, and the
checkpoint directory is the durable watermark.

Two surfaces:

- ``episode_stream``: a streaming DataFrame over a broadcast's node
  episodes (transform/aggregate it like any stream).
- ``subscribe_stream``: foreachBatch importer that applies each discovered
  episode to a local :class:`AssemblageDb` under the subscription's XOR
  namespace — continuous replication of a remote broadcast.

Tests drive these with ``trigger(availableNow=True)`` which drains all
pending episodes then stops — the batch ``fetch`` equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from assemblagedb_spark.db import AssemblageDb
from assemblagedb_spark.sources.episodes import (
    NODES_EPISODE_SCHEMA,
    import_payload,
)


def episode_stream(
    spark: SparkSession,
    base_dir: str,
    broadcast_id: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of node rows across a broadcast's episodes.

    ``max_files_per_trigger`` throttles discovery to N episode files per
    micro-batch — the gate uses 1 so each episode replays as its own
    batch, the per-subscription watermark semantics of the reference's
    incremental ``fetch`` (broadcast.rs:56-68)."""
    reader = spark.readStream.schema(NODES_EPISODE_SCHEMA).option(
        "pathGlobFilter", "*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(f"{base_dir}/{broadcast_id}/episode=*/nodes")


def subscribe_stream(
    spark: SparkSession,
    base_dir: str,
    broadcast_id: str,
    db: AssemblageDb,
    namespace: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_rows_per_batch: int = 5_000_000,
):
    """Continuously import new episodes into ``db`` under ``namespace``.

    Returns the StreamingQuery; exactly-once per episode file via the
    checkpoint. Parents are re-derived from the imported children arrays
    (the nodes dataset is self-contained for replication purposes).

    Each batch is collected into the driver-side OLTP import — correct
    for the reference's episode-sized broadcasts (a tile's worth of
    nodes), so the collect is guarded the same way as
    ``AssemblageDb.from_tables``: a batch over ``max_rows_per_batch``
    version rows raises with an actionable message instead of silently
    OOMing the driver.
    """

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # single-pass guard: pull at most cap+1 rows — the same
        # driver-memory bound as a count()-then-collect() check without
        # reading the batch's episode files twice
        rows = batch_df.limit(max_rows_per_batch + 1).collect()
        if len(rows) > max_rows_per_batch:
            raise ValueError(
                f"subscribe_stream: episode batch exceeds the driver-side "
                f"limit of {max_rows_per_batch} node rows; broadcast "
                "episodes are tile-sized by design — split the episode, or "
                "raise max_rows_per_batch explicitly if the driver has the "
                "memory"
            )
        if not rows:
            return
        payload = {
            "nodes": {
                r["node_id"]: {
                    "node": {
                        "kind": r["kind"],
                        "text": r["text"],
                        "layout": r["layout"],
                        "style_kind": r["style_kind"],
                        "styles": list(r["styles"] or []),
                        "children": list(r["children"] or []),
                    },
                    "parents": [],
                }
                for r in rows
            }
        }
        # parents reconstructed from containment (children arrays)
        for nid, entry in payload["nodes"].items():
            for idx, cid in enumerate(entry["node"]["children"]):
                if cid in payload["nodes"]:
                    payload["nodes"][cid]["parents"].append([nid, idx])
        import_payload(db, payload, namespace)

    writer = (
        episode_stream(spark, base_dir, broadcast_id)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
