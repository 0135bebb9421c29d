"""Export/import + broadcast parity (import_export.rs — fixture F7,
broadcast.rs) and the Structured Streaming subscription."""

from __future__ import annotations

import uuid

from assemblagedb_spark.db import ROOT_ID, AssemblageDb
from assemblagedb_spark.model import CHAIN, PAGE, Child, Node
from assemblagedb_spark.sources.episodes import (
    BroadcastHub,
    export_since,
    import_payload,
    namespaced_id,
    read_episode,
    write_episode,
)


def build_exportable(db):
    nested = db.add(Node.text_node("nested"))
    chain = db.add(
        Node.list(CHAIN, [Node.text_node("a"), Node.text_node("b"), Child.lazy(nested)])
    )
    page = db.add(Node.list(PAGE, [Child.lazy(chain), Node.text_node("second")]))
    return page, chain, nested


def test_export_subtree_closure():
    # import_export.rs:16-94: exported set excludes unrelated nodes and
    # external parents; root wrapper synthesized
    db = AssemblageDb()
    page, chain, nested = build_exportable(db)
    unrelated = db.add(Node.text_node("unrelated"))
    external_parent = db.add(Node.list(PAGE, [Child.lazy(page)]))

    payload, ids = export_since(db, page)
    assert page in ids and chain in ids and nested in ids
    assert unrelated not in ids and external_parent not in ids
    # synthesized root wraps the exported top node
    assert ROOT_ID in payload["nodes"]
    assert payload["nodes"][ROOT_ID]["node"]["children"] == [page]
    # external parents are filtered out of the payload
    assert payload["nodes"][page]["parents"] == [[ROOT_ID, 0]]


def test_import_nil_namespace_preserves_ids():
    db = AssemblageDb()
    page, chain, nested = build_exportable(db)
    payload, _ = export_since(db, page)

    db2 = AssemblageDb()
    import_payload(db2, payload, ROOT_ID)
    assert db2.get(page) is not None
    assert db2.get(nested).text == "nested"
    assert (chain, 0) in db2.parents(db2.get(chain).children[0].id)


def test_import_random_namespace_xors_ids():
    db = AssemblageDb()
    page, chain, nested = build_exportable(db)
    payload, _ = export_since(db, page)

    ns = str(uuid.uuid4())
    db2 = AssemblageDb()
    import_payload(db2, payload, ns)
    assert db2.get(page) is None  # original id not present
    mapped = namespaced_id(nested, ns)
    assert db2.get(mapped).text == "nested"
    # double-xor returns the original
    assert namespaced_id(mapped, ns) == nested


def test_export_since_incremental():
    db = AssemblageDb()
    page, chain, nested = build_exportable(db)
    ts_after_build = db.last_updated()
    payload, _ = export_since(db, page, ts_after_build)
    # nothing modified since -> only the synthesized root + top node wrapper
    non_root = {k for k in payload["nodes"] if k not in (ROOT_ID, page)}
    assert non_root == set()

    db.push(page, Node.text_node("new block"))
    payload, _ = export_since(db, page, ts_after_build)
    texts = {
        e["node"]["text"] for e in payload["nodes"].values() if e["node"]["kind"] == "text"
    }
    assert "new block" in texts
    assert "nested" not in texts  # unchanged subtree not re-exported


def test_episode_parquet_roundtrip(spark, tmp_path):
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    payload, _ = export_since(db, page)
    episode_dir = str(tmp_path / "ep1")
    write_episode(spark, payload, episode_dir)
    back = read_episode(spark, episode_dir)
    assert set(back["nodes"]) == set(payload["nodes"])
    for nid, entry in payload["nodes"].items():
        assert back["nodes"][nid]["node"] == entry["node"]
        assert sorted(back["nodes"][nid]["parents"]) == sorted(entry["parents"])


def test_broadcast_publish_subscribe_update(spark, tmp_path):
    # broadcast.rs publish/subscribe/update cycle over shared storage
    hub = BroadcastHub(spark, str(tmp_path / "broadcasts"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)

    manifest = hub.publish(db, "b1", page)
    assert page in manifest["exported"]

    db2 = AssemblageDb(spark)
    ns = hub.subscribe(db2, "b1", namespace=ROOT_ID)  # nil ns for readability
    assert ns == ROOT_ID
    assert db2.get(nested).text == "nested"

    # publisher edits -> update_broadcasts republished episode -> fetch pulls it
    db.push(page, Node.text_node("update!"))
    updated = hub.update_broadcasts(db, {page})
    assert updated == ["b1"]
    assert hub.fetch(db2, "b1") == 1
    texts = {db2.get(c.id).text for c in db2.get(page).children if db2.get(c.id).is_text()}
    assert "update!" in texts

    # overlap discovery across DBs: broadcast listing by exported id
    assert [m["broadcast_id"] for m in hub.list_broadcasts(nested)] == ["b1"]


def test_streaming_subscription(spark, tmp_path):
    from assemblagedb_spark.streaming.broadcast import subscribe_stream

    hub = BroadcastHub(spark, str(tmp_path / "bc"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    hub.publish(db, "b1", page)

    db2 = AssemblageDb(spark)
    q = subscribe_stream(
        spark,
        str(tmp_path / "bc"),
        "b1",
        db2,
        namespace=ROOT_ID,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert db2.get(nested).text == "nested"

    # a new episode is picked up exactly-once by the next availableNow run
    db.push(page, Node.text_node("streamed update"))
    hub.publish(db, "b1", page)
    q2 = subscribe_stream(
        spark,
        str(tmp_path / "bc"),
        "b1",
        db2,
        namespace=ROOT_ID,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    texts = {db2.get(c.id).text for c in db2.get(page).children if db2.get(c.id).is_text()}
    assert "streamed update" in texts


def test_streaming_subscription_oversized_batch_raises(spark, tmp_path):
    # the foreachBatch import collects into the driver-side OLTP store;
    # a batch above max_rows_per_batch must fail loudly (same guard
    # pattern as AssemblageDb.from_tables), not OOM the driver
    import pyspark.errors

    import pytest

    from assemblagedb_spark.streaming.broadcast import subscribe_stream

    hub = BroadcastHub(spark, str(tmp_path / "bc"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    hub.publish(db, "b1", page)

    db2 = AssemblageDb(spark)
    q = subscribe_stream(
        spark,
        str(tmp_path / "bc"),
        "b1",
        db2,
        namespace=ROOT_ID,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        max_rows_per_batch=1,
    )
    with pytest.raises(
        pyspark.errors.exceptions.base.PySparkException,
        match="exceeds the driver-side limit",
    ):
        q.awaitTermination(120)


def test_broadcast_token_auth(spark, tmp_path):
    # lib.rs:139-181: writes need the bearer token; reads don't. A foreign
    # db (no stored token) is rejected; presenting the minted token works.
    hub = BroadcastHub(spark, str(tmp_path / "bc"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    manifest = hub.publish(db, "b1", page)
    token = manifest["token"]

    other = AssemblageDb(spark)
    opage, _, _ = build_exportable(other)
    import pytest

    with pytest.raises(PermissionError):
        hub.publish(other, "b1", opage)
    # explicit token authorizes the foreign publisher (401 -> 201)
    hub.publish(other, "b1", opage, token=token)

    # same-db re-publish implicitly reuses its stored token
    db.push(page, Node.text_node("more"))
    hub.publish(db, "b1", page)

    # unauthenticated read path never exposes the token
    listed = hub.list_broadcasts(page)
    assert listed and all("token" not in m for m in listed)


def test_broadcast_expiry(spark, tmp_path, monkeypatch):
    # lib.rs:110: expiration fixed at creation (+expiry); expired broadcasts
    # read as deleted (KV TTL), and re-publish after expiry mints a fresh
    # broadcast lifetime + token
    monkeypatch.setattr(BroadcastHub, "EXPIRY_MS", 1)
    hub = BroadcastHub(spark, str(tmp_path / "bc"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    m1 = hub.publish(db, "b1", page)

    import time as _time

    _time.sleep(0.01)  # outlive the 1 ms expiry
    assert hub.list_broadcasts(nested) == []

    db2 = AssemblageDb(spark)
    db2._subscriptions = {"b1": {"broadcast_id": "b1", "namespace": ROOT_ID, "last_updated": -1}}
    import pytest

    with pytest.raises(KeyError):
        hub.fetch(db2, "b1")

    # expired entry is gone -> publish recreates with a fresh token/lifetime
    monkeypatch.setattr(BroadcastHub, "EXPIRY_MS", 24 * 3600 * 1000)
    m2 = hub.publish(db, "b1", page)
    assert m2["token"] != m1["token"]
    assert m2["expiration"] > m1["expiration"]
    assert hub.list_broadcasts(nested) != []


def test_broadcast_torn_episode_recovery(spark, tmp_path):
    # assemblage_kv/tests/transactions.rs:113-249 contract, episode-shaped:
    # a torn tail write is never half-applied; the valid prefix imports,
    # the watermark stays before the tear, and a repaired re-push is picked
    # up by the next fetch.
    import os
    import shutil

    hub = BroadcastHub(spark, str(tmp_path / "bc"))
    db = AssemblageDb(spark)
    page, chain, nested = build_exportable(db)
    hub.publish(db, "b1", page)

    db2 = AssemblageDb(spark)
    hub.subscribe(db2, "b1", namespace=ROOT_ID)
    assert db2.get(nested).text == "nested"

    # publisher pushes an update, but the write is torn: _SUCCESS missing
    db.push(page, Node.text_node("torn update"))
    hub.publish(db, "b1", page)
    eps = hub.episodes("b1")
    torn_ts, torn_dir = eps[-1]
    os.remove(os.path.join(torn_dir, "nodes", "_SUCCESS"))

    sub = db2._subscriptions["b1"]
    watermark = sub["last_updated"]
    assert hub.fetch(db2, "b1") == 0  # nothing imported...
    assert sub["last_updated"] == watermark  # ...and watermark unmoved
    texts = {db2.get(c.id).text for c in db2.get(page).children if db2.get(c.id).is_text()}
    assert "torn update" not in texts

    # publisher repairs (re-pushes the same episode completely)
    shutil.rmtree(torn_dir)
    payload, _ = export_since(db, page, watermark)
    write_episode(spark, payload, torn_dir)
    assert hub.fetch(db2, "b1") == 1
    texts = {db2.get(c.id).text for c in db2.get(page).children if db2.get(c.id).is_text()}
    assert "torn update" in texts
