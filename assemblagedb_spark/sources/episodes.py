"""Export / import / broadcast replication.

Reference semantics (``assemblage_db/src/index.rs:456-655``, ``broadcast.rs``):

- ``export_since(id, ts)``: serialize the subtree closure (nodes + parents
  restricted to the exported id-set), keeping only nodes modified after ts;
  synthesize a root wrapper (nil-UUID page) if the set has no root.
- ``import(payload, namespace)``: XOR every id (and child/parent refs) with
  the namespace UUID — collision-proofing for repeated imports — then append
  and re-index.
- broadcasts: append-only *episodes* per broadcast; publish = full export
  first, ``export_since(last_pushed)`` after; subscribe/fetch = pull episodes
  newer than the local watermark and import under a per-subscription random
  namespace.

Spark mapping: an episode is a parquet directory partition
(``<dir>/<broadcast_id>/episode=<ts>/``) with ``nodes`` and ``parents``
datasets; the manifest is a JSON file. Subscribers can pull in batch (here)
or attach a Structured Streaming file source over the episode directory
(streaming/broadcast.py) for continuous replication.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from assemblagedb_spark.db import NODE_SLOT, PARENTS_SLOT, ROOT_ID, AssemblageDb
from assemblagedb_spark.functions.core import xor_uuid_hex


def _xor_id(id: str, namespace: str) -> str:
    if namespace == ROOT_ID:
        return id  # nil namespace: identity (tests/import_export.rs)
    h = xor_uuid_hex(id, namespace)
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def export_since(db: AssemblageDb, id: str, since_ts: int = 0) -> tuple[dict, set[str]]:
    """Subtree closure of ``id`` → episode payload (index.rs:456-531).

    Returns (payload, exported_ids). Parents are filtered to the exported
    set; a synthetic nil-UUID root page wraps the exported root if absent.
    """
    t = db.store.current()
    nodes: dict[str, dict] = {}
    stack = [id]
    while stack:
        nid = stack.pop()
        if nid in nodes:
            continue
        d = t.get(NODE_SLOT, nid)
        if d is None:
            raise KeyError(f"export: no node {nid}")
        versions = t.versions(NODE_SLOT, nid)
        last_ts = versions[-1].ts if versions else 0
        stack.extend(d["children"])
        nodes[nid] = {"node": d, "parents": t.get(PARENTS_SLOT, nid) or [], "ts": last_ts}
    ids = set(nodes)
    payload_nodes: dict[str, dict] = {}
    for nid, entry in nodes.items():
        if entry["ts"] > since_ts:
            payload_nodes[nid] = {
                "node": entry["node"],
                "parents": [p for p in entry["parents"] if p[0] in ids],
            }
    if ROOT_ID not in ids:
        # synthesize a root wrapper pointing at the exported top node
        payload_nodes.setdefault(id, {"node": nodes[id]["node"], "parents": []})
        payload_nodes[id]["parents"] = [[ROOT_ID, 0]]
        payload_nodes[ROOT_ID] = {
            "node": {
                "kind": "list",
                "text": None,
                "layout": "page",
                "style_kind": None,
                "styles": [],
                "children": [id],
            },
            "parents": [],
        }
    return {"nodes": payload_nodes}, ids


def import_payload(db: AssemblageDb, payload: dict, namespace: str) -> None:
    """Append a payload under an XOR namespace (index.rs:551-629)."""
    t = db.store.transaction()
    for nid, entry in payload["nodes"].items():
        node = dict(entry["node"])
        node["children"] = [_xor_id(c, namespace) for c in node["children"]]
        t.insert(NODE_SLOT, _xor_id(nid, namespace), node)
        t.insert(
            PARENTS_SLOT,
            _xor_id(nid, namespace),
            [[_xor_id(p[0], namespace), p[1]] for p in entry["parents"]],
        )
    t.commit()


def namespaced_id(id: str, namespace: str) -> str:
    """Pre-import id → local id (index.rs:639-655)."""
    return _xor_id(id, namespace)


# ---------------------------------------------------------------------------
# Episode directories (parquet) + broadcast manifests
# ---------------------------------------------------------------------------

NODES_EPISODE_SCHEMA = (
    "node_id string, kind string, text string, layout string, style_kind string, "
    "styles array<string>, children array<string>"
)
PARENTS_EPISODE_SCHEMA = "node_id string, parent_id string, idx int"


def write_episode(spark, payload: dict, episode_dir: str) -> None:
    """Materialize a payload as a parquet episode (nodes + parents)."""
    node_rows, parent_rows = [], []
    for nid, entry in payload["nodes"].items():
        n = entry["node"]
        node_rows.append(
            (nid, n["kind"], n["text"], n["layout"], n["style_kind"], n["styles"], n["children"])
        )
        for pid, idx in entry["parents"]:
            parent_rows.append((nid, pid, idx))
    spark.createDataFrame(node_rows, NODES_EPISODE_SCHEMA).write.mode("overwrite").parquet(
        f"{episode_dir}/nodes"
    )
    spark.createDataFrame(parent_rows or [("", "", 0)], PARENTS_EPISODE_SCHEMA).filter(
        "node_id <> ''"
    ).write.mode("overwrite").parquet(f"{episode_dir}/parents")


def read_episode(spark, episode_dir: str) -> dict:
    nodes = spark.read.parquet(f"{episode_dir}/nodes").collect()
    parents = spark.read.parquet(f"{episode_dir}/parents").collect()
    by_id: dict[str, dict] = {}
    for r in nodes:
        by_id[r["node_id"]] = {
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
    for r in parents:
        by_id[r["node_id"]]["parents"].append([r["parent_id"], r["idx"]])
    return {"nodes": by_id}


class BroadcastHub:
    """Filesystem-backed broadcast service: episodes + manifest per
    broadcast id (the Spark-era replacement of the REST service,
    assemblage_broadcast/src/lib.rs — shared storage between jobs).

    Auth/expiry semantics mirror the reference service:

    - creation mints a random bearer token (lib.rs:123 ``post_broadcast``);
      every subsequent write to the broadcast must present it
      (lib.rs:139-181 ``put_episode`` → 401 otherwise). Reads are
      unauthenticated, as in the reference.
    - expiration is fixed at creation time (+24h, lib.rs:110) and NOT
      extended by later episode writes — the reference stores episodes with
      the broadcast's original expiration. Expired broadcasts behave as
      deleted (Workers KV TTL): reads and writes see "not found".
    """

    EXPIRY_MS = 24 * 3600 * 1000  # lib.rs:110

    def __init__(self, spark, base_dir: str) -> None:
        self.spark = spark
        self.base_dir = base_dir

    def _now_ms(self) -> int:
        return int(time.time() * 1000)

    def _manifest_path(self, broadcast_id: str) -> str:
        return os.path.join(self.base_dir, broadcast_id, "manifest.json")

    def _read_manifest(
        self, broadcast_id: str, now: int | None = None
    ) -> dict | None:
        """Manifest, or None if absent/expired — an expired entry is
        indistinguishable from a deleted one, like the KV TTL."""
        p = self._manifest_path(broadcast_id)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        if m.get("expiration", 0) <= (now if now is not None else self._now_ms()):
            return None
        return m

    def _write_manifest(self, broadcast_id: str, manifest: dict) -> None:
        os.makedirs(os.path.dirname(self._manifest_path(broadcast_id)), exist_ok=True)
        with open(self._manifest_path(broadcast_id), "w") as f:
            json.dump(manifest, f)

    # -- publisher side (index.rs:31-43, broadcast.rs:28-54) ---------------
    def publish(
        self,
        db: AssemblageDb,
        broadcast_id: str,
        root_id: str,
        token: str | None = None,
    ) -> dict:
        """Full export on first publish, incremental afterwards.

        First publish (or publish after expiry) mints a bearer token
        (lib.rs:123) and remembers it on the publishing db — the reference
        client likewise stores its broadcasts' tokens in its index. A
        re-publish must present that token, either explicitly or implicitly
        via the same db handle; anything else raises PermissionError (the
        401 path, lib.rs:174). Expiration is fixed at creation and never
        extended by re-publishes (lib.rs:110).
        """
        tokens = db.__dict__.setdefault("_broadcast_tokens", {})
        manifest = self._read_manifest(broadcast_id)
        now = db.last_updated() or self._now_ms()
        if manifest is None:
            minted = str(uuid.uuid4())
            tokens[broadcast_id] = minted
            since, expiration, tok = 0, now + self.EXPIRY_MS, minted
        else:
            presented = token or tokens.get(broadcast_id)
            if presented != manifest["token"]:
                raise PermissionError(
                    f"publish to {broadcast_id}: missing or wrong bearer token"
                )
            since, expiration, tok = (
                manifest["last_updated"],
                manifest["expiration"],
                manifest["token"],
            )
        payload, ids = export_since(db, root_id, since)
        if payload["nodes"]:
            episode_dir = os.path.join(self.base_dir, broadcast_id, f"episode={now}")
            write_episode(self.spark, payload, episode_dir)
        manifest = {
            "broadcast_id": broadcast_id,
            "root_id": root_id,
            "exported": sorted(ids),
            "last_updated": now,
            "expiration": expiration,
            "token": tok,
        }
        self._write_manifest(broadcast_id, manifest)
        return manifest

    def episodes(self, broadcast_id: str, newer_than: int = -1) -> list[tuple[int, str]]:
        bdir = os.path.join(self.base_dir, broadcast_id)
        if not os.path.isdir(bdir):
            return []
        out = []
        for name in sorted(os.listdir(bdir)):
            if name.startswith("episode="):
                ts = int(name.split("=", 1)[1])
                if ts > newer_than:
                    out.append((ts, os.path.join(bdir, name)))
        return out

    # -- subscriber side (index.rs:47-84, broadcast.rs:56-68) --------------
    def subscribe(self, db: AssemblageDb, broadcast_id: str, namespace: str | None = None) -> str:
        """Create a subscription (random namespace unless given) and fetch."""
        ns = namespace or str(uuid.uuid4())
        sub = {"broadcast_id": broadcast_id, "namespace": ns, "last_updated": -1}
        db._subscriptions = getattr(db, "_subscriptions", {})
        db._subscriptions[broadcast_id] = sub
        self.fetch(db, broadcast_id)
        return ns

    def fetch(self, db: AssemblageDb, broadcast_id: str) -> int:
        """Pull all episodes newer than the local watermark; returns the
        number of episodes imported.

        An expired broadcast reads as deleted (KeyError — the 404 path).
        A torn episode (publisher died mid-write: missing parquet _SUCCESS
        marker or unreadable files) stops the pull WITHOUT advancing the
        watermark past it — the valid prefix is imported, the torn tail is
        retried on the next fetch once the publisher has re-pushed. Same
        recovery contract as the reference's corrupt-log-tail truncation
        (assemblage_kv/src/lib.rs:617-629): keep everything before the
        tear, never half-apply the tear itself.
        """
        sub = getattr(db, "_subscriptions", {}).get(broadcast_id)
        if sub is None:
            raise KeyError(f"not subscribed to {broadcast_id}")
        if self._read_manifest(broadcast_id) is None:
            raise KeyError(f"broadcast {broadcast_id} not found or expired")
        imported = 0
        for ts, episode_dir in self.episodes(broadcast_id, sub["last_updated"]):
            for part in ("nodes", "parents"):
                if not os.path.exists(os.path.join(episode_dir, part, "_SUCCESS")):
                    return imported  # torn write: stop before the tear
            try:
                payload = read_episode(self.spark, episode_dir)
            except Exception:
                return imported  # unreadable tail: same contract
            import_payload(db, payload, sub["namespace"])
            sub["last_updated"] = ts
            imported += 1
        return imported

    def list_broadcasts(self, exported_id: str) -> list[dict]:
        """Non-expired broadcasts whose exported set contains the id
        (index.rs:88-112)."""
        now = self._now_ms()
        out = []
        if not os.path.isdir(self.base_dir):
            return out
        for bid in os.listdir(self.base_dir):
            m = self._read_manifest(bid, now=now)
            if m and exported_id in m["exported"]:
                # reads are unauthenticated; never hand out the write token
                out.append({k: v for k, v in m.items() if k != "token"})
        return out

    def update_broadcasts(self, db: AssemblageDb, changed_ids: set[str]) -> list[str]:
        """Re-publish the db's own broadcasts whose exported set intersects
        the changed descendants (index.rs:116-171). Only broadcasts this db
        holds the bearer token for are considered — the reference client
        likewise iterates its own broadcasts list."""
        updated = []
        if not os.path.isdir(self.base_dir):
            return updated
        tokens = getattr(db, "_broadcast_tokens", {})
        for bid in os.listdir(self.base_dir):
            if bid not in tokens:
                continue
            m = self._read_manifest(bid)
            if m and set(m["exported"]) & changed_ids:
                self.publish(db, bid, m["root_id"])
                updated.append(bid)
        return updated
