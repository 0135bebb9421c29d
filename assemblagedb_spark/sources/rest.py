"""REST broadcast service + HTTP replication client (stdlib-only).

A faithful port of the reference's broadcast Worker
(``assemblage_broadcast/src/lib.rs:31-74`` route table) on
``http.server.ThreadingHTTPServer``, so the full REST hop — the one §2.6
component the filesystem :class:`~assemblagedb_spark.sources.episodes.
BroadcastHub` substitutes away — can run and be tested in-process:

- ``POST /broadcast[?episode=ID]`` → mint broadcast_id + bearer token,
  expiration = now + 24h (lib.rs:110), optionally store a first episode;
  201 with ``{broadcast_id, token, expiration}`` (lib.rs:103-136).
- ``GET /broadcast/{id}`` → episode-id list (no auth; lib.rs:76-89).
- ``GET /broadcast/{id}/{ep}`` → episode bytes (lib.rs:91-101).
- ``PUT /broadcast/{id}/{ep}`` → requires ``Authorization: Bearer <token>``
  (lib.rs:139-181): 401 on bad/missing token, 201 new episode, 200 rewrite.
- ``DELETE /broadcast/{id}`` → clear episode list, token-gated
  (lib.rs:193-221).
- Expiry semantics = Workers KV TTL: the broadcast record vanishes at
  ``expiration``; episode blobs outlive it by the 12 h keep-alive
  (lib.rs:188 ``seconds_keep_alive``).

The storage model mirrors Workers KV — an in-memory ``{key: (bytes,
expiration)}`` map guarded by a lock. The service is a *coordination*
plane exactly as in the reference: episode bodies are opaque bytes; the
engine's data plane (Spark/parquet) never routes through it except for
the small export payloads.

``publish_http`` / ``subscribe_http`` / ``fetch_http`` are the client half
(reference ``assemblage_db/src/broadcast.rs:28-68``), moving JSON-encoded
export payloads over urllib and importing under an XOR namespace.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from assemblagedb_spark.db import AssemblageDb
from assemblagedb_spark.sources.episodes import export_since, import_payload

_KEEP_ALIVE_S = 60 * 60 * 12  # episode blobs outlive the broadcast record
_EXPIRY_S = 60 * 60 * 24


class _Kv:
    """Workers-KV-shaped store: values disappear once their TTL passes."""

    def __init__(self) -> None:
        self._d: dict[str, tuple[bytes, float]] = {}
        self._lock = threading.Lock()
        self.clock = time.time

    def put(self, key: str, value: bytes, expiration: float) -> None:
        with self._lock:
            self._d[key] = (value, expiration)

    def get(self, key: str) -> bytes | None:
        with self._lock:
            ent = self._d.get(key)
            if ent is None or ent[1] <= self.clock():
                self._d.pop(key, None)
                return None
            return ent[0]


class BroadcastRestService:
    """In-process broadcast service; ``base_url`` after :meth:`start`."""

    def __init__(self) -> None:
        self.kv = _Kv()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- request handling --------------------------------------------------
    def _record(self, broadcast_id: str) -> dict | None:
        raw = self.kv.get(f"broadcast:{broadcast_id}")
        return None if raw is None else json.loads(raw)

    def _store_record(self, broadcast_id: str, rec: dict) -> None:
        self.kv.put(
            f"broadcast:{broadcast_id}", json.dumps(rec).encode(), rec["expiration"]
        )

    def _store_episode(self, broadcast_id: str, ep: str, body: bytes, expiration: float) -> None:
        self.kv.put(f"broadcast:{broadcast_id}:{ep}", body, expiration + _KEEP_ALIVE_S)

    def handle(self, method: str, path: str, query: dict, auth: str | None, body: bytes):
        """(status, body bytes) — the route table of lib.rs:42-57."""
        parts = [p for p in path.split("/") if p]
        if not parts or parts[0] != "broadcast":
            return 404, b""
        if method == "POST" and len(parts) == 1:
            broadcast_id, token = str(uuid.uuid4()), str(uuid.uuid4())
            expiration = int(self.kv.clock()) + _EXPIRY_S
            episodes: list[str] = []
            if "episode" in query:
                ep = query["episode"]
                if not ep.isdigit():
                    return 400, b""
                self._store_episode(broadcast_id, ep, body, expiration)
                episodes.append(ep)
            self._store_record(
                broadcast_id,
                {"token": token, "expiration": expiration, "episodes": episodes},
            )
            return 201, json.dumps(
                {"broadcast_id": broadcast_id, "token": token, "expiration": expiration}
            ).encode()
        if method == "GET" and len(parts) == 2:
            rec = self._record(parts[1])
            return (404, b"") if rec is None else (200, json.dumps(rec["episodes"]).encode())
        if method == "GET" and len(parts) == 3:
            blob = self.kv.get(f"broadcast:{parts[1]}:{parts[2]}")
            return (404, b"") if blob is None else (200, blob)
        if method == "PUT" and len(parts) == 3:
            rec = self._record(parts[1])
            if rec is None:
                return 404, b""
            if auth != f"Bearer {rec['token']}":
                return 401, b""
            if not parts[2].isdigit():
                return 400, b""
            self._store_episode(parts[1], parts[2], body, rec["expiration"])
            if parts[2] in rec["episodes"]:
                return 200, b""
            rec["episodes"] = sorted(rec["episodes"] + [parts[2]], key=int)
            self._store_record(parts[1], rec)
            return 201, b""
        if method == "DELETE" and len(parts) == 2:
            rec = self._record(parts[1])
            if rec is None:
                return 404, b""
            if auth != f"Bearer {rec['token']}":
                return 401, b""
            rec["episodes"] = []
            self._store_record(parts[1], rec)
            return 200, b""
        return 405, b""

    # -- http plumbing -----------------------------------------------------
    def start(self) -> str:
        service = self

        class Handler(BaseHTTPRequestHandler):
            def _run(self, method: str) -> None:
                from urllib.parse import parse_qsl, urlparse

                u = urlparse(self.path)
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n) if n else b""
                status, out = service.handle(
                    method, u.path, dict(parse_qsl(u.query)),
                    self.headers.get("Authorization"), body,
                )
                self.send_response(status)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            def do_GET(self):  # noqa: N802
                self._run("GET")

            def do_POST(self):  # noqa: N802
                self._run("POST")

            def do_PUT(self):  # noqa: N802
                self._run("PUT")

            def do_DELETE(self):  # noqa: N802
                self._run("DELETE")

            def log_message(self, *a):  # quiet
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_port}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()


# ---------------------------------------------------------------------------
# Client half (broadcast.rs:28-68): publish / subscribe / fetch over HTTP
# ---------------------------------------------------------------------------


def _request(method: str, url: str, body: bytes | None = None, token: str | None = None) -> tuple[int, bytes]:
    req = urllib.request.Request(url, data=body, method=method)
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def publish_http(db: AssemblageDb, base_url: str, root_id: str, broadcast_id: str | None = None) -> dict:
    """Full export to a new broadcast (POST) or incremental episode to an
    existing one (PUT with the stored bearer token)."""
    pubs = db.__dict__.setdefault("_http_broadcasts", {})
    state = pubs.get(broadcast_id) if broadcast_id else None
    since = state["last_updated"] if state else 0
    payload, ids = export_since(db, root_id, since)
    now = db.last_updated() or int(time.time() * 1000)
    body = json.dumps(payload).encode()
    if state is None:
        status, out = _request("POST", f"{base_url}/broadcast?episode={now}", body)
        if status != 201:
            raise RuntimeError(f"publish: POST returned {status}")
        meta = json.loads(out)
        state = {
            "broadcast_id": meta["broadcast_id"],
            "token": meta["token"],
            "expiration": meta["expiration"],
            "root_id": root_id,
            "exported": sorted(ids),
            "last_updated": now,
        }
        pubs[meta["broadcast_id"]] = state
        return state
    if payload["nodes"]:
        status, _ = _request(
            "PUT",
            f"{base_url}/broadcast/{broadcast_id}/{now}",
            body,
            token=state["token"],
        )
        if status not in (200, 201):
            raise RuntimeError(f"publish: PUT returned {status}")
    state["last_updated"] = now
    state["exported"] = sorted(ids)
    return state


def subscribe_http(db: AssemblageDb, base_url: str, broadcast_id: str, namespace: str | None = None) -> str:
    """Subscribe (random namespace unless given) and pull everything."""
    ns = namespace or str(uuid.uuid4())
    subs = db.__dict__.setdefault("_http_subscriptions", {})
    subs[broadcast_id] = {"namespace": ns, "last_updated": -1}
    fetch_http(db, base_url, broadcast_id)
    return ns


def fetch_http(db: AssemblageDb, base_url: str, broadcast_id: str) -> int:
    """Pull episodes newer than the watermark; 404 (expired/unknown) raises
    KeyError like the filesystem hub."""
    sub = getattr(db, "_http_subscriptions", {}).get(broadcast_id)
    if sub is None:
        raise KeyError(f"not subscribed to {broadcast_id}")
    status, out = _request("GET", f"{base_url}/broadcast/{broadcast_id}")
    if status == 404:
        raise KeyError(f"broadcast {broadcast_id} not found or expired")
    imported = 0
    for ep in sorted(json.loads(out), key=int):
        if int(ep) <= sub["last_updated"]:
            continue
        status, blob = _request("GET", f"{base_url}/broadcast/{broadcast_id}/{ep}")
        if status != 200:
            break  # missing/torn episode: stop before it, keep watermark
        import_payload(db, json.loads(blob), sub["namespace"])
        sub["last_updated"] = int(ep)
        imported += 1
    return imported
