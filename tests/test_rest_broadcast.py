"""REST broadcast service parity (assemblage_broadcast/src/lib.rs route
table): publish/subscribe/fetch over real HTTP, bearer-token 401s, KV-TTL
expiry, episode-list reads, DELETE."""

from __future__ import annotations

import json
import urllib.request

import pytest

from assemblagedb_spark.db import ROOT_ID, AssemblageDb
from assemblagedb_spark.model import PAGE, Child, Node
from assemblagedb_spark.sources.rest import (
    BroadcastRestService,
    _request,
    fetch_http,
    publish_http,
    subscribe_http,
)


@pytest.fixture()
def service():
    svc = BroadcastRestService()
    url = svc.start()
    yield svc, url
    svc.stop()


def _build(db):
    nested = db.add(Node.text_node("nested"))
    page = db.add(Node.list(PAGE, [Child.lazy(nested), Node.text_node("top")]))
    return page, nested


def test_http_publish_subscribe_fetch_cycle(service):
    svc, url = service
    db = AssemblageDb()
    page, nested = _build(db)

    state = publish_http(db, url, page)
    bid = state["broadcast_id"]
    assert state["token"] and state["expiration"] > 0

    # unauthenticated episode-list read (GET /broadcast/{id})
    with urllib.request.urlopen(f"{url}/broadcast/{bid}") as r:
        eps = json.loads(r.read())
    assert len(eps) == 1

    db2 = AssemblageDb()
    subscribe_http(db2, url, bid, namespace=ROOT_ID)
    assert db2.get(nested).text == "nested"

    # incremental publish -> one new episode -> fetch imports exactly it
    db.push(page, Node.text_node("update!"))
    publish_http(db, url, page, broadcast_id=bid)
    assert fetch_http(db2, url, bid) == 1
    texts = {db2.get(c.id).text for c in db2.get(page).children if db2.get(c.id).is_text()}
    assert "update!" in texts
    # idempotent: nothing newer
    assert fetch_http(db2, url, bid) == 0


def test_http_put_requires_bearer_token(service):
    svc, url = service
    db = AssemblageDb()
    page, _ = _build(db)
    state = publish_http(db, url, page)
    bid = state["broadcast_id"]

    status, _ = _request("PUT", f"{url}/broadcast/{bid}/999", b"{}")
    assert status == 401
    status, _ = _request("PUT", f"{url}/broadcast/{bid}/999", b"{}", token="wrong")
    assert status == 401
    status, _ = _request("PUT", f"{url}/broadcast/{bid}/999", b"{}", token=state["token"])
    assert status == 201
    # re-PUT of the same episode id rewrites (200, not 201)
    status, _ = _request("PUT", f"{url}/broadcast/{bid}/999", b"{}", token=state["token"])
    assert status == 200

    # DELETE clears the episode list, token-gated
    status, _ = _request("DELETE", f"{url}/broadcast/{bid}")
    assert status == 401
    status, _ = _request("DELETE", f"{url}/broadcast/{bid}", token=state["token"])
    assert status == 200
    with urllib.request.urlopen(f"{url}/broadcast/{bid}") as r:
        assert json.loads(r.read()) == []


def test_http_expiry_reads_as_deleted():
    # fake clock: the broadcast record's TTL lapses -> 404, fetch raises;
    # episode blobs outlive the record by the 12h keep-alive (lib.rs:188)
    now = [1_000_000.0]
    svc = BroadcastRestService()
    svc.kv.clock = lambda: now[0]
    url = svc.start()
    try:
        db = AssemblageDb()
        page, _ = _build(db)
        state = publish_http(db, url, page)
        bid = state["broadcast_id"]
        db2 = AssemblageDb()
        subscribe_http(db2, url, bid, namespace=ROOT_ID)

        now[0] += 24 * 3600 + 1  # record expired; blobs still alive
        status, _ = _request("GET", f"{url}/broadcast/{bid}")
        assert status == 404
        ep = state["last_updated"]
        status, _ = _request("GET", f"{url}/broadcast/{bid}/{ep}")
        assert status == 200  # keep-alive window
        with pytest.raises(KeyError):
            fetch_http(db2, url, bid)

        now[0] += 12 * 3600 + 1  # keep-alive lapsed too
        status, _ = _request("GET", f"{url}/broadcast/{bid}/{ep}")
        assert status == 404
    finally:
        svc.stop()
