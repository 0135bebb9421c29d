"""Index/overlap parity over the DB graph (index_add.rs, overlap_add.rs)."""

from __future__ import annotations

import uuid

import pytest

from assemblagedb_spark.db import AssemblageDb
from assemblagedb_spark.model import CHAIN, PAGE, Child, Node


def test_only_block_registered_text_is_searchable():
    # index_add.rs:14-36 (fixture F3): text under a chain is not a block
    db = AssemblageDb()
    foo = db.add(Node.text_node("foo"))
    bar = db.add(Node.text_node("bar"))
    db.add(Node.list(CHAIN, [Child.lazy(foo), Child.lazy(bar)]))
    assert db.search("foo") == []

    db2 = AssemblageDb()
    foo2 = db2.add(Node.text_node("foo"))
    db2.add(Node.list(PAGE, [Child.lazy(foo2)]))
    res = db2.search("foo")
    assert [r["id"] for r in res] == [foo2]
    assert res[0]["score"] == pytest.approx(1.0)


def test_fuzzy_search_ordering():
    # index_add.rs:38-77
    db = AssemblageDb()
    foo = db.add(Node.text_node("This is the text foo"))
    bar = db.add(Node.text_node("This is the text bar"))
    db.add(Node.list(PAGE, [Child.lazy(foo)]))
    db.add(Node.list(PAGE, [Child.lazy(bar)]))

    res = db.search("foo")
    assert [r["id"] for r in res] == [foo]

    hi = [r for r in db.search("text foo") if r["score"] > 0.7]
    assert [r["id"] for r in hi] == [foo]

    res = db.search("This is the text foo")
    assert [r["id"] for r in res] == [foo, bar]
    assert res[0]["score"] == pytest.approx(1.0)
    assert res[1]["score"] < 1.0


def test_chain_concatenation_indexed_as_one_block():
    # index_add.rs:149-165: "foo"+"bar"+"baz" chain matches "foobarbaz"
    db = AssemblageDb()
    chain_id = db.add(
        Node.list(CHAIN, [Node.text_node("foo"), Node.text_node("bar"), Node.text_node("baz")])
    )
    db.add(Node.list(PAGE, [Child.lazy(chain_id)]))
    res = db.search("foobarbaz")
    assert [r["id"] for r in res] == [chain_id]
    assert res[0]["score"] == pytest.approx(1.0)


def test_parent_chains_of_text():
    # index_add.rs:80-124: shared prefix chain, suffix variants
    db = AssemblageDb()
    prefix = db.add(Node.text_node("This is t"))
    foo_sfx = db.add(Node.text_node("he text foo"))
    bar_sfx = db.add(Node.text_node("he text bar"))
    foo = db.add(Node.list(CHAIN, [Child.lazy(prefix), Child.lazy(foo_sfx)]))
    bar = db.add(Node.list(CHAIN, [Child.lazy(prefix), Child.lazy(bar_sfx)]))
    db.add(Node.list(PAGE, [Child.lazy(foo)]))
    db.add(Node.list(PAGE, [Child.lazy(bar)]))

    hi = [r for r in db.search("text foo") if r["score"] > 0.7]
    assert [r["id"] for r in hi] == [foo]
    assert hi[0]["score"] == pytest.approx(1.0)

    hi = [r for r in db.search("is the text") if r["score"] > 0.7]
    assert {r["id"] for r in hi} == {foo, bar}
    assert all(r["score"] == pytest.approx(1.0) for r in hi)


def test_index_both_direct_and_linked_children():
    # index_add.rs:126-147
    db = AssemblageDb()
    foo1 = db.add(Node.text_node("foo"))
    foo2 = db.add(Node.text_node("foo"))
    page_foo1 = db.add(Node.list(PAGE, [Child.lazy(foo1)]))
    link_foo1 = db.add(Node.list(CHAIN, [Child.lazy(page_foo1)]))

    res = db.search("foo")
    assert [r["id"] for r in res] == [foo1]

    db.add(Node.list(PAGE, [Child.lazy(link_foo1), Child.lazy(foo2)]))
    res = db.search("foo")
    assert {r["id"] for r in res} == {foo1, foo2}


def test_index_after_swap_edits():
    # index_swap.rs: the index follows edits
    db = AssemblageDb()
    page = db.add(Node.list(PAGE, [Node.text_node("hello world")]))
    hello = db.get(page).children[0].id
    assert {r["id"] for r in db.search("hello world")} == {hello}
    db.replace_child(page, 0, Node.text_node("goodbye moon"))
    assert db.search("hello world") == []
    new_id = db.get(page).children[0].id
    assert {r["id"] for r in db.search("goodbye moon")} == {new_id}


def test_overlaps_symmetric():
    # overlap_add.rs:13-64 (fixture F4)
    db = AssemblageDb()
    foo = db.add(Node.text_node("This is a sentence about foo."))
    bar = db.add(Node.text_node("This is a sentence about bar."))
    db.add(Node.list(PAGE, [Child.lazy(foo)]))
    db.add(Node.list(PAGE, [Child.lazy(bar)]))

    foo_overlaps = db.overlaps(foo)
    assert [o["id"] for o in foo_overlaps] == [bar]
    assert 0.8 < foo_overlaps[0]["score"] < 1.0
    bar_overlaps = db.overlaps(bar)
    assert [o["id"] for o in bar_overlaps] == [foo]
    assert bar_overlaps[0]["score"] == pytest.approx(foo_overlaps[0]["score"])


def test_overlaps_total_order_on_tied_intersection(monkeypatch):
    # data.rs:588-596: partners sharing an intersection order by (a, b)
    # DESC, and identical partners by id. Ids count down, so every partner
    # is added in reverse of its expected position.
    ids = iter(range(1000, 0, -1))
    monkeypatch.setattr(uuid, "uuid4", lambda: uuid.UUID(int=next(ids)))
    db = AssemblageDb()
    src = db.add(Node.text_node("This is a sentence about foo."))
    # (intersection, a, b) vs src: fo (215, 255, 239), ff. (215, 255, 247),
    # fff. (215, 255, 255)
    fo2, fo1, ff, fff = (
        db.add(Node.text_node(t))
        for t in ["This is a sentence about fo", "This is a sentence about fo",
                  "This is a sentence about ff.", "This is a sentence about fff."]
    )
    for block in (src, fo2, fo1, ff, fff):
        db.add(Node.list(PAGE, [Child.lazy(block)]))
    got = db.overlaps(src)
    assert {o["intersection"] for o in got} == {215}
    assert [o["id"] for o in got] == [fff, ff, fo1, fo2]


def test_overlaps_identical_text_score_one():
    db = AssemblageDb()
    a = db.add(Node.text_node("exactly the same text"))
    b = db.add(Node.text_node("exactly the same text"))
    db.add(Node.list(PAGE, [Child.lazy(a)]))
    db.add(Node.list(PAGE, [Child.lazy(b)]))
    assert db.overlaps(a)[0]["score"] == pytest.approx(1.0)
    assert db.overlaps(b)[0]["score"] == pytest.approx(1.0)


def test_no_overlap_between_ancestor_and_descendant():
    # overlap_add.rs:65-115: block granularity prevents ancestor/descendant
    # overlaps (the page contributes no text of its own)
    db = AssemblageDb()
    text = db.add(Node.text_node("some unique enough sentence here"))
    inner_page = db.add(Node.list(PAGE, [Child.lazy(text)]))
    chain_link = db.add(Node.list(CHAIN, [Child.lazy(inner_page)]))
    db.add(Node.list(PAGE, [Child.lazy(chain_link)]))
    for o in db.overlaps(text):
        assert o["id"] not in (inner_page, chain_link)


def test_asymmetric_sizes():
    # overlap_add.rs:117-192: long vs short block
    db = AssemblageDb()
    long_id = db.add(
        Node.text_node("This is a longer text that happens to mention that it contains foo")
    )
    short_id = db.add(Node.text_node("it contains foo"))
    db.add(Node.list(PAGE, [Child.lazy(long_id)]))
    db.add(Node.list(PAGE, [Child.lazy(short_id)]))
    longs = {o["id"]: o for o in db.overlaps(long_id)}
    assert short_id in longs
    o = longs[short_id]
    # long side is the bigger circle: a=255; short side b<255; score>0.8
    assert o["a"] == 255 and o["b"] < 255
    assert o["score"] > 0.8
