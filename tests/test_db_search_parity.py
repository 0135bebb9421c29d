"""``AssemblageDb.search``/``overlaps`` (driver-side ``find_local``) against
the Spark corpus operators over the same ``blocks()``.

A seeded edit script builds chains that hold nested blocks (the 3-NUL
marker), empty-text pages and blocks, multi-byte UTF-8 text, and edits
them with ``swap``, ``remove_child`` and ``restore``. Every search must
equal ``operators.search.search`` over ``block_grams`` of the same blocks,
and every overlap list must equal ``store_overlaps(changed=[id])`` restricted
to ``src_id == id``. The Spark side stays here as the reference.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from assemblagedb_spark.db import ROOT_ID, AssemblageDb
from assemblagedb_spark.functions.core import index_text
from assemblagedb_spark.model import CHAIN, PAGE, Child, Node
from assemblagedb_spark.operators.grams import block_grams
from assemblagedb_spark.operators.overlaps import store_overlaps
from assemblagedb_spark.operators.search import search as spark_search

VOCAB = [
    "this", "is", "a", "sentence", "about", "foo", "bar", "text",
    "naïve", "café", "straße", "日本語", "テキスト", "🎉",
]
OVERLAP_KEYS = ("intersection", "a", "b")


def _script(seed: int) -> tuple[AssemblageDb, list[str], dict[str, str]]:
    """A store after a seeded script of adds and edits; returns it, some
    search terms and the named fixture blocks."""
    rng = random.Random(seed)
    db = AssemblageDb()

    def line() -> str:
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 8)))

    def block() -> Node:
        r = rng.random()
        if r < 0.25:  # a chain holding a nested block: the 3-NUL marker
            return Node.list(
                CHAIN,
                [Node.line(line()), Node.list(PAGE, [Node.line(line())]), Node.line(line())],
            )
        if r < 0.35:
            return Node.styled("block", {"quote"}, Node.line(line()))
        if r < 0.45:
            return Node.line("")
        return Node.line(line())

    pages = []
    for _ in range(6):
        page = db.add(Node.list(PAGE, [block() for _ in range(rng.randint(2, 4))]))
        db.push(ROOT_ID, page)
        pages.append(page)
    db.push(ROOT_ID, db.add(Node.list(PAGE, [])))  # an empty-text page block
    # a chain opening with a nested block: its grams hold the zero gram
    db.push(pages[0], Node.list(CHAIN, [Node.list(PAGE, []), Node.line("abc")]))

    named = {}
    # a full tie on (intersection, a, b): two identical partners of src
    for name, text in (
        ("src", "This is a sentence about foo."),
        ("twin1", "This is a sentence about fo"),
        ("twin2", "This is a sentence about fo"),
        # min(a, b) == 0 with a shared gram: 4 grams against 1104
        ("short", "q"),
        ("long", "q" + "ü" * 550),
    ):
        named[name] = db.add(Node.line(text))
        db.push(pages[1], named[name])

    for _ in range(8):
        page = rng.choice(pages)
        kids = [c.id for c in db.get(page).children]
        op = rng.choice(["swap", "remove_restore", "replace"])
        if op == "swap":
            order = [k for k in kids if k not in named.values()]
            rng.shuffle(order)
            keep = [k for k in kids if k in named.values()]
            db.swap(page, Node.list(PAGE, [*order, *keep, block()]))
        elif op == "remove_restore" and kids:
            i = rng.randrange(len(kids))
            if kids[i] in named.values():
                continue
            db.remove_child(page, i)
            db.restore(kids[i])
            db.push(rng.choice(pages), Child.lazy(kids[i]))
        else:
            free = [i for i, k in enumerate(kids) if k not in named.values()]
            if free:
                db.replace_child(page, rng.choice(free), block())

    texts = [t for t in db.blocks().values() if t.strip("\x00")]
    terms = []
    for _ in range(8):
        words = rng.choice(texts).replace("\x00", " ").split()
        k = min(len(words), rng.randint(1, 3))
        start = rng.randrange(len(words) - k + 1)
        terms.append(" ".join(words[start : start + k]))
    terms += ["日本語", "café", "q", "", "\x00\x00\x00\x00", "zzzz no match"]
    return db, terms, named


def _spark_grams(spark, db):
    rows = list(db.blocks().items())
    blocks = spark.createDataFrame(rows, "node_id string, text string")
    return block_grams(blocks).localCheckpoint(eager=True)


@pytest.fixture(scope="module", params=[3, 11])
def scripted(request, spark):
    db, terms, named = _script(request.param)
    return db, terms, named, _spark_grams(spark, db)


def test_search_matches_spark_search(spark, scripted):
    db, terms, _, grams = scripted
    matched = 0
    for term in terms:
        want = [
            {"id": r["node_id"], **{k: r[k] for k in (*OVERLAP_KEYS, "score")}}
            for r in spark_search(spark, grams, term).collect()
        ]
        got = db.search(term)
        assert got == want, term
        matched += bool(got)
    assert matched >= len(terms) // 2, "vacuous: few searches matched"


def test_overlaps_match_store_overlaps(spark, scripted):
    db, _, named, grams = scripted
    index = {b: Counter(index_text(t)) for b, t in db.blocks().items()}
    ids = sorted(index)
    sample = {*named.values(), *random.Random(0).sample(ids, 6)}
    got_all = {}
    for id in sorted(sample):
        changed = spark.createDataFrame([(id,)], "node_id string")
        rows = [
            r for r in store_overlaps(grams, changed=changed).collect()
            if r["src_id"] == id
        ]
        rows.sort(key=lambda r: (*(-r[k] for k in OVERLAP_KEYS), r["dst_id"]))
        want = [
            {"id": r["dst_id"], **{k: r[k] for k in (*OVERLAP_KEYS, "score")}}
            for r in rows
        ]
        got_all[id] = db.overlaps(id)
        assert got_all[id] == want, id
    assert db.overlaps("no-such-block") == []

    # the fixture holds a full tie, broken by partner id ...
    tie = [o["id"] for o in got_all[named["src"]] if o["id"] in (named["twin1"], named["twin2"])]
    assert tie == sorted([named["twin1"], named["twin2"]])
    t1, t2 = (o for o in got_all[named["src"]] if o["id"] in tie)
    assert [t1[k] for k in OVERLAP_KEYS] == [t2[k] for k in OVERLAP_KEYS]
    # ... and a pair sharing a gram whose min(a, b) is 0, which is dropped
    short, long_ = index[named["short"]], index[named["long"]]
    assert short.keys() & long_.keys()
    assert 255 * sum(short.values()) // sum(long_.values()) == 0
    assert named["long"] not in {o["id"] for o in got_all[named["short"]]}
    assert named["short"] not in {o["id"] for o in got_all[named["long"]]}
