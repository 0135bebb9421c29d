"""Traversal parity: siblings (siblings.rs), preview (preview.rs),
descendants/ancestor_path (lib.rs doc examples), predicates."""

from __future__ import annotations

from assemblagedb_spark.db import AssemblageDb
from assemblagedb_spark.model import CHAIN, PAGE, Child, Node
from tests.conftest import py_display_class


def build_five(db):
    first = db.add(Node.text_node("first"))
    foo = db.add(Node.text_node("foo"))
    bar = db.add(Node.text_node("bar"))
    baz = db.add(Node.text_node("baz"))
    last = db.add(Node.text_node("last"))
    return first, foo, bar, baz, last


def test_siblings_of_text_nodes():
    # siblings.rs:11-44 (fixture F5)
    db = AssemblageDb()
    first, foo, bar, baz, last = build_five(db)
    db.add(
        Node.list(
            PAGE,
            [
                Node.list(PAGE, [Child.lazy(first), Child.lazy(foo)]),
                Node.list(PAGE, [Child.lazy(bar)]),
                Node.list(PAGE, [Child.lazy(baz), Child.lazy(last)]),
            ],
        )
    )
    assert db.before(first) == set()
    assert db.before(bar) == {foo}
    assert db.after(bar) == {baz}
    assert db.after(last) == set()


def test_siblings_do_not_cross_link_boundaries():
    # siblings.rs:47-95: pages embedded via chain-links must not leak siblings
    db = AssemblageDb()
    first, foo, bar, baz, last = build_five(db)
    foobarbaz = db.add(
        Node.list(
            PAGE,
            [
                Node.list(PAGE, [Child.lazy(first), Child.lazy(foo)]),
                Node.list(PAGE, [Child.lazy(bar)]),
                Node.list(PAGE, [Child.lazy(baz), Child.lazy(last)]),
            ],
        )
    )
    db.add(
        Node.list(
            PAGE,
            [
                Node.list(CHAIN, [Child.lazy(foobarbaz)]),
                Node.list(CHAIN, [Child.lazy(foobarbaz)]),
            ],
        )
    )
    assert db.before(first) == set()
    assert db.before(bar) == {foo}
    assert db.after(bar) == {baz}
    assert db.after(last) == set()


def test_sibling_is_linked_page():
    # siblings.rs:97-117: the before-sibling of text is the linked page
    db = AssemblageDb()
    foobar = db.add(Node.list(PAGE, [Node.text_node("foo"), Node.text_node("bar")]))
    text = db.add(Node.text_node("text after foobar"))
    db.add(Node.list(PAGE, [Node.list(CHAIN, [Child.lazy(foobar)]), Child.lazy(text)]))
    assert db.before(text) == {foobar}


def test_blank_and_aside_siblings_skipped():
    # siblings.rs blank_siblings / aside skipping
    db = AssemblageDb()
    a = db.add(Node.text_node("a"))
    blank = db.add(Node.text_node("   "))
    b = db.add(Node.text_node("b"))
    db.add(Node.list(PAGE, [Child.lazy(a), Child.lazy(blank), Child.lazy(b)]))
    assert db.before(b) == {a}  # blank skipped
    assert db.after(a) == {b}

    db2 = AssemblageDb()
    x = db2.add(Node.text_node("x"))
    aside = db2.add(Node.styled("block", {"aside"}, Node.text_node("aside!")))
    y = db2.add(Node.text_node("y"))
    db2.add(Node.list(PAGE, [Child.lazy(x), Child.lazy(aside), Child.lazy(y)]))
    assert db2.before(y) == {x}
    assert db2.after(x) == {y}


def test_preview_cases():
    # preview.rs:15-123 (first-block, empty, blank, cyclic)
    db = AssemblageDb()
    t = db.add(Node.text_node("hello"))
    page = db.add(Node.list(PAGE, [Node.list(PAGE, [Child.lazy(t)])]))
    kind, pid, node = db.preview(page)
    assert (kind, pid) == ("block", t)
    assert node.text == "hello"

    empty = db.add(Node.list(PAGE, []))
    assert db.preview(empty) == ("empty",)

    blank = db.add(Node.list(PAGE, [Node.text_node("   ")]))
    assert db.preview(blank)[0] == "empty"

    # cyclic: a page whose first child is itself
    cyc = db.add(Node.list(PAGE, [Node.text_node("x")]))
    db.replace_child(cyc, 0, Child.lazy(cyc))
    assert db.preview(cyc) == ("cyclic",)


def test_preview_accumulates_styles():
    db = AssemblageDb()
    inner = Node.styled("span", {"bold"}, Node.text_node("styled text"))
    page = db.add(Node.list(PAGE, [Node.styled("block", {"quote"}, inner)]))
    kind, _, node = db.preview(page)
    assert kind == "block"
    assert node.is_styled("block") and node.styles == {"quote"}
    inner_node = node.children[0].node
    assert inner_node.is_styled("span") and inner_node.styles == {"bold"}


def test_descendants_until_links():
    # lib.rs:690-797 doc example: 8 descendants, link subtree excluded
    db = AssemblageDb()
    a = db.add(Node.text_node("A"))
    b = db.add(Node.text_node("B"))
    c = db.add(Node.text_node("C"))
    d = db.add(Node.text_node("D"))
    e = db.add(Node.text_node("E"))
    link_inside = db.add(Node.list(PAGE, [Child.lazy(d), Child.lazy(e)]))
    tree = db.add(
        Node.list(
            PAGE,
            [
                Node.list(PAGE, [Child.lazy(a), Child.lazy(b)]),
                Node.list(CHAIN, [Child.lazy(c)]),
                Node.list(CHAIN, [Child.lazy(link_inside)]),
            ],
        )
    )
    desc = db.descendants_until_links(tree)
    assert len(desc) == 8
    assert {a, b, c, link_inside} <= desc
    assert d not in desc and e not in desc
    # full closure includes everything
    assert {d, e} <= db.descendants(tree)


def test_ancestor_path():
    # lib.rs:520-552 doc example: 4 unique chain ancestors
    db = AssemblageDb()
    descendant = db.add(Node.text_node("descendant"))
    oldest = db.add(
        Node.list(
            CHAIN,
            [Node.list(CHAIN, [Node.list(CHAIN, [Node.list(CHAIN, [Child.lazy(descendant)])])])],
        )
    )
    path = db.ancestor_path(descendant)
    assert len(path) == 4
    assert path[0][0] == oldest


def test_ancestor_path_until_link():
    # lib.rs:556-606: stop before an ancestor that links to its child
    db = AssemblageDb()
    descendant = db.add(Node.text_node("descendant"))
    oldest = db.add(
        Node.list(
            PAGE,
            [Node.list(CHAIN, [Node.list(CHAIN, [Node.list(CHAIN, [Child.lazy(descendant)])])])],
        )
    )
    link = db.add(Node.list(CHAIN, [Child.lazy(oldest)]))
    path = db.ancestor_path_until_link(descendant)
    assert len(path) == 4
    assert path[0][0] != link
    assert path[0][0] == oldest


def test_predicates():
    db = AssemblageDb()
    text = db.add(Node.text_node("t"))
    chain = db.add(Node.list(CHAIN, [Child.lazy(text)]))
    page = db.add(Node.list(PAGE, [Child.lazy(chain)]))
    assert db.is_span(db.get(text))
    assert db.is_span(db.get(chain))
    assert db.is_block(db.get(page))
    # block inside span context -> link
    assert db.is_link(db.get(page), db.get(chain))
    assert not db.is_link(db.get(chain), db.get(page))
    assert not db.is_cyclic(page)
    assert db.is_blank(db.add(Node.text_node("  ")))
    assert not db.is_blank(text)


def test_has_shared_descendants():
    db = AssemblageDb()
    shared = db.add(Node.text_node("s"))
    p1 = db.add(Node.list(PAGE, [Child.lazy(shared)]))
    db.add(Node.list(PAGE, [Child.lazy(shared)]))
    assert db.has_shared_descendants_until_links(p1)
    solo = db.add(Node.list(PAGE, [Node.text_node("only")]))
    assert not db.has_shared_descendants_until_links(solo)


def test_display_class_resolution(spark):
    """is_span/is_block recursion (lib.rs:347-380): text/chain are spans,
    page/block-styled are blocks, span-styled wrappers take the child's
    class through arbitrary wrapper chains; a styled cycle is a block."""
    from assemblagedb_spark.operators.traversal import display_class

    rows = [
        ("t", "text", None),
        ("c", "chain", None),
        ("p", "page", None),
        ("bs", "block_styled", "t"),
        # wrapper chain: w1 -> w2 -> t  (span)
        ("w1", "span_styled", "w2"),
        ("w2", "span_styled", "t"),
        # wrapper over a block: link shape
        ("w3", "span_styled", "p"),
        # styled 2-cycle
        ("x", "span_styled", "y"),
        ("y", "span_styled", "x"),
        # dangling child pointer
        ("d", "span_styled", "ghost"),
    ]
    nodes = spark.createDataFrame(rows, "node_id string, kind string, child_id string")
    want = {
        "t": "span",
        "c": "span",
        "p": "block",
        "bs": "block",
        "w1": "span",
        "w2": "span",
        "w3": "block",
        "x": "block",
        "y": "block",
        "d": "block",
    }
    assert py_display_class(rows, max_iter=8) == want
    got = {
        r["node_id"]: r["display_class"]
        for r in display_class(nodes, max_iter=8).collect()
    }
    assert got == want


def test_display_class_matches_chase_reference_on_functional_graph(spark):
    # pseudo-random functional graph with long wrapper runs and cycles:
    # pointer doubling must agree with the literal chase at every bound,
    # including non-power-of-two bounds (exact binary decomposition)
    n = 200
    rows = [
        (
            str(i),
            ["text", "span_styled", "span_styled", "page", "span_styled"][i % 5],
            str((i * 7 + 3) % n) if i % 5 in (1, 2, 4) else None,
        )
        for i in range(n)
    ]
    nodes = spark.createDataFrame(rows, "node_id string, kind string, child_id string")
    from assemblagedb_spark.operators.traversal import display_class

    for bound in (1, 3, 8):
        got = {
            r["node_id"]: r["display_class"]
            for r in display_class(nodes, max_iter=bound).collect()
        }
        assert got == py_display_class(rows, max_iter=bound), bound
