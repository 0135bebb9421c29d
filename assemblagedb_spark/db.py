"""AssemblageDb: the versioned document/graph database API.

Write-path semantics mirror the reference's ``assemblage_db`` crate
(citations inline). Writes, reads, ``search`` and ``overlaps`` run on the
driver (single-writer OLTP, as in the reference); the corpus-scale operators
run as Spark jobs over the store's exported columnar tables. ``to_tables()``
produces the nodes/edges DataFrames of schema.py.

Graph edits are hand-sized (a page, a section); 100 TB scale lives in the
*corpus* of blocks, which is exactly what the exported tables + Spark
operators handle.
"""

from __future__ import annotations

import uuid
from collections import Counter
from typing import Callable, Iterable

from assemblagedb_spark.functions.core import index_text, trim_for_search
from assemblagedb_spark.kvstore import KvStore, Snapshot
from assemblagedb_spark.model import CHAIN, PAGE, Child, Node
from assemblagedb_spark.operators.search import OVERLAP_MIN_SCORE, SEARCH_MIN_SCORE, find_local

NODE_SLOT = 0  # reference lib.rs:190-198
PARENTS_SLOT = 1

ROOT_ID = "00000000-0000-0000-0000-000000000000"

# 3-NUL marker: a nested block child inside a chain contributes three zero
# bytes to the spliced gram sequence (index.rs:682-759); concatenating this
# marker reproduces the reference's boundary-overlay grams exactly.
BLOCK_MARKER = "\x00\x00\x00"


def _ser(node: Node) -> dict:
    return {
        "kind": node.kind,
        "text": node.text,
        "layout": node.layout,
        "style_kind": node.style_kind,
        "styles": sorted(node.styles),
        "children": [c.id for c in node.children],
    }


def _deser(d: dict) -> Node:
    return Node(
        kind=d["kind"],
        text=d["text"],
        layout=d["layout"],
        style_kind=d["style_kind"],
        styles=frozenset(d["styles"]),
        children=[Child.lazy(cid) for cid in d["children"]],
    )


class AssemblageDb:
    """Driver-side handle over the MVCC store; ``spark`` serves ``to_tables``."""

    def __init__(self, spark=None, store: KvStore | None = None) -> None:
        self.spark = spark
        self.store = store or KvStore()
        self._open()

    @classmethod
    def from_tables(
        cls, spark, nodes_df, edges_df, *, max_rows: int = 5_000_000
    ) -> "AssemblageDb":
        """Inverse of :meth:`to_tables`: rebuild the versioned store from the
        columnar export — full node version history incl. tombstones; the
        ``Parents`` slot (a derived back-edge index in the reference,
        data.rs:492-508) is re-derived from the current edge rows, the same
        way the reference rebuilds its in-memory key directory on ``open``
        (kv lib.rs:602-652). The gram index needs no replay: ``search``
        and ``overlaps`` derive it from the current blocks per call.

        This materializes the whole store on the driver — the reference's
        single-user OLTP model, sane for tile/episode-sized graphs only.
        ``max_rows`` (default 5M version rows) guards the collect: larger
        inputs raise instead of silently OOMing the driver; analytics over
        bigger graphs should stay on the DataFrames (harness queries do)."""
        from assemblagedb_spark.kvstore import Version

        n = nodes_df.count()
        if n > max_rows:
            raise ValueError(
                f"from_tables: {n} node version rows exceed the driver-side "
                f"limit of {max_rows}; this OLTP rebuild is for tile-sized "
                "graphs — run analytics on the DataFrames instead, or raise "
                "max_rows explicitly if the driver has the memory"
            )
        store = KvStore()
        children: dict[tuple[str, int], list[tuple[int, str]]] = {}
        for r in edges_df.collect():
            children.setdefault((r["parent_id"], r["ts"]), []).append(
                (r["idx"], r["child_id"])
            )
        max_ts = 0
        for r in sorted(nodes_df.collect(), key=lambda r: (r["ts"], r["node_id"])):
            kids = [cid for _, cid in sorted(children.get((r["node_id"], r["ts"]), []))]
            value = {
                "kind": r["kind"],
                "text": r["text"],
                "layout": r["layout"],
                "style_kind": r["style_kind"],
                "styles": sorted(r["styles"] or []),
                "children": kids,
            }
            store._data.setdefault((NODE_SLOT, r["node_id"]), []).append(
                Version(r["ts"], True, r["is_removed"], value)
            )
            max_ts = max(max_ts, r["ts"])
        # current back-edges: latest version per parent wins
        parents: dict[str, set[tuple[str, int]]] = {}
        for (slot, pid), versions in store._data.items():
            last = versions[-1]
            if last.is_removed or last.value is None:
                continue
            for idx, cid in enumerate(last.value["children"]):
                parents.setdefault(cid, set()).add((pid, idx))
        for (slot, nid) in list(store._data.keys()):
            store._data.setdefault((PARENTS_SLOT, nid), []).append(
                Version(max_ts, True, False,
                        [list(p) for p in sorted(parents.get(nid, set()))])
            )
        store._last_ts = max_ts
        return cls(spark=spark, store=store)

    def _open(self) -> None:
        """Seed the root node (nil UUID, empty Page) if absent (core.rs:23-42)."""
        t = self.store.current()
        if t.get(NODE_SLOT, ROOT_ID) is None and not t.versions(NODE_SLOT, ROOT_ID):
            t.insert(NODE_SLOT, ROOT_ID, _ser(Node.list(PAGE, [])))
            t.insert(PARENTS_SLOT, ROOT_ID, [])
            t.commit()

    # ------------------------------------------------------------------
    # reads (core.rs:100-128, 303-309)
    # ------------------------------------------------------------------

    def get(self, id: str, t: Snapshot | None = None) -> Node | None:
        t = t or self.store.current()
        d = t.get(NODE_SLOT, id)
        return _deser(d) if d is not None else None

    def get_in_trash(self, id: str, t: Snapshot | None = None) -> Node | None:
        t = t or self.store.current()
        d = t.get_unremoved(NODE_SLOT, id)
        return _deser(d) if d is not None else None

    def parents(self, id: str, t: Snapshot | None = None) -> set[tuple[str, int]]:
        t = t or self.store.current()
        ps = t.get(PARENTS_SLOT, id)
        return {(p[0], p[1]) for p in ps} if ps else set()

    def versions(self, id: str):
        return self.store.current().versions(NODE_SLOT, id)

    def merge(self) -> None:
        self.store.merge()

    def last_updated(self):
        return self.store.last_updated()

    # ------------------------------------------------------------------
    # add (core.rs:313-362)
    # ------------------------------------------------------------------

    def add(self, node: Node) -> str:
        t = self.store.transaction()
        id = self._add_unindexed(t, node)
        t.commit()
        return id

    def _add_unindexed(self, t: Snapshot, node: Node) -> str:
        id = str(uuid.uuid4())
        lazy_ids = []
        for index, child in enumerate(node.children):
            if child.is_lazy:
                cid = child.id
                self._restore_unindexed(t, cid)
                parents = [list(p) for p in self.parents(cid, t)]
                if [id, index] not in parents:
                    parents.append([id, index])
                t.insert(PARENTS_SLOT, cid, parents)
            else:
                cid = self._add_unindexed(t, child.node)
                t.insert(PARENTS_SLOT, cid, [[id, index]])
            lazy_ids.append(cid)
        stored = _ser(node)
        stored["children"] = lazy_ids
        t.insert(NODE_SLOT, id, stored)
        if t.get(PARENTS_SLOT, id) is None:
            t.insert(PARENTS_SLOT, id, [])
        return id

    # ------------------------------------------------------------------
    # swap (core.rs:364-550)
    # ------------------------------------------------------------------

    def swap(self, id: str, replacement: Node) -> None:
        t = self.store.transaction()
        self._swap_unindexed(t, id, replacement)
        t.commit()

    def _swap_unindexed(self, t: Snapshot, id: str, replacement: Node) -> None:
        existing_d = t.get_unremoved(NODE_SLOT, id)
        if existing_d is None:
            raise KeyError(f"swap: no node {id}")
        existing_children = existing_d["children"]

        # obsolete parent relationships of the existing children
        obsolete_parents: dict[str, set[tuple[str, int]]] = {}
        for i, cid in enumerate(existing_children):
            obsolete_parents.setdefault(cid, set()).add((id, i))

        lazy_child_ids: set[str] = set()
        new_child_ids: list[str] = []
        for index, child in enumerate(replacement.children):
            if child.is_lazy:
                cid = child.id
                self._restore_unindexed(t, cid)
                parents = {(p[0], p[1]) for p in (t.get(PARENTS_SLOT, cid) or [])}
                parents -= obsolete_parents.get(cid, set())
                parents.add((id, index))
                t.insert(PARENTS_SLOT, cid, [list(p) for p in sorted(parents)])
            else:
                cid = self._add_unindexed(t, child.node)
                t.insert(PARENTS_SLOT, cid, [[id, index]])
            lazy_child_ids.add(cid)
            new_child_ids.append(cid)

        removed = set(existing_children) - set(new_child_ids)

        # obsolete-subtree fixpoint (core.rs:440-471): a node is obsolete if
        # ALL its parents are the swapped node or already obsolete; children
        # of newly-obsolete nodes are re-examined (diamond dependencies).
        obsolete: set[str] = set()
        remaining_children: set[str] = set()
        candidates = list(removed)
        while candidates:
            cid = candidates.pop()
            parents = {(p[0], p[1]) for p in (t.get(PARENTS_SLOT, cid) or [])}
            is_obsolete = all(pid == id or pid in obsolete for pid, _ in parents)
            if is_obsolete and cid not in lazy_child_ids:
                if cid not in obsolete:
                    node_d = t.get_unremoved(NODE_SLOT, cid)
                    if node_d:
                        candidates.extend(node_d["children"])
                    obsolete.add(cid)
                    remaining_children.discard(cid)
            else:
                remaining_children.add(cid)

        for cid in obsolete:
            t.remove(PARENTS_SLOT, cid)
            t.remove(NODE_SLOT, cid)  # trash: content stays readable by id

        # children of obsolete nodes that survive keep only live parents
        for cid in remaining_children:
            parents = {(p[0], p[1]) for p in (t.get(PARENTS_SLOT, cid) or [])}
            parents = {
                p
                for p in parents
                if p not in obsolete_parents.get(cid, set()) and p[0] not in obsolete
            }
            t.insert(PARENTS_SLOT, cid, [list(p) for p in sorted(parents)])

        # strip obsolete parents from removed-but-not-obsolete subtrees
        visited: set[str] = set()
        candidates = list(removed - obsolete)
        while candidates:
            cid = candidates.pop()
            if cid in visited:
                continue
            visited.add(cid)
            parents = [
                p
                for p in (t.get(PARENTS_SLOT, cid) or [])
                if p[0] not in obsolete and p[0] != id
            ]
            if cid in obsolete:
                t.insert(PARENTS_SLOT, cid, parents)
            node_d = t.get_unremoved(NODE_SLOT, cid)
            if node_d:
                for gc in node_d["children"]:
                    if gc not in visited:
                        candidates.append(gc)

        stored = _ser(replacement)
        stored["children"] = new_child_ids
        t.insert(NODE_SLOT, id, stored)

    # ------------------------------------------------------------------
    # restore (core.rs:552-594)
    # ------------------------------------------------------------------

    def restore(self, id: str) -> None:
        t = self.store.transaction()
        self._restore_unindexed(t, id)
        t.commit()

    def _restore_unindexed(self, t: Snapshot, id: str, _seen: set | None = None) -> bool:
        """Returns True if the node was restored (False if not removed)."""
        _seen = _seen if _seen is not None else set()
        if id in _seen:
            return False
        _seen.add(id)
        versions = t.versions(NODE_SLOT, id)
        buffered = t._writes.get((NODE_SLOT, id))
        if buffered is not None:
            is_removed = buffered[1]
        elif versions:
            is_removed = versions[-1].is_removed
        else:
            return False
        if not is_removed:
            return False
        node_d = t.get_unremoved(NODE_SLOT, id)
        if node_d is None:
            raise KeyError(f"restore: no trashed node {id}")
        t.insert(NODE_SLOT, id, node_d)
        t.insert(PARENTS_SLOT, id, [])
        for index, cid in enumerate(node_d["children"]):
            restored = self._restore_unindexed(t, cid, _seen)
            parents = [] if restored else list(t.get(PARENTS_SLOT, cid) or [])
            if [id, index] not in parents:
                parents.append([id, index])
            t.insert(PARENTS_SLOT, cid, parents)
        return True

    # ------------------------------------------------------------------
    # list-edit sugar (lib.rs:839-899)
    # ------------------------------------------------------------------

    def update(self, id: str, f: Callable[[list[Child]], None]) -> None:
        node = self.get(id)
        if node is None or not node.is_list():
            raise TypeError(f"update expects a List node, got {node}")
        children = list(node.children)
        f(children)
        self.swap(id, Node.list(node.layout, children))

    def remove_child(self, id: str, index: int) -> None:
        self.update(id, lambda cs: cs.pop(index))

    def replace_child(self, id: str, index: int, child) -> None:
        self.update(id, lambda cs: cs.__setitem__(index, Child.of(child)))

    def insert_child(self, id: str, index: int, child) -> None:
        self.update(id, lambda cs: cs.insert(index, Child.of(child)))

    def push(self, id: str, child) -> None:
        self.update(id, lambda cs: cs.append(Child.of(child)))

    # ------------------------------------------------------------------
    # display-class predicates (lib.rs:347-442)
    # ------------------------------------------------------------------

    def is_span(self, node: Node, t: Snapshot | None = None) -> bool:
        t = t or self.store.current()
        while True:
            if node.is_text():
                return True
            if node.is_list():
                return node.layout == CHAIN
            if node.is_styled("block"):
                return False
            node = self.get(node.children[0].id, t)  # span-styled lazy child

    def is_block(self, node: Node, t: Snapshot | None = None) -> bool:
        return not self.is_span(node, t)

    def is_link(self, child: Node, parent: Node, t: Snapshot | None = None) -> bool:
        return self.is_block(child, t) and self.is_span(parent, t)

    def is_blank(self, id: str, t: Snapshot | None = None) -> bool:
        t = t or self.store.current()
        visited, candidates = set(), [id]
        while candidates:
            cid = candidates.pop()
            if cid in visited:
                continue
            visited.add(cid)
            node = self.get(cid, t)
            if node is None:
                continue
            if node.is_text():
                if node.text.strip():
                    return False
            else:
                candidates.extend(c.id for c in node.children)
        return True

    def is_cyclic(self, id: str, t: Snapshot | None = None) -> bool:
        t = t or self.store.current()
        visited, candidates = set(), [id]
        while candidates:
            cid = candidates.pop()
            if cid in visited:
                return True
            visited.add(cid)
            node = self.get(cid, t)
            if node:
                candidates.extend(c.id for c in node.children)
        return False

    # ------------------------------------------------------------------
    # preview (lib.rs:462-509)
    # ------------------------------------------------------------------

    def preview(self, id: str) -> tuple[str, object]:
        """Returns ('block', id, node) | ('empty',) | ('cyclic',)."""
        t = self.store.current()
        block_styles: set[str] = set()
        span_styles: set[str] = set()
        visited: set[str] = set()
        while id not in visited:
            visited.add(id)
            node = self.get(id, t)
            if node is None:
                return ("empty",)
            if node.is_text():
                if not node.text.strip():
                    return ("empty",)
                styled = node
                if span_styles:
                    styled = Node.styled("span", span_styles, styled)
                if block_styles:
                    styled = Node.styled("block", block_styles, styled)
                return ("block", id, styled)
            if node.is_list() and not node.children:
                return ("empty",)
            if node.is_list(CHAIN):
                if self.is_blank(id, t):
                    return ("empty",)
                if self.is_cyclic(id, t):
                    return ("cyclic",)
                styled = node
                if span_styles:
                    styled = Node.styled("span", span_styles, styled)
                if block_styles:
                    styled = Node.styled("block", block_styles, styled)
                return ("block", id, styled)
            if node.is_list(PAGE):
                id = node.children[0].id
            else:  # styled
                (block_styles if node.style_kind == "block" else span_styles).update(node.styles)
                id = node.children[0].id
        return ("cyclic",)

    # ------------------------------------------------------------------
    # traversal (lib.rs:552-831)
    # ------------------------------------------------------------------

    def ancestor_path(self, id: str, until_link: bool = False) -> list[tuple[str, int]]:
        t = self.store.current()
        path: list[tuple[str, int]] = []
        while True:
            parents = self.parents(id, t)
            if len(parents) != 1:
                return list(reversed(path))
            parent = next(iter(parents))
            is_cyclic = parent in path
            is_link = False
            if until_link:
                child_node = self.get(id, t)
                parent_node = self.get(parent[0], t)
                is_link = self.is_link(child_node, parent_node, t)
            if is_cyclic or is_link:
                return list(reversed(path))
            id = parent[0]
            path.append(parent)

    def ancestor_path_until_link(self, id: str) -> list[tuple[str, int]]:
        return self.ancestor_path(id, until_link=True)

    def descendants(self, id: str, until_links: bool = False) -> set[str]:
        t = self.store.current()
        node = self.get(id, t)
        if node is None:
            raise KeyError(id)
        candidates = [(node, id)]
        out: set[str] = set()
        while candidates:
            node, nid = candidates.pop()
            if nid in out:
                continue
            out.add(nid)
            for child in node.children:
                cnode = self.get(child.id, t)
                if cnode is None:
                    continue
                if until_links and self.is_link(cnode, node, t):
                    out.add(child.id)
                else:
                    candidates.append((cnode, child.id))
        return out

    def descendants_until_links(self, id: str) -> set[str]:
        return self.descendants(id, until_links=True)

    def has_shared_descendants_until_links(self, id: str) -> bool:
        t = self.store.current()
        node = self.get(id, t)
        candidates = [(node, id)]
        seen: set[str] = set()
        while candidates:
            node, nid = candidates.pop()
            if nid in seen:
                continue
            seen.add(nid)
            for child in node.children:
                if len(self.parents(child.id, t)) > 1:
                    return True
                cnode = self.get(child.id, t)
                if cnode is not None:
                    candidates.append((cnode, child.id))
        return False

    # ------------------------------------------------------------------
    # before/after sibling search (core.rs:152-299)
    # ------------------------------------------------------------------

    def before(self, id: str) -> set[str]:
        return self._adjacent(id, "before")

    def after(self, id: str) -> set[str]:
        return self._adjacent(id, "after")

    def _adjacent(self, id: str, direction: str) -> set[str]:
        t = self.store.current()
        if self.is_blank(id, t):
            return set()
        node = self.get(id, t)
        siblings: set[str] = set()
        for parent_id, parent_index in self.parents(id, t):
            parent_node = self.get(parent_id, t)
            children = [c.id for c in parent_node.children]
            if direction == "before":
                cand = [(parent_id, i, cid) for i, cid in enumerate(children[:parent_index])]
            else:
                cand = [
                    (parent_id, i + parent_index + 1, cid)
                    for i, cid in enumerate(children[parent_index + 1 :])
                ]
                cand.reverse()
            visited: set[str] = set()
            sibling = None
            while cand:
                p_id, index, cid = cand.pop()
                p_node = self.get(p_id, t)
                child = self.get(cid, t)
                if child is None:
                    continue
                is_link = self.is_link(child, p_node, t)
                is_aside = child.is_styled("block") and "aside" in child.styles
                if not is_aside and not self.is_blank(cid, t) and (is_link or child.is_text()):
                    sibling = cid
                    break
                if cid not in visited:
                    visited.add(cid)
                    sub = [c.id for c in child.children]
                    if direction == "after":
                        sub = list(reversed(sub))
                    if not is_aside:
                        cand.extend((cid, index, gc) for gc in sub)
            if sibling is not None:
                siblings.add(sibling)
            elif not self.is_link(node, parent_node, t):
                siblings |= self._adjacent(parent_id, direction)
        return siblings

    # ------------------------------------------------------------------
    # block indexing + driver-side search and overlaps
    # ------------------------------------------------------------------

    def blocks(self) -> dict[str, str]:
        """All indexed blocks and their assembled texts.

        A block is a live child of a Page list or a Block-styled node
        (index.rs:682-759: Page/Block-styled children are registered as
        separate indexed blocks). Its text is the chain-concatenation of its
        descendant texts, with nested blocks contributing the 3-NUL marker
        (the splice-equivalence of SURVEY §7 #4).
        """
        t = self.store.current()
        out: dict[str, str] = {}
        for id in t.keys(NODE_SLOT):
            d = t.get(NODE_SLOT, id)
            if d is None:
                continue
            is_block_parent = (d["kind"] == "list" and d["layout"] == PAGE) or (
                d["kind"] == "styled" and d["style_kind"] == "block"
            )
            if not is_block_parent:
                continue
            for cid in d["children"]:
                if cid not in out and t.get(NODE_SLOT, cid) is not None:
                    out[cid] = self._assemble(t, cid, set())
        return out

    def _assemble(self, t: Snapshot, id: str, on_path: set[str]) -> str:
        if id in on_path:
            return ""  # cycle guard (index.rs:703-707)
        d = t.get(NODE_SLOT, id)
        if d is None:
            return ""
        if d["kind"] == "text":
            return d["text"] or ""
        if d["kind"] == "list" and d["layout"] == CHAIN:
            parts = []
            for cid in d["children"]:
                cd = t.get(NODE_SLOT, cid)
                if cd is None:
                    continue
                nested_block = (cd["kind"] == "list" and cd["layout"] == PAGE) or (
                    cd["kind"] == "styled" and cd["style_kind"] == "block"
                )
                if nested_block:
                    parts.append(BLOCK_MARKER)
                else:
                    parts.append(self._assemble(t, cid, on_path | {id}))
            return "".join(parts)
        if d["kind"] == "styled" and d["style_kind"] == "span":
            return "".join(self._assemble(t, cid, on_path | {id}) for cid in d["children"])
        # Page lists / block-styled: children are their own blocks
        return ""

    def _gram_index(self) -> dict[str, Counter]:
        """Gram multiset of every block of the current snapshot."""
        return {bid: Counter(index_text(text)) for bid, text in self.blocks().items()}

    def search(self, term: str) -> list[dict]:
        """Scored similarity search over the block index (index.rs:174-184):
        end-trimmed term grams, asymmetric mode, score >= 0.3, Overlap
        order; an all-zero term matches nothing."""
        q = trim_for_search(index_text(term))
        if not any(q):
            return []
        rows = find_local(self._gram_index(), Counter(q))
        return [r for r in rows if r["score"] >= SEARCH_MIN_SCORE]

    def overlaps(self, id: str) -> list[dict]:
        """Symmetric overlaps of a block (index.rs:187-192, 302-347): the
        block's own gram count is the match count, self excluded, score >
        0.5, in the reference's total Overlap order: (intersection, a, b)
        DESC (data.rs:588-596), partner id ascending on a full tie."""
        index = self._gram_index()
        if id not in index:
            return []
        rows = find_local(index, index[id], symmetric=True)
        return [r for r in rows if r["id"] != id and r["score"] > OVERLAP_MIN_SCORE]

    # ------------------------------------------------------------------
    # columnar export (schema.py tables)
    # ------------------------------------------------------------------

    def to_tables(self):
        """(nodes_df, edges_df) with full version history — the engine's
        analytical substrate (SURVEY §1.3 mapping)."""
        assert self.spark is not None
        from assemblagedb_spark.schema import EDGES, NODES

        node_rows, edge_rows = [], []
        for key, ts, removed, value in self.store.slot_rows(NODE_SLOT):
            if value is None:
                prev = [
                    v.value
                    for v in self.store.current().versions(NODE_SLOT, key)
                    if v.value is not None and v.ts <= ts
                ]
                value = prev[-1] if prev else None
            if value is None:
                continue
            node_rows.append(
                (
                    key,
                    value["kind"],
                    value["text"],
                    value["layout"],
                    value["style_kind"],
                    list(value["styles"]),
                    ts,
                    removed,
                )
            )
            for idx, cid in enumerate(value["children"]):
                edge_rows.append((key, cid, idx, ts, removed))
        nodes_df = self.spark.createDataFrame(node_rows, NODES)
        edges_df = self.spark.createDataFrame(edge_rows, EDGES)
        return nodes_df, edges_df
