"""The ``oltp`` workload: a seeded script of edits and reads against
``AssemblageDb``, with a similarity search every few pages.

One round replays the same script on a fresh store (so every round sees
the same store sizes): it adds pages of text blocks drawn from the
generated documents, links them under the root, edits earlier pages
(``push``, ``replace_child``, ``swap``, ``remove_child``) and reads them
back (``get``, ``descendants``, ``before``/``after``,
``views.linearize.tile``). Ids minted by ``db.add`` are opaque handles:
the script's model of the pages holds the ids that ``add`` returned, and
every read is checked against that model. Each ``db.search`` is checked
after the timed window against the DuckDB search oracle, evaluated over a
documents-shaped copy of ``db.blocks()`` whose ``doc_id`` is the block's
handle in the model.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

PAGES = 12  # pages added per round
BLOCKS = 6  # text blocks per new page
SEARCH_EVERY = 4  # one db.search after every SEARCH_EVERY-th page


@dataclass
class Samples:
    """Latencies (seconds) by operation kind, and the searches to check."""

    lat: dict[str, list[float]] = field(default_factory=dict)
    searches: list[tuple[str, dict[str, str], dict[str, int], list]] = field(
        default_factory=list
    )
    blocks_s: list[float] = field(default_factory=list)
    version_rows: list[int] = field(default_factory=list)

    def add(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)


WRITE_KINDS = ("add", "push", "replace_child", "swap", "remove_child")
READ_KINDS = ("get", "descendants", "before", "after", "tile")


def load_texts(data_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["text"])
    return [t for t in docs.column("text").to_pylist() if t and t.strip()]


class Round:
    """One replay of the script on a fresh store."""

    def __init__(self, spark, texts: list[str], seed: int, out: Samples, tally):
        from assemblagedb_spark.db import AssemblageDb

        self.db = AssemblageDb(spark)
        self.texts = texts
        self.rng = random.Random(seed)
        self.out = out
        self.check = tally.check
        self.pages: list[str] = []
        self.model: dict[str, list[str]] = {}  # page id -> block ids
        self.text_of: dict[str, str] = {}  # block id -> text
        self.handle: dict[str, int] = {}  # minted id -> handle

    # -- helpers -----------------------------------------------------------

    def timed(self, kind: str, fn, *args):
        t0 = time.perf_counter()
        result = fn(*args)
        self.out.add(kind, time.perf_counter() - t0)
        return result

    def new_block(self) -> str:
        from assemblagedb_spark.model import Node

        text = self.rng.choice(self.texts)
        bid = self.timed("add", self.db.add, Node.line(text))
        self.text_of[bid] = text
        self.handle[bid] = len(self.handle)
        return bid

    # -- the script --------------------------------------------------------

    def play(self, pages: int = PAGES) -> None:
        from assemblagedb_spark.db import NODE_SLOT, PARENTS_SLOT, ROOT_ID
        from assemblagedb_spark.model import PAGE, Node

        for n in range(pages):
            ids = [self.new_block() for _ in range(BLOCKS)]
            page = self.timed("add", self.db.add, Node.list(PAGE, ids))
            self.handle[page] = len(self.handle)
            self.timed("push", self.db.push, ROOT_ID, page)
            self.pages.append(page)
            self.model[page] = list(ids)
            if n > 0:
                self.edit(self.rng.choice(self.pages[:-1]))
            self.read(self.rng.choice(self.pages))
            if (n + 1) % SEARCH_EVERY == 0:
                self.search()
        self.out.version_rows.append(
            sum(
                1
                for slot in (NODE_SLOT, PARENTS_SLOT)
                for _ in self.db.store.slot_rows(slot)
            )
        )

    def edit(self, page: str) -> None:
        from assemblagedb_spark.model import PAGE, Node

        kids = self.model[page]
        bid = self.new_block()
        self.timed("push", self.db.push, page, bid)
        kids.append(bid)
        i = self.rng.randrange(len(kids))
        bid = self.new_block()
        self.timed("replace_child", self.db.replace_child, page, i, bid)
        kids[i] = bid
        i = self.rng.randrange(len(kids))
        self.timed("remove_child", self.db.remove_child, page, i)
        kids.pop(i)
        order = kids[:]
        self.rng.shuffle(order)
        order.append(self.new_block())
        self.timed("swap", self.db.swap, page, Node.list(PAGE, order))
        self.model[page] = order

    def read(self, page: str) -> None:
        from assemblagedb_spark.views.linearize import tile

        kids = self.model[page]
        node = self.timed("get", self.db.get, page)
        self.check(
            node is not None and [c.id for c in node.children] == kids,
            "get(page) children differ from the model",
        )
        bid = self.rng.choice(kids)
        node = self.timed("get", self.db.get, bid)
        self.check(
            node is not None and node.text == self.text_of[bid],
            "get(block) text differs from the model",
        )
        desc = self.timed("descendants", self.db.descendants, page)
        self.check(desc == {page, *kids}, "descendants differ from the model")
        if len(kids) >= 3:
            i = self.rng.randrange(1, len(kids) - 1)
            before = self.timed("before", self.db.before, kids[i])
            after = self.timed("after", self.db.after, kids[i])
            self.check(before == {kids[i - 1]}, "before differs from the model")
            self.check(after == {kids[i + 1]}, "after differs from the model")
        view = self.timed("tile", tile, self.db, page)
        subs = [s for sec in view["sections"] for s in sec["subsections"]]
        self.check(
            view["id"] == page
            and [s["id"] for s in subs] == kids
            and [
                "".join(sp.get("text", "") for sp in s["block"]["spans"])
                for s in subs
            ]
            == [self.text_of[k] for k in kids],
            "tile differs from the model",
        )

    def search(self) -> None:
        page = self.rng.choice(self.pages)
        words = self.text_of[self.rng.choice(self.model[page])].split(" ")
        k = min(len(words), self.rng.randint(2, 4))
        start = self.rng.randrange(len(words) - k + 1)
        term = " ".join(words[start : start + k])
        t0 = time.perf_counter()
        blocks = self.db.blocks()  # untimed snapshot for the oracle
        self.out.blocks_s.append(time.perf_counter() - t0)
        expected = {p: "" for p in self.pages}
        expected.update(
            {b: self.text_of[b] for kids in self.model.values() for b in kids}
        )
        self.check(blocks == expected, "db.blocks() differs from the model")
        rows = self.timed("search", self.db.search, term)
        self.out.searches.append((term, blocks, dict(self.handle), rows))


def check_searches(searches, tally) -> None:
    """Compare every recorded ``db.search`` with the DuckDB oracle."""
    import duckdb
    import pandas as pd

    from assemblagedb_spark.harness import _search_oracle
    from tools.check_oracles import normalize

    from checks import frames_match

    con = duckdb.connect()
    try:
        for term, blocks, handle, rows in searches:
            docs = pd.DataFrame(
                {
                    "doc_id": pd.array(
                        [handle[b] for b in blocks], dtype="int64"
                    ),
                    "text": list(blocks.values()),
                }
            )
            con.register("documents", docs)
            ref = con.execute(
                _search_oracle(term, trim=True, min_score=0.3)
            ).fetchdf()
            con.unregister("documents")
            got = pd.DataFrame(
                {
                    "node_id": pd.array(
                        [handle.get(r["id"], -1) for r in rows], dtype="int64"
                    ),
                    "a": [r["a"] for r in rows],
                    "b": [r["b"] for r in rows],
                    "intersection": [r["intersection"] for r in rows],
                    "score": [float(r["score"]) for r in rows],
                }
            )
            ok, why = frames_match(got, ref, normalize)
            tally.check(ok, f"db.search({term!r}): {why}")
    finally:
        con.close()
