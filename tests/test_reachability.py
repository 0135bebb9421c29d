"""Every product definition is reached from a gate, a tool,
``__spark_entry__``, an ``AssemblageDb`` method or module-level code — or
is listed in ``KEEP`` with the reason it stays. A helper only tests call
fails here."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "assemblagedb_spark"
ROOT_FILES = [REPO / "bench.py", REPO / "__spark_entry__.py",
              *(REPO / "tools").rglob("*.py"), *(REPO / "perfbench").rglob("*.py")]
ROOT_NAMES = {"SPARK_QUERIES", "ORACLES"}
ROOT_CLASS = "AssemblageDb"  # every method is public DB surface

# name (relative to the package; a module or class keeps all it holds) -> reason
KEEP = {
    "sources.rest.BroadcastRestService": "paper surface: broadcast REST service (broadcast lib.rs:31-74)",
    "sources.rest.publish_http": "paper surface: broadcast REST client (broadcast lib.rs:31-74)",
    "sources.rest.subscribe_http": "paper surface: broadcast REST client (broadcast lib.rs:31-74)",
    "sources.rest.fetch_http": "paper surface: broadcast REST client (broadcast lib.rs:31-74)",
    "sources.rest._request": "paper surface: the REST client's one HTTP call",
    "views.bindings.refresh": "paper surface: view bindings (bindings.rs:214-405)",
    "views.bindings.sync": "paper surface: view bindings (bindings.rs:214-405)",
    "views.bindings.edited": "paper surface: view bindings (bindings.rs:214-405)",
    "views.bindings.linked": "paper surface: view bindings (bindings.rs:214-405)",
    "streaming.broadcast.subscribe_stream": "paper surface: continuous broadcast subscription",
    "sources.episodes.BroadcastHub.list_broadcasts": "paper surface: list_broadcasts (index.rs:88-112)",
    "kvstore.Snapshot.abort": "paper surface: Snapshot::abort (kv lib.rs:515-519)",
    "kvstore.Snapshot.get_version": "paper surface: Snapshot::get_version (kv lib.rs:366-372)",
    "model.Node.text_node": "paper surface: Node::text (data.rs:214-225)",
    "functions.core.duckdb_grams_select": "reference: tests compare the Spark gram index against it",
    "functions.core.universal_hash_sql": "reference: tests compare the hash columns against it",
    "functions.jpeg.flat_gray_roundtrip_value": "reference: tests compare JPEG round trips against it",
    "harness._capped_corpus": "reference: tests compare the capped gate corpus against it",
    "sources.tpch.register_views": "reference: tests run Spark SQL over the registered views",
    "plans.explain": "reference: the plan-property tests inspect plans with it",
}


def _idents(*nodes) -> set[str]:
    out = set()
    for n in (n for node in nodes for n in ast.walk(node)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)  # getattr-style lookups
    return out


def _under(qual: str, key: str) -> bool:
    return qual == key or qual.startswith(key + ".")


def _definitions():
    """[(qualified name, bare name, body nodes, owner class)] for every
    top-level def, assignment target and non-dunder method, plus the
    identifiers of module-level statements that define nothing."""
    defs, roots = [], set()
    for f in sorted(PKG.rglob("*.py")):
        mod = f.relative_to(PKG).with_suffix("").as_posix().replace("/", ".")
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, ast.ClassDef):
                methods = [m for m in st.body if isinstance(m, ast.FunctionDef)
                           and not m.name.startswith("__")]
                defs += [(f"{mod}.{st.name}.{m.name}", m.name, [m], st.name) for m in methods]
                rest = [n for n in ast.iter_child_nodes(st) if n not in methods]
                defs.append((f"{mod}.{st.name}", st.name, rest, None))
            elif isinstance(st, ast.FunctionDef):
                defs.append((f"{mod}.{st.name}", st.name, [st], None))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                defs += [(f"{mod}.{n.id}", n.id, [st.value], None)
                         for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _idents(st)
    return defs, roots


def test_every_product_definition_is_reached_or_kept():
    defs, reached = _definitions()
    reached |= ROOT_NAMES | _idents(*(ast.parse(f.read_text()) for f in ROOT_FILES))
    seen: set[str] = set()
    while new := [(qual, body) for qual, name, body, owner in defs if qual not in seen and (
            name in reached or name.startswith("__") or owner == ROOT_CLASS
            or any(_under(qual, k) for k in KEEP))]:
        for qual, body in new:
            seen.add(qual)
            reached |= _idents(*body)
    unreached = sorted(qual for qual, *_ in defs if qual not in seen)
    assert not unreached, "reached by nothing and not in KEEP: " + ", ".join(unreached)
    stale = [k for k in KEEP if not any(_under(qual, k) for qual, *_ in defs)]
    assert not stale, "KEEP names no definition: " + ", ".join(stale)
