"""Every product definition is reached from a gate, a tool,
``__spark_entry__``, an ``AssemblageDb`` method or module-level code — or
is listed in ``KEEP`` with the reason it stays. A helper only tests call
fails here.

Every defaulted parameter of a public function, method or class
``__init__`` is set to a value other than its default by some call in the
package or a root file — or is listed in ``KEEP_ARGS`` with the reason it
stays. A keyword only tests vary fails here: it is a constant."""

from __future__ import annotations

import ast
from collections import defaultdict
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


# "module.Class.method(param)" -> reason: a defaulted parameter no caller
# sets. Reasons are of three kinds: paper surface (with its reference
# cite), a safety bound on outside input, or a deployment setting.
KEEP_ARGS = {
    "db.AssemblageDb.__init__(store)": "paper surface: Db::open over an existing KV store (kv lib.rs:602-652)",
    "db.AssemblageDb.get_in_trash(t)": "paper surface: a removed node read at a snapshot (kv lib.rs:355-363)",
    "operators.overlaps.store_overlaps(excluded_pairs)": "paper surface: the overlap exclusion anti-join (index.rs:302-347)",
    "sources.episodes.BroadcastHub.publish(token)": "paper surface: the broadcast bearer token (broadcast lib.rs:139-181)",
    "sources.episodes.BroadcastHub.subscribe(namespace)": "paper surface: the subscription's import namespace (index.rs:653-655)",
    "sources.rest.publish_http(broadcast_id)": "paper surface: an episode to an existing broadcast (broadcast.rs:28-68)",
    "sources.rest.subscribe_http(namespace)": "paper surface: the subscription's import namespace (broadcast.rs:28-68)",
    "views.bindings.refresh(hub)": "paper surface: broadcast ids resolve through the broadcast service (bindings.rs:214-237)",
    "views.bindings.sync(hub)": "paper surface: broadcast ids resolve through the broadcast service (bindings.rs:313-359)",
    "views.linearize.tile(broadcasts)": "paper surface: a tile lists its page's broadcasts (lib.rs:472-588)",
    "db.AssemblageDb.from_tables(max_rows)": "safety bound: caps the driver-side collect of outside tables",
    "operators.similarity.cosine_topk_arrow(max_queries)": "safety bound: caps the query matrix shipped in every task closure",
    "streaming.broadcast.subscribe_stream(max_rows_per_batch)": "safety bound: caps the driver-side collect of one episode batch",
    "harness.grading_order(repo_root)": "deployment setting: the checkout whose committed history orders the export",
    "session.get_spark(shuffle_partitions)": "deployment setting: the session's shuffle partition count",
    "streaming.broadcast.subscribe_stream(available_now)": "deployment setting: drain the available episodes, or run continuously",
}


def _modules():
    for f in sorted(PKG.rglob("*.py")):
        yield f.relative_to(PKG).with_suffix("").as_posix().replace("/", "."), ast.parse(f.read_text())


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
    for mod, tree in _modules():
        for st in tree.body:
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


def _defaults(args: ast.arguments) -> dict[str, ast.expr]:
    pos = args.posonlyargs + args.args
    out = {a.arg: d for a, d in zip(pos[len(pos) - len(args.defaults):], args.defaults)}
    out.update((a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None)
    return out


def _signatures() -> dict[str, list[tuple[str, ast.arguments, bool]]]:
    """{bare call name: [(qualified name, arguments, bound)]} for every
    public function, public method and public-class ``__init__`` (called by
    its class name); ``bound`` drops ``self``/``cls`` from positions."""
    sigs = defaultdict(list)
    for mod, tree in _modules():
        for st in tree.body:
            if isinstance(st, ast.FunctionDef) and not st.name.startswith("_"):
                sigs[st.name].append((f"{mod}.{st.name}", st.args, False))
            elif isinstance(st, ast.ClassDef) and not st.name.startswith("_"):
                for m in st.body:
                    if isinstance(m, ast.FunctionDef) and (m.name == "__init__" or not m.name.startswith("_")):
                        static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                        call = st.name if m.name == "__init__" else m.name
                        sigs[call].append((f"{mod}.{st.name}.{m.name}", m.args, not static))
    return sigs


def _set_by(call: ast.Call, args: ast.arguments, bound: bool) -> set[str]:
    """Parameters ``call`` sets to something other than their default:
    by position, by keyword, or through ``*``/``**``."""
    pos = [a.arg for a in args.posonlyargs + args.args][bound:]
    defaults = _defaults(args)
    same = lambda value, name: name in defaults and ast.dump(value) == ast.dump(defaults[name])
    out = set()
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            out |= set(pos[i:])
            break
        if i < len(pos) and not same(a, pos[i]):
            out.add(pos[i])
    for k in call.keywords:
        if k.arg is None:
            out |= set(defaults)
        elif not same(k.value, k.arg):
            out.add(k.arg)
    return out


def _unset_defaults() -> list[str]:
    """``module.def(param)`` for every defaulted public parameter that no
    call in the package or a root file sets; calls resolve by bare name."""
    sigs = _signatures()
    callers = [tree for _, tree in _modules()] + [ast.parse(f.read_text()) for f in ROOT_FILES]
    set_: dict[str, set[str]] = defaultdict(set)
    for call in (n for tree in callers for n in ast.walk(tree) if isinstance(n, ast.Call)):
        name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
        for qual, args, bound in sigs.get(name, ()):
            set_[qual] |= _set_by(call, args, bound)
    return sorted(f"{qual}({p})" for entries in sigs.values() for qual, args, _ in entries
                  for p in _defaults(args) if p not in set_[qual])


def test_every_defaulted_argument_is_set_by_a_caller_or_kept():
    unset = _unset_defaults()
    loose = [p for p in unset if p not in KEEP_ARGS]
    assert not loose, f"{len(loose)} defaulted parameters no caller sets and not in KEEP_ARGS: " + ", ".join(loose)
    stale = sorted(KEEP_ARGS.keys() - set(unset))
    assert not stale, "KEEP_ARGS names no unset defaulted parameter: " + ", ".join(stale)
