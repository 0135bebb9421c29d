"""Property-based tests (hypothesis): invariants the example suites can't
exhaust — markup round-trip idempotence, gram-expression equivalence, KV
model conformance."""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from assemblagedb_spark.functions.core import index_text, trim_for_search
from assemblagedb_spark.kvstore import KvStore
from assemblagedb_spark.views.markup import block_to_markup, markup_to_block
from tests.conftest import components_by_layout, py_components, py_pagerank

markup_text = st.text(
    alphabet=string.ascii_letters + string.digits + " #>-,*_~`\\.!?",
    max_size=60,
).filter(lambda s: "\n" not in s)


def _merge_adjacent_spans(block):
    """Canonical span list: adjacent text spans with identical styles merge
    (the parser splits them only at style toggles, e.g. '0**0')."""
    merged = []
    for s in block["spans"]:
        if merged and merged[-1]["styles"] == s["styles"]:
            merged[-1] = {**merged[-1], "text": merged[-1]["text"] + s["text"]}
        else:
            merged.append(dict(s))
    return {**block, "spans": merged}


@given(markup_text)
@settings(max_examples=300)
def test_markup_parse_serialize_stabilizes(m):
    """The serializer produces *canonical* markup: re-parsing it yields the
    same block up to merging of adjacent same-styled spans, and canonical
    markup is a fixpoint of parse∘serialize."""
    b1 = markup_to_block(m)
    canonical = block_to_markup(b1)
    b2 = markup_to_block(canonical)
    assert b2 == _merge_adjacent_spans(b1)
    # canonical markup is a fixpoint
    assert block_to_markup(b2) == canonical
    assert markup_to_block(block_to_markup(b2)) == b2


@given(st.text(max_size=80))
@settings(max_examples=300)
def test_index_text_shape(s):
    g = index_text(s)
    assert len(g) == len(s.encode("utf-8")) + 3
    assert all(0 <= x < 2**32 for x in g)
    t = trim_for_search(g)
    d = min((len(g) - 1) // 2, 3)
    assert len(t) == len(g) - 2 * d


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["insert", "remove"]),
            st.sampled_from(["a", "b", "c"]),
            st.integers(0, 100),
        ),
        max_size=30,
    )
)
@settings(max_examples=200)
def test_kvstore_matches_model(ops):
    """One committed txn per op; get() must match a plain dict model and
    get_unremoved() must return the last non-removed value ever written."""
    kv = KvStore()
    model: dict[str, int | None] = {}
    last_value: dict[str, int] = {}
    for op, key, value in ops:
        t = kv.current()
        if op == "insert":
            t.insert(0, key, value)
            model[key] = value
            last_value[key] = value
        else:
            t.remove(0, key)
            model[key] = None
        t.commit()
    for key in ["a", "b", "c"]:
        assert kv.current().get(0, key) == model.get(key)
        assert kv.current().get_unremoved(0, key) == last_value.get(key)
    # merge preserves the current view and empties the trash
    kv.merge()
    for key in ["a", "b", "c"]:
        assert kv.current().get(0, key) == model.get(key)
        expected_trash = last_value.get(key) if model.get(key) is not None else None
        assert kv.current().get_unremoved(0, key) == expected_trash


@settings(max_examples=30, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(
    st.lists(
        st.text(max_size=40),  # full unicode — the SQL form is byte-exact
        min_size=1,
        max_size=8,
    )
)
def test_spark_grams_equal_driver_grams(spark, texts):
    """The JVM zip_with gram expression equals byte-exact index_text on
    ARBITRARY unicode (the SQL form derives true UTF-8 bytes from
    codepoints — round-5 Unicode sweep fix; before that it grammed by
    codepoint and was only correct for ASCII)."""
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.grams import grams_array

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {r["i"]: r["g"] for r in df.select("i", grams_array("text").alias("g")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == index_text(t), repr(t)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(max_size=40),  # full unicode — the arrow kernel is byte-exact
        min_size=1,
        max_size=8,
    )
)
def test_arrow_grams_equal_driver_grams(spark, texts):
    """The production gram-index build (block_grams) emits, per text, the
    exact (gram, occurrences) multiset of byte-exact index_text on
    arbitrary unicode (it grams the UTF-8 bytes, like the reference)."""
    from collections import Counter

    from assemblagedb_spark.operators.grams import block_grams

    texts = [t.replace("\x00", " ") for t in texts]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got: dict[int, dict] = {}
    for r in block_grams(df, id_col="i").collect():
        assert r["gram"] not in got.setdefault(r["node_id"], {})
        got[r["node_id"]][r["gram"]] = r["occurrences"]
    for i, t in enumerate(texts):
        assert got.get(i) == dict(Counter(index_text(t))), repr(t)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=30,
    )
)
def test_label_propagation_matches_union_find(spark, pairs):
    """Connected components (union-find contraction, and the label
    propagation finisher on the one-level layout) equal a plain-Python
    union-find on arbitrary random graphs (cycles, self-loops, parallel
    edges included), on every input layout."""
    rows = [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs]
    edges = spark.createDataFrame(
        [(a, b, 0) for a, b in rows],
        "parent_id string, child_id string, idx int",
    )
    want = py_components(rows)
    for layout, got in components_by_layout(edges).items():
        assert got == want, layout


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ).map(lambda ps: sorted(set(ps))),
    st.sets(st.integers(0, 9), max_size=3),
)
def test_pagerank_rounds_match_python_reference(spark, pairs, seed_ids):
    """Integer fixed-point PageRank, global and personalized to a seed
    set, equals a pure-python replay of the same arithmetic on arbitrary
    directed graphs."""
    from assemblagedb_spark.operators.components import pagerank_rounds

    rows = [(f"n{a}", f"n{b}") for a, b in pairs]
    edges = spark.createDataFrame(
        [(a, b, 0) for a, b in rows],
        "parent_id string, child_id string, idx int",
    )
    got = {
        r["node_id"]: r["rank"]
        for r in pagerank_rounds(edges, rounds=3).collect()
    }
    assert got == py_pagerank(rows, rounds=3)

    seeds = [f"n{i}" for i in sorted(seed_ids)]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node_id string")
    got = {
        r["node_id"]: r["rank"]
        for r in pagerank_rounds(edges, rounds=3, seeds=seed_df).collect()
    }
    assert got == py_pagerank(rows, rounds=3, seeds=seeds)


def test_hyperplane_sketch_matches_formula_replay(spark):
    """The numpy matmul sketch equals a per-cell replay of the formula the
    DuckDB oracles evaluate: bit i set iff the sequential sum of
    v[d] * (+1 if mix32(i*stride + d, seed) is even else -1) is > 0."""
    import random

    from assemblagedb_spark.functions.core import mix32_py
    from assemblagedb_spark.operators.similarity import (
        HYP_DIM_STRIDE,
        hyperplane_sketch_arrow,
    )

    def replay(v, bits, seed=7):
        out = 0
        for i in range(bits):
            acc = 0.0
            for d, x in enumerate(v):
                acc += x * (1.0 if mix32_py(i * HYP_DIM_STRIDE + d, seed) % 2 == 0 else -1.0)
            out += (1 << i) if acc > 0 else 0
        return out

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["sketch"]
         for r in hyperplane_sketch_arrow(df, bits=12).collect()}
    assert a == {i: replay(v, 12) for i, v in rows}


# edge texts for the fingerprint kernels: unicode, empty, NULL,
# single-char, repeated-gram and mixed-whitespace inputs
_EDGE_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "", None, "a", "aa", "ab",
    "Ünïcødé tëxt with ümlaut déjà vu",
    "x" * 500,
    "the quick brown fox jumps over the lazy cat",
    # supplementary-plane (non-BMP) codepoints: Spark strings and DuckDB
    # both index by codepoint and the kernels decode UTF-8/UTF-32, so
    # parity must hold on every Unicode plane, not just the BMP
    "a\U0001F600b",                     # lone emoji between ascii
    "\U0001F600\U0001F601\U0001F602",   # consecutive non-BMP
    "\U00010348 h\U0001D11Ello",        # Gothic hwair + musical G clef
    "mixedé\U0001F600中\U0010FFFF",  # BMP + max codepoint
    "Grüße aus Köln — äöü ßharfes",
    "aaaaaaaaaaaaaaaaaa",
    "mixed   WHITESPACE  and CASE",
    "tiny",
]


def _edge_docs_vs_oracle(spark, oracle_sql):
    """(Spark documents frame, oracle rows) over _EDGE_TEXTS: the gate's
    DuckDB oracle runs on the same texts registered as ``documents``."""
    import duckdb
    import pandas as pd

    rows = list(enumerate(_EDGE_TEXTS))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {tuple(r) for r in con.execute(oracle_sql).fetchall()}
    con.close()
    return docs, want


def test_simhash_matches_gate_oracle(spark):
    """simhash_fingerprints equals the dedup_simhash gate's DuckDB oracle
    bit for bit — unicode (every plane), empty, NULL, single-char and
    repeated-gram texts included."""
    from assemblagedb_spark import harness
    from assemblagedb_spark.operators.dedup import simhash_fingerprints

    docs, want = _edge_docs_vs_oracle(spark, harness.O_DEDUP_SIMHASH)
    got = {(r["doc_id"], r["simhash"])
           for r in simhash_fingerprints(docs, bits=32).collect()}
    assert got == want and len(got) == len(_EDGE_TEXTS) - 1  # NULL: no row


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**32 - 1),
        min_size=2, max_size=24, unique=True,
    ),
    st.integers(min_value=2, max_value=6),
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_banding_recall_guarantee(spark, fps, bands):
    """Pigeonhole: every pair within hamming <= bands-1 of a 32-bit
    fingerprint shares at least one band, so simhash_band_candidates never
    misses a pair that simhash_near_pairs would emit at that threshold."""
    from assemblagedb_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_near_pairs,
    )

    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "doc_id long, simhash long"
    )
    max_h = bands - 1
    cand = {
        (r["id_a"], r["id_b"])
        for r in simhash_band_candidates(df, bits=32, bands=bands).collect()
    }
    want = {
        (a, b)
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= max_h
    }
    assert want <= cand
    # and feeding the candidates into the verifier reproduces the exact set
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            df, max_hamming=max_h, candidates=simhash_band_candidates(df, bits=32, bands=bands)
        ).collect()
    }
    assert got == want


def test_language_id_ngram_matches_python_replay(spark):
    """The Catalyst lang-ngram scorer equals a direct python replay of the
    documented formula on assorted texts (incl. empty/None/whitespace)."""
    import re

    from assemblagedb_spark.operators.textstats import (
        LANG_STOPWORDS,
        LANG_TRIGRAMS,
        language_id_ngram,
    )

    texts = [
        "the cat and the dog of the house",
        "der hund und die katze ist nicht da",
        "le chat est dans la maison pour les amis",
        "el perro y la casa que es de los amigos",
        "wo shi zai you ta de ang eng",
        "",
        None,
        "   ",
        "xyzzy qqq",
        "The THE the  and AND  of",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def replay(text):
        raw = text or ""
        toks = [t for t in raw.strip().split() if t]
        s = " " + re.sub(r"\s+", " ", raw.strip().lower()) + " "
        scores = {}
        for lang, tris in LANG_TRIGRAMS.items():
            hits = sum(1 for t in toks if t.lower() in LANG_STOPWORDS[lang])
            tri = sum((len(s) - len(s.replace(t, ""))) // 3 for t in tris)
            scores[lang] = hits * 4 + tri
        best = max(scores.items(), key=lambda kv: kv[1])
        langs = list(LANG_TRIGRAMS)
        # argmax with key-order tiebreak
        guess = "und"
        if best[1] > 0:
            top = best[1]
            guess = next(l for l in langs if scores[l] == top)
        return scores, guess

    for r in language_id_ngram(docs).collect():
        scores, guess = replay(texts[r["doc_id"]])
        for lang in LANG_TRIGRAMS:
            assert r[f"score_{lang}"] == scores[lang], (texts[r["doc_id"]], lang)
        assert r["lang_guess"] == guess, texts[r["doc_id"]]


def test_winnowing_matches_python_replay_and_shift_tolerance(spark):
    """The winnowing fingerprints equal a direct python replay,
    and inserting text at the END leaves the original region's selected
    hashes present (the shift-tolerance that motivates winnowing)."""
    import re

    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    K, W, B, M = 5, 4, 257, 1_000_000_007

    def replay(text):
        s = re.sub(r"\s+", " ", (text or "").lower()).strip()
        if len(s) < K + W - 1:
            return set()
        hs = []
        for i in range(len(s) - K + 1):
            acc = 0
            for ch in s[i : i + K]:
                acc = (acc * B + ord(ch)) % M
            hs.append(acc)
        return {min(hs[j : j + W]) for j in range(len(hs) - W + 1)}

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",
        "",
        None,
        "aaaaaaaaaaaaaa",
        "Spaces   and    MIXED case Text here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(docs, k=K, window=W).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for i, t in enumerate(texts):
        assert got.get(i, set()) == replay(t), (i, t)

    # appending a suffix preserves every original window's selected hash
    base = "the quick brown fox jumps over the lazy dog"
    assert replay(base) <= replay(base + " with an appended tail of text")


def test_winnowing_matches_gate_oracle(spark):
    """winnowing_fingerprints at the gate's parameters equals the
    text_winnowing gate's DuckDB oracle on the edge texts, incl. non-ASCII
    and non-BMP text (codepoint arithmetic on both sides)."""
    from assemblagedb_spark import harness
    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    docs, want = _edge_docs_vs_oracle(spark, harness.O_TEXT_WINNOWING)
    got = {
        (r["doc_id"], r["fingerprint"])
        for r in winnowing_fingerprints(
            docs, k=harness._WINNOW_K, window=harness._WINNOW_W,
            base=harness._WINNOW_B, mod=harness._WINNOW_M,
        ).collect()
    }
    assert got == want and got


def test_chunking_matches_python_replay(spark):
    """chunk_documents equals a python replay: stride starts, truncated
    final chunk, overlap tokens shared between consecutive chunks."""
    from assemblagedb_spark.operators.chunking import chunk_documents

    texts = [
        " ".join(f"t{i}" for i in range(150)),
        "one two three",
        "",
        None,
        "   ",
        " ".join(f"w{i}" for i in range(64)),   # exactly one full chunk
        " ".join(f"v{i}" for i in range(65)),   # one full + short tail
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    CH, OV = 64, 8
    step = CH - OV

    def replay(text):
        toks = (text or "").split()
        return [
            (j, " ".join(toks[s : s + CH]), len(toks[s : s + CH]))
            for j, s in enumerate(range(0, len(toks), step))
        ]

    got: dict[int, list] = {}
    for r in chunk_documents(docs, chunk_tokens=CH, overlap=OV).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        )
    for i, t in enumerate(texts):
        assert sorted(got.get(i, [])) == replay(t), i

    # overlap invariant: consecutive chunks share exactly OV tokens
    chunks = sorted(got[0])
    for (_, a, na), (_, b, _) in zip(chunks, chunks[1:]):
        assert a.split()[step:] == b.split()[: na - step]


def test_packing_invariants(spark):
    """pack_chunks: within a shard, chunks stay in (doc_id, chunk_idx)
    order, offsets are the exclusive running token total, and bin ids are
    contiguous non-decreasing windows of the offset stream."""
    from assemblagedb_spark.operators.chunking import pack_chunks

    rows = [
        (d, c, n)
        for d in range(10)
        for c, n in enumerate([7, 13, 5, 64, 3][: (d % 5) + 1])
    ]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx long, n_tokens long"
    )
    BUDGET, SHARDS = 32, 4
    out = pack_chunks(chunks, budget=BUDGET, n_shards=SHARDS).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["bin_id"] >> 40, []).append(r)
    assert set(by_shard) == {d % SHARDS for d, _, _ in rows}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r["doc_id"], r["chunk_idx"]))
        total = 0
        prev_bin = None
        for r in rs:
            assert r["doc_id"] % SHARDS == shard
            assert r["bin_offset"] == total  # exclusive running total
            b = r["bin_id"] - (shard << 40)
            assert b == total // BUDGET  # start-offset window
            if prev_bin is not None:
                assert b >= prev_bin  # bins never rewind
            prev_bin = b
            total += r["n_tokens"]


def test_hash_sampling_determinism_and_consistency(spark):
    """Hash sampling is partitioning-invariant (same keys selected at any
    repartition) and cross-table consistent (a key samples identically
    wherever it appears); stratified rates apply per stratum."""
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, rate_permille=100).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(df.repartition(13), rate_permille=100).collect()
    }
    assert a == b and 120 <= len(a) <= 280  # ~10% of 2000, hash-spread
    # nested rates: a 5% sample is a subset of the 10% sample (same seed)
    c = {r["doc_id"] for r in hash_sample(df, rate_permille=50).collect()}
    assert c <= a
    # cross-table consistency: the same keys survive in a different table
    other = df.withColumn("payload", F.col("doc_id") * 2)
    d = {r["doc_id"] for r in hash_sample(other, rate_permille=100).collect()}
    assert d == a

    strat = df.withColumn(
        "grp", F.when(F.col("doc_id") % 2 == 0, "keep").otherwise("drop")
    )
    out = stratified_sample(
        strat, strata_col="grp", rates_permille={"keep": 1000},
        key_col="doc_id",
    ).collect()
    assert {r["grp"] for r in out} == {"keep"}
    assert len(out) == 1000


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=40
    ),
    st.integers(min_value=0, max_value=5),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mix32_spark_duckdb_python_agree(spark, keys, seed):
    """The portable mixer must agree across Spark (Column), DuckDB (SQL
    text), and python — including negative and full-range int64 inputs
    (the 32-bit input mask prevents int64 overflow / signed-% drift)."""
    import duckdb

    from assemblagedb_spark.functions.core import (
        KNUTH_MULT, MIX32_MOD, MIX32_MULT, mix32_col, mix32_sql,
    )
    from pyspark.sql import functions as F

    def py(x):
        h = ((x & 0x7FFFFFFF) * KNUTH_MULT + seed) % MIX32_MOD
        for _ in range(2):
            h = ((h ^ (h >> 16)) * MIX32_MULT) % MIX32_MOD
        return h ^ (h >> 16)

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got_spark = {r["k"]: r["h"] for r in
                 df.select("k", mix32_col(F.col("k"), seed).alias("h")).collect()}
    con = duckdb.connect()
    got_duck = dict(con.execute(
        f"SELECT k, {mix32_sql('k', seed)} FROM (SELECT unnest(?) AS k)", [keys]
    ).fetchall())
    for k in keys:
        assert got_spark[k] == py(k) == got_duck[k]


@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=30), min_size=1, max_size=20))
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_strhash_spark_duckdb_agree(spark, terms):
    import duckdb

    from assemblagedb_spark.functions.core import (
        STRHASH_BASE, STRHASH_MOD, strhash_duckdb_sql, strhash_spark_sql,
    )
    from pyspark.sql import functions as F

    def py(s):
        h = 0
        for c in s:
            h = (h * STRHASH_BASE + ord(c)) % STRHASH_MOD
        return h

    df = spark.createDataFrame([(t,) for t in terms], "t string")
    got_spark = [r["h"] for r in
                 df.select(F.expr(strhash_spark_sql("t")).alias("h")).collect()]
    con = duckdb.connect()
    got_duck = [con.execute(
        f"SELECT {strhash_duckdb_sql('t')} FROM (SELECT ? AS t)", [t]
    ).fetchone()[0] for t in terms]
    assert sorted(got_spark) == sorted(py(t) for t in terms) == sorted(got_duck)


# ---------------------------------------------------------------------------
# exact_permille (mixture/repeat threshold arithmetic)
# ---------------------------------------------------------------------------

_domains = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    st.tuples(
        st.integers(min_value=1, max_value=10**7),      # count n_d
        st.floats(min_value=0.001, max_value=1.0,
                  allow_nan=False, allow_infinity=False),  # weight w_d
    ),
    min_size=1,
    max_size=5,
)


@given(_domains)
def test_exact_permille_mixture_invariants(dw):
    """Down-sampling mode: the binding domain(s) keep exactly 1000 permille
    (nothing from the most-constrained domain is ever dropped), every
    threshold is in [0, 1000], and the realized rate never exceeds the
    target ratio (floors round down, never up)."""
    from fractions import Fraction

    from assemblagedb_spark.operators.sampling import (
        exact_permille, snap_weight,
    )

    counts = {d: n for d, (n, _) in dw.items()}
    weights = {d: w for d, (_, w) in dw.items()}
    perm = exact_permille(counts, weights, binding="min", cap=1000)
    assert set(perm) == set(counts)
    assert all(0 <= p <= 1000 for p in perm.values())
    wf = {d: snap_weight(weights[d]) for d in counts}
    ratios = {d: Fraction(counts[d]) / wf[d] for d in counts}
    c = min(ratios.values())
    for d, p in perm.items():
        if ratios[d] == c:
            assert p == 1000  # binding pin, exact — never 999
        else:
            # floor never rounds up past the exact target rate
            assert Fraction(p, 1000) <= c * wf[d] / counts[d]
            assert Fraction(p + 1, 1000) > min(
                Fraction(1), c * wf[d] / counts[d]
            ) or p == 1000


@given(_domains)
def test_exact_permille_repeat_invariants(dw):
    """Up-sampling mode: the best-represented domain repeats exactly once
    (permille 1000 — 'nothing is ever dropped'), every other domain's
    repeat rate is >= 1 epoch and <= the cap."""
    from fractions import Fraction

    from assemblagedb_spark.operators.sampling import (
        exact_permille, snap_weight,
    )

    counts = {d: n for d, (n, _) in dw.items()}
    weights = {d: w for d, (_, w) in dw.items()}
    cap = 10_000
    perm = exact_permille(counts, weights, binding="max", cap=cap)
    wf = {d: snap_weight(weights[d]) for d in counts}
    ratios = {d: Fraction(counts[d]) / wf[d] for d in counts}
    c = max(ratios.values())
    for d, p in perm.items():
        if ratios[d] == c:
            assert p == 1000
        else:
            assert 1000 <= p <= cap  # every kept domain sees >= 1 epoch


@given(st.integers(min_value=1, max_value=10**6))
def test_exact_permille_binding_tie_all_pinned(n):
    """Domains with identical n/w are ALL binding and all pin to 1000."""
    from assemblagedb_spark.operators.sampling import exact_permille

    perm = exact_permille(
        {"a": n, "b": 2 * n}, {"a": 0.25, "b": 0.5}, binding="min", cap=1000
    )
    assert perm == {"a": 1000, "b": 1000}


@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1),
             min_size=1, max_size=20),
    st.integers(min_value=1, max_value=2147483646),
    st.integers(min_value=0, max_value=2147483646),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_universal_hash_spark_duckdb_python_agree(spark, gs, a, b):
    """(a*g + b) mod P must be bit-identical in Spark, DuckDB and python —
    the minhash primitive every signature/band derives from."""
    import duckdb

    from assemblagedb_spark.functions.core import (
        MINHASH_PRIME, universal_hash_sql,
    )
    from pyspark.sql import functions as F

    expr = universal_hash_sql("g", a, b)
    df = spark.createDataFrame([(g,) for g in gs], "g long")
    got_spark = [r["h"] for r in
                 df.select(F.expr(expr).alias("h")).collect()]
    con = duckdb.connect()
    got_duck = [r[0] for r in con.execute(
        f"SELECT {expr} FROM (SELECT unnest(?) AS g)", [gs]
    ).fetchall()]
    want = [(g * a + b) % MINHASH_PRIME for g in gs]
    assert got_spark == want == got_duck


def test_duckdb_grams_select_matches_spark_grams(spark):
    """The DuckDB (id, gram) explode helper must produce the same gram
    multiset as the Spark-side array expression, per row."""
    import duckdb

    from assemblagedb_spark.functions.core import (
        duckdb_grams_select, spark_grams_array_expr,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "foobar"), (2, ""), (3, "a"), (4, "foo bar baz"),
        (5, "Ünïçødé πρόλογος"), (6, "漢字テスト"), (7, "🎉𝄞😀"),
        (8, "mixed ascii 漢 and 🎉 astral"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_spark = sorted(
        (r["doc_id"], g)
        for r in df.select(
            "doc_id", F.expr(spark_grams_array_expr("text")).alias("gs")
        ).collect()
        for g in r["gs"]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{s}')" for i, s in rows)
                + ") v(doc_id, text)")
    got_duck = sorted(con.execute(
        f"SELECT doc_id, gram FROM {duckdb_grams_select('t', 'doc_id', 'text')}"
    ).fetchall())
    assert got_spark == got_duck and len(got_spark) > 0


def test_merge_compact_keeps_latest_drops_tombstoned(spark):
    """Compaction (kv lib.rs:233-277): latest version per key survives,
    tombstoned keys vanish entirely."""
    from assemblagedb_spark.operators.mvcc import current

    df = spark.createDataFrame(
        [
            ("k1", 1, False, "a"),
            ("k1", 2, False, "b"),   # survives as the latest
            ("k2", 1, False, "c"),
            ("k2", 3, True, None),   # tombstoned at ts 3 -> dropped
            ("k3", 5, False, "d"),   # single live version survives
        ],
        "key string, ts long, is_removed boolean, value string",
    )
    got = {r["key"]: (r["ts"], r["value"])
           for r in current(df, ["key"]).collect()}
    assert got == {"k1": (2, "b"), "k3": (5, "d")}


def test_register_views_enables_spark_sql(spark, sf_dir):
    from assemblagedb_spark.sources.tpch import register_views

    register_views(spark, sf_dir, names=["region", "nation"])
    n = spark.sql(
        "SELECT COUNT(*) AS c FROM nation JOIN region "
        "ON n_regionkey = r_regionkey"
    ).collect()[0]["c"]
    assert n == 25
