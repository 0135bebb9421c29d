"""Round-3 operators: verified-LSH dedup companions (containment), splits,
per-group selection, multi-source BFS, chunk dedup, unigram surprisal —
hand-computable mini fixtures + the determinism/scale properties each one
claims.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_split_assign_partitions_and_determinism(spark):
    from assemblagedb_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    out = split_assign(df, val_permille=10, test_permille=10, seed=3)
    rows = out.collect()
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    # ~1%/1%/98% with hash variance; every row assigned exactly one split
    assert sum(counts.values()) == 5000
    assert 20 <= counts["val"] <= 90 and 20 <= counts["test"] <= 90
    assert counts["train"] >= 4800
    # determinism under repartitioning: identical assignment per key
    again = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            df.repartition(13), val_permille=10, test_permille=10, seed=3
        ).collect()
    }
    assert {r["doc_id"]: r["split"] for r in rows} == again


def test_best_per_group_total_order(spark):
    from assemblagedb_spark.operators.selection import best_per_group

    rows = [
        ("a", 1, 10), ("a", 2, 30), ("a", 3, 30), ("a", 4, 5),
        ("b", 5, 7),
    ]
    df = spark.createDataFrame(rows, "grp string, doc_id long, score long")
    out = best_per_group(
        df, ["grp"], [F.col("score").desc(), F.col("doc_id").asc()], keep=2
    )
    got = sorted((r["grp"], r["doc_id"]) for r in out.collect())
    # group a: the two score-30 rows, tie broken by ascending id
    assert got == [("a", 2), ("a", 3), ("b", 5)]


def test_bfs_depth_min_hop_and_early_exit(spark):
    from assemblagedb_spark.operators.components import bfs_depth

    #    1 -> 2 -> 3 -> 4         seed {1, 3}: 3 is depth 0, not 2
    #    plus a cycle 5 <-> 6 reachable from 1 (cycle-safe revisit guard)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 6), (6, 5)],
        "parent_id long, child_id long",
    )
    seeds = spark.createDataFrame([(1,), (3,)], "node_id long")
    out = {r["node_id"]: r["depth"]
           for r in bfs_depth(e, seeds, max_depth=10).collect()}
    assert out == {1: 0, 3: 0, 2: 1, 5: 1, 4: 1, 6: 2}


def test_bfs_depth_exit_survives_probe_overcount(spark, monkeypatch):
    # observe() metrics may over-count under task retries; the exit test
    # must not turn an over-count into an early stop. Skew the FIRST
    # round probe (the second Observation made) by +1: on the chain
    # 0->1->...->5 an exit test that compares counts across jobs stops at
    # depth 1, the per-round new-row probe still reaches depth 5.
    import pyspark.sql

    from assemblagedb_spark.operators.components import bfs_depth

    real = pyspark.sql.Observation
    made = []

    class _OverCounting(real):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            made.append(self)

        @property
        def get(self):
            vals = super().get
            if len(made) > 1 and self is made[1]:
                return {k: (v or 0) + 1 for k, v in vals.items()}
            return vals

    monkeypatch.setattr(pyspark.sql, "Observation", _OverCounting)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "parent_id long, child_id long"
    )
    seeds = spark.createDataFrame([(0,)], "node_id long")
    out = {r["node_id"]: r["depth"]
           for r in bfs_depth(e, seeds, max_depth=10).collect()}
    assert len(made) >= 2
    assert out == {i: i for i in range(6)}


def test_ngram_containment_detects_subdocument(spark):
    from assemblagedb_spark.operators.dedup import (
        containment_from_overlap,
        ngram_overlap_pairs,
    )

    small = "the quick brown fox"
    big = small + " jumps over the lazy dog and keeps running far away"
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = containment_from_overlap(ngram_overlap_pairs(docs, cand)).first()
    # every 4-gram of the small doc except its end-padding boundary grams
    # appears in the big doc: containment_a is near 1, containment_b is not
    assert r["containment_a"] > 0.8
    assert r["containment_b"] < 0.5
    assert r["inter"] <= r["n_a"] and r["inter"] <= r["n_b"]


def test_chunk_dedup_removes_cross_doc_chunks(spark):
    from assemblagedb_spark.operators.textstats import chunk_dedup

    boiler = "one two three four"  # shared 4-word chunk
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta eta theta"),
            (3, "totally unique words here only once ever"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           chunk_dedup(docs, chunk_words=4, df_threshold=2).collect()}
    # the shared leading chunk is boilerplate; each doc keeps its tail
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[2]["clean_text"] == "epsilon zeta eta theta"
    # unique doc untouched (ceil(7/4) = 2 chunks, none dup)
    assert out[3]["n_dup_chunks"] == 0
    assert out[3]["clean_text"] == "totally unique words here only once ever"
    # empty doc present with zeros
    assert out[4]["n_chunks"] == 0 and out[4]["clean_text"] == ""
    # within-doc repetition alone is NOT boilerplate (distinct-doc freq)
    solo = spark.createDataFrame(
        [(9, "rep rep rep rep rep rep rep rep")], "doc_id long, text string"
    )
    srow = chunk_dedup(solo, chunk_words=4, df_threshold=2).first()
    assert srow["n_dup_chunks"] == 0  # same chunk twice, but only 1 doc
    assert srow["clean_text"] == "rep rep rep rep rep rep rep rep"


def test_unigram_surprisal_rare_beats_common(spark):
    from assemblagedb_spark.operators.textstats import unigram_surprisal

    # corpus: 'the' appears 20x, 'zyx' once -> total 21+2=?? build explicit
    docs = spark.createDataFrame(
        [(1, " ".join(["the"] * 20)), (2, "zyx the"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    total = 22  # 21x 'the' + 1x 'zyx'
    # doc1: 20 tokens of freq 21 -> surp digits(22//21=1)=1 each
    assert out[1]["n_tokens"] == 20 and out[1]["surprisal_sum"] == 20
    assert out[1]["milli_surprisal"] == 1000
    # doc2: zyx digits(22//1=22)=2, the=1 -> sum 3, milli=1500
    assert out[2]["surprisal_sum"] == 3
    assert out[2]["milli_surprisal"] == 1500
    # empty doc present with zeros
    assert out[3]["n_tokens"] == 0 and out[3]["milli_surprisal"] == 0


def test_rollup_cascade_matches_direct(spark):
    from assemblagedb_spark.operators.rollup import rollup_cascade

    rows = [(i, i % 3, (i * 7919) % 100_000_000_000) for i in range(200)]
    ev = spark.createDataFrame(rows, "event_id long, event_type long, ts long")
    out = rollup_cascade(
        ev, F.lit(1),
        bucket_ns=[("10s", 10_000_000_000), ("1m", 60_000_000_000)],
    )
    got = {(r["level"], r["bucket_start"], r["event_type"]): r["n"]
           for r in out.collect()}
    # direct aggregation at the coarse level must equal the cascaded one
    direct = {}
    for _, g, ts in rows:
        b = ts - ts % 60_000_000_000
        direct[("1m", b, g)] = direct.get(("1m", b, g), 0) + 1
    assert {k: v for k, v in got.items() if k[0] == "1m"} == direct
    # bucket starts nest: every 10s bucket lies inside a 1m bucket total
    fine_total = sum(v for k, v in got.items() if k[0] == "10s")
    coarse_total = sum(v for k, v in got.items() if k[0] == "1m")
    assert fine_total == coarse_total == len(rows)
    # non-multiple widths rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rollup_cascade(ev, F.lit(1),
                       bucket_ns=[("7s", 7_000_000_000), ("10s", 10_000_000_000)])


def test_quantize_int8_range_and_roundtrip(spark):
    from assemblagedb_spark.operators.vectors import quantize_int8

    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {(r["vec_id"], r["pos"]): r for r in quantize_int8(emb).collect()}
    # abs-max component maps to ±127 exactly
    assert rows[(1, 1)]["q"] == -127
    assert rows[(1, 0)]["q"] == 64   # 0.5/1.0*127 = 63.5 -> floor(+0.5) = 64
    assert rows[(1, 2)]["q"] == 32   # 31.75 -> 32
    assert rows[(3, 0)]["q"] == 127
    # zero vector: q=0, scale 0
    assert rows[(2, 0)]["q"] == 0 and rows[(2, 0)]["scale_micro"] == 0
    # scale is the abs-max in micro units
    assert rows[(1, 0)]["scale_micro"] == 1_000_000
    # every q within the symmetric int8 envelope
    assert all(-127 <= r["q"] <= 127 for r in rows.values())


def test_hll_rollup_merge_equals_direct(spark):
    from assemblagedb_spark.operators.sketches import hll_registers, hll_rollup

    rows = [(i % 7, str(i % 3), (i * 31) % 50) for i in range(300)]
    df = spark.createDataFrame(rows, "day long, typ string, user long")
    out = hll_rollup(df, "user", [["typ", "day"], ["typ"], []], m=32)
    # level 1 (per-typ) must equal registers computed directly from raw
    direct = {(r["typ"], r["bucket"]): r["register"]
              for r in hll_registers(df, "user", ["typ"], m=32).collect()}
    lvl1 = {(r["typ"], r["bucket"]): r["register"]
            for r in out.filter("level = 1").collect()}
    assert lvl1 == direct
    # level 2 (grand total): one register set, day/typ NULL
    lvl2 = out.filter("level = 2").collect()
    assert all(r["typ"] is None and r["day"] is None for r in lvl2)
    total = {r["bucket"]: r["register"]
             for r in hll_registers(df, "user", [], m=32).collect()}
    assert {r["bucket"]: r["register"] for r in lvl2} == total
    # level chains must drop columns, never add
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hll_rollup(df, "user", [["typ"], ["typ", "day"]], m=32)


def _py_k_core(rows, k):
    """Reference peel over a collected (parent_id, child_id) edge list:
    drop every node under degree k at once until stable. Returns sorted
    (node_id, in-core degree) pairs of the undirected simple graph."""
    adj: dict = {}
    for a, b in rows:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        keep = {u for u in alive if len(adj[u] & alive) >= k}
        if keep == alive:
            return sorted((u, len(adj[u] & alive)) for u in alive)
        alive = keep


def test_k_core_peels_to_stable_core(spark):
    from assemblagedb_spark.operators.components import k_core_delta

    # triangle 1-2-3 (the 2-core) + a tail 3-4-5-6 that peels away one
    # node per round (exercises multi-round convergence), + isolated pair
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (10, 11)],
        "parent_id long, child_id long",
    )
    out = {r["node_id"]: r["degree"] for r in k_core_delta(e, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k=1 keeps everything with at least one neighbor
    k1 = {r["node_id"] for r in k_core_delta(e, k=1).collect()}
    assert k1 == {1, 2, 3, 4, 5, 6, 10, 11}
    # k high enough empties the graph
    assert k_core_delta(e, k=3).count() == 0


def test_k_core_delta_parity(spark, sf_dir):
    # the frontier-delta formulation must equal a plain simultaneous peel
    # on every (graph, k): the hand-built multi-round fixture, k sweep,
    # AND the real harness graph the gate runs on
    from assemblagedb_spark.harness import _shared_graph_edges
    from assemblagedb_spark.operators.components import k_core_delta

    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (10, 11),
            (6, 4), (11, 12), (12, 10)]
    e = spark.createDataFrame(rows, "parent_id long, child_id long")
    for k in (1, 2, 3):
        b = sorted(map(tuple, k_core_delta(e, k=k).collect()))
        assert _py_k_core(rows, k) == b, f"delta parity broken at k={k}"

    g = _shared_graph_edges(spark, sf_dir)
    a = _py_k_core([(r["parent_id"], r["child_id"]) for r in g.collect()], 2)
    b = sorted(map(tuple, k_core_delta(g, k=2, assume_distinct=True).collect()))
    assert a and a == b

    # seeded random graphs across density regimes — long peel cascades,
    # isolated nodes, and multi-round partial deaths all occur here
    import random

    for seed, n, m in ((3, 60, 50), (5, 60, 90), (9, 40, 200)):
        rng = random.Random(seed)
        rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        re_ = spark.createDataFrame(rows, "parent_id long, child_id long")
        for k in (2, 3):
            b = sorted(map(tuple, k_core_delta(re_, k=k).collect()))
            assert _py_k_core(rows, k) == b, f"seed={seed} k={k}"


def _count_broadcast_hints(monkeypatch) -> list:
    """Record every ``F.broadcast`` hint attached from here on: a guard
    that reads its constant attaches none once the constant is 0."""
    import pyspark.sql.functions as PF

    made = []
    real = PF.broadcast

    def counting(df):
        made.append(df)
        return real(df)

    monkeypatch.setattr(PF, "broadcast", counting)
    return made


def test_k_core_delta_mode_parity(spark, monkeypatch):
    # the frontier join's broadcast is chosen from the probe's runtime
    # frontier count; _KCORE_BROADCAST_MAX_DEAD=0 turns it off (shuffle
    # joins every round) — both plans must emit identical cores across
    # the full seeded sweep
    import random

    from assemblagedb_spark.operators import components as C

    hints = _count_broadcast_hints(monkeypatch)
    for seed, n, m in ((3, 60, 50), (5, 60, 90), (9, 40, 200)):
        rng = random.Random(seed)
        rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        e = spark.createDataFrame(rows, "parent_id long, child_id long")
        for k in (2, 3):
            default = sorted(map(tuple, C.k_core_delta(e, k=k).collect()))
            with monkeypatch.context() as mp:
                mp.setattr(C, "_KCORE_BROADCAST_MAX_DEAD", 0)
                before = len(hints)
                no_broadcast = sorted(map(tuple, C.k_core_delta(e, k=k).collect()))
                assert len(hints) == before, "guard constant not read"
            assert default == no_broadcast, f"seed={seed} k={k}"
    assert hints, "the default guard never broadcast"


def test_k_core_raises_on_nonconvergence(spark, monkeypatch):
    # an exhausted round budget with peeling still in flight must raise,
    # not silently return a superset core with sub-k degrees
    import pytest as _pytest

    from assemblagedb_spark.operators import components as C

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "parent_id long, child_id long"
    )
    monkeypatch.setattr(C, "_KCORE_MAX_ROUNDS", 2)
    with _pytest.raises(RuntimeError, match="did not stabilize"):
        C.k_core_delta(e, k=2)
    # with budget, the acyclic path peels fully to an empty core
    monkeypatch.setattr(C, "_KCORE_MAX_ROUNDS", 50)
    assert C.k_core_delta(e, k=2).count() == 0


def test_weighted_sample_per_row_rates(spark):
    from assemblagedb_spark.operators.sampling import weighted_sample

    rows = ([(i, 1000) for i in range(100)]          # always kept
            + [(1000 + i, 0) for i in range(100)]    # never kept
            + [(2000 + i, 500) for i in range(2000)])  # ~half kept
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = weighted_sample(df, F.col("w"))
    kept = {r["doc_id"] for r in out.collect()}
    assert all(i in kept for i in range(100))
    assert not any(1000 + i in kept for i in range(100))
    mid = sum(1 for k in kept if k >= 2000)
    assert 850 <= mid <= 1150
    # deterministic under repartitioning
    again = {r["doc_id"] for r in
             weighted_sample(df.repartition(9), F.col("w")).collect()}
    assert kept == again
    # clamping: weights beyond [0, 1000] behave as the bounds
    wild = spark.createDataFrame(
        [(1, 99999), (2, -50)], "doc_id long, w long"
    )
    got = {r["doc_id"] for r in
           weighted_sample(wild, F.col("w")).collect()}
    assert got == {1}


def test_candidate_verify_equals_allpairs_restricted(spark):
    from assemblagedb_spark.operators.dedup import (
        containment_from_overlap,
        jaccard_from_overlap,
        ngram_jaccard_pairs,
        ngram_overlap_pairs,
    )

    # the candidate-bounded plan (pair list BELOW the gram join) must be
    # row-identical to the all-pairs plan filtered to the same pairs —
    # the join reordering is a pure execution-shape change
    docs = spark.createDataFrame(
        [(i, f"shared words {i % 4} tail token{i} more shared body text")
         for i in range(24)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(a, b) for a in range(24) for b in range(24)
         if a < b and (a + b) % 3 == 0],
        "id_a long, id_b long",
    )
    fast = {(r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"])
            for r in jaccard_from_overlap(
                ngram_overlap_pairs(docs, cand), min_jaccard=0.0).collect()}
    slow_all = ngram_jaccard_pairs(docs, min_jaccard=0.0)
    slow = {(r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"])
            for r in slow_all.join(cand, ["id_a", "id_b"]).collect()}
    assert fast == slow and len(fast) > 10
    # containment consistency on the same pairs: same inter/sizes, and
    # containment_a,b = inter/n_a, inter/n_b exactly
    cont = {(r["id_a"], r["id_b"]): r
            for r in containment_from_overlap(
                ngram_overlap_pairs(docs, cand)).collect()}
    assert set(cont) == set(fast)
    for k, (inter, na, nb) in fast.items():
        r = cont[k]
        assert (r["inter"], r["n_a"], r["n_b"]) == (inter, na, nb)
        assert r["containment_a"] == inter / na
        assert r["containment_b"] == inter / nb


def test_bfs_depth_broadcast_guard_parity(spark, monkeypatch):
    # round-9 optimization pin: the frontier/settled broadcast hints are
    # a join-strategy choice driven by the loop's own runtime counts —
    # disabling them (_WALK_BROADCAST_ROWS=0) must attach no hint and
    # yield the identical depth map on a graph whose frontier is
    # revisited across rounds
    from assemblagedb_spark.operators import components as C

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 6), (6, 5), (4, 1)],
        "parent_id long, child_id long",
    )
    seeds = spark.createDataFrame([(1,), (3,)], "node_id long")
    hints = _count_broadcast_hints(monkeypatch)
    with_bcast = {(r["node_id"], r["depth"])
                  for r in C.bfs_depth(e, seeds, max_depth=10).collect()}
    assert hints, "the default guard never broadcast"
    monkeypatch.setattr(C, "_WALK_BROADCAST_ROWS", 0)
    del hints[:]
    no_bcast = {(r["node_id"], r["depth"])
                for r in C.bfs_depth(e, seeds, max_depth=10).collect()}
    assert not hints, "guard constant not read"
    assert with_bcast == no_bcast
    assert dict(with_bcast) == {1: 0, 3: 0, 2: 1, 5: 1, 4: 1, 6: 2}
