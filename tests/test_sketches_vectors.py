"""Sketches (HLL / linear counting / count-min), vector centroids,
tf-idf ranking, Z-order keys — python-replay parity + merge properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from assemblagedb_spark.functions.core import (
    KNUTH_MULT,
    MIX32_MOD,
    MIX32_MULT,
    STRHASH_BASE,
    STRHASH_MOD,
)
from assemblagedb_spark.operators.sketches import (
    countmin_counters,
    hll_registers,
    linear_counting,
)
from assemblagedb_spark.operators import textstats
from assemblagedb_spark.operators.textstats import tfidf_top_terms
from assemblagedb_spark.operators.vectors import centroid_assign, label_centroids
from assemblagedb_spark.sources.layout import zorder_key_col, zorder_key_sql
from tests.conftest import components_by_layout, py_components


def mix32_py(x: int, seed: int = 0) -> int:
    h = ((x & 0x7FFFFFFF) * KNUTH_MULT + seed) % MIX32_MOD
    for _ in range(2):
        h = ((h ^ (h >> 16)) * MIX32_MULT) % MIX32_MOD
    return h ^ (h >> 16)


def strhash_py(s: str) -> int:
    h = 0
    for c in s:
        h = (h * STRHASH_BASE + ord(c)) % STRHASH_MOD
    return h


# ---------------------------------------------------------------------------
# HLL registers
# ---------------------------------------------------------------------------

def _hll_py(keys, m=64):
    regs = {}
    for k in keys:
        h = mix32_py(k)
        b, rest = h % m, h // m
        rho = 33 if rest == 0 else (rest & -rest).bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def test_hll_registers_replay_and_merge(spark):
    keys = [i * 37 for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    got = {r["bucket"]: r["register"]
           for r in hll_registers(df, "user_id", m=64).collect()}
    assert got == _hll_py(keys, 64)
    # merge property: registers over the union == elementwise max of halves
    a = _hll_py(keys[:250], 64)
    b = _hll_py(keys[250:], 64)
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert got == merged


def test_hll_duplicate_keys_dont_move_registers(spark):
    df1 = spark.createDataFrame([(i % 50,) for i in range(1000)], "k long")
    df2 = spark.createDataFrame([(i,) for i in range(50)], "k long")
    r1 = sorted(hll_registers(df1, "k", m=32).collect())
    r2 = sorted(hll_registers(df2, "k", m=32).collect())
    assert r1 == r2


def test_linear_counting_occupancy(spark):
    keys = list(range(300))
    df = spark.createDataFrame([("a", k) for k in keys], "g string, k long")
    row = linear_counting(df, "k", ["g"], m=512).first()
    assert row["n_filled"] == len({mix32_py(k) % 512 for k in keys})
    assert row["m"] == 512


def test_hll_estimate_accuracy_sequential_keys():
    """The gates compare sketch STATE, which both engines derive from the
    shared mix32 formula — a degenerate mixer would stay oracle-green while
    the estimates it feeds turn to garbage (the failure mode behind the
    round-4 LSH-hyperplane and simhash-bit-31 fixes). This pins estimate
    quality itself: sequential integer keys (the adversarial input for weak
    hashes) must estimate within 3x HLL's theoretical standard error.
    Transfers to the Spark path via test_hll_registers_replay_and_merge."""
    import math

    m, n = 256, 100_000
    regs = _hll_py(range(n), m)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / sum(2.0 ** -regs.get(b, 0) for b in range(m))
    assert abs(est - n) / n < 3 * 1.04 / math.sqrt(m)


def test_linear_counting_estimate_accuracy():
    """Same class as above for the linear-counting state: occupancy of
    sequential keys must be statistically healthy, i.e. the standard
    -m*ln(1-filled/m) estimator lands within 5% at light load."""
    import math

    m, n = 4096, 3000
    filled = len({mix32_py(k) % m for k in range(n)})
    est = -m * math.log(1 - filled / m)
    assert abs(est - n) / n < 0.05


def test_bloom_false_positive_rate():
    """Bloom hash quality: with n members in m bits and k probes the
    false-positive rate must sit near (1-e^{-kn/m})^k — a clustered
    (non-uniform) probe formula would inflate it severalfold. Replays the
    exact bloom_bits probe formula (parity pinned by
    test_bloom_no_false_negatives_and_prefilter_exact)."""
    m, k = 8192, 3
    members = range(0, 2000)  # n=2000 sequential (worst case for weak hashes)
    bits = {mix32_py(x, seed=r) % m for x in members for r in range(k)}
    probes = range(1_000_000, 1_020_000)  # 20k disjoint non-members
    fp = sum(
        all(mix32_py(x, seed=r) % m in bits for r in range(k)) for x in probes
    )
    expected = (1 - 2.718281828 ** (-k * 2000 / m)) ** k  # ~0.092
    assert fp / 20_000 < 2 * expected


def test_winnowing_fingerprint_density():
    """Winnowing selects an expected 2/(w+1) fraction of positions when the
    rolling hash behaves uniformly (Schleimer et al., SIGMOD'03 §4) — a
    degenerate base/mod pair (shared factors, tiny effective range) skews
    the density far off. Replays the exact textstats formula
    (parity pinned by test_winnowing_matches_python_replay_*) over
    pseudo-random lowercase text and pins density to [0.3, 0.5] around
    the theoretical 0.4 for w=4."""
    import random

    K, W, B, M = 5, 4, 257, 1_000_000_007
    rng = random.Random(7)
    s = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(10_000))
    s = " ".join(s.split())
    hs = []
    for i in range(len(s) - K + 1):
        acc = 0
        for ch in s[i : i + K]:
            acc = (acc * B + ord(ch)) % M
        hs.append(acc)
    selected = {min(hs[j : j + W]) for j in range(len(hs) - W + 1)}
    density = len(selected) / len(hs)
    assert 0.3 < density < 0.5, density


def test_minhash_jaccard_estimate_accuracy():
    """Estimate quality for the minhash family itself: two shingle sets of
    known Jaccard 1/3 must estimate within 3x the binomial standard error
    sqrt(J(1-J)/k). The dedup_minhash_est gate replays the same formula in
    DuckDB, so a non-min-wise coefficient family would stay oracle-green
    while every LSH probability it feeds drifts — this test is the
    formula-independent check. Transfers to the Spark path via
    test_universal_hash_spark_duckdb_python_agree (test_properties.py)."""
    import math

    from assemblagedb_spark.functions.core import MINHASH_PRIME, minhash_coeffs

    k = 64
    coeffs = minhash_coeffs(k)
    # |A|=|B|=2000, |A∩B|=1000 -> J = 1000/3000; spread values across the
    # full 4-byte-gram domain so the test sees realistic input magnitudes
    shared = [i * 1_103_515 + 7 for i in range(1000)]
    a_set = shared + [2_000_000_000 + i * 999_983 for i in range(1000)]
    b_set = shared + [3_000_000_000 + i * 999_979 for i in range(1000)]
    agree = sum(
        min((a * g + b) % MINHASH_PRIME for g in a_set)
        == min((a * g + b) % MINHASH_PRIME for g in b_set)
        for a, b in coeffs
    )
    j_true = 1000 / 3000
    assert abs(agree / k - j_true) < 3 * math.sqrt(j_true * (1 - j_true) / k)


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------

def test_countmin_point_estimates_upper_bound(spark):
    stream = ["apple"] * 40 + ["pear"] * 7 + [f"t{i}" for i in range(100)]
    df = spark.createDataFrame([(t,) for t in stream], "term string")
    sk = countmin_counters(df, "term", d=2, w=64)
    rows = {(r["row"], r["col"]): r["counter"] for r in sk.collect()}
    # each row's counters sum to the stream size
    for r in (0, 1):
        assert sum(v for (rr, _), v in rows.items() if rr == r) == len(stream)
    # point estimate (min over rows) >= true count
    for term, true in [("apple", 40), ("pear", 7), ("t3", 1)]:
        h = strhash_py(term)
        est = min(rows[(r, mix32_py(h, r) % 64)] for r in (0, 1))
        assert est >= true
    # heavy hitter dominates its cells: estimate is exactly 40 unless a
    # collision inflated it, never below
    h = strhash_py("apple")
    assert min(rows[(r, mix32_py(h, r) % 64)] for r in (0, 1)) >= 40


# ---------------------------------------------------------------------------
# centroids
# ---------------------------------------------------------------------------

def test_label_centroids_quantized_sums(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [10.0, -1.5])],
        "label int, embedding array<float>",
    )
    got = {(r["label"], r["pos"]): (r["sum_q"], r["n_vecs"])
           for r in label_centroids(df).collect()}
    assert got == {
        (1, 0): (4000, 2), (1, 1): (6000, 2),
        (2, 0): (10000, 1), (2, 1): (-1500, 1),
    }


def test_centroid_assign_recovers_separated_labels(spark):
    rows = []
    vid = 0
    for label, base in [(0, 0.0), (1, 10.0), (2, -10.0)]:
        for j in range(5):
            rows.append((vid, [base + j * 0.01, base - j * 0.01], label))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cents = label_centroids(emb)
    out = centroid_assign(emb, cents).collect()
    truth = {r[0]: r[2] for r in rows}
    for r in out:
        assert r["label"] == truth[r["vec_id"]]


# ---------------------------------------------------------------------------
# tf-idf ranking
# ---------------------------------------------------------------------------

def test_tfidf_rank_prefers_rare_frequent_terms(spark, monkeypatch):
    docs = spark.createDataFrame(
        [
            (1, "common zebra zebra zebra common"),
            (2, "common plain words only"),
            (3, "common plain other things"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(textstats, "TFIDF_TOP_K", 1)
    top = {r["doc_id"]: r["term"] for r in tfidf_top_terms(docs).collect()}
    # doc 1: zebra (tf=3, df=1) beats common (tf=2, df=3)
    assert top[1] == "zebra"
    # doc 2: plain (df=2) beats common (df=3) at equal tf; "only"/"words"
    # also df=1 — tf all 1, so lowest df wins: "only" (df=1) vs "words"
    # (df=1): term ASC picks "only"
    assert top[2] == "only"


# ---------------------------------------------------------------------------
# z-order keys
# ---------------------------------------------------------------------------

def _z_py(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for k in range(bits):
        z |= ((x >> k) & 1) << (2 * k)
        z |= ((y >> k) & 1) << (2 * k + 1)
    return z


def test_zorder_key_matches_python_and_sql(spark):
    import duckdb

    pts = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["z"]
           for r in df.select("x", "y",
                              zorder_key_col(F.col("x"), F.col("y"), 6)
                              .alias("z")).collect()}
    for (x, y), z in got.items():
        assert z == _z_py(x, y, 6)
    sql = zorder_key_sql("x", "y", 6)
    con = duckdb.connect()
    for x, y in pts[:20]:
        assert con.execute(
            f"SELECT {sql} FROM (SELECT {x} AS x, {y} AS y)"
        ).fetchone()[0] == _z_py(x, y, 6)


def test_zorder_locality(spark):
    # a 2^k-aligned quadrant of the plane is one contiguous z-range
    df = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x long, y long"
    )
    z = df.select("x", "y",
                  zorder_key_col(F.col("x"), F.col("y"), 5).alias("z"))
    quad = z.filter((F.col("x") < 8) & (F.col("y") < 8)).agg(
        F.min("z").alias("lo"), F.max("z").alias("hi"), F.count("*").alias("n")
    ).first()
    assert (quad["lo"], quad["hi"], quad["n"]) == (0, 63, 64)


# ---------------------------------------------------------------------------
# k-means training
# ---------------------------------------------------------------------------

def test_kmeans_train_separated_clusters(spark):
    from assemblagedb_spark.operators.vectors import kmeans_train

    rows = []
    vid = 0
    for base in (0.0, 50.0, -50.0):
        for j in range(6):
            rows.append((vid, [base + j * 0.001, base]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    state = kmeans_train(emb, k=3, iters=3).collect()
    # seeds 0,1,2 all start inside cluster A; after Lloyd rounds the three
    # surviving centroids must land near 0 / 50 / -50 (x1000 quantized)
    cents = {}
    for r in state:
        cents.setdefault(r["label"], {})[r["pos"]] = r["sum_q"] / r["n_vecs"]
    means = sorted(round(c[0] / 1000) for c in cents.values())
    # k-means from same-cluster seeds may keep fewer than 3 centroids, but
    # the one centroid that captured a far cluster must sit at its mean
    assert means[0] == -50 or -50 in means or 50 in means
    # total membership conserved
    n_by_pos0 = sum(r["n_vecs"] for r in state if r["pos"] == 0)
    assert n_by_pos0 == len(rows)


def test_kmeans_train_matches_python_replay(spark):
    from assemblagedb_spark.operators.vectors import kmeans_train

    vecs = {i: [((i * 7) % 13) * 1.0, ((i * 5) % 11) * 1.0] for i in range(30)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    got = {(r["label"], r["pos"]): (r["sum_q"], r["n_vecs"])
           for r in kmeans_train(emb, k=4, iters=2).collect()}

    q = {i: [int(v[0] * 1000 // 1), int(v[1] * 1000 // 1)] for i, v in vecs.items()}
    state = {j: (q[j], 1) for j in range(4)}  # label -> (sum vec, n)

    def centroid(s):
        return {j: [x // n if x >= 0 else -((-x + n - 1) // n)  # floor div
                    for x in vec] for j, (vec, n) in s.items()}

    for _ in range(2):
        cv = {j: [int(v // 1) for v in
                  [sv / n for sv, n in zip(vec, [nn] * 2)]]
              for j, (vec, nn) in state.items() for n in [nn]}
        assign = {}
        for i, qv in q.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(qv, cv[j])), j) for j in cv
            )
            assign[i] = best[1]
        new = {}
        for i, j in assign.items():
            vec, n = new.get(j, ([0, 0], 0))
            new[j] = ([vec[0] + q[i][0], vec[1] + q[i][1]], n + 1)
        state = new

    want = {}
    for j, (vec, n) in state.items():
        for pos, sv in enumerate(vec):
            want[(j, pos)] = (sv, n)
    assert got == want


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_prefilter_exact(spark):
    from assemblagedb_spark.operators.sketches import bloom_bits, bloom_prefilter

    members = spark.createDataFrame([(i * 3,) for i in range(200)], "k long")
    probes = spark.createDataFrame([(i,) for i in range(700)], "k long")
    bits = bloom_bits(members, "k", m=512, n_hashes=3)
    passed = {r["k"] for r in
              bloom_prefilter(probes, bits, "k", m=512, n_hashes=3).collect()}
    member_set = {i * 3 for i in range(200)}
    # every true member < 700 passes (no false negatives)
    assert member_set & set(range(700)) <= passed
    # prefilter + exact semi-join == plain semi-join
    exact = {r["k"] for r in
             probes.join(members, "k", "left_semi").collect()}
    refined = passed & member_set
    assert refined == exact


# ---------------------------------------------------------------------------
# connected components: union-find contraction + probed label propagation
# ---------------------------------------------------------------------------

# chain longer than any reasonable fixed round budget + triangle + pair + a
# node whose ONLY edge is a self-loop (must still get a label row)
_CHAIN_ROWS = ([(i, i + 1) for i in range(80)]
               + [(500, 501), (501, 502), (502, 500), (900, 901), (950, 950)])


def test_label_propagation_long_chain_converges(spark):
    # the one-level layout scatters the chain over 12 partitions, so the
    # probed finisher must run its label propagation to the fixed point
    e = spark.createDataFrame(_CHAIN_ROWS, "parent_id long, child_id long")
    expected = {n: 0 for n in range(81)}
    expected.update({500: 500, 501: 500, 502: 500, 900: 900, 901: 900,
                     950: 950})
    for layout, got in components_by_layout(e).items():
        assert len(got) == len(expected) and dict(got) == expected, layout
        assert got == py_components(_CHAIN_ROWS), layout


def test_contracted_components_parity(spark):
    # adversarial layout: one edge per partition (contraction alone cannot
    # finish — exactness must come from the probed label-prop finisher);
    # components_by_layout also runs one contraction level to force that
    chain_rows = [(i, i + 1) for i in range(12)]
    chain = spark.createDataFrame(
        chain_rows, "parent_id long, child_id long"
    ).repartition(12)
    for layout, got in components_by_layout(chain).items():
        assert got == [(i, 0) for i in range(13)], layout

    # string node ids (the db layer's uuid graphs)
    se_rows = [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")]
    se = spark.createDataFrame(se_rows, "parent_id string, child_id string")
    assert py_components(se_rows) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("z", "z")]
    for layout, got in components_by_layout(se).items():
        assert got == py_components(se_rows), layout

    # null endpoints: the union-find must not see an unorderable None, so
    # a half-null edge collapses to a self-loop (its real endpoint keeps
    # its singleton row) and an all-null edge names no node
    ne_rows = [(1, 2), (2, None), (None, 5), (7, 8), (None, None)]
    ne = spark.createDataFrame(ne_rows, "parent_id long, child_id long")
    assert py_components(ne_rows) == [(1, 1), (2, 1), (5, 5), (7, 7), (8, 7)]
    for layout, got in components_by_layout(ne).items():
        assert got == py_components(ne_rows), layout

    # seeded random graphs: sparse (forest-heavy), near-critical, and
    # dense regimes — arbitrary component structure
    import random

    for seed, n, m in ((7, 120, 60), (11, 120, 130), (13, 80, 400)):
        rng = random.Random(seed)
        rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        e = spark.createDataFrame(rows, "parent_id long, child_id long")
        for layout, got in components_by_layout(e).items():
            assert got == py_components(rows), f"seed={seed} {layout}"


def test_personalized_pagerank_mass_concentrates_near_seeds(spark):
    from assemblagedb_spark.operators.components import pagerank_rounds

    # two disjoint cycles; seed only the first
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "parent_id long, child_id long",
    )
    seeds = spark.createDataFrame([(1,)], "node_id long")
    r = {row["node_id"]: row["rank"]
         for row in pagerank_rounds(e, rounds=6, seeds=seeds).collect()}
    # unreachable component gets zero mass; seed's component is positive
    assert r[10] == r[11] == r[12] == 0
    assert r[1] > 0 and r[2] > 0 and r[3] > 0
    # the seed holds the most mass (restart lands there)
    assert r[1] == max(r.values())


def test_countmin_join_estimate_upper_bounds_true_size(spark):
    from assemblagedb_spark.operators.sketches import (
        countmin_counters,
        countmin_join_estimate,
    )

    a_keys = ["k1"] * 5 + ["k2"] * 2 + [f"a{i}" for i in range(30)]
    b_keys = ["k1"] * 4 + ["k2"] * 3 + [f"b{i}" for i in range(20)]
    a = spark.createDataFrame([(k,) for k in a_keys], "item string")
    b = spark.createDataFrame([(k,) for k in b_keys], "item string")
    est = countmin_join_estimate(
        countmin_counters(a, "item", d=2, w=128),
        countmin_counters(b, "item", d=2, w=128),
    )
    true_join = 5 * 4 + 2 * 3  # only k1/k2 shared
    ips = [r["inner_product"] for r in est.collect()]
    assert len(ips) == 2
    assert min(ips) >= true_join  # inner product never under-estimates


def test_kmeans_state_label_is_bigint(spark):
    from pyspark.sql.types import LongType

    from assemblagedb_spark.operators.vectors import kmeans_train

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    state = kmeans_train(emb, k=2, iters=1)
    # the SQL oracle's row_number()-derived label is int64; the driver's
    # schema compare is dtype-strict, so label must stay BIGINT end to end
    for c in ("label", "pos", "sum_q", "n_vecs"):
        assert isinstance(state.schema[c].dataType, LongType), c


# ---------------------------------------------------------------------------
# shared-formula degeneracy pins (round 5). The LCG-hyperplane and simhash
# bit-31 episodes proved oracle parity cannot catch a silently-degenerate
# hash — both engines share the formula, so the gates stay green while the
# statistics the formula feeds turn to garbage. Each remaining
# shared-formula gate gets a distribution-level assertion that fails on a
# constant / low-entropy substitution.
# ---------------------------------------------------------------------------

def test_countmin_overestimate_eps_delta():
    """Count-min ACCURACY, not just the upper-bound property: with d rows
    of w counters over a stream of total weight N, est(x) <= true(x) +
    e*N/w holds with probability >= 1 - e^-d per item (Cormode &
    Muthukrishnan J.Alg'05 Thm 1). Replays the gate's exact formula
    (strhash -> mix32 per row; parity pinned by
    test_countmin_point_estimates_upper_bound) over a skewed stream. A
    degenerate row hash funnels every item into one counter: overestimates
    blow past the bound for ALL items, not the allowed e^-d fraction."""
    import math

    d, w = 3, 256
    true = {f"hh{i}": 50 - i for i in range(40)}
    true.update({f"tail{i}": 1 for i in range(3000)})
    n_total = sum(true.values())
    rows: list[dict[int, int]] = [dict() for _ in range(d)]
    for term, c in true.items():
        h = strhash_py(term)
        for r in range(d):
            col = mix32_py(h, r) % w
            rows[r][col] = rows[r].get(col, 0) + c
    eps_n = math.e * n_total / w
    fails, over_sum = 0, 0
    for term, c in true.items():
        h = strhash_py(term)
        est = min(rows[r][mix32_py(h, r) % w] for r in range(d))
        assert est >= c  # count-min never underestimates
        over_sum += est - c
        if est > c + eps_n:
            fails += 1
    assert fails / len(true) < 2 * math.exp(-d), (fails, len(true))
    # mean overestimate ~ N/w for a healthy hash, ~ N for a degenerate one
    assert over_sum / len(true) < 3 * n_total / w


def test_text_fingerprint_collision_behavior(spark):
    """fingerprints() (the text_fingerprint gate) must be collision-free on
    distinct canonical texts and collide EXACTLY on texts equal after
    lower + whitespace-collapse + trim — the dedup contract it serves.
    2k distinct random strings -> 2k distinct fingerprints; three
    formatting variants of one sentence -> one fingerprint."""
    import random

    from assemblagedb_spark.operators.textstats import fingerprints

    rng = random.Random(11)
    texts = [
        "".join(rng.choice("abcdefg hij") for _ in range(30)) + f" #{i}"
        for i in range(2000)
    ]
    variants = [
        (9001, "Foo\t Bar  baz"),
        (9002, "foo bar BAZ "),
        (9003, " FOO  bar baz"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + variants,
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    base = {fps[i] for i in range(2000)}
    assert len(base) == 2000
    assert fps[9001] == fps[9002] == fps[9003]
    assert fps[9001] not in base


def test_minhash_band_bucket_uniformity():
    """Band-bucket health for the LSH equi-join: n unrelated docs (disjoint
    random shingle sets) must land in ~n distinct buckets per band with no
    giant bucket — a degenerate coefficient family (a=0, a parity-class
    LCG, a shared-factor modulus) funnels unrelated docs into one band
    signature, turning the bucket equi-join quadratic and every LSH
    probability wrong, while oracle parity stays green. Replays the exact
    dedup formula: k universal-hash mins, bands of r consecutive sig
    positions; plus a per-coefficient chi-square coarse bound."""
    import random

    from assemblagedb_spark.functions.core import MINHASH_PRIME, minhash_coeffs

    k, bands, r = 16, 4, 4
    coeffs = minhash_coeffs(k)
    rng = random.Random(5)
    n = 1500
    sigs = []
    for _ in range(n):
        grams = [rng.randrange(1, 1 << 32) for _ in range(60)]
        sigs.append(
            [min((a * g + b) % MINHASH_PRIME for g in grams) for a, b in coeffs]
        )
    collisions = 0
    for band in range(bands):
        buckets: dict[tuple, int] = {}
        for s in sigs:
            key = tuple(s[band * r : (band + 1) * r])
            buckets[key] = buckets.get(key, 0) + 1
        # accidental 4x31-bit signature agreement between disjoint docs is
        # ~(60/P)^4 per pair — essentially impossible for a healthy family
        assert max(buckets.values()) <= 2, (band, max(buckets.values()))
        collisions += n - len(buckets)
    assert collisions <= 2, collisions
    # per-coefficient uniformity, chi-square over 64 buckets (df=63: mean
    # 63, std ~11.2; 150 is ~+8 sigma — random never trips it, a constant
    # hash scores ~126k and a parity-class one ~2k)
    xs = [rng.randrange(1, 1 << 32) for _ in range(2000)]
    for a, b in coeffs:
        counts = [0] * 64
        for x in xs:
            counts[((a * x + b) % MINHASH_PRIME) % 64] += 1
        exp = 2000 / 64
        chi2 = sum((c - exp) ** 2 / exp for c in counts)
        assert chi2 < 150, (a, b, chi2)


def test_trained_ivf_cell_balance(spark, sf_dir):
    """Trained-IVF coarse cells must be BALANCED on the real embedding
    corpus: serving cost of ann_ivf_trained / ann_ivfpq is ~nprobe/k of
    the corpus ONLY if cells hold comparable mass — a degenerate
    distance/assign formula collapses everything into one cell (probe =
    full scan, the recall/work curve a lie) while state-vs-oracle parity
    stays green. Pins the gate's own trained state on the real table."""
    from assemblagedb_spark.harness import load_table
    from assemblagedb_spark.operators.vectors import kmeans_train

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    state = kmeans_train(emb, k=8, iters=2)
    sizes = {
        r["label"]: r["n_vecs"] for r in state.filter(F.col("pos") == 0).collect()
    }
    assert sum(sizes.values()) == n
    assert len(sizes) >= 6, sizes
    assert max(sizes.values()) <= 0.45 * n, sizes


def test_contracted_components_single_partition_skips_finisher(spark, monkeypatch):
    # round-9 optimization pin: when the last contraction pass saw the
    # whole (contracted) graph in ONE partition, its union-find had
    # global view and the emitted stars ARE the exact components — the
    # propagation finisher is provably redundant and must be skipped.
    # Monkeypatching the finisher to explode proves which branch ran.
    from assemblagedb_spark.operators import components as C

    def boom(*a, **k):  # pragma: no cover - must not be reached
        raise AssertionError("finisher invoked on a single-partition graph")

    rows = [(i, i + 1) for i in range(40)] + [(90, 91), (95, 95)]
    e = spark.createDataFrame(rows, "parent_id long, child_id long")

    monkeypatch.setattr(C, "_propagate_labels", boom)
    got = sorted((r["node_id"], r["component"])
                 for r in C.contracted_components(e.repartition(1)).collect())
    assert got == ([(i, 0) for i in range(41)]
                   + [(90, 90), (91, 90), (95, 95)])

    # adversarial layout with the contraction budget exhausted before the
    # star relation fits one partition: the probed finisher is still the
    # exactness backstop — the shortcut must NOT fire there
    monkeypatch.setattr(C, "_CONTRACTION_LEVELS", 1)
    monkeypatch.setattr(C, "_FANIN", 1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "parent_id long, child_id long"
    ).repartition(12)
    import pytest as _pytest
    with _pytest.raises(AssertionError, match="finisher invoked"):
        C.contracted_components(chain)
