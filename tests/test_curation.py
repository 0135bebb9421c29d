"""Corpus-curation operators: decontamination, PII scrub, repetition
signals, budgeted selection, training order, boilerplate n-grams."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from assemblagedb_spark.operators.decontam import decontaminate, gram_set
from assemblagedb_spark.operators.pii import pii_scrub
from assemblagedb_spark.operators.selection import (
    _two_phase_prefix,
    boilerplate_ngram_stats,
    global_row_number,
    select_token_budget,
    training_order,
)
from assemblagedb_spark.operators.textstats import repetition_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_decontaminate_flags_shared_ngrams(spark):
    train = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated words here today friend"),
        (3, "quick brown fox again but different tail"),
    ])
    bench = _docs(spark, [(100, "a quick brown fox appeared")])
    out = {r["doc_id"]: r["n_shared_grams"]
           for r in decontaminate(train, bench, n=3).collect()}
    # "quick brown fox" is the only shared 3-gram
    assert out == {1: 1, 3: 1}


def test_decontaminate_short_docs_no_phantom_grams(spark):
    # fewer tokens than n must yield NO grams (sequence() guard)
    train = _docs(spark, [(1, "one two")])
    bench = _docs(spark, [(2, "one two")])
    assert decontaminate(train, bench, n=3).count() == 0
    assert gram_set(_docs(spark, [(1, "a b")]), n=13).count() == 0


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

def test_pii_scrub_counts_and_redaction(spark):
    out = pii_scrub(_docs(spark, [
        (1, "mail a.b+c@ex-1.org or 10.0.0.1 acct 12345678 end"),
        (2, "no pii at all"),
        (3, None),
    ])).collect()
    rows = {r["doc_id"]: r for r in out}
    r1 = rows[1]
    assert (r1["n_emails"], r1["n_ips"], r1["n_digit_runs"]) == (1, 1, 1)
    assert r1["clean_text"] == "mail <EMAIL> or <IP> acct <NUMBER> end"
    assert rows[2]["clean_text"] == "no pii at all"
    # NULL text propagates (missing != empty — degenerate-input sweep, r5)
    assert rows[3]["clean_text"] is None
    assert rows[3]["n_emails"] is None


def test_pii_scrub_email_with_ip_host_is_one_email(spark):
    # staged ordering: the IP inside the email host must not double-count
    r = pii_scrub(_docs(spark, [(1, "ping root@10.1.2.3 now")])).first()
    assert (r["n_emails"], r["n_ips"]) == (1, 0)
    assert r["clean_text"] == "ping <EMAIL> now"


def test_pii_scrub_short_digit_runs_kept(spark):
    r = pii_scrub(_docs(spark, [(1, "call 123456 not 1234567")])).first()
    assert r["n_digit_runs"] == 1
    assert r["clean_text"] == "call 123456 not <NUMBER>"


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------

def test_repetition_stats_repeated_phrase(spark):
    out = repetition_stats(_docs(spark, [
        (1, "buy now buy now buy now"),     # "buy now" 2-gram x3 (of 5)
        (2, "all words fully distinct here"),
        (3, "ab"),                           # 1 token -> no grams at all
    ])).collect()
    rows = {r["doc_id"]: r for r in out}
    r1 = rows[1]
    assert r1["n_top_grams"] == 5
    assert r1["top_gram_count"] == 3
    assert r1["top_gram_chars"] == 3 * len("buy now")
    # 3-grams: "buy now buy" x2, "now buy now" x2 -> all 4 instances dup
    assert (r1["n_dup_grams"], r1["dup_gram_instances"]) == (4, 4)
    r2 = rows[2]
    assert r2["top_gram_count"] == 1 and r2["dup_gram_instances"] == 0
    r3 = rows[3]  # present with zeros, not dropped
    assert (r3["n_top_grams"], r3["n_dup_grams"]) == (0, 0)


def test_repetition_stats_tie_breaks_lexicographic(spark):
    # two 2-grams tie at count 2 -> smallest gram string wins
    r = repetition_stats(_docs(spark, [(1, "b c b c a z a z")])).first()
    assert r["top_gram_count"] == 2
    # grams: "b c"x2, "c b"x1, "c a"x1, "a z"x2, "z a"x1 -> tie "a z" vs "b c"
    assert r["top_gram_chars"] == 2 * len("a z")


# ---------------------------------------------------------------------------
# two-phase global prefix + selection
# ---------------------------------------------------------------------------

def test_global_running_sum_matches_single_partition_window(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id") * 7919, F.lit(1000))).alias("v"),
    ).repartition(13)
    got = _two_phase_prefix(df, [F.col("k").asc()], F.col("v"), "rs", 8)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rs", F.sum("v").over(w).cast("long"))
    assert sorted(got.select("k", "rs").collect()) == sorted(
        want.select("k", "rs").collect()
    )


def test_global_row_number_dense_and_layout_invariant(spark):
    # thirty keys tie on each k % 10: only the k tiebreak makes the
    # numbering unique, so every layout must carry it through the range
    # partitions. Keys arrive in DESCENDING k, so a per-partition sort
    # that kept ties in arrival order would number them backwards.
    base = spark.range(0, 300).select((F.lit(299) - F.col("id")).alias("k"))
    order = [(F.col("k") % 10).desc(), F.col("k").asc()]
    want = {k: i for i, k in enumerate(sorted(range(300), key=lambda k: (-(k % 10), k)), 1)}
    layouts = [
        _two_phase_prefix(base.repartition(3), order, F.lit(1), "i", 4),
        _two_phase_prefix(base.repartition(17), order, F.lit(1), "i", 9),
        global_row_number(base.repartition(5), order, "i"),
    ]
    for got in layouts:
        assert {r["k"]: r["i"] for r in got.collect()} == want
    assert want[9] == 1  # descending k % 10, then ascending k


def test_select_token_budget_greedy_boundary(spark):
    docs = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 4), (3, 10, 3), (4, 10, 2)],
        "doc_id long, n_tokens long, score long",
    )
    kept = select_token_budget(docs, 25)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
    # exact-fit budget includes the boundary doc
    assert sorted(
        r["doc_id"] for r in select_token_budget(docs, 30).collect()
    ) == [1, 2, 3]


def test_training_order_is_dense_deterministic_permutation(spark):
    from assemblagedb_spark.functions.core import mix32_col

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    pa = sorted((r["doc_id"], r["order_idx"]) for r in training_order(docs).collect())
    assert sorted(i for _, i in pa) == list(range(1, 201))
    # the same prefix over other input and range-partition layouts
    order = [F.col("shuffle_key").asc(), F.col("doc_id").asc()]
    for shards, parts in ((5, 4), (11, 7)):
        keyed = docs.repartition(shards).withColumn(
            "shuffle_key", mix32_col(F.col("doc_id"), 0).cast("long"))
        got = _two_phase_prefix(keyed, order, F.lit(1), "order_idx", parts)
        assert pa == sorted((r["doc_id"], r["order_idx"]) for r in got.collect())
    # different seed -> different permutation
    c = training_order(docs, seed=7)
    pc = sorted((r["doc_id"], r["order_idx"]) for r in c.collect())
    assert pa != pc


# ---------------------------------------------------------------------------
# boilerplate n-grams
# ---------------------------------------------------------------------------

def test_boilerplate_ngram_stats(spark):
    footer = "generated by example corp"
    docs = _docs(spark, [
        (1, f"unique alpha text {footer}"),
        (2, f"other beta words {footer}"),
        (3, f"third gamma doc {footer}"),
        (4, "nothing shared in this one"),
    ])
    out = {r["doc_id"]: r for r in
           boilerplate_ngram_stats(docs, n=4, df_threshold=3).collect()}
    # each doc has 4 word-4-grams; only the footer gram is in >= 3 docs
    assert out[1]["n_grams"] == 4 and out[1]["n_boiler_grams"] == 1
    assert out[4]["n_boiler_grams"] == 0


def test_fixed_size_sample_deterministic_and_layout_invariant(spark, monkeypatch):
    from assemblagedb_spark.operators import sampling
    from assemblagedb_spark.operators.sampling import fixed_size_sample

    base = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    a = sorted(r["doc_id"] for r in
               fixed_size_sample(base.repartition(3), 50, key_col="doc_id").collect())
    b = sorted(r["doc_id"] for r in
               fixed_size_sample(base.repartition(17), 50, key_col="doc_id").collect())
    assert a == b and len(a) == 50
    monkeypatch.setattr(sampling, "FIXED_SIZE_SEED", 5)
    c = sorted(r["doc_id"] for r in
               fixed_size_sample(base, 50, key_col="doc_id").collect())
    monkeypatch.undo()
    assert a != c
    # plan is TakeOrderedAndProject (local top-n), not a global sort
    plan = fixed_size_sample(base, 50, key_col="doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_two_phase_prefix_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "k long, v long")
    parts = spark.sparkContext.defaultParallelism
    assert _two_phase_prefix(empty, [F.col("k")], F.col("v"), "rs", parts).count() == 0
    one = spark.createDataFrame([(1, 42)], "k long, v long")
    assert _two_phase_prefix(one, [F.col("k")], F.col("v"), "rs", parts).first()["rs"] == 42


def test_mixture_sample_targets_and_determinism(spark):
    from assemblagedb_spark.operators.sampling import mixture_sample

    rows = ([(i, "en") for i in range(800)]
            + [(1000 + i, "de") for i in range(100)]
            + [(2000 + i, "fr") for i in range(100)]
            + [(3000 + i, "zh") for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df, {"en": 0.4, "de": 0.3, "fr": 0.3})
    got = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["source"]] += 1
    # de and fr are binding (100 docs vs target 0.3): both keep ~100%,
    # en (800 docs, target 0.4) downsamples to ~133
    assert got["de"] >= 95 and got["fr"] >= 95
    assert 100 <= got["en"] <= 170
    assert "zh" not in got  # unlisted domain dropped
    # deterministic under repartitioning
    again = sorted(r["doc_id"] for r in
                   mixture_sample(df.repartition(17),
                                  {"en": 0.4, "de": 0.3, "fr": 0.3}).collect())
    assert again == sorted(r["doc_id"] for r in out.collect())


def test_lsh_incremental_pairs_finds_cross_batch_dups(spark):
    from assemblagedb_spark.operators.dedup import (
        band_split,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(i, f"totally different text number {i} with words {i * 17}")
            for i in range(10)]
    docs += [(100, base), (101, base + " x")]  # near-dups across batches
    corpus = spark.createDataFrame(
        [d for d in docs if d[0] != 101], "doc_id long, text string"
    )
    new = spark.createDataFrame([(101, base + " x")], "doc_id long, text string")

    sig_c = minhash_signatures(corpus)
    sig_n = minhash_signatures(new)
    inc = {(r["new_id"], r["corpus_id"])
           for r in lsh_incremental_pairs(sig_n, band_split(sig_c)).collect()}
    assert (101, 100) in inc
    # incremental pairs == full-batch pairs restricted to the new ids
    sig_all = minhash_signatures(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    full = {(b, a) for r in lsh_candidate_pairs(sig_all).collect()
            for a, b in [(r["id_a"], r["id_b"])]
            if b == 101} | {(a, b) for r in lsh_candidate_pairs(sig_all).collect()
                            for a, b in [(r["id_a"], r["id_b"])] if a == 101}
    assert inc == full


def test_fingerprint_near_pairs_shared_substrings(spark):
    from assemblagedb_spark.operators.dedup import fingerprint_near_pairs
    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    shared = "a very long shared passage that both documents quote verbatim here"
    docs = _docs(spark, [
        (1, f"intro one {shared} outro xx"),
        (2, f"different preamble {shared} closing words"),
        (3, "entirely unrelated content with zero overlap at all in text"),
    ])
    fps = winnowing_fingerprints(docs)
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in fingerprint_near_pairs(fps, min_shared=2, max_df=10).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_fingerprint_near_pairs_df_cap_drops_hubs(spark):
    from assemblagedb_spark.operators.dedup import fingerprint_near_pairs
    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    boiler = "the same universal footer appears everywhere in this corpus now"
    docs = _docs(spark, [(i, f"doc number {i} body {boiler}") for i in range(8)])
    fps = winnowing_fingerprints(docs)
    # cap below corpus size: footer fingerprints (df=8) are dropped, so no
    # pair survives on boilerplate alone
    none = fingerprint_near_pairs(fps, min_shared=2, max_df=4).collect()
    assert none == []


def test_group_fixed_size_sample_balanced_and_stable(spark):
    from assemblagedb_spark.operators.sampling import group_fixed_size_sample

    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = group_fixed_size_sample(df, 10, group_cols=["grp"], key_col="doc_id")
    counts = {}
    for r in out.collect():
        counts[r["grp"]] = counts.get(r["grp"], 0) + 1
    assert counts == {"a": 10, "b": 10}
    again = group_fixed_size_sample(
        df.repartition(13), 10, group_cols=["grp"], key_col="doc_id"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_exact_quantiles_and_iqr_flags(spark):
    from assemblagedb_spark.operators.selection import exact_quantiles, iqr_outliers

    vals = list(range(1, 101)) + [1000]  # one extreme outlier
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "doc_id long, v long")
    q1, q2, q3 = exact_quantiles(df, F.col("v"), [0.25, 0.5, 0.75])
    import math
    n = len(vals)
    s = sorted(vals)
    assert (q1, q2, q3) == (s[math.ceil(0.25 * n) - 1],
                            s[math.ceil(0.5 * n) - 1],
                            s[math.ceil(0.75 * n) - 1])
    out = {r["doc_id"]: r["is_outlier"]
           for r in iqr_outliers(df, F.col("v")).collect()}
    assert out[100] == 1                 # the 1000 value
    assert sum(out.values()) == 1        # nothing else flagged


def test_repeat_to_mixture_upsamples_small_domains(spark):
    from assemblagedb_spark.operators.sampling import repeat_to_mixture

    rows = ([(i, "big") for i in range(600)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = repeat_to_mixture(df, {"big": 0.5, "small": 0.5}, domain_col="src")
    counts = {}
    for r in out.collect():
        counts[r["src"]] = counts.get(r["src"], 0) + 1
    # big is best represented: exactly one epoch each; small repeats ~6x
    assert counts["big"] == 600
    assert 550 <= counts["small"] <= 650
    # every original row survives (nothing dropped)
    assert {r["doc_id"] for r in out.collect()} == {r[0] for r in rows}
    # epochs are dense per row
    small0 = [r["epoch"] for r in out.collect() if r["doc_id"] == 1000]
    assert sorted(small0) == list(range(len(small0)))


def test_grouped_iqr_outliers_per_slice_fences(spark):
    from assemblagedb_spark.operators.selection import grouped_iqr_outliers

    rows = ([("a", i, v) for i, v in enumerate(list(range(100)) + [10_000])]
            + [("b", 200 + i, v) for i, v in
               enumerate([10_000 + x for x in range(50)])])
    df = spark.createDataFrame(rows, "grp string, event_id long, v long")
    out = {r["doc_id"]: r for r in
           grouped_iqr_outliers(df, F.col("v"), ["grp"],
                                id_col="event_id").collect()}
    # group a: the 10_000 value is extreme FOR a
    assert out[100]["is_outlier"] == 1
    # group b: 10_000-ish is NORMAL for b — a global fence would flag it
    assert all(out[200 + i]["is_outlier"] == 0 for i in range(50))


def test_mixture_binding_domain_keeps_every_row(spark):
    from assemblagedb_spark.operators.sampling import mixture_sample

    # n/w chosen so float int(c*w/n*1000) floors to 999 without the
    # binding-domain pin: (3000/0.7)*0.7/3000*1000 == 999.9999999999999.
    # 3000 rows ensure some hash bucket == 999 exists, so a regression
    # would actually drop rows.
    rows = [(i, "a") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    assert mixture_sample(df, {"a": 0.7}).count() == 3000


def test_repeat_binding_domain_exactly_one_epoch(spark):
    from assemblagedb_spark.operators.sampling import repeat_to_mixture

    rows = [(i, "a") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = repeat_to_mixture(df, {"a": 0.7}).collect()
    # the best-represented domain repeats exactly once: no row dropped
    # (permille 999 would emit reps=0 for bucket-999 rows), none doubled
    assert len(out) == 3000
    assert all(r["epoch"] == 0 for r in out)


def test_lsh_max_bucket_caps_pathological_buckets(spark):
    # SCALING.md decade-up finding: on a corpus whose near-dup density
    # doesn't thin with N, bucket sizes grow ~linearly and the pair
    # expansion goes ~N^2. max_bucket drops oversized buckets before
    # expansion; small buckets are untouched and None stays unbounded.
    from assemblagedb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    mega = "identical text shared by every member of the mega cluster"
    docs = [(i, mega) for i in range(20)]  # one 20-doc bucket per band
    docs += [(100, "a rare pair of nearly the same words here indeed"),
             (101, "a rare pair of nearly the same words here indeed")]
    sig = minhash_signatures(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    unbounded = {(r["id_a"], r["id_b"])
                 for r in lsh_candidate_pairs(sig).collect()}
    assert (100, 101) in unbounded
    assert sum(1 for a, b in unbounded if a < 100 and b < 100) == 190

    capped = {(r["id_a"], r["id_b"])
              for r in lsh_candidate_pairs(sig, max_bucket=10).collect()}
    assert (100, 101) in capped  # small bucket survives
    assert not any(a < 100 and b < 100 for a, b in capped)  # mega dropped


def test_overlap_compact_equals_explode_join(spark):
    # ngram_overlap_pairs switched from the exploded (doc, gram) stream
    # shape to compact per-doc gram arrays + array_intersect (260s -> 12s
    # on the sf1-class corpus). This pins exact relational parity against
    # the old shape, including the two edge behaviors: zero-overlap
    # candidates drop out, and inter counts DISTINCT grams.
    from pyspark.sql import functions as F

    from assemblagedb_spark.functions.core import spark_grams_array_expr
    from assemblagedb_spark.operators.dedup import ngram_overlap_pairs

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "abcdefghij"),            # exact dup of 1
            (3, "zzzz abcde zzzz zzzz"),  # partial + repeated grams
            (4, "no shared grams at all here"),
            (5, "abcd"),                  # single gram (with padding)
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 5), (2, 4)], "id_a long, id_b long"
    )

    shingles = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(F.expr(spark_grams_array_expr("text")))).alias("gram"),
    )
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        cands.join(shingles.select(F.col("doc_id").alias("id_a"), "gram"), "id_a")
        .join(shingles.select(F.col("doc_id").alias("id_b"), "gram"), ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    reference = (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select("id_a", "id_b", "inter", "n_a", "n_b")
    )
    got = ngram_overlap_pairs(docs, cands)
    ref_rows = {tuple(r) for r in reference.collect()}
    got_rows = {tuple(r) for r in got.collect()}
    assert got_rows == ref_rows
    assert not any(a == 1 and b == 4 for a, b, *_ in got_rows)  # zero overlap
