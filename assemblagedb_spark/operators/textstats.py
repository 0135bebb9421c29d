"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

Catalyst expressions (split/filter/aggregate higher-order functions)
except ``winnowing_fingerprints``, which runs one numpy Arrow kernel.
Formulas are arithmetic on integers wherever outputs feed the correctness
gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic, lower-case, no engine-specific tokenization.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "en", "que", "por"],
    "zh": ["de", "shi", "bu", "le", "zai", "you", "wo", "ta"],
}


def tokens(text_col: str) -> F.Column:
    """Whitespace tokens of the trimmed text (empty text → empty array)."""
    return F.expr(
        f"filter(split(trim(coalesce({text_col}, '')), ' +'), t -> t <> '')"
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_distinct_tokens)."""
    t = tokens("text")
    return docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("n_chars"),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
    )


def quality_cols() -> dict[str, F.Column]:
    """The quality-feature expressions as reusable Columns — shared by
    :func:`quality_scores` and fused pipelines that want the score inline
    without a join."""
    stop_arr = "array(" + ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"]) + ")"
    t = tokens("text")
    n_tok = F.size(t).cast("long")
    n_stop = F.size(F.expr(
        "filter(filter(split(trim(coalesce(text, '')), ' +'), t -> t <> ''), "
        f"t -> array_contains({stop_arr}, lower(t)))"
    )).cast("long")
    length_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    diversity = F.when(n_tok > 0, F.size(F.array_distinct(t)) / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    return {
        "n_tokens": n_tok,
        "n_stopwords": n_stop,
        "length_score": length_score,
        "diversity": diversity,
        "stopword_ratio": stop_ratio,
        "quality_score": (
            (length_score + diversity + F.least(stop_ratio * 4, F.lit(1.0))) / 3
        ),
    }


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a combined score in [0, 1]:

    - length_score: min(n_tokens / 100, 1)
    - diversity: distinct/total tokens
    - stopword_ratio: stopword tokens / total (natural text has some)
    - score = (length_score + diversity + least(stopword_ratio * 4, 1)) / 3
    """
    cols = quality_cols()
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in cols.items()],
    )


def lang_hit_cols() -> dict[str, F.Column]:
    """Per-language stopword hit counts as reusable Columns."""
    hit_cols = {}
    for lang, words in LANG_STOPWORDS.items():
        arr = "array(" + ", ".join(f"'{w}'" for w in words) + ")"
        hit_cols[lang] = F.size(F.expr(
            "filter(filter(split(trim(coalesce(text, '')), ' +'), t -> t <> ''), "
            f"t -> array_contains({arr}, lower(t)))"
        )).cast("long")
    return hit_cols


def lang_guess_col(hit_cols: dict[str, F.Column]) -> F.Column:
    """Argmax of the hit counts with LANG_STOPWORDS key-order tiebreak;
    'und' when all are zero. Takes the Columns themselves so a fused
    pipeline can inline everything in one projection."""
    langs = list(hit_cols)
    best = F.lit(langs[0])
    best_hits = hit_cols[langs[0]]
    for lang in langs[1:]:
        cond = hit_cols[lang] > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hit_cols[lang]).otherwise(best_hits)
    return F.when(best_hits > 0, best).otherwise(F.lit("und"))


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: count per-language stopword hits, argmax
    with fixed tiebreak order (the LANG_STOPWORDS key order)."""
    hit_cols = lang_hit_cols()
    return docs.select(
        "doc_id",
        *[c.alias(f"hits_{lang}") for lang, c in hit_cols.items()],
        lang_guess_col(hit_cols).alias("lang_guess"),
    )


# Character-trigram profiles (boundary-padded, lowercased) — the classic
# Cavnar/Trenkle n-gram language-ID signal, reduced to a deterministic
# integer formula both engines evaluate identically. Trigrams may overlap
# across languages; votes simply accumulate.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": [" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", "ion", " to"],
    "de": ["der", "er ", " de", "ein", "ich", "sch", "die", "ie ", "und",
           " un", "ch ", "cht"],
    "fr": [" le", "le ", "es ", "ent", " la", "que", " qu", "ue ", "ait",
           "les", " et", "et "],
    "es": [" la", "la ", "os ", " qu", "que", "ado", " el", "el ", " en",
           "ar ", "cio", " co"],
    "zh": ["shi", " bu", "zai", "you", " wo", " ta", "ang", "eng", "ian",
           "ong", "ao ", " zh"],
}
STOPWORD_WEIGHT = 4  # one stopword hit counts as this many trigram hits


def language_id_ngram(docs: DataFrame) -> DataFrame:
    """Combined trigram-profile + stopword-vote language ID.

    score_L = stopword_hits_L * ``STOPWORD_WEIGHT`` + Σ_t occurrences(t)
    over L's trigram profile. Occurrences are counted by length difference
    after ``replace(s, t, '')`` — leftmost non-overlapping semantics,
    identical in Spark and DuckDB, so the whole scorer is a pure-integer
    Catalyst expression (no explode, no shuffle, no Python) that an oracle
    can replay bit-for-bit. ``lang_guess`` = argmax with LANG_TRIGRAMS key
    order as the tiebreak; 'und' when every score is zero.
    """
    # Bind the padded string and the token array ONCE per row as lambda
    # variables: Catalyst's CollapseProject would otherwise inline the
    # regexp_replace into every one of the ~120 uses (2 per trigram × 12
    # trigrams × 5 languages), turning one O(len) normalization into 120.
    # `transform(array(x), v -> body)[0]` evaluates x exactly once and
    # exposes it to the body as `v` — the standard Spark CSE workaround.
    s_sql = (
        "concat(' ', regexp_replace(lower(trim(coalesce(text, ''))), "
        "'\\\\s+', ' '), ' ')"
    )
    toks_sql = (
        "transform(filter(split(trim(coalesce(text, '')), ' +'), "
        "t -> t <> ''), t -> lower(t))"
    )
    fields = []
    for lang in LANG_TRIGRAMS:
        stop_arr = "array(" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + ")"
        tri_arr = "array(" + ", ".join(f"'{t}'" for t in LANG_TRIGRAMS[lang]) + ")"
        fields.append(
            f"'{lang}', CAST(size(filter(toks, t -> array_contains({stop_arr}, t)))"
            f" * {STOPWORD_WEIGHT}"
            f" + aggregate({tri_arr}, CAST(0 AS BIGINT), (acc, t) -> acc"
            f" + CAST((length(s) - length(replace(s, t, ''))) div 3 AS BIGINT))"
            f" AS BIGINT)"
        )
    # zip_with over two 1-element arrays binds both values as lambda vars;
    # explode (a generator) makes the struct a real output attribute, so
    # the downstream field extractions reference it instead of re-inlining
    # the whole expression once per language.
    scores_expr = (
        f"zip_with(array({s_sql}), array({toks_sql}), "
        f"(s, toks) -> named_struct({', '.join(fields)}))"
    )
    out = docs.select(
        "doc_id",
        F.explode(F.expr(scores_expr)).alias("__scores"),
    ).select(
        "doc_id",
        *[
            F.col(f"__scores.{lang}").alias(f"score_{lang}")
            for lang in LANG_TRIGRAMS
        ],
    )
    langs = list(LANG_TRIGRAMS)
    best = F.lit(langs[0])
    best_score = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"score_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"score_{lang}")).otherwise(best_score)
    return out.withColumn(
        "lang_guess", F.when(best_score > 0, best).otherwise(F.lit("und"))
    ).select("doc_id", *[f"score_{lang}" for lang in langs], "lang_guess")


def fingerprints(docs: DataFrame) -> DataFrame:
    """Canonical-text fingerprint: md5 of the whitespace-normalized,
    lower-cased text (stable across engines); NULL text fingerprints to
    NULL — a missing document must not share d41d8cd9... with genuinely
    empty ones. For shift-tolerant fingerprinting use the minhash/simhash
    operators (dedup.py)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def winnowing_fingerprints(
    docs: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm): polynomial rolling hashes of the text's k-grams, one
    selected minimum per sliding window of ``window`` consecutive hashes,
    deduplicated. The selected set is what plagiarism/near-copy detection
    stores per document: shift-tolerant (an insertion far from a region
    leaves that region's selected hashes intact) with guaranteed detection
    of shared substrings of length >= window + k - 1.

    Everything is integer arithmetic on the whitespace-normalized
    lower-cased text's codepoints, and the identical formula runs in
    DuckDB for the oracle. Per Arrow batch, each document's k-gram hashes
    are k shifted-array passes over the codepoint array (utf-32 decode ≡
    the oracle's per-character ``ord()``) and the window minima one
    stride-tricks view ``.min()``; the plan is scan → project →
    MapInPandas, zero shuffles. Selecting window minima BY VALUE (then
    distinct) sidesteps the rightmost-vs-leftmost tie rule entirely — the
    output set is identical under either convention. Docs shorter than
    ``window + k - 1`` normalized chars yield no fingerprints (no full
    window exists).

    Returns (doc_id, fingerprint BIGINT) — one row per distinct selected
    hash.
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    )

    def fp(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            for doc_id, s in zip(pdf["doc_id"], pdf["__s"]):
                c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                n = len(c) - k + 1
                h = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    h = (h * base + c[j : j + n]) % mod
                mins = np.unique(sliding_window_view(h, window).min(1))
                ids.extend([doc_id] * len(mins))
                fps.extend(mins.tolist())
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return (
        docs.select("doc_id", norm.alias("__s"))
        .filter(F.length("__s") >= k + window - 1)
        .mapInPandas(fp, "doc_id long, fingerprint long")
    )


TOP_GRAM_N = 2  # repetition_stats: the most-common-gram signal's n
DUP_GRAM_N = 3  # repetition_stats: the duplicate-gram signal's n


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    §A1.1 repetition filters): documents dominated by a single repeated
    phrase or by duplicated n-grams are low-quality training data.

    Output per document (integer-exact, one row per input doc):
    - ``n_top_grams`` / ``top_gram_count`` / ``top_gram_chars``: total
      ``TOP_GRAM_N``-gram instances, occurrences of the MOST frequENT one (ties
      broken by lexicographically smallest gram), and characters covered by
      those occurrences (count × gram length) — the "fraction of characters
      in the most common n-gram" signal as a ratio of integers.
    - ``n_dup_grams`` / ``dup_gram_instances``: total ``DUP_GRAM_N``-gram
      instances and how many of them belong to a gram occurring ≥ 2 times
      in the document — the "fraction of characters in duplicate n-grams"
      numerator, in instance units.

    Plan: explode grams → ONE groupBy (doc, gram) per n → per-doc window
    pick + aggregate. Both aggregations partial map-side; nothing leaves
    the (doc_id, gram) key space, so the shuffle is linear in corpus size.
    """
    from pyspark.sql import Window

    from assemblagedb_spark.operators.decontam import exploded_ngrams

    base = docs.select("doc_id")

    def gram_counts(n: int) -> DataFrame:
        return (
            exploded_ngrams(docs, n=n)
            .groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top = (
        gram_counts(TOP_GRAM_N)
        .withColumn("__rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_top_grams"),
            F.max(F.when(F.col("__rn") == 1, F.col("cnt"))).cast("long").alias(
                "top_gram_count"
            ),
            F.max(
                F.when(F.col("__rn") == 1, F.col("cnt") * F.length("gram"))
            ).cast("long").alias("top_gram_chars"),
        )
    )
    dup = gram_counts(DUP_GRAM_N).groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_dup_grams"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_gram_instances"),
    )
    return (
        base.join(top, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .na.fill(0, ["n_top_grams", "top_gram_count", "top_gram_chars",
                     "n_dup_grams", "dup_gram_instances"])
    )


TFIDF_TOP_K = 3  # tfidf_top_terms keeps this many terms per document


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOP_K`` most distinctive terms per document: rank by term
    frequency DESC, document frequency ASC, term ASC.

    The integer-lexicographic rank is the deterministic core of tf-idf
    ordering (a document-local frequent term that is corpus-rare wins)
    without a float idf whose ``ln`` differs across engines in the last
    ulp. Output: (doc_id, term, tf, df, rnk ≤ TFIDF_TOP_K).

    Plan: ONE tokenize+explode → (doc, term, tf) groupBy; df falls out of
    that counts table (each row is one containing document) with a second
    small groupBy; a window per doc picks the top k. Shuffles are on
    (doc, term), term, and doc — all linear, no joins bigger than the
    counts table itself.
    """
    from pyspark.sql import Window

    from assemblagedb_spark.operators.decontam import tokens_expr

    # spread the scan before the tokenize+explode (see
    # selection.boilerplate_ngram_stats); guarded so a large input never
    # pays a raw-text shuffle for it
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism // 2:
        docs = docs.repartition(parallelism, "doc_id")
    counts = (
        docs.select("doc_id", tokens_expr("text").alias("__w"))
        .select("doc_id", F.explode("__w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # feeds both the df aggregate and the ranked join; localCheckpoint
        # so the blocks self-release on GC instead of accumulating in the
        # CacheManager across calls in a long-lived session
        .localCheckpoint(eager=True)
    )
    df_tbl = counts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        counts.join(df_tbl, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "doc_id", "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def chunk_dedup(
    docs: DataFrame,
    *,
    chunk_words: int = 8,
    df_threshold: int = 2,
) -> DataFrame:
    """Corpus-level repeated-CHUNK removal (the C4 recipe's repeated-span
    filter at fixed word granularity): the document is cut into
    consecutive ``chunk_words``-word chunks, a chunk occurring in ≥
    ``df_threshold`` DISTINCT documents corpus-wide is boilerplate, and
    the document is re-assembled without those chunks.

    Output: (doc_id, n_chunks, n_dup_chunks, clean_text) — stats plus the
    cleaned text ('' when everything was boilerplate). Within-document
    repeats don't count as boilerplate on their own (frequency is DISTINCT
    documents, so a doc can't promote its own chunk).

    Scale shape: one tokenize+chunk pass, one (chunk → distinct-doc count)
    aggregate (map-side partial), one chunk equi-join back — the identical
    plan as corpus n-gram doc-frequency, with reassembly as a per-doc
    sorted fold. Skewed mega-chunks are exactly the boilerplate the
    threshold removes, and AQE splits their join partitions.
    """
    from assemblagedb_spark.operators.decontam import tokens_expr

    cw = int(chunk_words)
    chunks = (
        docs.select("doc_id", tokens_expr("text").alias("__w"))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(__w) = 0 THEN array() "
                f"ELSE transform(sequence(0, ((size(__w) + {cw - 1}) div {cw}) - 1), "
                f"i -> array_join(slice(__w, i * {cw} + 1, {cw}), ' ')) END"
            ).alias("__chunks"),
        )
        .select("doc_id", F.posexplode("__chunks").alias("chunk_idx", "chunk"))
        # `chunks` is consumed twice (corpus df aggregate + the tag join),
        # so the tokenize+chunk explode runs once per consumer when the
        # full output is materialized. A pin was A/B'd in the round-9
        # audit (full materialization 2.6s -> 1.7s at sf0.1, identical
        # output) but NOT kept: an eager checkpoint always computes the
        # explode, while unpinned, actions that don't read the aggregate
        # columns (e.g. a bare count(): the unique-key left join below is
        # eliminated outright) skip this subtree entirely.
    )
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("chunk_df")
    )
    tagged = chunks.join(freq, "chunk").withColumn(
        "is_dup", (F.col("chunk_df") >= df_threshold).cast("long")
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("is_dup").cast("long").alias("n_dup_chunks"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN is_dup = 0 THEN "
                "struct(chunk_idx, chunk) END)), s -> s.chunk)"
            ),
            " ",
        ).alias("clean_text"),
    )
    # docs with zero tokens produce zero chunk rows but still belong in the
    # output (clean_text = '')
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("long").alias("n_dup_chunks"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-unigram-LM quality score with EXACT integer semantics: each
    token's surprisal proxy is the decimal digit count of
    ``total_tokens // corpus_freq(token)`` — a monotone stand-in for
    log10(1/p) that both engines compute bit-identically (a true float
    log differs in final ulps between JVM and DuckDB and would break the
    value-hash gate). Rare tokens score high, stopwords score 1; a
    document of improbable tokens gets a high mean — the CCNet-style
    perplexity filter's shape, replayable as integer arithmetic.

    Output: (doc_id, n_tokens, surprisal_sum,
    milli_surprisal = 1000 * sum // n; 0 for empty docs).

    Scale: one tokenize pass, one (term → count) aggregate, one term
    equi-join back, one per-doc aggregate. The corpus total rides along as
    a broadcast single-row cross join (never a driver collect).
    """
    from assemblagedb_spark.operators.decontam import tokens_expr

    toks = docs.select(
        "doc_id",
        F.explode(tokens_expr("text")).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "surp",
            F.length(F.expr("CAST(total div cnt AS STRING)")).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("surp").cast("long").alias("surprisal_sum"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("surprisal_sum", F.lit(0)).cast("long")
            .alias("surprisal_sum"),
            F.expr(
                "CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0 "
                "ELSE (1000 * surprisal_sum) div n_tokens END"
            ).cast("long").alias("milli_surprisal"),
        )
    )
