"""Non-vacuity guards for the similarity/dedup correctness gates.

A gate that matches the oracle on ZERO rows proves nothing — a sign-flipped
intersection or a broken cosine would still 'pass'. These tests pin a
minimum row count at sf0.001 (the suite's fixture scale) for every gate
whose output size depends on data-relative thresholds, so a future
threshold/data change that silently re-vacuates a gate fails here instead
of shipping.
"""

from __future__ import annotations

from assemblagedb_spark import harness as h


def _rows(spark, sf_dir, name):
    return h.SPARK_QUERIES[name](spark, sf_dir).count()


def test_jaccard_gates_exercise_real_pairs(spark, sf_dir):
    # threshold 0.3 (was 0.5 → 0 rows): ~1.5k scored pairs
    assert _rows(spark, sf_dir, "dedup_jaccard") >= 1000


def test_lsh_verify_gates_exercise_real_pairs(spark, sf_dir):
    # every LSH candidate pair flows through the exact-jaccard /
    # containment verification arithmetic
    assert _rows(spark, sf_dir, "dedup_lsh_verify") >= 500
    assert _rows(spark, sf_dir, "dedup_containment") >= 500
    assert _rows(spark, sf_dir, "dedup_minhash_est") >= 500


def test_lsh_capped_gate_drops_the_mega_bucket_but_keeps_the_corpus(spark, sf_dir):
    # the max_bucket gate must (a) return real surviving pairs, (b) have
    # actually DROPPED the manufactured clone mega-bucket (clone bands are
    # all identical, so no clone pair can reach the output through a small
    # bucket), and (c) be a strict subset of the uncapped pair set on the
    # same corpus — proving the cap, not a data accident, removed them
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    capped = h.SPARK_QUERIES["dedup_lsh_capped"](spark, sf_dir)
    n_capped = capped.count()
    assert n_capped >= 500
    assert (
        capped.filter(
            (F.col("id_a") >= h._CAP_ID_BASE) | (F.col("id_b") >= h._CAP_ID_BASE)
        ).count()
        == 0
    )
    sig = minhash_signatures(h._capped_corpus(spark, sf_dir), k=h._MINHASH_K)
    uncapped = lsh_candidate_pairs(
        sig, bands=h._LSH_BANDS, rows_per_band=h._LSH_ROWS
    )
    clone_pairs = uncapped.filter(F.col("id_b") >= h._CAP_ID_BASE).count()
    assert clone_pairs >= h._CAP_CLONES * (h._CAP_CLONES - 1) // 2
    assert capped.join(uncapped, ["id_a", "id_b"], "left_anti").count() == 0
    assert n_capped < uncapped.count()


def test_embedding_neardup_not_vacuous(spark, sf_dir):
    # cosine threshold 0.25 (was 0.40 → 0 rows at sf0.001, 3 at sf0.01)
    assert _rows(spark, sf_dir, "embedding_neardup") >= 20


def test_winnow_pairs_not_vacuous(spark, sf_dir):
    assert _rows(spark, sf_dir, "text_winnow_pairs") >= 20


def test_ivfpq_gate_prunes_but_not_vacuous(spark, sf_dir):
    # the IVFADC gate must (a) return full top-10 lists for every query and
    # (b) actually PRUNE — if every query scored the whole corpus, the gate
    # would be ann_pq_adc in disguise and the cell machinery untested
    from pyspark.sql import functions as F

    out = h.SPARK_QUERIES["ann_ivfpq"](spark, sf_dir)
    per_q = out.groupBy("query_id").count().collect()
    assert len(per_q) >= 10
    assert all(r["count"] == 10 for r in per_q)

    emb = h.load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    n_queries = emb.filter(F.col("vec_id") % h._PQ_QUERY_MOD == 0).count()
    cell_codes = h._ivfpq_index(spark, sf_dir)[1]
    from assemblagedb_spark.operators.similarity import ivf_probes

    probes = ivf_probes(
        emb.filter(F.col("vec_id") % h._PQ_QUERY_MOD == 0),
        nprobe=h._IVFPQ_PROBE,
        centroids=h._trained_kmeans(spark, sf_dir, h._IVFPQ_NLIST, 2),
    )
    n_pairs = (
        cell_codes.select("vec_id", "cell").distinct()
        .join(probes.withColumnRenamed("q_id", "query_id"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .count()
    )
    assert 10 * n_queries <= n_pairs < n_queries * (n_corpus - 1)


def test_ivfpq_codes_gate_covers_corpus_with_live_codebooks(spark, sf_dir):
    # the residual inverted lists must (a) cover every corpus vector in
    # all m subspaces and (b) actually use multiple codewords per
    # subspace — a degenerate residual codebook (all vectors on one
    # code) would still match a degenerate oracle
    from pyspark.sql import functions as F

    codes = h.SPARK_QUERIES["ann_ivfpq_codes"](spark, sf_dir)
    n = h.load_table(spark, sf_dir, "embeddings").count()
    assert codes.count() == n * h._RPQ_M
    per_sp = codes.groupBy("subspace").agg(
        F.countDistinct("code").alias("k")
    ).collect()
    assert len(per_sp) == h._RPQ_M
    assert all(r["k"] >= 2 for r in per_sp)
    assert codes.select("cell").distinct().count() >= 2


def test_ivfpq_rerank_gate_refines_not_copies(spark, sf_dir):
    # the refined leg must (a) return full top-10 lists, (b) genuinely
    # REFINE — if its lists equal the pure-ADC lists the exact pass is
    # dead code and the gate is ann_ivfpq in disguise — and (c) never
    # lose recall vs pure ADC (its shortlist is a superset of the ADC
    # top-10 rescored with the true metric, so equality is the floor)
    def by_q(name):
        out: dict = {}
        for r in h.SPARK_QUERIES[name](spark, sf_dir).collect():
            out.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
        return {
            q: [v[rk] for rk in sorted(v)] for q, v in out.items()
        }

    refined, adc, exact = (
        by_q("ann_ivfpq_rerank"), by_q("ann_ivfpq"), by_q("ann_topk")
    )
    assert set(refined) == set(adc) and len(refined) >= 10
    assert all(len(v) == 10 for v in refined.values())
    # RANK-ORDERED comparison: the exact-cosine pass must change at least
    # one query's ordered top-10 (membership OR order) — order is strictly
    # more sensitive than set equality, so this only fails if ADC's
    # integer-grid ranking coincides with true cosine on EVERY query
    diverging = [q for q in refined if refined[q] != adc.get(q)]
    assert diverging, (
        "ann_ivfpq_rerank returned the pure-ADC ordering for every query: "
        "either the exact-cosine refine is dead code (the gate is "
        "ann_ivfpq in disguise), or this dataset/config makes ADC exact — "
        "if the latter, re-pin this test on a corpus where the quantized "
        "metric demonstrably diverges"
    )

    def recall(got):
        return sum(
            len(set(got.get(q, [])) & set(e)) / len(e)
            for q, e in exact.items()
        ) / len(exact)

    assert recall(refined) >= recall(adc)


def test_ivfpq_rerank_sits_on_exact_on_candidates_ceiling(spark, sf_dir):
    # the rerank==ceiling guarantee holds exactly for queries whose
    # candidate set fits the R=5·k rerank shortlist — the regime the
    # round-8 nlist ≈ √N retune put the GRADED scales in (nlist=22 =
    # √500 at sf0.001/sf0.01, where every query qualifies and measured
    # recall is 0.530/0.600 = ceiling). At larger corpora under the same
    # fixed constant (e.g. sf0.1, N=2000 via SPARK_GRAFT_TEST_SF_DIR)
    # candidates exceed R and equality is NOT guaranteed — the per-query
    # condition below asserts exactly where the math promises it, and
    # the test demands the fixture scale actually exercises it
    import numpy as np
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.similarity import ivf_probes

    emb = h.load_table(spark, sf_dir, "embeddings")
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.collect()
        if r["embedding"] is not None
    }
    queries = emb.filter(F.col("vec_id") % h._PQ_QUERY_MOD == 0)
    state = h._trained_kmeans(spark, sf_dir, h._IVFPQ_NLIST, 2)
    probes = ivf_probes(queries, nprobe=h._IVFPQ_PROBE, centroids=state)
    cell_codes = h._ivfpq_index(spark, sf_dir)[1]
    cand = (
        cell_codes.select("vec_id", "cell").distinct()
        .join(probes.withColumnRenamed("q_id", "query_id"), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
        .collect()
    )
    cmap: dict = {}
    for r in cand:
        cmap.setdefault(r["query_id"], []).append(r["vec_id"])

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / (na * nb)) if na and nb else -1.0

    got: dict = {}
    exact: dict = {}
    for r in h.SPARK_QUERIES["ann_ivfpq_rerank"](spark, sf_dir).collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    for r in h.SPARK_QUERIES["ann_topk"](spark, sf_dir).collect():
        exact.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    assert len(got) >= 10
    # equality is GUARANTEED when every candidate set fits the R=5·k
    # shortlist, and additionally holds (measured, deterministic: 10/10
    # queries) at the graded fixture scales where ADC's top-R covers the
    # true top-10 despite ~91 candidates/query. Pin both regimes; skip
    # only on larger env-selected corpora (e.g. sf0.1 N=2000, where the
    # regenerated RECALL.md table shows rerank 0.445 < ceiling 0.448 —
    # the overflow regime the √N dial exists to avoid)
    # a query whose probed cells contain no candidates produces no rerank
    # rows at all — it is absent from `got`, so iterating `got` alone
    # would silently bypass both the ceiling pin and the recall floor for
    # it (round-8 advice item); surface the asymmetry readably instead
    empty_cand = set(exact) - set(got)
    assert all(not cmap.get(q) for q in empty_cand), (
        f"queries {sorted(q for q in empty_cand if cmap.get(q))} have "
        "probed candidates but returned no rerank rows"
    )
    fits_all = all(len(cmap[q]) <= h._IVFPQ_RERANK_R for q in got)
    if not fits_all and len(vecs) > 1000:
        import pytest

        pytest.skip(
            f"candidate sets exceed the R={h._IVFPQ_RERANK_R} shortlist "
            f"at N={len(vecs)} — ceiling equality is only guaranteed in "
            "the fits-shortlist regime; run at the graded scales "
            "(sf0.001/sf0.01) for the full pin"
        )
    for q, byrank in got.items():
        want = sorted(
            cmap[q], key=lambda v: (-cos(vecs[q], vecs[v]), v)
        )[: len(byrank)]
        assert set(byrank.values()) == set(want), q
    # recall floor at the √N operating point (measured 0.530 at sf0.001 /
    # 0.600 at sf0.01, equal to the ceiling; margin so quantizer jitter
    # can't flake) — asserted only in the fits-shortlist regime above
    def recall(res):
        return sum(
            len(set(res.get(q, {}).values()) & set(exact[q].values()))
            / len(exact[q])
            for q in exact
        ) / len(exact)

    assert recall(got) >= 0.50


def test_streaming_ingest_gate_equals_batch_build(spark, sf_dir):
    # state after the gate's 3 micro-batches == the direct batch build
    # (the stateless-projection property the gate exists to pin)
    got = sorted(map(tuple, h.SPARK_QUERIES["streaming_ivfpq_ingest"](
        spark, sf_dir).collect()))
    want = sorted(map(tuple, h.SPARK_QUERIES["ann_ivfpq_codes"](
        spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_streaming_rollup_gate_equals_batch_cascade(spark, sf_dir):
    # rollup state after the gate's 3 micro-batches == the one-shot batch
    # cascade over all rows (additive merge-state composability — the
    # property the gate exists to pin), with real multi-level content
    got = sorted(map(tuple, h.SPARK_QUERIES["streaming_rollup_ingest"](
        spark, sf_dir).collect()))
    want = sorted(map(tuple, h.SPARK_QUERIES["events_rollup_cascade"](
        spark, sf_dir).collect()))
    assert got == want and len(got) > 0
    levels = {r[0] for r in got}
    assert levels == {name for name, _ in h._CASCADE_LEVELS}


def test_streaming_hll_gate_equals_batch_sketch(spark, sf_dir):
    # MAX-merged registers after the gate's 3 micro-batches == the
    # one-shot batch sketch, bit for bit (replay-safe mergeability — the
    # property the gate exists to pin)
    got = sorted(map(tuple, h.SPARK_QUERIES["streaming_hll_ingest"](
        spark, sf_dir).collect()))
    want = sorted(map(tuple, h.SPARK_QUERIES["distinct_hll"](
        spark, sf_dir).collect()))
    assert got == want and len(got) > 0


def test_streaming_sessions_gate_equals_batch_minus_open(spark, sf_dir):
    # closed sessions after three time-ordered micro-batches == the batch
    # sessionization minus each user's final (never-closed) session —
    # pins cross-batch state carry, and non-vacuously: sessions CLOSED
    # across a micro-batch boundary must exist
    got = sorted(map(tuple, h.SPARK_QUERIES["streaming_sessions_ingest"](
        spark, sf_dir).collect()))
    batch = h.SPARK_QUERIES["events_sessions"](spark, sf_dir).collect()
    last = {}
    for r in batch:
        last[r["user_id"]] = max(last.get(r["user_id"], 0), r["session_idx"])
    want = sorted(
        tuple(r) for r in batch if r["session_idx"] < last[r["user_id"]]
    )
    assert got == want and len(got) > 0
    # streaming must have emitted strictly fewer rows than batch (the
    # open-session trim is real)
    assert len(got) < len(batch)


def test_simhash_candidate_stage_not_vacuous(spark, sf_dir):
    # the hamming<=4 OUTPUT is structurally tiny (6 rows — pigeonhole-exact
    # near-identical fingerprints), so pin the CANDIDATE stage instead:
    # the banded self-join must feed tens of real pairs into the verifier
    from pyspark.sql import functions as F

    from assemblagedb_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_fingerprints,
    )

    docs = h.load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs)
    cand = simhash_band_candidates(fp, bands=5)
    assert cand.count() >= 20
    assert _rows(spark, sf_dir, "dedup_simhash_pairs") >= 1


def test_streaming_broadcast_gate_covers_three_pulls(spark, sf_dir):
    # the subscription state after the three single-file episode batches
    # must equal the batch export (per-subscription watermark contract),
    # and each pull window must be genuinely non-empty — otherwise the
    # gate degenerates to a single-batch file read
    got = h.SPARK_QUERIES["streaming_broadcast_ingest"](
        spark, sf_dir).collect()
    want = {
        (r["root_id"], r["node_id"])
        for r in h.SPARK_QUERIES["export_incremental"](
            spark, sf_dir).collect()
    }
    assert {(r["root_id"], r["node_id"]) for r in got} == want
    assert len(got) == len(want) > 0  # exactly-once: no episode replayed
    per_ep = {}
    for r in got:
        per_ep[r["episode"]] = per_ep.get(r["episode"], 0) + 1
    assert set(per_ep) == {"e1", "e2", "e3"} and all(
        v > 0 for v in per_ep.values()
    )


def test_multimodal_decode_gate_parses_every_color_type(spark, sf_dir):
    # the REAL decode path must have parsed every payload (no NULL dims
    # anywhere — the refuse branch never fired) and the corpus must
    # exercise all five PNG color types, i.e. every band-mapping arm
    rows = h.SPARK_QUERIES["multimodal_decode"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(
        r["width"] is not None and r["height"] is not None
        and r["n_channels"] is not None
        for r in rows
    )
    assert {r["n_channels"] for r in rows} == {1, 2, 3, 4}


def test_multimodal_resize_gate_runs_real_pixels(spark, sf_dir):
    # the resize gate's sums must come from genuinely varied pixel
    # content (an identity stub or constant image would collapse the
    # distinct-sum count), and the intermediate payloads must be REAL
    # PNGs the pixel decoder accepts at the resized dimensions
    from assemblagedb_spark.functions.png import png_decode
    from assemblagedb_spark.operators.multimodal import (
        resize_images,
        synthetic_png_media,
    )

    rows = h.SPARK_QUERIES["multimodal_resize"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["pixel_sum"] is not None for r in rows)
    assert len({r["pixel_sum"] for r in rows}) >= min(100, len(rows))

    docs = h.load_table(spark, sf_dir, "documents").limit(3)
    sample = resize_images(
        synthetic_png_media(docs), 16, 16, codec="png"
    ).collect()
    for r in sample:
        assert png_decode(bytes(r["payload"])).shape == (16, 16, 1)


def test_multimodal_audio_gate_decodes_real_waveforms(spark, sf_dir):
    # the audio gate's statistics must come from genuinely parsed PCM
    # frames: varied lengths and energies, and all three sample rates
    # exercised (each rate-mapping arm of the synthetic corpus)
    rows = h.SPARK_QUERIES["multimodal_audio"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert {r["sample_rate"] for r in rows} == {8000, 12000, 16000}
    assert len({r["n_samples"] for r in rows}) >= 50
    assert len({r["abs_sum"] for r in rows}) >= 50
    assert all(r["n_channels"] == 1 for r in rows)


def test_multimodal_jpeg_gate_decodes_real_lossy_streams(spark, sf_dir):
    # the JPEG gate's sums must come from genuinely entropy-decoded
    # streams: all nine block-grid shapes exercised (every DC-prediction
    # chain length), varied pixel sums, and the payloads must be real
    # T.81 streams the codec round-trips — with at least one doc where
    # the LOSSY roundtrip changed the pixels (odd d: half-away rounding
    # moves the value), proving the gate pins quantization, not identity
    from assemblagedb_spark.functions.jpeg import jpeg_decode
    from assemblagedb_spark.operators.multimodal import synthetic_jpeg_media

    rows = h.SPARK_QUERIES["multimodal_jpeg"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["pixel_sum"] is not None for r in rows)
    assert {(r["width"], r["height"]) for r in rows} == {
        (8 * bw, 8 * bh) for bw in (1, 2, 3) for bh in (1, 2, 3)
    }
    assert len({r["pixel_sum"] for r in rows}) >= min(100, len(rows))
    # lossy-not-identity: for v with odd d = v-128, f(v) != v
    by_id = {r["media_id"]: r for r in rows}
    changed = [
        mid for mid, r in by_id.items()
        if ((mid % 256) - 128) % 2 == 1
        and r["width"] == 8 and r["height"] == 8
        and r["pixel_sum"] != 64 * (mid % 256)
    ]
    assert changed, "no doc shows quantization loss - gate pins identity"

    docs = h.load_table(spark, sf_dir, "documents").limit(4)
    kinds = set()
    for r in synthetic_jpeg_media(docs).collect():
        payload = bytes(r["payload"])
        arr = jpeg_decode(payload)
        assert arr.shape[0] % 8 == 0 and arr.shape[1] % 8 == 0
        kinds.add("prog" if b"\xff\xc2" in payload else "base")
    # both decode paths are exercised by the gate corpus
    assert kinds == {"base", "prog"}


def test_multimodal_video_gate_samples_real_containers(spark, sf_dir):
    # frame sampling must follow the container's own geometry: only even
    # frame indexes (the every_n=2 rule), both sampled-frame arms present
    # (T>=3 docs contribute frame 2), all five width/height arms, varied
    # luma sums, and re-parsing a built payload yields the exact frames
    import numpy as np

    from assemblagedb_spark.functions.y4m import y4m_decode
    from assemblagedb_spark.operators.multimodal import synthetic_y4m_media

    rows = h.SPARK_QUERIES["multimodal_video"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert {r["frame_idx"] for r in rows} == {0, 2}
    assert {r["width"] for r in rows} == {8, 9, 10, 11, 12}
    assert {r["height"] for r in rows} == {8, 9, 10, 11, 12}
    assert len({r["luma_sum"] for r in rows}) >= min(100, len(rows))

    docs = h.load_table(spark, sf_dir, "documents").limit(3)
    for r in synthetic_y4m_media(docs).collect():
        mid = r["media_id"]
        luma, w, h_, t = y4m_decode(bytes(r["payload"]))
        assert (w, h_, t) == (8 + mid % 5, 8 + (mid * 3) % 5, 1 + mid % 4)
        expect = (
            np.arange(w)[None, None, :]
            + 3 * np.arange(h_)[None, :, None]
            + 7 * np.arange(t)[:, None, None]
            + mid
        ) % 256
        assert (luma == expect.astype(np.uint8)).all()


def test_multimodal_gif_gate_samples_real_lzw_streams(spark, sf_dir):
    # frame sampling must come from genuinely LZW-decoded animations:
    # both sampled-frame arms (T=3 docs contribute frame 2), all five
    # width/height arms, varied luma sums, and a built payload must
    # round-trip through the decoder to the exact synthetic pixels
    import numpy as np

    from assemblagedb_spark.functions.gif import gif_decode
    from assemblagedb_spark.operators.multimodal import synthetic_gif_media

    rows = h.SPARK_QUERIES["multimodal_gif"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert {r["frame_idx"] for r in rows} == {0, 2}
    assert {r["width"] for r in rows} == {6, 7, 8, 9, 10}
    assert {r["height"] for r in rows} == {6, 7, 8, 9, 10}
    assert len({r["luma_sum"] for r in rows}) >= min(100, len(rows))

    docs = h.load_table(spark, sf_dir, "documents").limit(3)
    for r in synthetic_gif_media(docs).collect():
        mid = r["media_id"]
        rgb, w, h_, t = gif_decode(bytes(r["payload"]))
        assert (w, h_, t) == (6 + mid % 5, 6 + (mid * 7) % 5, 1 + mid % 3)
        expect = (
            np.arange(w)[None, None, :]
            + 5 * np.arange(h_)[None, :, None]
            + 11 * np.arange(t)[:, None, None]
            + mid
        ) % 256
        assert (rgb == expect.astype(np.uint8)[..., None]).all()
