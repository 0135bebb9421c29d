"""End-to-end training-data curation demo: chain the engine's operators
over the driver testdata the way a production pipeline would —

  load -> exact dedup -> MinHash-LSH near-dup clusters (keep canonical)
       -> quality + language scoring -> benchmark decontamination
       -> domain mixture -> train/val/test split -> deterministic
       training order -> packed sequences
       -> multimodal sidecar (real JPEG decode -> dim filter -> resize
          through the codec -> audited pixel stats) -> per-stage report

Every stage is one of the gated operators (see COVERAGE.md); this script
just composes them. Deterministic end to end: same input -> same kept
set, same order, same packing, on any partitioning.

Usage: python tools/run_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/pipeline_out"

    from assemblagedb_spark.operators.chunking import chunk_documents, pack_chunks
    from assemblagedb_spark.operators.components import (
        contracted_components,
    )
    from assemblagedb_spark.operators.decontam import decontaminate
    from assemblagedb_spark.operators.dedup import (
        exact_duplicates,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from assemblagedb_spark.operators.sampling import mixture_sample, split_assign
    from assemblagedb_spark.operators.selection import training_order
    from assemblagedb_spark.operators.textstats import (
        language_id,
        quality_scores,
        token_stats,
    )
    from assemblagedb_spark.session import get_spark
    from assemblagedb_spark.sources.tpch import load_table

    spark = get_spark("curation-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    report: dict[str, int | float] = {}

    docs = load_table(spark, sf_dir, "documents")
    report["input_docs"] = docs.count()

    # 1. exact dedup: keep each text-hash group's canonical doc
    keepers = exact_duplicates(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    docs = docs.join(keepers, "doc_id", "left_semi")
    report["after_exact_dedup"] = docs.count()

    # 2. near-dup clusters via MinHash-LSH; keep each cluster's min id
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(sigs)
    comp = contracted_components(
        pairs.select(
            F.col("id_a").alias("parent_id"), F.col("id_b").alias("child_id")
        )
    )
    dropped = comp.filter(F.col("node_id") != F.col("component")).select(
        F.col("node_id").alias("doc_id")
    )
    docs = docs.join(dropped, "doc_id", "left_anti")
    report["after_near_dedup"] = docs.count()

    # 3. quality + language gating (keep scored-above-threshold docs)
    q = quality_scores(docs).select("doc_id", "quality_score")
    lang = language_id(docs).select("doc_id", "lang_guess")
    docs = (
        docs.join(q, "doc_id")
        .join(lang, "doc_id")
        .filter(F.col("quality_score") >= 0.3)
        .filter(F.col("lang_guess") != "und")
    )
    report["after_quality_lang"] = docs.count()

    # 4. benchmark decontamination: drop docs overlapping the "eval set"
    #    (stand-in: the doc_id % 97 == 0 slice plays the benchmark)
    eval_set = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    # decontaminate() lists the CONTAMINATED docs (doc_id, n_shared_grams);
    # anti-join them away
    flags = decontaminate(docs, eval_set)
    docs = docs.join(flags.select("doc_id"), "doc_id", "left_anti")
    report["after_decontam"] = docs.count()

    # 5. domain mixture toward 50/30/20 en/fr/de over the GUESSED language
    docs = mixture_sample(
        docs, {"en": 0.5, "fr": 0.3, "de": 0.2},
        domain_col="lang_guess",
    )
    report["after_mixture"] = docs.count()

    # 6. content-keyed split, then train-set training order + packing
    docs = split_assign(docs)
    split_counts = {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    report.update({f"split_{k}": v for k, v in split_counts.items()})

    train = docs.filter(F.col("split") == "train")
    ordered = training_order(train.select("doc_id"), seed=1)
    chunks = chunk_documents(train, chunk_tokens=64, overlap=8)
    packed = pack_chunks(chunks, budget=256)
    report["train_chunks"] = chunks.count()
    report["train_bins"] = packed.agg(
        F.countDistinct("bin_id").alias("n")
    ).first()["n"]

    # 7. multimodal sidecar for the curated train docs: build genuine
    #    JPEG payloads (stand-in for a fetched image column), decode the
    #    REAL metadata, drop undecodable/degenerate media, resize through
    #    the real lossy codec, and keep exact pixel statistics for
    #    auditing — the decode -> filter -> transform -> stat shape of a
    #    production vision-data pipeline, all in chained Arrow kernels
    from assemblagedb_spark.operators.multimodal import (
        decode_image_features,
        jpeg_pixel_stats,
        resize_images,
        synthetic_jpeg_media,
    )

    media = synthetic_jpeg_media(train.select("doc_id"))
    feats = decode_image_features(media).filter(
        F.col("width").isNotNull() & (F.col("width") >= 8)
    )
    report["media_decoded"] = feats.count()
    resized = resize_images(
        media.join(feats.select("media_id"), "media_id", "left_semi"),
        16, 16, codec="jpeg",
    )
    stats = jpeg_pixel_stats(resized).filter(F.col("pixel_sum").isNotNull())
    os.makedirs(out_dir, exist_ok=True)
    stats.write.mode("overwrite").parquet(os.path.join(out_dir, "media_stats"))
    report["media_pixel_rows"] = stats.count()

    # 8. write the curated train set (ordered) + report
    os.makedirs(out_dir, exist_ok=True)
    (
        train.join(ordered, "doc_id")
        .orderBy("order_idx")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "train"))
    )
    report["wall_sec"] = round(time.time() - t0, 2)
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
