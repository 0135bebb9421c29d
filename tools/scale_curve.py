"""Measure, don't guess: per-operator scaling curves across the three
generated scale factors (sf0.001 / sf0.01 / sf0.1).

For every bench query this runs the same min-of-two timing discipline as
bench.py at each sf and fits the scaling exponent alpha between the two
largest factors (t ~ sf^alpha over the 10x step sf0.01 -> sf0.1). It then
writes SCALING.md sorted by alpha, flagging every key above a threshold.

Honest caveats, stated in the artifact too:
- At these sizes fixed per-job overhead (scheduling, checkpoint barriers)
  dominates many keys, so alpha UNDER-estimates the asymptotic data cost;
  alpha near 0 means "overhead-bound at test scale", not "free at 100 TB".
- Conversely any alpha clearly above 1 already at this scale is a real
  warning: the operator's work grows faster than its input, and a 100x
  scale-up multiplies that gap.

Usage: python tools/scale_curve.py [out_md]
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
SF_VALUES = [0.001, 0.01, 0.1]
ALPHA_FLAG = 1.3  # super-linear warning threshold over the 0.01->0.1 step


DECADE_HEADER = "## decade-up curves — sf1-class fourth point"

# the suite's heaviest keys (round-6 verdict list): the ones whose
# sf0.01->0.1 alphas were most overhead-suppressed and therefore most
# worth a fourth, 10x-larger point
DECADE_KEYS = [
    "dedup_lsh_verify",
    "graph_kcore",
    "graph_bfs_depth",
    "ann_ivfpq_codes",
    "multimodal_jpeg",
    "streaming_ivfpq_ingest",
    "streaming_rollup_ingest",
    "streaming_hll_ingest",
    "streaming_sessions_ingest",
    "streaming_broadcast_ingest",
]


def decade_up(sf1_dir: str, out_md: str, keys: list | None = None) -> None:
    """Time DECADE_KEYS at sf0.01 / sf0.1 / the given sf1-class dir
    (tools/make_scale_data.py) and fit alpha over BOTH decades. The
    sf0.1->sf1 fit is the anti-overhead measurement the round-6 verdict
    asked for: a key whose 0.01->0.1 alpha was suppressed by fixed cost
    shows its true data exponent on the 10x-larger step. Appends/replaces
    a marked section in SCALING.md; the main regeneration preserves it."""
    from bench import time_queries, warmup
    from assemblagedb_spark.session import get_spark

    if keys is None:
        keys = DECADE_KEYS
    spark = get_spark("scale-decade-up")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = [SFS[1], SFS[2], sf1_dir]
    warmup(spark, dirs[0])
    times: dict[str, list[float]] = {}
    for sf_dir in dirs:
        for name, t in time_queries(spark, sf_dir, keys).items():
            times.setdefault(name, []).append(t)
        print(f"done {sf_dir}", file=sys.stderr)

    open_alphas = _load_open_alphas(out_md)
    rows = []
    for name, ts in times.items():
        a_mid = math.log(ts[1] / ts[0]) / math.log(10)
        a_top = math.log(ts[2] / ts[1]) / math.log(10)
        rows.append((name, ts, round(a_mid, 2), round(a_top, 2)))
    rows.sort(key=lambda r: -r[3])
    flagged = []
    for r in rows:
        fa, _src = _flag_alpha(r[0], r[3], open_alphas)
        if fa is not None and fa > ALPHA_FLAG:
            flagged.append(r)

    lines = [
        DECADE_HEADER,
        "",
        f"Generated by `python tools/scale_curve.py --decade-up {sf1_dir}"
        f"{' --all' if len(keys) > len(DECADE_KEYS) else ''}` — "
        f"{'EVERY bench key' if len(keys) > len(DECADE_KEYS) else 'the ten heaviest keys'}"
        " re-timed with an sf1-class point"
        " (tools/make_scale_data.py: 10x sf0.1 row counts, fresh draws"
        " from the same measured distributions — NOT replication, which"
        " would plant duplicate groups and corrupt the dedup curves)."
        " alpha columns fit t ~ sf^alpha over each 10x step; the"
        " 0.1 -> 1 step is the one fixed overhead no longer dominates.",
        "",
        _corpus_choice_note(bool(open_alphas)),
        "",
        f"**Flagged keys (alpha(0.1→1) > {ALPHA_FLAG}): {len(flagged)}**"
        + (": " + ", ".join(r[0] for r in flagged) if flagged else ""),
        "",
        "| query | sf0.01 s | sf0.1 s | sf1 s | alpha (0.01→0.1) | alpha (0.1→1) | flag basis |",
        "|---|---|---|---|---|---|---|",
    ]
    flagged_names = {r[0] for r in flagged}
    for name, ts, a_mid, a_top in rows:
        mark = " **(flag)**" if name in flagged_names else ""
        # same per-row basis column as main(): a family row whose printed
        # closed alpha exceeds the threshold but flags on the open corpus
        # must say so IN the row, not only in the header prose
        fa, src = _flag_alpha(name, a_top, open_alphas)
        if src == "open":
            basis = f"open α {fa:.2f}"
        elif src == "open-DNF":
            basis = "open: DNF (adjudicated)"
        else:
            basis = "closed"
        lines.append(
            f"| {name}{mark} | {ts[0]:.3f} | {ts[1]:.3f} | {ts[2]:.3f} "
            f"| {a_mid:.2f} | {a_top:.2f} | {basis} |"
        )
    lines += [
        "",
        "`dedup_lsh_verify` history (round 7): the FIRST decade-up run "
        "flagged it at alpha 1.72 (3.0s → 159s). Measured attribution: "
        "LSH candidate pairs grow 995 (sf0.01) → 116,265 (sf0.1) → "
        "10,507,268 (sf1) — ~90-117x per 10x rows, because every "
        "document is a bag over the SAME closed 31-word vocabulary, so "
        "pairwise Jaccard mass never thins as N grows — and on top of "
        "that the verify stage's explode shape shuffled "
        "|pairs|·|grams per doc| skinny rows. Fixed the same round: "
        "ngram_overlap_pairs joins compact per-doc gram arrays and "
        "intersects inside the row (codegen array_intersect) — the "
        "isolated sf1 verify stage went 260s → 12s with exact parity "
        "(test_overlap_compact_equals_explode_join), and the full gate "
        "now fits under the flag threshold. The residual super-unit "
        "alpha is candidate-count growth — corpus-intrinsic density, "
        "which real vocabulary growth thins and "
        "`lsh_candidate_pairs(max_bucket=...)` hard-bounds for "
        "adversarially dense corpora "
        "(test_lsh_max_bucket_caps_pathological_buckets). Gates "
        "unchanged (max_bucket defaults to None).",
        "",
        "Flag adjudication (--all run, round 8): both flags are workload "
        "shape, not plan defects. `ann_pq_adc` is the FULL-SCAN ADC "
        "anchor leg: its work is |Q|·N with |Q| = N/50 in this benchmark "
        "(the query set scales with the corpus), so the leg is quadratic "
        "BY DEFINITION — it exists as RECALL.md's 100%-work recall "
        "anchor; the serving legs are ann_ivfpq(+rerank), retuned in "
        "round 8 to nlist ≈ √N (RECALL.md nlist sweep), whose sf1 times "
        "sit near flat here. `overlaps` is exact ALL-PAIRS block overlap "
        "on a corpus where every block pair genuinely shares grams: the "
        "broadcast-CSR kernel's gather is B²-intrinsic here (every block "
        "row meets every other — no plan fixes an output-complete "
        "quadratic), and the open-vocabulary section below adjudicates "
        "both corpus regimes in depth; the engine's open-web shapes for "
        "the same job are the candidate-bounded dedup family and "
        "`overlaps_incremental` (α ≈ 1 here — only changed blocks "
        "rescored). Round-7's second flag, `dedup_lsh_pairs` (α 1.3+, "
        "output-bound on ~90x/decade closed-vocab candidate growth), "
        "now fits at 0.49: the round-8 minhash parallelism guard removed "
        "the partition-bound signature build, and `max_bucket` "
        "(gate-pinned by dedup_lsh_capped) hard-bounds adversarial "
        "density. The ~1.0-1.25 band (dedup_lsh_verify residual, "
        "sketch_countmin, embedding_neardup) is candidate/output growth "
        "one notch down, closed-corpus attribution as above.",
        "",
    ]
    from tools.reportlib import merge_section

    merge_section(out_md, DECADE_HEADER, "\n".join(lines))
    print(json.dumps({
        "flagged": [r[0] for r in flagged],
        "keys": len(rows),
        "out": out_md,
    }))


OPEN_HEADER = "## open-vocabulary decade-up — corpus shape vs operator shape"

# the dedup/overlaps family: every key here reads ONLY the documents table
# (verified against the harness loaders), so the open-vocab dirs carry just
# documents.parquet
OPEN_KEYS = [
    "dedup_exact",
    "dedup_lsh_pairs",
    "dedup_lsh_verify",
    "dedup_clusters",
    "dedup_simhash_pairs",
]

# overlaps is measured separately at a capped number of open points.
# Round-8 history: the exact postings JOIN made the 50k-doc open point a
# structural DNF, so only 2 points ran. Round 9's store_overlaps front
# door routes that corpus to the broadcast-CSR bincount kernel
# (overlap_pairs_sparse) — exact, measured in seconds — so all 3 points
# run now; the cap remains the guard if a future corpus outgrows the
# broadcast kernel (the row then pads DNF).
OVERLAPS_OPEN_MAX = 3  # first N open dirs

# CORPUS CHOICE PER FAMILY (round-8 verdict #4): the dedup/overlaps family's
# scaling is dominated by candidate/pair density, which the closed 31-word
# testdata vocabulary inflates ~90x per 10x rows — a generator artifact, not
# operator shape (three r7 + two r8 adjudications traced to it). Their flag
# alphas are therefore taken from the OPEN-vocabulary control corpus
# (open_vocab_mode's sidecar) when it has been measured; the closed corpus
# stays in every table as the adversarial-density control. All other
# families flag on the closed (driver-shaped) corpus as before.
DEDUP_FAMILY = set(OPEN_KEYS) | {
    "overlaps",
    "dedup_minhash_sig",
    "dedup_minhash_est",
    "dedup_jaccard",
    "dedup_containment",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_lsh_capped",
}


def _open_sidecar_path(out_md: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(out_md)), "SCALING_OPEN.json")


def _load_open_alphas(out_md: str) -> dict:
    """The open-corpus alphas persisted by open_vocab_mode, or {} before
    the control corpus has been measured (flags then fall back to the
    closed corpus, annotated as such)."""
    try:
        with open(_open_sidecar_path(out_md)) as fh:
            return json.load(fh).get("open_alpha", {})
    except (FileNotFoundError, ValueError):
        return {}


def _corpus_choice_note(have_open: bool) -> str:
    if have_open:
        return (
            "Corpus choice per family: dedup/overlaps-family keys FLAG on "
            "the open-vocabulary control corpus (their closed-corpus "
            "alphas track the testdata generator's 31-word density, not "
            "operator shape — see the open-vocabulary section below; "
            "sidecar SCALING_OPEN.json, 5k→50k step). The closed-corpus "
            "alpha is still printed for every key as the "
            "adversarial-density control."
        )
    return (
        "Corpus choice per family: dedup/overlaps-family keys are meant "
        "to flag on the open-vocabulary control corpus, but its sidecar "
        "(SCALING_OPEN.json, written by --open-vocab) has not been "
        "measured yet — all flags below are closed-corpus."
    )


def _flag_alpha(name: str, closed_alpha: float, open_alphas: dict):
    """(alpha used for flagging, source tag). Dedup/overlaps-family keys
    flag on the open-corpus alpha when measured (None = structural DNF on
    the open corpus, adjudicated in the open-vocab section — not flagged
    here); everything else flags on the closed corpus."""
    if name in DEDUP_FAMILY and name in open_alphas:
        a = open_alphas[name]
        return (a, "open") if a is not None else (None, "open-DNF")
    return closed_alpha, "closed"


def open_vocab_mode(out_md: str, open_root: str = "/tmp") -> None:
    """r7 verdict #3: the closed 31-word testdata vocabulary makes LSH
    candidate mass densify ~90x per 10x rows, so every dedup-family
    decade-up alpha measured the corpus generator, not the operator.
    This mode times the dedup/overlaps family on BOTH corpus families —
    the closed-vocab dirs (sf0.01/sf0.1 testdata + /tmp/sf1 from
    make_scale_data.py) and the open-vocab control dirs
    (make_scale_data.py --open-vocab: Zipfian type pool scaling with the
    corpus, 50k types at the sf1-class size, constant 10% near-dup
    fraction) — at matched doc counts (500/5k/50k), and writes a
    preserved side-by-side alpha section into SCALING.md."""
    from bench import time_queries, warmup
    from assemblagedb_spark.session import get_spark

    closed_dirs = [SFS[1], SFS[2], "/tmp/sf1"]
    open_dirs = [
        os.path.join(open_root, d)
        for d in ("open_sf0.01", "open_sf0.1", "open_sf1")
    ]
    spark = get_spark("scale-open-vocab")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, closed_dirs[0])
    results: dict[str, dict[str, list[float]]] = {"closed": {}, "open": {}}
    for fam, dirs in (("closed", closed_dirs), ("open", open_dirs)):
        for i, sf_dir in enumerate(dirs):
            keys = list(OPEN_KEYS)
            if fam == "closed" or i < OVERLAPS_OPEN_MAX:
                keys.append("overlaps")
            for name, t in time_queries(spark, sf_dir, keys).items():
                results[fam].setdefault(name, []).append(t)
            print(f"done {fam} {sf_dir}", file=sys.stderr)

    def alphas(ts):
        return (
            math.log(ts[1] / ts[0]) / math.log(10),
            math.log(ts[2] / ts[1]) / math.log(10),
        )

    lines = [
        OPEN_HEADER,
        "",
        "Generated by `python tools/scale_curve.py --open-vocab` — the "
        "dedup/overlaps family timed on two corpus families at matched "
        "doc counts (500 / 5,000 / 50,000): the driver-shaped CLOSED "
        "corpus (31-word vocabulary — pairwise gram-overlap mass never "
        "thins, LSH candidates densify ~90x per 10x rows) and the OPEN "
        "control (`make_scale_data.py --open-vocab`: Zipfian type pool "
        "scaling with the corpus, 50k types at the sf1-class size, "
        "constant 10% near-dup fraction — the shape real vocabularies "
        "have). An alpha that stays high on BOTH families is "
        "operator-shape; one that collapses on the open corpus was "
        "corpus-shape all along.",
        "",
        "| query | closed s (500/5k/50k) | open s (500/5k/50k) | closed α (5k→50k) | open α (5k→50k) |",
        "|---|---|---|---|---|",
    ]
    order = sorted(
        OPEN_KEYS,
        key=lambda k: -alphas(results["closed"][k])[1],
    )
    open_alpha: dict[str, float] = {}
    for name in order:
        tc, to = results["closed"][name], results["open"][name]
        ac, ao = alphas(tc)[1], alphas(to)[1]
        open_alpha[name] = round(ao, 2)
        lines.append(
            f"| {name} | {tc[0]:.2f} / {tc[1]:.2f} / {tc[2]:.2f} "
            f"| {to[0]:.2f} / {to[1]:.2f} / {to[2]:.2f} "
            f"| {ac:.2f} | {ao:.2f} |"
        )
    # overlaps runs only at the first OVERLAPS_OPEN_MAX open sizes (its
    # 50k open point is a structural DNF) — derive the printed cells from
    # what was actually timed and pad the untimed points (round-8 advice:
    # indexing to[0]/to[1] broke silently if the cap or a dir changed)
    tc, to = results["closed"]["overlaps"], results["open"]["overlaps"]
    open_cells = [f"{t:.2f}" for t in to] + ["DNF"] * (len(open_dirs) - len(to))
    ao_overlaps = alphas(to)[1] if len(to) >= 3 else None
    lines.append(
        f"| overlaps | {tc[0]:.2f} / {tc[1]:.2f} / {tc[2]:.2f} "
        f"| {' / '.join(open_cells)} "
        f"| {alphas(tc)[1]:.2f} | "
        + (f"{ao_overlaps:.2f} |" if ao_overlaps is not None else "— |")
    )
    lines += [
        "",
        "`overlaps` here is the store_overlaps FRONT DOOR: on both "
        "corpora the expanded postings fit the broadcast budget, so it "
        "routes the broadcast-CSR bincount kernel "
        "(overlap_pairs_sparse) — EXACT multiset intersections via the "
        "(gram, copy) binary expansion, no shuffle, no join. Round-8 "
        "history: the exact postings JOIN made the 50k open point a "
        "structural DNF (df ≈ n_blocks on every Zipf-head gram → df² "
        "join rows); the same pair-sharing mass as a per-task integer "
        "gather completes in seconds, so the row now carries a real "
        "measured 50k point. Past the broadcast kernel's budget the "
        "front door falls to the distributed prefix+positional plan "
        "(exact, all equi-joins) and, for maintenance, "
        "overlaps_incremental — only changed blocks rescored; the "
        "candidate-bounded dedup family above remains the approximate "
        "open-web shape.",
        "",
    ]
    from tools.reportlib import merge_section

    merge_section(out_md, OPEN_HEADER, "\n".join(lines))
    # persist the open-corpus alphas: the dedup/overlaps family's flag
    # computation in main()/decade_up() reads this sidecar so future
    # rounds stop re-adjudicating closed-vocab generator artifacts
    # (round-8 verdict #4); overlaps' open alpha is None when its large
    # open point is the structural DNF
    sidecar = {"open_alpha": dict(open_alpha), "doc_counts": [500, 5000, 50000]}
    sidecar["open_alpha"]["overlaps"] = (
        round(ao_overlaps, 2) if ao_overlaps is not None else None
    )
    with open(_open_sidecar_path(out_md), "w") as fh:
        json.dump(sidecar, fh, indent=1, sort_keys=True)
    print(json.dumps({
        "closed": {k: [round(x, 3) for x in v] for k, v in results["closed"].items()},
        "open": {k: [round(x, 3) for x in v] for k, v in results["open"].items()},
        "out": out_md,
    }))


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )

    from bench import BENCH_QUERIES, time_queries, warmup
    from assemblagedb_spark.session import get_spark

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, SFS[0])

    # bench.py's timing helper IS the discipline (min-of-2, cold-key cache
    # resets) — imported, not copied, so the two cannot drift. Times stay
    # UNROUNDED until display: the alpha fit divides raw floats (a
    # sub-millisecond key can't produce a rounded 0.0 divisor).
    times: dict[str, list[float]] = {}
    for sf_dir in SFS:
        for name, t in time_queries(spark, sf_dir, BENCH_QUERIES).items():
            times.setdefault(name, []).append(t)
        print(f"done {sf_dir}", file=sys.stderr)

    open_alphas = _load_open_alphas(out_md)
    rows = []
    for name, ts in times.items():
        alpha = math.log(ts[2] / ts[1]) / math.log(SF_VALUES[2] / SF_VALUES[1])
        rows.append((name, ts, round(alpha, 2)))
    rows.sort(key=lambda r: -r[2])

    flagged = []
    flag_note: dict[str, str] = {}
    for name, ts, alpha in rows:
        fa, src = _flag_alpha(name, alpha, open_alphas)
        if src == "open":
            flag_note[name] = f"open α {fa:.2f}"
        elif src == "open-DNF":
            flag_note[name] = "open: DNF (adjudicated)"
        if fa is not None and fa > ALPHA_FLAG:
            flagged.append((name, ts, alpha))
    lines = [
        "# SCALING — measured per-operator scaling curves",
        "",
        "Generated by `python tools/scale_curve.py`: every bench query",
        "timed (bench.py discipline: min of 2 runs, shared-artifact",
        "caches cleared before build keys) at sf0.001 / sf0.01 / sf0.1,",
        "with the scaling exponent alpha fitted over the 10x step",
        "sf0.01 -> sf0.1 (t ~ sf^alpha).",
        "",
        "Reading it honestly: at these sizes fixed per-job overhead",
        "dominates many keys, so alpha UNDER-estimates asymptotic data",
        "cost — alpha near 0 means overhead-bound at test scale, not free",
        "at 100 TB. But any alpha clearly above 1 already at this scale is",
        "a real warning: that operator's work grows faster than its",
        f"input. Flag threshold: alpha > {ALPHA_FLAG}.",
        "",
        _corpus_choice_note(bool(open_alphas)),
        "",
        f"**Flagged keys: {len(flagged)}**"
        + (": " + ", ".join(r[0] for r in flagged) if flagged else ""),
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha (0.01->0.1) | flag basis |",
        "|---|---|---|---|---|---|",
    ]
    flagged_names = {r[0] for r in flagged}
    for name, ts, alpha in rows:
        mark = " **(flag)**" if name in flagged_names else ""
        basis = flag_note.get(name, "closed")
        lines.append(
            f"| {name}{mark} | {ts[0]:.3f} | {ts[1]:.3f} | {ts[2]:.3f} "
            f"| {alpha:.2f} | {basis} |"
        )
    lines.append("")
    from tools.reportlib import regen_report

    regen_report(out_md, [DECADE_HEADER, OPEN_HEADER], "\n".join(lines))
    print(json.dumps({
        "flagged": [r[0] for r in flagged],
        "keys": len(rows),
        "out": out_md,
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--open-vocab":
        open_vocab_mode(
            sys.argv[2] if len(sys.argv) > 2 else os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "SCALING.md",
            )
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "--decade-up":
        args = [a for a in sys.argv[2:] if a != "--all"]
        use_all = "--all" in sys.argv
        sf1 = args[0] if args else "/tmp/sf1"
        out = args[1] if len(args) > 1 else os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALING.md",
        )
        if use_all:
            from bench import BENCH_QUERIES

            decade_up(sf1, out, keys=list(BENCH_QUERIES))
        else:
            decade_up(sf1, out)
    else:
        main()
