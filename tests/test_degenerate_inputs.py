"""Degenerate-input regression pins: the gates the round-5 sweeps broke,
each re-run against an EMPTY, ONE-ROW, or NULL-CONTENT copy of the
tables and value-compared to its DuckDB oracle.

The failure classes this pins (all found by sweeping
tools/check_oracles.py over tools/make_degenerate_data.py output):

empty/one-row (14 failures):
- k-means / PQ seed collects building VOID ``array()`` literals or
  ``np.stack``-ing zero seeds (kmeans_train, ann_ivf*, ann_pq*,
  ann_ivfpq*, streaming_ivfpq_ingest);
- driver-side ``None`` arithmetic on min/max aggregates of an empty
  table (streaming_sessions_ingest terciles, iqr_outliers quartiles);
- Spark's native rollup()/cube() emitting ZERO rows over an empty
  relation where ANSI (and DuckDB) emit the global-aggregate row —
  fixed with the all-NULL sentinel row in the same Expand pass;
- an oracle (graph_cyclic) whose closed form assumed referential
  integrity the operator itself never required.

NULL content (19 failures):
- ``coalesce(text, '')`` in the gram expression emitted 3 padding grams
  per NULL document, silently making missing docs dedup candidates and
  index entries (the whole minhash/simhash/gram-index family);
- md5 fingerprints coalesced NULL to the empty-string digest;
- the as-of join's per-column ``last(ignorenulls=True)`` backfilled a
  matched row's genuinely NULL field from an OLDER right row;
- grouped quantile fences ranked NULL metrics (engine-specific sort
  position) instead of excluding them, and dropped the NULL group key;
- closed-form oracles (markup literals, frame sampling) assumed
  non-NULL text.

NULL embeddings (14 failures): every vector consumer (k-means/PQ/IVF
training seeds, encode kernels, cosine top-k, sketches, centroid
assignment, streaming ingest) either crashed on a NULL vector or
assigned it a nondeterministic NULL-distance rank; NULL vectors are
now excluded from training, indexing, assignment and search on both
engines.

Unicode byte-exactness (22 failures): the portable gram SQL windowed
CODEPOINTS (up to 0x10FFFF) through a byte-width packing — overflowing
DuckDB's INT32 arithmetic and, via the minhash product, int64 under
Spark ANSI mode, and deviating from the reference's UTF-8 byte-gram
unit on any non-ASCII text. The SQL forms now derive true UTF-8 bytes
arithmetically from codepoints on both engines (identical to
the gram-index kernel / index_text on every plane), minhash reduces grams
mod P before the universal hash, simhash shingles are byte windows, and
the multimodal oracles measure bytes (strlen) and hash hex renderings
(BLOBs are not SQL-sliceable).

A crash, silent coalesce, or codepoint-for-byte approximation on
degenerate input is a real 100 TB bug: filters drain tables, days have
no events, scrapes have missing bodies, and the web is not ASCII.
"""

from __future__ import annotations

import os

import pytest

from assemblagedb_spark import harness as h
from tests.conftest import assert_matches_oracle
from tools.make_degenerate_data import write_degenerate

# gates the sweep actually broke, by input class
EMPTY_GATES = [
    "kmeans_train",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "ann_pq_codes",
    "ann_pq_adc",
    "ann_ivfpq_codes",
    "ann_ivfpq",
    "ann_ivfpq_rerank",
    "streaming_ivfpq_ingest",
    "streaming_sessions_ingest",
    "text_outliers",
    "events_rollup",
    "events_cube",
]
ONE_ROW_GATES = ["graph_cyclic"]
NULL_CONTENT_GATES = [
    "gram_index",
    "gram_counts",
    "gram_stats",
    "gram_index_delta",
    "dedup_minhash_sig",
    "dedup_lsh_pairs",
    "dedup_minhash_est",
    "dedup_lsh_verify",
    "dedup_containment",
    "dedup_simhash",
    "dedup_clusters",
    "text_fingerprint",
    "markup_roundtrip",
    "pii_scrub",
    "multimodal_frames",
    "graph_triangles",
    "events_asof",
    "events_asof_tolerance",
    "events_outliers_grouped",
]
UNICODE_GATES = [
    "gram_index",
    "gram_counts",
    "gram_stats",
    "gram_index_delta",
    "search",
    "search_topk",
    "find_symmetric",
    "overlaps",
    "overlaps_incremental",
    "reindex_parents",
    "dedup_minhash_sig",
    "dedup_lsh_pairs",
    "dedup_minhash_est",
    "dedup_lsh_verify",
    "dedup_containment",
    "dedup_jaccard",
    "dedup_incremental",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_clusters",
    "graph_triangles",
    "multimodal_meta",
    "multimodal_frames",
]
NULL_VECTOR_GATES = [
    "kmeans_train",
    "embedding_assign",
    "ann_topk",
    "ann_ivf_topk",
    "ann_ivf_trained",
    "ann_lsh_topk",
    "embedding_neardup",
    "embedding_clusters",
    "ann_pq_codes",
    "ann_pq_adc",
    "ann_ivfpq_codes",
    "ann_ivfpq",
    "ann_ivfpq_rerank",
    "streaming_ivfpq_ingest",
]


@pytest.fixture(scope="module")
def degenerate_dirs(tmp_path_factory):
    src = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    root = tmp_path_factory.mktemp("degenerate")
    return write_degenerate(src, str(root))


@pytest.mark.parametrize("name", EMPTY_GATES)
def test_gate_on_empty_tables(spark, degenerate_dirs, name):
    empty_dir = degenerate_dirs[0]
    assert_matches_oracle(spark, empty_dir, name)


@pytest.mark.parametrize("name", ONE_ROW_GATES)
def test_gate_on_one_row_tables(spark, degenerate_dirs, name):
    one_dir = degenerate_dirs[1]
    assert_matches_oracle(spark, one_dir, name)


@pytest.mark.parametrize("name", NULL_CONTENT_GATES)
def test_gate_on_null_content(spark, degenerate_dirs, name):
    nulls_dir = degenerate_dirs[2]
    assert_matches_oracle(spark, nulls_dir, name)


@pytest.mark.parametrize("name", NULL_VECTOR_GATES)
def test_gate_on_null_embeddings(spark, degenerate_dirs, name):
    vecnulls_dir = degenerate_dirs[3]
    assert_matches_oracle(spark, vecnulls_dir, name)


@pytest.mark.parametrize("name", UNICODE_GATES)
def test_gate_on_unicode_text(spark, degenerate_dirs, name):
    unicode_dir = degenerate_dirs[4]
    assert_matches_oracle(spark, unicode_dir, name)


def test_rollup_empty_emits_ansi_global_row(spark, degenerate_dirs):
    """The () grouping set is a global aggregate: one n=0 row on empty
    input (the exact divergence Spark's native rollup()/cube() has)."""
    empty_dir = degenerate_dirs[0]
    rows = h.SPARK_QUERIES["events_rollup"](spark, empty_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["gid"], r["n"], r["day_bucket"], r["event_type"]) == (
        3, 0, None, None,
    )
    assert r["sum_value_cents"] is None
