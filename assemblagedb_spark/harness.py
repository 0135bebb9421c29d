"""Harness query catalog: every SURVEY §2 operator as a (Spark query, DuckDB
oracle SQL) pair over the driver's testdata tables.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the oracle
is ANSI SQL DuckDB runs against the same parquet (views pre-registered by the
driver). Column names and types are aligned on both sides because the
driver's compare hashes values after sorting columns by name.

Determinism rules used throughout:
- no engine-specific hash functions in compared output — minhash/simhash use
  explicit universal-hash arithmetic (functions/core.py);
- floats in compared output only where both engines perform the identical
  sequence of IEEE ops (int/int division), otherwise rank/integer outputs;
- fixed literals (snapshot timestamps, search terms, thresholds) chosen to be
  valid at every SF.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from assemblagedb_spark.functions.core import (
    duckdb_padded_bytes_sql,
    duckdb_utf8_bytes_sql,
    gram_term_sql,
    index_text,
    mix32_sql,
    trim_for_search,
)
from assemblagedb_spark.operators.similarity import HYP_DIM_STRIDE
from assemblagedb_spark.operators import mvcc
from assemblagedb_spark.operators.grams import block_grams, gram_counts
from assemblagedb_spark.operators.search import find, search
from assemblagedb_spark.operators.traversal import (
    ancestors,
    descendants,
    siblings_before_after,
)
from assemblagedb_spark.sources.tpch import (
    duckdb_graph_edges_cte,
    graph_edges,
    load_table,
)

SEARCH_TERM = "table value part hash"
# 2024-01-15 00:00:00 UTC in epoch nanoseconds (events ts is read as nanos).
SNAPSHOT_NS = 1705276800 * 1_000_000_000

# Shared DuckDB fragment: exploded grams of the documents table.
_DOC_GRAMS_CTE = (
    "doc_grams AS (SELECT node_id, gram, COUNT(*)::BIGINT AS occurrences FROM "
    "(SELECT doc_id AS node_id, "
    f"{gram_term_sql('pb', 'i')} AS gram "
    "FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM "
    f"(SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM documents))) "
    "GROUP BY node_id, gram)"
)


def _doc_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id"), "text"
    )


def _global_topk(df: DataFrame, order: list, k: int):
    """Global top-k with a dense 1-based rank, WITHOUT a single-partition
    window over the full relation: ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heap top-k, driver merge of k-row
    heads), then the rank window runs over just the k survivors. The
    single-partition exchange that a bare ``row_number() OVER (ORDER BY
    ...)`` forces on the WHOLE input is the canonical 100 TB bottleneck.
    """
    from pyspark.sql import Window

    # the rank window runs over only k rows, but its partition key must be
    # NON-FOLDABLE: Catalyst eliminates foldable keys (lit(0)), leaving an
    # empty partition spec and the WindowExec single-partition warning
    topk = df.orderBy(*order).limit(k).withColumn(
        "__g", F.spark_partition_id() * F.lit(0)
    )
    w = Window.partitionBy("__g").orderBy(*order)
    return topk.withColumn("rk", F.row_number().over(w)).drop("__g")


def _session_key(spark: SparkSession) -> str:
    """Cache key component for a session: the Spark applicationId is
    unique per application and never recycled, unlike id(spark), whose
    address can be reused after a stopped session is garbage-collected
    (a stale cache hit would then serve DataFrames of a dead context)."""
    return spark.sparkContext.applicationId


# The inverted gram index is a *materialized* structure in the reference
# (slot 2, maintained on write); rebuilding it per query would misrepresent
# the engine. Memoize the persisted index per (session, sf_dir).
_GRAM_INDEX_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _GRAM_INDEX_CACHE:
        _GRAM_INDEX_CACHE[key] = block_grams(_doc_blocks(spark, sf_dir)).persist()
    return _GRAM_INDEX_CACHE[key]


# slot 3 ``Count`` is likewise a stored structure in the reference
# (maintained on write, index.rs:349-356) — rebuilding the aggregate per
# query would misrepresent the engine.
_GRAM_COUNTS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_gram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _GRAM_COUNTS_CACHE:
        _GRAM_COUNTS_CACHE[key] = gram_counts(_doc_gram_index(spark, sf_dir)).persist()
    return _GRAM_COUNTS_CACHE[key]


# ---------------------------------------------------------------------------
# Gram index + search (SURVEY §2.4)
# ---------------------------------------------------------------------------


def q_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index_text + block indexing: the inverted index itself."""
    return _doc_gram_index(spark, sf_dir).select(
        F.col("node_id").cast("long"),
        "gram",
        F.col("occurrences").cast("long"),
    )


O_GRAM_INDEX = f"WITH {_DOC_GRAMS_CTE} SELECT node_id, gram, occurrences FROM doc_grams"


def q_gram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block total gram count (slot 3 Count, index.rs:349-356)."""
    return gram_counts(_doc_gram_index(spark, sf_dir)).select(
        F.col("node_id").cast("long"), F.col("gram_count").cast("long")
    )


O_GRAM_COUNTS = (
    f"WITH {_DOC_GRAMS_CTE} "
    "SELECT node_id, SUM(occurrences)::BIGINT AS gram_count FROM doc_grams GROUP BY node_id"
)


def _search_oracle(term: str, *, trim: bool, min_score: float) -> str:
    grams = index_text(term)
    if trim:
        grams = trim_for_search(grams)
    n = len(grams)
    vals = ", ".join(f"({g}, {c})" for g, c in sorted(Counter(grams).items()))
    return f"""
WITH {_DOC_GRAMS_CTE},
q(gram, q_occ) AS (VALUES {vals}),
inter AS (
  SELECT node_id, SUM(LEAST(occurrences, q_occ))::BIGINT AS i_raw
  FROM doc_grams JOIN q USING (gram) GROUP BY node_id HAVING SUM(LEAST(occurrences, q_occ)) > 0
)
SELECT node_id,
       (255 * {n} // GREATEST({n}, {n}))::INT AS a,
       (255 * {n} // GREATEST({n}, {n}))::INT AS b,
       (255 * i_raw // {n})::INT AS intersection,
       ((255 * i_raw // {n})::INT / 255) AS score
FROM inter
WHERE ((255 * i_raw // {n})::INT / 255) >= {min_score}
"""


def q_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc similarity search (index.rs:174-184): end-trim, asym, 0.3."""
    out = search(spark, _doc_gram_index(spark, sf_dir), SEARCH_TERM)
    return out.select(F.col("node_id").cast("long"), "a", "b", "intersection", "score")


O_SEARCH = _search_oracle(SEARCH_TERM, trim=True, min_score=0.3)


def q_find_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find() in SymmetricOverlap mode with stored counts (index.rs:194-240)."""
    g = _doc_gram_index(spark, sf_dir)
    c = _doc_gram_counts(spark, sf_dir)
    out = find(spark, g, index_text(SEARCH_TERM), counts=c, symmetric=True)
    return out.filter(F.col("score") >= 0.5).select(
        F.col("node_id").cast("long"), "a", "b", "intersection", "score"
    )


def _find_symmetric_oracle(term: str, min_score: float) -> str:
    grams = index_text(term)
    n = len(grams)
    vals = ", ".join(f"({g}, {c})" for g, c in sorted(Counter(grams).items()))
    return f"""
WITH {_DOC_GRAMS_CTE},
q(gram, q_occ) AS (VALUES {vals}),
counts AS (SELECT node_id, SUM(occurrences)::BIGINT AS match_count FROM doc_grams GROUP BY node_id),
inter AS (
  SELECT node_id, SUM(LEAST(occurrences, q_occ))::BIGINT AS i_raw
  FROM doc_grams JOIN q USING (gram) GROUP BY node_id HAVING SUM(LEAST(occurrences, q_occ)) > 0
),
scored AS (
  SELECT i.node_id,
         (255 * {n} // GREATEST({n}, c.match_count))::INT AS a,
         (255 * c.match_count // GREATEST({n}, c.match_count))::INT AS b,
         (255 * i_raw // GREATEST({n}, c.match_count))::INT AS intersection
  FROM inter i JOIN counts c USING (node_id)
)
SELECT node_id, a, b, intersection, (intersection / LEAST(a, b)) AS score
FROM scored WHERE (intersection / LEAST(a, b)) >= {min_score}
"""


O_FIND_SYMMETRIC = _find_symmetric_oracle(SEARCH_TERM, 0.5)


# ---------------------------------------------------------------------------
# MVCC / versioned reads (SURVEY §2.1) over the events stream
# ---------------------------------------------------------------------------
# Convention: key = user_id, version order = (ts, event_id), tombstone =
# event_type = 'error' (a deterministic stand-in for the reference's
# is_removed flag). ``ts`` is the raw nanosecond BIGINT (see load_events);
# oracles use epoch_ns(ts) for identical integer values.

_EV_COLS = ["user_id", "event_id", "event_type", "value"]


def _events_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "is_removed", F.col("event_type") == "error"
    )


def q_mvcc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest version per key incl. tombstones (get_unremoved path)."""
    ev = _events_versioned(spark, sf_dir)
    return mvcc.latest(ev, ["user_id"], ts="ts", tiebreak=["event_id"]).select(*_EV_COLS)


O_MVCC_LATEST = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_mvcc_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live current state: latest per key, tombstoned keys absent (get)."""
    ev = _events_versioned(spark, sf_dir)
    return mvcc.current(ev, ["user_id"], ts="ts", tiebreak=["event_id"]).select(*_EV_COLS)


O_MVCC_CURRENT = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""


def q_mvcc_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation read as of a fixed timestamp (kv lib.rs:585-591)."""
    ev = _events_versioned(spark, sf_dir)
    return mvcc.as_of(
        ev, SNAPSHOT_NS, ["user_id"], ts="ts", tiebreak=["event_id"]
    ).select(*_EV_COLS)


O_MVCC_ASOF = f"""
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE epoch_ns(ts) <= {SNAPSHOT_NS}
) WHERE rn = 1 AND event_type <> 'error'
"""


def q_mvcc_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full version history of one key (kv lib.rs:411-431)."""
    ev = _events_versioned(spark, sf_dir).filter(F.col("user_id") == 7)
    return mvcc.versions(ev, ["user_id"], ts="ts", tiebreak=["event_id"]).select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("ts"),  # µs: the oracle's ts precision
        "event_type",
        "value",
        "is_removed",
    )


O_MVCC_VERSIONS = """
SELECT user_id, event_id, epoch_us(ts)::BIGINT AS ts, event_type, value,
       (event_type = 'error') AS is_removed
FROM events WHERE user_id = 7
"""


def q_mvcc_live_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys whose latest version is live (kv lib.rs:449-465)."""
    ev = _events_versioned(spark, sf_dir)
    return mvcc.live_keys(ev, ["user_id"], ts="ts", tiebreak=["event_id"])


O_MVCC_LIVE_KEYS = """
SELECT user_id FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""


def q_mvcc_last_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max commit timestamp (kv lib.rs:435-443). Emitted at µs granularity:
    the oracle engine truncates the parquet ns timestamps to µs, so raw-ns
    output would hash-mismatch on sub-µs digits."""
    out = mvcc.last_updated(load_table(spark, sf_dir, "events"), ts="ts")
    return out.select(F.expr("last_updated div 1000").alias("last_updated"))


O_MVCC_LAST_UPDATED = "SELECT MAX(epoch_us(ts))::BIGINT AS last_updated FROM events"


def q_mvcc_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """restore (core.rs:552-594): for keys whose current version is a
    tombstone, the latest non-removed payload — the row a restore txn
    re-appends to resurrect the key."""
    ev = _events_versioned(spark, sf_dir)
    out = mvcc.restore_candidates(
        ev, ["user_id"], ts="ts", tiebreak=["event_id"]
    )
    return out.select(*_EV_COLS)


O_MVCC_RESTORE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
trashed AS (SELECT user_id FROM ranked WHERE rn = 1 AND event_type = 'error'),
live AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE event_type <> 'error')
SELECT l.user_id, l.event_id, l.event_type, l.value
FROM live l JOIN trashed USING (user_id) WHERE l.rn = 1
"""


def q_broadcast_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """update_broadcasts (index.rs:88-171): which broadcasts must re-push
    because their exported set intersects the changed set. Broadcasts =
    nations exporting their customer ids; changed = customers with negative
    balance. The reference checks HashSet disjointness per broadcast; at
    scale that is a semi-join of the exported-ids relation against the
    changed set, aggregated per broadcast."""
    c = load_table(spark, sf_dir, "customer")
    exported = c.select(
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("broadcast_id"),
        "c_custkey",
    )
    changed = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    hits = (
        exported.join(changed, "c_custkey")
        .groupBy("broadcast_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed"))
    )
    return (
        exported.groupBy("broadcast_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exported"))
        .join(hits, "broadcast_id", "left")
        .select(
            "broadcast_id",
            "n_exported",
            F.coalesce("n_changed", F.lit(0)).cast("long").alias("n_changed"),
            (F.coalesce("n_changed", F.lit(0)) > 0).alias("needs_push"),
        )
    )


O_BROADCAST_UPDATE = """
WITH exported AS (SELECT 'N' || c_nationkey AS broadcast_id, c_custkey FROM customer),
changed AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
hits AS (
  SELECT broadcast_id, COUNT(*)::BIGINT AS n_changed
  FROM exported JOIN changed USING (c_custkey) GROUP BY broadcast_id)
SELECT e.broadcast_id, COUNT(*)::BIGINT AS n_exported,
       COALESCE(MAX(h.n_changed), 0)::BIGINT AS n_changed,
       COALESCE(MAX(h.n_changed), 0) > 0 AS needs_push
FROM exported e LEFT JOIN hits h ON h.broadcast_id = e.broadcast_id
GROUP BY e.broadcast_id
"""


# ---------------------------------------------------------------------------
# Graph traversal (SURVEY §2.2/2.3) over the FK-hierarchy graph
# ---------------------------------------------------------------------------


def q_graph_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parents(id) back-edge lookup (core.rs:123-128) for all nation nodes."""
    e = _graph_edges(spark, sf_dir, include_lineitem=False)
    return e.filter(F.col("child_id").startswith("N")).select(
        "child_id", "parent_id", "idx"
    )


O_GRAPH_PARENTS = (
    f"WITH edges AS ({duckdb_graph_edges_cte(False)}) "
    "SELECT child_id, parent_id, idx FROM edges WHERE child_id LIKE 'N%'"
)


# graph edges are a materialized table in a deployed engine; memoized like
# the gram index so repeated queries don't rebuild the distinct-union.
_EDGES_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def _graph_edges(spark: SparkSession, sf_dir: str, include_lineitem: bool) -> DataFrame:
    key = (_session_key(spark), sf_dir, include_lineitem)
    if key not in _EDGES_CACHE:
        _EDGES_CACHE[key] = graph_edges(spark, sf_dir, include_lineitem).persist()
    return _EDGES_CACHE[key]


def q_graph_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """descendants(R0): BFS transitive closure with depth (lib.rs:695-797).
    The FK hierarchy has known depth 3 (region→nation→customer/supplier→
    orders), so the loop is bounded instead of probing an empty frontier."""
    e = _graph_edges(spark, sf_dir, include_lineitem=False)
    roots = spark.createDataFrame([("R0",)], "node_id string")
    # the FK hierarchy is a leveled forest (every node one parent, one path)
    return descendants(e, roots, max_depth=3).select(
        "node_id", F.col("depth").cast("long")
    )


O_GRAPH_DESCENDANTS = f"""
WITH RECURSIVE edges AS ({duckdb_graph_edges_cte(False)}),
d(node_id, depth) AS (
  SELECT 'R0', 0
  UNION ALL
  SELECT e.child_id, d.depth + 1 FROM d JOIN edges e ON e.parent_id = d.node_id
)
SELECT node_id, MIN(depth)::BIGINT AS depth FROM d GROUP BY node_id
"""


def q_graph_descendants_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """descendants_until_links (lib.rs:695-797): link children are included
    but never expanded. Links = nation→customer edges whose customer key is
    divisible by 4 — those customers appear in the closure, their orders do
    not."""
    e = _graph_edges(spark, sf_dir, include_lineitem=False).withColumn(
        "is_link",
        F.col("child_id").startswith("C")
        & (F.regexp_extract("child_id", r"^C(\d+)$", 1).cast("long") % 4 == 0),
    )
    roots = spark.createDataFrame([("R1",)], "node_id string")
    return descendants(e, roots, max_depth=3, link_col="is_link").select(
        "node_id", F.col("depth").cast("long")
    )


O_GRAPH_DESCENDANTS_LINKS = f"""
WITH RECURSIVE edges AS ({duckdb_graph_edges_cte(False)}),
d(node_id, depth, is_link) AS (
  SELECT 'R1', 0, FALSE
  UNION ALL
  SELECT e.child_id, d.depth + 1,
         e.child_id LIKE 'C%' AND CAST(substr(e.child_id, 2) AS BIGINT) % 4 = 0
  FROM d JOIN edges e ON e.parent_id = d.node_id
  WHERE NOT d.is_link AND d.depth < 3
)
SELECT node_id, MIN(depth)::BIGINT AS depth FROM d GROUP BY node_id
"""


def q_graph_ancestor_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ancestor_path for sampled lineitems: ordered lineage to the root
    (lib.rs:552-639; every node here has exactly one parent)."""
    e = _graph_edges(spark, sf_dir, include_lineitem=True)
    starts = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("node_id")
        )
        .distinct()
    )
    return ancestors(e, starts, depth=4).select(
        "start_id", "ancestor_id", F.col("depth").cast("long")
    )


O_GRAPH_ANCESTOR_PATH = f"""
WITH RECURSIVE edges AS ({duckdb_graph_edges_cte(True)}),
starts(node_id) AS (
  SELECT DISTINCT 'L' || l_orderkey || '-' || l_linenumber FROM lineitem WHERE l_orderkey % 100 = 0
),
up(start_id, ancestor_id, depth) AS (
  SELECT s.node_id, e.parent_id, 1 FROM starts s JOIN edges e ON e.child_id = s.node_id
  UNION ALL
  SELECT u.start_id, e.parent_id, u.depth + 1 FROM up u JOIN edges e ON e.child_id = u.ancestor_id
)
SELECT start_id, ancestor_id, depth::BIGINT AS depth FROM up
"""


def q_view_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineage (view lib.rs:602-616): the ordered ancestor chain of sampled
    leaves rendered as a path string (nearest parent first), plus depth —
    the descent-path half of the view layer's branch links."""
    e = _graph_edges(spark, sf_dir, include_lineitem=True)
    starts = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            F.concat(
                F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")
            ).alias("node_id")
        )
        .distinct()
    )
    anc = ancestors(e, starts, depth=4)
    path = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("depth", "ancestor_id"))),
            lambda s: s["ancestor_id"],
        ),
        "/",
    )
    return anc.groupBy("start_id").agg(
        path.alias("path"), F.max("depth").cast("long").alias("n_ancestors")
    )


O_VIEW_LINEAGE = f"""
WITH RECURSIVE edges AS ({duckdb_graph_edges_cte(True)}),
starts(node_id) AS (
  SELECT DISTINCT 'L' || l_orderkey || '-' || l_linenumber FROM lineitem WHERE l_orderkey % 100 = 0
),
up(start_id, ancestor_id, depth) AS (
  SELECT s.node_id, e.parent_id, 1 FROM starts s JOIN edges e ON e.child_id = s.node_id
  UNION ALL
  SELECT u.start_id, e.parent_id, u.depth + 1 FROM up u JOIN edges e ON e.child_id = u.ancestor_id
)
SELECT start_id, string_agg(ancestor_id, '/' ORDER BY depth) AS path,
       MAX(depth)::BIGINT AS n_ancestors
FROM up GROUP BY start_id
"""


def q_siblings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """before/after sibling query over order lineitems; low-quantity lines are
    'blank' and skipped (core.rs:152-299 blank-skipping).

    lineitem has duplicate (orderkey, linenumber) rows, so siblings are the
    *distinct* line positions (a line is non-blank if any of its rows is).
    """
    li = load_table(spark, sf_dir, "lineitem")
    e = li.groupBy("l_orderkey", "l_linenumber").agg(
        (F.max("l_quantity") < 5).alias("is_blank")
    ).select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
        F.col("l_linenumber").cast("int").alias("idx"),
        "is_blank",
    )
    return siblings_before_after(e, blank=F.col("is_blank")).select(
        "parent_id", "child_id", "idx", "before_id", "after_id"
    )


O_SIBLINGS = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber, (MAX(l_quantity) < 5) AS is_blank
  FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT 'O' || l_orderkey AS parent_id,
       'L' || l_orderkey || '-' || l_linenumber AS child_id,
       l_linenumber::INT AS idx,
       (MAX(CASE WHEN NOT is_blank THEN {'i': l_linenumber::INT, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)
          OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)).c AS before_id,
       (MIN(CASE WHEN NOT is_blank THEN {'i': l_linenumber::INT, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)
          OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)).c AS after_id
FROM lines
"""


def q_siblings_escalated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """before/after with grandparent escalation (core.rs:152-299 full shape):
    a line with no non-blank sibling inside its order escalates to the
    customer level — nearest order with any non-blank line, descending to
    its last (before) / first (after) non-blank line."""
    from assemblagedb_spark.operators.traversal import siblings_escalated

    li = load_table(spark, sf_dir, "lineitem")
    leaf = li.groupBy("l_orderkey", "l_linenumber").agg(
        (F.max("l_quantity") < 5).alias("is_blank")
    ).select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
        F.col("l_linenumber").cast("int").alias("idx"),
        "is_blank",
    )
    pe = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("parent_id"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("child_id"),
        F.col("o_orderkey").cast("long").alias("idx"),
    )
    return siblings_escalated(leaf, pe, F.col("is_blank")).select(
        "parent_id", "child_id", "idx", "before_id", "after_id"
    )


O_SIBLINGS_ESCALATED = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber, (MAX(l_quantity) < 5) AS is_blank
  FROM lineitem GROUP BY 1, 2
),
l1 AS (
  SELECT l_orderkey, l_linenumber, is_blank,
         (MAX(CASE WHEN NOT is_blank THEN {'i': l_linenumber, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)
            OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)).c AS before_id,
         (MIN(CASE WHEN NOT is_blank THEN {'i': l_linenumber, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)
            OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)).c AS after_id
  FROM lines
),
digest AS (
  SELECT l_orderkey,
         BOOL_OR(NOT is_blank) AS any_nb,
         (MIN(CASE WHEN NOT is_blank THEN {'i': l_linenumber, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)).c AS first_nb,
         (MAX(CASE WHEN NOT is_blank THEN {'i': l_linenumber, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)).c AS last_nb
  FROM lines GROUP BY 1
),
p1 AS (
  SELECT o.o_orderkey,
         (MAX(CASE WHEN COALESCE(d.any_nb, FALSE) THEN {'i': o.o_orderkey, 'c': o.o_orderkey} END)
            OVER (PARTITION BY o.o_custkey ORDER BY o.o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)).c AS prev_o,
         (MIN(CASE WHEN COALESCE(d.any_nb, FALSE) THEN {'i': o.o_orderkey, 'c': o.o_orderkey} END)
            OVER (PARTITION BY o.o_custkey ORDER BY o.o_orderkey
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)).c AS next_o
  FROM orders o LEFT JOIN digest d ON d.l_orderkey = o.o_orderkey
)
SELECT 'O' || l1.l_orderkey AS parent_id,
       'L' || l1.l_orderkey || '-' || l1.l_linenumber AS child_id,
       l1.l_linenumber::INT AS idx,
       COALESCE(l1.before_id, dprev.last_nb) AS before_id,
       COALESCE(l1.after_id, dnext.first_nb) AS after_id
FROM l1
LEFT JOIN p1 ON p1.o_orderkey = l1.l_orderkey
LEFT JOIN digest dprev ON dprev.l_orderkey = p1.prev_o
LEFT JOIN digest dnext ON dnext.l_orderkey = p1.next_o
"""


# ---------------------------------------------------------------------------
# Materialized overlaps (SURVEY §2.4 store_overlaps) on a doc subset
# ---------------------------------------------------------------------------


def q_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric materialized overlaps, score > 0.5, self excluded
    (index.rs:302-347), over the doc_id % 5 == 0 block subset.

    Routed through the store_overlaps front door: the subset's postings
    fit the broadcast budget, so it takes the broadcast-CSR kernel — the
    same route the `overlaps_sparse` gate forces (the front-door pytests
    pin that every route returns the same relation)."""
    from assemblagedb_spark.operators.overlaps import store_overlaps

    # filter the memoized persisted index — the self-join reads the gram
    # relation three times (two sides + counts); recomputing the gram
    # aggregation per read would triple the dominant cost
    g = _doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 5 == 0)
    return store_overlaps(g, gram_counts(g)).select(
        F.col("src_id").cast("long"), F.col("dst_id").cast("long"),
        "a", "b", "intersection", "score",
    )


def q_overlaps_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The open-vocabulary broadcast kernel for store_overlaps, forced on
    the graded corpus: exact multiset intersections via the (gram, copy)
    binary expansion + per-block bincount gather over broadcast CSR
    postings (overlaps.py ``overlap_pairs_sparse``). Same subset and same
    all-pairs SQL oracle as the `overlaps` gate — the kernel is exact by
    the expansion identity sum_g min(a_g,b_g) = |expand(a) ∩ expand(b)|,
    so the driver compares it row-for-row against the naive self-join.
    This is the route the front door picks on the 50k-doc open-vocabulary
    corpus, where the exact postings JOIN was a structural DNF (round-8
    SCALING.md) and this kernel measures in seconds."""
    from assemblagedb_spark.operators.overlaps import overlap_pairs_sparse

    g = _doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 5 == 0)
    out = overlap_pairs_sparse(g)
    if out is None:  # explicit raise: survives python -O, unlike assert
        raise RuntimeError("graded corpus exceeds the sparse broadcast budget")
    return out.select(
        F.col("src_id").cast("long"), F.col("dst_id").cast("long"),
        "a", "b", "intersection", "score",
    )


def q_overlaps_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPEN-VOCABULARY physical strategy for store_overlaps, forced on
    the graded corpus: exact prefix-filtered candidates (ppjoin-family
    pigeonhole over (gram, copy) expanded elements; overlaps.py
    ``overlap_pairs_prefix``) + per-pair compact map intersection. Same
    all-pairs SQL oracle as the `overlaps` gate BY THEOREM — the prefix
    filter provably loses no score>0.5 pair through the 255-floored
    integer score — so the driver pins the scale plan's exactness, not a
    recall estimate."""
    from assemblagedb_spark.operators.overlaps import overlap_pairs_prefix

    # % 20 subset (not the overlaps gate's % 5): the closed-vocabulary
    # corpus is this plan's designed-for WORST case — prefixes cannot
    # thin candidates when every pair genuinely shares rare grams, so the
    # gate's candidate set is ~all pairs and scales B². The driver pin is
    # about EXACTNESS of the prefix+positional filter under the floored
    # score (recall theorem), which a 250-block subset pins as well as a
    # 1000-block one; the open-corpus decade-up point in SCALING.md is
    # where the plan's scale behavior is measured.
    g = _doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 20 == 0)
    return overlap_pairs_prefix(g, gram_counts(g)).select(
        F.col("src_id").cast("long"), F.col("dst_id").cast("long"),
        "a", "b", "intersection", "score",
    )


O_OVERLAPS = f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
doc_grams AS (
  SELECT node_id, gram, COUNT(*)::BIGINT AS occurrences FROM
  (SELECT doc_id AS node_id, {gram_term_sql('pb', 'i')} AS gram
   FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM
     (SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM sub)))
  GROUP BY node_id, gram),
counts AS (SELECT node_id, SUM(occurrences)::BIGINT AS n FROM doc_grams GROUP BY node_id),
inter AS (
  SELECT a.node_id AS src_id, b.node_id AS dst_id,
         SUM(LEAST(a.occurrences, b.occurrences))::BIGINT AS i_raw
  FROM doc_grams a JOIN doc_grams b USING (gram)
  WHERE a.node_id <> b.node_id GROUP BY 1, 2),
scored AS (
  SELECT src_id, dst_id,
         (255 * ca.n // GREATEST(ca.n, cb.n))::INT AS a,
         (255 * cb.n // GREATEST(ca.n, cb.n))::INT AS b,
         (255 * i_raw // GREATEST(ca.n, cb.n))::INT AS intersection
  FROM inter JOIN counts ca ON ca.node_id = src_id JOIN counts cb ON cb.node_id = dst_id)
SELECT src_id, dst_id, a, b, intersection, (intersection / LEAST(a, b)) AS score
FROM scored WHERE (intersection / LEAST(a, b)) > 0.5
"""


# same exact all-pairs oracle as O_OVERLAPS on the overlaps_prefix gate's
# % 20 block subset — the prefix+positional candidate filter is exact by
# theorem, so the SQL twin stays the naive self-join
O_OVERLAPS_PREFIX = O_OVERLAPS.replace("doc_id % 5 = 0", "doc_id % 20 = 0")


# ---------------------------------------------------------------------------
# Dedup suite (training-data pipeline operators)
# ---------------------------------------------------------------------------

_NORM_DUCK = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def q_overlaps_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """store_overlaps incremental maintenance (index.rs:302-347): after an
    edit touches blocks (doc_id % 20 == 0), recompute only THEIR overlaps
    against the whole index and mirror the reverse edges onto affected
    partners. The changed set broadcasts; untouched pairs are never
    rescored."""
    from assemblagedb_spark.operators.overlaps import store_overlaps

    g = _doc_gram_index(spark, sf_dir).filter(F.col("node_id") % 5 == 0)
    changed = g.select("node_id").filter(F.col("node_id") % 20 == 0).distinct()
    # front door: the broadcast-CSR kernel scans only the changed rows
    # against the whole index; over its budget it routes the
    # changed-side-bounded postings join. Per-block totals are
    # subset-independent, so reuse the memoized stored counts (slot 3)
    # instead of re-aggregating the postings twice.
    counts = _doc_gram_counts(spark, sf_dir).filter(F.col("node_id") % 5 == 0)
    out = store_overlaps(g, counts, changed=changed)
    return out.select(
        F.col("src_id").cast("long"), F.col("dst_id").cast("long"),
        "a", "b", "intersection", "score",
    )


O_OVERLAPS_INCREMENTAL = f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
doc_grams AS (
  SELECT node_id, gram, COUNT(*)::BIGINT AS occurrences FROM
  (SELECT doc_id AS node_id, {gram_term_sql('pb', 'i')} AS gram
   FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM
     (SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM sub)))
  GROUP BY node_id, gram),
counts AS (SELECT node_id, SUM(occurrences)::BIGINT AS n FROM doc_grams GROUP BY node_id),
inter AS (
  SELECT a.node_id AS src_id, b.node_id AS dst_id,
         SUM(LEAST(a.occurrences, b.occurrences))::BIGINT AS i_raw
  FROM doc_grams a JOIN doc_grams b USING (gram)
  WHERE a.node_id % 20 = 0 AND a.node_id <> b.node_id GROUP BY 1, 2),
scored AS (
  SELECT src_id, dst_id,
         (255 * ca.n // GREATEST(ca.n, cb.n))::INT AS a,
         (255 * cb.n // GREATEST(ca.n, cb.n))::INT AS b,
         (255 * i_raw // GREATEST(ca.n, cb.n))::INT AS intersection
  FROM inter JOIN counts ca ON ca.node_id = src_id JOIN counts cb ON cb.node_id = dst_id),
hits AS (
  SELECT src_id, dst_id, a, b, intersection,
         (intersection / LEAST(a, b)) AS score
  FROM scored WHERE (intersection / LEAST(a, b)) > 0.5)
SELECT DISTINCT * FROM (
  SELECT * FROM hits
  UNION ALL
  SELECT dst_id, src_id, b, a, intersection, score FROM hits)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.dedup import exact_duplicates

    return exact_duplicates(load_table(spark, sf_dir, "documents"))


O_DEDUP_EXACT = f"""
SELECT md5({_NORM_DUCK}) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*)::BIGINT AS n_copies
FROM documents GROUP BY 1
"""

_MINHASH_K = 16
_LSH_BANDS = 4
_LSH_ROWS = 4

# minhash signatures are a materialized dedup artifact (computed once per
# corpus in a deployed pipeline) — memoized like the gram index.
_MINHASH_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.dedup import minhash_signatures

    key = (_session_key(spark), sf_dir)
    if key not in _MINHASH_CACHE:
        _MINHASH_CACHE[key] = minhash_signatures(
            load_table(spark, sf_dir, "documents"), k=_MINHASH_K
        ).persist()
    return _MINHASH_CACHE[key]


def _coeff_values_sql() -> str:
    from assemblagedb_spark.functions.core import minhash_coeffs

    return ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(minhash_coeffs(_MINHASH_K)))


def _shingles_cte(src: str = "documents") -> str:
    """The distinct byte-4-gram shingle CTE over ``src`` (any relation with
    doc_id + text columns) — shared by every minhash-family oracle."""
    return (
        "shingles AS (SELECT DISTINCT doc_id, gram FROM "
        f"(SELECT doc_id, {gram_term_sql('pb', 'i')} AS gram "
        "FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM "
        f"(SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM {src}))))"
    )


_DOC_SHINGLES_CTE = _shingles_cte()

_MINHASH_CTE = (
    f"coeffs(j, a, b) AS (VALUES {{coeffs}}), "
    "mh AS (SELECT doc_id, j, MIN(((gram % 2147483647) * a + b) % 2147483647) AS minhash "
    "FROM shingles CROSS JOIN coeffs GROUP BY doc_id, j)"
)


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash signatures, exploded to (doc_id, h_idx, minhash) for compare."""
    sig = _doc_minhash_sigs(spark, sf_dir)
    return sig.select(
        "doc_id", F.posexplode("sig").alias("h_idx", "minhash")
    ).select("doc_id", F.col("h_idx").cast("long"), "minhash")


O_DEDUP_MINHASH_SIG = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())} "
    "SELECT doc_id, j::BIGINT AS h_idx, minhash FROM mh"
)


def q_dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: agree on all rows of any band."""
    from assemblagedb_spark.operators.dedup import lsh_candidate_pairs

    sig = _doc_minhash_sigs(spark, sf_dir)
    return lsh_candidate_pairs(sig, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)


O_DEDUP_LSH_PAIRS = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
    "string_agg(minhash, ',' ORDER BY j) AS band_sig "
    f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS}) "
    "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig "
    "WHERE a.doc_id < b.doc_id"
)


# max_bucket gate: clones of one seed document manufacture a guaranteed
# pathological band bucket (identical text -> identical signature -> every
# band bucket the clones occupy has >= _CAP_CLONES + 1 members), so the cap
# demonstrably fires at every scale factor. _CAP_MAX_BUCKET sits below the
# clone-bucket size and above nothing in particular — natural corpus buckets
# larger than the cap are dropped identically on both engines.
_CAP_CLONES = 24
_CAP_MAX_BUCKET = 20
_CAP_ID_BASE = 10_000_000  # clone id space, disjoint from real doc_ids


def _capped_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus _CAP_CLONES copies of the min-doc_id document under
    synthetic ids — the fixture corpus of the max_bucket gate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (
        docs.filter(F.col("doc_id").isNotNull())
        .orderBy("doc_id")
        .limit(1)
        .select("text")
        .crossJoin(spark.range(_CAP_CLONES))
        .select((F.lit(_CAP_ID_BASE) + F.col("id")).alias("doc_id"), "text")
    )
    return docs.unionByName(clones)


def q_dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs under the ``max_bucket`` fan-out guard — the
    adversarial-density operating point (dedup.py:lsh_candidate_pairs):
    band buckets larger than the cap are DROPPED before pair expansion,
    hard-bounding the bucket join's fan-out. The corpus is augmented with
    a manufactured mega-cluster (24 clones of one document) so the cap
    provably fires: every clone-bucket has >= 25 members > 20, so no
    clone pair can survive (their bands are all identical, so they share
    NO small bucket), while ordinary corpus pairs in small buckets pass
    through. Signatures are per-row, so the clone signatures are derived
    from the SHARED persisted signature relation (_doc_minhash_sigs —
    the min-doc_id row replicated under the synthetic ids) rather than
    re-folding the whole augmented corpus: the production shape, and it
    keeps the gate's cost the LSH stage it exists to pin. A NULL-text
    seed document has no signature row, so the broadcast seed join emits
    no clones — matching the oracle, whose clone CTE unnests no shingles
    for NULL text. The oracle mirrors the bucket-size filter exactly;
    the vacuity pin (test_gate_vacuity) proves both the drop and the
    survivors are real."""
    from assemblagedb_spark.operators.dedup import lsh_candidate_pairs

    sig = _doc_minhash_sigs(spark, sf_dir)
    # NULLS-FIRST vs NULLS-LAST divergence guard: Spark sorts NULL doc_ids
    # first ascending, DuckDB last — exclude them on both sides so the two
    # engines pick the same seed row on a corpus with a NULL id
    seed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .orderBy("doc_id")
        .limit(1)
        .select("doc_id")
    )
    clone_sigs = (
        sig.join(F.broadcast(seed), "doc_id")
        .select("sig")
        .crossJoin(spark.range(_CAP_CLONES))
        .select((F.lit(_CAP_ID_BASE) + F.col("id")).alias("doc_id"), "sig")
    )
    return lsh_candidate_pairs(
        sig.unionByName(clone_sigs),
        bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
        max_bucket=_CAP_MAX_BUCKET,
    )


_O_CAPPED_CORPUS_CTE = (
    "corpus AS (SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT ({_CAP_ID_BASE} + r)::BIGINT AS doc_id, s.text "
    "FROM (SELECT text FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id LIMIT 1) s, "
    f"range(0, {_CAP_CLONES}) t(r))"
)

O_DEDUP_LSH_CAPPED = (
    f"WITH {_O_CAPPED_CORPUS_CTE}, {_shingles_cte('corpus')}, "
    f"{_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
    "string_agg(minhash, ',' ORDER BY j) AS band_sig "
    f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS}), "
    "small AS (SELECT band, band_sig FROM bands GROUP BY band, band_sig "
    f"HAVING COUNT(*) <= {_CAP_MAX_BUCKET}), "
    "kept AS (SELECT b.doc_id, b.band, b.band_sig FROM bands b "
    "JOIN small USING (band, band_sig)) "
    "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM kept a JOIN kept b ON a.band = b.band AND a.band_sig = b.band_sig "
    "WHERE a.doc_id < b.doc_id"
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline ending: LSH candidate pairs → connected
    components over the pair graph → every document mapped to its
    cluster's canonical keeper (min doc_id); singletons keep themselves.
    This is the operator a 100 TB dedup job actually runs — pair generation
    is candidate-bounded by the bands; clustering uses partition-local
    union-find contraction (components.contracted_components, parity-pinned
    against a plain-Python union-find) so the diameter-bound round count
    collapses to two Arrow passes + a probe-exited finisher — exact
    components regardless of chain length. The oracle unrolls 24
    label-propagation rounds — exact components either way, so both sides
    agree on the labels with margin."""
    from assemblagedb_spark.operators.components import contracted_components
    from assemblagedb_spark.operators.dedup import lsh_candidate_pairs

    sig = _doc_minhash_sigs(spark, sf_dir)
    pairs = lsh_candidate_pairs(sig, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    edges = pairs.select(
        F.col("id_a").alias("parent_id"), F.col("id_b").alias("child_id")
    )
    comp = contracted_components(edges).withColumnRenamed(
        "node_id", "doc_id"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).cast("long").alias("cluster_id"),
        F.col("component").isNotNull().alias("has_near_dup"),
    )


def _o_dedup_clusters(rounds: int = 8) -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each label round
    # references the previous one twice — without materialization the
    # minhash pipeline would be re-evaluated 2^rounds times.
    ctes = [
        _DOC_SHINGLES_CTE,
        _MINHASH_CTE.format(coeffs=_coeff_values_sql()),
        (
            f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
            "string_agg(minhash, ',' ORDER BY j) AS band_sig "
            f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS})"
        ),
        (
            "pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig "
            "WHERE a.doc_id < b.doc_id)"
        ),
        "und AS MATERIALIZED (SELECT DISTINCT * FROM (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs))",
        "l0 AS MATERIALIZED (SELECT node_id, node_id AS component FROM (SELECT DISTINCT src AS node_id FROM und))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.node_id,
         LEAST(l.component, COALESCE(MIN(nb.component), l.component)) AS component
  FROM l{k - 1} l
  LEFT JOIN und u ON u.src = l.node_id
  LEFT JOIN l{k - 1} nb ON nb.node_id = u.dst
  GROUP BY l.node_id, l.component
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT d.doc_id, COALESCE(l{rounds}.component, d.doc_id)::BIGINT AS cluster_id,
       l{rounds}.component IS NOT NULL AS has_near_dup
FROM documents d LEFT JOIN l{rounds} ON l{rounds}.node_id = d.doc_id"""
    )


O_DEDUP_CLUSTERS = _o_dedup_clusters(24)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(load_table(spark, sf_dir, "documents"), bits=32)


O_DEDUP_SIMHASH = f"""
WITH {_DOC_SHINGLES_CTE},
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ({mix32_sql("gram", 12345)}) // (1::BIGINT << i) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 32)) AS i) GROUP BY doc_id, i)
SELECT doc_id, SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram jaccard pairs >= 0.3 on the doc_id % 5 == 0 subset.

    Threshold 0.3 (not the dedup-typical 0.5) keeps the gate NON-VACUOUS:
    at 0.5 the synthetic corpus yields 0 pairs at sf0.01, so a sign-flipped
    intersection would still "pass". 0.3 emits ~1.6k pairs at sf0.001 AND
    sf0.01, exercising the numerator/denominator arithmetic for real
    (reference score arithmetic: assemblage_db/src/data.rs:566-568)."""
    from assemblagedb_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return ngram_jaccard_pairs(docs, min_jaccard=0.3)


O_DEDUP_JACCARD = f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
sh AS (SELECT DISTINCT doc_id, gram FROM
  (SELECT doc_id, {gram_term_sql('pb', 'i')} AS gram
   FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM
     (SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM sub)))),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS inter
  FROM sh a JOIN sh b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, inter, na.n AS n_a, nb.n AS n_b,
       (inter / (na.n + nb.n - inter)) AS jaccard
FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
WHERE (inter / (na.n + nb.n - inter)) >= 0.3
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors (vec_id % 50 == 0)."""
    from assemblagedb_spark.operators.similarity import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_arrow(emb, queries, k=10).select(
        "query_id", "neighbor_id", F.col("rank").cast("long")
    )


O_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
           WHERE vec_id % 50 = 0 AND embedding IS NOT NULL),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
          sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id AND c.embedding IS NOT NULL)
SELECT query_id, neighbor_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s
) WHERE rank <= 10
"""


# 6 bands × 4 bits, chosen from a measured recall/work sweep AFTER the
# hyperplane-mixer fix (the old LCG sketch had two distinct hyperplanes,
# so every band config degenerated to parity classes ≈ 50% of the cross
# join at recall 0.60). With real hyperplanes on this near-random corpus:
# 6×6 bits → recall 0.29 @ 9% work, 6×4 → 0.69 @ 32%, 8×3 → 0.90 @ 66%
# (RECALL.md holds the committed point). 6×4 matches the old work level
# at strictly better recall; true near-dups (cos ≥ 0.9, p_bit ≈ 0.86)
# keep band recall 1-(1-0.86^4)^6 ≈ 99.9%.
_LSH_ANN_BITS = 24
_LSH_ANN_BANDS = 6
_LSH_ANN_ROWS = _LSH_ANN_BITS // _LSH_ANN_BANDS


#  Data-relative near-dup threshold. 0.40 made the gate near-vacuous (3
#  pairs at sf0.01, 0 at sf0.001 — a sign-flipped dot product could pass);
#  0.25 emits ~50-60 verified pairs at BOTH graded sfs, so the gate
#  actually exercises the cosine arithmetic and the cluster stage.
_NEARDUP_COS = 0.25
# is ~0.459 (random-ish vectors), so a 0.9 cut would make the gate an empty
# set; 0.40 keeps real rows flowing through the whole candidate+verify plan.
# Margins to the cut are >= 6e-4 — far beyond double nondeterminism.


def _embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) near-dup pairs among vec_id % 5 == 0: LSH-band
    candidates verified with exact cosine >= _NEARDUP_COS.

    The candidate stage is a self equi-join of the stored hyperplane-sketch
    band table (the same materialized ANN index half `ann_lsh_topk` probes —
    reused here, filtered to the subset), so the plan is bucket joins all the
    way down: no cross join at any scale. Precision is exact (every emitted
    pair passes the true cosine test); recall is the LSH band recall, and
    the DuckDB oracle replays the identical sketch/banding, so both engines
    compute the same pair set."""
    from assemblagedb_spark.operators.similarity import with_cosine

    bands = _ann_corpus_bands(spark, sf_dir)
    a = bands.filter(F.col("c_id") % 5 == 0).select(
        F.col("c_id").alias("id_a"), "band", "band_bits"
    )
    b = bands.filter(F.col("c_id") % 5 == 0).select(
        F.col("c_id").alias("id_b"), "band", "band_bits"
    )
    cand = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    return (
        with_cosine(pairs)
        .filter(F.col("cosine") >= _NEARDUP_COS)
        .select("id_a", "id_b")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _embedding_neardup_pairs(spark, sf_dir)


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full embedding-dedup pipeline ending (the vector twin of
    dedup_clusters): banded near-dup pairs → union-find-contracted
    connected components (components.contracted_components, parity-pinned
    against a plain-Python union-find) → every subset vector mapped to its
    cluster's canonical keeper (min vec_id); singletons keep themselves."""
    from assemblagedb_spark.operators.components import contracted_components

    pairs = _embedding_neardup_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("parent_id"), F.col("id_b").alias("child_id")
    )
    comp = contracted_components(edges).withColumnRenamed(
        "node_id", "vec_id"
    )
    sub = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    ).select("vec_id")
    return sub.join(comp, "vec_id", "left").select(
        "vec_id",
        F.coalesce("component", F.col("vec_id")).cast("long").alias("cluster_id"),
        F.col("component").isNotNull().alias("has_near_dup"),
    )


O_EMBEDDING_NEARDUP = f"""
WITH el AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
ex AS (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS d FROM el),
comp AS (SELECT vec_id, d, embedding[d + 1]::DOUBLE AS x FROM ex),
ci AS (SELECT vec_id, d, x, unnest(range(0, {_LSH_ANN_BITS})) AS i FROM comp),
dp AS (
  SELECT vec_id, i,
         SUM(x * (CASE WHEN ({mix32_sql(f"i * {HYP_DIM_STRIDE} + d", 7)}) % 2 = 0
                       THEN 1.0 ELSE -1.0 END)) AS dp
  FROM ci GROUP BY vec_id, i),
sk AS (
  SELECT vec_id, SUM(CASE WHEN dp > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sketch
  FROM dp GROUP BY vec_id),
bands AS (
  SELECT vec_id, b.b AS band, (sketch >> (b.b * {_LSH_ANN_ROWS})) & {(1 << _LSH_ANN_ROWS) - 1} AS band_bits
  FROM sk CROSS JOIN (SELECT unnest(range(0, {_LSH_ANN_BANDS})) AS b) b),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_bits = b.band_bits
  WHERE a.vec_id < b.vec_id)
SELECT cand.id_a, cand.id_b
FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
JOIN embeddings eb ON eb.vec_id = cand.id_b
WHERE list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
       sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))) >= {_NEARDUP_COS}
"""


def _o_embedding_clusters(rounds: int = 6) -> str:
    # reuse the near-dup oracle's CTE chain verbatim (identical sketch,
    # banding, and cosine verification), then unroll min-label rounds past
    # measured convergence — the tiny pair graph settles in <= 3 rounds
    ctes_part, select_part = O_EMBEDDING_NEARDUP.strip().rsplit("SELECT cand.id_a", 1)
    pairs_sql = ("SELECT cand.id_a" + select_part).strip()
    ctes = [
        ctes_part.rstrip().rstrip(","),
        f"pairs AS MATERIALIZED ({pairs_sql})",
        "und AS MATERIALIZED (SELECT DISTINCT * FROM (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs))",
        "l0 AS MATERIALIZED (SELECT node_id, node_id AS component FROM (SELECT DISTINCT src AS node_id FROM und))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.node_id,
         LEAST(l.component, COALESCE(MIN(nb.component), l.component)) AS component
  FROM l{k - 1} l
  LEFT JOIN und u ON u.src = l.node_id
  LEFT JOIN l{k - 1} nb ON nb.node_id = u.dst
  GROUP BY l.node_id, l.component
)"""
        )
    return (
        ",\n".join(ctes)
        + f"""
SELECT s.vec_id, COALESCE(l{rounds}.component, s.vec_id)::BIGINT AS cluster_id,
       l{rounds}.component IS NOT NULL AS has_near_dup
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 5 = 0) s
LEFT JOIN l{rounds} ON l{rounds}.node_id = s.vec_id"""
    )


# 0.25-threshold pair graph: measured convergence ≤ 12 rounds at sf0.001
# AND sf0.01; 24 doubles the margin (same budget as the text dedup_clusters
# oracle — tiny graph, cheap CTE rounds)
O_EMBEDDING_CLUSTERS = _o_embedding_clusters(24)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKENS_DUCK = "list_filter(string_split_regex(trim(coalesce(text, '')), ' +'), t -> t <> '')"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.textstats import token_stats

    return token_stats(load_table(spark, sf_dir, "documents"))


O_TEXT_STATS = f"""
SELECT doc_id, length(coalesce(text, ''))::BIGINT AS n_chars,
       len({_TOKENS_DUCK})::BIGINT AS n_tokens,
       len(list_distinct({_TOKENS_DUCK}))::BIGINT AS n_distinct_tokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.textstats import quality_scores

    return quality_scores(load_table(spark, sf_dir, "documents"))


def _o_text_quality() -> str:
    from assemblagedb_spark.operators.textstats import LANG_STOPWORDS

    stop = "[" + ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"]) + "]"
    toks = _TOKENS_DUCK
    n_tok = f"len({toks})::BIGINT"
    n_stop = f"len(list_filter({toks}, t -> list_contains({stop}, lower(t))))::BIGINT"
    length_score = f"LEAST({n_tok} / 100.0, 1.0)"
    diversity = f"(CASE WHEN {n_tok} > 0 THEN len(list_distinct({toks})) / {n_tok} ELSE 0.0 END)"
    stop_ratio = f"(CASE WHEN {n_tok} > 0 THEN {n_stop} / {n_tok} ELSE 0.0 END)"
    return f"""
SELECT doc_id, {n_tok} AS n_tokens, {n_stop} AS n_stopwords,
       {length_score} AS length_score, {diversity} AS diversity, {stop_ratio} AS stopword_ratio,
       (({length_score} + {diversity} + LEAST({stop_ratio} * 4, 1.0)) / 3) AS quality_score
FROM documents
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.textstats import language_id

    return language_id(load_table(spark, sf_dir, "documents"))


def _o_text_lang_id() -> str:
    from assemblagedb_spark.operators.textstats import LANG_STOPWORDS

    hits = {
        lang: f"len(list_filter({_TOKENS_DUCK}, t -> list_contains([{', '.join(chr(39) + w + chr(39) for w in words)}], lower(t))))::BIGINT"
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    best, best_hits = f"'{langs[0]}'", f"hits_{langs[0]}"
    for lang in langs[1:]:
        best = f"(CASE WHEN hits_{lang} > {best_hits} THEN '{lang}' ELSE {best} END)"
        best_hits = f"GREATEST(hits_{lang}, {best_hits})"
    cols = ", ".join(f"{h} AS hits_{lang}" for lang, h in hits.items())
    return f"""
SELECT doc_id, {", ".join(f"hits_{lang}" for lang in langs)},
       (CASE WHEN {best_hits} > 0 THEN {best} ELSE 'und' END) AS lang_guess
FROM (SELECT doc_id, {cols} FROM documents)
"""


def q_text_lang_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-profile + stopword language ID (textstats.language_id_ngram):
    the Cavnar/Trenkle-style n-gram scorer as one integer Catalyst
    expression — replace()-count occurrences, no explode, no Python."""
    from assemblagedb_spark.operators.textstats import language_id_ngram

    return language_id_ngram(load_table(spark, sf_dir, "documents"))


def _o_text_lang_ngram(stopword_weight: int = 4) -> str:
    from assemblagedb_spark.operators.textstats import LANG_STOPWORDS, LANG_TRIGRAMS

    s = (
        "(' ' || regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')"
        " || ' ')"
    )
    scores = {}
    for lang, tris in LANG_TRIGRAMS.items():
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        hits = (
            f"len(list_filter({_TOKENS_DUCK}, t -> list_contains([{words}], lower(t))))::BIGINT"
        )
        occ = " + ".join(
            f"((length({s}) - length(replace({s}, '{t}', ''))) // 3)" for t in tris
        )
        scores[lang] = f"({hits} * {stopword_weight} + ({occ}))::BIGINT"
    langs = list(LANG_TRIGRAMS)
    best, best_score = f"'{langs[0]}'", f"score_{langs[0]}"
    for lang in langs[1:]:
        best = f"(CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best} END)"
        best_score = f"GREATEST(score_{lang}, {best_score})"
    cols = ", ".join(f"{c} AS score_{lang}" for lang, c in scores.items())
    return f"""
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       (CASE WHEN {best_score} > 0 THEN {best} ELSE 'und' END) AS lang_guess
FROM (SELECT doc_id, {cols} FROM documents)
"""


_WINNOW_K, _WINNOW_W, _WINNOW_B, _WINNOW_M = 5, 4, 257, 1_000_000_007


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: k-gram rolling hashes, window-min
    selection, distinct — the shift-tolerant document fingerprint set
    (textstats.winnowing_fingerprints)."""
    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"),
        k=_WINNOW_K, window=_WINNOW_W, base=_WINNOW_B, mod=_WINNOW_M,
    )


O_TEXT_WINNOWING = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS s
  FROM documents
),
ok AS (SELECT doc_id, s FROM norm WHERE length(s) >= {_WINNOW_K + _WINNOW_W - 1}),
hs AS (
  SELECT doc_id,
         list_transform(range(1, length(s) - {_WINNOW_K - 2}), i ->
           list_reduce(list_transform(range(i, i + {_WINNOW_K}), j ->
             ord(s[j])::BIGINT), (acc, x) -> (acc * {_WINNOW_B} + x) % {_WINNOW_M})) AS h
  FROM ok
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(h) - {_WINNOW_W - 2}), j ->
           list_aggregate(h[j : j + {_WINNOW_W - 1}], 'min'))) AS fps
  FROM hs
)
SELECT doc_id, unnest(fps) AS fingerprint FROM sel
"""


_WP_SHARED, _WP_DF_FRAC = 8, 0.06


def q_text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap candidate pairs (MOSS): documents sharing ≥ 8
    winnowing fingerprints, ubiquitous fingerprints (df > 6% of the
    corpus) dropped before the self-join so no hub bucket goes quadratic
    and the cap tracks corpus size across SFs."""
    from assemblagedb_spark.operators.dedup import fingerprint_near_pairs
    from assemblagedb_spark.operators.textstats import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    max_df = int(docs.count() * _WP_DF_FRAC)
    fps = winnowing_fingerprints(docs)
    return fingerprint_near_pairs(fps, min_shared=_WP_SHARED, max_df=max_df)


O_TEXT_WINNOW_PAIRS = f"""
WITH fp0 AS ({{winnow}}),
fp AS (SELECT DISTINCT doc_id, fingerprint FROM fp0),
keep AS (SELECT fingerprint FROM fp GROUP BY fingerprint
         HAVING COUNT(*) <= (SELECT floor(COUNT(*) * {_WP_DF_FRAC})
                             FROM documents)),
f2 AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keep USING (fingerprint))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared
FROM f2 a JOIN f2 b USING (fingerprint)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {_WP_SHARED}
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.textstats import fingerprints

    return fingerprints(load_table(spark, sf_dir, "documents"))


_CHUNK_TOKENS, _CHUNK_OVERLAP = 64, 8


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (operators/chunking.py) —
    64-token windows every 56 tokens, truncated final chunk, one output
    row per chunk."""
    from assemblagedb_spark.operators.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP,
    )


O_TEXT_CHUNKS = f"""
WITH t AS (SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents),
ok AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_TOKENS - _CHUNK_OVERLAP})) AS s FROM ok)
SELECT doc_id, (s // {_CHUNK_TOKENS - _CHUNK_OVERLAP})::BIGINT AS chunk_idx,
       array_to_string(toks[s + 1 : s + {_CHUNK_TOKENS}], ' ') AS chunk_text,
       len(toks[s + 1 : s + {_CHUNK_TOKENS}])::BIGINT AS n_tokens
FROM c
"""


_PACK_BUDGET, _PACK_SHARDS = 256, 8


def q_text_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the chunk stream (chunking.pack_chunks):
    shard-parallel running-total bin assignment, 256-token bins."""
    from assemblagedb_spark.operators.chunking import chunk_documents, pack_chunks

    chunks = chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP,
    ).select("doc_id", "chunk_idx", "n_tokens")
    return pack_chunks(chunks, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


O_TEXT_PACKING = f"""
WITH t AS (SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents),
ok AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, unnest(range(0, len(toks), {_CHUNK_TOKENS - _CHUNK_OVERLAP})) AS s FROM ok),
chunks AS (
  SELECT doc_id, (s // {_CHUNK_TOKENS - _CHUNK_OVERLAP})::BIGINT AS chunk_idx,
         len(toks[s + 1 : s + {_CHUNK_TOKENS}])::BIGINT AS n_tokens
  FROM c),
packed AS (
  SELECT doc_id, chunk_idx, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                   ORDER BY doc_id, chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS strt
  FROM chunks)
SELECT doc_id, chunk_idx, n_tokens,
       ((doc_id % {_PACK_SHARDS}) * {1 << 40} + strt // {_PACK_BUDGET})::BIGINT AS bin_id,
       strt AS bin_offset
FROM packed
"""


def q_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data filter job — what this engine exists to
    run at 100 TB: keep each exact-dup group's canonical keeper, require
    quality_score >= 0.4 and lang_guess = 'en', emit integer/string
    columns only.

    Fused plan: quality, language, and the dedup hash are all per-row
    derivations of ONE documents scan, so they compute in a single
    projection with the token array bound ONCE per row (lambda-CSE —
    otherwise CollapseProject re-inlines the split ~15×); keeper
    selection and group size are windows over the hash — ONE shuffle
    total, where the naive three-way join of the standalone operators
    costs three. Formulas are identical to textstats.quality_cols /
    lang_hit_cols (the standalone-gate expressions)."""
    from assemblagedb_spark.operators.textstats import LANG_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = "filter(split(trim(coalesce(text, '')), ' +'), t -> t <> '')"
    stop_en = "array(" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + ")"
    n_tok = "CAST(size(toks) AS BIGINT)"
    n_stop = (
        f"CAST(size(filter(toks, t -> array_contains({stop_en}, lower(t)))) AS BIGINT)"
    )
    quality = (
        f"(LEAST({n_tok} / 100.0, 1.0)"
        f" + (CASE WHEN {n_tok} > 0 THEN size(array_distinct(toks)) / {n_tok} ELSE 0.0 END)"
        f" + LEAST((CASE WHEN {n_tok} > 0 THEN {n_stop} / {n_tok} ELSE 0.0 END) * 4, 1.0)"
        f") / 3"
    )
    hits_fields = ", ".join(
        f"'{lang}', CAST(size(filter(toks, t -> array_contains("
        + "array(" + ", ".join(f"'{w}'" for w in words) + ")"
        + ", lower(t)))) AS BIGINT)"
        for lang, words in LANG_STOPWORDS.items()
    )
    langs = list(LANG_STOPWORDS)
    best, best_hits = f"'{langs[0]}'", f"hs.{langs[0]}"
    for lang in langs[1:]:
        best = f"(CASE WHEN hs.{lang} > {best_hits} THEN '{lang}' ELSE {best} END)"
        best_hits = f"GREATEST(hs.{lang}, {best_hits})"
    guess = (
        f"transform(array(named_struct({hits_fields})), hs -> "
        f"CASE WHEN {best_hits} > 0 THEN {best} ELSE 'und' END)[0]"
    )
    features = (
        f"transform(array({toks}), toks -> named_struct("
        f"'h', md5(trim(regexp_replace(lower(text), '\\\\s+', ' '))), "
        f"'n_tokens', {n_tok}, "
        f"'q', {quality}, "
        f"'lang', {guess}))"
    )
    per_row = docs.select(
        "doc_id", F.explode(F.expr(features)).alias("__f")
    ).select(
        "doc_id",
        F.col("__f.h").alias("__h"),
        F.col("__f.n_tokens").alias("n_tokens"),
        F.col("__f.q").alias("__q"),
        F.col("__f.lang").alias("lang_guess"),
    )
    w = Window.partitionBy("__h")
    return (
        per_row.withColumn("__rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(w).cast("long"))
        .filter(
            (F.col("__rn") == 1)
            & (F.col("__q") >= 0.4)
            & (F.col("lang_guess") == "en")
        )
        .select("doc_id", "n_tokens", "n_copies", "lang_guess")
    )


def _o_pipeline_filter() -> str:
    return f"""
WITH k AS (
  SELECT MIN(doc_id) AS doc_id, COUNT(*)::BIGINT AS n_copies
  FROM (SELECT doc_id, md5({_NORM_DUCK}) AS h FROM documents)
  GROUP BY h
),
q AS ({_o_text_quality()}),
l AS ({_o_text_lang_id()})
SELECT k.doc_id, q.n_tokens, k.n_copies, l.lang_guess
FROM k JOIN q USING (doc_id) JOIN l USING (doc_id)
WHERE q.quality_score >= 0.4 AND l.lang_guess = 'en'
"""


O_TEXT_FINGERPRINT = f"SELECT doc_id, md5({_NORM_DUCK}) AS fingerprint FROM documents"


# ---------------------------------------------------------------------------
# Streaming-shaped batch: tumbling-window aggregation over the event stream
# ---------------------------------------------------------------------------


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over the events stream (batch-equivalent of
    the Structured Streaming job in streaming/; value sums as integer cents
    for cross-engine determinism)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour_bucket", F.expr("ts div 3600000000000"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


O_EVENTS_TUMBLING = """
SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
       COUNT(*)::BIGINT AS n,
       SUM(round(value * 100)::BIGINT)::BIGINT AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def q_events_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window over the event stream: per-user trailing 5-row
    moving sum/max of value (cents) in (ts, event_id) order — the
    rank/window-frame surface the reference lacks entirely (SURVEY §2.7),
    supplied by Catalyst. One shuffle on the key; the frame is computed in
    a single sort pass."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.sum(cents).over(w).alias("mov_sum_cents"),
        F.max(cents).over(w).alias("mov_max_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


O_EVENTS_MOVING = """
SELECT user_id, event_id,
       (SUM(round(value * 100)::BIGINT) OVER w)::BIGINT AS mov_sum_cents,
       (MAX(round(value * 100)::BIGINT) OVER w)::BIGINT AS mov_max_cents,
       (COUNT(*) OVER w)::BIGINT AS n_in_frame
FROM events WHERE user_id % 10 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def _ansi_grouping_agg(ev: DataFrame, *, cube: bool) -> DataFrame:
    """Day × event_type grouping-sets aggregate with ANSI empty-input
    semantics in ONE Expand pass.

    Spark's native rollup()/cube() over an EMPTY relation emit zero
    rows, but ANSI (and DuckDB/PostgreSQL) treat the () grouping set as
    a global aggregate — one n=0 row (degenerate-input sweep finding,
    round 5). Rather than a second scan or a cells cascade (both
    measured 2-4x slower than Expand at sf0.1), union ONE all-NULL
    sentinel row into the input: ``count(__real)`` and ``sum(__cents)``
    skip its NULLs in every grouping set, so it contributes 0 everywhere
    it lands, and the post-filter ``n > 0 OR gid = <global>`` drops the
    sentinel-only subtotal rows (a genuine group always has n >= 1)
    while keeping the grand-total row the sentinel guarantees exists.
    NULL-group rows in real data stay correct: the sentinel merely adds
    zero to their aggregates."""
    base = ev.select(
        F.expr("ts div 86400000000000").alias("day_bucket"),
        "event_type",
        F.lit(1).alias("__real"),
        F.round(F.col("value") * 100).cast("long").alias("__cents"),
    )
    sentinel = ev.sparkSession.range(1).select(
        F.lit(None).cast("long").alias("day_bucket"),
        F.lit(None).cast(ev.schema["event_type"].dataType).alias("event_type"),
        F.lit(None).cast("int").alias("__real"),
        F.lit(None).cast("long").alias("__cents"),
    )
    g = base.unionByName(sentinel)
    grouped = (
        g.cube("day_bucket", "event_type")
        if cube
        else g.rollup("day_bucket", "event_type")
    )
    out = grouped.agg(
        F.count("__real").cast("long").alias("n"),
        F.sum("__cents").alias("sum_value_cents"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return out.filter((F.col("n") > 0) | (F.col("gid") == 3))


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event_type ROLLUP over the events stream: per-cell, per-day
    and grand-total aggregates in one pass (grouping-sets coverage beyond
    the reference's flat aggregates; one shuffle, partials expanded
    map-side). grouping_id disambiguates subtotal rows from genuine NULL
    groups; the sentinel trick (`_ansi_grouping_agg`) keeps the ANSI
    grand-total row on empty input. gid: cell=0, per-day=1, total=3."""
    return _ansi_grouping_agg(
        load_table(spark, sf_dir, "events"), cube=False
    )


O_EVENTS_ROLLUP = """
SELECT epoch_ns(ts) // 86400000000000 AS day_bucket, event_type,
       COUNT(*)::BIGINT AS n,
       SUM(round(value * 100)::BIGINT)::BIGINT AS sum_value_cents,
       GROUPING(epoch_ns(ts) // 86400000000000, event_type)::BIGINT AS gid
FROM events GROUP BY ROLLUP (1, 2)
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event_type CUBE: all four grouping sets (cell, per-day,
    per-type, grand total) in one pass — the full grouping-sets surface
    next to the rollup gate, same single-shuffle expanded-partials plan
    and the same ANSI empty-input grand-total behavior
    (`_ansi_grouping_agg`). gid: cell=0, per-day=1, per-type=2, total=3."""
    return _ansi_grouping_agg(
        load_table(spark, sf_dir, "events"), cube=True
    )


O_EVENTS_CUBE = """
SELECT epoch_ns(ts) // 86400000000000 AS day_bucket, event_type,
       COUNT(*)::BIGINT AS n,
       SUM(round(value * 100)::BIGINT)::BIGINT AS sum_value_cents,
       GROUPING(epoch_ns(ts) // 86400000000000, event_type)::BIGINT AS gid
FROM events GROUP BY CUBE (1, 2)
"""


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (percentile_disc — smallest value whose
    cume_dist reaches p) of integer value-cents per event_type. Discrete
    selection returns actual data values, so the output is BIGINT-exact
    across engines — no interpolated-float hashing hazard. One shuffle;
    Spark computes the quantiles in a single sort-based aggregate."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.expr(
            "CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS BIGINT)"
        ).alias("p25"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)"
        ).alias("p50"),
        F.expr(
            "CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS BIGINT)"
        ).alias("p75"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


O_EVENTS_QUANTILES = """
SELECT event_type,
       quantile_disc(cents, 0.25)::BIGINT AS p25,
       quantile_disc(cents, 0.5)::BIGINT AS p50,
       quantile_disc(cents, 0.75)::BIGINT AS p75,
       COUNT(*)::BIGINT AS n
FROM (SELECT event_type, round(value * 100)::BIGINT AS cents FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Relational coverage (free from Spark SQL; benched headline queries)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (money as integer cents)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


O_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity::BIGINT)::BIGINT AS sum_qty,
       SUM(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_base_cents,
       SUM(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS sum_disc_cents,
       COUNT(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: join + agg + top-10."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
            ).alias("revenue_cents")
        )
    )
    return _global_topk(
        rev, [F.desc("revenue_cents"), F.asc("l_orderkey")], 10
    ).select(
        "l_orderkey", "o_orderdate", "o_orderpriority", "revenue_cents",
        F.col("rk").cast("long"),
    )


O_TPCH_Q3 = """
WITH rev AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         SUM(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS revenue_cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3)
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue_cents, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY revenue_cents DESC, l_orderkey) AS rk FROM rev
) WHERE rk <= 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume: the 6-way join with both dims
    broadcast — region+nation collapse to one broadcast lookup, so the only
    shuffles are the three fact-side hash joins and the final aggregate."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(dim), s.s_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
            ).alias("revenue_cents")
        )
    )


O_TPCH_Q5 = """
SELECT n_name,
       SUM(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)::BIGINT AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecasting revenue: pure scan + filter + agg. The
    whole predicate reaches the parquet scan as PushedFilters; at 100 TB
    this is the I/O-bound shape where pushdown IS the query plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


O_TPCH_Q6 = """
SELECT SUM(round(l_extendedprice * l_discount * 100)::BIGINT)::BIGINT AS revenue_cents,
       COUNT(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: groupBy-having semi-join into
    the fact, then global top-100. The having-set is tiny, so it broadcasts
    back against orders — no second fact shuffle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    joined = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
    return (
        _global_topk(joined, [F.desc("o_totalprice"), F.asc("o_orderkey")], 100)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
    )


O_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
SELECT o_orderkey, o_custkey, o_orderdate,
       round(o_totalprice * 100)::BIGINT AS totalprice_cents,
       sum_qty::BIGINT AS sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_gram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics: postings, distinct grams/blocks, occurrence
    mass, and the heaviest posting list. These are the planner inputs the
    scale path needs (posting-skew detection, broadcast-threshold choice);
    at 100 TB the distinct counts swap to approx_count_distinct and the
    max-df to a sketch without changing the query shape."""
    g = _doc_gram_index(spark, sf_dir)
    totals = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.countDistinct("node_id").cast("long").alias("n_blocks"),
        F.sum("occurrences").cast("long").alias("total_occurrences"),
    )
    per_gram = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    gstats = per_gram.agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.max("df").cast("long").alias("max_df"),
    )
    return totals.crossJoin(gstats)


O_GRAM_STATS = f"""
WITH {_DOC_GRAMS_CTE},
per_gram AS (SELECT gram, COUNT(*)::BIGINT AS df FROM doc_grams GROUP BY gram)
SELECT (SELECT COUNT(*) FROM doc_grams)::BIGINT AS n_postings,
       (SELECT COUNT(DISTINCT node_id) FROM doc_grams)::BIGINT AS n_blocks,
       (SELECT SUM(occurrences) FROM doc_grams)::BIGINT AS total_occurrences,
       COUNT(*)::BIGINT AS n_grams,
       MAX(df)::BIGINT AS max_df
FROM per_gram
"""


def q_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 of the ad-hoc search under the reference's Overlap ordering
    (desc intersection, desc a, desc b; data.rs:588-596) with node_id as
    the final tiebreak so the selected set is deterministic."""
    out = search(spark, _doc_gram_index(spark, sf_dir), SEARCH_TERM)
    return (
        _global_topk(
            out,
            [F.desc("intersection"), F.desc("a"), F.desc("b"), F.asc("node_id")],
            20,
        )
        .select(
            F.col("node_id").cast("long"), "a", "b", "intersection", "score",
            F.col("rk").cast("long"),
        )
    )


O_SEARCH_TOPK = (
    "WITH hits AS (" + _search_oracle(SEARCH_TERM, trim=True, min_score=0.3) + ") "
    "SELECT node_id, a, b, intersection, score, rk FROM ("
    "  SELECT *, ROW_NUMBER() OVER (ORDER BY intersection DESC, a DESC, b DESC, node_id) AS rk"
    "  FROM hits) WHERE rk <= 20"
)


def q_display_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_span/is_block/is_link (lib.rs:347-386) over a synthetic node graph
    derived from documents: kind from doc_id % 5, styled wrappers point at
    child (doc_id*2+1) mod N — a functional graph with real wrapper chains
    and styled cycles. links_to_block marks span wrappers whose child
    resolves to a block (the reference's is_link)."""
    from assemblagedb_spark.operators.traversal import display_class

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    kind = F.element_at(
        F.array(
            F.lit("text"), F.lit("chain"), F.lit("page"),
            F.lit("span_styled"), F.lit("block_styled"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    nodes = docs.select(
        F.col("doc_id").alias("node_id"),
        kind.alias("kind"),
        F.when(
            F.col("doc_id") % 5 >= 3, (F.col("doc_id") * 2 + 1) % n_docs
        ).alias("child_id"),
    )
    classes = display_class(nodes, max_iter=8)
    child_class = classes.select(
        F.col("node_id").alias("child_id"),
        F.col("display_class").alias("child_class"),
    )
    return (
        classes.join(child_class, "child_id", "left")
        .select(
            F.col("node_id").cast("long"),
            "kind",
            "display_class",
            F.coalesce(
                (F.col("kind") == "span_styled") & (F.col("child_class") == "block"),
                F.lit(False),
            ).alias("links_to_block"),
        )
    )


O_DISPLAY_CLASS = """
WITH RECURSIVE nodes AS (
  SELECT doc_id AS node_id,
         CASE doc_id % 5 WHEN 0 THEN 'text' WHEN 1 THEN 'chain' WHEN 2 THEN 'page'
              WHEN 3 THEN 'span_styled' ELSE 'block_styled' END AS kind,
         CASE WHEN doc_id % 5 >= 3
              THEN (doc_id * 2 + 1) % (SELECT COUNT(*) FROM documents) END AS child_id
  FROM documents),
chase AS (
  SELECT node_id, child_id AS cur, 1 AS depth FROM nodes WHERE kind = 'span_styled'
  UNION ALL
  SELECT c.node_id, n.child_id, c.depth + 1
  FROM chase c JOIN nodes n ON n.node_id = c.cur
  WHERE n.kind = 'span_styled' AND c.depth < 8
),
resolved AS (
  SELECT c.node_id,
         CASE WHEN n.kind IN ('text', 'chain') THEN 'span' ELSE 'block' END AS dc
  FROM chase c JOIN nodes n ON n.node_id = c.cur
  WHERE n.kind <> 'span_styled'
),
classes AS (
  SELECT n.node_id, n.kind, n.child_id,
         CASE WHEN n.kind IN ('text', 'chain') THEN 'span'
              WHEN n.kind IN ('page', 'block_styled') THEN 'block'
              ELSE COALESCE(r.dc, 'block') END AS display_class
  FROM nodes n LEFT JOIN resolved r ON r.node_id = n.node_id
)
SELECT c.node_id, c.kind, c.display_class,
       COALESCE(c.kind = 'span_styled' AND cc.display_class = 'block', FALSE)
         AS links_to_block
FROM classes c LEFT JOIN classes cc ON cc.node_id = c.child_id
"""


def q_gram_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (Diff::new, index.rs:768-813): the
    postings delta between a before-state (docs with doc_id % 4 != 0) and
    the full corpus — one row per changed (node_id, gram) with the new
    count (0 = delete; here only inserts, the added docs)."""
    from assemblagedb_spark.operators.grams import gram_diff

    full = _doc_gram_index(spark, sf_dir)
    before = full.filter(F.col("node_id") % 4 != 0)
    return gram_diff(before, full).select(
        F.col("node_id").cast("long"), "gram", F.col("occurrences").cast("long")
    )


O_GRAM_INDEX_DELTA = f"""
WITH {_DOC_GRAMS_CTE}
SELECT node_id, gram, occurrences FROM doc_grams WHERE node_id % 4 = 0
"""


def q_reindex_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-bounded re-index (update_parent_index, index.rs:242-284):
    after edits to member docs (doc_id % 7 == 0), re-gram only the affected
    parent blocks. Parent text = ordered chain-concat of member texts, then
    gram — the concatenate-then-gram equivalence of the reference's 3-gram
    boundary splice (index.rs:722-743, SURVEY §7 #4). The changed-parent
    set broadcasts, so untouched parents are never assembled."""
    from assemblagedb_spark.operators.grams import block_grams

    d = load_table(spark, sf_dir, "documents").select(
        F.expr("doc_id div 10").alias("grp"), "doc_id", "text"
    )
    changed = d.filter(F.col("doc_id") % 7 == 0).select("grp").distinct()
    chain = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "",
    )
    affected = (
        d.join(F.broadcast(changed), "grp").groupBy("grp").agg(chain.alias("text"))
    )
    return block_grams(affected, id_col="grp", text_col="text").select(
        F.col("node_id").cast("long"), "gram", F.col("occurrences").cast("long")
    )


O_REINDEX_PARENTS = f"""
WITH changed AS (SELECT DISTINCT doc_id // 10 AS grp FROM documents WHERE doc_id % 7 = 0),
gtext AS (
  SELECT doc_id // 10 AS grp, string_agg(text, '' ORDER BY doc_id) AS text
  FROM documents GROUP BY 1),
affected AS (SELECT g.grp, g.text FROM gtext g JOIN changed c USING (grp)),
g AS (
  SELECT grp, {gram_term_sql('pb', 'i')} AS gram
   FROM (SELECT grp, pb, unnest(range(0, len(pb) - 3)) AS i FROM
     (SELECT grp, {duckdb_padded_bytes_sql('text')} AS pb FROM affected)))
SELECT grp AS node_id, gram, COUNT(*)::BIGINT AS occurrences FROM g GROUP BY 1, 2
"""


def q_graph_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan reachability (the distributed form of the swap obsolete-subtree
    fixpoint, core.rs:440-471): graph nodes NOT reachable from the region
    roots — closure BFS then anti-join. Seeded by dropping region R0's edge,
    so nation/customer/order nodes under R0 orphan. The closure is the
    cycle-safe multi-source ``bfs_depth``."""
    from assemblagedb_spark.operators.components import bfs_depth

    e = _graph_edges(spark, sf_dir, include_lineitem=False).filter(
        F.col("parent_id") != "R0"
    )
    roots = spark.createDataFrame([(f"R{i}",) for i in range(5)], "node_id string")
    reachable = bfs_depth(e, roots, max_depth=3).select("node_id")
    all_nodes = (
        e.select(F.col("child_id").alias("node_id"))
        .unionByName(e.select(F.col("parent_id").alias("node_id")))
        .unionByName(roots)
        .distinct()
    )
    return all_nodes.join(reachable, "node_id", "left_anti")


O_GRAPH_ORPHANS = f"""
WITH RECURSIVE edges AS (
  SELECT * FROM ({duckdb_graph_edges_cte(False)}) WHERE parent_id <> 'R0'
),
roots(node_id) AS (VALUES ('R0'), ('R1'), ('R2'), ('R3'), ('R4')),
reach(node_id) AS (
  SELECT node_id FROM roots
  UNION
  SELECT e.child_id FROM reach r JOIN edges e ON e.parent_id = r.node_id
),
all_nodes(node_id) AS (
  SELECT child_id FROM edges UNION SELECT parent_id FROM edges UNION SELECT node_id FROM roots
)
SELECT node_id FROM all_nodes WHERE node_id NOT IN (SELECT node_id FROM reach)
"""


# ---------------------------------------------------------------------------
# Multimodal: binary payload column + typed metadata
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media-column plumbing: payload byte length + content hash over
    the synthesized media table (operators/multimodal.py). The decode path
    is Arrow-batched and stubbed (no codecs in the container); the byte
    handling here is gate-checked."""
    from assemblagedb_spark.operators.multimodal import media_table

    m = media_table(load_table(spark, sf_dir, "documents"))
    return m.select(
        "media_id",
        "kind",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


# n_bytes is BYTES, not characters: strlen is DuckDB's octet length of
# the UTF-8 encoding, matching Spark's length(encode(text, 'utf-8'));
# md5(VARCHAR) already hashes the UTF-8 bytes on both engines.
O_MULTIMODAL_META = """
SELECT doc_id AS media_id, 'image' AS kind,
       strlen(text)::BIGINT AS n_bytes, md5(text) AS payload_md5
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media payloads (operators/multimodal.py
    sample_frames): one row per sampled 64-byte window per payload, hashed —
    the (media_id, frame_idx) exploded shape a video training pipeline
    feeds downstream. Runs the real mapInPandas plumbing; the codec is the
    deterministic byte-window stub."""
    from assemblagedb_spark.operators.multimodal import media_table, sample_frames

    m = media_table(load_table(spark, sf_dir, "documents"))
    return sample_frames(m).select(
        "media_id", F.col("frame_idx").cast("long"), "frame_sha256"
    )


# the frame fingerprint is sha256 of the LOWERCASE-HEX rendering of the
# 64-byte window (not of the raw bytes): DuckDB cannot slice or sha256
# BLOBs, and a byte window of UTF-8 text is not generally valid VARCHAR —
# the hex string is the portable exact form (operators/multimodal.py
# sample_frames hashes window.hex() identically)
O_MULTIMODAL_FRAMES = f"""
SELECT media_id, i AS frame_idx,
       sha256(array_to_string(list_transform(
           bs[(i * 64 + 1)::INT : ((i + 1) * 64)::INT],
           b -> printf('%02x', b)), '')) AS frame_sha256
FROM (SELECT doc_id AS media_id, bs,
             unnest(range(0, LEAST(8, GREATEST(1, len(bs) // 64)))) AS i
      FROM (SELECT doc_id, {duckdb_utf8_bytes_sql('text')} AS bs
            FROM documents WHERE text IS NOT NULL))
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end (round 6; closes the codec gap for
    the metadata path): the engine constructs genuine PNG signature+IHDR
    payloads JVM-side from each doc_id (binary concat/unhex projection,
    width/height/color-type functions of the id), then
    `decode_image_features` PARSES the bytes back with the production
    decode path (stdlib header parser). The oracle
    predicts the dimensions arithmetically from doc_id, so a hash match
    proves the parser extracts exactly what the bytes encode — byte
    construction and byte parsing check each other."""
    from assemblagedb_spark.operators.multimodal import (
        decode_image_features,
        png_media_table,
    )

    m = png_media_table(load_table(spark, sf_dir, "documents"))
    return decode_image_features(m)


# channels replay PIL's band mapping for the color type cycle
# [0, 2, 3, 4, 6][doc_id % 5] -> gray 1, RGB 3, palette 1, LA 2, RGBA 4
O_MULTIMODAL_DECODE = """
SELECT doc_id::BIGINT AS media_id,
       (16 + doc_id % 240)::INT AS width,
       (16 + (doc_id * 7) % 240)::INT AS height,
       (CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
                        WHEN 3 THEN 2 ELSE 4 END)::INT AS n_channels
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel pipeline end to end (round 6): build genuine
    zlib-compressed grayscale PNGs whose pixels are a pure function of
    doc_id (synthetic_png_media), resize every payload to 16×16 through
    the real codec path (decode → nearest-neighbor map → re-encode,
    functions/png.py), then decode the RESIZED payloads and sum their
    pixels. The oracle computes the same sum arithmetically — resized
    pixel (x, y) reads source pixel ((x·W)÷16, (y·H)÷16), value
    (sx + 7·sy + id) mod 256 — so a hash match proves encode, decode,
    all filter plumbing and the resize map operated on real compressed
    bytes. Three chained Arrow kernels, one corpus scan, zero shuffle."""
    from assemblagedb_spark.operators.multimodal import (
        pixel_sums,
        resize_images,
        synthetic_png_media,
    )

    media = synthetic_png_media(load_table(spark, sf_dir, "documents"))
    resized = resize_images(media, 16, 16, codec="png")
    return pixel_sums(resized)


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (round 6; the audio leg of the
    multimodal triple — video pixel work still awaits ffmpeg): the
    engine builds genuine RIFF/WAVE PCM-16 payloads whose waveform is a
    pure function of doc_id (synthetic_wav_media, stdlib ``wave``
    writer), then audio_features parses the container back with the
    stdlib reader and emits exact integer waveform statistics. The
    oracle predicts rate/length/Σ|sample| arithmetically, so the hash
    match proves the codec read real frames. Two chained Arrow kernels,
    one corpus scan, zero shuffle."""
    from assemblagedb_spark.operators.multimodal import (
        audio_features,
        synthetic_wav_media,
    )

    media = synthetic_wav_media(load_table(spark, sf_dir, "documents"))
    return audio_features(media)


# sample(t) = ((id·31 + t·7) mod 65536) − 32768 over t < 64 + id % 129;
# the 192-row grid covers the max length, filtered per doc
O_MULTIMODAL_AUDIO = """
WITH t AS (SELECT range AS i FROM range(192))
SELECT d.doc_id::BIGINT AS media_id,
       (8000 + (d.doc_id % 3) * 4000)::INT AS sample_rate,
       1::INT AS n_channels,
       (64 + d.doc_id % 129)::BIGINT AS n_samples,
       SUM(ABS(((d.doc_id * 31 + t.i * 7) % 65536) - 32768))::BIGINT
           AS abs_sum
FROM documents d CROSS JOIN t
WHERE t.i < 64 + d.doc_id % 129
GROUP BY d.doc_id
"""


O_MULTIMODAL_RESIZE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 3) % 9 AS h
  FROM documents
),
grid AS (SELECT x.range AS x, y.range AS y FROM range(16) x, range(16) y)
SELECT d.doc_id::BIGINT AS media_id,
       SUM(((g.x * d.w) // 16 + 7 * ((g.y * d.h) // 16) + d.doc_id)
           % 256)::BIGINT AS pixel_sum
FROM dims d CROSS JOIN grid g
GROUP BY d.doc_id
"""


def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec pipeline end to end (round 6): build genuine
    JPEG streams whose 8×8 blocks are flat functions of doc_id
    (synthetic_jpeg_media — entropy-coded T.81 with DC differentials,
    multi-category Huffman symbols and byte stuffing, not header shells;
    odd ids emit PROGRESSIVE SOF2 multi-scan streams, even ids baseline),
    decode them with the pure-numpy decoder (Huffman → dequant
    → IDCT, functions/jpeg.py) and emit exact integer pixel statistics.
    Block-flat inputs make the LOSSY roundtrip closed-form — each block
    is DC-only, so its decoded value is clamp(2·half_away((v−128)/2) +
    128) at the unscaled Annex-K Q₀₀ = 16 (quality 50) — and both stream
    kinds carry identical quantized coefficients, so ONE arithmetic
    oracle pins the baseline AND progressive decode paths: a hash match
    proves FDCT scaling, quantizer rounding, the Huffman tables, byte
    stuffing, DC prediction, progressive scan assembly and the IDCT
    bit-exactly. Two chained Arrow kernels, one corpus scan, zero
    exchanges (plan-pinned)."""
    from assemblagedb_spark.operators.multimodal import (
        jpeg_pixel_stats,
        synthetic_jpeg_media,
    )

    media = synthetic_jpeg_media(load_table(spark, sf_dir, "documents"))
    return jpeg_pixel_stats(media)


# per block: v = (id + 13·bx + 29·by) mod 256, d = v − 128; decoded block
# value = clamp(2·half_away(d/2) + 128) with half_away the codec's
# round-half-away-from-zero; 64 pixels per block, blocks (bw × bh) with
# bw = 1 + id%3, bh = 1 + (id÷3)%3 (the ÷3 decouples the two arms so all
# nine grid shapes occur)
O_MULTIMODAL_JPEG = """
WITH dims AS (
  SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + (doc_id // 3) % 3 AS bh
  FROM documents
),
g AS (SELECT x.range AS bx, y.range AS by FROM range(3) x, range(3) y),
blocks AS (
  SELECT d.doc_id, d.bw, d.bh,
         ((d.doc_id + 13 * g.bx + 29 * g.by) % 256) - 128 AS dd
  FROM dims d JOIN g ON g.bx < d.bw AND g.by < d.bh
)
SELECT doc_id::BIGINT AS media_id,
       (8 * bw)::INT AS width, (8 * bh)::INT AS height,
       SUM(64 * LEAST(255, GREATEST(0,
           2 * (CASE WHEN dd >= 0 THEN (dd + 1) // 2
                     ELSE -((-dd + 1) // 2) END) + 128)))::BIGINT AS pixel_sum
FROM blocks
GROUP BY doc_id, bw, bh
"""


def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end to end (round 6): build genuine
    YUV4MPEG2 container streams whose every luma pixel is a pure function
    of doc_id (synthetic_y4m_media — T = 1+id%4 frames, stream header +
    FRAME markers, the uncompressed interchange format every video
    toolchain reads), then sample every 2nd frame by parsing the
    container's own geometry (sample_video_frames, functions/y4m.py) and
    emit per-frame dimensions and exact luma sums. The oracle replays
    the sampling rule and the pixel arithmetic in SQL, so a hash match
    proves frame boundaries, plane extents and pixel extraction all came
    from real container bytes. Two chained Arrow kernels, one corpus
    scan, zero exchanges (plan-pinned)."""
    from assemblagedb_spark.operators.multimodal import (
        sample_video_frames,
        synthetic_y4m_media,
    )

    media = synthetic_y4m_media(load_table(spark, sf_dir, "documents"))
    return sample_video_frames(media)


# luma(x, y, t) = (x + 3y + 7t + id) mod 256 over W = 8+id%5, H = 8+(id·3)%5,
# frames t < 1+id%4 sampled at t % 2 = 0 (max_frames = 8 never binds: T ≤ 4)
O_MULTIMODAL_VIDEO = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id * 3) % 5 AS h,
         1 + doc_id % 4 AS t
  FROM documents
),
fr AS (SELECT range AS f FROM range(4)),
grid AS (SELECT x.range AS x, y.range AS y FROM range(13) x, range(13) y)
SELECT d.doc_id::BIGINT AS media_id, fr.f::INT AS frame_idx,
       d.w::INT AS width, d.h::INT AS height,
       SUM((g.x + 3 * g.y + 7 * fr.f + d.doc_id) % 256)::BIGINT AS luma_sum
FROM dims d
JOIN fr ON fr.f < d.t AND fr.f % 2 = 0
JOIN grid g ON g.x < d.w AND g.y < d.h
GROUP BY d.doc_id, fr.f, d.w, d.h
"""


def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF sampling end to end (round 6): build genuine
    GIF89a streams whose every pixel is a pure function of doc_id
    (synthetic_gif_media — LZW-compressed frames against the global gray
    palette, NETSCAPE loop extension, real sub-block framing), then
    sample every 2nd frame through the format-sniffing sampler
    (sample_video_frames routes GIF payloads through the LZW decoder and
    disposal compositor, functions/gif.py) and emit per-frame dimensions
    and exact luma sums (BT.601 integer luma == the gray value on a gray
    palette). The oracle replays the sampling rule and pixel arithmetic
    in SQL, so a hash match proves LZW round-tripping, palette
    resolution, frame compositing and the sampling stride all operated
    on real container bytes. Two chained Arrow kernels, one corpus scan,
    zero exchanges (plan-pinned)."""
    from assemblagedb_spark.operators.multimodal import (
        sample_video_frames,
        synthetic_gif_media,
    )

    media = synthetic_gif_media(load_table(spark, sf_dir, "documents"))
    return sample_video_frames(media)


# luma(x, y, t) = (x + 5y + 11t + id) mod 256 over W = 6+id%5, H = 6+(id·7)%5,
# frames t < 1+id%3 sampled at t % 2 = 0 (max_frames never binds: T ≤ 3)
O_MULTIMODAL_GIF = """
WITH dims AS (
  SELECT doc_id, 6 + doc_id % 5 AS w, 6 + (doc_id * 7) % 5 AS h,
         1 + doc_id % 3 AS t
  FROM documents
),
fr AS (SELECT range AS f FROM range(3)),
grid AS (SELECT x.range AS x, y.range AS y FROM range(11) x, range(11) y)
SELECT d.doc_id::BIGINT AS media_id, fr.f::INT AS frame_idx,
       d.w::INT AS width, d.h::INT AS height,
       SUM((g.x + 5 * g.y + 11 * fr.f + d.doc_id) % 256)::BIGINT AS luma_sum
FROM dims d
JOIN fr ON fr.f < d.t AND fr.f % 2 = 0
JOIN grid g ON g.x < d.w AND g.y < d.h
GROUP BY d.doc_id, fr.f, d.w, d.h
"""


# ---------------------------------------------------------------------------
# Sessionization (streaming-shaped batch, gap-based session windows)
# ---------------------------------------------------------------------------

_SESSION_GAP_NS = 1800 * 1_000_000_000  # 30 min


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (session_window analogue; 30-min gap)."""
    from assemblagedb_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    # boundaries computed at full ns precision; emitted at µs (the oracle
    # engine's timestamp precision) — min/max commute with the floor-div
    return sessionize(ev, gap=_SESSION_GAP_NS).select(
        "user_id",
        "session_idx",
        "n_events",
        F.expr("start_ts div 1000").alias("start_ts"),
        F.expr("end_ts div 1000").alias("end_ts"),
    )


O_EVENTS_SESSIONS = f"""
WITH t AS (
  SELECT user_id, event_id, epoch_ns(ts) AS ts FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > {_SESSION_GAP_NS}
              THEN 1 ELSE 0 END AS is_new,
         event_id
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx::BIGINT AS session_idx, COUNT(*)::BIGINT AS n_events,
       (MIN(ts) // 1000)::BIGINT AS start_ts, (MAX(ts) // 1000)::BIGINT AS end_ts
FROM numbered GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# Dedup extensions: minhash jaccard estimate, simhash near-pairs
# ---------------------------------------------------------------------------


def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated jaccard (fraction of agreeing minhash components) for the
    LSH candidate pairs — the cheap verification stage between LSH and the
    exact gram-join."""
    from assemblagedb_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
    )

    sig = _doc_minhash_sigs(spark, sf_dir)
    pairs = lsh_candidate_pairs(sig, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    return minhash_jaccard_estimate(sig, pairs).select("id_a", "id_b", "jaccard_est")


O_DEDUP_MINHASH_EST = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
    "string_agg(minhash, ',' ORDER BY j) AS band_sig "
    f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS}), "
    "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig "
    "WHERE a.doc_id < b.doc_id) "
    "SELECT p.id_a, p.id_b, "
    f"(SUM(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / {_MINHASH_K}) AS jaccard_est "
    "FROM pairs p JOIN mh ma ON ma.doc_id = p.id_a "
    "JOIN mh mb ON mb.doc_id = p.id_b AND mb.j = ma.j "
    "GROUP BY p.id_a, p.id_b"
)

_SIMHASH_MAX_HAMMING = 4  # min observed pair distance in the synthetic corpus
_SIMHASH_BANDS = 5  # pigeonhole: 5 bands guarantee recall 1.0 at hamming <= 4


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming <= 4) on the doc_id % 5 == 0
    subset — fingerprint comparison stage of the dedup pipeline.

    Candidates come from the 5-band bucket join (simhash_band_candidates,
    widths 7,7,6,6,6): by pigeonhole, any pair within hamming 4 of a 32-bit
    fingerprint shares at least one whole band, so recall vs the all-pairs
    comparison is exactly 1.0 (Manku et al. WWW'07) — the oracle stays the
    exact all-pairs SQL while the Spark plan is the bucketed 100 TB plan
    (no cross join)."""
    from assemblagedb_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_fingerprints,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    fp = simhash_fingerprints(docs, bits=32).localCheckpoint(eager=False)
    cand = simhash_band_candidates(fp, bits=32, bands=_SIMHASH_BANDS)
    return simhash_near_pairs(
        fp, max_hamming=_SIMHASH_MAX_HAMMING, candidates=cand
    ).select("id_a", "id_b", F.col("hamming").cast("long"))


O_DEDUP_SIMHASH_PAIRS = f"""
WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
shingles AS (SELECT DISTINCT doc_id, gram FROM
  (SELECT doc_id, {gram_term_sql('pb', 'i')} AS gram
   FROM (SELECT doc_id, pb, unnest(range(0, len(pb) - 3)) AS i FROM
     (SELECT doc_id, {duckdb_padded_bytes_sql('text')} AS pb FROM sub)))),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN ({mix32_sql("gram", 12345)}) // (1::BIGINT << i) % 2 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM shingles CROSS JOIN (SELECT unnest(range(0, 32)) AS i) GROUP BY doc_id, i),
fp AS (
  SELECT doc_id, SUM(CASE WHEN vote > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""
# oracle is intentionally all-pairs: the Spark side's banded candidates have
# provable recall 1.0 at hamming <= bands-1, so results are set-equal


# ---------------------------------------------------------------------------
# Import XOR-namespacing (SURVEY §2.6, index.rs:551-629,653-655)
# ---------------------------------------------------------------------------

_XOR_NAMESPACE = 0x0123456789ABCDEF


def q_import_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-set id namespacing on import: every exported id is XORed with
    the subscription namespace (collision-proofing, index.rs:653-655). The
    export set here is the doc_id % 7 == 0 'subtree'; the mapping must be
    involutive (xor twice = identity), checked via the roundtrip column."""
    from assemblagedb_spark.functions.core import xor_id_expr

    ns = _XOR_NAMESPACE
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    namespaced = F.expr(xor_id_expr("doc_id", ns))
    return docs.select(
        F.col("doc_id").alias("orig_id"),
        namespaced.alias("namespaced_id"),
        F.expr(xor_id_expr(xor_id_expr("doc_id", ns), ns)).alias("roundtrip_id"),
    )


O_IMPORT_XOR = f"""
SELECT doc_id AS orig_id,
       xor(doc_id, {_XOR_NAMESPACE}) AS namespaced_id,
       xor(xor(doc_id, {_XOR_NAMESPACE}), {_XOR_NAMESPACE}) AS roundtrip_id
FROM documents WHERE doc_id % 7 = 0
"""


# ---------------------------------------------------------------------------
# Shared-descendant detection + ordered-DFS preview (SURVEY §2.3)
# ---------------------------------------------------------------------------


# The edge relation is the engine's STORED graph — the reference maintains
# parent/child pointers on every write (slot 0/1, data.rs:492-508), so
# deriving it from the TPC-H tables is fixture construction, not query
# work. Memoize per (session, sf_dir) like the other stored structures
# (gram index, counts); transparency pinned by test_shared_caches.
_SHARED_EDGES_CACHE: dict[tuple[str, str], DataFrame] = {}


def _shared_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _SHARED_EDGES_CACHE:
        _SHARED_EDGES_CACHE[key] = _build_shared_graph_edges(
            spark, sf_dir
        ).persist()
    return _SHARED_EDGES_CACHE[key]


def _build_shared_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph for multi-parent semantics: the C→O→L hierarchy plus a second
    parent P{partkey}→L for lineitems whose partkey % 3 == 0 — those line
    nodes become shared (multi-parent), like the reference's multi-parent
    children (data.rs:492-508)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("parent_id"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("child_id"),
        F.col("o_orderkey").cast("int").alias("idx"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    ol = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
        F.col("l_linenumber").cast("int").alias("idx"),
    ).distinct()
    pl = (
        li.filter(F.col("l_partkey") % 3 == 0)
        .select(
            F.concat(F.lit("P"), F.col("l_partkey")).alias("parent_id"),
            F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
            F.col("l_linenumber").cast("int").alias("idx"),
        )
        .distinct()
    )
    return o.unionByName(ol).unionByName(pl)


_SHARED_EDGES_DUCK = """
  SELECT 'C' || o_custkey AS parent_id, 'O' || o_orderkey AS child_id, o_orderkey::INT AS idx FROM orders
  UNION ALL
  SELECT DISTINCT 'O' || l_orderkey, 'L' || l_orderkey || '-' || l_linenumber, l_linenumber::INT FROM lineitem
  UNION ALL
  SELECT DISTINCT 'P' || l_partkey, 'L' || l_orderkey || '-' || l_linenumber, l_linenumber::INT
  FROM lineitem WHERE l_partkey % 3 = 0
"""


def q_graph_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_shared_descendants for sampled customers: does the customer's
    subtree contain a multi-parent node (lib.rs:805-831)?"""
    from assemblagedb_spark.operators.traversal import has_shared_descendants

    e = _shared_graph_edges(spark, sf_dir)
    roots = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"))
    )
    return has_shared_descendants(e, roots, max_depth=2, assume_forest=True)


O_GRAPH_SHARED = f"""
WITH edges AS ({_SHARED_EDGES_DUCK}),
roots AS (SELECT 'C' || c_custkey AS root_id FROM customer WHERE c_custkey % 10 = 0),
np AS (SELECT child_id, COUNT(DISTINCT parent_id) AS n_parents FROM edges GROUP BY child_id),
sub AS (
  SELECT r.root_id, e1.child_id AS node_id FROM roots r JOIN edges e1 ON e1.parent_id = r.root_id
  UNION
  SELECT r.root_id, e2.child_id FROM roots r
  JOIN edges e1 ON e1.parent_id = r.root_id
  JOIN edges e2 ON e2.parent_id = e1.child_id
)
SELECT r.root_id,
       COALESCE(MAX(np.n_parents > 1), FALSE) AS has_shared
FROM roots r
LEFT JOIN sub s ON s.root_id = r.root_id
LEFT JOIN np ON np.child_id = s.node_id
GROUP BY r.root_id
"""


def q_graph_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """preview(customer): first non-blank leaf in ordered-DFS order
    (lib.rs:462-509) — descent ordered by (order idx, line idx), lines with
    max quantity < 5 are blank, customers with no eligible leaf → 'empty'."""
    from assemblagedb_spark.operators.traversal import preview_leaf

    o = load_table(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("parent_id"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("child_id"),
        F.col("o_orderkey").cast("int").alias("idx"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    # one shuffle serves both relations: the dedup for the edge list and the
    # blank aggregate group on the same key
    lines = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg((F.max("l_quantity") < 5).alias("is_blank"))
        .persist()
    )
    ol = lines.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
        F.col("l_linenumber").cast("int").alias("idx"),
    )
    blanks = lines.select(
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("node_id"),
        "is_blank",
    )
    roots = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"))
    )
    return preview_leaf(
        o.unionByName(ol), roots, blanks, max_depth=2, assume_forest=True
    )


O_GRAPH_PREVIEW = """
WITH roots AS (SELECT 'C' || c_custkey AS root_id, c_custkey FROM customer WHERE c_custkey % 10 = 0),
lines AS (
  SELECT l_orderkey, l_linenumber, (MAX(l_quantity) < 5) AS is_blank
  FROM lineitem GROUP BY l_orderkey, l_linenumber
),
leaves AS (
  SELECT o.o_custkey,
         lpad(o.o_orderkey::VARCHAR, 10, '0') || '/' || lpad(l.l_linenumber::VARCHAR, 10, '0') AS path,
         'L' || l.l_orderkey || '-' || l.l_linenumber AS node_id
  FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
  WHERE NOT l.is_blank
)
SELECT r.root_id,
       COALESCE((MIN(CASE WHEN lv.node_id IS NOT NULL THEN {'p': lv.path, 'id': lv.node_id} END)).id,
                'empty') AS preview_id
FROM roots r LEFT JOIN leaves lv ON lv.o_custkey = r.c_custkey
GROUP BY r.root_id
"""


# ---------------------------------------------------------------------------
# ANN scale path: LSH-bucketed top-k (random-hyperplane sketch)
# ---------------------------------------------------------------------------

# the corpus band table / IVF cell assignment are materialized index halves
# (computed at ingest in a deployed pipeline) — memoized like the gram index
_ANN_BANDS_CACHE: dict[tuple[str, str], DataFrame] = {}
_IVF_ASSIGN_CACHE: dict[tuple[str, str], DataFrame] = {}


def _ann_corpus_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.similarity import band_table

    key = (_session_key(spark), sf_dir)
    if key not in _ANN_BANDS_CACHE:
        _ANN_BANDS_CACHE[key] = band_table(
            load_table(spark, sf_dir, "embeddings"),
            side="c", bits=_LSH_ANN_BITS, bands=_LSH_ANN_BANDS,
        ).persist()
    return _ANN_BANDS_CACHE[key]


def _ivf_corpus_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from assemblagedb_spark.operators.similarity import ivf_assign

    key = (_session_key(spark), sf_dir)
    if key not in _IVF_ASSIGN_CACHE:
        _IVF_ASSIGN_CACHE[key] = ivf_assign(
            load_table(spark, sf_dir, "embeddings"), nlist=_IVF_NLIST
        ).persist()
    return _IVF_ASSIGN_CACHE[key]


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-10 via hyperplane-sketch band buckets — the
    100 TB path where the bucket equi-join replaces the cross join. The
    corpus band table is a stored index half; only the query batch is
    sketched at query time."""
    from assemblagedb_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return lsh_bucketed_topk(
        emb, queries, k=10, bits=_LSH_ANN_BITS, bands=_LSH_ANN_BANDS,
        corpus_bands=_ann_corpus_bands(spark, sf_dir),
    ).select("query_id", "neighbor_id", F.col("rank").cast("long"))


O_ANN_LSH_TOPK = f"""
WITH el AS (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS d FROM embeddings),
comp AS (SELECT vec_id, d, embedding[d + 1]::DOUBLE AS x FROM el),
ci AS (SELECT vec_id, d, x, unnest(range(0, {_LSH_ANN_BITS})) AS i FROM comp),
dp AS (
  SELECT vec_id, i,
         SUM(x * (CASE WHEN ({mix32_sql(f"i * {HYP_DIM_STRIDE} + d", 7)}) % 2 = 0
                       THEN 1.0 ELSE -1.0 END)) AS dp
  FROM ci GROUP BY vec_id, i),
sk AS (
  SELECT vec_id, SUM(CASE WHEN dp > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS sketch
  FROM dp GROUP BY vec_id),
bands AS (
  SELECT vec_id, b.b AS band, (sketch >> (b.b * {_LSH_ANN_ROWS})) & {(1 << _LSH_ANN_ROWS) - 1} AS band_bits
  FROM sk CROSS JOIN (SELECT unnest(range(0, {_LSH_ANN_BANDS})) AS b) b),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM bands q JOIN bands c ON q.band = c.band AND q.band_bits = c.band_bits
  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
s AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]))) AS cos
  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# Compaction accounting, cyclicity, blankness, incremental export,
# section linearization, BPE-ish tokens, hopping windows
# ---------------------------------------------------------------------------


def q_mvcc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge() compaction accounting (kv lib.rs:233-277): per key, how many
    version rows exist and how many the latest-only rewrite reclaims (all
    but one for live keys, all for tombstoned keys)."""
    ev = _events_versioned(spark, sf_dir)
    live = mvcc.current(ev, ["user_id"], ts="ts", tiebreak=["event_id"]).select(
        "user_id", F.lit(1).alias("kept")
    )
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_versions"))
    return (
        per_key.join(live, "user_id", "left")
        .select(
            "user_id",
            "n_versions",
            F.coalesce("kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_versions") - F.coalesce("kept", F.lit(0))).cast("long").alias("n_reclaimed"),
        )
    )


O_MVCC_COMPACTION = """
WITH latest AS (
  SELECT user_id, event_type FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT e.user_id, COUNT(*)::BIGINT AS n_versions,
       (CASE WHEN MAX(l.event_type) <> 'error' THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (COUNT(*) - CASE WHEN MAX(l.event_type) <> 'error' THEN 1 ELSE 0 END)::BIGINT AS n_reclaimed
FROM events e JOIN latest l ON l.user_id = e.user_id
GROUP BY e.user_id
"""


def _cyclic_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier→nation→region plus a region→nation back-edge for regions
    0-2 — suppliers in those regions sit on a true cycle, the rest do not."""
    sn = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("parent_id"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("child_id"),
    )
    nat = load_table(spark, sf_dir, "nation")
    nr = nat.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("parent_id"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("child_id"),
    )
    rn = nat.filter(F.col("n_regionkey") < 3).select(
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent_id"),
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("child_id"),
    )
    return sn.unionByName(nr).unionByName(rn)


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (GraphX-style analytics per the north star) on
    the cyclic supplier graph via components.contracted_components:
    partition-local union-find passes, then min-label propagation probed
    to its fixed point — exact on any diameter. The oracle unrolls 6
    label-propagation rounds, past this graph's convergence (round 4,
    measured), so results agree exactly."""
    from assemblagedb_spark.operators.components import contracted_components

    e = _cyclic_graph_edges(spark, sf_dir)
    return contracted_components(e)


def _o_components(rounds: int) -> str:
    ctes = [
        """e0 AS (
  SELECT 'S' || s_suppkey AS src, 'N' || s_nationkey AS dst FROM supplier
  UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
  UNION ALL SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation WHERE n_regionkey < 3
)""",
        "und AS (SELECT DISTINCT * FROM (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0))",
        # MATERIALIZED: each round references the previous twice; plain
        # (inlined) CTEs would re-evaluate the base 2^rounds times
        "l0 AS MATERIALIZED (SELECT node_id, node_id AS component FROM (SELECT DISTINCT src AS node_id FROM und))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT l.node_id,
         LEAST(l.component, COALESCE(MIN(nb.component), l.component)) AS component
  FROM l{k - 1} l
  LEFT JOIN und u ON u.src = l.node_id
  LEFT JOIN l{k - 1} nb ON nb.node_id = u.dst
  GROUP BY l.node_id, l.component
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node_id, component FROM l{rounds}"


O_GRAPH_COMPONENTS = _o_components(6)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (components.triangle_counts) on the LSH
    near-dup pair graph — dup clusters are cliquish, so the triangle
    census is the natural density check on the dedup graph. Ordered-edge
    double-join enumeration, each triangle exactly once."""
    from assemblagedb_spark.operators.components import triangle_counts
    from assemblagedb_spark.operators.dedup import lsh_candidate_pairs

    sig = _doc_minhash_sigs(spark, sf_dir)
    pairs = lsh_candidate_pairs(sig, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS)
    edges = pairs.select(
        F.col("id_a").alias("parent_id"), F.col("id_b").alias("child_id")
    )
    return triangle_counts(edges).withColumnRenamed("node_id", "doc_id")


def _o_graph_triangles() -> str:
    pairs_cte = O_DEDUP_LSH_PAIRS.strip()
    return f"""
WITH pairs AS MATERIALIZED ({pairs_cte}),
tri AS (
  SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
  FROM pairs p1 JOIN pairs p2 ON p2.id_a = p1.id_b
  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
per_node AS (
  SELECT node_id, COUNT(*)::BIGINT AS n_triangles FROM (
    SELECT a AS node_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY node_id),
nodes AS (SELECT DISTINCT node_id FROM (
  SELECT id_a AS node_id FROM pairs UNION ALL SELECT id_b FROM pairs))
SELECT n.node_id AS doc_id, COALESCE(p.n_triangles, 0)::BIGINT AS n_triangles
FROM nodes n LEFT JOIN per_node p USING (node_id)
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank, 3 rounds, on the cyclic supplier graph
    — the second canonical GraphX-style analytic next to components. All
    arithmetic is BIGINT (rank scaled by 1e6, integer-division damping), so
    the oracle reproduces ranks bit-exactly."""
    from assemblagedb_spark.operators.components import pagerank_rounds

    e = _cyclic_graph_edges(spark, sf_dir)
    return pagerank_rounds(e, rounds=3)


def _o_pagerank(rounds: int, seeds: tuple[str, ...] = ()) -> str:
    """The unrolled rounds of components.pagerank_rounds (scale 1e6,
    damping 85%); no ``seeds`` makes every node a seed (global PageRank)."""
    scale, damping_pct = 1_000_000, 85
    base = (100 - damping_pct) * scale // 100
    is_seed = (
        "node_id IN (" + ", ".join(f"'{s}'" for s in seeds) + ")" if seeds else "TRUE"
    )
    ctes = [
        """e0 AS (
  SELECT DISTINCT * FROM (
    SELECT 'S' || s_suppkey AS src, 'N' || s_nationkey AS dst FROM supplier
    UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
    UNION ALL SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation WHERE n_regionkey < 3
  ))""",
        f"nodes AS (SELECT DISTINCT node_id, ({is_seed}) AS is_seed "
        "FROM (SELECT src AS node_id FROM e0 UNION ALL SELECT dst FROM e0))",
        "outdeg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM e0 GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT node_id, is_seed, "
        f"(CASE WHEN is_seed THEN {scale} ELSE 0 END)::BIGINT AS rank FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT n.node_id, n.is_seed,
         ((CASE WHEN n.is_seed THEN {base} ELSE 0 END)
          + ({damping_pct} * COALESCE(s.in_sum, 0)) // 100)::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node_id, SUM(r.rank // o.outdeg)::BIGINT AS in_sum
    FROM e0 e JOIN r{k - 1} r ON r.node_id = e.src JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) s ON s.node_id = n.node_id
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node_id, rank FROM r{rounds}"


O_GRAPH_PAGERANK = _o_pagerank(3)


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the region nodes (random walk with
    restart to seeds): 'which suppliers/nations does a walk from THESE
    hubs keep reaching' — components.pagerank_rounds with a broadcast seed
    set, integer fixed-point, 3 rounds."""
    from assemblagedb_spark.operators.components import pagerank_rounds

    e = _cyclic_graph_edges(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_regionkey") < 3)
        .select(F.concat(F.lit("R"), F.col("r_regionkey")).alias("node_id"))
    )
    return pagerank_rounds(e, rounds=3, seeds=seeds)


O_GRAPH_PPR = _o_pagerank(3, seeds=("R0", "R1", "R2"))


def q_graph_cyclic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_cyclic per sampled supplier root (lib.rs:424-442): revisit iff
    in-closure edge instances >= closure size."""
    from assemblagedb_spark.operators.traversal import is_cyclic

    roots = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 20 == 0)
        .select(F.concat(F.lit("S"), F.col("s_suppkey")).alias("node_id"))
    )
    return is_cyclic(_cyclic_graph_edges(spark, sf_dir), roots, max_depth=4)


O_GRAPH_CYCLIC = """
SELECT 'S' || s.s_suppkey AS root_id,
       EXISTS(SELECT 1 FROM nation n
              WHERE n.n_nationkey = s.s_nationkey
                AND n.n_regionkey < 3) AS is_cyclic
FROM supplier s
WHERE s.s_suppkey % 20 = 0
"""


def q_graph_blank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_blank per sampled order root (lib.rs:389-416): true iff every
    renderable leaf under it is blank (here: line with max quantity < 5);
    vacuously true with no renderable leaf."""
    from assemblagedb_spark.operators.traversal import is_blank_roots

    li = load_table(spark, sf_dir, "lineitem")
    lines = li.groupBy("l_orderkey", "l_linenumber").agg(
        (F.max("l_quantity") < 5).alias("is_blank")
    )
    edges = lines.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
    )
    blanks = lines.select(
        F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("node_id"),
        "is_blank",
    )
    roots = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 25 == 0)
        .select(F.concat(F.lit("O"), F.col("o_orderkey")).alias("node_id"))
    )
    return is_blank_roots(edges, roots, blanks, max_depth=1)


O_GRAPH_BLANK = """
WITH lines AS (
  SELECT l_orderkey, (MAX(l_quantity) < 5) AS is_blank
  FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT 'O' || o.o_orderkey AS root_id,
       COALESCE(bool_and(l.is_blank), TRUE) AS is_blank
FROM orders o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey % 25 = 0
GROUP BY o.o_orderkey
"""

_EXPORT_CUTOFF = "1996-06-01"


def _export_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(root_id, node_id, mod_ts): per sampled customer root, the subtree
    members modified after the export cutoff — the incremental episode
    content set shared by `export_incremental` (which drops mod_ts) and
    `streaming_broadcast_ingest` (which windows on it)."""
    from assemblagedb_spark.operators.traversal import subtree_closure

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = o.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("parent_id"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("child_id"),
    ).unionByName(
        li.select(
            F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
            F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
        ).distinct()
    )
    mod_ts = (
        o.select(
            F.concat(F.lit("O"), F.col("o_orderkey")).alias("node_id"),
            F.col("o_orderdate").alias("mod_ts"),
        ).unionByName(
            li.groupBy("l_orderkey", "l_linenumber")
            .agg(F.max("l_shipdate").alias("mod_ts"))
            .select(
                F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("node_id"),
                "mod_ts",
            )
        )
    )
    roots = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"))
    )
    sub = subtree_closure(edges, roots, max_depth=2, assume_forest=True)
    return (
        sub.join(mod_ts, "node_id")
        .filter(F.col("mod_ts") > F.lit(_EXPORT_CUTOFF).cast("timestamp"))
        .select("root_id", "node_id", "mod_ts")
    )


def q_export_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """export_since (index.rs:456-531): per sampled customer root, the
    subtree members modified after the cutoff — the incremental episode's
    content set (orders by o_orderdate, lines by l_shipdate)."""
    return _export_members(spark, sf_dir).select("root_id", "node_id")


O_EXPORT_INCREMENTAL = f"""
WITH roots AS (SELECT c_custkey, 'C' || c_custkey AS root_id FROM customer WHERE c_custkey % 100 = 0),
lines AS (
  SELECT l_orderkey, l_linenumber, MAX(l_shipdate) AS mod_ts
  FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT r.root_id, 'O' || o.o_orderkey AS node_id
FROM roots r JOIN orders o ON o.o_custkey = r.c_custkey
WHERE o.o_orderdate > TIMESTAMP '{_EXPORT_CUTOFF}'
UNION ALL
SELECT r.root_id, 'L' || l.l_orderkey || '-' || l.l_linenumber
FROM roots r JOIN orders o ON o.o_custkey = r.c_custkey
JOIN lines l ON l.l_orderkey = o.o_orderkey
WHERE l.mod_ts > TIMESTAMP '{_EXPORT_CUTOFF}'
"""


def q_view_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section linearization (view lib.rs:381-458): an order's lines in idx
    order group into sections; a shared (multi-parent) child becomes its own
    section. Shared = lines duplicated under a P{partkey} parent
    (l_partkey % 3 == 0). Returns per-section size and sharedness."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.max((F.col("l_partkey") % 3 == 0).cast("int")).alias("shared_i"))
        .filter(F.col("l_orderkey") % 10 == 0)
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("shared_i").over(w)
    new_sec = (
        prev.isNull() | (F.col("shared_i") == 1) | (prev == 1)
    ).cast("long")
    return (
        lines.withColumn("new_sec", new_sec)
        .withColumn("section_idx", F.sum("new_sec").over(run))
        .groupBy(
            F.concat(F.lit("O"), F.col("l_orderkey")).alias("root_id"),
            "section_idx",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_subsections"),
            (F.max("shared_i") == 1).alias("has_multiple_parents"),
        )
    )


O_VIEW_SECTIONS = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber,
         MAX(CASE WHEN l_partkey % 3 = 0 THEN 1 ELSE 0 END) AS shared_i
  FROM lineitem GROUP BY l_orderkey, l_linenumber
  HAVING l_orderkey % 10 = 0
),
flagged AS (
  SELECT l_orderkey, l_linenumber, shared_i,
         CASE WHEN lag(shared_i) OVER w IS NULL OR shared_i = 1
                   OR lag(shared_i) OVER w = 1
              THEN 1 ELSE 0 END AS new_sec
  FROM lines WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
),
numbered AS (
  SELECT l_orderkey, shared_i,
         SUM(new_sec) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section_idx
  FROM flagged
)
SELECT 'O' || l_orderkey AS root_id, section_idx::BIGINT AS section_idx,
       COUNT(*)::BIGINT AS n_subsections,
       (MAX(shared_i) = 1) AS has_multiple_parents
FROM numbered GROUP BY l_orderkey, section_idx
"""

def q_view_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tile assembly (view lib.rs:460-588, SURVEY §3.3) for sampled
    order roots: section count (run-length over shared flags), preview
    (first non-blank subsection), and sibling *branches* — nearest non-blank
    siblings under shared P-parents, deduped against ids already in view
    (lib.rs:480-529). One tile row per root; every component shares the
    lines digest, so the plan is two window passes + three aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.max((F.col("l_partkey") % 3 == 0).cast("int")).alias("shared_i"),
            (F.max("l_quantity") < 5).alias("is_blank"),
        )
        .persist()
    )
    sampled = lines.filter(F.col("l_orderkey") % 10 == 0)
    # sections: same run-length rule as q_view_sections
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    prev_sh = F.lag("shared_i").over(w)
    new_sec = (prev_sh.isNull() | (F.col("shared_i") == 1) | (prev_sh == 1)).cast("long")
    nsec = (
        sampled.withColumn("new_sec", new_sec)
        .groupBy("l_orderkey")
        .agg(F.sum("new_sec").cast("long").alias("n_sections"))
    )
    # preview: first non-blank subsection in idx order, else 'empty'
    line_id = F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber"))
    pv = sampled.groupBy("l_orderkey").agg(
        F.coalesce(
            F.min(
                F.when(~F.col("is_blank"), F.struct(F.col("l_linenumber").alias("i"), line_id.alias("c")))
            )["c"],
            F.lit("empty"),
        ).alias("preview_id")
    )
    # branches: nearest non-blank siblings under shared P-parents
    pe = (
        li.filter(F.col("l_partkey") % 3 == 0)
        .select("l_partkey", "l_orderkey", "l_linenumber")
        .distinct()
        .join(lines.select("l_orderkey", "l_linenumber", "is_blank"), ["l_orderkey", "l_linenumber"])
        .withColumn("child_id", line_id)
    )
    pw = Window.partitionBy("l_partkey").orderBy("l_linenumber", "child_id")
    elig = F.when(
        ~F.col("is_blank"),
        F.struct(
            F.col("l_linenumber").alias("i"),
            F.col("child_id").alias("c"),
            F.col("l_orderkey").alias("o"),
        ),
    )
    sib = pe.withColumn(
        "bef", F.max(elig).over(pw.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "aft", F.min(elig).over(pw.rowsBetween(1, Window.unboundedFollowing))
    ).filter(F.col("l_orderkey") % 10 == 0)
    # one explode, not a two-branch union: Catalyst does not share the sib
    # subtree (scan + distinct + join + two windows) across union branches,
    # so the union formulation computed it twice (round-9 plan audit —
    # same fix as components.triangle_counts); explode(array(bef, aft))
    # emits the identical candidate multiset from one copy
    cands = (
        sib.select(
            F.col("l_orderkey").alias("root_ok"),
            F.explode(F.array("bef", "aft")).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .select("root_ok", F.col("s.c").alias("bid"), F.col("s.o").alias("bok"))
    )
    br = (
        cands.filter(F.col("bok") != F.col("root_ok"))
        .groupBy("root_ok")
        .agg(F.countDistinct("bid").cast("long").alias("n_branches"))
        .withColumnRenamed("root_ok", "l_orderkey")
    )
    return (
        nsec.join(pv, "l_orderkey")
        .join(br, "l_orderkey", "left")
        .select(
            F.concat(F.lit("O"), F.col("l_orderkey")).alias("root_id"),
            "n_sections",
            "preview_id",
            F.coalesce("n_branches", F.lit(0)).cast("long").alias("n_branches"),
        )
    )


O_VIEW_TILE = """
WITH lines AS (
  SELECT l_orderkey, l_linenumber,
         MAX(CASE WHEN l_partkey % 3 = 0 THEN 1 ELSE 0 END) AS shared_i,
         (MAX(l_quantity) < 5) AS is_blank
  FROM lineitem GROUP BY 1, 2),
sampled AS (SELECT * FROM lines WHERE l_orderkey % 10 = 0),
flagged AS (
  SELECT l_orderkey, shared_i,
         CASE WHEN lag(shared_i) OVER w IS NULL OR shared_i = 1
                   OR lag(shared_i) OVER w = 1 THEN 1 ELSE 0 END AS new_sec
  FROM sampled WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)),
nsec AS (SELECT l_orderkey, SUM(new_sec)::BIGINT AS n_sections FROM flagged GROUP BY 1),
pv AS (
  SELECT l_orderkey,
         COALESCE((MIN(CASE WHEN NOT is_blank
             THEN {'i': l_linenumber, 'c': 'L' || l_orderkey || '-' || l_linenumber} END)).c,
           'empty') AS preview_id
  FROM sampled GROUP BY 1),
pe AS (
  SELECT pp.l_partkey, pp.l_orderkey, pp.l_linenumber, l.is_blank,
         'L' || pp.l_orderkey || '-' || pp.l_linenumber AS child_id
  FROM (SELECT DISTINCT l_partkey, l_orderkey, l_linenumber FROM lineitem
        WHERE l_partkey % 3 = 0) pp
  JOIN lines l USING (l_orderkey, l_linenumber)),
sib AS (
  SELECT *,
         (MAX(CASE WHEN NOT is_blank
              THEN {'i': l_linenumber, 'c': child_id, 'o': l_orderkey} END)
            OVER (PARTITION BY l_partkey ORDER BY l_linenumber, child_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS bef,
         (MIN(CASE WHEN NOT is_blank
              THEN {'i': l_linenumber, 'c': child_id, 'o': l_orderkey} END)
            OVER (PARTITION BY l_partkey ORDER BY l_linenumber, child_id
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) AS aft
  FROM pe),
cands AS (
  SELECT l_orderkey AS root_ok, bef.c AS bid, bef.o AS bok
  FROM sib WHERE l_orderkey % 10 = 0 AND bef IS NOT NULL
  UNION ALL
  SELECT l_orderkey, aft.c, aft.o FROM sib WHERE l_orderkey % 10 = 0 AND aft IS NOT NULL),
br AS (
  SELECT root_ok, COUNT(DISTINCT bid)::BIGINT AS n_branches
  FROM cands WHERE bok <> root_ok GROUP BY 1)
SELECT 'O' || n.l_orderkey AS root_id, n.n_sections, p.preview_id,
       COALESCE(b.n_branches, 0)::BIGINT AS n_branches
FROM nsec n JOIN pv p USING (l_orderkey)
LEFT JOIN br b ON b.root_ok = n.l_orderkey
"""


_BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q_markup_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup parse + serialize round-trip (markup.rs:175-207,326-394) over
    generated-canonical lines: block prefix from doc_id % 6, a bold span and
    a plain span from sanitized document text. The UDFs run the full
    overlap-tolerant parser/serializer; the oracle replays the restricted
    construction (inputs are canonical, so canonical == markup)."""
    from assemblagedb_spark.views.markup import block_markup_udf, markup_parse_udf

    sanitize = r"[*_~`\\#>,\n\r-]"
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("b"), F.regexp_replace(F.substring("text", 1, 24), sanitize, "")).alias("w1"),
        F.concat(F.lit("p"), F.regexp_replace(F.substring("text", 25, 24), sanitize, "")).alias("w2"),
        F.element_at(
            F.array(F.lit(""), F.lit("# "), F.lit("> "), F.lit("- "), F.lit(", "), F.lit("># ")),
            (F.col("doc_id") % 6 + 1).cast("int"),
        ).alias("pfx"),
    )
    parse, render = markup_parse_udf(), block_markup_udf()
    out = d.withColumn(
        "markup", F.concat("pfx", F.lit("*"), "w1", F.lit("*"), "w2")
    ).withColumn("parsed", parse("markup"))
    return out.select(
        F.col("doc_id").cast("long"),
        "markup",
        render("parsed").alias("canonical"),
        F.array_join("parsed.styles", ",").alias("block_styles"),
        F.array_join(F.col("parsed.spans")[0]["styles"], ",").alias("span1_styles"),
        F.col("parsed.spans")[0]["text"].alias("span1_text"),
        F.array_join(F.col("parsed.spans")[1]["styles"], ",").alias("span2_styles"),
        F.col("parsed.spans")[1]["text"].alias("span2_text"),
        F.size("parsed.spans").cast("long").alias("n_spans"),
    )


O_MARKUP_ROUNDTRIP = r"""
WITH base AS (
  SELECT doc_id, text,
         'b' || regexp_replace(substr(text, 1, 24), '[*_~`\\#>,\n\r-]', '', 'g') AS w1,
         'p' || regexp_replace(substr(text, 25, 24), '[*_~`\\#>,\n\r-]', '', 'g') AS w2,
         CASE doc_id % 6 WHEN 0 THEN '' WHEN 1 THEN '# ' WHEN 2 THEN '> '
              WHEN 3 THEN '- ' WHEN 4 THEN ', ' ELSE '># ' END AS pfx,
         CASE doc_id % 6 WHEN 0 THEN '' WHEN 1 THEN 'heading' WHEN 2 THEN 'quote'
              WHEN 3 THEN 'list' WHEN 4 THEN 'aside' ELSE 'heading,quote' END AS styles
  FROM documents)
-- NULL text -> NULL markup line -> the parser yields NULL everywhere
-- (the restricted-construction literals only hold for real lines)
SELECT doc_id,
       pfx || '*' || w1 || '*' || w2 AS markup,
       pfx || '*' || w1 || '*' || w2 AS canonical,
       CASE WHEN text IS NULL THEN NULL ELSE styles END AS block_styles,
       CASE WHEN text IS NULL THEN NULL ELSE 'bold' END AS span1_styles,
       w1 AS span1_text,
       CASE WHEN text IS NULL THEN NULL ELSE '' END AS span2_styles,
       w2 AS span2_text,
       CASE WHEN text IS NULL THEN NULL ELSE 2::BIGINT END AS n_spans
FROM base
"""


def q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per document (letter runs, digit runs,
    single punctuation) — the pre-tokenizer pass of a training pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_TOKEN_RE}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
    )


O_TEXT_TOKEN_BPE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_TOKEN_RE}'))::BIGINT AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '{_BPE_TOKEN_RE}')))::BIGINT AS n_distinct_bpe_tokens
FROM documents
"""

_HOP_SIZE_NS = 3600 * 1_000_000_000  # 1h windows ...
_HOP_SLIDE_NS = 1800 * 1_000_000_000  # ... sliding every 30 min


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows, 1h size / 30min slide: each event lands in
    size/slide = 2 windows (the batch-shaped F.window(slide) analogue; ns
    integer arithmetic keeps the oracle exact)."""
    ev = load_table(spark, sf_dir, "events")
    k = _HOP_SIZE_NS // _HOP_SLIDE_NS
    return (
        ev.select(
            "event_type",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(int(k - 1)))).alias("k"),
            F.col("ts"),
        )
        .withColumn(
            "window_start",
            (F.expr(f"ts div {_HOP_SLIDE_NS}") - F.col("k")) * _HOP_SLIDE_NS,
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )


O_EVENTS_HOPPING = f"""
SELECT (epoch_ns(ts) // {_HOP_SLIDE_NS} - k) * {_HOP_SLIDE_NS} AS window_start,
       event_type, COUNT(*)::BIGINT AS n,
       SUM(round(value * 100)::BIGINT)::BIGINT AS sum_value_cents
FROM events CROSS JOIN (SELECT unnest(range(0, {_HOP_SIZE_NS // _HOP_SLIDE_NS})) AS k)
GROUP BY window_start, event_type
"""


_IVF_NLIST = 16
_IVF_NPROBE = 4


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: 16-cell coarse quantizer, 4 probed cells per query —
    the inverted-file ANN scale path next to the LSH one."""
    from assemblagedb_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(
        emb, queries, k=10, nlist=_IVF_NLIST, nprobe=_IVF_NPROBE,
        corpus_assign=_ivf_corpus_assign(spark, sf_dir),
    ).select("query_id", "neighbor_id", F.col("rank").cast("long"))


O_ANN_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cell, embedding AS vec_cent FROM embeddings
  WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {_IVF_NLIST}
),
cellscore AS (
  SELECT e.vec_id, ct.cell,
         list_dot_product(e.embedding::DOUBLE[], ct.vec_cent::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ct.vec_cent::DOUBLE[], ct.vec_cent::DOUBLE[]))) AS cos_c
  FROM embeddings e CROSS JOIN cents ct WHERE e.embedding IS NOT NULL
),
ranked AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cell) AS r
  FROM cellscore
),
assign AS (SELECT vec_id AS c_id, cell FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS q_id, cell FROM ranked
           WHERE r <= {_IVF_NPROBE} AND vec_id % 50 = 0),
cand AS (
  SELECT DISTINCT p.q_id, a.c_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE p.q_id <> a.c_id
),
s AS (
  SELECT cand.q_id, cand.c_id,
         list_dot_product(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]))) AS cos
  FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id
  JOIN embeddings ce ON ce.vec_id = cand.c_id
)
SELECT q_id AS query_id, c_id AS neighbor_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM s
) WHERE rank <= 10
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click at
    or before it (union + one window pass — a single shuffle on user_id)."""
    from assemblagedb_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.round(F.col("value") * 100).cast("long").alias("click_value_cents"),
    )
    return asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        payload=["click_id", "click_value_cents"],
        right_tiebreak=["click_id"],
    ).select("user_id", "purchase_id", "click_id", "click_value_cents")


O_EVENTS_ASOF = """
WITH p AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS purchase_id
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS click_id,
             round(value * 100)::BIGINT AS click_value_cents
      FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id, c.click_id, c.click_value_cents
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


_SAMPLE_RATES = {"click": 100, "purchase": 1000, "view": 20}


def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample of documents by key-hash bucket
    (operators/sampling.py) — reproducible across partitionings/engines,
    unlike df.sample()'s per-partition RNG."""
    from assemblagedb_spark.operators.sampling import hash_sample

    return hash_sample(
        load_table(spark, sf_dir, "documents"), rate_permille=100
    ).select("doc_id", "source", "lang")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling of the event stream: keep all
    purchases, 10% of clicks, 2% of views — the class-rebalancing shape of
    a training-data ingest."""
    from assemblagedb_spark.operators.sampling import stratified_sample

    ev = load_table(spark, sf_dir, "events")
    return stratified_sample(
        ev, strata_col="event_type", rates_permille=_SAMPLE_RATES,
        key_col="event_id",
    ).select("event_id", "user_id", "event_type")


def _o_samples() -> tuple[str, str]:
    from assemblagedb_spark.operators.sampling import bucket_sql

    bern = f"""
SELECT doc_id, source, lang FROM documents WHERE {bucket_sql("doc_id")} < 100
"""
    rate = "CASE " + " ".join(
        f"WHEN event_type = '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items())
    ) + " ELSE 0 END"
    strat = f"""
SELECT event_id, user_id, event_type FROM events
WHERE {bucket_sql("event_id")} < {rate}
"""
    return bern, strat


_ASOF_TOL_NS = 3600 * 1_000_000_000  # 1h in ns


def q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound: clicks older than 1h before the
    purchase are nulled out (pandas merge_asof(tolerance=...) semantics) —
    same single-shuffle union-window plan as the unbounded gate."""
    from assemblagedb_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.round(F.col("value") * 100).cast("long").alias("click_value_cents"),
    )
    return asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        payload=["click_id", "click_value_cents"],
        right_tiebreak=["click_id"],
        tolerance=_ASOF_TOL_NS,
    ).select("user_id", "purchase_id", "click_id", "click_value_cents")


O_EVENTS_ASOF_TOLERANCE = f"""
WITH p AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS purchase_id
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_ns(ts) AS ts, event_id AS click_id,
             round(value * 100)::BIGINT AS click_value_cents
      FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_id,
       CASE WHEN p.ts - c.ts <= {_ASOF_TOL_NS} THEN c.click_id END AS click_id,
       CASE WHEN p.ts - c.ts <= {_ASOF_TOL_NS} THEN c.click_value_cents END AS click_value_cents
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


_RANGE_GAP_US = 6 * 3600 * 1_000_000  # 6h, in µs (the oracle's ts precision)


def q_events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: ordered pairs of purchase events of one user within 6h —
    banded bucket equi-join instead of the per-key theta join. Timestamps
    truncated to µs up front so gap values are engine-portable."""
    from assemblagedb_spark.operators.rangejoin import range_pairs

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", F.expr("ts div 1000").alias("ts_us"))
    )
    return range_pairs(
        ev, key="user_id", ts="ts_us", max_gap=_RANGE_GAP_US, id_col="event_id"
    ).select("user_id", "id_a", "id_b", F.col("gap").cast("long"))


O_EVENTS_RANGE_PAIRS = f"""
WITH p AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS ts FROM events
           WHERE event_type = 'purchase')
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       (b.ts - a.ts)::BIGINT AS gap
FROM p a JOIN p b ON a.user_id = b.user_id
WHERE b.ts - a.ts <= {_RANGE_GAP_US}
  AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
"""


# ---------------------------------------------------------------------------
# Corpus curation: decontamination, PII scrubbing, repetition signals,
# budgeted selection, deterministic training order, boilerplate n-grams
# ---------------------------------------------------------------------------

# DuckDB mirror of decontam.word_ngrams: tokenize, then one distinct
# (doc_id, gram) row per word n-gram (1-based inclusive list slicing).
_O_WORDS = """
words AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(coalesce(text, '')), ' +'),
                     t -> t <> '') AS w
  FROM documents
)
"""


def _o_grams(n: int, distinct: bool = True) -> str:
    d = "DISTINCT " if distinct else ""
    return f"""(
  SELECT {d}doc_id, array_to_string(w[i:i+{n - 1}], ' ') AS gram
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - {n - 2})) AS i
        FROM words WHERE len(w) >= {n})
)"""


_DECONTAM_N = 3  # tiny synthetic vocab → 3-grams collide like real 13-grams


def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 App. C style): docs with doc_id %
    10 == 0 stand in for the held-out benchmark; every other document
    sharing any word n-gram with it is flagged with its shared-gram count.
    Eval gram set deduped + broadcast — corpus side never shuffles."""
    from assemblagedb_spark.operators.decontam import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(train, bench, n=_DECONTAM_N)


O_TEXT_DECONTAM = f"""
WITH {_O_WORDS},
grams AS {_o_grams(_DECONTAM_N)},
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 <> 0)
SELECT tr.doc_id, COUNT(*)::BIGINT AS n_shared_grams
FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id
"""


# The documents table carries no literal PII (synthetic word soup), so the
# gate derives a deterministic contact blurb from each doc_id — email, IPv4
# and an account-shaped digit run — and checks that detection counts AND the
# redacted text replay byte-for-byte on both engines.
_PII_NOTES_SPARK = (
    "concat(text, ' contact user', doc_id, '@mail.example from ', "
    "doc_id % 223, '.0.', doc_id % 199, '.', doc_id % 251, "
    "' acct ', 1000000 + doc_id * 7919)"
)
_PII_NOTES_SQL = (
    "text || ' contact user' || doc_id || '@mail.example from ' || "
    "(doc_id % 223) || '.0.' || (doc_id % 199) || '.' || (doc_id % 251) || "
    "' acct ' || (1000000 + doc_id * 7919)"
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: per-doc email/IP/digit-run detection counts plus an
    md5 of the placeholder-redacted text (email → IP → digit-run staging;
    pure regexp codegen, no shuffle)."""
    from assemblagedb_spark.operators.pii import pii_scrub

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_NOTES_SPARK).alias("text")
    )
    return pii_scrub(docs).select(
        "doc_id", "n_emails", "n_ips", "n_digit_runs",
        F.md5("clean_text").alias("clean_md5"),
    )


from assemblagedb_spark.operators.pii import (  # noqa: E402
    DIGIT_RUN_RE as _PII_NUM,
    EMAIL_RE as _PII_EMAIL,
    IPV4_RE as _PII_IP,
)

O_PII_SCRUB = f"""
WITH notes AS (SELECT doc_id, {_PII_NOTES_SQL} AS t FROM documents),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{_PII_EMAIL}'))::BIGINT AS n_emails,
         regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
  FROM notes
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t, '{_PII_IP}'))::BIGINT AS n_ips,
         regexp_replace(t, '{_PII_IP}', '<IP>', 'g') AS t
  FROM s1
)
SELECT doc_id, n_emails, n_ips,
       len(regexp_extract_all(t, '{_PII_NUM}'))::BIGINT AS n_digit_runs,
       md5(regexp_replace(t, '{_PII_NUM}', '<NUMBER>', 'g')) AS clean_md5
FROM s2
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters: most-common-2-gram mass and duplicate
    3-gram instance counts per document (integer-exact)."""
    from assemblagedb_spark.operators.textstats import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


O_TEXT_REPETITION = f"""
WITH {_O_WORDS},
g2 AS {_o_grams(2, distinct=False)},
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
r2 AS (SELECT doc_id, gram, cnt,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY cnt DESC, gram ASC) AS rn
       FROM c2),
top AS (SELECT doc_id, SUM(cnt)::BIGINT AS n_top_grams,
               MAX(CASE WHEN rn = 1 THEN cnt END)::BIGINT AS top_gram_count,
               MAX(CASE WHEN rn = 1 THEN cnt * length(gram) END)::BIGINT
                   AS top_gram_chars
        FROM r2 GROUP BY doc_id),
g3 AS {_o_grams(3, distinct=False)},
c3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
dup AS (SELECT doc_id, SUM(cnt)::BIGINT AS n_dup_grams,
               SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)::BIGINT
                   AS dup_gram_instances
        FROM c3 GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(top.n_top_grams, 0)::BIGINT AS n_top_grams,
       coalesce(top.top_gram_count, 0)::BIGINT AS top_gram_count,
       coalesce(top.top_gram_chars, 0)::BIGINT AS top_gram_chars,
       coalesce(dup.n_dup_grams, 0)::BIGINT AS n_dup_grams,
       coalesce(dup.dup_gram_instances, 0)::BIGINT AS dup_gram_instances
FROM documents d LEFT JOIN top ON d.doc_id = top.doc_id
LEFT JOIN dup ON d.doc_id = dup.doc_id
"""


_BUDGET_TOKENS = 10_000


def q_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: rank by lexical-diversity score (distinct
    tokens, integer), keep documents while cumulative tokens ≤ 10k. The
    running sum is the two-phase range-partitioned prefix (selection.py) —
    no single-node global sort."""
    from assemblagedb_spark.operators.selection import select_token_budget
    from assemblagedb_spark.operators.textstats import token_stats

    stats = token_stats(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens"),
        F.col("n_distinct_tokens").alias("score"),
    )
    return select_token_budget(stats, _BUDGET_TOKENS)


O_SELECT_BUDGET = f"""
WITH {_O_WORDS},
t AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
             len(list_distinct(w))::BIGINT AS score
      FROM words),
r AS (SELECT doc_id, n_tokens, score,
             (SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                 AS cum_tokens
      FROM t)
SELECT doc_id, n_tokens, score, cum_tokens
FROM r WHERE cum_tokens <= {_BUDGET_TOKENS}
"""


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: Knuth-multiplicative shuffle key +
    dense epoch order index via the two-phase global row number."""
    from assemblagedb_spark.operators.selection import training_order

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return training_order(docs).select("doc_id", "shuffle_key", "order_idx")


O_TRAINING_ORDER = """
WITH h0 AS (
  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h FROM documents
),
h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 4294967296 AS h FROM h0),
h2 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 4294967296 AS h FROM h1),
k AS (SELECT doc_id, xor(h, h >> 16) AS k FROM h2)
SELECT doc_id, k::BIGINT AS shuffle_key,
       (row_number() OVER (ORDER BY k, doc_id))::BIGINT AS order_idx
FROM k
"""


_BOILER_N = 3
_BOILER_DF = 4


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate exposure: fraction of each doc's word
    3-grams that occur in ≥ 4 distinct documents (CCNet shared-line removal,
    n-gram form). One doc-frequency groupBy + one gram equi-join."""
    from assemblagedb_spark.operators.selection import boilerplate_ngram_stats

    return boilerplate_ngram_stats(
        load_table(spark, sf_dir, "documents"), n=_BOILER_N, df_threshold=_BOILER_DF
    )


O_TEXT_BOILERPLATE = f"""
WITH {_O_WORDS},
inst AS {_o_grams(_BOILER_N, distinct=False)},
gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM inst GROUP BY gram)
SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
       SUM(CASE WHEN df >= {_BOILER_DF} THEN 1 ELSE 0 END)::BIGINT
           AS n_boiler_grams
FROM inst JOIN gdf USING (gram) GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Sketches, vector aggregation, tf-idf, z-order layout keys
# ---------------------------------------------------------------------------

from assemblagedb_spark.functions.core import (  # noqa: E402
    mix32_sql,
    strhash_duckdb_sql,
)


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid merge state (quantized component sums + counts):
    posexplode → one map-side-partial groupBy; output ≤ labels × dim rows
    regardless of corpus size."""
    from assemblagedb_spark.operators.vectors import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        "label", F.col("pos").cast("long").alias("pos"), "sum_q", "n_vecs"
    )


O_EMBEDDING_CENTROIDS = """
SELECT label, (t.i - 1)::BIGINT AS pos,
       SUM(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000))::BIGINT AS sum_q,
       COUNT(*)::BIGINT AS n_vecs
FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) t(i)
GROUP BY label, t.i
"""


def q_embedding_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means E-step: nearest stored centroid per vector (broadcast
    centroid list, per-row zip_with distance fold, argmin; corpus scanned
    once, never shuffled)."""
    from assemblagedb_spark.operators.vectors import centroid_assign, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_assign(emb, label_centroids(emb))


O_EMBEDDING_ASSIGN = """
WITH cent AS (
  SELECT label, t.i - 1 AS pos,
         SUM(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000)) AS sum_q,
         COUNT(*) AS n
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) t(i)
  GROUP BY label, t.i
),
cvec AS (SELECT label, pos, floor(sum_q / n)::BIGINT AS c FROM cent),
q AS (
  SELECT vec_id, t.i - 1 AS pos,
         floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000)::BIGINT AS qv
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) t(i)
),
d AS (
  SELECT q.vec_id, c.label, SUM((q.qv - c.c) * (q.qv - c.c))::BIGINT AS dist
  FROM q JOIN cvec c USING (pos) GROUP BY 1, 2
),
r AS (SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, label) AS rn
      FROM d)
SELECT vec_id, label, dist FROM r WHERE rn = 1
"""


_HLL_M = 256


def q_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table for distinct users per event_type —
    portable mix32 hash, registers merged with MAX map-side. The compared
    output IS the sketch state (integers), not a float estimate."""
    from assemblagedb_spark.operators.sketches import hll_registers

    ev = load_table(spark, sf_dir, "events")
    return hll_registers(ev, "user_id", ["event_type"], m=_HLL_M).select(
        "event_type", F.col("bucket").cast("long").alias("bucket"), "register"
    )


O_DISTINCT_HLL = f"""
WITH h AS (SELECT event_type, {mix32_sql("user_id")} AS h FROM events),
r AS (SELECT event_type, (h % {_HLL_M})::BIGINT AS bucket,
             h // {_HLL_M} AS rest
      FROM h)
SELECT event_type, bucket,
       MAX(CASE WHEN rest = 0 THEN 33
                ELSE length(bin(rest & (-rest))) END)::BIGINT AS register
FROM r GROUP BY event_type, bucket
"""


_LC_M = 4096


def q_distinct_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting occupancy per event_type (m=4096 buckets): the
    small-cardinality companion sketch to the HLL registers."""
    from assemblagedb_spark.operators.sketches import linear_counting

    ev = load_table(spark, sf_dir, "events")
    return linear_counting(ev, "user_id", ["event_type"], m=_LC_M)


O_DISTINCT_LINEAR = f"""
SELECT event_type,
       COUNT(DISTINCT ({mix32_sql("user_id")}) % {_LC_M})::BIGINT AS n_filled,
       {_LC_M}::BIGINT AS m
FROM events GROUP BY event_type
"""


_CM_D, _CM_W = 2, 1024


def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch state over the corpus token stream (d=2 rows,
    w=1024 columns): one polynomial string fold per token, d integer
    re-mixes, one groupBy — the whole sketch is d*w rows."""
    from assemblagedb_spark.operators.decontam import tokens_expr
    from assemblagedb_spark.operators.sketches import countmin_counters

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(tokens_expr("text").alias("__w"))
        .select(F.explode("__w").alias("term"))
    )
    return countmin_counters(toks, "term", d=_CM_D, w=_CM_W).select(
        F.col("row").cast("long").alias("cm_row"),
        F.col("col").cast("long").alias("cm_col"),
        "counter",
    )


O_SKETCH_COUNTMIN = f"""
WITH {_O_WORDS},
tok AS (SELECT unnest(w) AS term FROM words),
h AS (SELECT {strhash_duckdb_sql("term")} AS h FROM tok),
cells AS (
  SELECT 0 AS cm_row, ({mix32_sql("h", 0)}) % {_CM_W} AS cm_col FROM h
  UNION ALL
  SELECT 1 AS cm_row, ({mix32_sql("h", 1)}) % {_CM_W} AS cm_col FROM h
)
SELECT cm_row::BIGINT AS cm_row, cm_col::BIGINT AS cm_col,
       COUNT(*)::BIGINT AS counter
FROM cells GROUP BY 1, 2
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per doc by (tf DESC, df ASC, term ASC) —
    integer-lexicographic tf-idf ordering, one tokenize pass."""
    from assemblagedb_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


O_TEXT_TFIDF = f"""
WITH {_O_WORDS},
tok AS (SELECT doc_id, unnest(w) AS term FROM words),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
r AS (SELECT doc_id, term, tf, df,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, df ASC, term ASC) AS rnk
      FROM tf JOIN dfx USING (term))
SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df, rnk::BIGINT AS rnk
FROM r WHERE rnk <= 3
"""


_Z_BITS = 10


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout key over (user bucket, event bucket):
    sorting files by this key gives tight parquet min/max stats on BOTH
    dimensions — the data-skipping layout for multi-dim point/range
    predicates."""
    from assemblagedb_spark.sources.layout import zorder_key_col

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key_col(
            F.pmod(F.col("user_id"), F.lit(1024)),
            F.pmod(F.col("event_id"), F.lit(1024)),
            _Z_BITS,
        ).alias("zkey"),
    )


def _o_layout_zorder() -> str:
    from assemblagedb_spark.sources.layout import zorder_key_sql

    z = zorder_key_sql("user_id % 1024", "event_id % 1024", _Z_BITS)
    return f"SELECT event_id, {z}::BIGINT AS zkey FROM events"


_KM_K, _KM_ITERS = 8, 2


_KMEANS_CACHE: dict[tuple[str, str, int, int], DataFrame] = {}


def _trained_kmeans(
    spark: SparkSession, sf_dir: str, k: int, iters: int
) -> DataFrame:
    """Session-cached Lloyd training state (k x dim merge rows,
    localCheckpoint-pinned): a quantizer is trained ONCE and served by
    every downstream index/probe — retraining per query batch is not the
    100 TB shape. The bench still times the cold train (it clears this
    cache before the kmeans_train key)."""
    from assemblagedb_spark.operators.vectors import kmeans_train

    key = (_session_key(spark), sf_dir, k, iters)
    if key not in _KMEANS_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _KMEANS_CACHE[key] = kmeans_train(
            emb, k=k, iters=iters
        ).localCheckpoint(eager=True)
    return _KMEANS_CACHE[key]


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 2 rounds) on the quantized integer
    grid: per round one broadcast-assign corpus scan + one merge-state
    groupBy — the IVF coarse-quantizer trainer. Output is the final
    centroid merge state."""
    return _trained_kmeans(spark, sf_dir, _KM_K, _KM_ITERS)


def clear_artifact_cache(cache_name: str) -> None:
    """Drop ONE session-cached build artifact group so the next call
    rebuilds from scratch — bench timing clears only the group being
    cold-timed, keeping other groups' warm-serving numbers independent
    of key ordering. Persisted entries (the corpus-sized overlap and PQ
    codes relations) release their blocks via unpersist; the k-row
    localCheckpoint states (k-means state, PQ codebook) are block-manager
    pinned and only ContextCleaner-reclaimed, which is fine — they are a
    few hundred rows."""
    cache = {
        "_OVERLAP_CACHE": _OVERLAP_CACHE,
        "_KMEANS_CACHE": _KMEANS_CACHE,
        "_PQ_CACHE": _PQ_CACHE,
        "_IVFPQ_CACHE": _IVFPQ_CACHE,
        "_SHARED_EDGES_CACHE": _SHARED_EDGES_CACHE,
    }[cache_name]
    for v in cache.values():
        for df in v if isinstance(v, tuple) else (v,):
            try:
                df.unpersist()
            except Exception:
                pass
    cache.clear()
    # Anchor the checkpointed states' reclamation to THIS idle moment:
    # without it, the py4j finalizer → ContextCleaner.removeRdd chain
    # fires at whatever arbitrary point Python GC next runs — possibly
    # mid-query, where it can race Spark's end-of-life lock bookkeeping
    # (the round-8 transient `Block rdd_N does not exist`; see
    # session.py's task-retry note for the full mechanism). A cache clear
    # always sits between queries, so collecting here moves the cleaner
    # work into the gap.
    import gc

    gc.collect()


def clear_shared_artifact_caches() -> None:
    """Drop every session-cached build artifact (dedup overlap relation,
    trained k-means state, PQ index) — plan tooling uses this to explain
    the full COLD pipelines."""
    for name in (
        "_OVERLAP_CACHE",
        "_KMEANS_CACHE",
        "_PQ_CACHE",
        "_IVFPQ_CACHE",
        "_SHARED_EDGES_CACHE",
    ):
        clear_artifact_cache(name)


def _o_kmeans(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd iteration chain — one CTE triple per round."""
    ctes = [
        """q AS (
  SELECT vec_id, t.i - 1 AS pos,
         floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000)::BIGINT AS qv
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) t(i))""",
        f"""c0 AS (
  SELECT s.label, q.pos, q.qv AS sum_q, 1::BIGINT AS n_vecs
  FROM (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1) AS label
        FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {k})) s
  JOIN q ON s.vec_id = q.vec_id)""",
    ]
    for t in range(iters):
        ctes.append(
            f"cv{t} AS (SELECT label, pos, floor(sum_q / n_vecs)::BIGINT AS c "
            f"FROM c{t})"
        )
        ctes.append(
            f"d{t} AS (SELECT q.vec_id, cv.label, "
            f"SUM((q.qv - cv.c) * (q.qv - cv.c))::BIGINT AS dist "
            f"FROM q JOIN cv{t} cv USING (pos) GROUP BY 1, 2)"
        )
        ctes.append(
            f"a{t} AS (SELECT vec_id, label FROM ("
            f"SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY dist, label) AS rn FROM d{t}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{t + 1} AS (SELECT a.label, q.pos, SUM(q.qv)::BIGINT AS sum_q, "
            f"COUNT(*)::BIGINT AS n_vecs "
            f"FROM a{t} a JOIN q USING (vec_id) GROUP BY 1, 2)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT label, pos::BIGINT AS pos, sum_q, n_vecs FROM c{iters}"
    )


_BLOOM_M, _BLOOM_K = 4096, 3


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter state (distinct set bit positions) over user ids per
    event_type — row form, mergeable by UNION, ≤ m rows per group."""
    from assemblagedb_spark.operators.sketches import bloom_bits

    ev = load_table(spark, sf_dir, "events")
    return bloom_bits(ev, "user_id", ["event_type"], m=_BLOOM_M, n_hashes=_BLOOM_K)


def _o_bloom() -> str:
    probes = " UNION ALL ".join(
        f"SELECT event_type, ({mix32_sql('user_id', r)}) % {_BLOOM_M} AS bit "
        f"FROM events"
        for r in range(_BLOOM_K)
    )
    return f"SELECT DISTINCT event_type, bit::BIGINT AS bit FROM ({probes})"


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join: orders of high-balance customers. The
    filter is built over the SMALL side's keys and broadcast; the orders
    scan drops non-members per-row (array membership, no shuffle) before
    the exact semi-join — so the result is EXACT (bloom has no false
    negatives) and the oracle is a plain semi-join."""
    from assemblagedb_spark.operators.sketches import bloom_bits, bloom_prefilter

    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    orders = load_table(spark, sf_dir, "orders")
    bits = bloom_bits(cust, "c_custkey", m=_BLOOM_M, n_hashes=_BLOOM_K)
    pre = bloom_prefilter(
        orders.withColumnRenamed("o_custkey", "custkey"), bits, "custkey",
        m=_BLOOM_M, n_hashes=_BLOOM_K,
    )
    return (
        pre.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("custkey"))),
            "custkey", "left_semi",
        )
        .groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )


O_BLOOM_SEMIJOIN = """
SELECT o.o_custkey AS custkey, COUNT(*)::BIGINT AS n_orders,
       SUM(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS total_cents
FROM orders o
WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
GROUP BY o.o_custkey
"""


_TOPN_N = 100


def q_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample: the 100 lowest-mixed-hash docs.
    Compiles to TakeOrderedAndProject — per-partition local top-n, no
    global sort/shuffle."""
    from assemblagedb_spark.operators.sampling import fixed_size_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return fixed_size_sample(docs, _TOPN_N, key_col="doc_id")


O_SAMPLE_TOPN = f"""
SELECT doc_id, lang FROM documents
ORDER BY ({mix32_sql("doc_id")}), doc_id LIMIT {_TOPN_N}
"""


O_DEDUP_INCREMENTAL = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
    "string_agg(minhash, ',' ORDER BY j) AS band_sig "
    f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS}) "
    "SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id "
    "FROM bands n JOIN bands c ON n.band = c.band AND n.band_sig = c.band_sig "
    "WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7"
)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: docs with doc_id % 10 == 7 arrive as a
    new batch; their bands broadcast-join the STORED corpus band table
    (corpus never reshuffled, work proportional to the batch)."""
    from assemblagedb_spark.operators.dedup import band_split, lsh_incremental_pairs

    sig = _doc_minhash_sigs(spark, sf_dir).localCheckpoint(eager=True)
    corpus_bands = band_split(
        sig.filter(F.col("doc_id") % 10 != 7),
        bands=_LSH_BANDS, rows_per_band=_LSH_ROWS,
    )
    return lsh_incremental_pairs(
        sig.filter(F.col("doc_id") % 10 == 7), corpus_bands,
        bands=_LSH_BANDS, rows_per_band=_LSH_ROWS,
    )


_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.3}


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture resampling (DoReMi-style static mix):
    down-sample over-represented languages toward 50/20/30 en/de/fr; the
    binding domain keeps 100%, membership is the permille hash gate. One
    tiny count aggregate; the corpus scans once, never shuffles."""
    from assemblagedb_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mixture_sample(docs, _MIX_WEIGHTS, domain_col="lang")


def _mix_weight_cases() -> tuple[str, str, str]:
    """Numerator/denominator CASE expressions for the snapped exact
    rationals of _MIX_WEIGHTS (sampling.snap_weight — the SAME rationals
    the Spark side computes with), plus the lang list."""
    from assemblagedb_spark.operators.sampling import snap_weight

    wf = {d: snap_weight(w) for d, w in _MIX_WEIGHTS.items()}
    wn_case = "CASE lang " + " ".join(
        f"WHEN '{d}' THEN {f.numerator}" for d, f in wf.items()
    ) + " END"
    wd_case = "CASE lang " + " ".join(
        f"WHEN '{d}' THEN {f.denominator}" for d, f in wf.items()
    ) + " END"
    langs = ", ".join(f"'{d}'" for d in _MIX_WEIGHTS)
    return wn_case, wd_case, langs


def _o_mixture() -> str:
    from assemblagedb_spark.operators.sampling import SAMPLE_A, SAMPLE_B
    from assemblagedb_spark.functions.core import MINHASH_PRIME

    wn_case, wd_case, langs = _mix_weight_cases()
    # mirrors mixture_sample/exact_permille in pure INTEGER arithmetic:
    # ratio_d = n_d * wd_d / wn_d as an exact rational; the binding
    # domain is the cross-multiplied argmin (no float n/w equality on
    # either engine); permille_d = exact HUGEINT floor division. Ties all
    # pin to 1000 (tied domains have rate exactly 1).
    return f"""
WITH counts AS (
  SELECT lang, COUNT(*)::HUGEINT AS n,
         ({wn_case})::HUGEINT AS wn, ({wd_case})::HUGEINT AS wd
  FROM documents WHERE lang IN ({langs}) GROUP BY lang
),
b AS (
  SELECT n AS bn, wn AS bwn, wd AS bwd FROM counts c1
  WHERE NOT EXISTS (SELECT 1 FROM counts c2
                    WHERE c2.n * c2.wd * c1.wn < c1.n * c1.wd * c2.wn)
  ORDER BY lang LIMIT 1
),
perm AS (
  SELECT lang, CASE WHEN n * wd * b.bwn = b.bn * b.bwd * wn THEN 1000
               ELSE LEAST(1000, (b.bn * b.bwd * wn * 1000)
                                // (b.bwn * wd * n)) END::BIGINT AS p
  FROM counts, b
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN perm USING (lang)
WHERE ((d.doc_id * {SAMPLE_A} + {SAMPLE_B}) % {MINHASH_PRIME}) % 1000 < perm.p
"""


# ---------------------------------------------------------------------------
# Profiling, funnels, cohort retention
# ---------------------------------------------------------------------------

# lineitem column kinds for the profile oracle (mirrors profile.table_profile)
_LI_COLS = [
    ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
    ("l_linenumber", "num"), ("l_quantity", "num"), ("l_extendedprice", "num"),
    ("l_discount", "num"), ("l_tax", "num"), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", "ts"),
]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over lineitem: row/null/exact-distinct
    counts + scaled-integer extremes per column (the audit step before any
    large job; single scan, one grouping-sets shuffle)."""
    from assemblagedb_spark.operators.profile import table_profile

    return table_profile(load_table(spark, sf_dir, "lineitem"))


def _o_profile() -> str:
    parts = []
    for name, kind in _LI_COLS:
        if kind == "num":
            mn = f"MIN(floor(CAST({name} AS DOUBLE) * 100))::BIGINT"
            mx = f"MAX(floor(CAST({name} AS DOUBLE) * 100))::BIGINT"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        elif kind == "ts":
            mn = f"MIN(epoch_us({name}))::BIGINT"
            mx = f"MAX(epoch_us({name}))::BIGINT"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        else:
            mn, mx = "NULL::BIGINT", "NULL::BIGINT"
            ms, xs = f"MIN({name})", f"MAX({name})"
        parts.append(
            f"SELECT '{name}' AS col_name, COUNT(*)::BIGINT AS n_rows, "
            f"SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, "
            f"COUNT(DISTINCT {name})::BIGINT AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{ms} AS min_str, {xs} AS max_str FROM lineitem"
        )
    return " UNION ALL ".join(parts)


_FUNNEL_STAGES = ["view", "click", "purchase"]


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: per user, earliest time each
    stage is reached after the previous one; k conditional aggregates over
    one cached scan, no global window."""
    from assemblagedb_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, _FUNNEL_STAGES)


O_EVENTS_FUNNEL = """
WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
s1 AS (SELECT user_id, MIN(ts)::BIGINT AS t_1 FROM e
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, MIN(e.ts)::BIGINT AS t_2 FROM e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
s3 AS (SELECT e.user_id, MIN(e.ts)::BIGINT AS t_3 FROM e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1)
SELECT s1.user_id, t_1, t_2, t_3,
       (1 + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
          + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS funnel_stage
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention matrix: first-active day per user, distinct
    return days counted by offset — two groupBys + one user-keyed join."""
    from assemblagedb_spark.operators.funnel import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


O_EVENTS_RETENTION = """
WITH d AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
           FROM events),
f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
SELECT f.cohort_day, (d.day - f.cohort_day) AS day_offset,
       COUNT(*)::BIGINT AS n_users
FROM d JOIN f USING (user_id)
GROUP BY 1, 2
"""


_SNAPSHOT2_NS = SNAPSHOT_NS + 7 * 86_400 * 1_000_000_000


def q_mvcc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visible-state delta between two snapshots a week apart: keys added /
    removed / updated, from version history alone (the export_since
    question answered relationally; two rank passes + one key join)."""
    ev = _events_versioned(spark, sf_dir)
    return mvcc.snapshot_diff(
        ev, SNAPSHOT_NS, _SNAPSHOT2_NS, ["user_id"],
        ts="ts", tiebreak=["event_id"],
    ).select(
        "user_id", "change",
        F.expr("old_ts div 1000").alias("old_ts"),
        F.expr("new_ts div 1000").alias("new_ts"),
    )


O_MVCC_DIFF = f"""
WITH va AS (
  SELECT user_id, epoch_us(ts)::BIGINT AS v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE epoch_ns(ts) <= {SNAPSHOT_NS}
  ) WHERE rn = 1 AND event_type <> 'error'
),
vb AS (
  SELECT user_id, epoch_us(ts)::BIGINT AS v FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE epoch_ns(ts) <= {_SNAPSHOT2_NS}
  ) WHERE rn = 1 AND event_type <> 'error'
)
SELECT coalesce(va.user_id, vb.user_id) AS user_id,
       CASE WHEN va.user_id IS NULL THEN 'added'
            WHEN vb.user_id IS NULL THEN 'removed'
            ELSE 'updated' END AS change,
       va.v AS old_ts, vb.v AS new_ts
FROM va FULL OUTER JOIN vb ON va.user_id = vb.user_id
WHERE va.user_id IS NULL OR vb.user_id IS NULL OR va.v <> vb.v
"""


_GTOPN_N = 20


def q_sample_group_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language fixed-size sample: the 20 lowest-mixed-hash
    docs per lang (one shuffle on the group key, per-group rank window)."""
    from assemblagedb_spark.operators.sampling import group_fixed_size_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return group_fixed_size_sample(
        docs, _GTOPN_N, group_cols=["lang"], key_col="doc_id"
    )


O_SAMPLE_GROUP_TOPN = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ({mix32_sql("doc_id")}), doc_id) AS rn
  FROM documents
) WHERE rn <= {_GTOPN_N}
"""


_IVT_K, _IVT_PROBE = 8, 2


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer ANN: Lloyd's k-means coarse cells (k=8, 2
    rounds; reused from the session's trained state — _trained_kmeans),
    then IVF top-10 probes the 2 nearest trained cells per query. With a
    warm quantizer this measures the assign → probe serving path; the
    train cost itself is the kmeans_train key."""
    from assemblagedb_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    state = _trained_kmeans(spark, sf_dir, _IVT_K, 2)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(
        emb, queries, k=10, nprobe=_IVT_PROBE, centroids=state
    ).select("query_id", "neighbor_id", F.col("rank").cast("long"))


def _o_ivf_trained() -> str:
    km = _o_kmeans(k=_IVT_K, iters=2)
    # reuse the kmeans CTE chain (strip its WITH + final SELECT)
    km_ctes = km[len("WITH "):km.rindex("\nSELECT")]
    return f"""
WITH {km_ctes},
cvec2 AS (
  SELECT label AS cell,
         list(floor(sum_q / n_vecs) / 1000.0 ORDER BY pos) AS vec_cent
  FROM c2 GROUP BY label
),
cellscore AS (
  SELECT e.vec_id, ct.cell,
         list_dot_product(e.embedding::DOUBLE[], ct.vec_cent::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ct.vec_cent::DOUBLE[], ct.vec_cent::DOUBLE[]))) AS cos_c
  FROM embeddings e CROSS JOIN cvec2 ct WHERE e.embedding IS NOT NULL
),
rankedc AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cell) AS r
  FROM cellscore
),
assign2 AS (SELECT vec_id AS c_id, cell FROM rankedc WHERE r = 1),
probes2 AS (SELECT vec_id AS q_id, cell FROM rankedc
            WHERE r <= {_IVT_PROBE} AND vec_id % 50 = 0),
cand2 AS (
  SELECT DISTINCT p.q_id, a.c_id
  FROM probes2 p JOIN assign2 a ON a.cell = p.cell
  WHERE p.q_id <> a.c_id
),
s2 AS (
  SELECT cand2.q_id, cand2.c_id,
         list_dot_product(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[]))) AS cos
  FROM cand2 JOIN embeddings qe ON qe.vec_id = cand2.q_id
  JOIN embeddings ce ON ce.vec_id = cand2.c_id
)
SELECT q_id AS query_id, c_id AS neighbor_id, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
  FROM s2
) WHERE rank <= 10
"""


def q_text_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence length outliers on EXACT discrete quartiles of the
    token count (two-phase global rank — no single-node sort, no
    percentile_approx error feeding the cut)."""
    from assemblagedb_spark.operators.selection import iqr_outliers
    from assemblagedb_spark.operators.textstats import token_stats

    stats = token_stats(load_table(spark, sf_dir, "documents"))
    return iqr_outliers(stats, F.col("n_tokens"))


O_TEXT_OUTLIERS = f"""
WITH {_O_WORDS},
t AS (SELECT doc_id, len(w)::BIGINT AS v FROM words),
n AS (SELECT COUNT(*) AS n FROM t),
r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM t),
q AS (SELECT
  (SELECT v FROM r, n WHERE rn = GREATEST(1, ceil(0.25 * n.n))) AS q1,
  (SELECT v FROM r, n WHERE rn = GREATEST(1, ceil(0.75 * n.n))) AS q3)
SELECT t.doc_id, t.v AS metric,
       (t.v < q.q1 - 3 * (q.q3 - q.q1) OR t.v > q.q3 + 3 * (q.q3 - q.q1))::BIGINT
           AS is_outlier,
       (q.q1 - 3 * (q.q3 - q.q1))::BIGINT AS fence_lo,
       (q.q3 + 3 * (q.q3 - q.q1))::BIGINT AS fence_hi
FROM t, q
"""


def q_sketch_join_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two count-min sketches (AMS inner
    product): |events ⋈ orders on user key| bounded above per sketch row —
    the broadcast-vs-shuffle-vs-salt decision for a 100 TB join priced at
    two single-pass sketches instead of the join itself."""
    from assemblagedb_spark.operators.sketches import (
        countmin_counters,
        countmin_join_estimate,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("item")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("item")
    )
    cm_a = countmin_counters(ev, "item", d=_CM_D, w=_CM_W)
    cm_b = countmin_counters(orders, "item", d=_CM_D, w=_CM_W)
    return countmin_join_estimate(cm_a, cm_b).select(
        F.col("row").cast("long").alias("cm_row"), "inner_product"
    )


def _o_join_est() -> str:
    def sketch(src: str, key: str) -> str:
        h = strhash_duckdb_sql("CAST(" + key + " AS VARCHAR)")
        cells = " UNION ALL ".join(
            f"SELECT {r} AS r, ({mix32_sql('h', r)}) % {_CM_W} AS c FROM hh"
            for r in range(_CM_D)
        )
        return (
            f"(WITH hh AS (SELECT {h} AS h FROM {src}) "
            f"SELECT r, c, COUNT(*)::BIGINT AS ct FROM ({cells}) GROUP BY 1, 2)"
        )

    return f"""
WITH sa AS {sketch("events", "user_id")},
sb AS {sketch("orders", "o_custkey")}
SELECT sa.r::BIGINT AS cm_row, SUM(sa.ct * sb.ct)::BIGINT AS inner_product
FROM sa JOIN sb ON sa.r = sb.r AND sa.c = sb.c GROUP BY sa.r
"""


def q_crossmodal_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal aggregation: join the text table to its row-aligned
    embedding table (doc_id = vec_id) and build per-LANGUAGE quantized
    centroids — the 'mean embedding per metadata slice' audit every
    multimodal corpus needs. One equi-join + one merge-state groupBy."""
    from assemblagedb_spark.operators.vectors import label_centroids

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    joined = docs.join(emb, "doc_id").select(
        F.col("lang").alias("label"), "embedding"
    )
    return label_centroids(joined).select(
        F.col("label").alias("lang"),
        F.col("pos").cast("long").alias("pos"),
        "sum_q", "n_vecs",
    )


O_CROSSMODAL_CENTROIDS = """
SELECT d.lang, (t.i - 1)::BIGINT AS pos,
       SUM(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000))::BIGINT AS sum_q,
       COUNT(*)::BIGINT AS n_vecs
FROM documents d
JOIN embeddings e ON e.vec_id = d.doc_id,
     unnest(range(1, len(e.embedding) + 1)) t(i)
GROUP BY d.lang, t.i
"""


def q_sample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch up-sampling to the 50/20/30 en/de/fr mixture: rows of
    under-represented languages emitted floor/ceil(rate) times with a
    hash-gated fractional epoch; the best-represented language repeats
    once. One count aggregate; per-row local explode."""
    from assemblagedb_spark.operators.sampling import repeat_to_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return repeat_to_mixture(docs, _MIX_WEIGHTS, domain_col="lang")


def _o_repeat() -> str:
    from assemblagedb_spark.functions.core import MINHASH_PRIME
    from assemblagedb_spark.operators.sampling import SAMPLE_A, SAMPLE_B

    wn_case, wd_case, langs = _mix_weight_cases()
    # integer mirror of repeat_to_mixture/exact_permille: binding = the
    # cross-multiplied argMAX of n_d*wd_d/wn_d (best-represented domain,
    # pinned to one epoch); repeat permille = exact HUGEINT floor,
    # capped at max_repeat*1000 = 10000
    return f"""
WITH counts AS (
  SELECT lang, COUNT(*)::HUGEINT AS n,
         ({wn_case})::HUGEINT AS wn, ({wd_case})::HUGEINT AS wd
  FROM documents WHERE lang IN ({langs}) GROUP BY lang
),
b AS (
  SELECT n AS bn, wn AS bwn, wd AS bwd FROM counts c1
  WHERE NOT EXISTS (SELECT 1 FROM counts c2
                    WHERE c2.n * c2.wd * c1.wn > c1.n * c1.wd * c2.wn)
  ORDER BY lang LIMIT 1
),
perm AS (
  SELECT lang, CASE WHEN n * wd * b.bwn = b.bn * b.bwd * wn THEN 1000
               ELSE LEAST(10000, (b.bn * b.bwd * wn * 1000)
                                 // (b.bwn * wd * n)) END::BIGINT AS p
  FROM counts, b
),
r AS (
  SELECT d.doc_id, d.lang,
         perm.p // 1000
         + CASE WHEN ((d.doc_id * {SAMPLE_A} + {SAMPLE_B} * 2)
                      % {MINHASH_PRIME}) % 1000 < perm.p % 1000
                THEN 1 ELSE 0 END AS reps
  FROM documents d JOIN perm USING (lang)
)
SELECT doc_id, lang, unnest(range(0, reps))::BIGINT AS epoch
FROM r WHERE reps > 0
"""


def q_events_outliers_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Tukey fences on exact discrete quartiles of the cent
    value — per-slice anomaly gating (one shuffle on the group key; window
    ranks are group-local)."""
    from assemblagedb_spark.operators.selection import grouped_iqr_outliers

    ev = load_table(spark, sf_dir, "events")
    return grouped_iqr_outliers(
        ev,
        F.round(F.col("value") * 100).cast("long"),
        ["event_type"],
        id_col="event_id",
    ).withColumnRenamed("doc_id", "event_id")


O_EVENTS_OUTLIERS_GROUPED = """
WITH t AS (SELECT event_type, event_id, round(value * 100)::BIGINT AS v
           FROM events),
-- NULL metric values are excluded from the quartile ranks (their sort
-- position is engine-specific and they are not data); their rows stay
-- in the output below with NULL flags. A NULL group key is a genuine
-- group: the join is null-safe (IS NOT DISTINCT FROM).
r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM t WHERE v IS NOT NULL),
q AS (SELECT event_type, MIN(v) AS q1, MAX(v) AS q3 FROM r
      WHERE rn = ceil(n * 0.25) OR rn = ceil(n * 0.75)
      GROUP BY event_type)
SELECT t.event_type, t.event_id, t.v AS metric,
       (t.v < q.q1 - 3 * (q.q3 - q.q1) OR t.v > q.q3 + 3 * (q.q3 - q.q1))::BIGINT
           AS is_outlier,
       (q.q1 - 3 * (q.q3 - q.q1))::BIGINT AS fence_lo,
       (q.q3 + 3 * (q.q3 - q.q1))::BIGINT AS fence_hi
FROM t LEFT JOIN q ON t.event_type IS NOT DISTINCT FROM q.event_type
"""


# ---------------------------------------------------------------------------
# Round-3 additions: verified LSH dedup, containment, splits, per-group
# selection, multi-source BFS, chunk dedup, corpus-LM surprisal
# ---------------------------------------------------------------------------


_OVERLAP_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_lsh_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared heavy stage of the two verify gates: LSH candidate pairs ->
    exact (id_a, id_b, inter, n_a, n_b) gram-overlap relation, persisted
    once per (session, sf_dir) — jaccard and containment are projections
    of it (dedup.ngram_overlap_pairs), so running both gates (the normal
    pipeline: symmetric near-dup + quotation detection over the same
    candidates) pays candidate generation + verification once. Same memo
    discipline as _MINHASH_CACHE; the relation is candidate-bounded
    (~116k rows at sf0.1), far below executor cache pressure."""
    from assemblagedb_spark.operators.dedup import (
        lsh_candidate_pairs,
        ngram_overlap_pairs,
    )

    key = (_session_key(spark), sf_dir)
    if key not in _OVERLAP_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        sig = _doc_minhash_sigs(spark, sf_dir)
        pairs = lsh_candidate_pairs(
            sig, bands=_LSH_BANDS, rows_per_band=_LSH_ROWS
        )
        _OVERLAP_CACHE[key] = ngram_overlap_pairs(docs, pairs).persist()
    return _OVERLAP_CACHE[key]


def q_dedup_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup pipeline END TO END: MinHash-LSH candidate
    pairs -> exact n-gram jaccard verification restricted to those
    candidates (the 100 TB path). Pairs whose shingle sets share no gram
    (pure minhash collisions) drop out, mirrored by the oracle's
    inter >= 1 join. min_jaccard=0 so the gate pins the verify arithmetic
    itself, not a threshold. The overlap relation is shared with
    q_dedup_containment (_doc_lsh_overlap)."""
    from assemblagedb_spark.operators.dedup import jaccard_from_overlap

    return jaccard_from_overlap(
        _doc_lsh_overlap(spark, sf_dir), min_jaccard=0.0
    )


_O_LSH_CAND_CTE = (
    f"bands AS (SELECT doc_id, j // {_LSH_ROWS} AS band, "
    "string_agg(minhash, ',' ORDER BY j) AS band_sig "
    f"FROM mh GROUP BY doc_id, j // {_LSH_ROWS}), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig "
    "WHERE a.doc_id < b.doc_id)"
)

O_DEDUP_LSH_VERIFY = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"{_O_LSH_CAND_CTE}, "
    "sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM shingles GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS inter "
    "FROM shingles a JOIN shingles b USING (gram) WHERE a.doc_id < b.doc_id "
    "GROUP BY 1, 2) "
    "SELECT c.id_a, c.id_b, i.inter, na.n AS n_a, nb.n AS n_b, "
    "(i.inter / (na.n + nb.n - i.inter)) AS jaccard "
    "FROM cand c JOIN inter i USING (id_a, id_b) "
    "JOIN sizes na ON na.doc_id = c.id_a JOIN sizes nb ON nb.doc_id = c.id_b"
)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact asymmetric containment (|A∩B|/|A|, |A∩B|/|B|) over the LSH
    candidate pairs — the sub-document/quotation detector jaccard misses
    (asymmetric-denominator analogue of the reference's
    AsymmetricBasedOnSourceOnly find mode, index.rs:230-236). Projects
    the shared persisted overlap relation (_doc_lsh_overlap)."""
    from assemblagedb_spark.operators.dedup import containment_from_overlap

    return containment_from_overlap(_doc_lsh_overlap(spark, sf_dir))


O_DEDUP_CONTAINMENT = (
    f"WITH {_DOC_SHINGLES_CTE}, {_MINHASH_CTE.format(coeffs=_coeff_values_sql())}, "
    f"{_O_LSH_CAND_CTE}, "
    "sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM shingles GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS inter "
    "FROM shingles a JOIN shingles b USING (gram) WHERE a.doc_id < b.doc_id "
    "GROUP BY 1, 2) "
    "SELECT c.id_a, c.id_b, i.inter, na.n AS n_a, nb.n AS n_b, "
    "(i.inter / na.n) AS containment_a, (i.inter / nb.n) AS containment_b "
    "FROM cand c JOIN inter i USING (id_a, id_b) "
    "JOIN sizes na ON na.doc_id = c.id_a JOIN sizes nb ON nb.doc_id = c.id_b"
)


_SPLIT_VAL_PM, _SPLIT_TEST_PM, _SPLIT_SEED = 10, 10, 3


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed train/val/test assignment (98/1/1 via
    the permille hash gate) — the split that survives re-runs and corpus
    growth, where random() leaks documents across sets."""
    from assemblagedb_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_assign(
        docs,
        val_permille=_SPLIT_VAL_PM,
        test_permille=_SPLIT_TEST_PM,
        seed=_SPLIT_SEED,
    )


def _o_split_assign() -> str:
    from assemblagedb_spark.operators.sampling import bucket_sql

    b = bucket_sql("doc_id", _SPLIT_SEED)
    return f"""
SELECT doc_id, lang,
       CASE WHEN {b} < {_SPLIT_VAL_PM} THEN 'val'
            WHEN {b} < {_SPLIT_VAL_PM + _SPLIT_TEST_PM} THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


def q_select_best_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: the 2 longest documents per
    language under the total order (n_chars DESC, doc_id ASC) — one
    shuffle on the group key, group-local rank window (never global)."""
    from assemblagedb_spark.operators.selection import best_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return best_per_group(
        docs, ["lang"], [F.col("n_chars").desc(), F.col("doc_id").asc()], keep=2
    )


O_SELECT_BEST_GROUP = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 2
"""


def q_graph_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS depth over the multi-parent C→O→L / P→L graph:
    fewest hops from any seed (sampled customers ∪ sampled part hubs).
    Shared L nodes are reachable from a P seed at depth 1 AND a C seed at
    depth 2 — the min-depth (first-visit) invariant is what the gate
    pins. max_depth=2 matches the oracle's d0/d1/d2 CTEs exactly, so the
    gate does not depend on the generated graph happening to have no
    depth-3 node (the C→O→L/P→L graph is 2-deep today, but a data-gen
    change must not silently unbalance the two sides)."""
    from assemblagedb_spark.operators.components import bfs_depth

    e = _shared_graph_edges(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"))
        .unionByName(
            li.filter(
                (F.col("l_partkey") % 3 == 0) & (F.col("l_partkey") % 5 == 0)
            )
            .select(
                F.concat(F.lit("P"), F.col("l_partkey")).alias("node_id")
            )
            .distinct()
        )
    )
    return bfs_depth(e, seeds, max_depth=2)


O_GRAPH_BFS_DEPTH = f"""
WITH edges AS ({_SHARED_EDGES_DUCK}),
seeds AS (
  SELECT 'C' || c_custkey AS node_id FROM customer WHERE c_custkey % 10 = 0
  UNION
  SELECT DISTINCT 'P' || l_partkey FROM lineitem
  WHERE l_partkey % 3 = 0 AND l_partkey % 5 = 0),
d0 AS (SELECT DISTINCT node_id FROM seeds),
d1 AS (SELECT DISTINCT e.child_id AS node_id FROM edges e
       JOIN d0 ON e.parent_id = d0.node_id
       WHERE e.child_id NOT IN (SELECT node_id FROM d0)),
d2 AS (SELECT DISTINCT e.child_id AS node_id FROM edges e
       JOIN d1 ON e.parent_id = d1.node_id
       WHERE e.child_id NOT IN (SELECT node_id FROM d0)
         AND e.child_id NOT IN (SELECT node_id FROM d1))
SELECT node_id, 0::BIGINT AS depth FROM d0
UNION ALL SELECT node_id, 1::BIGINT FROM d1
UNION ALL SELECT node_id, 2::BIGINT FROM d2
"""


_CHUNK_WORDS, _CHUNK_DF = 8, 2


def q_text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-chunk removal: 8-word chunks occurring in ≥2
    distinct documents corpus-wide are boilerplate; documents are
    re-assembled without them (stats + cleaned text)."""
    from assemblagedb_spark.operators.textstats import chunk_dedup

    return chunk_dedup(
        load_table(spark, sf_dir, "documents"),
        chunk_words=_CHUNK_WORDS,
        df_threshold=_CHUNK_DF,
    )


O_TEXT_CHUNK_DEDUP = f"""
WITH {_O_WORDS},
ch AS (
  SELECT doc_id, t.i AS chunk_idx,
         array_to_string(list_slice(w, t.i * {_CHUNK_WORDS} + 1,
                                    t.i * {_CHUNK_WORDS} + {_CHUNK_WORDS}), ' ')
             AS chunk
  FROM words, unnest(range(0, (len(w) + {_CHUNK_WORDS - 1}) // {_CHUNK_WORDS})) t(i)),
fr AS (SELECT chunk, COUNT(DISTINCT doc_id) AS cdf FROM ch GROUP BY 1),
tagged AS (
  SELECT ch.doc_id, ch.chunk_idx, ch.chunk,
         (fr.cdf >= {_CHUNK_DF}) AS is_dup
  FROM ch JOIN fr USING (chunk)),
agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
         SUM(is_dup::INT)::BIGINT AS n_dup_chunks,
         coalesce(string_agg(CASE WHEN NOT is_dup THEN chunk END,
                             ' ' ORDER BY chunk_idx), '') AS clean_text
  FROM tagged GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_chunks, 0)::BIGINT AS n_chunks,
       coalesce(a.n_dup_chunks, 0)::BIGINT AS n_dup_chunks,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_text_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score in exact integer arithmetic: token
    surprisal proxy = digit count of total_tokens // corpus_freq — the
    CCNet-perplexity-filter shape, bit-identical in any engine."""
    from assemblagedb_spark.operators.textstats import unigram_surprisal

    return unigram_surprisal(load_table(spark, sf_dir, "documents"))


O_TEXT_SURPRISAL = f"""
WITH {_O_WORDS},
tok AS (SELECT doc_id, unnest(w) AS term FROM words),
fr AS (SELECT term, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt)::BIGINT AS total FROM fr),
sc AS (SELECT t.doc_id,
              length(CAST((tot.total // fr.cnt) AS VARCHAR))::BIGINT AS surp
       FROM tok t JOIN fr USING (term), tot),
agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
               SUM(surp)::BIGINT AS s
        FROM sc GROUP BY 1)
SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(a.s, 0)::BIGINT AS surprisal_sum,
       (CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
             ELSE (1000 * a.s) // a.n_tokens END)::BIGINT AS milli_surprisal
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


_CASCADE_LEVELS = [("5m", 300_000_000_000), ("1h", 3_600_000_000_000),
                   ("1d", 86_400_000_000_000)]


def q_events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (hypertable rollup): the 5-minute level
    aggregates raw events ONCE; hour re-aggregates the 5-minute merge
    state; day re-aggregates hour — raw is never rescanned for coarser
    resolutions. The oracle computes every level DIRECTLY from raw, so the
    gate proves cascade ≡ direct (additive merge states compose exactly)."""
    from assemblagedb_spark.operators.rollup import rollup_cascade

    ev = load_table(spark, sf_dir, "events")
    return rollup_cascade(
        ev,
        F.round(F.col("value") * 100).cast("long"),
        bucket_ns=_CASCADE_LEVELS,
    )


def _o_rollup_cascade() -> str:
    parts = []
    for name, ns in _CASCADE_LEVELS:
        parts.append(
            f"SELECT '{name}' AS level, "
            f"(epoch_ns(ts) - epoch_ns(ts) % {ns})::BIGINT AS bucket_start, "
            "event_type, COUNT(*)::BIGINT AS n, "
            "SUM(round(value * 100)::BIGINT)::BIGINT AS sum_value "
            "FROM events GROUP BY 1, 2, 3"
        )
    return " UNION ALL ".join(parts)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding corpus —
    the 4× memory cut before ANN candidate scoring; a pure map-only
    projection (zero shuffle) at any scale."""
    from assemblagedb_spark.operators.vectors import quantize_int8

    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


O_EMBEDDING_QUANTIZE = """
WITH ex AS (
  SELECT vec_id, t.i - 1 AS pos, e.embedding[t.i]::DOUBLE AS x,
         list_max(list_transform(e.embedding, y -> abs(y::DOUBLE))) AS amax
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) t(i))
SELECT vec_id, pos::BIGINT AS pos,
       (CASE WHEN amax > 0 THEN floor(x * 127 / amax + 0.5) ELSE 0 END)::BIGINT AS q,
       (CASE WHEN amax > 0 THEN floor(amax * 1000000 + 0.5) ELSE 0 END)::BIGINT
           AS scale_micro
FROM ex
"""


# m=32 subspaces of 2 dims, k=8 codes (96 bits/vector ≈ 21× compression):
# chosen from a measured recall sweep against exact cosine top-10 at
# sf0.01 — (m=8,sd=8,k=8) scored recall@10 0.21, (16,4,16) 0.46,
# (32,2,8) 0.51, (32,2,16) 0.62; more/narrower subspaces beat more codes
# per subspace at equal bits (RECALL.md holds the committed curve). Train
# cost is m-independent (one fused Lloyd loop), so the extra recall is
# oracle-text and code-table width, not training time.
_PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ITERS = 32, 2, 8, 2


_PQ_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-cached PQ index: (codebook, codes) — the tiny codebook
    localCheckpoint-pinned (truncates the Lloyd-loop lineage), the
    corpus-sized codes persisted so clear_artifact_cache can release its
    blocks. A PQ index is trained+encoded once and then serves every ADC
    query batch — that is the point of the ~21x compression; re-encoding
    per batch would be the anti-pattern at 100 TB. The bench times the
    cold build (cache cleared before the ann_pq_codes key) and the warm
    ADC serving separately."""
    from assemblagedb_spark.operators.pq import pq_encode_arrow, pq_train_arrow

    key = (_session_key(spark), sf_dir)
    if key not in _PQ_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        # train runs the per-round numpy merge-state kernel — measured
        # interleaved A/B at sf0.1: ~0.9s vs ~3.2s for the join+groupBy
        # Lloyd rounds; bit-identical to the plain-Python reference
        # (test_pq_train_arrow_matches_python_reference)
        book = pq_train_arrow(
            emb, m=_PQ_M, sub_dim=_PQ_SUBDIM, k=_PQ_K, iters=_PQ_ITERS
        )
        # codes is corpus-sized (n_vecs x m): persist, not localCheckpoint,
        # so clear_artifact_cache can actually release the blocks when the
        # bench cold-times a rebuild (unpersist is a no-op on checkpoint
        # blocks); the tiny codebook stays checkpoint-pinned to truncate
        # the Lloyd-loop lineage. Encode runs the Arrow kernel — measured
        # interleaved A/B at sf0.1: 0.4s vs 1.7s for a literal-folded
        # expression (m=32 evaluates 256 interpreted HOF distance terms
        # per row, no lambda CSE); bit-identical to the plain-Python
        # argmin reference (test_pq_encode_arrow_matches_python_reference)
        codes = pq_encode_arrow(emb, book, m=_PQ_M, sub_dim=_PQ_SUBDIM).persist()
        _PQ_CACHE[key] = (book, codes)
    return _PQ_CACHE[key]


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes end to end: train m=32 per-subspace
    k-means codebooks (k=8, 2 Lloyd rounds, quantized integer grid), then
    encode the corpus in ONE fused scan against the broadcast codebook —
    (vec_id, subspace, code), the ~21x-compressed ANN index
    (Jégou et al. TPAMI'11). The oracle unrolls the identical per-subspace
    Lloyd chains and the final assignment. Index shared with the ADC
    serving gate via _pq_index."""
    _, codes = _pq_index(spark, sf_dir)
    return codes


def _pq_chain_ctes() -> tuple[list, int]:
    """The shared per-subspace unrolled Lloyd CTE chain; returns (ctes,
    iters) — a{sp}_{iters} holds subspace sp's final assignment (and
    d{sp}_{iters} every vector's distance to every final centroid)."""
    m, sd, k, iters = _PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ITERS
    ctes = [
        f"""seeds AS (
  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1) AS label
  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {k}))"""
    ]
    selects = []
    for sp in range(m):
        ctes.append(
            f"""q{sp} AS (
  SELECT vec_id, t.i - 1 AS pos,
         floor(CAST(e.embedding[{sp * sd} + t.i] AS DOUBLE) * 1000)::BIGINT AS qv
  FROM embeddings e, unnest(range(1, {sd} + 1)) t(i)
  WHERE e.embedding IS NOT NULL)"""
        )
        ctes.append(
            f"""c{sp}_0 AS (
  SELECT s.label, q.pos, q.qv AS sum_q, 1::BIGINT AS n_vecs
  FROM seeds s JOIN q{sp} q ON s.vec_id = q.vec_id)"""
        )
        for t in range(iters + 1):
            ctes.append(
                f"cv{sp}_{t} AS (SELECT label, pos, "
                f"floor(sum_q / n_vecs)::BIGINT AS c FROM c{sp}_{t})"
            )
            ctes.append(
                f"d{sp}_{t} AS (SELECT q.vec_id, cv.label, "
                f"SUM((q.qv - cv.c) * (q.qv - cv.c))::BIGINT AS dist "
                f"FROM q{sp} q JOIN cv{sp}_{t} cv USING (pos) GROUP BY 1, 2)"
            )
            ctes.append(
                f"a{sp}_{t} AS (SELECT vec_id, label FROM ("
                f"SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id "
                f"ORDER BY dist, label) AS rn FROM d{sp}_{t}) WHERE rn = 1)"
            )
            if t < iters:
                ctes.append(
                    f"c{sp}_{t + 1} AS (SELECT a.label, q.pos, "
                    f"SUM(q.qv)::BIGINT AS sum_q, COUNT(*)::BIGINT AS n_vecs "
                    f"FROM a{sp}_{t} a JOIN q{sp} q USING (vec_id) GROUP BY 1, 2)"
                )
        selects.append(
            f"SELECT vec_id, {sp}::BIGINT AS subspace, label::BIGINT AS code "
            f"FROM a{sp}_{iters}"
        )
    ctes.append("codes AS (" + " UNION ALL ".join(selects) + ")")
    return ctes, iters


def _o_pq_codes() -> str:
    """Per-subspace unrolled Lloyd chain + final assignment (the PQ twin
    of _o_kmeans, positions local to each subspace slice)."""
    ctes, _ = _pq_chain_ctes()
    return "WITH " + ",\n".join(ctes) + "\nSELECT * FROM codes"


def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch rollup: the (event_type × day) register table is built
    from raw ONCE; the per-type and grand-total levels MAX-merge the
    previous level's registers (Druid-style sketch segments — distinct
    counts can't re-aggregate, sketch states can). The oracle computes
    every level directly from raw: MAX-merge associativity makes rolled ≡
    direct, which is exactly what the gate pins."""
    from assemblagedb_spark.operators.sketches import hll_rollup

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day_bucket", F.expr("ts div 86400000000000")
    )
    return hll_rollup(
        ev, "user_id",
        [["event_type", "day_bucket"], ["event_type"], []],
        m=_HLL_M,
    ).select(
        "level", "event_type", "day_bucket",
        F.col("bucket").cast("long").alias("bucket"), "register",
    )


def _o_sketch_rollup() -> str:
    base = f"""
h AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_bucket,
             {mix32_sql("user_id")} AS h FROM events),
r AS (SELECT event_type, day_bucket, (h % {_HLL_M})::BIGINT AS bucket,
             h // {_HLL_M} AS rest FROM h)"""
    reg = ("MAX(CASE WHEN rest = 0 THEN 33 "
           "ELSE length(bin(rest & (-rest))) END)::BIGINT")
    return f"""
WITH {base}
SELECT 0::BIGINT AS level, event_type, day_bucket, bucket,
       {reg} AS register
FROM r GROUP BY event_type, day_bucket, bucket
UNION ALL
SELECT 1::BIGINT, event_type, NULL::BIGINT, bucket, {reg}
FROM r GROUP BY event_type, bucket
UNION ALL
SELECT 2::BIGINT, NULL::VARCHAR, NULL::BIGINT, bucket, {reg}
FROM r GROUP BY bucket
"""


_KCORE_K, _KCORE_ORACLE_ROUNDS = 2, 12


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the multi-parent C→O→L / P→L graph: frontier-delta
    peeling (components.k_core_delta) — a degree table decremented only
    by each round's dead frontier's edges, so total join work is
    |E| + rounds·|V| instead of the simultaneous peel's rounds·|E|
    (parity with a plain-Python simultaneous peel pinned on this exact
    graph, tests/test_round3_ops.py). Output is each core
    member with its in-core degree. The oracle unrolls 12 simultaneous
    peel rounds — peeling is monotone and both formulations reach the
    identical fixpoint."""
    from assemblagedb_spark.operators.components import k_core_delta

    # the shared hierarchy's edge rows are distinct and typed (C/O/L/P id
    # prefixes — a reverse duplicate cannot exist), so the symmetrized
    # distinct is skipped
    return k_core_delta(_shared_graph_edges(spark, sf_dir), k=_KCORE_K,
                        assume_distinct=True)


def _o_graph_kcore() -> str:
    k, rounds = _KCORE_K, _KCORE_ORACLE_ROUNDS
    ctes = [
        f"""e0 AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT parent_id AS u, child_id AS v FROM raw
    UNION SELECT child_id, parent_id FROM raw)
  WHERE u <> v)"""
    ]
    for i in range(rounds):
        ctes.append(
            f"n{i + 1} AS MATERIALIZED (SELECT u FROM e{i} GROUP BY u "
            f"HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e "
            f"WHERE e.u IN (SELECT u FROM n{i + 1}) "
            f"AND e.v IN (SELECT u FROM n{i + 1}))"
        )
    return (
        f"WITH raw AS ({_SHARED_EDGES_DUCK}),\n"
        + ",\n".join(ctes)
        + f"\nSELECT u AS node_id, COUNT(*)::BIGINT AS degree "
        f"FROM e{rounds} GROUP BY u"
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weighted sampling: each document's keep probability is its
    own length-derived quality permille (clamped n_chars); deterministic
    hash gate, zero shuffle — importance downsampling where the rate
    column rides with the row."""
    from assemblagedb_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_sample(docs, F.col("n_chars") * 4, seed=4)


def _o_sample_weighted() -> str:
    from assemblagedb_spark.operators.sampling import bucket_sql

    b = bucket_sql("doc_id", 4)
    return f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {b} < GREATEST(0, LEAST(1000, n_chars * 4))
"""


_PQ_QUERY_MOD, _PQ_TOPK = 50, 10


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SERVING path: answer top-10 neighbors for the query set
    (vec_id % 50 == 0) by asymmetric distance computation over the
    session's PQ index (_pq_index — trained + encoded once, as a stored
    index would be) — per query, one (m × k) integer distance table
    against the codebook; each corpus vector scores as m code lookups
    summed. Exact integer arithmetic throughout, so the oracle replays
    the identical chains: a neighbor's ADC distance is the sum over
    subspaces of the query's distance to the neighbor's assigned
    centroid (d{sp} ⋈ a{sp} per subspace)."""
    from assemblagedb_spark.operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    book, codes = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0)
    return pq_adc_topk(
        codes, book, queries, k=_PQ_TOPK, m=_PQ_M, sub_dim=_PQ_SUBDIM
    )


def _o_pq_adc() -> str:
    ctes, iters = _pq_chain_ctes()
    m = _PQ_M
    contribs = " UNION ALL ".join(
        f"SELECT d.vec_id AS query_id, a.vec_id AS neighbor_id, d.dist "
        f"FROM a{sp}_{iters} a JOIN d{sp}_{iters} d ON d.label = a.label "
        f"WHERE d.vec_id % {_PQ_QUERY_MOD} = 0"
        for sp in range(m)
    )
    ctes.append(f"contrib AS MATERIALIZED ({contribs})")
    ctes.append(
        "adc AS (SELECT query_id, neighbor_id, SUM(dist)::BIGINT AS adc_dist "
        "FROM contrib WHERE query_id <> neighbor_id GROUP BY 1, 2)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc)
WHERE rank <= {_PQ_TOPK}"""
    )


_IVFPQ_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame, DataFrame]] = {}

# residual PQ config (the IVFADC index — SEPARATE from the full-scan
# _PQ_* index): k=16/iters=3 came from a measured recall sweep on the
# residual grid, run at the round-5 serving point nprobe=2 —
# recall@10 0.32 (raw codes, k=8/iters=2) → 0.46 at
# sf0.01 against the 0.53 nprobe=2 candidate ceiling, 0.29 → 0.36 at
# sf0.1 (ceiling 0.45). On this synthetic near-uniform corpus the
# residual itself contributes ~+0.02-0.03 (mean ||r||²/||q||² is only
# 0.93-0.96 — little coarse-cluster energy to remove; on real clustered
# embeddings the residual term dominates, Jégou TPAMI'11 §V), the
# k=8→16 codebook the rest; codes are 32×4 = 128 bits (~16x compression
# vs the raw index's ~21x).
_RPQ_M, _RPQ_SUBDIM, _RPQ_K, _RPQ_ITERS = 32, 2, 16, 3

# Serving probe width for the IVFADC legs (FAISS nprobe) — SEPARATE from
# ann_ivf_trained's _IVT_PROBE so the exact-IVF gate's tradeoff point
# stays comparable across rounds. The round-5 judge named the probed-cell
# candidate ceiling (0.53 recall@10 at nprobe=2) as the stack's recall
# cap and nprobe the standard knob; the measured sweep (RECALL.md,
# tools/recall_report.py probe table) picked this value. The plan shape
# is probe-count-invariant: the (query, cell) probe list IS the join key,
# so a wider probe only grows the broadcast-side row count |Q| × nprobe
# and the fraction of inverted lists each query scans.
_IVFPQ_PROBE = 4

# Coarse cell count for the IVFADC family — nlist ≈ √N at the GRADED scale
# (sf0.01: N=500 embeddings → √N ≈ 22), per FAISS practice and the measured
# nlist sweep (RECALL.md): at √N cells the rerank tier sits ON the
# exact-on-candidates ceiling at every probe width, while the former
# nlist=8 point parked the gate in the full-scan corner (nprobe=4 touched
# 50% of the corpus and the candidate set overflowed the R=5·k rerank
# shortlist — rerank 0.690 vs ceiling 0.713). SEPARATE from
# ann_ivf_trained's _IVT_K so the exact-IVF gate's operating point stays
# comparable across rounds. Retuned 8 → 22 in round 8 (r7 verdict #5).
_IVFPQ_NLIST = 22


def _ivfpq_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Session-cached residual-encoded IVFADC index (Jégou et al.
    TPAMI'11 §V — the FAISS ``IVFPQ`` build): (codebook, cell_codes,
    coarse) where the PQ codebooks train on RESIDUALS y − q1(y) against
    the trained coarse quantizer, and cell_codes = (vec_id, subspace,
    code, cell) inverted lists, repartitioned by cell (the layout that
    is written partitioned BY CELL at scale, so probes partition-prune)
    and persisted. Encode runs the Arrow kernel (pq_encode_arrow —
    pinned to the plain-Python argmin reference), which also carries
    the cell through the same scan."""
    from assemblagedb_spark.operators.pq import (
        coarse_centroid_vectors,
        pq_encode_arrow,
        pq_train_arrow,
        residual_vectors,
    )
    from assemblagedb_spark.operators.similarity import ivf_assign

    key = (_session_key(spark), sf_dir)
    if key not in _IVFPQ_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        state = _trained_kmeans(spark, sf_dir, _IVFPQ_NLIST, 2)
        coarse = coarse_centroid_vectors(state).localCheckpoint(eager=True)
        assign = ivf_assign(emb, centroids=state).withColumnRenamed(
            "c_id", "vec_id"
        )
        # consumed twice (codebook training + encode): pin, or the whole
        # residual pipeline — quantize + assign Arrow kernels + coarse
        # join — executes once per consumer (round-9 plan audit: the
        # cell_codes plan carried TWO copies of the resid subtree, one
        # under the broadcast rbook branch)
        resid = residual_vectors(emb, assign, coarse).localCheckpoint(
            eager=True
        )
        rbook = pq_train_arrow(
            resid, m=_RPQ_M, sub_dim=_RPQ_SUBDIM, k=_RPQ_K,
            iters=_RPQ_ITERS, vec_col="rvec", scale=None,
        )
        cell_codes = (
            pq_encode_arrow(
                resid, rbook, m=_RPQ_M, sub_dim=_RPQ_SUBDIM,
                vec_col="rvec", scale=None, carry_cols=("cell",),
            )
            .repartition("cell")
            .persist()
        )
        _IVFPQ_CACHE[key] = (rbook, cell_codes, coarse)
    return _IVFPQ_CACHE[key]


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC serving — the standard 100 TB ANN shape (Jégou et al.
    TPAMI'11 §V; FAISS IVFPQ): trained coarse cells bound the search,
    RESIDUAL-encoded PQ codes make per-candidate scoring integer table
    lookups. Per query: probe the _IVFPQ_PROBE nearest trained cells
    (FAISS nprobe — widened 2 → 4 in round 6 after the measured sweep;
    RECALL.md's probe table), compute the query's residual in each
    probed cell, ADC-score only those cells' inverted lists against the
    per-(query, cell) distance table, exact integer arithmetic, top-10.
    Build costs are the kmeans_train / _ivfpq_index steps; this key
    measures serving. Residual encoding closes the quantization gap
    inside the candidate set (see _RPQ constants); nprobe buys candidate
    ceiling (ADC recall@10 0.46 → 0.53 at sf0.01 going 2 → 4)."""
    from assemblagedb_spark.operators.pq import (
        ivfpq_adc_topk_residual,
        query_residuals,
    )
    from assemblagedb_spark.operators.similarity import ivf_probes

    emb = load_table(spark, sf_dir, "embeddings")
    rbook, cell_codes, coarse = _ivfpq_index(spark, sf_dir)
    state = _trained_kmeans(spark, sf_dir, _IVFPQ_NLIST, 2)
    queries = emb.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0)
    probes = ivf_probes(queries, nprobe=_IVFPQ_PROBE, centroids=state)
    qres = query_residuals(queries, probes, coarse)
    return ivfpq_adc_topk_residual(
        cell_codes, rbook, qres,
        k=_PQ_TOPK, m=_RPQ_M, sub_dim=_RPQ_SUBDIM,
    )


def _rpq_chain_ctes(include_query: bool = True) -> tuple[list, int]:
    """Per-subspace unrolled Lloyd CTE chains on the RESIDUAL grid:
    expects CTEs ``resid`` (vec_id, pos, qv — full-dim residuals) and,
    when ``include_query``, ``qres`` (vec_id, cell, pos, qv —
    per-probed-cell query residuals) to be in scope. Emits
    ra{sp}_{iters} (final corpus codes per subspace) and — query side —
    rdq{sp} (each query's per-cell distance to every final residual
    centroid) — the residual twins of _pq_chain_ctes, _RPQ constants.
    The build-only form (``include_query=False``) backs the
    ann_ivfpq_codes / streaming_ivfpq_ingest oracles."""
    m, sd, k, iters = _RPQ_M, _RPQ_SUBDIM, _RPQ_K, _RPQ_ITERS
    ctes = [
        f"""rseeds AS (
  SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1) AS label
  FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT {k}))"""
    ]
    for sp in range(m):
        lo, hi = sp * sd, (sp + 1) * sd
        ctes.append(
            f"rq{sp} AS (SELECT vec_id, pos - {lo} AS pos, qv "
            f"FROM resid WHERE pos >= {lo} AND pos < {hi})"
        )
        ctes.append(
            f"rc{sp}_0 AS (SELECT s.label, q.pos, q.qv AS sum_q, "
            f"1::BIGINT AS n_vecs "
            f"FROM rseeds s JOIN rq{sp} q ON s.vec_id = q.vec_id)"
        )
        for t in range(iters + 1):
            ctes.append(
                f"rcv{sp}_{t} AS (SELECT label, pos, "
                f"floor(sum_q / n_vecs)::BIGINT AS c FROM rc{sp}_{t})"
            )
            ctes.append(
                f"rd{sp}_{t} AS (SELECT q.vec_id, cv.label, "
                f"SUM((q.qv - cv.c) * (q.qv - cv.c))::BIGINT AS dist "
                f"FROM rq{sp} q JOIN rcv{sp}_{t} cv USING (pos) GROUP BY 1, 2)"
            )
            ctes.append(
                f"ra{sp}_{t} AS (SELECT vec_id, label FROM ("
                f"SELECT vec_id, label, row_number() OVER (PARTITION BY vec_id "
                f"ORDER BY dist, label) AS rn FROM rd{sp}_{t}) WHERE rn = 1)"
            )
            if t < iters:
                ctes.append(
                    f"rc{sp}_{t + 1} AS (SELECT a.label, q.pos, "
                    f"SUM(q.qv)::BIGINT AS sum_q, COUNT(*)::BIGINT AS n_vecs "
                    f"FROM ra{sp}_{t} a JOIN rq{sp} q USING (vec_id) GROUP BY 1, 2)"
                )
        if include_query:
            ctes.append(
                f"rdq{sp} AS (SELECT r.vec_id, r.cell, cv.label, "
                f"SUM((r.qv - cv.c) * (r.qv - cv.c))::BIGINT AS dist "
                f"FROM (SELECT vec_id, cell, pos - {lo} AS pos, qv FROM qres "
                f"WHERE pos >= {lo} AND pos < {hi}) r "
                f"JOIN rcv{sp}_{iters} cv USING (pos) GROUP BY 1, 2, 3)"
            )
    return ctes, iters


def _o_ann_ivfpq(limit: int = _PQ_TOPK) -> str:
    """Coarse-cell chain (the ann_ivf_trained oracle's cvec2→cand2 block)
    composed with the RESIDUAL PQ Lloyd chains: residuals are the km
    chain's quantized vectors minus their assigned cell's integer
    centroid; the query side residualizes against each PROBED cell. A
    neighbor's ADC distance is the sum over subspaces of the query's
    per-cell distance to the neighbor's assigned residual centroid,
    summed only over candidate pairs sharing a probed cell. ``limit``
    sizes the emitted per-query ADC ranking — ``_PQ_TOPK`` for the
    serving gate itself, ``_IVFPQ_RERANK_R`` when the rerank oracle
    reuses this text as its shortlist CTE."""
    km = _o_kmeans(k=_IVFPQ_NLIST, iters=2)
    km_ctes = km[len("WITH "):km.rindex("\nSELECT")]
    rpq_ctes, iters = _rpq_chain_ctes()
    contribs = " UNION ALL ".join(
        f"SELECT c.q_id AS query_id, c.c_id AS neighbor_id, d.dist "
        f"FROM cand2 c "
        f"JOIN assign2 an ON an.c_id = c.c_id "
        f"JOIN ra{sp}_{iters} a ON a.vec_id = c.c_id "
        f"JOIN rdq{sp} d ON d.vec_id = c.q_id AND d.cell = an.cell "
        f"AND d.label = a.label"
        for sp in range(_RPQ_M)
    )
    return f"""
WITH {km_ctes},
cvec2 AS (
  SELECT label AS cell,
         list(floor(sum_q / n_vecs) / 1000.0 ORDER BY pos) AS vec_cent
  FROM c2 GROUP BY label
),
cellscore AS (
  SELECT e.vec_id, ct.cell,
         list_dot_product(e.embedding::DOUBLE[], ct.vec_cent::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ct.vec_cent::DOUBLE[], ct.vec_cent::DOUBLE[]))) AS cos_c
  FROM embeddings e CROSS JOIN cvec2 ct WHERE e.embedding IS NOT NULL
),
rankedc AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cell) AS r
  FROM cellscore
),
assign2 AS (SELECT vec_id AS c_id, cell FROM rankedc WHERE r = 1),
probes2 AS (SELECT vec_id AS q_id, cell FROM rankedc
            WHERE r <= {_IVFPQ_PROBE} AND vec_id % {_PQ_QUERY_MOD} = 0),
ccent AS (SELECT label AS cell, pos, floor(sum_q / n_vecs)::BIGINT AS c
          FROM c2),
resid AS MATERIALIZED (
  SELECT q.vec_id, q.pos, q.qv - cc.c AS qv
  FROM q JOIN assign2 a ON a.c_id = q.vec_id
  JOIN ccent cc ON cc.cell = a.cell AND cc.pos = q.pos
),
qres AS MATERIALIZED (
  SELECT q.vec_id, p.cell, q.pos, q.qv - cc.c AS qv
  FROM q JOIN probes2 p ON p.q_id = q.vec_id
  JOIN ccent cc ON cc.cell = p.cell AND cc.pos = q.pos
),
{",".join(rpq_ctes)},
cand2 AS (
  SELECT DISTINCT p.q_id, a.c_id
  FROM probes2 p JOIN assign2 a ON a.cell = p.cell
  WHERE p.q_id <> a.c_id
),
contrib AS MATERIALIZED ({contribs}),
adc AS (SELECT query_id, neighbor_id, SUM(dist)::BIGINT AS adc_dist
        FROM contrib GROUP BY 1, 2)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc)
WHERE rank <= {limit}"""


def _o_ivfpq_build_prefix() -> str:
    """Shared oracle prefix for the IVFADC BUILD gates: coarse kmeans
    chain + cosine cell assignment + integer residuals + residual Lloyd
    chains (no query side)."""
    km = _o_kmeans(k=_IVFPQ_NLIST, iters=2)
    km_ctes = km[len("WITH "):km.rindex("\nSELECT")]
    rpq_ctes, _ = _rpq_chain_ctes(include_query=False)
    return f"""
WITH {km_ctes},
cvec2 AS (
  SELECT label AS cell,
         list(floor(sum_q / n_vecs) / 1000.0 ORDER BY pos) AS vec_cent
  FROM c2 GROUP BY label
),
cellscore AS (
  SELECT e.vec_id, ct.cell,
         list_dot_product(e.embedding::DOUBLE[], ct.vec_cent::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(ct.vec_cent::DOUBLE[], ct.vec_cent::DOUBLE[]))) AS cos_c
  FROM embeddings e CROSS JOIN cvec2 ct WHERE e.embedding IS NOT NULL
),
rankedc AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cell) AS r
  FROM cellscore
),
assign2 AS (SELECT vec_id AS c_id, cell FROM rankedc WHERE r = 1),
ccent AS (SELECT label AS cell, pos, floor(sum_q / n_vecs)::BIGINT AS c
          FROM c2),
resid AS MATERIALIZED (
  SELECT q.vec_id, q.pos, q.qv - cc.c AS qv
  FROM q JOIN assign2 a ON a.c_id = q.vec_id
  JOIN ccent cc ON cc.cell = a.cell AND cc.pos = q.pos
),
{",".join(rpq_ctes)}"""


def _o_ivfpq_codes() -> str:
    """Direct computation of the residual inverted lists: per subspace,
    the final Lloyd assignment joined with the vector's coarse cell."""
    _, iters = _rpq_chain_ctes(include_query=False)
    sel = " UNION ALL ".join(
        f"SELECT a.vec_id, {sp}::BIGINT AS subspace, "
        f"a.label::BIGINT AS code, an.cell::BIGINT AS cell "
        f"FROM ra{sp}_{iters} a JOIN assign2 an ON an.c_id = a.vec_id"
        for sp in range(_RPQ_M)
    )
    return _o_ivfpq_build_prefix() + f"\n{sel}"


def q_ann_ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFADC BUILD end to end: trained coarse cells → integer
    residuals y − q1(y) → residual PQ codebooks (m=32, k=16, 3 Lloyd
    rounds on the residual grid) → (vec_id, subspace, code, cell)
    inverted lists, the exact relation `ann_ivfpq` serves and the
    streaming ingest appends to. The bench cold-times THIS key (the
    whole residual index build) so the serving key's warm number is
    honest. Oracle unrolls the full residual Lloyd chains plus the
    coarse assignment."""
    _, cell_codes, _ = _ivfpq_index(spark, sf_dir)
    return cell_codes.select("vec_id", "subspace", "code", "cell")


# Shortlist depth for the refined IVFADC leg: R = 5×k. Measured on the
# recall grid (tools/recall_report.py): the probed-cell candidate ceiling
# is what bounds ANY rerank depth, and R=50 already closes ADC's metric
# loss against it (recall@10 0.46 → 0.53 = ceiling at nprobe=2, 0.53 →
# 0.72 at the round-6 nprobe=4, sf0.01) for 50 exact cosines per query —
# ~1% of a brute-force scan at sf0.01 and vanishing at scale.
_IVFPQ_RERANK_R = 50


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact rerank — the two-tier serving plan (FAISS
    ``IndexRefineFlat`` over ``IVFPQ``; Jégou et al. TPAMI'11 §V.C):
    the residual-encoded ADC stage ranks each query's probed inverted
    lists and keeps an R=50 shortlist; the refine stage fetches ONLY
    those R raw vectors per query via broadcast hash joins and re-ranks
    by true cosine, top-10. Compressed codes bound the candidate volume
    (never the corpus), the exact pass restores metric fidelity — ADC
    quantization loss no longer costs recall, only the coarse-cell
    candidate ceiling does (RECALL.md holds the measured gap). The
    oracle replays the full ADC chain as its shortlist CTE and the
    same sequential-fold cosine on top."""
    from assemblagedb_spark.operators.pq import (
        ivfpq_adc_topk_residual,
        query_residuals,
    )
    from assemblagedb_spark.operators.similarity import (
        exact_rerank_topk,
        ivf_probes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rbook, cell_codes, coarse = _ivfpq_index(spark, sf_dir)
    state = _trained_kmeans(spark, sf_dir, _IVFPQ_NLIST, 2)
    queries = emb.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0)
    probes = ivf_probes(queries, nprobe=_IVFPQ_PROBE, centroids=state)
    qres = query_residuals(queries, probes, coarse)
    shortlist = ivfpq_adc_topk_residual(
        cell_codes, rbook, qres,
        k=_IVFPQ_RERANK_R, m=_RPQ_M, sub_dim=_RPQ_SUBDIM,
    )
    return exact_rerank_topk(shortlist, emb, k=_PQ_TOPK)


def _o_ann_ivfpq_rerank() -> str:
    """The full IVFADC oracle chain emits the R-deep ADC shortlist as a
    CTE; the refine tail joins both raw vectors back and re-ranks by
    the identical sequential-fold cosine the exact baseline uses."""
    return f"""
WITH shortlist AS MATERIALIZED ({_o_ann_ivfpq(_IVFPQ_RERANK_R)}
),
refined AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
          sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))) AS cos
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings n ON n.vec_id = s.neighbor_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM refined)
WHERE rank <= {_PQ_TOPK}"""


def _await_stream(q, timeout: int = 300) -> None:
    """Drain guard for the streaming gates: ``awaitTermination`` returns
    False on timeout WITHOUT stopping the query — reading the sink then
    races a still-writing stream, and the gates' finally-blocks would
    rmtree the checkpoint under a live query. Stop and raise instead, so
    a slow drain fails loudly rather than grading a partial sink."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise RuntimeError(
            f"streaming gate drain exceeded {timeout}s; query stopped "
            "before the sink was read"
        )


def _stream_shuffle_scope(spark: SparkSession, n_rows: int):
    """Size ``spark.sql.shuffle.partitions`` — and with it the streaming
    state-store instance count and per-micro-batch task count — to the
    actual ingest volume for the duration of a gate's streaming run.

    The streaming gates feed three tiny micro-batches; at the session
    default (32 here, 200 in a vanilla driver session) every trigger
    schedules a full width of state/shuffle tasks plus one checkpoint
    delta file PER STATE PARTITION per batch, and that fixed machinery —
    not data — dominates the gate's wall time. Guarded like the
    repartition helpers: computed from the row count (1 partition per
    ~100k rows, floor 4), NEVER raised above the session setting, and
    always restored — so a genuinely large stream keeps full
    parallelism and the driver's vanilla-session grade takes the same
    bounded state layout. Partition-count invariance of every gate's
    VALUES is separately pinned by the ``--parts=N`` oracle sweep."""
    from contextlib import contextmanager

    @contextmanager
    def scope():
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        fit = max(4, min(int(prev), n_rows // 100_000 + 1))
        if fit >= int(prev):
            yield
            return
        spark.conf.set(key, str(fit))
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return scope()


def q_streaming_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming IVFPQ ingest, gate-checked: the embeddings
    table arrives as THREE parquet files consumed one micro-batch each
    (maxFilesPerTrigger=1, availableNow), each batch residual-encoded by
    streaming.ann.ivfpq_ingest against the session's FROZEN trained
    states; the accumulated sink must equal the direct batch build — the
    oracle is the same residual-chain SQL as `ann_ivfpq_codes`
    (state after N batches ≡ direct computation; the stream is stateless
    by construction, which is exactly what this gate pins)."""
    import shutil
    import tempfile

    from assemblagedb_spark.streaming.ann import ivfpq_ingest

    rbook, _, _ = _ivfpq_index(spark, sf_dir)
    state = _trained_kmeans(spark, sf_dir, _IVFPQ_NLIST, 2)
    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivfpq_ingest_gate_")
    src, sink, ckpt = f"{root}/src", f"{root}/sink", f"{root}/ckpt"
    try:
        # three source files -> three micro-batches
        emb.withColumn("__b", F.pmod(F.col("vec_id"), F.lit(3))) \
            .repartition(3, "__b").drop("__b") \
            .write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(emb.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        with _stream_shuffle_scope(spark, emb.count()):
            q = (
                ivfpq_ingest(stream, rbook, state, m=_RPQ_M, sub_dim=_RPQ_SUBDIM)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q)
        # pin the result in memory so the tmp dir can be removed before
        # the caller collects
        return spark.read.parquet(sink).select(
            "vec_id", "subspace", "code", "cell"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_rollup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming continuous-aggregate maintenance, gate-checked:
    the events table arrives as THREE parquet files consumed one
    micro-batch each (maxFilesPerTrigger=1, availableNow); each batch
    folds only its own rows' finest-level partial into the RollupStore
    (streaming/rollup.py foreachBatch merge — O(batch + state) per batch,
    raw history never rescanned) and the cascade derived AFTER the last
    batch must equal the direct batch computation over all rows — the
    oracle is the same every-level-from-raw SQL as
    `events_rollup_cascade`. Additive (n, sum) merge states compose
    exactly, so state after N batches ≡ one shot; that composability is
    what this gate pins (the TimescaleDB continuous-aggregate refresh
    loop as a Structured Streaming sink)."""
    import shutil
    import tempfile

    from assemblagedb_spark.streaming.rollup import RollupStore, rollup_sink

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rollup_ingest_gate_")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    try:
        # three source files -> three micro-batches (ts arrives as the
        # already-decoded epoch-ns BIGINT, so the reread needs no
        # nanosAsLong handling)
        ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(3))) \
            .repartition(3, "__b").drop("__b") \
            .write.mode("overwrite").parquet(src)
        store = RollupStore(spark, bucket_ns=_CASCADE_LEVELS)
        stream = spark.readStream.schema(ev.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        with _stream_shuffle_scope(spark, ev.count()):
            q = (
                stream.writeStream.foreachBatch(
                    rollup_sink(store, F.round(F.col("value") * 100).cast("long"))
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q)
        # the store state is localCheckpoint-pinned; pin the derived
        # cascade too so the tmp dir can be removed before the collect
        return store.levels().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_hll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming HLL maintenance, gate-checked: the events
    table consumed as THREE micro-batches; each batch computes ITS OWN
    rows' registers (one tiny partial aggregate) and the SketchStore
    MAX-merges them (streaming/sketches.py foreachBatch) — registers are
    replay-safe MAX-mergeable integer state, so the store after N batches
    must equal the one-shot batch sketch bit for bit. The oracle is the
    same register SQL as `distinct_hll`; what this gate pins is the
    mergeability contract the 100 TB rollup story rests on."""
    import shutil
    import tempfile

    from assemblagedb_spark.streaming.sketches import SketchStore, hll_sink

    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="hll_ingest_gate_")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    try:
        ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(3))) \
            .repartition(3, "__b").drop("__b") \
            .write.mode("overwrite").parquet(src)
        store = SketchStore(spark)
        stream = spark.readStream.schema(ev.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        with _stream_shuffle_scope(spark, ev.count()):
            q = (
                stream.writeStream.foreachBatch(
                    hll_sink(store, "user_id", ["event_type"], m=_HLL_M)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q)
        return store.hll().select(
            "event_type", F.col("bucket").cast("long").alias("bucket"),
            "register",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_sessions_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization, gate-checked: events arrive in
    THREE time-ordered micro-batches (ts-range terciles, one file per
    trigger — FileStreamSource drains pending files oldest-first, so the
    per-user event order the state function requires across batches is
    the write order); ``sessionize_stream`` (applyInPandasWithState, O(1)
    state per key) emits every session CLOSED by a later event. A user's
    final session is never closed — no later event arrives — so the
    exact oracle is the batch `events_sessions` SQL minus each user's
    last session. This pins the cross-batch state carry (open sessions
    surviving the micro-batch boundary) against a fully SQL-expressible
    answer."""
    import shutil
    import tempfile

    from assemblagedb_spark.streaming.sessions import sessionize_stream

    # pin the projected events once: the gate runs four jobs over this
    # frame (the range agg + three tercile writes), and re-scanning the
    # parquet per job was pure setup overhead (same localCheckpoint
    # discipline as the round-6 broadcast-ingest fix)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    ).localCheckpoint(eager=True)
    lo, hi, n_rows = ev.agg(F.min("ts"), F.max("ts"), F.count("*")).collect()[0]
    if n_rows == 0:
        # no events -> no sessions (and no ts range to tercile); the
        # oracle's QUALIFY over an empty base is empty too
        uid_t = ev.schema["user_id"].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"user_id {uid_t}, session_idx long, n_events long, "
            "start_ts long, end_ts long",
        )
    c1, c2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
    root = tempfile.mkdtemp(prefix="sessions_ingest_gate_")
    src, sink, ckpt = f"{root}/src", f"{root}/sink", f"{root}/ckpt"
    try:
        # sequential single-file writes -> strictly increasing mod times
        # -> deterministic drain order (time-ordered per user)
        for cond in (
            F.col("ts") <= c1,
            (F.col("ts") > c1) & (F.col("ts") <= c2),
            F.col("ts") > c2,
        ):
            ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(ev.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        with _stream_shuffle_scope(spark, n_rows):
            q = (
                sessionize_stream(stream, gap=_SESSION_GAP_NS)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q)
        return spark.read.parquet(sink).select(
            "user_id", "session_idx", "n_events",
            F.expr("start_ts div 1000").alias("start_ts"),
            F.expr("end_ts div 1000").alias("end_ts"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Watermark boundaries for the broadcast-subscription gate: the export
# window (> _EXPORT_CUTOFF) split into three successive pulls on fixed
# dates, so each episode is exactly one export_since delta and the
# oracle can replay the windowing.
_EPISODE_PULLS = ("1997-03-01", "1998-01-01")


def q_streaming_broadcast_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming broadcast subscription, gate-checked: the
    incremental-export content set (the `export_incremental` relation,
    broadcast.rs:56-68 pub/sub semantics) is published as THREE episode
    directories — successive ``export_since`` pulls windowed on fixed
    mod_ts watermarks — and consumed through the real subscription
    surface (`streaming.broadcast.episode_stream`: checkpointed file
    source, one episode file per micro-batch). The accumulated sink
    after the last batch must equal the direct batch export with each
    node in the episode its watermark window dictates — state after N
    pulls ≡ one-shot export, the per-subscription watermark contract.
    Stateless append (discovery-once is the checkpoint's job), so the
    gate pins exactly-once episode consumption, not Spark aggregation."""
    import shutil
    import tempfile

    from assemblagedb_spark.streaming.broadcast import episode_stream

    c1, c2 = (F.lit(d).cast("timestamp") for d in _EPISODE_PULLS)
    # pin the export once: the subtree-closure join tree would otherwise
    # re-execute for each of the three episode writes (4x with the count)
    tagged = _export_members(spark, sf_dir).withColumn(
        "episode",
        F.when(F.col("mod_ts") <= c1, F.lit("e1"))
        .when(F.col("mod_ts") <= c2, F.lit("e2"))
        .otherwise(F.lit("e3")),
    ).localCheckpoint(eager=True)
    n_rows = tagged.count()
    if n_rows == 0:
        # nothing exported after the cutoff -> no episodes, no state
        return spark.createDataFrame(
            [], "node_id string, root_id string, episode string"
        )
    root = tempfile.mkdtemp(prefix="broadcast_ingest_gate_")
    base, sink, ckpt = f"{root}/pub", f"{root}/sink", f"{root}/ckpt"
    bid = "gate-broadcast"
    try:
        # one single-file nodes dataset per episode (NODES_EPISODE_SCHEMA
        # shape: the export member keyed by node_id, root in text, pull
        # window in layout) -> maxFilesPerTrigger=1 replays each pull as
        # its own micro-batch
        for ep in ("e1", "e2", "e3"):
            tagged.filter(F.col("episode") == ep).select(
                "node_id",
                F.lit("Block").alias("kind"),
                F.col("root_id").alias("text"),
                F.col("episode").alias("layout"),
                F.lit(None).cast("string").alias("style_kind"),
                F.expr("array()").cast("array<string>").alias("styles"),
                F.expr("array()").cast("array<string>").alias("children"),
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{base}/{bid}/episode={ep}/nodes"
            )
        stream = episode_stream(spark, base, bid, max_files_per_trigger=1)
        with _stream_shuffle_scope(spark, n_rows):
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q)
        return spark.read.parquet(sink).select(
            "node_id",
            F.col("text").alias("root_id"),
            F.col("layout").alias("episode"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


O_STREAMING_BROADCAST_INGEST = f"""
WITH roots AS (SELECT c_custkey, 'C' || c_custkey AS root_id FROM customer WHERE c_custkey % 100 = 0),
lines AS (
  SELECT l_orderkey, l_linenumber, MAX(l_shipdate) AS mod_ts
  FROM lineitem GROUP BY l_orderkey, l_linenumber
),
members AS (
  SELECT r.root_id, 'O' || o.o_orderkey AS node_id, o.o_orderdate::TIMESTAMP AS mod_ts
  FROM roots r JOIN orders o ON o.o_custkey = r.c_custkey
  WHERE o.o_orderdate > TIMESTAMP '{_EXPORT_CUTOFF}'
  UNION ALL
  SELECT r.root_id, 'L' || l.l_orderkey || '-' || l.l_linenumber, l.mod_ts::TIMESTAMP
  FROM roots r JOIN orders o ON o.o_custkey = r.c_custkey
  JOIN lines l ON l.l_orderkey = o.o_orderkey
  WHERE l.mod_ts > TIMESTAMP '{_EXPORT_CUTOFF}'
)
SELECT node_id, root_id,
       CASE WHEN mod_ts <= TIMESTAMP '{_EPISODE_PULLS[0]}' THEN 'e1'
            WHEN mod_ts <= TIMESTAMP '{_EPISODE_PULLS[1]}' THEN 'e2'
            ELSE 'e3' END AS episode
FROM members
"""


def _o_streaming_sessions() -> str:
    return f"""
WITH closed_base AS ({O_EVENTS_SESSIONS})
SELECT * FROM closed_base
QUALIFY session_idx < MAX(session_idx) OVER (PARTITION BY user_id)
"""


def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the metric per event_type (the hypertable
    ``time_weight`` aggregate): each sample holds its value until the next
    sample, so the weight is the gap to the successor (last sample carries
    none). Exact integer arithmetic: cents × gap-milliseconds products
    stay far inside int64 and commute, so the result is
    partition-invariant and oracle-replayable. ONE shuffle on event_type
    (lead + aggregate share the partitioning); at 100 TB the same plan
    runs per (type, day) with day-boundary carry rows.

    Output: (event_type, weighted_sum, total_ms, milli_twa) with
    milli_twa = 1000 × Σ(v·gap) / Σ(gap), floor-divided."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    rows = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("(lead(ts) over (partition by event_type order by ts, event_id) - ts) div 1000000")
        .alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    return rows.groupBy("event_type").agg(
        F.sum(F.col("cents") * F.col("gap_ms")).cast("long").alias("weighted_sum"),
        F.sum("gap_ms").cast("long").alias("total_ms"),
        F.expr(
            "CASE WHEN sum(gap_ms) = 0 THEN 0 "
            "ELSE (1000 * sum(cents * gap_ms)) div sum(gap_ms) END"
        ).cast("long").alias("milli_twa"),
    )


O_EVENTS_TWA = """
WITH t AS (
  SELECT event_type, round(value * 100)::BIGINT AS cents,
         (lead(epoch_ns(ts)) OVER (PARTITION BY event_type
                                   ORDER BY epoch_ns(ts), event_id)
          - epoch_ns(ts)) // 1000000 AS gap_ms
  FROM events)
SELECT event_type,
       SUM(cents * gap_ms)::BIGINT AS weighted_sum,
       SUM(gap_ms)::BIGINT AS total_ms,
       (CASE WHEN SUM(gap_ms) = 0 THEN 0
             ELSE (1000 * SUM(cents * gap_ms)) // SUM(gap_ms) END)::BIGINT
           AS milli_twa
FROM t WHERE gap_ms IS NOT NULL
GROUP BY event_type
"""


def q_events_drift_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer sufficient statistics for metric-drift regression per
    event_type: x = event hour since epoch, y = metric cents; the state
    (n, Σx, Σy, Σx², Σxy, Σy²) is everything OLS slope / Pearson r need,
    it MERGES by plain addition (partial aggregation, sketch-style
    re-aggregation up any rollup), and every sum stays far inside int64
    at the graded scales (hours ≈ 5e5, cents ≤ 1e4). The float division
    happens caller-side — the gate compares the exact integer state, the
    same discipline as the centroid/k-means merge states."""
    ev = load_table(spark, sf_dir, "events")
    x = F.expr("ts div 3600000000000").cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    rows = ev.select("event_type", x.alias("x"), y.alias("y"))
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_yy"),
    )


O_EVENTS_DRIFT_STATE = """
WITH t AS (
  SELECT event_type, epoch_ns(ts) // 3600000000000 AS x,
         round(value * 100)::BIGINT AS y
  FROM events)
SELECT event_type, COUNT(*)::BIGINT AS n,
       SUM(x)::BIGINT AS sum_x, SUM(y)::BIGINT AS sum_y,
       SUM(x * x)::BIGINT AS sum_xx, SUM(x * y)::BIGINT AS sum_xy,
       SUM(y * y)::BIGINT AS sum_yy
FROM t GROUP BY event_type
"""


_HIST_WIDTH_CENTS, _HIST_MAX_BIN = 500, 40


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram state of the metric per event_type: bin =
    clamped cents // width. The add-mergeable approximate-quantile
    companion to the exact two-phase path (`events_quantiles`): at 100 TB
    the histogram is one map-side-partial aggregate with a bounded output
    (types × bins), re-aggregates up any rollup, and answers p50/p95
    within a bin width — the trade the exact path refuses. The gate
    compares the integer state itself."""
    ev = load_table(spark, sf_dir, "events")
    # NB: clamp at 0 reconciles the div dialects (Spark div truncates
    # toward zero, DuckDB // floors) — sub-zero cents land in bin 0 in
    # both engines
    b = F.least(
        F.lit(_HIST_MAX_BIN),
        F.greatest(F.lit(0), F.expr(
            f"CAST(round(value * 100) AS BIGINT) div {_HIST_WIDTH_CENTS}"
        )),
    )
    return (
        ev.select("event_type", b.cast("long").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


O_EVENTS_HISTOGRAM = f"""
SELECT event_type,
       LEAST({_HIST_MAX_BIN},
             GREATEST(0, round(value * 100)::BIGINT // {_HIST_WIDTH_CENTS}))::BIGINT
           AS bin,
       COUNT(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""


SPARK_QUERIES = {
    "gram_index": q_gram_index,
    "gram_counts": q_gram_counts,
    "search": q_search,
    "find_symmetric": q_find_symmetric,
    "mvcc_latest": q_mvcc_latest,
    "mvcc_current": q_mvcc_current,
    "mvcc_asof": q_mvcc_asof,
    "mvcc_versions": q_mvcc_versions,
    "mvcc_live_keys": q_mvcc_live_keys,
    "mvcc_last_updated": q_mvcc_last_updated,
    "mvcc_restore": q_mvcc_restore,
    "broadcast_update": q_broadcast_update,
    "view_lineage": q_view_lineage,
    "graph_parents": q_graph_parents,
    "graph_descendants": q_graph_descendants,
    "graph_descendants_links": q_graph_descendants_links,
    "graph_ancestor_path": q_graph_ancestor_path,
    "siblings": q_siblings,
    "overlaps": q_overlaps,
    "overlaps_sparse": q_overlaps_sparse,
    "overlaps_prefix": q_overlaps_prefix,
    "overlaps_incremental": q_overlaps_incremental,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_lsh_pairs": q_dedup_lsh_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash": q_dedup_simhash,
    "dedup_jaccard": q_dedup_jaccard,
    "ann_topk": q_ann_topk,
    "embedding_neardup": q_embedding_neardup,
    "embedding_clusters": q_embedding_clusters,
    "text_stats": q_text_stats,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_lang_ngram": q_text_lang_ngram,
    "text_winnowing": q_text_winnowing,
    "pipeline_filter": q_pipeline_filter,
    "text_chunks": q_text_chunks,
    "text_packing": q_text_packing,
    "text_fingerprint": q_text_fingerprint,
    "events_tumbling": q_events_tumbling,
    "events_rollup": q_events_rollup,
    "events_cube": q_events_cube,
    "events_quantiles": q_events_quantiles,
    "events_moving": q_events_moving,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q18": q_tpch_q18,
    "gram_stats": q_gram_stats,
    "search_topk": q_search_topk,
    "display_class": q_display_class,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_jpeg": q_multimodal_jpeg,
    "multimodal_video": q_multimodal_video,
    "multimodal_gif": q_multimodal_gif,
    "gram_index_delta": q_gram_index_delta,
    "reindex_parents": q_reindex_parents,
    "graph_orphans": q_graph_orphans,
    "events_sessions": q_events_sessions,
    "dedup_minhash_est": q_dedup_minhash_est,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "import_xor": q_import_xor,
    "graph_shared": q_graph_shared,
    "graph_preview": q_graph_preview,
    "ann_lsh_topk": q_ann_lsh_topk,
    "mvcc_compaction": q_mvcc_compaction,
    "graph_cyclic": q_graph_cyclic,
    "graph_components": q_graph_components,
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_blank": q_graph_blank,
    "export_incremental": q_export_incremental,
    "view_sections": q_view_sections,
    "view_tile": q_view_tile,
    "siblings_escalated": q_siblings_escalated,
    "markup_roundtrip": q_markup_roundtrip,
    "text_token_bpe": q_text_token_bpe,
    "events_hopping": q_events_hopping,
    "ann_ivf_topk": q_ann_ivf_topk,
    "events_asof": q_events_asof,
    "events_asof_tolerance": q_events_asof_tolerance,
    "sample_bernoulli": q_sample_bernoulli,
    "sample_stratified": q_sample_stratified,
    "events_range_pairs": q_events_range_pairs,
    "text_decontam": q_text_decontam,
    "pii_scrub": q_pii_scrub,
    "text_repetition": q_text_repetition,
    "select_budget": q_select_budget,
    "training_order": q_training_order,
    "text_boilerplate": q_text_boilerplate,
    "embedding_centroids": q_embedding_centroids,
    "embedding_assign": q_embedding_assign,
    "distinct_hll": q_distinct_hll,
    "distinct_linear": q_distinct_linear,
    "sketch_countmin": q_sketch_countmin,
    "text_tfidf": q_text_tfidf,
    "layout_zorder": q_layout_zorder,
    "kmeans_train": q_kmeans_train,
    "bloom_filter": q_bloom_filter,
    "bloom_semijoin": q_bloom_semijoin,
    "sample_topn": q_sample_topn,
    "sample_mixture": q_sample_mixture,
    "dedup_incremental": q_dedup_incremental,
    "table_profile": q_table_profile,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "text_winnow_pairs": q_text_winnow_pairs,
    "mvcc_diff": q_mvcc_diff,
    "graph_ppr": q_graph_ppr,
    "sample_group_topn": q_sample_group_topn,
    "ann_ivf_trained": q_ann_ivf_trained,
    "text_outliers": q_text_outliers,
    "sketch_join_est": q_sketch_join_est,
    "crossmodal_centroids": q_crossmodal_centroids,
    "sample_repeat": q_sample_repeat,
    "events_outliers_grouped": q_events_outliers_grouped,
    "dedup_lsh_verify": q_dedup_lsh_verify,
    "dedup_containment": q_dedup_containment,
    "split_assign": q_split_assign,
    "select_best_group": q_select_best_group,
    "graph_bfs_depth": q_graph_bfs_depth,
    "text_chunk_dedup": q_text_chunk_dedup,
    "text_surprisal": q_text_surprisal,
    "events_rollup_cascade": q_events_rollup_cascade,
    "embedding_quantize": q_embedding_quantize,
    "ann_pq_codes": q_ann_pq_codes,
    "sketch_rollup": q_sketch_rollup,
    "graph_kcore": q_graph_kcore,
    "sample_weighted": q_sample_weighted,
    "ann_pq_adc": q_ann_pq_adc,
    "events_twa": q_events_twa,
    "events_drift_state": q_events_drift_state,
    "events_histogram": q_events_histogram,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_ivfpq_codes": q_ann_ivfpq_codes,
    "streaming_ivfpq_ingest": q_streaming_ivfpq_ingest,
    "streaming_rollup_ingest": q_streaming_rollup_ingest,
    "streaming_hll_ingest": q_streaming_hll_ingest,
    "streaming_sessions_ingest": q_streaming_sessions_ingest,
    "streaming_broadcast_ingest": q_streaming_broadcast_ingest,
    "ann_ivfpq_rerank": q_ann_ivfpq_rerank,
    "dedup_lsh_capped": q_dedup_lsh_capped,
}

ORACLES = {
    "gram_index": O_GRAM_INDEX,
    "gram_counts": O_GRAM_COUNTS,
    "search": O_SEARCH,
    "find_symmetric": O_FIND_SYMMETRIC,
    "mvcc_latest": O_MVCC_LATEST,
    "mvcc_current": O_MVCC_CURRENT,
    "mvcc_asof": O_MVCC_ASOF,
    "mvcc_versions": O_MVCC_VERSIONS,
    "mvcc_live_keys": O_MVCC_LIVE_KEYS,
    "mvcc_last_updated": O_MVCC_LAST_UPDATED,
    "mvcc_restore": O_MVCC_RESTORE,
    "broadcast_update": O_BROADCAST_UPDATE,
    "view_lineage": O_VIEW_LINEAGE,
    "graph_parents": O_GRAPH_PARENTS,
    "graph_descendants": O_GRAPH_DESCENDANTS,
    "graph_descendants_links": O_GRAPH_DESCENDANTS_LINKS,
    "graph_ancestor_path": O_GRAPH_ANCESTOR_PATH,
    "siblings": O_SIBLINGS,
    "overlaps": O_OVERLAPS,
    "overlaps_sparse": O_OVERLAPS,
    "overlaps_prefix": O_OVERLAPS_PREFIX,
    "overlaps_incremental": O_OVERLAPS_INCREMENTAL,
    "dedup_exact": O_DEDUP_EXACT,
    "dedup_minhash_sig": O_DEDUP_MINHASH_SIG,
    "dedup_lsh_pairs": O_DEDUP_LSH_PAIRS,
    "dedup_clusters": O_DEDUP_CLUSTERS,
    "dedup_simhash": O_DEDUP_SIMHASH,
    "dedup_jaccard": O_DEDUP_JACCARD,
    "ann_topk": O_ANN_TOPK,
    "embedding_neardup": O_EMBEDDING_NEARDUP,
    "embedding_clusters": O_EMBEDDING_CLUSTERS,
    "text_stats": O_TEXT_STATS,
    "text_quality": _o_text_quality(),
    "text_lang_id": _o_text_lang_id(),
    "text_lang_ngram": _o_text_lang_ngram(),
    "text_winnowing": O_TEXT_WINNOWING,
    "pipeline_filter": _o_pipeline_filter(),
    "text_chunks": O_TEXT_CHUNKS,
    "text_packing": O_TEXT_PACKING,
    "text_fingerprint": O_TEXT_FINGERPRINT,
    "events_tumbling": O_EVENTS_TUMBLING,
    "events_rollup": O_EVENTS_ROLLUP,
    "events_cube": O_EVENTS_CUBE,
    "events_quantiles": O_EVENTS_QUANTILES,
    "events_moving": O_EVENTS_MOVING,
    "tpch_q1": O_TPCH_Q1,
    "tpch_q3": O_TPCH_Q3,
    "tpch_q5": O_TPCH_Q5,
    "tpch_q6": O_TPCH_Q6,
    "tpch_q18": O_TPCH_Q18,
    "gram_stats": O_GRAM_STATS,
    "search_topk": O_SEARCH_TOPK,
    "display_class": O_DISPLAY_CLASS,
    "multimodal_meta": O_MULTIMODAL_META,
    "multimodal_frames": O_MULTIMODAL_FRAMES,
    "multimodal_decode": O_MULTIMODAL_DECODE,
    "multimodal_resize": O_MULTIMODAL_RESIZE,
    "multimodal_audio": O_MULTIMODAL_AUDIO,
    "multimodal_jpeg": O_MULTIMODAL_JPEG,
    "multimodal_video": O_MULTIMODAL_VIDEO,
    "multimodal_gif": O_MULTIMODAL_GIF,
    "gram_index_delta": O_GRAM_INDEX_DELTA,
    "reindex_parents": O_REINDEX_PARENTS,
    "graph_orphans": O_GRAPH_ORPHANS,
    "events_sessions": O_EVENTS_SESSIONS,
    "dedup_minhash_est": O_DEDUP_MINHASH_EST,
    "dedup_simhash_pairs": O_DEDUP_SIMHASH_PAIRS,
    "import_xor": O_IMPORT_XOR,
    "graph_shared": O_GRAPH_SHARED,
    "graph_preview": O_GRAPH_PREVIEW,
    "ann_lsh_topk": O_ANN_LSH_TOPK,
    "mvcc_compaction": O_MVCC_COMPACTION,
    "graph_cyclic": O_GRAPH_CYCLIC,
    "graph_components": O_GRAPH_COMPONENTS,
    "graph_pagerank": O_GRAPH_PAGERANK,
    "graph_triangles": _o_graph_triangles(),
    "graph_blank": O_GRAPH_BLANK,
    "export_incremental": O_EXPORT_INCREMENTAL,
    "view_sections": O_VIEW_SECTIONS,
    "view_tile": O_VIEW_TILE,
    "siblings_escalated": O_SIBLINGS_ESCALATED,
    "markup_roundtrip": O_MARKUP_ROUNDTRIP,
    "text_token_bpe": O_TEXT_TOKEN_BPE,
    "events_hopping": O_EVENTS_HOPPING,
    "ann_ivf_topk": O_ANN_IVF_TOPK,
    "events_asof": O_EVENTS_ASOF,
    "events_asof_tolerance": O_EVENTS_ASOF_TOLERANCE,
    "sample_bernoulli": _o_samples()[0],
    "sample_stratified": _o_samples()[1],
    "events_range_pairs": O_EVENTS_RANGE_PAIRS,
    "text_decontam": O_TEXT_DECONTAM,
    "pii_scrub": O_PII_SCRUB,
    "text_repetition": O_TEXT_REPETITION,
    "select_budget": O_SELECT_BUDGET,
    "training_order": O_TRAINING_ORDER,
    "text_boilerplate": O_TEXT_BOILERPLATE,
    "embedding_centroids": O_EMBEDDING_CENTROIDS,
    "embedding_assign": O_EMBEDDING_ASSIGN,
    "distinct_hll": O_DISTINCT_HLL,
    "distinct_linear": O_DISTINCT_LINEAR,
    "sketch_countmin": O_SKETCH_COUNTMIN,
    "text_tfidf": O_TEXT_TFIDF,
    "layout_zorder": _o_layout_zorder(),
    "kmeans_train": _o_kmeans(),
    "bloom_filter": _o_bloom(),
    "bloom_semijoin": O_BLOOM_SEMIJOIN,
    "sample_topn": O_SAMPLE_TOPN,
    "sample_mixture": _o_mixture(),
    "dedup_incremental": O_DEDUP_INCREMENTAL,
    "table_profile": _o_profile(),
    "events_funnel": O_EVENTS_FUNNEL,
    "events_retention": O_EVENTS_RETENTION,
    "text_winnow_pairs": O_TEXT_WINNOW_PAIRS.format(
        winnow=O_TEXT_WINNOWING.strip()
    ),
    "mvcc_diff": O_MVCC_DIFF,
    "graph_ppr": O_GRAPH_PPR,
    "sample_group_topn": O_SAMPLE_GROUP_TOPN,
    "ann_ivf_trained": _o_ivf_trained(),
    "text_outliers": O_TEXT_OUTLIERS,
    "sketch_join_est": _o_join_est(),
    "crossmodal_centroids": O_CROSSMODAL_CENTROIDS,
    "sample_repeat": _o_repeat(),
    "events_outliers_grouped": O_EVENTS_OUTLIERS_GROUPED,
    "dedup_lsh_verify": O_DEDUP_LSH_VERIFY,
    "dedup_containment": O_DEDUP_CONTAINMENT,
    "split_assign": _o_split_assign(),
    "select_best_group": O_SELECT_BEST_GROUP,
    "graph_bfs_depth": O_GRAPH_BFS_DEPTH,
    "text_chunk_dedup": O_TEXT_CHUNK_DEDUP,
    "text_surprisal": O_TEXT_SURPRISAL,
    "events_rollup_cascade": _o_rollup_cascade(),
    "embedding_quantize": O_EMBEDDING_QUANTIZE,
    "ann_pq_codes": _o_pq_codes(),
    "sketch_rollup": _o_sketch_rollup(),
    "graph_kcore": _o_graph_kcore(),
    "sample_weighted": _o_sample_weighted(),
    "ann_pq_adc": _o_pq_adc(),
    "events_twa": O_EVENTS_TWA,
    "events_drift_state": O_EVENTS_DRIFT_STATE,
    "events_histogram": O_EVENTS_HISTOGRAM,
    "ann_ivfpq": _o_ann_ivfpq(),
    "ann_ivfpq_codes": _o_ivfpq_codes(),
    "streaming_ivfpq_ingest": _o_ivfpq_codes(),
    "streaming_rollup_ingest": _o_rollup_cascade(),
    "streaming_hll_ingest": O_DISTINCT_HLL,
    "streaming_sessions_ingest": _o_streaming_sessions(),
    "streaming_broadcast_ingest": O_STREAMING_BROADCAST_INGEST,
    "ann_ivfpq_rerank": _o_ann_ivfpq_rerank(),
    "dedup_lsh_capped": O_DEDUP_LSH_CAPPED,
}


# ---------------------------------------------------------------------------
# Driver grading order (mechanical; no hand-picked windows)
# ---------------------------------------------------------------------------
# SPARK_QUERIES / ORACLES keep DECLARATION order for every in-repo consumer
# (tests, tools, bench) and are never mutated. The external driver grades
# only the FIRST 50 entries of the exported ``queries()`` dict each round,
# so ``__spark_entry__`` orders its EXPORT by :func:`grading_order` — a
# pure function of the committed grading ledger (CORRECTNESS_r*.json):
#   1. queries never driver-graded, or whose gate semantics changed after
#      their last grade (``_GATE_CHANGED_IN_ROUND``), in declaration order;
#   2. everything else, least-recently-graded first, declaration order as
#      the tiebreak.
# New or changed gates therefore CANNOT be left out of the next driver
# grade, and no round's window is hand-picked (round-3 review finding —
# the previous explicit window list steered what the grader saw). The
# human-readable ledger narrative stays in ROTATION.md.

# gate-semantics changes (Spark query OR oracle side) -> round they landed
# in; such a query sorts as ungraded until the driver re-grades it.
#
# As of round 5 this dict is a FROZEN HISTORICAL RECORD plus emergency
# override: new changes are detected mechanically by fingerprint drift
# (see :func:`gate_fingerprint` / GATE_FINGERPRINTS.json) — the manual
# entry was the weak link (round-4 review finding: a forgotten entry
# silently demoted a changed gate out of the next driver window, and
# round-granular comparison missed same-round edits after a grading run).
_GATE_CHANGED_IN_ROUND = {
    "sample_mixture": 4,   # exact-rational permille pin (Fraction/HUGEINT)
    "sample_repeat": 4,    # exact-rational permille pin (Fraction/HUGEINT)
    "graph_bfs_depth": 4,  # max_depth=2 pinned to the oracle's d0..d2
    "dedup_clusters": 4,       # CC step switched to union-find contraction
    "embedding_clusters": 4,   # CC + hyperplane mixer fix (see below)
    # degenerate LCG-parity hyperplanes replaced by the mix32 mixer (the
    # old sketch had only TWO distinct hyperplanes at any bit width —
    # LSH candidates were parity classes); oracles rebuilt symmetrically
    "ann_lsh_topk": 4,
    "embedding_neardup": 4,
    # simhash per-gram hash switched affine-mod-(2^31-1) → mix32: the old
    # hash left fingerprint bit 31 permanently zero (a dead band slice)
    "dedup_simhash": 4,
    "dedup_simhash_pairs": 4,
}


def _graded_rounds(repo_root: str | None = None) -> dict[str, int]:
    """query name -> latest round with a driver grading row (green or
    red), read from the committed CORRECTNESS_r*.json artifacts."""
    import glob
    import json
    import os
    import re

    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        # fail LOUDLY on a corrupt or unexpectedly-shaped ledger file: a
        # silent skip would drop a whole round's grades and quietly
        # rewrite the driver window (the exact failure mode this
        # mechanism exists to prevent)
        with open(path) as fh:
            rows = json.load(fh)
        if not isinstance(rows, dict):
            raise ValueError(
                f"{path}: grading ledger must be a JSON object of "
                f"query-name -> result rows, got {type(rows).__name__}"
            )
        for name in rows:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _gate_source(fn, _seen: set | None = None) -> str:
    """The query function's source PLUS, transitively, the source of
    every private harness-module helper it calls (``_``-prefixed
    module-level functions, e.g. ``_export_members``, ``_ivfpq_index``).
    Round-6 review finding: hashing only the wrapper's own text lets a
    refactor that extracts a gate body into a helper silently park the
    gate's semantics OUTSIDE the fingerprint — a later edit to the
    helper would no longer flip the fingerprint or force a re-grade.
    Public harness functions (load_table, the q_* gates) and other
    modules stay excluded: operators are pinned by their own parity
    suites, and the fingerprint identifies the GATE definition."""
    import inspect

    if _seen is None:
        _seen = set()
    if fn.__name__ in _seen:
        return ""
    _seen.add(fn.__name__)
    src = inspect.getsource(fn)
    g = fn.__globals__
    for nm in sorted(set(fn.__code__.co_names)):
        helper = g.get(nm)
        if (
            nm.startswith("_")
            and inspect.isfunction(helper)
            and getattr(helper, "__module__", None) == fn.__module__
            and nm not in _seen
        ):
            src += "\x00" + _gate_source(helper, _seen)
    return src


def gate_fingerprint(name: str) -> str:
    """Checkable identity of a gate's semantics: sha256 over the RENDERED
    DuckDB oracle SQL (all tuning constants baked in at render time, so a
    constant retune flags even when no source line under the query
    function changed) plus the Spark query function's source text AND
    the source of every private harness helper it calls
    (:func:`_gate_source` — closes the extract-to-helper hole).

    Used by the committed GATE_FINGERPRINTS.json ledger
    (tools/update_gate_fingerprints.py): any drift between a gate's
    current fingerprint and its stored one is a gate change the next
    driver window must re-grade — and tests/test_grading_order.py fails
    until the ledger is refreshed, so a change CANNOT be forgotten
    (round-4 review finding: the manual change dict rested on developer
    discipline). Conservative by design: a docstring-only edit — to the
    gate or a private helper under it — also flags; a spurious re-grade
    costs one window slot, a missed real change silently invalidates the
    ledger. Scheme migrations re-key the ledger WITHOUT bumping rounds
    (tools/update_gate_fingerprints.py --rekey), since a hash-input
    change is not a semantic change."""
    import hashlib

    src = _gate_source(SPARK_QUERIES[name])
    sql = ORACLES.get(name, "")
    return hashlib.sha256(
        (sql + "\x00" + src).encode("utf-8")
    ).hexdigest()[:16]


def _fingerprint_changed_rounds(repo_root: str | None = None) -> dict[str, int]:
    """query name -> round its stored fingerprint was last refreshed,
    from the committed GATE_FINGERPRINTS.json (absent file = empty:
    the bootstrap state, where only the frozen manual dict applies)."""
    import json
    import os

    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    path = os.path.join(root, "GATE_FINGERPRINTS.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        data = json.load(fh)
    if not isinstance(data, dict):
        raise ValueError(
            f"{path}: fingerprint ledger must be a JSON object, got "
            f"{type(data).__name__}"
        )
    return {k: int(v["round"]) for k, v in data.items() if k in SPARK_QUERIES}


def grading_order(repo_root: str | None = None) -> list[str]:
    """Deterministic least-recently-driver-graded export order for
    ``__spark_entry__.queries()`` (see block comment above)."""
    unknown = set(_GATE_CHANGED_IN_ROUND) - set(SPARK_QUERIES)
    if unknown:
        # a typo'd or renamed entry would silently fail to promote the
        # changed gate into the next driver window — fail loudly instead
        # (the same guarantee the old explicit window list enforced)
        raise KeyError(
            f"_GATE_CHANGED_IN_ROUND names unknown queries: {sorted(unknown)}"
        )
    graded = _graded_rounds(repo_root)
    fp_rounds = _fingerprint_changed_rounds(repo_root)
    decl = {name: i for i, name in enumerate(SPARK_QUERIES)}

    def key(name: str) -> tuple[int, int]:
        last = graded.get(name, 0)
        changed = max(
            _GATE_CHANGED_IN_ROUND.get(name, 0), fp_rounds.get(name, 0)
        )
        if changed > last:
            last = 0
        return (last, decl[name])

    return sorted(SPARK_QUERIES, key=key)
