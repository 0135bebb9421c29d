"""Harness testdata loaders + the derived graph.

Tables (``/root/repo/TESTDATA.md``): region nation customer supplier part
orders lineitem events documents embeddings, one parquet each per SF dir.

The TPC-H-ish foreign-key hierarchy doubles as a real graph for the traversal
operators (SURVEY §2.2/2.3): region ← nation ← {customer, supplier},
customer ← orders ← lineitem. Node ids are prefixed strings ("R0", "N3",
"C17", "O42", "L42-3") so one edges table holds the whole heterogeneous
graph — the same shape as the reference's id-linked ``Parents`` slot.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to epoch-nanosecond BIGINT — the
    engine treats commit timestamps as integers, mirroring the reference's
    u64 ms timestamps (kv timestamp.rs:24-30). Handles both physical
    encodings the driver has produced: parquet nanos (read raw via the
    legacy conf) and plain µs TIMESTAMP (converted to nanos)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not isinstance(df.schema["ts"].dataType, LongType):
        # NTZ values are naive datetimes; pin the session timezone so the
        # NTZ->TIMESTAMP cast reads them as UTC (matching DuckDB epoch_ns)
        # even under a vanilla driver session that never saw session.py.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def graph_edges(spark: SparkSession, sf_dir: str, include_lineitem: bool = True) -> DataFrame:
    """Containment edges (parent_id, child_id, idx) over the FK hierarchy.

    ``idx`` is the ordinal of the child within its parent (nationkey within
    region, custkey within nation, ...) so sibling operators have a defined
    order, mirroring the reference's ordered children
    (``assemblage_db/src/data.rs:451-458``).
    """
    t = load_tables(
        spark, sf_dir, ("nation", "customer", "supplier", "orders") + (("lineitem",) if include_lineitem else ())
    )
    parts = [
        t["nation"].select(
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent_id"),
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("child_id"),
            F.col("n_nationkey").cast("int").alias("idx"),
        ),
        t["customer"].select(
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("parent_id"),
            F.concat(F.lit("C"), F.col("c_custkey")).alias("child_id"),
            F.col("c_custkey").cast("int").alias("idx"),
        ),
        t["supplier"].select(
            F.concat(F.lit("N"), F.col("s_nationkey")).alias("parent_id"),
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("child_id"),
            F.col("s_suppkey").cast("int").alias("idx"),
        ),
        t["orders"].select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("parent_id"),
            F.concat(F.lit("O"), F.col("o_orderkey")).alias("child_id"),
            F.col("o_orderkey").cast("int").alias("idx"),
        ),
    ]
    if include_lineitem:
        # lineitem contains duplicate (orderkey, linenumber) pairs; graph
        # identity is the synthesized id, so duplicate edges collapse. Only
        # this slice needs the dedup shuffle — the FK parts above are unique
        # by construction (child ids are table PKs), so deduping the whole
        # union would shuffle every edge for nothing.
        parts.append(
            t["lineitem"].select(
                F.concat(F.lit("O"), F.col("l_orderkey")).alias("parent_id"),
                F.concat(F.lit("L"), F.col("l_orderkey"), F.lit("-"), F.col("l_linenumber")).alias("child_id"),
                F.col("l_linenumber").cast("int").alias("idx"),
            ).distinct()
        )
    return reduce(DataFrame.unionByName, parts)


def duckdb_graph_edges_cte(include_lineitem: bool = True) -> str:
    """DuckDB CTE body producing the identical edges relation (oracle side)."""
    parts = [
        "SELECT 'R' || n_regionkey AS parent_id, 'N' || n_nationkey AS child_id, n_nationkey::INT AS idx FROM nation",
        "SELECT 'N' || c_nationkey, 'C' || c_custkey, c_custkey::INT FROM customer",
        "SELECT 'N' || s_nationkey, 'S' || s_suppkey, s_suppkey::INT FROM supplier",
        "SELECT 'C' || o_custkey, 'O' || o_orderkey, o_orderkey::INT FROM orders",
    ]
    if include_lineitem:
        parts.append(
            "SELECT 'O' || l_orderkey, 'L' || l_orderkey || '-' || l_linenumber, l_linenumber::INT FROM lineitem"
        )
    return "SELECT DISTINCT * FROM (" + " UNION ALL ".join(parts) + ")"
