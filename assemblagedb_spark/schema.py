"""Table schemas — the normalized Spark data model of the reference's graph.

Mapping (SURVEY §1.3; reference ``assemblage_db/src/data.rs:188-508``):
the nested ``Node`` sum type (Text | List(Chain|Page) | Styled) is normalized
into an append-only ``nodes`` table plus an ordered ``edges`` containment
table; MVCC versions are rows (never overwritten), tombstones are
``is_removed`` flags, and "current state" is a rank-1-per-key window.

At 100 TB these tables would be stored bucketed by their join key
(``node_id`` for nodes/edges-by-parent, ``gram`` for the inverted index) so
the hot joins (postings lookup, parent/child navigation) are co-located and
shuffle-free; see operators' docstrings.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Root node id: the reference uses the nil UUID (data.rs:60-74).
ROOT_ID = "00000000-0000-0000-0000-000000000000"

NODES = T.StructType(
    [
        T.StructField("node_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'text' | 'list' | 'styled'
        T.StructField("text", T.StringType(), True),  # iff kind='text'; no '\n'
        T.StructField("layout", T.StringType(), True),  # 'chain' | 'page' iff list
        T.StructField("style_kind", T.StringType(), True),  # 'block' | 'span'
        T.StructField("styles", T.ArrayType(T.StringType()), True),
        T.StructField("ts", T.LongType(), False),  # commit timestamp (ms)
        T.StructField("is_removed", T.BooleanType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("parent_id", T.StringType(), False),
        T.StructField("child_id", T.StringType(), False),
        T.StructField("idx", T.IntegerType(), False),  # 0-based child position
        T.StructField("ts", T.LongType(), False),
        T.StructField("is_removed", T.BooleanType(), False),
    ]
)
