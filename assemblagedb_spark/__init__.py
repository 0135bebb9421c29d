"""assemblagedb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ``fkettelhoit/assemblagedb``.

The reference (read at ``/root/reference/``) is a single-node, versioned
document/graph database with a byte-4-gram similarity index. This package
re-expresses those capabilities — plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing) — as
idiomatic Spark DataFrame programs designed for 100 TB scale:

- ``schema``     table schemas (nodes/edges per SURVEY §1.3)
- ``session``    SparkSession factory with scale-tuned defaults
- ``sources``    parquet table loaders + graph construction + episode export/import
- ``functions``  pure Catalyst column expressions (gram index, xor ids, hashes)
- ``operators``  the operator inventory: mvcc, grams, search, overlaps,
                 traversal, dedup, similarity, textstats, multimodal
- ``views``      linearization (spans/sections/tile) + markup
- ``streaming``  Structured Streaming episode subscription
- ``plans``      explain/plan inspection helpers
"""

__version__ = "0.1.0"
