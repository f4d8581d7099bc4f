"""privacy_cdc_lakehouse_spark — a PySpark-native privacy-aware CDC lakehouse engine.

A from-scratch rebuild of the capabilities of the reference repo
``herrdevarsh/privacy-cdc-lakehouse`` (PostgreSQL → Debezium → Kafka →
Spark → Iceberg → Trino), re-expressed Spark-first:

- Medallion pipeline (bronze raw CDC → silver latest-state → privacy
  projection) on a Parquet-backed lake table layer with MERGE semantics
  (``tables.py``).
- The analytic query surface (joins, aggregations, windows, set ops)
  as plain DataFrame/SQL plans optimized by Catalyst + AQE.
- Structured Streaming ingestion with ``foreachBatch`` merge, watermarks
  and event-time dedup (``streaming/``).
- Large-scale training-data pipeline operators: dedup (exact, MinHash-LSH,
  SimHash, n-gram Jaccard, embedding cosine), similarity search, text
  analysis, multimodal column plumbing (``operators/``).

Designed for a 1000-executor cluster at ~100 TB; tested on local[*] at
small scale factors. See DESIGN.md for the scale rationale per operator.
"""

from privacy_cdc_lakehouse_spark.session import get_spark, session_builder

__all__ = ["get_spark", "session_builder"]
__version__ = "0.1.0"
