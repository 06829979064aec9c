"""PySpark-native ELT/analytics engine.

A from-scratch rebuild of the capabilities of the reference e-commerce ETL
pipeline (paginated REST extract -> nested-JSON flatten -> guarded keyed
upsert into a staging warehouse), re-expressed Spark-first:

- ``schemas``    declared StructTypes for raw payloads + staging tables
- ``functions``  null-safe coercion kernel (one SQL-text definition per coercion)
- ``operators``  dedup modes, guarded keyed upsert writer, flatten helpers
- ``sources``    parquet/json readers + paginated API source adapters
- ``transforms`` per-source nested->relational transforms
- ``plans``      analytics query surface (load stats, row counts, TPC-H-ish)
- ``streaming``  incremental micro-batch driver (foreachBatch keyed upsert)
- ``extensions`` LLM-data-pipeline ops: dedup (exact/minhash/simhash),
                 similarity search, text analysis, multimodal columns
"""

__version__ = "0.1.0"
