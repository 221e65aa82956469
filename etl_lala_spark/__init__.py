"""etl_lala_spark — a PySpark-native analytics/ETL engine.

A brand-new engine with the query and data-processing capabilities of the
reference ETL orchestrator (Luan-Fernandes/etl-lala, surveyed in SURVEY.md),
re-expressed idiomatically on Apache Spark: DataFrame/SQL on Catalyst for
batch, Structured Streaming for incremental/streaming loads, plus
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Package layout
--------------
- ``session``    SparkSession factory with scale-aware defaults
- ``io``         table loading over the parquet star schema
- ``sources/``   manifest/catalog building, archive + binary ingestion,
                 DBC/DBF decode interface, NDJSON tagged-union reader
                 (reference S1-S10, SURVEY.md §2.1)
- ``sinks/``     dynamic table creation, idempotent month-partitioned upsert,
                 JSON sink + run manifest (reference S11-S12, T5)
- ``functions/`` scalar function surface (reference §2.8)
- ``operators/`` relational extensions (as-of/range join, top-k), dedup,
                 similarity search, text analysis, multimodal columns
- ``streaming/`` the stride-progress ``applyInPandasWithState`` operator and
                 the memory-sink driver the stream twins run on (reference §2.9)
- ``plans/``     the named-query registry: every operator exposed as a
                 (spark, sf_dir) -> DataFrame callable with a DuckDB oracle
"""

__version__ = "0.1.0"

from etl_lala_spark.session import get_spark  # noqa: F401
