"""mozart_etl_spark — a PySpark-native analytics/ETL engine.

A from-scratch reimplementation of the capability surface of
bong2jjang/mozart-ETL (multi-tenant ELT: RDB extract -> Parquet/S3 ->
lakehouse raw tables -> SQL staging/mart models), re-architected for
Apache Spark: declarative DataFrame/Spark SQL plans, Catalyst
optimization, distributed partitioned IO, and beyond-reference
large-scale data-pipeline operators (dedup, similarity, text analysis,
multimodal columns).

Package map
-----------
- ``session``    SparkSession factory (AQE, UTC, Arrow defaults)
- ``io``         testdata/table loaders (incl. ns-timestamp handling)
- ``querybank``  registry of named queries + DuckDB oracle SQL
- ``config``     tenant.yaml parsing and ${VAR:default} resolution
- ``pipeline``   tenant run: extract -> load strategy -> cursor -> models
- ``plans``      Jinja-subset SQL renderer + model DAG runner
- ``sources``    JDBC/Parquet source builders (postgres/mysql/oracle)
- ``writers``    full-replace / truncate-reload / merge-upsert / append
- ``cursor``     incremental high-watermark cursor store
- ``jobpool``    bounded thread pool for concurrent Spark jobs
- ``streaming``  file-source streams, availableNow drains, merge sink
- ``operators``  dedup / similarity / text / multimodal transformers
"""

__version__ = "0.1.0"
