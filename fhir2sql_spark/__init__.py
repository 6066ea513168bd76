"""fhir2sql_spark — a PySpark-native analytics/ETL engine.

Re-expresses the capabilities of the reference sync daemon
(samply/fhir2sql, /root/reference/src/main.rs) as idiomatic Spark
DataFrame plans, plus the relational / streaming / LLM-data-pipeline
operator surface declared in SURVEY.md §2.3.

Layout:
  session   — tuned SparkSession builder (local testing; cluster-safe confs)
  tables    — parquet table loader for the synthetic star schema
  registry  — query registry powering __spark_entry__.py
  queries/  — one module per operator category (each registers queries)
  operators/— custom operators (as-of join, dedup, similarity, text)
  sources/  — paginated REST bundle source, bundle-file DataSource
  sinks/    — JDBC upsert/delete sink (the reference's write path)
  sync/     — the version-diff CDC engine + full sync pipeline
  streaming/— Structured Streaming harness (file source, watermarks)
"""

__version__ = "0.1.0"
