"""facolos_data_pipelines_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference ELT pipeline (NguyenVuDataMind/facolos-data-pipelines):
ingest -> flatten/conform -> typed relational staging -> incremental /
dedup / upsert load -> statistics & data-quality queries -> scheduled
micro-batch cycles — re-expressed Spark-first (DataFrame/SQL/Catalyst/
Structured Streaming), plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Layout:
    session     — tuned SparkSession builder for local + cluster
    eager       — the one localCheckpoint choke point (plan-only mode,
                  row counts observed on the checkpoint)
    catalog     — declared staging StructType schemas + table registry
    operators   — conform (flatten/cast), dedup, similarity, text,
                  multimodal, merge, incremental
    sources     — paginated-REST-shaped ingest, file IO wrappers
    quality     — stats/validation gates and the cycle monitor
    streaming   — Structured Streaming micro-batch pipelines
    pipelines   — batch cycle/backfill runner with control log
"""

__version__ = "0.1.0"
