"""datastore_mapper_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of ``CaptainCodeman/datastore-mapper``.

The reference is a Go App Engine map-only sharded ETL framework
(Datastore -> GCS/BigQuery).  This engine re-expresses that surface —
sharded scans, filtered/projection scans, per-entity map, counters,
rolled file output, checkpointed slices — as idiomatic PySpark
DataFrame/SQL plans, and adds the relational analytics surface the
reference delegated to BigQuery (joins, aggregation, windows, set ops)
plus LLM-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns).  See SURVEY.md for the full capability
map; note /root/reference was empty at survey time, so reference loci
are reconstructed from public knowledge (SURVEY.md §0).

Layout:
  session.py   — SparkSession factory with the non-negotiable confs
  catalog.py   — schema-on-read loader for the test tables (nanos ts fix)
  registry.py  — QuerySpec registry backing __spark_entry__.py
  queries/     — the SURVEY §2.B contract queries (Spark + DuckDB oracle)
  operators/   — reusable LLM-pipeline operators (dedup, knn, text, media)
  sources/     — readers/writers (rolled output ≙ reference output.go)
  streaming/   — Structured Streaming demos (watermark, stateful dedup)
  _zipguard.py — stops Python workers re-reading pyspark.zip per task
"""

from datastore_mapper_spark import _zipguard

_zipguard.install()

__version__ = "0.1.0"
