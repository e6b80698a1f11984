"""kcbdml9_big_data_processing_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference repo jorge-melgosa/KCBDML9_big-data-processing (a Scala
Spark 2.4 lambda architecture for mobile-antenna telemetry; see
SURVEY.md), generalized into a parameterized operator library:

- ``session``    — SparkSession factory tuned for local + cluster use
- ``schemas``    — canonical schemas (device messages, metrics, testdata)
- ``sources``    — parquet / JDBC / Kafka / file-stream readers
- ``sinks``      — JDBC and partitioned-parquet writers (batch)
- ``operators``  — DataFrame→DataFrame operator vocabulary
  (windowed sums, enrichment joins, quota reports, dedup,
  similarity search, text analysis)
- ``functions``  — reusable Column-expression builders
- ``plans``      — physical-plan inspection helpers (pushdown /
  broadcast / codegen assertions for tests)
- ``store``      — crash-safe commit store (append-only meta logs,
  index generations, writer locks)
- ``streaming``  — Structured Streaming jobs and sinks (speed layer)
- ``queries``    — the named query registry consumed by
  ``__spark_entry__.py`` (each query paired with a DuckDB oracle)

Everything is built on the public Apache Spark DataFrame/SQL API;
Catalyst/Tungsten does the planning and execution.
"""

__version__ = "0.1.0"
