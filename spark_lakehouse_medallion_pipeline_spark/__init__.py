"""spark_lakehouse_medallion_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference
Customer-360 medallion pipeline (AndrewSillifant/spark-lakehouse-medallion-pipeline,
surveyed in SURVEY.md), re-expressed Spark-first:

- ``session``            SparkSession factory (AQE on, UTC, tuned for scale)
- ``sources.io``         parquet / managed-table writers (Delta-gated), local
                         maintenance, clustered layouts, snapshot tables
- ``medallion``          deterministic bronze generator -> silver enrichment
                         -> gold daily executive KPIs (reference semantics,
                         bugs Q1-Q3 fixed per SURVEY.md §1.4)
- ``operators``          multi-step operators: relational (sessions, salted
                         joins, CDC, distributed rank), dedup, similarity
                         search, text analysis, time-series windows
- ``functions``          scalar helpers (count_if, cleaning, hashing)
- ``streaming``          Structured Streaming slice (watermark + windows)
- ``queries``            the registered entries, one module per family

Everything is built on the public Apache Spark DataFrame/SQL API; Catalyst +
Tungsten pick the physical plan. No RDD hot paths, no driver-side loops.
"""

__version__ = "0.1.0"
