"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship medallion-gold-shape query at sf0.001.
queries()     — every implemented operator from SURVEY.md §2
                (see spark_lakehouse_medallion_pipeline_spark/queries/).
oracle_sql()  — matching DuckDB ANSI SQL per query (omitted only for
                genuinely non-SQL-expressible ops: LSH banding, HLL
                sketches, native session windows, mapInPandas codecs,
                generator-based medallion runs — each covered by pytest).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_lakehouse_medallion_pipeline_spark.queries import ORACLE, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: daily executive KPIs (the reference's gold dashboard
    shape, CM:382-403) over the sf0.001 events table."""
    return QUERIES["q19_daily_event_kpis"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
