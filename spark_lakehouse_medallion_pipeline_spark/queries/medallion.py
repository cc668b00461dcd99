"""The bronze-silver-gold medallion pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.medallion.generate import generate_bronze
from spark_lakehouse_medallion_pipeline_spark.medallion.pipeline import gold_over_bronze
from spark_lakehouse_medallion_pipeline_spark.medallion.silver import build_silver
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    _q,
    cents,
    money,
    sum_cents,
)


@_q("medallion_gold_kpis")  # deterministic generator, but Spark-specific hashing
def medallion_gold_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end in one plan: deterministic bronze
    generator (CM:46-121) -> silver enrichment (CM:188-318) -> gold daily
    KPIs (CM:382-403, Q2/Q3 fixed). Golden-value tests in
    tests/test_medallion.py pin the 19 KPI columns."""
    return gold_over_bronze(spark, rows=20_000)


@_q("medallion_silver_profile")  # generator-based; rows-only
def medallion_silver_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver-layer data-quality profile (distribution of the 33-column
    enrichment's categorical outputs)."""
    silver = build_silver(generate_bronze(spark, 20_000))
    return silver.groupBy("customer_value_tier", "churn_risk_indicator").agg(
        F.count(F.lit(1)).alias("n"),
        money(sum_cents(F.col("lifetime_value_estimate"))).alias("total_ltv"),
        (F.sum(cents(F.col("data_quality_score"))).cast("double") / F.count(F.lit(1)) / F.lit(100.0)).alias("avg_dq"),
    )
