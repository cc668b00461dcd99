"""Medallion pipeline: generator determinism, silver enrichment invariants,
gold KPI semantics (reference CM:46-121 / CM:188-318 / CM:382-403, with the
Q1-Q3 intended-semantics fixes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.medallion.generate import generate_bronze
from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
from spark_lakehouse_medallion_pipeline_spark.medallion.pipeline import (
    BRONZE_REL,
    GOLD_REL,
    SILVER_REL,
    EmptyStageError,
    run_gold,
    run_pipeline,
    run_silver,
    validate,
)
from spark_lakehouse_medallion_pipeline_spark.medallion.silver import build_silver

ROWS = 5_000


@pytest.fixture(scope="module")
def bronze(spark):
    return generate_bronze(spark, ROWS).cache()


@pytest.fixture(scope="module")
def silver(bronze):
    return build_silver(bronze).cache()


def test_bronze_deterministic_across_parallelism(spark, bronze):
    """Hash-derived uniforms must not depend on partitioning (unlike
    F.rand(seed))."""
    again = generate_bronze(spark, ROWS, partitions=3)
    cols = ["id", "customer_id", "interaction_type", "transaction_amount", "channel"]
    a = sorted(map(tuple, bronze.select(cols).collect()))
    b = sorted(map(tuple, again.select(cols).collect()))
    assert a == b


def test_bronze_distributions(bronze):
    n = bronze.count()
    assert n == ROWS
    # data_quality_flag ~5% duplicate_suspected (CM:135 cascade)
    dup = bronze.filter(F.col("data_quality_flag") == "duplicate_suspected").count()
    assert 0.03 * n < dup < 0.08 * n
    # purchase rows carry positive amounts; non-purchase rows are 0
    bad = bronze.filter(
        ((F.col("interaction_type") == "purchase") & (F.col("transaction_amount") <= 0))
        | ((F.col("interaction_type") != "purchase") & (F.col("transaction_amount") != 0))
    ).count()
    assert bad == 0
    # Q1 fix: event_timestamp has intra-day resolution
    hours = bronze.select(F.hour("event_timestamp").alias("h")).distinct().count()
    assert hours > 20


def test_silver_retention_and_enrichment(bronze, silver):
    """Silver drops duplicate_suspected (~5%, CM:190) and appends the
    derived columns while keeping every bronze column (CM:192-193)."""
    assert silver.count() == bronze.filter(
        F.col("data_quality_flag") != "duplicate_suspected"
    ).count()
    assert set(bronze.columns) <= set(silver.columns)
    for c in [
        "email_clean", "phone_clean", "state_standardized", "city_standardized",
        "interaction_date", "is_weekend", "is_business_hours",
        "customer_value_tier", "churn_risk_indicator", "engagement_score",
        "lifetime_value_estimate", "data_quality_score",
    ]:
        assert c in silver.columns, c


def test_silver_email_and_phone_cleaning(silver):
    assert silver.filter(F.col("email_clean").contains(".duplicate")).count() == 0
    assert silver.filter(F.upper(F.col("email_clean")) != F.col("email_clean")).count() > 0
    # Q6: cleaned phones are "(##########)" for 10/11-digit raws
    ok = silver.filter(F.col("phone_clean").rlike(r"^\(\d{10}\)$")).count()
    assert ok > 0.9 * silver.count()


def test_silver_business_hours_not_degenerate(silver):
    """Q1 fix consequence: is_business_hours must not be constant-false."""
    trues = silver.filter(F.col("is_business_hours")).count()
    assert 0 < trues < silver.count()


def test_gold_kpis(silver):
    gold = build_gold(silver).cache()
    rows = gold.collect()
    # one row per interaction_date over a 30-day spread (+/- boundary days)
    assert 28 <= len(rows) <= 32
    assert len(rows[0].asDict()) == 20  # key + 19 aggregates
    total = sum(r["total_daily_revenue"] for r in rows)
    by_channel = sum(r["web_revenue"] + r["mobile_revenue"] + r["store_revenue"] for r in rows)
    assert by_channel <= total + 1e-6
    for r in rows:
        # Q3 fix: conditional counts bounded by group size
        assert r["total_transactions"] <= r["daily_active_customers"] * 50
        assert r["daily_active_customers"] > 0
        assert 1.0 <= r["avg_satisfaction_score"] <= 6.0


def test_gold_deterministic(spark):
    from spark_lakehouse_medallion_pipeline_spark.medallion.pipeline import gold_over_bronze

    a = sorted(map(tuple, gold_over_bronze(spark, 2000).collect()))
    b = sorted(map(tuple, gold_over_bronze(spark, 2000).collect()))
    assert a == b


@pytest.mark.slow
def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_full_pipeline_roundtrip(spark, tmp_path):
    stats = run_pipeline(spark, str(tmp_path), rows=2000)
    assert stats["gold_rows"] >= 28
    # validate counts every layer and leaves no temp view behind
    views = _temp_views(spark)
    counts = validate(spark, str(tmp_path))
    assert counts == {
        "bronze_rows": 2000,
        "silver_rows": stats["silver_rows"],
        "gold_rows": stats["gold_rows"],
    }
    assert _temp_views(spark) == views
    # Hive layout: data files sit only in the partition leaves, and each
    # leaf holds one file (silver is clustered on its partition keys
    # before the write, gold is written by a single task).
    for rel, keys in (
        (SILVER_REL, ["interaction_date", "channel"]),
        (GOLD_REL, ["interaction_date"]),
    ):
        root = tmp_path.joinpath(*rel.split("/"))
        files = [
            f for f in root.rglob("*")
            if f.is_file() and not f.name.startswith(("_", "."))
        ]
        leaves = [f.parent.relative_to(root).parts for f in files]
        assert files
        for parts in leaves:
            assert [p.split("=", 1)[0] for p in parts] == keys, parts
        assert len(set(leaves)) == len(leaves)


def test_empty_stage_guard(spark, tmp_path):
    """CM:176-178 / CM:375-377 analogue: silver aborts on empty bronze,
    gold aborts on empty silver."""
    base = str(tmp_path)
    empty = generate_bronze(spark, 10).filter(F.lit(False))
    empty.write.mode("overwrite").parquet(f"{base}/{BRONZE_REL}")
    with pytest.raises(EmptyStageError, match="Bronze dataset is empty"):
        run_silver(spark, base)
    build_silver(empty).write.mode("overwrite").parquet(f"{base}/{SILVER_REL}")
    with pytest.raises(EmptyStageError, match="Silver table is empty"):
        run_gold(spark, base)


@pytest.mark.slow
def test_cli_stage_contract(spark, tmp_path, capsys):
    """The module CLI mirrors the reference orchestrator: per-stage
    invocations compose into the same pipeline, smoke prints the
    parseable SMOKE_OK gate (CM:444), validate reports layer counts."""
    from spark_lakehouse_medallion_pipeline_spark.__main__ import main

    base = str(tmp_path)
    assert main(["--stage", "smoke", "--base-dir", base]) == 0
    assert "SMOKE_OK 100" in capsys.readouterr().out
    assert main(["--stage", "bronze", "--base-dir", base, "--rows", "1000"]) == 0
    assert main(["--stage", "silver", "--base-dir", base]) == 0
    assert main(["--stage", "gold", "--base-dir", base]) == 0
    assert main(["--stage", "validate", "--base-dir", base]) == 0
    out = capsys.readouterr().out
    assert "VALIDATE bronze_rows=1000" in out
    assert "VALIDATE gold_rows=" in out


def test_cli_rejects_empty_as_of(tmp_path, monkeypatch, capsys):
    """--as-of is always an instant: an empty or unparseable value is an
    argparse usage error (exit 2) raised before any Spark session starts."""
    from spark_lakehouse_medallion_pipeline_spark import session
    from spark_lakehouse_medallion_pipeline_spark.__main__ import main

    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(session, "get_spark", no_session)
    for bad in ("", "now", "2024-13-01"):
        with pytest.raises(SystemExit) as exit_info:
            main(["--stage", "smoke", "--base-dir", str(tmp_path), "--as-of", bad])
        assert exit_info.value.code == 2
        assert "--as-of" in capsys.readouterr().err


def test_validate_missing_layers(spark, tmp_path):
    """validate degrades to -1 per missing layer instead of raising
    (reference logs warnings and continues, run_pipeline.py:246-276)."""
    counts = validate(spark, str(tmp_path / "nonexistent"))
    assert counts == {"bronze_rows": -1, "silver_rows": -1, "gold_rows": -1}


@pytest.mark.slow
def test_run_pipeline_use_tables_end_to_end(spark, tmp_path):
    """S5/S7 managed-table path end-to-end: CREATE NAMESPACE + partitioned
    saveAsTable for silver and gold, gold reading silver via the catalog,
    validation through the interactive SQL surface."""
    from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline as P

    try:
        stats = P.run_pipeline(
            spark, str(tmp_path), rows=2_000, payload_kb=1, use_tables=True
        )
        assert stats["silver_rows"] > 0 and stats["gold_rows"] > 0
        assert spark.table(P.SILVER_TABLE).count() == stats["silver_rows"]
        assert spark.table(P.GOLD_TABLE).count() == stats["gold_rows"]
        # identity-partition columns survive the managed write (CM:327-329)
        assert {"interaction_date", "channel"} <= set(
            spark.table(P.SILVER_TABLE).columns
        )
        v = P.validate(spark, str(tmp_path), use_tables=True)
        assert v["silver_rows"] == stats["silver_rows"]
        assert v["gold_rows"] == stats["gold_rows"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {P.SILVER_TABLE}")
        spark.sql(f"DROP TABLE IF EXISTS {P.GOLD_TABLE}")
        spark.sql("DROP NAMESPACE IF EXISTS silver")
        spark.sql("DROP NAMESPACE IF EXISTS gold")
