"""End-to-end medallion orchestration (run_pipeline.py, EP1 in SURVEY.md §3).

The reference drives stages through Kubernetes CRs; here each stage is a
function call over one SparkSession, with the same gates: empty-input guard
(CM:176-178, CM:375-377) and the smoke round-trip (CM:416-448). The CLI
(`python -m spark_lakehouse_medallion_pipeline_spark`) mirrors the reference
orchestrator's stage contract (scripts/run_pipeline.py:364-399).

Writes default to partitioned parquet directories (identity partitioning →
partition pruning downstream, CM:327-329 / CM:409-411 analogue); pass
``use_tables=True`` to write managed tables via sources.io.write_table.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from spark_lakehouse_medallion_pipeline_spark.medallion.generate import (
    DEFAULT_AS_OF,
    generate_bronze,
)
from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
from spark_lakehouse_medallion_pipeline_spark.medallion.silver import build_silver
from spark_lakehouse_medallion_pipeline_spark.sources.io import (
    create_namespace,
    read_parquet,
    write_parquet,
    write_table,
)

BRONZE_REL = "bronze/customer/interactions"
SILVER_REL = "silver/customer_interactions_enriched"
GOLD_REL = "gold/customer_executive_dashboard"
SILVER_TABLE = "silver.customer_interactions_enriched"
GOLD_TABLE = "gold.customer_executive_dashboard"


class EmptyStageError(RuntimeError):
    """Raised when a stage reads zero rows (reference aborts via SystemExit)."""


def smoke(spark: SparkSession, base_dir: str) -> int:
    """Write/read round-trip of 100 rows (smoke.py, CM:416-448)."""
    from pyspark.sql import functions as F

    df = spark.range(100).toDF("test_id").withColumn(
        "test_data", F.lit("smoke_test_data_12345")
    )
    path = f"{base_dir}/_smoke"
    write_parquet(df, path)
    n = read_parquet(spark, path).count()
    if n != 100:
        raise RuntimeError(f"SMOKE_FAIL row count mismatch: expected 100, got {n}")
    return n


def run_bronze(
    spark: SparkSession,
    base_dir: str,
    rows: int = 10_000,
    payload_kb: int = 1,
    as_of: str = DEFAULT_AS_OF,
    partitions: int | None = None,
) -> dict[str, float | int]:
    """Bronze: generate -> parquet (CM:127-133). Returns timing + bytes."""
    import pathlib

    t0 = time.time()
    write_parquet(
        generate_bronze(spark, rows, partitions=partitions, payload_kb=payload_kb, as_of=as_of),
        f"{base_dir}/{BRONZE_REL}",
    )
    sec = time.time() - t0
    nbytes = sum(
        f.stat().st_size
        for f in pathlib.Path(base_dir, *BRONZE_REL.split("/")).rglob("*.parquet")
    )
    return {"bronze_sec": sec, "bronze_bytes": nbytes}


def run_silver(
    spark: SparkSession,
    base_dir: str,
    as_of: str = DEFAULT_AS_OF,
    use_tables: bool = False,
) -> dict[str, float | int]:
    """Silver: read bronze, guard, enrich, partitioned write (CM:172-340).

    The empty-input guard (CM:176-178) stays a pre-write isEmpty (first-
    partition probe, cheap); the row COUNT rides the write job itself via
    observe() — the reference's separate count() action (CM:320, a full
    second scan) collapses into CollectMetrics on the write.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t0 = time.time()
    bronze_df = read_parquet(spark, f"{base_dir}/{BRONZE_REL}")
    if bronze_df.isEmpty():
        raise EmptyStageError("Bronze dataset is empty - run Bronze job first")
    # Cluster for the partitioned write BEFORE enrichment: the exchange
    # then carries compact bronze rows and the 33 derivations evaluate
    # post-shuffle, instead of shuffling fully-evaluated ~2x-wider rows
    # (measured 47.5s -> 19.4s for the 1M-row silver stage locally; the
    # partition keys are cheap exprs of bronze columns, so co-location
    # matches the written partitioning exactly, so each date/channel
    # directory gets one file and the writer needs no second repartition).
    keyed = bronze_df.repartition(
        F.to_date(F.col("event_timestamp")), F.col("channel")
    )
    silver_obs = Observation("silver_qc")
    silver_df = build_silver(keyed, as_of=as_of).observe(
        silver_obs, F.count(F.lit(1)).alias("n_rows")
    )
    if use_tables:
        create_namespace(spark, "silver")
        write_table(silver_df, SILVER_TABLE, ["interaction_date", "channel"])
    else:
        silver_df.write.mode("overwrite").partitionBy(
            "interaction_date", "channel"
        ).parquet(f"{base_dir}/{SILVER_REL}")
    return {"silver_rows": silver_obs.get["n_rows"], "silver_sec": time.time() - t0}


def run_gold(
    spark: SparkSession, base_dir: str, use_tables: bool = False
) -> dict[str, float | int]:
    """Gold: read silver, guard, aggregate, partitioned write (CM:370-411)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    t0 = time.time()
    silver_back = (
        spark.table(SILVER_TABLE)
        if use_tables
        else read_parquet(spark, f"{base_dir}/{SILVER_REL}")
    )
    if silver_back.isEmpty():
        raise EmptyStageError("Silver table is empty - run Silver job first")
    gold_obs = Observation("gold_qc")
    gold_df = build_gold(silver_back).observe(
        gold_obs, F.count(F.lit(1)).alias("n_rows")
    )
    # Gold is tiny by construction (one row per interaction_date — CM:382-403,
    # ~31 rows), so clustering it into one write task per date just spawns
    # near-empty tasks; a single task writes every date directory (measured
    # 2.15s -> 1.47s at 100k silver rows). Valid at any corpus scale because
    # the AGGREGATE is small, not the input.
    gold_df = gold_df.coalesce(1)
    if use_tables:
        create_namespace(spark, "gold")
        write_table(gold_df, GOLD_TABLE, ["interaction_date"])
    else:
        gold_df.write.mode("overwrite").partitionBy("interaction_date").parquet(
            f"{base_dir}/{GOLD_REL}"
        )
    return {"gold_rows": gold_obs.get["n_rows"], "gold_sec": time.time() - t0}


def validate(
    spark: SparkSession, base_dir: str, use_tables: bool = False
) -> dict[str, int]:
    """Post-run validation (run_pipeline.py:220-283 analogue): count each
    layer through the interactive surface — our spark.sql stands in for
    the reference's Trino session. Missing layers count as -1 (the
    reference logs a warning and continues). Each layer is bound to the
    query as a frame, so no temp view is left in the caller's session."""
    counts: dict[str, int] = {}
    for name, rel, table in (
        ("bronze", BRONZE_REL, None),
        ("silver", SILVER_REL, SILVER_TABLE),
        ("gold", GOLD_REL, GOLD_TABLE),
    ):
        try:
            df = (
                spark.table(table)
                if (use_tables and table)
                else read_parquet(spark, f"{base_dir}/{rel}")
            )
            counts[f"{name}_rows"] = spark.sql(
                "SELECT COUNT(*) AS n FROM {t}", t=df
            ).head()["n"]
        except Exception:
            counts[f"{name}_rows"] = -1
    return counts


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    rows: int = 10_000,
    payload_kb: int = 1,
    as_of: str = DEFAULT_AS_OF,
    use_tables: bool = False,
    partitions: int | None = None,
) -> dict[str, float | int]:
    """smoke -> bronze -> silver -> gold; returns stage timings + row counts."""
    stats: dict[str, float | int] = {}

    t0 = time.time()
    smoke(spark, base_dir)
    stats["smoke_sec"] = time.time() - t0

    stats.update(run_bronze(spark, base_dir, rows, payload_kb, as_of, partitions))
    stats.update(run_silver(spark, base_dir, as_of, use_tables))
    stats.update(run_gold(spark, base_dir, use_tables))
    return stats


def gold_over_bronze(spark: SparkSession, rows: int) -> DataFrame:
    """Generate -> enrich -> aggregate without materializing (for tests/bench),
    on the generator's and silver's shared default clock."""
    return build_gold(build_silver(generate_bronze(spark, rows)))
