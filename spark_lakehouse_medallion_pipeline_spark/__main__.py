"""Pipeline orchestrator CLI — the reference's run_pipeline.py contract
(scripts/run_pipeline.py:364-399) as a Spark-native module entry point:

    python -m spark_lakehouse_medallion_pipeline_spark --stage full --base-dir /tmp/mdp

Stages mirror the reference: smoke | bronze | silver | gold | validate |
full. The smoke stage prints the reference's parseable gate line
(``SMOKE_OK 100``, CM:444); full prints the reference's performance
summary shape (per-stage minutes + GB/min, run_pipeline.py:349-361)
computed from actual bytes written rather than an assumed 1 TB.
"""

from __future__ import annotations

import argparse
import sys
import time
from datetime import datetime

from spark_lakehouse_medallion_pipeline_spark.medallion.generate import DEFAULT_AS_OF


def instant(text: str) -> str:
    """argparse type of --as-of: an ISO-8601 instant, passed on as given. An
    empty or unparseable value is a usage error (exit 2) before any Spark
    session starts."""
    datetime.fromisoformat(text)
    return text


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="PySpark medallion pipeline orchestrator")
    p.add_argument(
        "--stage",
        choices=["smoke", "bronze", "silver", "gold", "validate", "full"],
        default="full",
    )
    p.add_argument("--base-dir", required=True, help="pipeline root directory")
    p.add_argument("--rows", type=int, default=10_000, help="bronze rows to generate")
    p.add_argument("--payload-kb", type=int, default=1, help="payload size per row (reference default: 256)")
    p.add_argument("--as-of", type=instant, default=DEFAULT_AS_OF, help="deterministic clock (ISO instant)")
    p.add_argument("--use-tables", action="store_true", help="write managed tables instead of parquet dirs")
    p.add_argument("--partitions", type=int, default=None, help="bronze generator parallelism")
    args = p.parse_args(argv)

    from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline
    from spark_lakehouse_medallion_pipeline_spark.session import get_spark

    spark = get_spark("mdp-pipeline")

    if args.stage == "smoke":
        n = pipeline.smoke(spark, args.base_dir)
        print(f"SMOKE_OK {n}")
        return 0
    if args.stage == "bronze":
        s = pipeline.run_bronze(
            spark, args.base_dir, args.rows, args.payload_kb, args.as_of, args.partitions
        )
        gb = s["bronze_bytes"] / 1024**3
        print(
            f"BRONZE_OK {args.rows} rows, {gb:.3f} GB in {s['bronze_sec']:.1f}s "
            f"({gb * 60 / max(s['bronze_sec'], 1e-9):.2f} GB/min)"
        )
        return 0
    if args.stage == "silver":
        s = pipeline.run_silver(spark, args.base_dir, args.as_of, args.use_tables)
        print(f"SILVER_OK {s['silver_rows']} rows in {s['silver_sec']:.1f}s")
        return 0
    if args.stage == "gold":
        s = pipeline.run_gold(spark, args.base_dir, args.use_tables)
        print(f"GOLD_OK {s['gold_rows']} rows in {s['gold_sec']:.1f}s")
        return 0
    if args.stage == "validate":
        counts = pipeline.validate(spark, args.base_dir, args.use_tables)
        for k, v in counts.items():
            print(f"VALIDATE {k}={v}")
        return 0 if all(v >= 0 for v in counts.values()) else 1

    # full: smoke -> bronze -> silver -> gold -> validate, reference summary
    t0 = time.time()
    stats = pipeline.run_pipeline(
        spark,
        args.base_dir,
        rows=args.rows,
        payload_kb=args.payload_kb,
        as_of=args.as_of,
        use_tables=args.use_tables,
        partitions=args.partitions,
    )
    counts = pipeline.validate(spark, args.base_dir, args.use_tables)
    total = time.time() - t0
    gb = stats["bronze_bytes"] / 1024**3
    print("=== PIPELINE COMPLETED SUCCESSFULLY! ===")
    print("Performance Summary:")
    print(
        f"  Bronze ({gb:.3f} GB): {stats['bronze_sec'] / 60:.2f} minutes "
        f"({gb * 60 / max(stats['bronze_sec'], 1e-9):.2f} GB/min)"
    )
    print(f"  Silver:         {stats['silver_sec'] / 60:.2f} minutes ({stats['silver_rows']} rows)")
    print(f"  Gold:           {stats['gold_sec'] / 60:.2f} minutes ({stats['gold_rows']} rows)")
    print(f"  Total Runtime:  {total / 60:.2f} minutes")
    print(f"  Overall Throughput: {gb / max(total / 60, 1e-9):.2f} GB/min")
    for k, v in counts.items():
        print(f"VALIDATE {k}={v}")
    # one machine-scrapeable line for the whole run (SMOKE_OK analogue)
    print(
        "PIPELINE_OK "
        f"bronze_bytes={stats['bronze_bytes']} "
        f"bronze_sec={stats['bronze_sec']:.3f} "
        f"silver_rows={stats['silver_rows']} silver_sec={stats['silver_sec']:.3f} "
        f"gold_rows={stats['gold_rows']} gold_sec={stats['gold_sec']:.3f} "
        f"total_sec={total:.3f}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
