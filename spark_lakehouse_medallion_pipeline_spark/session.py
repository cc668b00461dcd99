"""SparkSession factory.

The reference configures its sessions per-job (Iceberg catalog + static
shuffle partitions; /root/reference/k8s/spark/41-spark-job-scripts-configmap.yaml:157-168).
We centralize: one factory, AQE on everywhere (supersedes static shuffle
tuning per SURVEY.md §4), UTC session timezone for deterministic date math,
and Delta Lake extensions when the package is importable (it is not in this
container, so we gate it and fall back to parquet-backed managed tables).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "spark_lakehouse_medallion_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale posture (SURVEY.md §7.1): AQE handles partition coalescing and
    skew joins at any scale factor, so we set a modest static shuffle
    partition count for local runs and let AQE re-plan on a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join mitigation.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local default; on a cluster, AQE coalesces from this ceiling.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        # Arrow for every pandas_udf / mapInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The default 100-entry codegen class cache thrashes under a
        # many-query battery (each query compiles several stages); a
        # recompile is 1-6 s of Janino per evicted stage. Static conf —
        # only effective on the session that starts the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Input split sizing mirrors the reference's 128-256 MB splits
        # (k8s/spark/43-silver-build.yaml:96); fine locally too.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # The medallion plans are 80-column projections of nested CASE
        # expressions; constraint propagation is O(2^n) on those and buys
        # nothing for append-only analytics plans.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # local[N] mode: driver heap IS the executor heap — size for all
        # N task threads' shuffle/agg buffers, not just the driver role.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill local dir: the reference provisions fast executor
    # local dirs for exactly this (docs/TUNING.md:25-34 PVC recipe); the
    # single-node analogue is tmpfs — measured 2x on a 1M-row clustered
    # silver write (47.5s -> 23.4s) because gVisor disk I/O dominates
    # shuffle file traffic. Cluster managers override via SPARK_LOCAL_DIRS
    # (standalone/k8s) / LOCAL_DIRS (YARN), so this is local-mode-only.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-graft-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{cpus}]")

    if _delta_available():
        builder = (
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    return builder.getOrCreate()


def table_format() -> str:
    """Managed-table format: ``delta`` when available, else ``parquet``.

    Production target is Delta (transactional commits replace the
    reference's Iceberg createOrReplace, CM:327-329); this container has no
    Delta jars, so tests exercise the parquet path of the same writer code.
    """
    return "delta" if _delta_available() else "parquet"
