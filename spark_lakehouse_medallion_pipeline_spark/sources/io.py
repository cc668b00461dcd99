"""Sources and sinks.

Reference surface (SURVEY.md §2a S1-S8):
  - parquet batch read/write with file-size shaping (CM:127-133, CM:172)
  - catalog table read (CM:370) and create-or-replace partitioned table
    write (CM:327-329 writeTo().partitionedBy().createOrReplace())
  - partitioned-parquet fallback (CM:331-340)
  - namespace DDL (CM:181, CM:362)

Spark-first mapping: DataFrameReader/Writer; managed tables go through
``saveAsTable`` with ``overwriteSchema`` (the Delta analogue of Iceberg's
createOrReplace — parquet fallback in this container, see session.table_format).

Scale notes: writers accept ``max_records_per_file`` (the reference's
output-file shaping, CM:130-132) so a 1000-executor run emits ~128-512 MB
files instead of tiny shards; partitioned writes use identity partition
columns so downstream reads get partition pruning for free.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.session import table_format


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet directory (CM:172 analogue). Catalyst pushes filters
    and prunes columns into this scan automatically."""
    return spark.read.parquet(path)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table reader; accepts ``ts`` in either parquet unit.

    Every committed corpus (testdata sf0.001-sf0.1, perfbench's
    generator) stores ``ts`` as TIMESTAMP(MICROS, isAdjustedToUTC=false),
    read as TIMESTAMP_NTZ and cast below. FIXTURES.md's ``timestamp[ns]``
    spec gives TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    (PARQUET_TYPE_ILLEGAL): nanos are read as long (legacy conf) and
    rebuilt as a microsecond timestamp with INTEGER division — ``ts/1000``
    in double would lose ~256 ns at 2024 epoch magnitudes and could flip
    millisecond boundaries vs the DuckDB oracle.

    Precision caveat for nanos files: Spark truncates to microseconds,
    DuckDB keeps nanoseconds, so on nano-resolution data order-sensitive
    oracled queries (q12 lag pairs, q24 as-of matches) could diverge at
    sub-microsecond ties.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Parquet timestamps with isAdjustedToUTC=false arrive as
        # TIMESTAMP_NTZ in Spark 4; downstream code (unix_millis, window(),
        # range frames) expects TIMESTAMP. Under the UTC session timezone
        # (session.py) this cast is value-identical to the DuckDB oracle's
        # naive-timestamp reading.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet directory whose files have EVOLVED schemas
    (columns added over time), reconciling to the union schema —
    the no-catalog analogue of Iceberg/Delta schema evolution
    (CM:327-329 createOrReplace). Off by default in plain reads because
    footer reconciliation costs one extra pass over file metadata; at
    100 TB you pay it only on tables known to evolve."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    max_records_per_file: int | None = None,
) -> None:
    """Parquet write with file-size shaping (CM:127-133 analogue)."""
    w = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    cluster: bool = True,
) -> None:
    """Hive-style directory partitioning (CM:334-340 fallback analogue).
    Identity partition columns => partition pruning on read.

    ``cluster`` repartitions on the partition keys first, so each Hive
    partition is written by one task (one file) instead of every task
    writing a sliver of every partition — without it a 32-task write of
    120 date x channel combos produced ~5000 files (measured 4x slower
    end-to-end, and the small files poison every downstream scan). At
    larger scale add a file-count salt inside hot partitions; AQE skew
    handling covers the shuffle itself."""
    if cluster:
        df = df.repartition(*[F.col(c) for c in partition_cols])
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def create_namespace(spark: SparkSession, name: str) -> None:
    """CREATE NAMESPACE IF NOT EXISTS (CM:181, CM:362 analogue)."""
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {name}")


def write_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Create-or-replace a managed partitioned table.

    Reference: silver_df.writeTo(tbl).partitionedBy("interaction_date",
    "channel").createOrReplace() (CM:327-329); gold single-key CM:409-411.
    Delta when available; parquet-backed managed table otherwise.
    """
    w = df.write.format(table_format()).mode(mode).option("overwriteSchema", "true")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog table scan (CM:370 analogue)."""
    return spark.table(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV export (interchange format — not a scale format; no type
    fidelity for arrays/structs/binary)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV scan. Always pass a schema in pipelines — inference reads the
    data twice and guesses; at 100 TB both are unacceptable."""
    r = spark.read.option("header", "true")
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines export (one object per line — the splittable layout)."""
    df.write.mode(mode).json(path)


def read_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC write — the other columnar format; same pushdown/pruning story
    as parquet under Spark's vectorized ORC reader."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-files maintenance (the OPTIMIZE analogue for plain parquet
    layouts): rewrite a directory into ~target_file_mb files, preserving
    Hive partitioning when given. Returns the new file count.

    Sizing comes from the actual on-disk byte size, not a row guess —
    the write is repartitioned to ceil(bytes/target), so compaction of a
    5000-file directory yields a handful of full-size files. Production
    note: run per-partition (WHERE on partition cols) to bound each
    rewrite and keep the swap atomic per partition.

    CONCURRENCY CONTRACT (no-catalog fallback): single writer, NO
    concurrent readers — the rmtree+move swap uses local-filesystem
    rename semantics and leaves a window where the directory is absent.
    It also does not work against object stores (s3a/abfs), where
    "rename" is copy+delete. The transactional answer at scale is a
    table format (Delta OPTIMIZE / Iceberg rewrite_data_files); this
    operator exists for the same local-parquet fallback regime as the
    reference's CM:331-340."""
    _require_local_path(path, "compact_parquet")
    import math
    import pathlib

    total = sum(f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet"))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if partition_cols:
        per = df.repartition(n_files, *[F.col(c) for c in partition_cols])
        per.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(path)
    shutil.move(tmp, path)
    return sum(1 for _ in pathlib.Path(path).rglob("*.parquet"))


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """binaryFile source: one row per file with (path, modificationTime,
    length, content binary) — the ingestion path for raw image/audio/
    video objects feeding operators.multimodal. At 100 TB the same scan
    fans out one file per task; pair with
    spark.sql.files.maxPartitionBytes for many-small-file corpora (or
    compact first via compact_parquet's analogue for blobs)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def merge_upsert_parquet(
    spark: SparkSession, updates: DataFrame, path: str, keys: list[str]
) -> None:
    """MERGE-style upsert onto a parquet-backed snapshot: rows in
    ``updates`` replace current rows with the same key, unmatched current
    rows survive, new keys append. The merge itself is one left-anti
    join (distributed); the commit is write-staging-then-swap — the same
    shape a Delta/Iceberg commit gives transactionally, which is what
    you'd use at 100 TB (this operator is the no-catalog fallback, like
    the reference's parquet fallback path, CM:331-340).

    CONCURRENCY CONTRACT: single writer, NO concurrent readers — between
    the two os.rename calls the table path does not exist, so a reader
    racing the swap sees an empty/missing table rather than either
    snapshot. POSIX rename is atomic per call, not across the pair.
    Local filesystems only (object-store rename is not atomic at all).
    Use Delta/Iceberg MERGE when concurrent readers exist."""
    _require_local_path(path, "merge_upsert_parquet")
    import os
    import shutil

    if _dir_has_parquet(path):
        current = spark.read.parquet(path)
        keep = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = updates.unionByName(keep)
    else:
        merged = updates
    staging = path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + "__old"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def _require_local_path(path: str, op: str) -> None:
    """Refuse remote URIs for the rename-based maintenance fallbacks:
    their swap step relies on local-FS rename semantics (see the
    CONCURRENCY CONTRACT docstrings); on s3a/abfs/gs/hdfs the right tool
    is a table format's transactional rewrite."""
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"{op} is a LOCAL-filesystem fallback (single writer, no "
            f"concurrent readers); got {path!r}. Use Delta/Iceberg "
            "OPTIMIZE/MERGE for object-store tables."
        )


def _dir_has_parquet(path: str) -> bool:
    import glob
    import os

    return os.path.isdir(path) and bool(glob.glob(os.path.join(path, "*.parquet")))


# --- Z-order clustered layout (multi-dimensional pruning at scale) ---------

# Magic-number bit spreading: 16-bit value -> even bit positions of a
# 32-bit value (Morton/Z-curve interleave). Each stage is (x | x<<k) & mask;
# masks are the classic 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555.
_SPREAD_STAGES = ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765))


def spread_bits16(c: Column) -> Column:
    """Spread the low 16 bits of a long across even bit positions."""
    x = c.bitwiseAND(F.lit(65535))
    for shift, mask in _SPREAD_STAGES:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue2(x: Column, y: Column) -> Column:
    """Morton z-value interleaving two 16-bit bucket ids (x gets the even
    bits, y the odd): points close in BOTH dimensions get close z-values,
    so a z-sorted file layout gives min/max-stat pruning on either
    dimension — the same trick as Delta's OPTIMIZE ZORDER BY."""
    return spread_bits16(x).bitwiseOR(F.shiftleft(spread_bits16(y), 1))


def _write_curve_clustered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    curve: Callable[[Column, Column], Column],
    bits: int,
    num_files: int,
    mode: str,
) -> None:
    """Write ``df`` clustered along a 2-D space-filling curve over ``cols``.

    Bucketizes each column to ``bits`` bits by min/max scaling (one tiny
    agg job — at 100 TB these bounds come from table stats instead),
    maps the bucket pair to a curve index with ``curve(x, y)``,
    range-partitions on it and sorts within partitions, so every output
    file covers a small (x, y) bounding box. The index column is dropped
    before writing."""
    cx, cy = cols
    bounds = df.agg(
        F.min(cx).alias("_xmin"),
        F.max(cx).alias("_xmax"),
        F.min(cy).alias("_ymin"),
        F.max(cy).alias("_ymax"),
    )
    b = df.crossJoin(F.broadcast(bounds))

    def bucket(c: str, lo: str, hi: str) -> Column:
        span = (F.col(hi) - F.col(lo) + 1).cast("double")
        return F.floor(
            (F.col(c) - F.col(lo)).cast("double") * float(1 << bits) / span
        ).cast("long")

    idx = curve(bucket(cx, "_xmin", "_xmax"), bucket(cy, "_ymin", "_ymax"))
    (
        b.withColumn("_curve", idx)
        .drop("_xmin", "_xmax", "_ymin", "_ymax")
        .repartitionByRange(num_files, F.col("_curve"))
        .sortWithinPartitions("_curve")
        .drop("_curve")
        .write.mode(mode)
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered along a 2-D Z-curve over ``cols``
    (16-bit buckets interleaved by ``zvalue2``). Point/box predicates on
    EITHER column then prune most files via parquet min/max stats — vs a
    single-column sort which only prunes on its leading column."""
    _write_curve_clustered(df, path, cols, zvalue2, 16, num_files, mode)


def hilbert_udf(order: int = 8):
    """Vectorized (Arrow/numpy) 2-D Hilbert-curve index: maps bucket ids
    (x, y) in [0, 2^order) to the cell's distance along the Hilbert
    curve — the locality-better alternative to ``zvalue2``: consecutive
    Hilbert indexes are ALWAYS Manhattan-adjacent cells (the z-curve
    jumps across the plane at every power-of-two boundary), so a
    Hilbert-sorted file layout gives strictly tighter per-file bounding
    boxes and better min/max pruning for 2-D range predicates.

    Why an Arrow UDF and not Column arithmetic like ``zvalue2``: the
    xy->d recurrence rewrites (x, y) through ``order`` rotation stages,
    each referencing both previous values — inlining under Catalyst's
    CollapseProject grows the expression tree ~3^order and lands in the
    giant-literal-expr janino trap (same reason PQ/PCA use Arrow UDFs).
    The numpy loop is ``order`` vectorized passes per batch, shuffle-
    free, constant plan size. Standard public-domain bit algorithm
    (Hilbert 1891; iterative form as on the Hilbert-curve literature).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n = 1 << order

    def hd(xs, ys):
        if not len(xs):
            return pd.Series([], dtype="int64")
        x = xs.to_numpy(dtype=np.int64).copy()
        y = ys.to_numpy(dtype=np.int64).copy()
        d = np.zeros_like(x)
        s = n // 2
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            # rotate: where ry==0, optionally flip (rx==1), then swap x/y
            swap = ry == 0
            flip = swap & (rx == 1)
            xf = np.where(flip, s - 1 - x, x)
            yf = np.where(flip, s - 1 - y, y)
            x, y = np.where(swap, yf, xf), np.where(swap, xf, yf)
            s //= 2
        return pd.Series(d)

    hd.__annotations__ = {"xs": pd.Series, "ys": pd.Series, "return": pd.Series}
    return pandas_udf(hd, "long")


def hilbert_oracle_sql(order: int, x0: str, y0: str) -> str:
    """The SAME xy->d recurrence as ``hilbert_udf``, unrolled to ANSI-SQL
    stage expressions for the DuckDB oracle (DuckDB's bitwise XOR is the
    ``xor()`` function — ``^`` is exponentiation there). Returns a SQL
    select-list fragment chain: callers embed the returned stage CTEs.

    Each stage k emits columns x{k}, y{k}, d{k} from stage k-1 — numbered
    names on purpose: DuckDB allows lateral references to same-SELECT
    aliases, so reusing 'x' would silently read the NEW value.
    """
    stages = []
    k = 0
    s = (1 << order) // 2
    while s > 0:
        px, py, pd_ = (f"x{k}", f"y{k}", f"d{k}") if k else (x0, y0, "CAST(0 AS BIGINT)")
        k += 1
        stages.append(
            f", h{k} AS (SELECT *,"
            f" {pd_} + {s * s} * xor(3 * (CASE WHEN ({px} & {s}) > 0 THEN 1 ELSE 0 END),"
            f" (CASE WHEN ({py} & {s}) > 0 THEN 1 ELSE 0 END)) AS d{k},"
            f" CASE WHEN ({py} & {s}) = 0 THEN (CASE WHEN ({px} & {s}) > 0"
            f" THEN {s - 1} - {py} ELSE {py} END) ELSE {px} END AS x{k},"
            f" CASE WHEN ({py} & {s}) = 0 THEN (CASE WHEN ({px} & {s}) > 0"
            f" THEN {s - 1} - {px} ELSE {px} END) ELSE {py} END AS y{k}"
            f" FROM h{k - 1})"
        )
        s //= 2
    return "".join(stages)


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_files: int = 16,
    order: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered along a 2-D Hilbert curve over ``cols`` —
    same contract as ``write_zordered`` but with ``order``-bit buckets
    and Hilbert locality: every run of consecutive indexes is a
    connected, Manhattan-adjacent cell path, so each output file's
    (x, y) bounding box is tighter than the z-curve's power-of-two jumps
    allow, and 2-D range predicates prune more files."""
    _write_curve_clustered(df, path, cols, hilbert_udf(order), order, num_files, mode)


# --- Versioned snapshot tables (reader-safe commits without a catalog) -----
#
# The rename-based fallbacks above trade away concurrent readers. This
# layout does not: data lives in immutable version directories
# (<table>/v=N/), and a one-line manifest file (<table>/_CURRENT) names
# the live version. Commit = write the NEW version completely, then flip
# the manifest with an atomic temp-file+rename. A reader either sees the
# old pointer (old snapshot still fully on disk) or the new one (new
# snapshot fully written before the flip) — never a half table. This is
# the Delta/Iceberg commit protocol in miniature; what a real table
# format adds on top is multi-writer coordination (optimistic CAS on the
# log) and object-store-safe pointers (conditional PUT), so the contract
# here is SINGLE WRITER, any number of readers, local filesystem.


def snapshot_versions(table_dir: str) -> list[int]:
    """All on-disk versions of a snapshot table, ascending."""
    import pathlib

    root = pathlib.Path(table_dir)
    if not root.is_dir():
        return []
    return sorted(
        int(p.name[2:]) for p in root.glob("v=*") if p.name[2:].isdigit()
    )


def _current_version(table_dir: str) -> int | None:
    import pathlib

    manifest = pathlib.Path(table_dir, "_CURRENT")
    if not manifest.is_file():
        return None
    return int(manifest.read_text().strip())


def write_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    partition_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as the next version of a snapshot table and return
    the new version number. Readers concurrent with this call keep
    seeing the previous version until the atomic manifest flip."""
    _require_local_path(table_dir, "write_snapshot")
    import os
    import pathlib

    prev = _current_version(table_dir)
    version = (prev or 0) + 1
    vdir = os.path.join(table_dir, f"v={version}")
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(vdir)
    # atomic pointer flip: full write + rename, never truncate-in-place
    tmp = pathlib.Path(table_dir, "_CURRENT.tmp")
    tmp.write_text(str(version))
    os.rename(tmp, pathlib.Path(table_dir, "_CURRENT"))
    return version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    import os

    v = version if version is not None else _current_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no _CURRENT manifest in {table_dir!r}")
    vdir = os.path.join(table_dir, f"v={v}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"snapshot version {v} of {table_dir!r} does not exist "
            f"(on disk: {snapshot_versions(table_dir)}; vacuumed?)"
        )
    return spark.read.parquet(vdir)


def merge_upsert_snapshot(
    spark: SparkSession, updates: DataFrame, table_dir: str, keys: list[str]
) -> int:
    """MERGE-style upsert as a snapshot commit: same merge dataflow as
    merge_upsert_parquet (one distributed left-anti join), but the
    result lands as a NEW version with an atomic pointer flip — so
    unlike the rename-pair fallback, concurrent readers are safe.
    Returns the committed version."""
    if _current_version(table_dir) is not None:
        current = read_snapshot(spark, table_dir)
        keep = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        merged = updates.unionByName(keep)
    else:
        merged = updates
    return write_snapshot(spark, merged, table_dir)


def vacuum_snapshots(table_dir: str, keep: int = 2) -> list[int]:
    """Delete all but the newest ``keep`` versions (never the current
    one); returns the versions removed. Readers of a vacuumed version
    get a clear FileNotFoundError from read_snapshot rather than a
    partial scan — the same contract as Delta's VACUUM retention."""
    import pathlib
    import shutil

    versions = snapshot_versions(table_dir)
    current = _current_version(table_dir)
    drop = [v for v in (versions[:-keep] if keep else versions) if v != current]
    for v in drop:
        shutil.rmtree(pathlib.Path(table_dir, f"v={v}"), ignore_errors=True)
    return drop


def parquet_footer_stats(
    spark: SparkSession, path_glob: str, glob_filter: str = "*.parquet"
) -> DataFrame:
    """EXECUTOR-SIDE parquet footer walk: metadata (row counts, row-group
    counts) for every file matching the glob, read with pyarrow INSIDE
    mapInPandas so the driver never touches a footer — the
    data-size-independent form of the per-file audit q278 does driver-
    side (VERDICT r12 hardening note #4's alternative). The file list
    rides the `binaryFile` source with ONLY the `path` column selected,
    so column pruning keeps file CONTENT unread (listing-only job); each
    executor then opens only the ~KB footer of its files. Scale shape:
    the walk parallelizes over files, driver work is bounded by the
    RESULT cardinality the caller aggregates to, never the file count.
    LOCAL-filesystem only (matching this repo's storage layer): paths
    must carry the `file:` scheme binaryFile emits for local storage —
    any other scheme (hdfs:/s3a:/abfs:) raises a clear ValueError on
    the executor instead of a misleading pyarrow open failure; the
    remote-filesystem form would swap the plain open for pyarrow's
    filesystem-aware API."""
    import pyarrow.parquet as _pq

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob_filter)
        .load(path_glob)
        .select("path")
    )

    def _read_footers(batches):
        import pandas as pd

        for b in batches:
            rows = []
            for p in b["path"]:
                if "://" in p and not p.startswith("file:"):
                    raise ValueError(
                        "parquet_footer_stats is local-filesystem only; "
                        f"got non-file URI {p!r:.120}"
                    )
                local = p.removeprefix("file:")
                md = _pq.ParquetFile(local).metadata
                rows.append((p, md.num_rows, md.num_row_groups))
            yield pd.DataFrame(
                rows, columns=["path", "n_rows", "n_row_groups"]
            )

    return files.mapInPandas(
        _read_footers, "path string, n_rows long, n_row_groups int"
    )
