"""Physical layout and data skipping: space-filling curves, file metadata,
partition pruning, zone maps, bloom zones, compaction and sortedness."""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import pyarrow.parquet as _pq
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import relational
from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    _q,
    _scratch_dir,
    _t,
    cents,
)
from spark_lakehouse_medallion_pipeline_spark.sources.io import (
    hilbert_oracle_sql,
    hilbert_udf,
    parquet_footer_stats,
    zvalue2,
)


@_q(
    "q92_zorder_values",
    """
    WITH bounds AS (
      SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
             MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
      FROM lineitem
    ),
    base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(FLOOR(CAST(l_partkey - xmin AS DOUBLE) * 65536.0
                        / CAST(xmax - xmin + 1 AS DOUBLE)) AS BIGINT) & 65535 AS bx,
             CAST(FLOOR(CAST(l_suppkey - ymin AS DOUBLE) * 65536.0
                        / CAST(ymax - ymin + 1 AS DOUBLE)) AS BIGINT) & 65535 AS by
      FROM lineitem, bounds
    ),
    s1 AS (SELECT l_orderkey, l_linenumber,
                  (bx | (bx << 8)) & 16711935 AS bx,
                  (by | (by << 8)) & 16711935 AS by FROM base),
    s2 AS (SELECT l_orderkey, l_linenumber,
                  (bx | (bx << 4)) & 252645135 AS bx,
                  (by | (by << 4)) & 252645135 AS by FROM s1),
    s3 AS (SELECT l_orderkey, l_linenumber,
                  (bx | (bx << 2)) & 858993459 AS bx,
                  (by | (by << 2)) & 858993459 AS by FROM s2),
    s4 AS (SELECT l_orderkey, l_linenumber,
                  (bx | (bx << 1)) & 1431655765 AS bx,
                  (by | (by << 1)) & 1431655765 AS by FROM s3)
    SELECT l_orderkey, l_linenumber, bx | (by << 1) AS zval
    FROM s4
    """,
)
def q92_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (l_partkey, l_suppkey) — the clustering key
    behind sources.io.write_zordered (Delta OPTIMIZE ZORDER analogue).
    Bucketize each dimension to 16 bits by min/max scaling, then
    interleave with the magic-mask spread; the DuckDB oracle replays the
    identical integer bit arithmetic, so the curve itself is verified
    bit-for-bit. Pure map over the scan plus one broadcast 1-row bounds
    agg — at 100 TB the bounds come from table stats and the z-sorted
    write gives min/max file pruning on either dimension."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("xmin"),
        F.max("l_partkey").alias("xmax"),
        F.min("l_suppkey").alias("ymin"),
        F.max("l_suppkey").alias("ymax"),
    )

    def bucket(c: str, lo: str, hi: str) -> Column:
        span = (F.col(hi) - F.col(lo) + 1).cast("double")
        return (
            F.floor((F.col(c) - F.col(lo)).cast("double") * 65536.0 / span)
            .cast("long")
            .bitwiseAND(F.lit(65535))
        )

    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            "l_orderkey",
            "l_linenumber",
            zvalue2(
                bucket("l_partkey", "xmin", "xmax"), bucket("l_suppkey", "ymin", "ymax")
            ).alias("zval"),
        )
    )


@_q(
    "q142_file_metadata",
    """
    SELECT 'orders.parquet' AS file,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys
    FROM orders
    """,
)
def q142_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file row accounting via the hidden _metadata struct — the
    observability hook for layout audits (small-files detection, rows
    per file before/after compaction) with no extra scan: _metadata is
    produced by the reader itself. The oracle sees only the registered
    view (no filename function through a view), so it pins the
    per-file counts against the known single-file layout; the Spark
    side genuinely derives the name from _metadata.file_path."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1).alias(
                "file"
            ),
            "o_orderkey",
        )
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_orderkey").alias("n_keys"),
        )
        .orderBy("file")
    )


def _q166_sql() -> str:
    return (
        "WITH h0 AS (SELECT l_partkey % 256 AS px, l_suppkey % 256 AS py"
        " FROM lineitem)"
        + hilbert_oracle_sql(8, "px", "py")
        + """
    SELECT d8 // 256 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(px) AS min_x, MAX(px) AS max_x,
           MIN(py) AS min_y, MAX(py) AS max_y
    FROM h8 GROUP BY d8 // 256
    """
    )


@_q("q166_hilbert_layout", _q166_sql())
def q166_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering index over (l_partkey, l_suppkey) — the
    locality-better companion to q92's Morton z-values: consecutive
    Hilbert cells are ALWAYS Manhattan-adjacent, so a Hilbert-sorted
    layout yields strictly tighter per-file (x, y) bounding boxes than
    z-order, i.e. better parquet min/max pruning for 2-D range
    predicates at 100 TB. The per-256-cell bucket profile (count + the
    bounding box actually covered) is exactly the statistic a layout
    optimizer inspects.

    Engine side is an Arrow-vectorized UDF (sources.io.hilbert_udf) —
    the rotation recurrence inlines to a ~3^order expression tree under
    CollapseProject, the documented janino giant-expr trap — while the
    oracle unrolls the IDENTICAL integer recurrence to 8 chained SQL
    stages (sources.io.hilbert_oracle_sql), so the curve arithmetic is
    verified value-exact despite the Python fast path."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("py"),
    )
    hd = li.withColumn("hd", hilbert_udf(8)(F.col("px"), F.col("py")))
    return (
        hd.groupBy(F.expr("hd div 256").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("px").alias("min_x"),
            F.max("px").alias("max_x"),
            F.min("py").alias("min_y"),
            F.max("py").alias("max_y"),
        )
    )


@_q(
    "q252_partition_pruned_read",
    f"""
    WITH lo AS (SELECT strftime(MIN(CAST(o_orderdate AS DATE)), '%Y-%m')
                AS mon FROM orders)
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS revenue_c
    FROM orders, lo
    WHERE strftime(CAST(o_orderdate AS DATE), '%Y-%m') = lo.mon
    GROUP BY CAST(o_orderdate AS DATE)
    """,
)
def q252_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning end to end — THE mechanism that
    makes a 100 TB table queryable in seconds (a month filter on a
    month-partitioned lake reads 1/84th of the files; without pruning
    it scans everything): orders is written out partitioned by order
    month (``partitionBy`` directory layout), re-read with an equality
    filter on the partition column, and the daily revenue rollup runs
    over the single surviving partition. The filter is resolved from a
    1-row MIN(o_orderdate) aggregate (bounded driver collect — a
    literal, data-derived, so both engines agree at any SF). The plan
    pin in test_plans asserts the scan carries the month in
    PartitionFilters (directory-level pruning, zero data files from
    other months touched) — not as a post-scan Filter. Scale shape:
    one partitioned write, a footer+directory-pruned read, one
    day-keyed map-combined aggregate."""
    o = _t(spark, sf_dir, "orders")
    path = _scratch_dir(spark, "q252_part", sf_dir)
    (
        o.select(
            F.col("o_orderdate").cast("date").alias("day"),
            cents(F.col("o_totalprice")).alias("price_c"),
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
                "mon"
            ),
        )
        .write.mode("overwrite")
        .partitionBy("mon")
        .parquet(path)
    )
    lo = o.agg(
        F.date_format(
            F.min(F.col("o_orderdate").cast("date")), "yyyy-MM"
        ).alias("mon")
    ).collect()[0]["mon"]
    part = spark.read.parquet(path).filter(F.col("mon") == lo)
    return part.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price_c").cast("bigint").alias("revenue_c"),
    )


@_q(
    "q257_compaction_binpack_plan",
    """
    WITH f AS (
      SELECT source, CAST(doc_id // 16 AS BIGINT) AS bucket,
             CAST(SUM(n_chars) AS BIGINT) AS bytes,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1, 2
    ),
    pl AS (
      SELECT source, bucket, bytes, n_docs,
             CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) - bytes
                  AS BIGINT) AS pre
      FROM f
    )
    SELECT source,
           CAST(pre // 8192 AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(bucket) AS BIGINT) AS first_bucket,
           CAST(MAX(bucket) AS BIGINT) AS last_bucket
    FROM pl GROUP BY source, CAST(pre // 8192 AS BIGINT)
    """,
)
def q257_compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (binpack) PLANNER — the warehouse
    maintenance step every lakehouse runs nightly (Iceberg
    rewrite_data_files binpack, Delta OPTIMIZE): given a per-partition
    micro-file inventory, assign contiguous files to target-size bins
    by exclusive-prefix-sum division, so each bin's REWRITE task is
    independent and the plan itself is pure relational algebra. The
    inventory here is the documents corpus bucketed into micro-files
    (doc_id div 16 within source, logical bytes = n_chars sums); bins
    target 8192 logical bytes. bin_id = floor(exclusive_prefix /
    target) is the streaming first-fit: every bin's byte total lands in
    [target - max_file + 1, target + max_file - 1], files never split,
    ordering deterministic. Scale shape: the 100 TB corpus collapses to
    file-inventory metadata at the first groupBy; the running sum is a
    PER-SOURCE partitioned window (inventory-sized frames), then one
    rollup per bin — no global sort, no single-partition stage. The
    reference compacts via maxRecordsPerFile at write time (CM:124-133);
    this is the after-the-fact maintenance plan for data already on
    disk."""
    docs = _t(spark, sf_dir, "documents")
    f = docs.groupBy(
        "source", F.expr("CAST(doc_id div 16 AS BIGINT)").alias("bucket")
    ).agg(
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pl = f.withColumn(
        "pre", (F.sum("bytes").over(w) - F.col("bytes")).cast("bigint")
    )
    return (
        pl.groupBy("source", F.expr("CAST(pre div 8192 AS BIGINT)").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bin_bytes"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.min("bucket").cast("bigint").alias("first_bucket"),
            F.max("bucket").cast("bigint").alias("last_bucket"),
        )
    )


_Q270_ZONE_ROWS = 10_000
_Q270_CUTOFF = "2001-01-01"
# q278 writes ONE parquet file per zone; at scale the zone size grows so
# the file count (and thus the driver-side footer walk) stays bounded by
# this target instead of growing with |rows|. Power of two: CEIL(n/128.0)
# is then exact in floating point, so DuckDB's replay matches Python's
# integer ceil for every n.
_Q278_TARGET_FILES = 128


# Per-zone stats of q270/q278's two layouts of the same rows (zoned:
# sd, z_nat, z_srt): each zone's max shipdate, rows, and rows matching the
# _Q270_CUTOFF predicate.
_ZONE_STATS_CTES = f"""layouts AS (
      SELECT 'natural' AS layout, z_nat AS z, sd FROM zoned
      UNION ALL
      SELECT 'sorted', z_srt, sd FROM zoned
    ),
    zstats AS (
      SELECT layout, z, MAX(sd) AS zmax,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN sd >= DATE '{_Q270_CUTOFF}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM layouts GROUP BY layout, z
    )"""


@_q(
    "q270_zonemap_skipping_audit",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd
      FROM lineitem
    ),
    zoned AS (
      SELECT sd,
             (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
               // {_Q270_ZONE_ROWS} AS z_nat,
             (row_number() OVER (ORDER BY sd, l_orderkey, l_linenumber) - 1)
               // {_Q270_ZONE_ROWS} AS z_srt
      FROM li
    ),
    {_ZONE_STATS_CTES}
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(CASE WHEN zmax < DATE '{_Q270_CUTOFF}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_zones,
           CAST(SUM(CASE WHEN zmax >= DATE '{_Q270_CUTOFF}'
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN zmax >= DATE '{_Q270_CUTOFF}'
                         THEN n_rows ELSE 0 END) - SUM(n_match) AS BIGINT)
             AS false_positive_rows,
           CAST((1000000 * SUM(CASE WHEN zmax < DATE '{_Q270_CUTOFF}'
                                    THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS skip_ratio_e6
    FROM zstats GROUP BY layout
    """,
)
def q270_zonemap_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) effectiveness audit — the
    Delta/Iceberg file-skipping math, quantified for two physical
    layouts of the SAME data: equal-size 10,000-row zones
    (_Q270_ZONE_ROWS) cut in the table's natural (orderkey) order vs
    in shipdate-sorted order. For the predicate `l_shipdate >=
    2001-01-01` (_Q270_CUTOFF) each layout reports zones skippable by
    the zone's max-stat alone, rows the scanner must still read, the
    true match count (identical across layouts — skipping never
    changes answers), and the false positives the natural layout
    forces the scanner to read. This is the numeric argument for
    q92/q166-style sort/cluster-on-write: the sorted layout's skip
    ratio approaches the predicate's selectivity while the natural
    layout skips ~nothing. Both zonings ride
    relational.distributed_rank (two balanced two-pass ranks, no
    single-partition window — the oracle uses the equivalent ANSI
    row_number); everything downstream is exact integer zone
    metadata, ~|rows| / zone_rows rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    nat = distributed_rank(
        li, [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_rn",
    ).select("sd", F.expr(f"(_rn - 1) div {_Q270_ZONE_ROWS}").alias("z"))
    srt = distributed_rank(
        li,
        [F.col("sd").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_rs",
    ).select("sd", F.expr(f"(_rs - 1) div {_Q270_ZONE_ROWS}").alias("z"))
    cutoff = F.lit(_Q270_CUTOFF).cast("date")
    out = []
    for layout, zoned in (("natural", nat), ("sorted", srt)):
        zstats = zoned.groupBy("z").agg(
            F.max("sd").alias("zmax"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("sd") >= cutoff, 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
        )
        out.append(
            zstats.agg(
                F.lit(layout).alias("layout"),
                F.count(F.lit(1)).cast("bigint").alias("n_zones"),
                F.sum(F.when(F.col("zmax") < cutoff, 1).otherwise(0))
                .cast("bigint")
                .alias("n_skipped_zones"),
                F.sum(
                    F.when(F.col("zmax") >= cutoff, F.col("n_rows")).otherwise(0)
                )
                .cast("bigint")
                .alias("rows_scanned"),
                F.sum("n_match").cast("bigint").alias("rows_matched"),
            ).select(
                "layout",
                "n_zones",
                "n_skipped_zones",
                "rows_scanned",
                "rows_matched",
                (F.col("rows_scanned") - F.col("rows_matched"))
                .cast("bigint")
                .alias("false_positive_rows"),
                F.expr(
                    "CAST((1000000 * n_skipped_zones) div n_zones AS BIGINT)"
                ).alias("skip_ratio_e6"),
            )
        )
    return out[0].unionByName(out[1])


@_q(
    "q278_sorted_write_zonemap",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS sd
      FROM lineitem
    ),
    params AS (
      -- zone size scales with the corpus: target a bounded FILE COUNT
      -- ({_Q278_TARGET_FILES}) once the table outgrows the small-sf
      -- floor of {_Q270_ZONE_ROWS} rows/zone. CEIL over /128.0 is
      -- exact in binary floating point (power-of-two divisor), so the
      -- replay matches Python's integer ceil bit-for-bit.
      SELECT GREATEST({_Q270_ZONE_ROWS},
                      CAST(CEIL(CAST(COUNT(*) AS BIGINT)
                                / {_Q278_TARGET_FILES}.0) AS BIGINT))
             AS zrows
      FROM li
    ),
    zoned AS (
      SELECT sd,
             (row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1)
               // (SELECT zrows FROM params) AS z_nat,
             (row_number() OVER (ORDER BY sd, l_orderkey, l_linenumber) - 1)
               // (SELECT zrows FROM params) AS z_srt
      FROM li
    ),
    {_ZONE_STATS_CTES}
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN zmax < DATE '{_Q270_CUTOFF}'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_files,
           CAST(SUM(CASE WHEN zmax >= DATE '{_Q270_CUTOFF}'
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN zmax >= DATE '{_Q270_CUTOFF}'
                         THEN n_rows ELSE 0 END) - SUM(n_match) AS BIGINT)
             AS false_positive_rows,
           CAST((1000000 * SUM(CASE WHEN zmax < DATE '{_Q270_CUTOFF}'
                                    THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS skip_ratio_e6,
           CAST(1 AS BIGINT) AS footer_verified
    FROM zstats GROUP BY layout
    """,
)
def q278_sorted_write_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE-PATH twin of q270 (VERDICT r11 Next #6): q270 predicts
    what zone-map skipping WOULD buy for natural vs shipdate-sorted
    layouts on simulated 10,000-row zones; this query actually WRITES
    both layouts — one parquet file per zone via an explicit rank-
    derived zone column (deterministic, so the oracle can replay the
    file assignment; a sampled repartitionByRange boundary could not
    be value-oracled) with rows sorted inside each file — then runs
    the identical audit on the REAL files: per-file row counts and
    min/max l_shipdate come from the parquet FOOTER statistics
    (pyarrow metadata — the exact stats a Delta/Iceberg scanner
    prunes with), asserted byte-equal to a distributed re-read of the
    written files before the result is built (footer_verified = 1
    rides the hash). The skip ratios must — and do — match q270's
    prediction row for row, closing the predict->write->measure loop.
    Scale shape: two distributed_rank passes (no global window, plan-
    pinned), one hash exchange on the zone id per layout so each zone
    lands in exactly one task -> one file, a distributed re-read
    grouped to ~|zones| rows, and a driver-side footer walk bounded by
    a DATA-SIZE-INDEPENDENT file count: zones are _Q270_ZONE_ROWS rows
    at small sf (so the audit matches q270's prediction row for row)
    but grow once |rows| > zone_rows * _Q278_TARGET_FILES so the file
    count — and the driver walk — is capped at ~_Q278_TARGET_FILES
    (=128) however large the table gets. The oracle replays the
    identical zone size via a params CTE (exact power-of-two CEIL).
    The footer==re-read comparison raises explicit ValueErrors (never
    bare asserts — `python -O` elides those, and footer_verified=1
    must not be emittable with the checks skipped). Cites the
    reference's partitioned-write layer (CM:331-403) which shapes
    files but never audits what its layout buys the scanner."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    base = _scratch_dir(spark, "q278", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    cutoff = _dt.date.fromisoformat(_Q270_CUTOFF)
    # zone size scales with the corpus so file count stays bounded at
    # ~_Q278_TARGET_FILES; -(-n // k) is integer ceil, matching the
    # oracle's CEIL(n / 128.0) exactly (power-of-two divisor)
    n_total = li.count()
    zrows = max(_Q270_ZONE_ROWS, -(-n_total // _Q278_TARGET_FILES))

    orders = {
        "natural": [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        "sorted": [
            F.col("sd").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
    }
    zone_rows = []
    for layout, order in orders.items():
        path = os.path.join(base, layout)
        zoned = distributed_rank(li, order, rank_col="_r").select(
            "sd", F.expr(f"(_r - 1) div {zrows}").alias("z")
        )
        # one exchange on z -> each zone wholly in one task -> one file
        # per z= directory; rows inside each file sorted by sd so the
        # footer min/max is also the page-index story. One write task
        # per zone (optimization round, the q287 discipline): the zone
        # count is capped at ~_Q278_TARGET_FILES by this entry's own
        # zone-size rule, so the task count is an invariant of the
        # query, not of the machine; per-file commit latency then
        # overlaps across the pool instead of stacking ~4-deep in 32
        # tasks. Bytes and layout identical.
        (
            zoned.repartition(_Q278_TARGET_FILES + 1, F.col("z"))
            .sortWithinPartitions("z", "sd")
            .write.partitionBy("z")
            .parquet(path)
        )
        # REAL footer statistics, bounded by file count (never rows)
        footer: dict[int, tuple[int, _dt.date, _dt.date]] = {}
        for entry in sorted(os.listdir(path)):
            if not entry.startswith("z="):
                continue
            zval = int(entry.split("=", 1)[1])
            n, mn, mx = 0, None, None
            zdir = os.path.join(path, entry)
            for fn in sorted(os.listdir(zdir)):
                if not fn.endswith(".parquet"):
                    continue
                md = _pq.ParquetFile(os.path.join(zdir, fn)).metadata
                n += md.num_rows
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(0).statistics
                    # explicit raise, never assert: `python -O` elides
                    # asserts and footer_verified must not lie
                    if st is None or not st.has_min_max:
                        raise ValueError(f"no footer stats in {fn}")
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
            footer[zval] = (n, mn, mx)
        # distributed re-read of the actual files, collapsed to ~|zones|
        # rows (bounded collect: |rows| / zone_rows entries)
        zs = (
            spark.read.parquet(path)
            .groupBy(F.col("z").cast("bigint").alias("z"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("sd").alias("zmin"),
                F.max("sd").alias("zmax"),
                F.sum(F.when(F.col("sd") >= F.lit(cutoff), 1).otherwise(0))
                .cast("bigint")
                .alias("n_match"),
            )
            .collect()
        )
        if set(footer) != {r["z"] for r in zs}:
            raise ValueError(
                f"zone set drift: footer={sorted(footer)} "
                f"reread={sorted(r['z'] for r in zs)}"
            )
        for r in zs:
            fn_rows, fmn, fmx = footer[r["z"]]
            if (fn_rows, fmn, fmx) != (r["n_rows"], r["zmin"], r["zmax"]):
                raise ValueError(
                    f"footer/data drift in zone {r['z']}: "
                    f"{(fn_rows, fmn, fmx)} != "
                    f"{(r['n_rows'], r['zmin'], r['zmax'])}"
                )
        # audit rows built from the FOOTER stats (n_match is the one
        # quantity a footer cannot hold — it comes from the re-read)
        for r in zs:
            fn_rows, _fmn, fmx = footer[r["z"]]
            zone_rows.append((layout, int(r["z"]), fmx, fn_rows, int(r["n_match"])))
    zdf = spark.createDataFrame(
        zone_rows, "layout string, z long, zmax date, n_rows long, n_match long"
    )
    cutoff_col = F.lit(cutoff)
    return zdf.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(F.col("zmax") < cutoff_col, 1).otherwise(0))
        .cast("bigint")
        .alias("n_skipped_files"),
        F.sum(F.when(F.col("zmax") >= cutoff_col, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("n_match").cast("bigint").alias("rows_matched"),
        (
            F.sum(
                F.when(F.col("zmax") >= cutoff_col, F.col("n_rows")).otherwise(0)
            )
            - F.sum("n_match")
        )
        .cast("bigint")
        .alias("false_positive_rows"),
        F.expr(
            f"CAST((1000000 * SUM(CASE WHEN zmax < DATE '{_Q270_CUTOFF}'"
            " THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
        ).alias("skip_ratio_e6"),
        # reaching this line proves the footer==re-read comparison ran
        # and passed: the checks above raise (never assert), so -O
        # cannot elide them
        F.lit(1).cast("bigint").alias("footer_verified"),
    )


def _q279_morton_sql(d1: str, d2: str, dialect: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit bucket ids,
    spelled per dialect: DuckDB has infix shifts, Spark SQL uses
    shiftleft/shiftright functions. Bit i of d1 lands at position
    2i+1, bit i of d2 at 2i — identical integer on both engines."""
    terms = []
    for i in range(8):
        if dialect == "duckdb":
            terms.append(f"((({d1} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({d2} >> {i}) & 1) << {2 * i})")
        else:
            terms.append(f"shiftleft(shiftright({d1}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({d2}, {i}) & 1, {2 * i})")
    return " + ".join(terms)


@_q(
    "q279_zorder_interleave_audit",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             (CAST(l_shipdate AS DATE) - DATE '1992-01-01') AS p_day
      FROM lineitem
    ),
    b AS (SELECT MAX(p_day) AS day_max, MAX(l_partkey) AS pk_max FROM li),
    d AS (
      SELECT li.*,
             (p_day * 256) // (b.day_max + 1) AS d1,
             (l_partkey * 256) // (b.pk_max + 1) AS d2
      FROM li, b
    ),
    m AS (
      SELECT d1, d2,
             {_q279_morton_sql("d1", "d2", "duckdb")} AS morton,
             l_orderkey, l_linenumber
      FROM d
    ),
    zoned AS (
      SELECT d1, d2,
             (row_number() OVER (ORDER BY d1, l_orderkey, l_linenumber) - 1)
               // {_Q270_ZONE_ROWS} AS z_day,
             (row_number() OVER (ORDER BY morton, l_orderkey, l_linenumber)
              - 1) // {_Q270_ZONE_ROWS} AS z_mor
      FROM m
    ),
    layouts AS (
      SELECT 'sorted_day' AS layout, z_day AS z, d1, d2 FROM zoned
      UNION ALL
      SELECT 'zorder', z_mor, d1, d2 FROM zoned
    ),
    zstats AS (
      SELECT layout, z,
             MIN(d1) AS min_d1, MAX(d1) AS max_d1,
             MIN(d2) AS min_d2, MAX(d2) AS max_d2,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN d1 >= 224 THEN 1 ELSE 0 END) AS BIGINT)
               AS match_p1,
             CAST(SUM(CASE WHEN d2 BETWEEN 112 AND 143 THEN 1 ELSE 0 END)
                  AS BIGINT) AS match_p2
      FROM layouts GROUP BY layout, z
    ),
    audits AS (
      SELECT layout, 'day_ge_224' AS predicate,
             CASE WHEN max_d1 < 224 THEN 1 ELSE 0 END AS skippable,
             n_rows, match_p1 AS n_match
      FROM zstats
      UNION ALL
      SELECT layout, 'part_band_112_143',
             CASE WHEN max_d2 < 112 OR min_d2 > 143 THEN 1 ELSE 0 END,
             n_rows, match_p2
      FROM zstats
    )
    SELECT layout, predicate,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(skippable) AS BIGINT) AS n_skipped_zones,
           CAST(SUM(CASE WHEN skippable = 0 THEN n_rows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN skippable = 0 THEN n_rows ELSE 0 END)
                - SUM(n_match) AS BIGINT) AS false_positive_rows,
           CAST((1000000 * SUM(skippable)) // COUNT(*) AS BIGINT)
             AS skip_ratio_e6
    FROM audits GROUP BY layout, predicate
    """,
)
def q279_zorder_interleave_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-interleave) multi-dimensional clustering audit —
    the question q270/q278 can't answer: single-column sort makes ONE
    predicate skippable and abandons every other column, so what does
    a 2-D space-filling-curve layout buy a TWO-predicate workload?
    Ship-day and partkey are quantized to 8-bit bucket ids against
    data-derived maxima (one 1-row broadcast — sf-independent), their
    bits interleaved into a 16-bit Morton code (exact integer, per-
    dialect shift spelling via _q279_morton_sql), and the SAME
    10,000-row zoning audit as q270 runs over two layouts — sorted by
    day vs sorted by Morton — for two predicates: the top-12.5% day
    band and a 12.5% partkey band. The expected (and measured) shape:
    the day sort skips the day predicate near-perfectly and the
    partkey predicate near-zero; the z-order skips BOTH at the
    sqrt-locality discount — the standard Delta/Iceberg OPTIMIZE
    ZORDER trade, quantified exactly. Scale shape: two
    distributed_rank passes (no global window), min/max/match
    collapsing to ~|zones| rows per layout, audit output a fixed 4
    rows; at 100 TB this is the same two-exchange cost q270 already
    budgets."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.expr("datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01')")
        .cast("bigint")
        .alias("p_day"),
    )
    b = li.agg(
        F.max("p_day").alias("day_max"), F.max("l_partkey").alias("pk_max")
    )
    d = li.crossJoin(F.broadcast(b)).select(
        "l_orderkey",
        "l_linenumber",
        F.expr("(p_day * 256) div (day_max + 1)").alias("d1"),
        F.expr("(l_partkey * 256) div (pk_max + 1)").alias("d2"),
    )
    m = d.withColumn("morton", F.expr(_q279_morton_sql("d1", "d2", "spark")))
    out = []
    for layout, order in (
        ("sorted_day", [F.col("d1").asc()]),
        ("zorder", [F.col("morton").asc()]),
    ):
        zoned = relational.distributed_rank(
            m,
            [*order, F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
            rank_col="_r",
        ).select(
            "d1", "d2", F.expr(f"(_r - 1) div {_Q270_ZONE_ROWS}").alias("z")
        )
        zstats = zoned.groupBy("z").agg(
            F.min("d1").alias("min_d1"),
            F.max("d1").alias("max_d1"),
            F.min("d2").alias("min_d2"),
            F.max("d2").alias("max_d2"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("d1") >= 224, 1).otherwise(0))
            .cast("bigint")
            .alias("match_p1"),
            F.sum(F.when(F.col("d2").between(112, 143), 1).otherwise(0))
            .cast("bigint")
            .alias("match_p2"),
        )
        # both predicate audits ride ONE evaluation of the zone stats
        # (explode of a 2-struct array — a union of selects would
        # re-evaluate the rank subtree per branch)
        audits = zstats.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("day_ge_224").alias("predicate"),
                        F.when(F.col("max_d1") < 224, 1)
                        .otherwise(0)
                        .alias("skippable"),
                        F.col("n_rows").alias("n_rows"),
                        F.col("match_p1").alias("n_match"),
                    ),
                    F.struct(
                        F.lit("part_band_112_143").alias("predicate"),
                        F.when((F.col("max_d2") < 112) | (F.col("min_d2") > 143), 1)
                        .otherwise(0)
                        .alias("skippable"),
                        F.col("n_rows").alias("n_rows"),
                        F.col("match_p2").alias("n_match"),
                    ),
                )
            ).alias("a")
        ).select(F.lit(layout).alias("layout"), "a.*")
        out.append(audits)
    return (
        out[0]
        .unionByName(out[1])
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_zones"),
            F.sum("skippable").cast("bigint").alias("n_skipped_zones"),
            F.sum(F.when(F.col("skippable") == 0, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matched"),
            (
                F.sum(
                    F.when(F.col("skippable") == 0, F.col("n_rows")).otherwise(0)
                )
                - F.sum("n_match")
            )
            .cast("bigint")
            .alias("false_positive_rows"),
            F.expr(
                "CAST((1000000 * SUM(skippable)) div COUNT(*) AS BIGINT)"
            ).alias("skip_ratio_e6"),
        )
    )


@_q(
    "q284_sortedness_audit",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_shipdate AS DATE) AS sd,
             date_trunc('month', CAST(l_shipdate AS DATE)) AS sm
      FROM lineitem
    ),
    layouts AS (
      SELECT 'natural' AS layout, sd,
             lag(sd) OVER (ORDER BY l_orderkey, l_linenumber) AS prev_sd
      FROM li
      UNION ALL
      SELECT 'sorted', sd,
             lag(sd) OVER (ORDER BY sd, l_orderkey, l_linenumber)
      FROM li
      UNION ALL
      SELECT 'month_clustered', sd,
             lag(sd) OVER (ORDER BY sm, l_orderkey, l_linenumber)
      FROM li
    ),
    agg AS (
      SELECT layout, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN prev_sd > sd THEN 1 ELSE 0 END) AS BIGINT)
               AS inv
      FROM layouts GROUP BY layout
    ),
    names(layout) AS (
      VALUES ('natural'), ('sorted'), ('month_clustered')
    )
    -- the names spine + guarded denominator make the certificate total:
    -- a 0- or 1-row input still yields one row per layout with n_rows
    -- exact, 0 runs on empty, and no divide-by-zero
    SELECT nm.layout,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_rows,
           CAST(COALESCE(a.inv, 0) AS BIGINT) AS n_adjacent_inversions,
           CAST(CASE WHEN COALESCE(a.n, 0) = 0 THEN 0
                     ELSE COALESCE(a.inv, 0) + 1 END AS BIGINT)
             AS n_monotone_runs,
           CAST((1000000 * COALESCE(a.inv, 0))
                // GREATEST(COALESCE(a.n, 0) - 1, 1) AS BIGINT)
             AS inversion_ratio_e6
    FROM names nm LEFT JOIN agg a ON a.layout = nm.layout
    """,
)
def q284_sortedness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ORDER VERIFICATION — trust-but-verify for every
    operator that assumes sorted input (merge joins, binary-searchable
    files, the q278 sorted-write contract, as-of lookups): count
    adjacent inversions of l_shipdate under a claimed layout order
    WITHOUT a global window. Each layout's position comes from ONE
    distributed_rank pass; the adjacent pair (r, r+1) is then formed
    by an EQUI self-join on rank offset — a balanced hash shuffle, vs
    the single-partition funnel ANSI lag() OVER (ORDER BY ...) plans
    at scale (the oracle uses exactly that lag, which is fine at
    DuckDB's scale and is the semantic definition). Three layouts make
    the audit bind: 'sorted' proves 0 inversions (the q278 writer's
    post-write certificate), 'natural' measures raw ingest disorder,
    and 'month_clustered' — sorted by month only — shows the
    coarse-clustering middle ground (within-month disorder only);
    n_monotone_runs = inversions + 1 is the merge-pass count an
    external sort of the layout would need. Scale shape per layout:
    one rank (two balanced exchanges) + one equi join on consecutive
    ranks + a map-combined 1-row aggregate; union of three bounded
    rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("sm"),
    )
    orders = {
        "natural": [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        "sorted": [
            F.col("sd").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        "month_clustered": [
            F.col("sm").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
    }
    # n_rows comes from the relation itself (one bounded count action),
    # not pairs+1 — pairs+1 claims 1 row on EMPTY input, and the ratio
    # denominator needs the GREATEST clamp so a 0/1-row table still
    # certifies (ADVICE r12). n_total is the same for all three layouts.
    n_total = li.count()
    inv_sum = F.coalesce(
        F.sum(F.when(F.col("a.sd") > F.col("b.sd"), 1).otherwise(0)),
        F.lit(0),
    ).cast("bigint")
    out = []
    for layout, order in orders.items():
        ranked = relational.distributed_rank(li, order, rank_col="_r").select(
            "_r", "sd"
        )
        pairs = ranked.alias("a").join(
            ranked.alias("b"), F.col("a._r") == F.col("b._r") - 1
        )
        out.append(
            pairs.agg(
                F.lit(layout).alias("layout"),
                F.lit(n_total).cast("bigint").alias("n_rows"),
                inv_sum.alias("n_adjacent_inversions"),
                (inv_sum + 1 if n_total > 0 else F.lit(0))
                .cast("bigint")
                .alias("n_monotone_runs"),
                F.expr(
                    "CAST((1000000 * COALESCE(SUM(CASE WHEN a.sd > b.sd"
                    f" THEN 1 ELSE 0 END), 0)) div {max(n_total - 1, 1)}"
                    " AS BIGINT)"
                ).alias("inversion_ratio_e6"),
            )
        )
    return out[0].unionByName(out[1]).unionByName(out[2])


_Q287_BIN_BYTES = 65_536  # target logical bytes per compacted file


@_q(
    "q287_compaction_execute",
    f"""
    WITH f AS (
      SELECT CAST(doc_id // 16 AS BIGINT) AS m,
             CAST(SUM(n_chars) AS BIGINT) AS bytes,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS sum_docid
      FROM documents GROUP BY 1
    ),
    pl AS (
      SELECT m, bytes, n_docs, sum_docid,
             CAST(SUM(bytes) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                  - bytes AS BIGINT) AS pre
      FROM f
    )
    SELECT CAST(pre // {_Q287_BIN_BYTES} AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_input_files,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           CAST(SUM(sum_docid) AS BIGINT) AS sum_docid,
           CAST(MIN(m) AS BIGINT) AS first_m,
           CAST(MAX(m) AS BIGINT) AS last_m
    FROM pl GROUP BY 1
    """,
)
def q287_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTION — q257 plans the binpack, this
    entry RUNS it and certifies the rewrite (the predict->execute->
    measure loop q278 closed for zone maps, applied to compaction; the
    VERDICT r12 Next #5c item): the documents corpus is written as the
    pathological small-file layout (one parquet file per doc_id-div-16
    micro-file — q257's inventory granularity), the prefix-sum binpack
    assigns contiguous micro-files to {_Q287_BIN_BYTES}-logical-byte
    bins, a bin-keyed rewrite produces one file per bin, and THREE
    verifications gate the result, all raising ValueError (never
    assert) on mismatch: (1) the before-layout re-read must reproduce
    the inventory per micro-file, (2) the after-layout re-read must
    reproduce every bin's row count / byte total / doc_id checksum —
    compaction must move bytes, never change them — and (3) an
    EXECUTOR-SIDE parquet footer walk (parquet_footer_stats:
    binaryFile listing + pyarrow inside mapInPandas, the driver never
    opens a footer) must show exactly ONE file per bin whose footer
    row count equals the bin's plan. Scale shape: inventory collapses
    the corpus at the first groupBy; the prefix sum rides ONE
    distributed_rank cumsum pass (no global window); each bin's
    rewrite is one task of an ordinary hash exchange on bin_id; every
    verification is a distributed re-read aggregated to bounded
    cardinality before a 1-row mismatch count reaches the driver. The
    reference shapes files only at write time via maxRecordsPerFile
    (CM:124-133); this is the after-the-fact OPTIMIZE a lakehouse
    actually operates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = _scratch_dir(spark, "q287", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    before, after = os.path.join(base, "before"), os.path.join(base, "after")

    docs_m = docs.withColumn("m", F.expr("doc_id div 16").cast("bigint"))
    f_inv = docs_m.groupBy("m").agg(
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_docid"),
    )
    plan = (
        distributed_rank(
            f_inv,
            [F.col("m").asc()],
            rank_col="_r",
            cumsum_cols={"bytes": "cum"},
        )
        .withColumn("pre", (F.col("cum") - F.col("bytes")).cast("bigint"))
        .withColumn("bin_id", F.expr(f"pre div {_Q287_BIN_BYTES}"))
    )
    # the pathological input: one physical file per micro-file.
    # One write TASK per micro-file (optimization round, guide §2.6
    # stragglers/idle capacity): with the session's 32 shuffle
    # partitions each task wrote ~10 partition directories SERIALLY and
    # the per-file create/commit latency (measured ~16 ms under gVisor)
    # stacked up — 5.5 s for 313 dirs; at one dir per task the same
    # latency overlaps across the executor pool (3.8 s measured). The
    # task count derives from the query's own inventory (|micro-files|,
    # a bounded, already-cached relation), capped for sanity at huge
    # scale; the written bytes and layout are identical.
    n_m = plan.count()
    (
        docs_m.repartition(min(max(n_m, 1), 10_000), F.col("m"))
        .sortWithinPartitions("m", "doc_id")
        .write.partitionBy("m")
        .parquet(before)
    )
    # EXECUTE the plan: bin-keyed rewrite, one file per bin
    assign = plan.select("m", "bin_id")
    (
        docs_m.join(assign, "m")
        .repartition(F.col("bin_id"))
        .sortWithinPartitions("bin_id", "doc_id")
        .write.partitionBy("bin_id")
        .parquet(after)
    )

    def _mismatches(lhs: DataFrame, rhs: DataFrame, key: str, cols: list[str]) -> int:
        j = lhs.join(rhs, key, "full_outer")
        cond = F.lit(False)
        for c in cols:
            cond = cond | ~F.col(f"l_{c}").eqNullSafe(F.col(f"r_{c}"))
        return j.select(
            F.sum(F.when(cond, 1).otherwise(0)).alias("bad")
        ).collect()[0]["bad"]

    # (1) before-layout re-read == inventory, per micro-file
    b_re = (
        spark.read.parquet(before)
        .groupBy(F.col("m").cast("bigint").alias("m"))
        .agg(
            F.sum("n_chars").cast("bigint").alias("l_bytes"),
            F.count(F.lit(1)).cast("bigint").alias("l_n_docs"),
            F.sum("doc_id").cast("bigint").alias("l_sum_docid"),
        )
    )
    inv_r = f_inv.select(
        "m",
        F.col("bytes").alias("r_bytes"),
        F.col("n_docs").alias("r_n_docs"),
        F.col("sum_docid").alias("r_sum_docid"),
    )
    bad = _mismatches(b_re, inv_r, "m", ["bytes", "n_docs", "sum_docid"])
    if bad:
        raise ValueError(f"before-layout drift: {bad} micro-files mismatch")
    # bin-level plan rollup (the result, and verification baseline)
    bins = plan.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("bin_bytes"),
        F.sum("sum_docid").cast("bigint").alias("sum_docid"),
        F.min("m").cast("bigint").alias("first_m"),
        F.max("m").cast("bigint").alias("last_m"),
    )
    # (2) after-layout re-read == plan bins: bytes moved, nothing changed
    a_re = (
        spark.read.parquet(after)
        .groupBy(F.col("bin_id").cast("bigint").alias("bin_id"))
        .agg(
            F.sum("n_chars").cast("bigint").alias("l_bin_bytes"),
            F.count(F.lit(1)).cast("bigint").alias("l_n_docs"),
            F.sum("doc_id").cast("bigint").alias("l_sum_docid"),
        )
    )
    bins_r = bins.select(
        "bin_id",
        F.col("bin_bytes").alias("r_bin_bytes"),
        F.col("n_docs").alias("r_n_docs"),
        F.col("sum_docid").alias("r_sum_docid"),
    )
    bad = _mismatches(a_re, bins_r, "bin_id", ["bin_bytes", "n_docs", "sum_docid"])
    if bad:
        raise ValueError(f"after-layout drift: {bad} bins mismatch")
    # (3) executor-side footer walk: one file per bin, footer row count
    # equals the plan — the driver sees only the 1-row mismatch count
    fs = (
        parquet_footer_stats(spark, after)
        .withColumn(
            "bin_id",
            F.regexp_extract("path", r"bin_id=(\d+)", 1).cast("bigint"),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("l_n_files"),
            F.sum("n_rows").cast("bigint").alias("l_footer_rows"),
        )
    )
    fbins = bins.select(
        "bin_id",
        F.lit(1).cast("bigint").alias("r_n_files"),
        F.col("n_docs").alias("r_footer_rows"),
    )
    bad = _mismatches(fs, fbins, "bin_id", ["n_files", "footer_rows"])
    if bad:
        raise ValueError(f"footer drift: {bad} bins mismatch")
    return bins


# q288 bloom geometry: 1100 words x 60 usable bits = 66,000 bits/zone.
# 60 bits per word (not 64) keeps every set bit out of the int64 sign
# position, so `1 << bit` is portable across engines with no two's-
# complement spelling hazards. k = 3 salted md5 hashes.
_Q288_WORDS = 1_100
_Q288_BITS = _Q288_WORDS * 60
_Q288_SALTS = ("b0:", "b1:", "b2:")
_Q288_PROBES = 40


@_q(
    "q288_bloom_zone_pruning",
    f"""
    WITH li AS (
      SELECT l_partkey,
             row_number() OVER (ORDER BY CAST(l_shipdate AS DATE),
                                l_orderkey, l_linenumber) - 1 AS rn
      FROM lineitem
    ),
    zk AS (
      SELECT DISTINCT CAST(rn // {_Q270_ZONE_ROWS} AS BIGINT) AS z,
             l_partkey AS pk
      FROM li
    ),
    h AS (SELECT unnest(['{"', '".join(_Q288_SALTS)}']) AS salt),
    bits AS (
      SELECT z,
             CAST(('0x' || substr(md5(h.salt || CAST(pk AS VARCHAR)),
                                  18, 15)) AS BIGINT) % {_Q288_BITS} AS pos
      FROM zk CROSS JOIN h
    ),
    bloom AS (
      SELECT z, CAST(pos // 60 AS BIGINT) AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 60 AS INT)) AS bw
      FROM bits GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(l_partkey) AS maxpk FROM lineitem),
    probes AS (
      SELECT CAST(t.i AS BIGINT) AS probe_id,
             1 + (CAST(t.i AS BIGINT) * 104729)
                 % (2 * (SELECT maxpk FROM mx)) AS key
      FROM range(0, {_Q288_PROBES}) t(i)
    ),
    pbits AS (
      SELECT probe_id, key,
             CAST(('0x' || substr(md5(h.salt || CAST(key AS VARCHAR)),
                                  18, 15)) AS BIGINT) % {_Q288_BITS} AS pos
      FROM probes CROSS JOIN h
    ),
    zs AS (SELECT DISTINCT z FROM zk),
    checks AS (
      SELECT p.probe_id, p.key, zs.z,
             CASE WHEN b.bw IS NOT NULL
                   AND ((b.bw >> CAST(p.pos % 60 AS INT)) & 1) = 1
                  THEN 1 ELSE 0 END AS hit
      FROM pbits p CROSS JOIN zs
      LEFT JOIN bloom b ON b.z = zs.z AND b.word = CAST(p.pos // 60 AS BIGINT)
    ),
    zpass AS (
      SELECT probe_id, key, z,
             CASE WHEN SUM(hit) = {len(_Q288_SALTS)} THEN 1 ELSE 0 END
               AS bloom_pass
      FROM checks GROUP BY 1, 2, 3
    ),
    act AS (SELECT DISTINCT p.probe_id, zk.z
            FROM probes p JOIN zk ON zk.pk = p.key)
    SELECT zp.probe_id,
           CAST(MAX(zp.key) AS BIGINT) AS probe_key,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(zp.bloom_pass) AS BIGINT) AS n_bloom_pass,
           CAST(COUNT(a.z) AS BIGINT) AS n_actual_zones,
           CAST(SUM(zp.bloom_pass) - COUNT(a.z) AS BIGINT)
             AS n_false_positive_zones,
           CAST((1000000 * (COUNT(*) - SUM(zp.bloom_pass))) // COUNT(*)
                AS BIGINT) AS skip_ratio_e6
    FROM zpass zp LEFT JOIN act a ON a.probe_id = zp.probe_id AND a.z = zp.z
    GROUP BY zp.probe_id
    """,
)
def q288_bloom_zone_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone BLOOM-FILTER pruning for point lookups — the MEMBERSHIP
    half of the data-skipping story, completing the triad with q270/
    q278 (min/max zone maps) and q279 (z-order): on a shipdate-sorted
    layout, l_partkey is scattered uniformly across zones, so min/max
    stats prune NOTHING for a partkey point lookup — exactly the gap
    Delta/Iceberg bloom-filter indexes exist for. Each 10,000-row zone
    gets a 66,000-bit bloom (1100 x 60-bit words — 60 usable bits per
    word keeps set bits out of the int64 sign position, the portable
    spelling; k=3 salted md5 hashes, the q274/q162 cross-engine hash
    idiom), built DISTRIBUTIVELY as a bit_or aggregate over the zone's
    distinct keys. 40 deterministic probe keys spread over twice the
    key domain (so ~half are absent — where blooms shine, skipping
    every zone) are then checked against every zone's bloom, and the
    audit reports per probe: zones passing the bloom, zones ACTUALLY
    containing the key (exact join — no false negative is possible by
    construction, pinned in pytest), false-positive zones (measured,
    not assumed: the rate follows the geometry from the zone's DISTINCT
    key occupancy — ~8.5k keys/zone at sf0.1 gives m/n~7.8, k=3 ->
    ~3%, observed as 54 FP zones across the probe battery; sparser
    zones at smaller sf give ~0), and the skip ratio. Scale shape: one distributed_rank pass (no
    global window), one (z, pk) distinct, a x3 literal explode, one
    map-combined bit_or groupBy to |zones| x 1100 metadata-sized bloom
    rows — the index is ~8 KB per 10k-row zone, the same
    bytes-per-row budget a real bloom index pays; probe-side work is
    |probes| x |zones| spine rows, driver sees only the 40-row audit.
    The probe spine is METADATA-proportional, not constant: |zones| =
    |rows| / 10,000, so at 100 TB the spine is ~10^8 rows — the honest
    distributed cost of consulting every zone's bloom (the same bytes
    a real scanner's index read pays; the small probe side broadcasts),
    and a production engine would additionally shard the bloom index by
    zone key-range so each probe consults only its range's shard."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    zoned = distributed_rank(
        li,
        [F.col("sd").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="_r",
    ).select(
        F.expr(f"(_r - 1) div {_Q270_ZONE_ROWS}").cast("bigint").alias("z"),
        F.col("l_partkey").alias("pk"),
    )
    zk = zoned.distinct()
    salts = F.explode(F.array(*[F.lit(s) for s in _Q288_SALTS]))

    def _pos(salt_col: Column, key_col: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(salt_col, key_col.cast("string"))), 18, 15
                ),
                16,
                10,
            ).cast("bigint")
            % _Q288_BITS
        )

    bits = zk.withColumn("salt", salts).select(
        "z", _pos(F.col("salt"), F.col("pk")).alias("pos")
    )
    bloom = bits.groupBy(
        "z", F.expr("pos div 60").cast("bigint").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 60 AS INT)))")
        .alias("bw")
    )
    mx = li.agg(F.max("l_partkey").cast("bigint").alias("maxpk"))
    probes = (
        spark.range(_Q288_PROBES)
        .select(F.col("id").cast("bigint").alias("probe_id"))
        .crossJoin(F.broadcast(mx))
        .select(
            "probe_id",
            (1 + (F.col("probe_id") * 104729) % (2 * F.col("maxpk"))).alias(
                "key"
            ),
        )
    )
    pbits = probes.withColumn("salt", salts).select(
        "probe_id", "key", _pos(F.col("salt"), F.col("key")).alias("pos")
    )
    zs = zk.select("z").distinct()
    # bounded spine: |probes| x k x |zones| rows (metadata-sized both
    # sides — the sanctioned small-crossJoin form)
    checks = (
        pbits.crossJoin(zs)
        .join(
            bloom.select(
                F.col("z").alias("bz"), "word", "bw"
            ),
            (F.col("z") == F.col("bz"))
            & (F.col("word") == F.expr("pos div 60")),
            "left",
        )
        .select(
            "probe_id",
            "key",
            "z",
            F.when(
                F.col("bw").isNotNull()
                & (
                    F.expr("(bw >> CAST(pos % 60 AS INT)) & 1") == 1
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    zpass = checks.groupBy("probe_id", "key", "z").agg(
        F.when(F.sum("hit") == len(_Q288_SALTS), 1).otherwise(0).alias(
            "bloom_pass"
        )
    )
    act = (
        probes.join(zk, probes.key == zk.pk)
        .select("probe_id", "z")
        .distinct()
        .select(F.col("probe_id").alias("a_pid"), F.col("z").alias("a_z"))
    )
    return (
        zpass.join(
            act,
            (F.col("probe_id") == F.col("a_pid")) & (F.col("z") == F.col("a_z")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.max("key").cast("bigint").alias("probe_key"),
            F.count(F.lit(1)).cast("bigint").alias("n_zones"),
            F.sum("bloom_pass").cast("bigint").alias("n_bloom_pass"),
            F.count("a_z").cast("bigint").alias("n_actual_zones"),
            (F.sum("bloom_pass") - F.count("a_z"))
            .cast("bigint")
            .alias("n_false_positive_zones"),
            F.expr(
                "CAST((1000000 * (COUNT(1) - SUM(bloom_pass))) div COUNT(1)"
                " AS BIGINT)"
            ).alias("skip_ratio_e6"),
        )
    )
