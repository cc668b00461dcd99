"""Warehouse maintenance: CDC, SCD2, point-in-time lookups, snapshots, view
maintenance, erasure, replica reconciliation and sharding."""

from __future__ import annotations

import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import timeseries
from spark_lakehouse_medallion_pipeline_spark.operators.relational import apply_cdc
from spark_lakehouse_medallion_pipeline_spark.operators.timeseries import scd2_intervals
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    _q,
    _scratch_dir,
    _t,
    cents,
)
from spark_lakehouse_medallion_pipeline_spark.sources.io import (
    merge_upsert_snapshot,
    read_snapshot,
    snapshot_versions,
    vacuum_snapshots,
    write_snapshot,
)


@_q(
    "q128_cdc_apply",
    """
    WITH ch AS (
      SELECT o_custkey AS c_custkey,
             'updated_' || CAST(o_custkey AS VARCHAR) AS c_name,
             o_totalprice AS c_acctbal,
             o_orderkey AS seq,
             CASE WHEN o_custkey % 97 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
    ), w AS (
      SELECT * FROM ch
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) = 1
    ), surv AS (
      SELECT c.c_custkey, c.c_name, c.c_acctbal
      FROM customer c ANTI JOIN w USING (c_custkey)
    ), ups AS (
      SELECT c_custkey, c_name, c_acctbal FROM w WHERE op <> 'D'
    )
    SELECT c_custkey, c_name,
           CAST(ROUND(c_acctbal*100) AS BIGINT) AS acctbal_cents
    FROM (SELECT * FROM surv UNION ALL SELECT * FROM ups)
    """,
)
def q128_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply (warehouse maintenance): compact a CDC
    batch (derived deterministically from orders: highest order per
    customer wins; custkey % 97 == 0 arrives as a delete) and merge it
    onto the customer snapshot — late-arriving lower-seq ops ignored,
    deletes removing keys, upserts replacing rows, untouched rows
    surviving. The full post-merge state is value-checked. See
    operators.relational.apply_cdc for the window-compact + anti-join
    + union dataflow (what a Delta MERGE compiles to, format-agnostic)."""
    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    o = _t(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("updated_"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_custkey") % 97 == 0, "D").otherwise("U").alias("op"),
    )
    merged = apply_cdc(base, changes, key="c_custkey", seq_col="seq")
    return merged.select(
        "c_custkey", "c_name", cents(F.col("c_acctbal")).alias("acctbal_cents")
    )


@_q(
    "q129_scd2_history",
    """
    SELECT user_id,
           CAST(ROUND(value*100) AS BIGINT) AS value_cents,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
    FROM events WHERE event_type = 'purchase'
    """,
)
def q129_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build (warehouse versioning):
    each user's purchase stream becomes validity intervals
    [valid_from, valid_to) closed by the next change, latest row open
    with is_current — one lead() window, no self-join
    (operators.timeseries.scd2_intervals). Timestamps round-trip the
    NTZ read path; the value rides as exact cents."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ch = ev.select("user_id", "ts", cents(F.col("value")).alias("value_cents"))
    return scd2_intervals(ch, key="user_id", ts_col="ts", attr_cols=["value_cents"])


@_q(
    "q130_point_in_time",
    """
    WITH hist AS (
      SELECT user_id,
             CAST(ROUND(value*100) AS BIGINT) AS value_cents,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id, h.value_cents AS feature_value_cents
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN hist h
      ON c.user_id = h.user_id
     AND c.ts >= h.valid_from
     AND (h.valid_to IS NULL OR c.ts < h.valid_to)
    """,
)
def q130_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature lookup (the feature-store join): each click
    reads the purchase-history version VALID AT ITS TIMESTAMP from the
    q129 SCD2 intervals — no leakage from the future, no stale reads
    from before the version opened. Implemented as the as-of composition
    (union + carry-forward window, ONE shuffle — the interval
    containment against half-open [valid_from, valid_to) is exactly
    'latest valid_from <= ts', so no interval join is needed); inner
    semantics drop clicks before a user's first version, matching the
    oracle's containment join."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    hist = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", cents(F.col("value")).alias("value_cents")
    )
    joined = timeseries.asof_join_backward(
        clicks, hist, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["value_cents"],
    )
    return joined.filter(F.col("asof_value_cents").isNotNull()).select(
        "event_id", "user_id",
        F.col("asof_value_cents").alias("feature_value_cents"),
    )


@_q(
    "q254_snapshot_time_travel",
    """
    WITH v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
    cur AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1
      UNION ALL
      SELECT doc_id, n_chars + 1000 FROM documents WHERE doc_id % 6 = 0
      UNION ALL
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id % 3 = 0 AND doc_id % 6 <> 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n_v1,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM v1) AS sum_v1_nchars,
           (SELECT CAST(SUM(doc_id) AS BIGINT) FROM v1) AS sum_v1_doc_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cur) AS n_current,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM cur)
             AS sum_current_nchars,
           (SELECT CAST(SUM(doc_id) AS BIGINT) FROM cur)
             AS sum_current_doc_id
    """,
)
def q254_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table time travel end to end — the warehouse-maintenance
    family's first VALUE-ORACLED battery row (write_snapshot /
    merge_upsert_snapshot / read_snapshot previously had pytest-only
    evidence): commit v1 (every doc_id % 3 = 0), then a MERGE commit
    that both INSERTS the % 3 = 1 slice and UPDATES the % 6 = 0 rows
    (n_chars + 1000), then read BOTH versions — v1 via time travel must
    be byte-stable after the second commit (the reader-isolation
    guarantee the atomic manifest flip provides), and current must
    reflect exactly the merge semantics (updates replace, inserts
    append, untouched rows survive). The audit row carries counts and
    checksums of both versions, all derivable from the source parquet,
    so the oracle proves the whole commit/merge/travel path. Scale
    shape: two snapshot commits (distributed writes + one left-anti
    merge join), two footer-pruned reads, two 1-row aggregates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = _scratch_dir(spark, "q254_snap", sf_dir)
    # fresh table per call: write_snapshot always appends a version, and
    # this query's contract is exactly two commits
    shutil.rmtree(path, ignore_errors=True)
    v1 = docs.filter(F.col("doc_id") % 3 == 0)
    # Side-effecting commits bound to variables FIRST, asserted after —
    # a bare `assert write_snapshot(...) == 1` is elided entirely under
    # python -O, silently skipping the commit itself (same fix as q264)
    c1 = write_snapshot(spark, v1, path)
    assert c1 == 1, c1
    updates = docs.filter(F.col("doc_id") % 3 == 1).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id", (F.col("n_chars") + 1000).cast("bigint").alias("n_chars")
        )
    )
    c2 = merge_upsert_snapshot(spark, updates, path, ["doc_id"])
    assert c2 == 2, c2
    a1 = read_snapshot(spark, path, version=1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v1"),
        F.sum("n_chars").cast("bigint").alias("sum_v1_nchars"),
        F.sum("doc_id").cast("bigint").alias("sum_v1_doc_id"),
    )
    a2 = read_snapshot(spark, path).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_current"),
        F.sum("n_chars").cast("bigint").alias("sum_current_nchars"),
        F.sum("doc_id").cast("bigint").alias("sum_current_doc_id"),
    )
    return a1.crossJoin(F.broadcast(a2))


@_q(
    "q262_erasure_cascade_audit",
    f"""
    WITH tomb_cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    cust AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_subjects
      FROM tomb_cust
    ),
    ords AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_subjects
      FROM orders WHERE o_custkey % 97 = 0
    ),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_subjects
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 97 = 0
    ),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subjects
      FROM events WHERE user_id % 97 = 0
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM customer) AS t_cust,
             (SELECT COUNT(*) FROM orders) AS t_ord,
             (SELECT COUNT(*) FROM lineitem) AS t_li,
             (SELECT COUNT(*) FROM events) AS t_ev
    )
    SELECT * FROM (
      SELECT 'customer' AS relation, cust.n_rows, cust.n_subjects,
             CAST((1000000 * cust.n_rows) // tot.t_cust AS BIGINT) AS pct_e6
      FROM cust, tot
      UNION ALL
      SELECT 'orders', ords.n_rows, ords.n_subjects,
             CAST((1000000 * ords.n_rows) // tot.t_ord AS BIGINT)
      FROM ords, tot
      UNION ALL
      SELECT 'lineitem', li.n_rows, li.n_subjects,
             CAST((1000000 * li.n_rows) // tot.t_li AS BIGINT)
      FROM li, tot
      UNION ALL
      SELECT 'events', ev.n_rows, ev.n_subjects,
             CAST((1000000 * ev.n_rows) // tot.t_ev AS BIGINT)
      FROM ev, tot
    )
    """,
)
def q262_erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (DSR) blast-radius audit — given a
    deletion batch (here the deterministic synthetic cohort custkey %
    97 = 0), report how many rows each relation must erase INCLUDING
    the foreign-key cascade (customer -> orders -> lineitem, plus the
    behavioral events keyed by user id), with the affected-subject
    count and the e6 fraction of each table. This is the sizing query
    every GDPR/CCPA erasure pipeline runs before executing: the
    lineitem leg is the real cascade (no customer key on lineitem — it
    must route through orders) as a plain equi-join with NO forced
    broadcast — the tombstone slice is ~1% of orders, which grows
    linearly with the data (tens of GB at the 100 TB design point,
    over Spark's broadcast hard cap), so strategy choice is left to
    AQE: at small SF it broadcasts anyway, at scale it picks a shuffle
    join on the pushed-down-filtered slice. The key-mod tombstone
    predicate is
    deterministic so it PUSHES DOWN to the customer/orders/events
    scans; totals are map-combined counts. All counts exact; one trunc
    division per row for the fraction."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")

    def audit(rel: str, hit: DataFrame, subj_col: str, total_df: DataFrame):
        n = hit.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(subj_col).cast("bigint").alias("n_subjects"),
        )
        t = total_df.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        return (
            n.crossJoin(F.broadcast(t))
            .select(
                F.lit(rel).alias("relation"),
                "n_rows",
                "n_subjects",
                F.expr("CAST((1000000 * n_rows) div t AS BIGINT)").alias(
                    "pct_e6"
                ),
            )
        )

    tomb_orders = o.filter(F.col("o_custkey") % 97 == 0)
    # Deliberately NO broadcast hint: tomb_orders is data-proportional
    # (~1% of orders), so a forced broadcast is a driver OOM at scale.
    li_hit = li.join(
        tomb_orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    return (
        audit("customer", cu.filter(F.col("c_custkey") % 97 == 0), "c_custkey", cu)
        .unionByName(audit("orders", tomb_orders, "o_custkey", o))
        .unionByName(audit("lineitem", li_hit, "o_custkey", li))
        .unionByName(
            audit("events", ev.filter(F.col("user_id") % 97 == 0), "user_id", ev)
        )
    )


@_q(
    "q264_snapshot_retention_vacuum",
    """
    WITH cur AS (
      SELECT doc_id,
             n_chars + CASE WHEN doc_id % 8 = 0 THEN 500 ELSE 0 END
               AS n_chars
      FROM documents
    ),
    v3 AS (SELECT * FROM cur WHERE doc_id % 4 IN (0, 1, 2))
    SELECT CAST(4 AS BIGINT) AS n_versions_committed,
           CAST(2 AS BIGINT) AS n_versions_dropped,
           CAST(2 AS BIGINT) AS n_versions_retained,
           CAST(1 AS BIGINT) AS expired_read_raises,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cur) AS n_current,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM cur)
             AS sum_cur_nchars_pre,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM cur)
             AS sum_cur_nchars_post,
           (SELECT CAST(SUM(doc_id) AS BIGINT) FROM cur) AS sum_cur_doc_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v3) AS n_v3_retained,
           (SELECT CAST(SUM(n_chars) AS BIGINT) FROM v3) AS sum_v3_nchars
    """,
)
def q264_snapshot_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RETENTION/VACUUM — the warehouse-maintenance arm q254
    left open (q254 proves commit/merge/travel; this proves expiry):
    commit four versions (v1 = doc_id%4=0; v2 merges in the %4=1
    slice; v3 updates %8=0 rows (+500 chars) and inserts %4=2; v4
    inserts %4=3), checksum the current version, then VACUUM with
    keep=2 — Delta's retention contract in miniature. The audit row
    proves (a) exactly versions 1 and 2 were expired and their
    directories reclaimed, (b) the current version is BYTE-UNAFFECTED
    (pre- and post-vacuum checksums are separate columns the oracle
    forces equal), (c) the oldest RETAINED version (v3) still
    time-travels with its exact merge-era content, and (d) reading an
    expired version raises cleanly (FileNotFoundError naming the
    vacuumed versions) rather than a partial scan. Every number is
    derivable from the source parquet, so the oracle certifies the
    whole commit->merge->vacuum->travel path. Scale shape: four
    snapshot commits (distributed writes + bounded left-anti merge
    joins), vacuum is driver-side directory metadata (bounded by
    version count, never data size), three 1-row aggregates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = _scratch_dir(spark, "q264_snap", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    # Side-effecting commits bound to variables FIRST, asserted after
    # (ADVICE r11: a bare `assert write_snapshot(...) == 1` is elided
    # entirely under python -O, silently skipping the commit itself)
    c1 = write_snapshot(spark, docs.filter(F.col("doc_id") % 4 == 0), path)
    assert c1 == 1, c1
    c2 = merge_upsert_snapshot(
        spark, docs.filter(F.col("doc_id") % 4 == 1), path, ["doc_id"]
    )
    assert c2 == 2, c2
    v3_updates = (
        docs.filter(F.col("doc_id") % 8 == 0)
        .select("doc_id", (F.col("n_chars") + 500).cast("bigint").alias("n_chars"))
        .unionByName(docs.filter(F.col("doc_id") % 4 == 2))
    )
    c3 = merge_upsert_snapshot(spark, v3_updates, path, ["doc_id"])
    assert c3 == 3, c3
    c4 = merge_upsert_snapshot(
        spark, docs.filter(F.col("doc_id") % 4 == 3), path, ["doc_id"]
    )
    assert c4 == 4, c4
    n_committed = len(snapshot_versions(path))
    # checksum BEFORE vacuum (eager 1-row collect — the "before" must be
    # measured before the deletes, not a lazy plan evaluated after)
    pre = read_snapshot(spark, path).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s_nchars"),
        F.sum("doc_id").cast("bigint").alias("s_docid"),
    ).first()
    dropped = vacuum_snapshots(path, keep=2)
    n_retained = len(snapshot_versions(path))
    try:
        read_snapshot(spark, path, version=dropped[0] if dropped else 1)
        raised = 0
    except FileNotFoundError:
        raised = 1
    post = read_snapshot(spark, path).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_current"),
        F.sum("n_chars").cast("bigint").alias("sum_cur_nchars_post"),
        F.sum("doc_id").cast("bigint").alias("sum_cur_doc_id"),
    )
    v3 = read_snapshot(spark, path, version=3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v3_retained"),
        F.sum("n_chars").cast("bigint").alias("sum_v3_nchars"),
    )
    return post.crossJoin(F.broadcast(v3)).select(
        F.lit(n_committed).cast("bigint").alias("n_versions_committed"),
        F.lit(len(dropped)).cast("bigint").alias("n_versions_dropped"),
        F.lit(n_retained).cast("bigint").alias("n_versions_retained"),
        F.lit(raised).cast("bigint").alias("expired_read_raises"),
        "n_current",
        F.lit(int(pre["s_nchars"])).cast("bigint").alias("sum_cur_nchars_pre"),
        "sum_cur_nchars_post",
        "sum_cur_doc_id",
        "n_v3_retained",
        "sum_v3_nchars",
    )


@_q(
    "q269_incremental_view_maintenance",
    f"""
    WITH e AS (
      SELECT event_type, CAST(user_id % 100 AS BIGINT) AS bucket,
             CASE WHEN ts < TIMESTAMP '2024-01-25' THEN 1 ELSE 0 END
               AS is_base,
             {SC("value")} AS val_c
      FROM events
    )
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(val_c) AS BIGINT) AS sum_value_c,
           CAST(SUM(is_base) AS BIGINT) AS n_base,
           CAST(COUNT(*) - SUM(is_base) AS BIGINT) AS n_delta
    FROM e GROUP BY 1, 2
    """,
)
def q269_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM) of a gold aggregate — the
    nightly-refresh pattern that makes a 100 TB materialized view
    affordable: the stored MV (here simulated as the pre-cutoff
    aggregate — in production it is persisted state, e.g. a q254
    snapshot table) absorbs an insert-only delta batch by aggregating
    ONLY the delta and merging per key (full-outer join + coalesced
    partial sums — count and sum are the self-maintainable aggregates;
    MIN/MAX and join views need the delete-compensation machinery this
    entry deliberately excludes). The oracle is the full recompute
    over base+delta, so the value-hash match IS the IVM == recompute
    equality proof (the q266 discipline). Complements q128's row-level
    CDC apply: that maintains a TABLE, this maintains an AGGREGATE.
    Scale shape: the delta scan is delta-sized, the merge joins two
    |keys|-bounded aggregates (AQE broadcasts the smaller), and the
    base is never rescanned — the whole point."""
    cutoff = F.lit("2024-01-25").cast("timestamp")
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 100).cast("bigint").alias("bucket"),
        "ts",
        cents(F.col("value")).alias("val_c"),
    )

    def agg(df: DataFrame, n_col: str, s_col: str) -> DataFrame:
        return df.groupBy("event_type", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias(n_col),
            F.sum("val_c").cast("bigint").alias(s_col),
        )

    mv = agg(ev.filter(F.col("ts") < cutoff), "n_base", "s_base")
    delta = agg(ev.filter(F.col("ts") >= cutoff), "n_delta_", "s_delta")
    merged = mv.join(delta, ["event_type", "bucket"], "full_outer")
    z = F.lit(0).cast("bigint")
    nb, nd = F.coalesce("n_base", z), F.coalesce("n_delta_", z)
    return merged.select(
        "event_type",
        "bucket",
        (nb + nd).cast("bigint").alias("n_total"),
        (F.coalesce("s_base", z) + F.coalesce("s_delta", z))
        .cast("bigint")
        .alias("sum_value_c"),
        nb.cast("bigint").alias("n_base"),
        nd.cast("bigint").alias("n_delta"),
    )


def _q274_ring_sql(n_shards: int, alias: str) -> str:
    """The consistent-hash ring as a VALUES-free inline relation: 4
    virtual nodes per shard at md5-60bit positions (the portable-hash
    idiom both engines replay byte-for-byte)."""
    return f"""
    {alias} AS (
      SELECT s.s AS shard, v.v AS vnode,
             CAST(('0x' || substr(md5('node:' || CAST(s.s AS VARCHAR)
                                   || ':' || CAST(v.v AS VARCHAR)),
                                  18, 15)) AS BIGINT) AS pos
      FROM (SELECT unnest(range(0, {n_shards})) AS s) s
      CROSS JOIN (SELECT unnest(range(0, 4)) AS v) v
    )"""


@_q(
    "q274_consistent_hash_rebalance",
    f"""
    WITH {_q274_ring_sql(16, "r16")},
    {_q274_ring_sql(17, "r17")},
    k AS (
      SELECT c_custkey,
             CAST(('0x' || substr(md5('key:' || CAST(c_custkey AS VARCHAR)),
                                  18, 15)) AS BIGINT) AS kpos
      FROM customer
    ),
    a16 AS (
      SELECT k.c_custkey,
             COALESCE(MIN(r.pos) FILTER (WHERE r.pos >= k.kpos),
                      (SELECT MIN(pos) FROM r16)) AS tpos
      FROM k CROSS JOIN r16 r GROUP BY k.c_custkey, k.kpos
    ),
    a17 AS (
      SELECT k.c_custkey,
             COALESCE(MIN(r.pos) FILTER (WHERE r.pos >= k.kpos),
                      (SELECT MIN(pos) FROM r17)) AS tpos
      FROM k CROSS JOIN r17 r GROUP BY k.c_custkey, k.kpos
    ),
    asg AS (
      SELECT a16.c_custkey,
             s16.shard AS shard_before, s17.shard AS shard_after
      FROM a16
      JOIN r16 s16 ON a16.tpos = s16.pos
      JOIN a17 ON a16.c_custkey = a17.c_custkey
      JOIN r17 s17 ON a17.tpos = s17.pos
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN shard_before <> shard_after
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(SUM(CASE WHEN shard_before <> shard_after
                          AND shard_after = 16
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new,
           CAST((1000000 * SUM(CASE WHEN shard_before <> shard_after
                                    THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS moved_ratio_e6,
           CAST(COUNT(DISTINCT shard_after) AS BIGINT) AS n_shards_after
    FROM asg
    """,
)
def q274_consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing shard assignment + rebalancing audit — the
    sharding math under every distributed cache/store this engine
    would feed at 100 TB: customers hash onto a 2^60 ring (md5-60bit,
    the portable idiom), shards own arcs via 4 virtual nodes each, a
    key belongs to the first vnode clockwise. The audit adds a 17th
    shard and measures the reshuffle: the consistent-hashing CONTRACT
    says every moved key moves TO the new shard (n_moved ==
    n_moved_to_new — the oracle hash-checks this equality as data) and
    the moved fraction is ~1/17 of keys (vs ~16/17 for mod-N
    sharding — the whole point), emitted as exact moved_ratio_e6.
    Scale shape: the rings are 64/68-row broadcasts; assignment is a
    per-key aggregate over the broadcast cross join (|keys| x 68,
    map-side combined to one row per key), then two 64/68-row joins
    map positions back to shards. The 60-bit positions are collision-
    free on these fixed rings (pinned in pytest), so the position
    join is exact."""
    cu = _t(spark, sf_dir, "customer")
    h60 = lambda col: F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast(  # noqa: E731
        "bigint"
    )

    def ring(n_shards: int) -> DataFrame:
        s = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
        v = spark.range(4).select(F.col("id").cast("int").alias("vnode"))
        return s.crossJoin(v).select(
            "shard",
            "vnode",
            h60(
                F.concat(
                    F.lit("node:"),
                    F.col("shard").cast("string"),
                    F.lit(":"),
                    F.col("vnode").cast("string"),
                )
            ).alias("pos"),
        )

    k = cu.select(
        "c_custkey",
        h60(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))).alias(
            "kpos"
        ),
    )

    def assign(ring_df: DataFrame, out: str) -> DataFrame:
        wrap = ring_df.agg(F.min("pos").alias("_wrap"))
        a = (
            k.crossJoin(F.broadcast(ring_df.select("pos")))
            .groupBy("c_custkey")
            .agg(
                F.min(F.when(F.col("pos") >= F.col("kpos"), F.col("pos"))).alias(
                    "_t"
                )
            )
            .crossJoin(F.broadcast(wrap))
            .select(
                "c_custkey", F.coalesce("_t", "_wrap").alias("tpos")
            )
        )
        return a.join(
            F.broadcast(ring_df.select("pos", F.col("shard").alias(out))),
            a["tpos"] == F.col("pos"),
        ).select("c_custkey", out)
    asg = assign(ring(16), "shard_before").join(
        assign(ring(17), "shard_after"), "c_custkey"
    )
    moved = F.when(F.col("shard_before") != F.col("shard_after"), 1).otherwise(0)
    return asg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(moved).cast("bigint").alias("n_moved"),
        F.sum(
            F.when(
                (F.col("shard_before") != F.col("shard_after"))
                & (F.col("shard_after") == 16),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_to_new"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN shard_before <> shard_after"
            " THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
        ).alias("moved_ratio_e6"),
        F.countDistinct("shard_after").cast("bigint").alias("n_shards_after"),
    )


@_q(
    "q275_scd2_dimension_history",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id,
             LEAST(CAST(ROUND(value*100) AS BIGINT) // 2500, 19) AS tier
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, tier, ts AS eff_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS eff_to
      FROM ch
    ),
    f AS (
      SELECT user_id, ts, CAST(ROUND(value*100) AS BIGINT) AS val_c
      FROM events WHERE event_type = 'click'
    ),
    pit AS (
      SELECT COALESCE(v.tier, -1) AS tier, f.val_c
      FROM f LEFT JOIN v
        ON f.user_id = v.user_id
       AND f.ts >= v.eff_from
       AND (v.eff_to IS NULL OR f.ts < v.eff_to)
    ),
    dimagg AS (
      SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_versions,
             CAST(SUM(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_current
      FROM v GROUP BY tier
    ),
    factagg AS (
      SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_clicks,
             CAST(SUM(val_c) AS BIGINT) AS sum_click_cents
      FROM pit GROUP BY tier
    )
    SELECT COALESCE(d.tier, fa.tier) AS tier,
           COALESCE(d.n_versions, 0) AS n_versions,
           COALESCE(d.n_current, 0) AS n_current,
           COALESCE(fa.n_clicks, 0) AS n_clicks,
           COALESCE(fa.sum_click_cents, 0) AS sum_click_cents
    FROM dimagg d FULL JOIN factagg fa ON d.tier = fa.tier
    """,
)
def q275_scd2_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension-history build + point-in-time fact join —
    the warehouse pattern completing the q128 CDC / q269 IVM trio: a
    change stream (purchase events, each setting the user's spend
    tier) becomes versioned dimension rows with half-open validity
    [eff_from, eff_to) via lead() over the deterministic (ts, event_id)
    order — eff_to IS NULL marks the current version — and facts
    (click events) join back AS OF their own timestamp: f.ts >=
    eff_from AND (eff_to IS NULL OR f.ts < eff_to). A click before the
    user's first version attributes to tier -1 (the LEFT join's
    honest unattributed bucket); the half-open intervals PARTITION
    each user's timeline, so no fact can double-attribute (two
    versions at an identical change ts yield an empty [ts, ts) first
    interval — still single-attribution). Output merges dimension-side
    (versions, current rows) and fact-side (clicks, exact cents) per
    tier via a full outer join. Scale shape: ONE partitioned window
    over the change stream (shuffle on user_id), the PIT join is a
    SortMergeJoin on user_id with the range predicate as its
    conjunctive post-filter (per-user version count = that user's
    purchase count; unlike a collect_list this is the SPILL-SAFE
    per-key shape — SMJ buffers the matched side in
    ExternalAppendOnlyUnsafeRowArray, which spills to disk, so a
    bot-traffic whale costs time, never an OOM — and q281 shows the
    delta-bounded maintenance path that avoids even that), then two
    map-combined ~|tiers|-row aggregates and a bounded full-outer
    merge."""
    ev = _t(spark, sf_dir, "events")
    ch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.least(
            F.expr("CAST(ROUND(value*100) AS BIGINT) div 2500"),
            F.lit(19).cast("bigint"),
        ).alias("tier"),
    )
    v = ch.select(
        "user_id",
        "tier",
        F.col("ts").alias("eff_from"),
        F.lead("ts")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("eff_to"),
    )
    f = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", cents(F.col("value")).alias("val_c")
    )
    pit = f.join(
        v,
        (f["user_id"] == v["user_id"])
        & (f["ts"] >= v["eff_from"])
        & (v["eff_to"].isNull() | (f["ts"] < v["eff_to"])),
        "left",
    ).select(F.coalesce(v["tier"], F.lit(-1).cast("bigint")).alias("tier"), "val_c")
    dimagg = v.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.sum(F.when(F.col("eff_to").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_current"),
    )
    factagg = pit.groupBy("tier").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.sum("val_c").cast("bigint").alias("sum_click_cents"),
    )
    d, fa = dimagg.alias("d"), factagg.alias("fa")
    return d.join(fa, F.col("d.tier") == F.col("fa.tier"), "full").select(
        F.coalesce(F.col("d.tier"), F.col("fa.tier")).alias("tier"),
        F.coalesce(F.col("d.n_versions"), F.lit(0).cast("bigint")).alias(
            "n_versions"
        ),
        F.coalesce(F.col("d.n_current"), F.lit(0).cast("bigint")).alias("n_current"),
        F.coalesce(F.col("fa.n_clicks"), F.lit(0).cast("bigint")).alias("n_clicks"),
        F.coalesce(F.col("fa.sum_click_cents"), F.lit(0).cast("bigint")).alias(
            "sum_click_cents"
        ),
    )


@_q(
    "q281_scd2_incremental_merge",
    """
    WITH ch AS (
      SELECT user_id, ts, event_id,
             LEAST(CAST(ROUND(value*100) AS BIGINT) // 2500, 19) AS tier
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, tier, ts AS eff_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS eff_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM ch
    """,
)
def q281_scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 INCREMENTAL maintenance — the nightly MERGE that keeps a
    100 TB dimension current without re-windowing its history, proven
    equal to the full rebuild: the stored SCD2 table (pre-cutoff
    purchase versions, q275's build) absorbs a delta batch
    (post-cutoff changes) by (1) windowing ONLY the delta into version
    chains, (2) closing each user's OPEN base row at that user's first
    delta change time via a join against the |delta-users|-bounded
    first-change set — the base history rows are appended UNTOUCHED,
    never re-sorted — and (3) unioning the delta chains on. The oracle
    is the ONE-SHOT rebuild over the full change stream, so the value
    hash IS the incremental==rebuild equality proof (the q269 IVM
    discipline applied to q275's dimension instead of an aggregate).
    Correctness hinges on the batch boundary: every delta ts exceeds
    every base ts (the cutoff split), exactly the contract a
    date-partitioned ingest gives a nightly job. Scale shape: the
    delta window shuffles delta-sized data, the close-out join keys on
    user_id against a delta-bounded right side (AQE broadcasts it),
    closed history is a filter + union — the stored dimension is never
    re-windowed."""
    cutoff = F.lit("2024-01-25").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    ch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.least(
            F.expr("CAST(ROUND(value*100) AS BIGINT) div 2500"),
            F.lit(19).cast("bigint"),
        ).alias("tier"),
    )

    def versions(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            "tier",
            F.col("ts").alias("eff_from"),
            F.lead("ts")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("eff_to"),
        )

    base = versions(ch.filter(F.col("ts") < cutoff))
    delta_v = versions(ch.filter(F.col("ts") >= cutoff))
    first_delta = (
        delta_v.groupBy("user_id").agg(F.min("eff_from").alias("first_chg"))
    )
    # close-out: ONLY open base rows of users present in the delta are
    # touched; closed history passes through untouched
    closed_base = base.join(first_delta, "user_id", "left").select(
        "user_id",
        "tier",
        "eff_from",
        F.when(
            F.col("eff_to").isNull() & F.col("first_chg").isNotNull(),
            F.col("first_chg"),
        )
        .otherwise(F.col("eff_to"))
        .alias("eff_to"),
    )
    merged = closed_base.unionByName(delta_v)
    return merged.select(
        "user_id",
        "tier",
        "eff_from",
        "eff_to",
        F.when(F.col("eff_to").isNull(), 1).otherwise(0).alias("is_current"),
    )


_Q282_BUCKETS = 4096


@_q(
    "q282_replica_divergence_audit",
    f"""
    WITH a AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             l_partkey AS pk, l_suppkey AS sk,
             CAST(ROUND(l_quantity*100) AS BIGINT) AS qc,
             CAST(ROUND(l_extendedprice*100) AS BIGINT) AS pc
      FROM lineitem
    ),
    b AS (
      SELECT ok, ln, pk, sk,
             qc + CASE WHEN ok % 991 = 1 THEN 100 ELSE 0 END AS qc,
             pc
      FROM a WHERE ok % 997 <> 0
    ),
    af AS (
      SELECT ok, ln, pk, sk,
             row_number() OVER (PARTITION BY ok, ln, pk, sk
                                ORDER BY qc, pc) AS seq,
             ('0x' || substr(md5('rck:' || ok || ':' || ln || ':' || pk
                             || ':' || sk || ':' || qc || ':' || pc),
                             25, 8))::BIGINT AS fp,
             ('0x' || substr(md5('rbk:' || ok || ':' || ln || ':' || pk
                             || ':' || sk), 18, 15))::BIGINT
               % {_Q282_BUCKETS} AS bkt
      FROM a
    ),
    bf AS (
      SELECT ok, ln, pk, sk,
             row_number() OVER (PARTITION BY ok, ln, pk, sk
                                ORDER BY qc, pc) AS seq,
             ('0x' || substr(md5('rck:' || ok || ':' || ln || ':' || pk
                             || ':' || sk || ':' || qc || ':' || pc),
                             25, 8))::BIGINT AS fp,
             ('0x' || substr(md5('rbk:' || ok || ':' || ln || ':' || pk
                             || ':' || sk), 18, 15))::BIGINT
               % {_Q282_BUCKETS} AS bkt
      FROM b
    ),
    ba AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_a,
                  CAST(SUM(fp) AS BIGINT) AS s_a
           FROM af GROUP BY bkt),
    bb AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_b,
                  CAST(SUM(fp) AS BIGINT) AS s_b
           FROM bf GROUP BY bkt),
    bj AS (
      SELECT COALESCE(ba.bkt, bb.bkt) AS bkt,
             COALESCE(n_a, 0) AS n_a, COALESCE(s_a, 0) AS s_a,
             COALESCE(n_b, 0) AS n_b, COALESCE(s_b, 0) AS s_b
      FROM ba FULL JOIN bb ON ba.bkt = bb.bkt
    ),
    div AS (SELECT bkt, n_a, n_b FROM bj
            WHERE n_a <> n_b OR s_a <> s_b),
    dj AS (
      SELECT af.ok AS ok_a, bf.ok AS ok_b, af.fp AS fp_a, bf.fp AS fp_b
      FROM (SELECT af.* FROM af JOIN div ON af.bkt = div.bkt) af
      FULL JOIN (SELECT bf.* FROM bf JOIN div ON bf.bkt = div.bkt) bf
        ON af.ok = bf.ok AND af.ln = bf.ln
       AND af.pk = bf.pk AND af.sk = bf.sk AND af.seq = bf.seq
    ),
    drill AS (
      SELECT CAST(SUM(CASE WHEN ok_b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows_only_a,
             CAST(SUM(CASE WHEN ok_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows_only_b,
             CAST(SUM(CASE WHEN ok_a IS NOT NULL AND ok_b IS NOT NULL
                            AND fp_a <> fp_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rows_value_diff
      FROM dj
    ),
    summary AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(CASE WHEN n_a <> n_b OR s_a <> s_b
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_diverged,
             CAST(SUM(n_a) AS BIGINT) AS n_rows_a,
             CAST(SUM(n_b) AS BIGINT) AS n_rows_b,
             CAST(SUM(CASE WHEN n_a <> n_b OR s_a <> s_b
                           THEN n_a + n_b ELSE 0 END) AS BIGINT)
               AS rows_rescanned
      FROM bj
    )
    SELECT s.n_buckets, s.n_diverged, s.n_rows_a, s.n_rows_b,
           d.n_rows_only_a, d.n_rows_only_b, d.n_rows_value_diff,
           s.rows_rescanned,
           CAST((1000000 * s.rows_rescanned) // (s.n_rows_a + s.n_rows_b)
                AS BIGINT) AS rescan_ratio_e6
    FROM summary s, drill d
    """,
)
def q282_replica_divergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style replica reconciliation — how two copies of a 100 TB
    table are compared WITHOUT a full-table join: every row folds to a
    32-bit content fingerprint (md5 over key + value columns, the
    portable-hash idiom), rows hash into {_Q282_BUCKETS} buckets by
    KEY — the quadruple (orderkey, linenumber, partkey, suppkey) PLUS
    a deterministic occurrence index (row_number within the quadruple
    ordered by the value columns — the multiset-reconciliation trick,
    since even the quadruple carries one duplicate at sf0.001 and a
    non-unique join key would multiply the drill) — so a value change
    stays in its bucket, and each side ships
    only per-bucket (count, sum-of-fingerprints) checksums — an
    order-independent, mergeable digest. Buckets whose checksums agree
    are PROVEN-equal-enough and never rescanned; only diverged buckets
    get the row-level full-outer drill-down (here the replica has two
    planted defect classes: rows dropped where ok%997=0 and quantity
    corrupted where ok%991=1 — the audit finds exactly those, and
    rescan_ratio_e6 quantifies the win: the row-level JOIN/compare
    work is proportional to DIVERGENCE, not table size. Precisely: in
    this single-pass form the drill still re-READS both tables and
    filters to the diverged buckets — it is the expensive full-outer
    row compare, not the scan, that divergence bounds; store the
    tables bucketed on bkt (the q267 layout) and the drill scan
    prunes physically too). Sum-of-fp32 per bucket is int64-safe
    to ~2^31 rows/bucket; bucket count scales with the table (2^12
    here, 2^20+ at 100 TB) to keep both the digest small and the
    rescan sharp. A 32-bit-sum collision canceling a real diff is
    ~2^-32 per bucket — an audit false-negative bound, stated rather
    than hidden. Scale shape: two map-combined groupBys to
    ~|buckets| rows, a bounded bucket-checksum join, and a drill join
    SEMI-restricted to diverged buckets (broadcast of the diverged id
    set)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        cents(F.col("l_quantity")).alias("qc"),
        cents(F.col("l_extendedprice")).alias("pc"),
    )
    replica = li.filter(F.col("ok") % 997 != 0).select(
        "ok",
        "ln",
        "pk",
        "sk",
        (
            F.col("qc")
            + F.when(F.col("ok") % 991 == 1, F.lit(100)).otherwise(0)
        ).alias("qc"),
        "pc",
    )

    def fingerprint(df: DataFrame) -> DataFrame:
        # seq disambiguates duplicate quadruples (the corpus carries one
        # at sf0.001) — the multiset-reconciliation occurrence index,
        # deterministic on both engines; a per-key PARTITIONED window
        return df.select(
            "ok",
            "ln",
            "pk",
            "sk",
            F.row_number()
            .over(
                Window.partitionBy("ok", "ln", "pk", "sk").orderBy("qc", "pc")
            )
            .alias("seq"),
            F.expr(
                "CAST(conv(substr(md5(concat('rck:', ok, ':', ln, ':', pk,"
                " ':', sk, ':', qc, ':', pc)), 25, 8), 16, 10) AS BIGINT)"
            ).alias("fp"),
            F.expr(
                "CAST(conv(substr(md5(concat('rbk:', ok, ':', ln, ':', pk,"
                f" ':', sk)), 18, 15), 16, 10) AS BIGINT) % {_Q282_BUCKETS}"
            ).alias("bkt"),
        )

    af, bf = fingerprint(li), fingerprint(replica)

    def digest(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("bkt").agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum("fp").cast("bigint").alias(s),
        )

    z = F.lit(0).cast("bigint")
    bj = (
        digest(af, "n_a", "s_a")
        .join(digest(bf, "n_b", "s_b"), "bkt", "full_outer")
        .select(
            "bkt",
            F.coalesce("n_a", z).alias("n_a"),
            F.coalesce("s_a", z).alias("s_a"),
            F.coalesce("n_b", z).alias("n_b"),
            F.coalesce("s_b", z).alias("s_b"),
        )
    )
    diverged = (F.col("n_a") != F.col("n_b")) | (F.col("s_a") != F.col("s_b"))
    div_ids = bj.filter(diverged).select("bkt")
    a_drill = af.join(F.broadcast(div_ids), "bkt")
    b_drill = bf.join(F.broadcast(div_ids), "bkt")
    dj = a_drill.alias("a").join(
        b_drill.alias("b"),
        (F.col("a.ok") == F.col("b.ok"))
        & (F.col("a.ln") == F.col("b.ln"))
        & (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.sk") == F.col("b.sk"))
        & (F.col("a.seq") == F.col("b.seq")),
        "full_outer",
    )
    drill = dj.agg(
        F.sum(F.when(F.col("b.ok").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_only_a"),
        F.sum(F.when(F.col("a.ok").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_only_b"),
        F.sum(
            F.when(
                F.col("a.ok").isNotNull()
                & F.col("b.ok").isNotNull()
                & (F.col("a.fp") != F.col("b.fp")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_rows_value_diff"),
    )
    summary = bj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(diverged, 1).otherwise(0)).cast("bigint").alias("n_diverged"),
        F.sum("n_a").cast("bigint").alias("n_rows_a"),
        F.sum("n_b").cast("bigint").alias("n_rows_b"),
        F.sum(F.when(diverged, F.col("n_a") + F.col("n_b")).otherwise(0))
        .cast("bigint")
        .alias("rows_rescanned"),
    )
    return summary.crossJoin(F.broadcast(drill)).select(
        "n_buckets",
        "n_diverged",
        "n_rows_a",
        "n_rows_b",
        "n_rows_only_a",
        "n_rows_only_b",
        "n_rows_value_diff",
        "rows_rescanned",
        F.expr(
            "CAST((1000000 * rows_rescanned) div (n_rows_a + n_rows_b)"
            " AS BIGINT)"
        ).alias("rescan_ratio_e6"),
    )


@_q(
    "q283_majority_vote_repair",
    f"""
    WITH t AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             l_partkey AS pk, l_suppkey AS sk,
             CAST(ROUND(l_quantity*100) AS BIGINT) AS qc,
             CAST(ROUND(l_extendedprice*100) AS BIGINT) AS pc
      FROM lineitem
    ),
    r1 AS (SELECT * FROM t),
    r2 AS (
      SELECT ok, ln, pk, sk,
             qc + CASE WHEN ok % 991 = 1 THEN 100 ELSE 0 END AS qc, pc
      FROM t WHERE ok % 997 <> 0
    ),
    r3 AS (
      SELECT ok, ln, pk, sk,
             qc + CASE WHEN ok % 983 = 2 THEN 200 ELSE 0 END AS qc, pc
      FROM t WHERE ok % 1009 <> 3
    ),
    f1 AS (SELECT ok, ln, pk, sk,
                  row_number() OVER (PARTITION BY ok, ln, pk, sk
                                     ORDER BY qc, pc) AS seq,
                  ('0x' || substr(md5('rck:' || ok || ':' || ln || ':' || pk
                                  || ':' || sk || ':' || qc || ':' || pc),
                                  25, 8))::BIGINT AS fp
           FROM r1),
    f2 AS (SELECT ok, ln, pk, sk,
                  row_number() OVER (PARTITION BY ok, ln, pk, sk
                                     ORDER BY qc, pc) AS seq,
                  ('0x' || substr(md5('rck:' || ok || ':' || ln || ':' || pk
                                  || ':' || sk || ':' || qc || ':' || pc),
                                  25, 8))::BIGINT AS fp
           FROM r2),
    f3 AS (SELECT ok, ln, pk, sk,
                  row_number() OVER (PARTITION BY ok, ln, pk, sk
                                     ORDER BY qc, pc) AS seq,
                  ('0x' || substr(md5('rck:' || ok || ':' || ln || ':' || pk
                                  || ':' || sk || ':' || qc || ':' || pc),
                                  25, 8))::BIGINT AS fp
           FROM r3),
    j AS (
      SELECT COALESCE(f1.ok, f2.ok, f3.ok) AS ok,
             f1.fp AS p1, f2.fp AS p2, f3.fp AS p3
      FROM f1
      FULL JOIN f2 ON f1.ok = f2.ok AND f1.ln = f2.ln
                  AND f1.pk = f2.pk AND f1.sk = f2.sk
                  AND f1.seq = f2.seq
      FULL JOIN f3 ON COALESCE(f1.ok, f2.ok) = f3.ok
                  AND COALESCE(f1.ln, f2.ln) = f3.ln
                  AND COALESCE(f1.pk, f2.pk) = f3.pk
                  AND COALESCE(f1.sk, f2.sk) = f3.sk
                  AND COALESCE(f1.seq, f2.seq) = f3.seq
    ),
    v AS (
      SELECT ok, p1, p2, p3,
             CASE WHEN p1 = p2 OR p1 = p3 THEN p1
                  WHEN p2 = p3 THEN p2 END AS maj
      FROM j
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN p1 = p2 AND p2 = p3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full_agree,
           CAST(SUM(CASE WHEN maj IS NOT NULL
                          AND NOT COALESCE(p1 = p2 AND p2 = p3, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_majority_2of3,
           CAST(SUM(CASE WHEN maj IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_no_quorum,
           CAST(SUM(CASE WHEN p1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_r1,
           CAST(SUM(CASE WHEN p2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_r2,
           CAST(SUM(CASE WHEN p3 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_r3,
           CAST(SUM(CASE WHEN p1 IS NOT NULL AND maj IS NOT NULL
                          AND p1 <> maj THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outvoted_r1,
           CAST(SUM(CASE WHEN p2 IS NOT NULL AND maj IS NOT NULL
                          AND p2 <> maj THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outvoted_r2,
           CAST(SUM(CASE WHEN p3 IS NOT NULL AND maj IS NOT NULL
                          AND p3 <> maj THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outvoted_r3
    FROM v
    """,
)
def q283_majority_vote_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-replica MAJORITY-VOTE reconciliation — the repair step
    q282's two-way audit can only flag: with three copies of a table
    (replica 2 drops ok%997=0 rows and corrupts qc where ok%991=1;
    replica 3 corrupts qc where ok%983=2 and drops ok%1009=3 —
    disjoint planted defect classes, so every key keeps a 2-of-3
    quorum), each row folds to the q282 content fingerprint and a
    per-key 3-way full-outer join votes: unanimous, majority-repairable
    (the minority replica is named and counted per side), or
    no-quorum; keys are the q282 quadruple + occurrence index, so the
    vote is 1:1:1 per physical row even at the sf0.001 duplicate.
    At 100 TB the row-level vote join is exactly what the
    q282 bucket-digest prefilter bounds — run the three-way digest
    compare first and vote ONLY inside buckets where the three digests
    disagree; here the vote runs unfiltered so the oracle certifies the
    vote math itself over every key. Scale shape: two equi full-outer
    joins on the PK quadruple (AQE-planned SMJ, both sides
    pre-hashable on the same key), one map-combined 1-row aggregate;
    fp agreement stands in for full-row compare exactly as in q282
    (same 2^-32 per-key false-agree bound, stated)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        cents(F.col("l_quantity")).alias("qc"),
        cents(F.col("l_extendedprice")).alias("pc"),
    )
    r2 = li.filter(F.col("ok") % 997 != 0).withColumn(
        "qc",
        F.col("qc") + F.when(F.col("ok") % 991 == 1, F.lit(100)).otherwise(0),
    )
    r3 = li.filter(F.col("ok") % 1009 != 3).withColumn(
        "qc",
        F.col("qc") + F.when(F.col("ok") % 983 == 2, F.lit(200)).otherwise(0),
    )

    def fp(df: DataFrame, name: str) -> DataFrame:
        # seq = the q282 occurrence index: disambiguates duplicate
        # quadruples so the vote join stays 1:1:1 per physical row
        return df.select(
            "ok",
            "ln",
            "pk",
            "sk",
            F.row_number()
            .over(
                Window.partitionBy("ok", "ln", "pk", "sk").orderBy("qc", "pc")
            )
            .alias("seq"),
            F.expr(
                "CAST(conv(substr(md5(concat('rck:', ok, ':', ln, ':', pk,"
                " ':', sk, ':', qc, ':', pc)), 25, 8), 16, 10) AS BIGINT)"
            ).alias(name),
        )

    key = ["ok", "ln", "pk", "sk", "seq"]
    j = (
        fp(li, "p1")
        .join(fp(r2, "p2"), key, "full_outer")
        .join(fp(r3, "p3"), key, "full_outer")
    )
    maj = (
        F.when((F.col("p1") == F.col("p2")) | (F.col("p1") == F.col("p3")), F.col("p1"))
        .when(F.col("p2") == F.col("p3"), F.col("p2"))
    )
    v = j.select("p1", "p2", "p3", maj.alias("maj"))
    # null-safe: a missing side makes (p1 = p2) three-valued NULL, and
    # NOT NULL is still NULL — which silently dropped drop-defect keys
    # from n_majority_2of3 on BOTH engines until the replay test caught
    # it; the isNotNull guards pin the conjunction to TRUE/FALSE
    unanimous = (
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & F.col("p3").isNotNull()
        & (F.col("p1") == F.col("p2"))
        & (F.col("p2") == F.col("p3"))
    )

    def outvoted(p: str) -> Column:
        return (
            F.sum(
                F.when(
                    F.col(p).isNotNull()
                    & F.col("maj").isNotNull()
                    & (F.col(p) != F.col("maj")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
        )

    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(unanimous, 1).otherwise(0)).cast("bigint").alias("n_full_agree"),
        F.sum(F.when(F.col("maj").isNotNull() & ~unanimous, 1).otherwise(0))
        .cast("bigint")
        .alias("n_majority_2of3"),
        F.sum(F.when(F.col("maj").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_no_quorum"),
        F.sum(F.when(F.col("p1").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_r1"),
        F.sum(F.when(F.col("p2").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_r2"),
        F.sum(F.when(F.col("p3").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_r3"),
        outvoted("p1").alias("n_outvoted_r1"),
        outvoted("p2").alias("n_outvoted_r2"),
        outvoted("p3").alias("n_outvoted_r3"),
    )
