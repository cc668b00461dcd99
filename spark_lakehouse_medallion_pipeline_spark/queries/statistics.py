"""Statistics: moment and robust statistics, correlation, concentration,
hypothesis tests, skylines and drift."""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    S_FLOOR,
    _q,
    _t,
    cents,
    floor_round,
    sum_cents,
)


@_q(
    "q74_stats_battery",
    f"""
    SELECT event_type,
           COUNT(*) AS n,
           {S_FLOOR("stddev_samp(value)", 4)} AS sd_samp,
           {S_FLOOR("stddev_pop(value)", 4)}  AS sd_pop,
           {S_FLOOR("var_samp(value)", 4)}    AS v_samp,
           {S_FLOOR("var_pop(value)", 4)}     AS v_pop,
           {S_FLOOR("corr(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE))", 4)} AS corr_hour,
           {S_FLOOR("covar_samp(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE))", 4)} AS cov_samp,
           {S_FLOOR("covar_pop(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE))", 4)}  AS cov_pop,
           {S_FLOOR("median(value)", 4)} AS med
    FROM events GROUP BY event_type
    """,
)
def q74_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (A-family widening): sample/population
    stddev & variance, Pearson correlation, covariance, exact median —
    all single-pass JVM aggregates (median sorts within the group).
    Floor-rounded to 4dp: the moment sums are order-sensitive doubles;
    4dp absorbs the ~1e-12 relative reorder drift at this scale."""
    ev = _t(spark, sf_dir, "events")
    h = F.hour("ts").cast("double")
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        floor_round(F.stddev_samp(v), 4).alias("sd_samp"),
        floor_round(F.stddev_pop(v), 4).alias("sd_pop"),
        floor_round(F.var_samp(v), 4).alias("v_samp"),
        floor_round(F.var_pop(v), 4).alias("v_pop"),
        floor_round(F.corr(v, h), 4).alias("corr_hour"),
        floor_round(F.covar_samp(v, h), 4).alias("cov_samp"),
        floor_round(F.covar_pop(v, h), 4).alias("cov_pop"),
        floor_round(F.median(v), 4).alias("med"),
    )


@_q(
    "q139_mad_outliers",
    """
    WITH c AS (
      SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS med FROM c GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.v, ABS(c.v - med.med) AS adev, med.med
      FROM c JOIN med ON med.event_type = c.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev
      GROUP BY event_type
    )
    SELECT d.event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           mad.mad AS mad_cents
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type, mad.mad
    ORDER BY d.event_type
    """,
)
def q139_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier gate: median absolute deviation (MAD),
    the quality-signal form that survives heavy-tailed value columns
    where mean/stddev z-scores (q40) are dragged by the outliers being
    hunted. Two exact-percentile aggregates over cents-integers; each
    produces a GROUP-COUNT-sized table that joins back BROADCAST, so
    the big side shuffles once per percentile and never sorts globally.
    Linear-interpolated medians of integers are k/4-exact doubles on
    both engines (percentile == quantile_cont), so the hash is safe."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("v")
    )
    med = ev.groupBy("event_type").agg(F.expr("percentile(v, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "v", F.abs(F.col("v") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.col("mad").alias("mad_cents"),
        )
        .orderBy("event_type")
    )


@_q(
    "q173_mad_outliers",
    """
    WITH c AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
            FROM c GROUP BY event_type),
    dev AS (
      SELECT c.event_type, c.cents, med.med,
             ABS(c.cents - med.med) AS adev
      FROM c JOIN med ON med.event_type = c.event_type
    ),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(dev.med * 2 AS BIGINT) AS med_half_cents,
           CAST(mad.mad * 2 AS BIGINT) AS mad_half_cents,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON mad.event_type = dev.event_type
    GROUP BY dev.event_type, dev.med, mad.mad
    """,
)
def q173_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    dispersion statistic a z-score can't give you when the outliers
    themselves corrupt the mean/stddev. Two exact interpolated medians
    (values then absolute deviations) and a 3x-MAD threshold count per
    event type.

    Exactness argument: cents are integers, so every interpolated
    median is an exact multiple of 0.5, exactly representable in
    binary64 — ABS differences, the 3x multiply, and the > comparison
    are all FP-exact, no ulp flipping between engines (the med/mad
    columns are reported x2 as integers for the same reason). Plan: two
    grouped exact percentiles + a broadcast-size (|event_types|) join
    back; the heavy input scans twice, once per median level — the
    inherent two-pass structure of MAD."""
    ev = _t(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = c.join(med, "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            (F.col("med") * 2).cast("bigint").alias("med_half_cents"),
            (F.col("mad") * 2).cast("bigint").alias("mad_half_cents"),
            "n_outliers",
        )
    )


@_q(
    "q174_pareto_abc",
    """
    WITH spend AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT custkey, cents,
             NTILE(10) OVER (ORDER BY cents DESC, custkey) AS decile,
             SUM(cents) OVER (ORDER BY cents DESC, custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM spend
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM spend)
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS decile_cents,
           CAST(((CAST(MAX(cum_cents) AS BIGINT) // 1000) * 1000000)
                // greatest(tot.total // 1000, 1) AS BIGINT)
             AS cum_share_e6
    FROM ranked CROSS JOIN tot
    GROUP BY decile, tot.total
    ORDER BY decile
    """,
)
def q174_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC concentration analysis — what share of revenue the top
    deciles of customers carry (the 80/20 curve every commercial
    analytics stack reports). Customers rank by exact integer spend
    (deterministic (cents DESC, custkey) tiebreak), ntile(10) assigns
    deciles, and the cumulative share at each decile boundary is an
    integer e6 fraction of the broadcast 1-row total.

    The ranking is global by construction (a concentration curve IS a
    total order) and runs over the CUSTOMER AGGREGATE — but even a
    dimension grows 100x at 100 TB, so the rank/ntile/cumsum come from
    relational.distributed_rank (two-pass range-partitioned rank: range
    exchange -> per-bucket window + broadcast offsets), never a
    single-partition Window.orderBy; test_plans pins the absence of a
    global WindowExec."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    ranked = distributed_rank(
        spend,
        [F.desc("cents"), F.asc("custkey")],
        rank_col="_rnk",
        value_col="cents",
        cumsum_col="cum_cents",
        ntile_col="decile",
        n_tiles=10,
    ).select("custkey", "cents", "decile", "cum_cents")
    tot = spend.agg(F.sum("cents").cast("bigint").alias("total"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile", "total")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("bigint").alias("decile_cents"),
            # cum_cents is pre-divided by 1000 BEFORE the e6 scale-up:
            # MAX(cum)*1e6 directly would pass 2^63 near total spend
            # ~9.2e12 cents (sf100-class), where Spark's long multiply
            # throws while DuckDB's HUGEINT survives — the exact parity
            # break the repo's cast conventions exist to prevent. The
            # 1000-cent truncation costs <1e3/total of share precision.
            F.expr(
                "CAST(((CAST(MAX(cum_cents) AS BIGINT) div 1000) * 1000000)"
                " div greatest(total div 1000, CAST(1 AS BIGINT)) AS BIGINT)"
            ).alias("cum_share_e6"),
        )
        .select("decile", "n_customers", "decile_cents", "cum_share_e6")
        .orderBy("decile")
    )


@_q(
    "q175_behavior_diversity",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n_i
      FROM events WHERE user_id % 31 = 0
      GROUP BY user_id, event_type
    ),
    u AS (SELECT user_id, CAST(SUM(n_i) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS n_types
          FROM c GROUP BY user_id)
    SELECT u.user_id, u.n AS n_events, u.n_types,
           CAST(1000000 - SUM(((c.n_i * 1000) // u.n)
                              * ((c.n_i * 1000) // u.n)) AS BIGINT)
             AS gini_impurity_e6
    FROM c JOIN u ON u.user_id = c.user_id
    GROUP BY u.user_id, u.n, u.n_types
    """,
)
def q175_behavior_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user as Gini impurity (1 - sum p_i^2) —
    the entropy surrogate that stays INTEGER-exact: a Shannon entropy
    needs ln(), whose last-ulp differs between JVM and libm and would
    break the value hash, while impurity is pure integer arithmetic on
    e3-scaled proportions (truncation identical in both engines).
    Single-type users score 0; uniform k-type behavior approaches
    1 - 1/k. Plan: one map-side-combined (user, type) count, a per-user
    rollup, and the join-back on user_id — all on the same well-spread
    key, so AQE coalesces into one shuffle lineage."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 31 == 0)
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_i"))
    u = c.groupBy("user_id").agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    return (
        c.join(u, "user_id")
        .groupBy("user_id", "n", "n_types")
        .agg(
            F.expr(
                "CAST(1000000 - SUM(((n_i * 1000) div n) * ((n_i * 1000) div n))"
                " AS BIGINT)"
            ).alias("gini_impurity_e6")
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            "gini_impurity_e6",
        )
    )


@_q(
    "q190_trimmed_mean",
    f"""
    WITH c AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             {SC("o_totalprice")} AS cents
      FROM orders
    ), r AS (
      SELECT pri, cents,
             row_number() OVER (PARTITION BY pri
                                ORDER BY cents, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM c
    )
    SELECT pri, CAST(MAX(n) AS BIGINT) AS n_total,
           COUNT(*) AS n_kept,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS trimmed_mean_cents
    FROM r
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY pri
    """,
)
def q190_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided TRIMMED mean of order value per priority — the
    robust-stats family's outlier-resistant location estimate (between
    q173's MAD gate and a plain mean): rank within group by (cents,
    orderkey), drop the bottom and top floor(n/10) ranks, integer-mean
    the rest. All integer arithmetic — the rank cutoffs and the final
    truncating integer-divide mean (trunc == floor here: cents are
    non-negative) cannot straddle an engine rounding boundary. One
    shuffle serves rank + count (the q154 window discipline)."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        F.col("o_orderpriority").alias("pri"),
        "o_orderkey",
        F.expr(SC("o_totalprice")).alias("cents"),
    )
    wr = Window.partitionBy("pri").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("pri")
    r = c.select(
        "pri",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        r.filter(
            (F.col("rn") > F.expr("n div 10"))
            & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
        )
        .groupBy("pri")
        .agg(
            F.max("n").alias("n_total"),
            F.count(F.lit(1)).alias("n_kept"),
            F.expr("CAST(SUM(cents) div COUNT(*) AS BIGINT)").alias(
                "trimmed_mean_cents"
            ),
        )
    )


@_q(
    "q211_weighted_median",
    f"""
    WITH c AS (
      SELECT l_returnflag AS g, {SC("l_extendedprice")} AS v,
             {SC("l_quantity")} AS w, l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem
    ),
    cum AS (
      SELECT g, v,
             SUM(w) OVER (PARTITION BY g ORDER BY v, ok, ln
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY g) AS tw
      FROM c
    ),
    q AS (SELECT g, v, cumw, tw FROM cum WHERE 2 * cumw >= tw),
    r AS (SELECT g, v, tw,
                 row_number() OVER (PARTITION BY g ORDER BY cumw ASC) AS rn
          FROM q)
    SELECT g AS returnflag, CAST(tw AS BIGINT) AS total_weight,
           v AS wmedian_c
    FROM r WHERE rn = 1
    """,
)
def q211_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median price per return flag — the
    robust-stats family's weighted member (q170 rolling median and
    q190 trimmed mean are unweighted): the lower weighted median,
    i.e. the first value in (price, orderkey, linenumber) order whose
    cumulative weight reaches half the group total. All integer
    arithmetic (cents values, cents weights, 2*cumw >= W threshold),
    and the cumulative weight is STRICTLY increasing (weights > 0) so
    the min-struct pick is unique — deterministic on both engines.
    One shuffle: a single window partition serves the running weight,
    the group total, and the qualifier pick. The within-group sort is
    the price of exactness; the 100 TB approx swap is a weighted
    percentile sketch (same output contract, q199's discipline)."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.select(
        F.col("l_returnflag").alias("g"),
        cents(F.col("l_extendedprice")).alias("v"),
        cents(F.col("l_quantity")).alias("w"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = c.select(
        "g",
        "v",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(Window.partitionBy("g")).alias("tw"),
    )
    qual = cum.filter(2 * F.col("cumw") >= F.col("tw"))
    return (
        qual.groupBy("g")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            F.min(F.struct("cumw", "v"))["v"].alias("wmedian_c"),
        )
        .select(
            F.col("g").alias("returnflag"), "total_weight", "wmedian_c"
        )
    )


# q214: lineitem's numeric columns and the 6 unordered pairs profiled.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_KEYS = ("a", "b", "c", "d")
_CORR_PAIRS = tuple(
    (i, j) for i in range(4) for j in range(4) if i < j
)


def _corr_pair_sql(i: int, j: int) -> str:
    x, y = _CORR_KEYS[i], _CORR_KEYS[j]
    num = f"CAST(n*s{x}{y} - s{x}*s{y} AS DOUBLE)"
    va = f"CAST(n*s{x}{x} - s{x}*s{x} AS DOUBLE)"
    vb = f"CAST(n*s{y}{y} - s{y}*s{y} AS DOUBLE)"
    return f"""
      SELECT '{_CORR_COLS[i]}' AS col_x, '{_CORR_COLS[j]}' AS col_y,
             CAST(n AS BIGINT) AS n,
             CAST(FLOOR({num} / (sqrt({va}) * sqrt({vb}))
                        * 1000000.0 + 0.5) AS BIGINT) AS corr_e6
      FROM m"""


_CORR_SQL = (
    f"""
    WITH s AS (SELECT {SC("l_quantity")} AS a, {SC("l_extendedprice")} AS b,
                      {SC("l_discount")} AS c, {SC("l_tax")} AS d
               FROM lineitem),
    m AS (SELECT COUNT(*) AS n,
    """
    + ", ".join(f"SUM({k}) AS s{k}" for k in _CORR_KEYS)
    + ", "
    + ", ".join(
        f"SUM({_CORR_KEYS[i]}*{_CORR_KEYS[j]}) AS s{_CORR_KEYS[i]}{_CORR_KEYS[j]}"
        for i in range(4)
        for j in range(4)
        if i <= j
    )
    + " FROM s) "
    + " UNION ALL ".join(_corr_pair_sql(i, j) for i, j in _CORR_PAIRS)
)


@_q("q214_correlation_matrix", _CORR_SQL)
def q214_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of lineitem's four numeric columns —
    the multivariate profiling step (feature redundancy, CBO join
    estimates) next to q193's univariate stats. Exactness: a SINGLE
    15-sum aggregate collects n, the four cents sums, and the ten
    cross/square product sums as EXACT integers (per-row products fit
    int64; the sums go through decimal(38,0) on Spark and HUGEINT on
    DuckDB — the one place int64 overflows, price^2 * 6e5 rows ~ 6e19);
    corr = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))
    is then assembled from those exact integers with ONE
    correctly-rounded double cast per factor (both engines round
    exact-int -> nearest-double identically, sqrt is IEEE
    correctly-rounded), floor6-quantized. Engine assembles the 6-row
    matrix DRIVER-SIDE in Python bigints (the q198 Gram precedent) —
    the only distributed work is the one map-combinable aggregate, the
    right shape at 100 TB. Assumes non-constant columns (sd > 0)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = [cents(F.col(c)).alias(k) for c, k in zip(_CORR_COLS, _CORR_KEYS)]
    s = li.select(*cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in _CORR_KEYS:
        aggs.append(F.sum(F.col(k).cast("decimal(38,0)")).alias(f"s{k}"))
    for i in range(4):
        for j in range(4):
            if i <= j:
                x, y = _CORR_KEYS[i], _CORR_KEYS[j]
                aggs.append(
                    F.sum(
                        (F.col(x) * F.col(y)).cast("decimal(38,0)")
                    ).alias(f"s{x}{y}")
                )
    row = s.agg(*aggs).collect()[0]
    n = int(row["n"])
    sums = {f: int(row[f]) for f in row.asDict() if f != "n"}
    out = []
    for i, j in _CORR_PAIRS:
        x, y = _CORR_KEYS[i], _CORR_KEYS[j]
        num = n * sums[f"s{x}{y}"] - sums[f"s{x}"] * sums[f"s{y}"]
        va = n * sums[f"s{x}{x}"] - sums[f"s{x}"] * sums[f"s{x}"]
        vb = n * sums[f"s{y}{y}"] - sums[f"s{y}"] * sums[f"s{y}"]
        corr_e6 = _math.floor(
            float(num)
            / (_math.sqrt(float(va)) * _math.sqrt(float(vb)))
            * 1000000.0
            + 0.5
        )
        out.append((_CORR_COLS[i], _CORR_COLS[j], n, corr_e6))
    return spark.createDataFrame(
        out, "col_x string, col_y string, n bigint, corr_e6 bigint"
    )


@_q(
    "q215_gini_spend",
    f"""
    WITH s AS (SELECT o_custkey,
                      CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS x
               FROM orders GROUP BY o_custkey),
    r AS (SELECT x, row_number() OVER (ORDER BY x ASC, o_custkey ASC) AS i
          FROM s),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS tot,
                 CAST(SUM(i * x) AS BIGINT) AS six
          FROM r)
    SELECT n AS n_customers, tot AS total_spend_c,
           CAST(FLOOR(CAST(2*six - (n+1)*tot AS DOUBLE)
                      / CAST(n*tot AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS gini_e6
    FROM m
    """,
)
def q215_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality audit that
    quantifies what q205's skew profile and q174's Pareto ABC
    eyeball: how concentrated revenue is across customers (0 = equal,
    ->1 = one whale). Exact sorted-rank formula
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) on cents with
    row_number ranks (ties by custkey) — every term an exact int64
    (sum(i*x) <= n^2 * max_spend ~ 2e16 at sf0.1), one double
    division under floor6. The rank is global (a Lorenz curve is a
    total order) but never single-partition: it comes from
    relational.distributed_rank — the classic two-pass range-
    partitioned rank (range exchange, per-bucket window, broadcast
    offsets) — so the customer dimension can grow 100x without a
    one-task sort; test_plans pins the absence of a global
    WindowExec."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        sum_cents(F.col("o_totalprice")).cast("bigint").alias("x")
    )
    r = distributed_rank(
        s, [F.col("x").asc(), F.col("o_custkey").asc()], rank_col="i"
    ).select("x", "i")
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("tot"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return m.select(
        F.col("n").alias("n_customers"),
        F.col("tot").alias("total_spend_c"),
        F.floor(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("tot")).cast("double")
            / (F.col("n") * F.col("tot")).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("gini_e6"),
    )


_WEEK_US = 7 * 24 * 3600 * 1_000_000  # epoch-aligned 7-day bucket


@_q(
    "q220_demand_variability",
    f"""
    WITH w AS (SELECT l_partkey AS p,
                      epoch_us(l_shipdate) // {_WEEK_US} AS wk,
                      CAST(SUM({SC("l_quantity")}) AS BIGINT) AS x
               FROM lineitem GROUP BY 1, 2),
    g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_weeks,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x*x) AS BIGINT) AS sxx
          FROM w GROUP BY p)
    SELECT partkey, n_weeks, total_qty_c, cv_e6,
           CASE WHEN cv_e6 <= 500000 THEN 'X'
                WHEN cv_e6 <= 1000000 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM (
      SELECT p AS partkey, n_weeks, sx AS total_qty_c,
             CAST(FLOOR(sqrt(CAST(n_weeks*sxx - sx*sx AS DOUBLE))
                        / CAST(sx AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS cv_e6
      FROM g WHERE n_weeks >= 4
    )
    """,
)
def q220_demand_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the forecastability
    audit that pairs with q174's Pareto ABC: per part, the coefficient
    of variation of weekly shipped quantity over the part's ACTIVE
    weeks (epoch-aligned 7-day buckets of l_shipdate; parts with <4
    active weeks are excluded as unclassifiable), bucketed X (steady,
    CV<=0.5) / Y (variable, <=1.0) / Z (erratic). Exactness: weekly
    demand is exact cents; CV = sqrt(n*Sxx - Sx^2)/Sx needs ONE double
    cast per exact-int factor and IEEE sqrt, floor6-quantized — the
    q214 discipline, but computed DISTRIBUTED per part (group-wise
    variance from map-combinable integer sums), not driver-side.
    Plan: two stacked aggregates on the same part-keyed shuffle
    lineage (AQE coalesces), output part-sized; scan-bound at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    w = (
        li.select(
            F.col("l_partkey").alias("p"),
            # l_shipdate is TIMESTAMP_NTZ; the session tz is UTC, so the
            # cast reads the wall time as UTC == DuckDB's naive epoch_us.
            F.expr(
                f"unix_micros(cast(l_shipdate as timestamp)) div {_WEEK_US}"
            ).alias("wk"),
            cents(F.col("l_quantity")).alias("q"),
        )
        .groupBy("p", "wk")
        .agg(F.sum("q").cast("bigint").alias("x"))
    )
    g = (
        w.groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
        .filter(F.col("n_weeks") >= 4)
    )
    scored = g.select(
        F.col("p").alias("partkey"),
        "n_weeks",
        F.col("sx").alias("total_qty_c"),
        F.floor(
            F.sqrt((F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx"))
                   .cast("double"))
            / F.col("sx").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cv_e6"),
    )
    return scored.select(
        "partkey",
        "n_weeks",
        "total_qty_c",
        "cv_e6",
        F.when(F.col("cv_e6") <= 500000, "X")
        .when(F.col("cv_e6") <= 1000000, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


@_q(
    "q223_brand_discount_response",
    f"""
    WITH s AS (SELECT p.p_brand AS brand,
                      {SC("l.l_discount")} AS x, {SC("l.l_quantity")} AS y
               FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    m AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(y*y) AS BIGINT) AS syy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy
          FROM s GROUP BY brand)
    SELECT brand, n,
           CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
                      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                         * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS corr_e6
    FROM m
    WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
    """,
)
def q223_brand_discount_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount-vs-quantity Pearson correlation — does
    discounting move volume, brand by brand? The GROUP-WISE form of
    q214's exact-integer correlation, computed fully DISTRIBUTED (one
    brand-keyed aggregate of seven integer sums; q214's driver-side
    assembly is only for the no-grouping case where the output is a
    single matrix). Per-row products fit int64 easily here (discount
    cents <= 10, quantity cents <= 5e3) so no decimal widening is
    needed; the corr finish is one double cast per exact factor + IEEE
    sqrt under floor6 (q214/q220 discipline). Degenerate brands (zero
    variance on either side) are excluded by an exact integer
    predicate. Plan: broadcast part join onto lineitem, ONE
    map-combinable aggregate, brand-sized output — scan-bound at
    100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.col("p_brand").alias("brand"),
        cents(F.col("l_discount")).alias("x"),
        cents(F.col("l_quantity")).alias("y"),
    )
    m = s.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return (
        m.filter(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "brand",
            "n",
            F.floor(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / (
                    F.sqrt(
                        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                        .cast("double")
                    )
                    * F.sqrt(
                        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                        .cast("double")
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("corr_e6"),
        )
    )


@_q(
    "q225_late_rate_wilson",
    f"""
    WITH j AS (
      SELECT o.o_orderpriority AS priority,
             CASE WHEN epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                       > 90 * 86400000000 THEN 1 ELSE 0 END AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    g AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(late) AS BIGINT) AS k
          FROM j GROUP BY priority)
    SELECT priority, n, k,
           CAST((1000000 * k) // n AS BIGINT) AS rate_e6,
           CAST(FLOOR((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                       + 1.9208 / CAST(n AS DOUBLE)
                       - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                     * (1.0 - CAST(k AS DOUBLE)
                                              / CAST(n AS DOUBLE))
                                     / CAST(n AS DOUBLE)
                                     + 0.9604 / (CAST(n AS DOUBLE)
                                                 * CAST(n AS DOUBLE))))
                      / (1.0 + 3.8416 / CAST(n AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS wilson_lo_e6
    FROM g
    """,
)
def q225_late_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment rate per order priority with the Wilson-score
    LOWER confidence bound (z=1.96) — the A/B-test-grade rate estimate
    that doesn't collapse at small n the way the naive rate +- normal
    interval does; the statistical finish q88's priority split lacks.
    Exactness: n and k are exact integers; the Wilson formula is then
    ONE double chain spelled token-for-token identically in both
    dialects (every literal — 1.96, 1.9208 = z^2/2, 0.9604 = z^2/4,
    3.8416 = z^2 — is the same decimal literal, hence the same double;
    IEEE ops on identical inputs are identical), floor6-quantized.
    Plan: an orderkey equi-join (both sides pre-shuffled on the same
    key) into one priority-keyed map-combinable aggregate — 5-row
    output, scan-bound at 100 TB."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "CASE WHEN unix_micros(cast(l_shipdate as timestamp))"
            " - unix_micros(cast(o_orderdate as timestamp))"
            f" > {90 * 86400000000} THEN 1 ELSE 0 END"
        ).alias("late"),
    )
    g = j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("late").cast("bigint").alias("k"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    p = kd / nd
    wilson = (
        (
            p
            + F.lit(1.9208) / nd
            - F.lit(1.96)
            * F.sqrt(p * (F.lit(1.0) - p) / nd + F.lit(0.9604) / (nd * nd))
        )
        / (F.lit(1.0) + F.lit(3.8416) / nd)
    )
    return g.select(
        "priority",
        "n",
        "k",
        F.expr("CAST((1000000 * k) div n AS BIGINT)").alias("rate_e6"),
        F.floor(wilson * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("wilson_lo_e6"),
    )


@_q(
    "q230_chi2_independence",
    """
    WITH o AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
               FROM documents GROUP BY lang, source),
    r AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_n FROM o GROUP BY lang),
    c AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_n
          FROM o GROUP BY source),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS tot FROM o),
    grid AS (
      SELECT r.lang, c.source, r.row_n, c.col_n,
             CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs
      FROM r CROSS JOIN c
      LEFT JOIN o ON o.lang = r.lang AND o.source = c.source
    ),
    cells AS (
      SELECT CAST(FLOOR(CAST(obs * n.tot - row_n * col_n AS DOUBLE)
                        * CAST(obs * n.tot - row_n * col_n AS DOUBLE)
                        / CAST(n.tot * row_n * col_n AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS term_e6
      FROM grid CROSS JOIN n
    ),
    dims AS (SELECT (SELECT COUNT(*) FROM r) AS n_rows,
                    (SELECT COUNT(*) FROM c) AS n_cols)
    SELECT CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
           CAST((SELECT (n_rows - 1) * (n_cols - 1) FROM dims) AS BIGINT)
             AS dof,
           (SELECT tot FROM n) AS n_docs
    FROM cells
    """,
)
def q230_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for lang x source — is the
    language mixture uniform across crawl sources? The categorical
    association test that completes the stats kit next to the Pearson
    matrix (q214) and the FD audit (q206). Exactness: the classic
    per-cell term (O-E)^2/E with E = row*col/N rewrites EXACTLY as
    (O*N - row*col)^2 / (N*row*col); the difference is an exact int64,
    squared in DOUBLE (exact while |diff| < 2^26.5 — comfortably true
    at these corpus sizes, and identically-rounded on both engines
    beyond), and each cell's term is floor6-QUANTIZED TO AN INTEGER
    BEFORE the final sum, so the cross-cell summation is order-free
    (a float sum would depend on summation order and break the hash).
    ZERO cells are included: the contingency grid is the row-marginal
    cross join, left-joined to the observed cells (a chi2 over
    observed cells only would understate the statistic). Plan: one
    (lang, source) aggregate; the marginals, grid, and terms all live
    on the contingency table, not the raw scan — broadcast joins
    throughout."""
    d = _t(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("row_n"))
    c = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("col_n"))
    n = o.agg(F.sum("obs").cast("bigint").alias("tot"))
    grid = (
        r.crossJoin(c)
        .join(F.broadcast(o), ["lang", "source"], "left")
        .select(
            "row_n",
            "col_n",
            F.coalesce(F.col("obs"), F.lit(0)).cast("bigint").alias("obs"),
        )
    )
    diff = (F.col("obs") * F.col("tot") - F.col("row_n") * F.col("col_n")).cast(
        "double"
    )
    cells = grid.crossJoin(F.broadcast(n)).select(
        F.floor(
            diff
            * diff
            / (F.col("tot") * F.col("row_n") * F.col("col_n")).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint").alias("term_e6")
    )
    dof = (
        r.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("nc")))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint")
                .alias("dof"))
    )
    return (
        cells.agg(F.sum("term_e6").cast("bigint").alias("chi2_e6"))
        .crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(n.select(F.col("tot").alias("n_docs"))))
    )


@_q(
    "q233_tukey_winsorize",
    f"""
    WITH v AS (SELECT {SC("o_totalprice")} AS v FROM orders),
    q AS (SELECT quantile_cont(v, 0.25) AS p25,
                 quantile_cont(v, 0.75) AS p75
          FROM v),
    f AS (SELECT CAST(FLOOR(p25 - 1.5 * (p75 - p25)) AS BIGINT) AS lo,
                 CAST(FLOOR(p75 + 1.5 * (p75 - p25)) AS BIGINT) AS hi
          FROM q)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           f.lo AS lo_fence_c, f.hi AS hi_fence_c,
           CAST(SUM(CASE WHEN v < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN v > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(CASE WHEN v < f.lo THEN f.lo
                         WHEN v > f.hi THEN f.hi ELSE v END) // COUNT(*)
                AS BIGINT) AS wmean_c
    FROM v CROSS JOIN f
    GROUP BY f.lo, f.hi
    """,
)
def q233_tukey_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier report with winsorized mean — the CLIPPING
    member of the robust-stats family (q173 MAD drops outliers, q190
    trims ranks, this clamps values): fences at p25/p75 +- 1.5*IQR,
    counts beyond each fence, and the mean of the clamped series.
    Exactness: quartiles are dyadic-exact interpolated doubles on
    cents (q18 discipline); 1.5*(p75-p25) is one identical float chain
    both sides; the fences are FLOORED TO INTEGER CENTS before any
    clamping, so the winsorized sum is a pure int64 sum (a double
    fence inside the sum would make it order-dependent) and the mean a
    truncating divide. Plan: one percentile aggregate (survivor-sized
    buffer; percentile_approx is the 100 TB swap), a 1-row broadcast
    of the fences, one map-combinable clamp aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice")).alias("v")
    )
    q = o.agg(F.expr("percentile(v, array(0.25, 0.75))").alias("p"))
    f = q.select(
        F.floor(
            F.expr("p[0]") - F.lit(1.5) * (F.expr("p[1]") - F.expr("p[0]"))
        ).cast("bigint").alias("lo"),
        F.floor(
            F.expr("p[1]") + F.lit(1.5) * (F.expr("p[1]") - F.expr("p[0]"))
        ).cast("bigint").alias("hi"),
    )
    clamped = F.when(F.col("v") < F.col("lo"), F.col("lo")).when(
        F.col("v") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("v"))
    return (
        o.crossJoin(F.broadcast(f))
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below"),
            F.sum(F.when(F.col("v") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above"),
            F.expr(
                "CAST(SUM(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi"
                " ELSE v END) div COUNT(*) AS BIGINT)"
            ).alias("wmean_c"),
        )
        .select(
            "n",
            F.col("lo").alias("lo_fence_c"),
            F.col("hi").alias("hi_fence_c"),
            "n_below",
            "n_above",
            "wmean_c",
        )
    )


@_q(
    "q234_abc_xyz_matrix",
    f"""
    WITH rev AS (SELECT l_partkey AS p,
                        CAST(SUM({SC("l_extendedprice")}) AS BIGINT) AS r
                 FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(SUM(r) AS BIGINT) AS tot FROM rev),
    abc AS (
      SELECT p, r,
             CASE WHEN cum * 100 <= 80 * tot THEN 'A'
                  WHEN cum * 100 <= 95 * tot THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM (SELECT p, r,
                   CAST(SUM(r) OVER (ORDER BY r DESC, p ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum
            FROM rev) CROSS JOIN t
    ),
    wk AS (SELECT l_partkey AS p,
                  epoch_us(l_shipdate) // {_WEEK_US} AS wkk,
                  CAST(SUM({SC("l_quantity")}) AS BIGINT) AS x
           FROM lineitem GROUP BY 1, 2),
    g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_weeks,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x*x) AS BIGINT) AS sxx
          FROM wk GROUP BY p),
    xyz AS (
      SELECT p, CASE WHEN cv_e6 <= 500000 THEN 'X'
                     WHEN cv_e6 <= 1000000 THEN 'Y'
                     ELSE 'Z' END AS xyz_class
      FROM (SELECT p,
                   CAST(FLOOR(sqrt(CAST(n_weeks*sxx - sx*sx AS DOUBLE))
                              / CAST(sx AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT) AS cv_e6
            FROM g WHERE n_weeks >= 4)
    )
    SELECT abc.abc_class, COALESCE(xyz.xyz_class, 'U') AS xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(abc.r) AS BIGINT) AS revenue_c,
           CAST((1000000 * SUM(abc.r)) // (SELECT tot FROM t) AS BIGINT)
             AS revenue_share_e6
    FROM abc LEFT JOIN xyz ON xyz.p = abc.p
    GROUP BY abc.abc_class, COALESCE(xyz.xyz_class, 'U')
    """,
)
def q234_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC-XYZ planning matrix — the classic inventory-strategy
    crosstab composing two families this engine already records: ABC
    revenue concentration (A = parts inside the top 80% of cumulative
    revenue, B to 95%, C rest — q174's Pareto machinery applied to
    parts, with integer cross-multiplied thresholds cum*100 <= 80*tot
    so no share is ever a float) and q220's XYZ demand-variability
    classes ('U' for parts with <4 active weeks, kept so the matrix
    telescopes to every revenue-bearing part). Exactness: cents
    revenue, exact cumulative window with (revenue DESC, partkey ASC)
    ties, integer threshold compares, q220's floor6 CV. Plan: two
    part-keyed aggregates on one scan lineage, a part-sized cumsum
    window, a part-keyed join, a 12-cell rollup — everything after
    the first groupBy is part-sized."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p")).agg(
        sum_cents(F.col("l_extendedprice")).cast("bigint").alias("r")
    )
    t = rev.agg(F.sum("r").cast("bigint").alias("tot"))
    # Part-sized cumulative revenue WITHOUT a single-partition window:
    # two-pass range-partitioned prefix sum (relational.distributed_rank).
    abc = (
        distributed_rank(
            rev,
            [F.col("r").desc(), F.col("p").asc()],
            rank_col="_rnk",
            value_col="r",
            cumsum_col="cum",
        )
        .select("p", "r", "cum")
        .crossJoin(F.broadcast(t))
        .select(
            "p",
            "r",
            F.when(F.col("cum") * 100 <= 80 * F.col("tot"), "A")
            .when(F.col("cum") * 100 <= 95 * F.col("tot"), "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    wk = (
        li.select(
            F.col("l_partkey").alias("p"),
            F.expr(
                f"unix_micros(cast(l_shipdate as timestamp)) div {_WEEK_US}"
            ).alias("wkk"),
            cents(F.col("l_quantity")).alias("q"),
        )
        .groupBy("p", "wkk")
        .agg(F.sum("q").cast("bigint").alias("x"))
    )
    g = (
        wk.groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
        .filter(F.col("n_weeks") >= 4)
    )
    xyz = g.select(
        "p",
        F.floor(
            F.sqrt((F.col("n_weeks") * F.col("sxx") - F.col("sx") * F.col("sx"))
                   .cast("double"))
            / F.col("sx").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("bigint").alias("cv_e6"),
    ).select(
        "p",
        F.when(F.col("cv_e6") <= 500000, "X")
        .when(F.col("cv_e6") <= 1000000, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "p", "left")
        .select(
            "abc_class",
            F.coalesce(F.col("xyz_class"), F.lit("U")).alias("xyz_class"),
            "r",
        )
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("r").cast("bigint").alias("revenue_c"),
        )
        .crossJoin(F.broadcast(t))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            "revenue_c",
            F.expr("CAST((1000000 * revenue_c) div tot AS BIGINT)").alias(
                "revenue_share_e6"
            ),
        )
    )


@_q(
    "q240_mad_robust_scale",
    f"""
    WITH v AS (SELECT o_orderpriority AS pri,
                      {SC("o_totalprice")} AS c FROM orders),
    med AS (SELECT pri, CAST(COUNT(*) AS BIGINT) AS n,
                   quantile_cont(c, 0.5) AS median_c
            FROM v GROUP BY pri),
    dev AS (SELECT v.pri, abs(v.c - med.median_c) AS d
            FROM v JOIN med ON med.pri = v.pri)
    SELECT med.pri AS orderpriority, med.n, med.median_c,
           quantile_cont(dev.d, 0.5) AS mad_c
    FROM dev JOIN med ON med.pri = dev.pri
    GROUP BY med.pri, med.n, med.median_c
    """,
)
def q240_mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per order priority — the robust scale
    estimate that completes the outlier-stats family (q233 Tukey
    fences, q224 z-score, q211 weighted median, q190 trimmed mean):
    MAD ignores up to 50% contamination where stddev is dragged by a
    single whale. Exactness: both medians are 0.5-quantile CONT
    interpolations over exact integers (cents, then |cents - median|
    whose values are integers or exact halves — all binary-exact
    doubles, the dyadic-fraction rule), so every output bit matches
    DuckDB with no quantization. Plan: one grouped exact-percentile
    aggregate, a 5-row broadcast join back, a second grouped
    percentile — two exchanges on the 5-key priority column, fact
    table scanned once per pass (the production swap is
    percentile_approx, q199's discipline)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        cents(F.col("o_totalprice")).alias("c"),
    )
    med = o.groupBy("pri").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile(c, 0.5)").alias("median_c"),
    )
    dev = o.join(F.broadcast(med), "pri").select(
        "pri", "n", "median_c", F.abs(F.col("c") - F.col("median_c")).alias("d")
    )
    return (
        dev.groupBy("pri", "n", "median_c")
        .agg(F.expr("percentile(d, 0.5)").alias("mad_c"))
        .select(
            F.col("pri").alias("orderpriority"), "n", "median_c", "mad_c"
        )
    )


@_q(
    "q242_percentile_rank_normalize",
    f"""
    WITH s AS (SELECT o_custkey,
                      CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS x
               FROM orders GROUP BY o_custkey),
    r AS (SELECT o_custkey, x,
                 row_number() OVER (ORDER BY x ASC, o_custkey ASC) AS rk,
                 COUNT(*) OVER () AS n
          FROM s)
    SELECT o_custkey AS custkey, x AS spend_c,
           CAST((1000000 * (rk - 1)) // greatest(n - 1, 1) AS BIGINT)
             AS pct_e6
    FROM r
    """,
)
def q242_percentile_rank_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Percentile-rank (empirical-CDF) normalization of customer spend
    — the feature-scaling step of every learned ranking/quality model
    (map raw spend to [0, 1e6] by rank, robust to any distribution):
    pct = (rank-1)/(n-1) as an exact e6 integer, rank from
    relational.distributed_rank (the two-pass range-partitioned rank —
    this query is the operator's REUSE story: q174/q215/q234 consume
    cumsum/ntile, this one the raw rank as a model feature), n from a
    broadcast 1-row count. Deterministic row_number semantics with the
    (spend, custkey) total order (the rank()-ties variant is the same
    operator with a coarser key). Output is customer-dimension sized;
    no single-partition stage at any scale."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        sum_cents(F.col("o_totalprice")).cast("bigint").alias("x")
    )
    ranked = distributed_rank(
        s, [F.col("x").asc(), F.col("custkey").asc()], rank_col="rk"
    )
    n1 = s.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n1))
        .select(
            "custkey",
            F.col("x").alias("spend_c"),
            F.expr(
                "CAST((1000000 * (rk - 1))"
                " div greatest(n - 1, CAST(1 AS BIGINT)) AS BIGINT)"
            ).alias("pct_e6"),
        )
    )


@_q(
    "q246_hhi_concentration",
    f"""
    WITH r AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             CAST(SUM({SC("l.l_extendedprice")}) AS BIGINT) AS x
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    t AS (SELECT nation, CAST(SUM(x) AS BIGINT) AS tot,
                 CAST(COUNT(*) AS BIGINT) AS n_suppliers
          FROM r GROUP BY nation),
    sh AS (SELECT r.nation, (1000000 * r.x) // t.tot AS share_e6
           FROM r JOIN t ON t.nation = r.nation)
    SELECT sh.nation,
           t.n_suppliers,
           t.tot AS revenue_c,
           CAST(SUM(share_e6 * share_e6) // 1000000 AS BIGINT) AS hhi_e6,
           CAST(MAX(share_e6) AS BIGINT) AS top_share_e6
    FROM sh JOIN t ON t.nation = sh.nation
    GROUP BY sh.nation, t.n_suppliers, t.tot
    """,
)
def q246_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue per
    nation — the antitrust-grade market-structure statistic that
    completes the concentration family (q174 Pareto curve, q215 Gini,
    q205 key skew): HHI = sum of squared revenue shares, 1e6/n at
    perfect competition up to 1e6 at monopoly. Exactness: shares are
    e6-quantized FIRST (exact integer trunc-div), then squared and
    summed in int64 (share <= 1e6 so a square <= 1e12; dozens of
    suppliers per nation keeps the sum far under 2^63) — the
    quantize-then-square order is part of the contract on BOTH
    engines, avoiding the tot^2 > int64 overflow a cross-multiplied
    form would hit. Plan: one (nation, supplier) aggregate off the
    broadcast supplier-dim join, a nation-sized totals join back, one
    nation-keyed rollup."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nation"),
    )
    r = (
        li.join(F.broadcast(su), "l_suppkey")
        .groupBy("nation", F.col("l_suppkey").alias("supp"))
        .agg(sum_cents(F.col("l_extendedprice")).cast("bigint").alias("x"))
    )
    t = r.groupBy("nation").agg(
        F.sum("x").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    sh = r.join(F.broadcast(t), "nation").select(
        "nation", "n_suppliers", "tot",
        F.expr("(1000000 * x) div tot").alias("share_e6"),
    )
    return sh.groupBy("nation", "n_suppliers", "tot").agg(
        F.expr("CAST(SUM(share_e6 * share_e6) div 1000000 AS BIGINT)").alias(
            "hhi_e6"
        ),
        F.max("share_e6").cast("bigint").alias("top_share_e6"),
    ).select(
        "nation", "n_suppliers",
        F.col("tot").alias("revenue_c"), "hhi_e6", "top_share_e6",
    )


@_q(
    "q249_mann_whitney",
    f"""
    WITH v AS (
      SELECT {SC("o_totalprice")} AS val,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
      FROM orders
    ),
    t AS (SELECT val, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(a) AS BIGINT) AS cnt_a
          FROM v GROUP BY val),
    c AS (SELECT val, cnt, cnt_a,
                 CAST(SUM(cnt) OVER (ORDER BY val
                                     ROWS UNBOUNDED PRECEDING) - cnt
                      AS BIGINT) AS cnt_lt
          FROM t),
    g AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                 CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(cnt_a * (2 * cnt_lt + cnt + 1)) AS BIGINT) AS r_a_x2
          FROM c)
    SELECT n_a AS n_urgent,
           CAST(n - n_a AS BIGINT) AS n_other,
           r_a_x2 AS rank_sum_urgent_x2,
           CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_urgent_x2,
           CAST(2 * n_a * (n - n_a) - (r_a_x2 - n_a * (n_a + 1))
                AS BIGINT) AS u_other_x2
    FROM g
    """,
)
def q249_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test statistic comparing the
    order-value distributions of urgent vs non-urgent orders — the
    nonparametric two-sample test an experimentation platform reaches
    for when revenue distributions are too skewed for a t-test. Exact
    integer throughout via the DOUBLED-rank convention: with ties taking
    the average rank, a row's rank is (2*cnt_lt + cnt_eq + 1)/2 — a
    half-integer — so every statistic is carried x2 and stays int64
    (R_x2 <= 2N^2, safe past 10^9 rows). The per-value tally collapses
    the table to its value domain first; cnt_lt comes from
    relational.distributed_rank's prefix sum over that value-keyed
    aggregate (the two-pass rank as the engine's ONLY ordered pass — no
    single-partition window; the oracle uses the equivalent ANSI running
    sum), and one final map-combined aggregate folds the rank sum.
    Identity u_urgent + u_other = n_a*n_b (x2) doubles as the built-in
    sanity check. Plan: value-domain aggregate -> two balanced
    exchanges (range + pid) -> 1-row reduce."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("val"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("a"),
    )
    t = v.groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("a").cast("bigint").alias("cnt_a"),
    )
    # rank over the DISTINCT value domain: cumsum(cnt) - cnt = number of
    # rows strictly below this value, the tie-average building block
    c = distributed_rank(
        t,
        [F.col("val").asc()],
        rank_col="_vr",
        value_col="cnt",
        cumsum_col="_cum",
    ).select(
        "val", "cnt", "cnt_a", (F.col("_cum") - F.col("cnt")).alias("cnt_lt")
    )
    g = c.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(
            F.col("cnt_a") * (F.lit(2) * F.col("cnt_lt") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("r_a_x2"),
    )
    return g.select(
        F.col("n_a").alias("n_urgent"),
        (F.col("n") - F.col("n_a")).cast("bigint").alias("n_other"),
        F.col("r_a_x2").alias("rank_sum_urgent_x2"),
        F.expr("CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT)").alias(
            "u_urgent_x2"
        ),
        F.expr(
            "CAST(2 * n_a * (n - n_a) - (r_a_x2 - n_a * (n_a + 1))"
            " AS BIGINT)"
        ).alias("u_other_x2"),
    )


@_q(
    "q251_spearman_rank_corr",
    f"""
    WITH c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    tx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY x),
    cx AS (SELECT x, CAST(2 * (SUM(cnt) OVER (ORDER BY x
                                              ROWS UNBOUNDED PRECEDING)
                              - cnt) + cnt + 1 AS BIGINT) AS rx
           FROM tx),
    ty AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY y),
    cy AS (SELECT y, CAST(2 * (SUM(cnt) OVER (ORDER BY y
                                              ROWS UNBOUNDED PRECEDING)
                              - cnt) + cnt + 1 AS BIGINT) AS ry
           FROM ty),
    r AS (SELECT cx.rx, cy.ry FROM c
          JOIN cx ON cx.x = c.x JOIN cy ON cy.y = c.y),
    m AS (SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
                 SUM(rx*rx) AS sxx, SUM(ry*ry) AS syy,
                 SUM(rx*ry) AS sxy
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
                      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                         * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS spearman_e6
    FROM m
    """,
)
def q251_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's order count and
    total spend — the robust monotone-association measure analysts
    reach for when Pearson (q214/q223) is distorted by heavy tails:
    Pearson applied to TIE-AVERAGED ranks. Exactness end to end: a
    tie-averaged rank is (2*cnt_lt + cnt_eq + 1)/2, a half-integer, so
    ranks are carried DOUBLED (the q249 convention) and every sum of
    rank products is an exact integer (decimal(38,0) / HUGEINT at the
    aggregate — rx*ry <= 4n^2 per row); rho is assembled from those
    exact integers with one correctly-rounded double cast per factor,
    IEEE sqrt, and round-half-up e6 (the q214 idiom, bit-identical on
    both engines). Each variable's cnt_lt prefix comes from
    relational.distributed_rank's cumsum over that variable's VALUE
    domain — two independent rank passes composed in one plan (the
    capacity-8 cache registry at work), joined back on value, then ONE
    map-combined 6-sum aggregate. No single-partition stage anywhere;
    the oracle's running sums are DuckDB windows."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        sum_cents(F.col("o_totalprice")).cast("bigint").alias("y"),
    )

    def ranks_x2(var: str, out: str) -> DataFrame:
        t = c.groupBy(var).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        rk = distributed_rank(
            t,
            [F.col(var).asc()],
            rank_col="_r",
            value_col="cnt",
            cumsum_col="_cum",
        )
        return rk.select(
            var,
            (
                F.lit(2) * (F.col("_cum") - F.col("cnt")) + F.col("cnt") + 1
            ).alias(out),
        )

    r = c.join(ranks_x2("x", "rx"), "x").join(ranks_x2("y", "ry"), "y")
    row = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("ry").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,0)")).alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,0)")).alias("sxy"),
    ).collect()[0]
    n = int(row["n"])
    sx, sy = int(row["sx"]), int(row["sy"])
    sxx, syy, sxy = int(row["sxx"]), int(row["syy"]), int(row["sxy"])
    num = n * sxy - sx * sy
    va, vb = n * sxx - sx * sx, n * syy - sy * sy
    rho_e6 = _math.floor(
        float(num) / (_math.sqrt(float(va)) * _math.sqrt(float(vb)))
        * 1000000.0
        + 0.5
    )
    return spark.createDataFrame(
        [(n, rho_e6)], "n_customers bigint, spearman_e6 bigint"
    )


@_q(
    "q255_ks_two_sample",
    f"""
    WITH v AS (
      SELECT {SC("o_totalprice")} AS val,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS a
      FROM orders
    ),
    t AS (SELECT val, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(a) AS BIGINT) AS cnt_a
          FROM v GROUP BY val),
    c AS (SELECT val,
                 CAST(SUM(cnt) OVER (ORDER BY val
                                     ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum,
                 CAST(SUM(cnt_a) OVER (ORDER BY val
                                       ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_a
          FROM t),
    g AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                 CAST(SUM(cnt) AS BIGINT) AS n
          FROM t),
    d AS (SELECT c.val,
                 ABS(c.cum_a * (g.n - g.n_a) - (c.cum - c.cum_a) * g.n_a)
                   AS dif
          FROM c, g),
    m AS (SELECT CAST(MAX(dif) AS BIGINT) AS d_num FROM d)
    SELECT g.n_a AS n_priority,
           CAST(g.n - g.n_a AS BIGINT) AS n_other,
           m.d_num AS d_num,
           CAST((CAST(1000000 AS HUGEINT) * m.d_num)
                // (g.n_a * (g.n - g.n_a)) AS BIGINT)
             AS ks_e6,
           (SELECT CAST(MIN(val) AS BIGINT) FROM d WHERE dif = m.d_num)
             AS at_val_cents
    FROM g, m
    """,
)
def q255_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test comparing the order-value
    distributions of priority (URGENT/HIGH) vs other orders — the
    distribution-shift detector a data-quality monitor runs between a
    reference corpus and today's ingest (q249's Mann-Whitney catches
    location shifts; KS catches ANY shape difference). Exact integer
    throughout: both ECDFs are evaluated on the shared value domain as
    CROSS-MULTIPLIED counts (D_num(v) = |cum_a*n_b - cum_b*n_a|, int64
    to ~3e9 rows per side — the q249 convention), so sup|F_a - F_b| =
    max(D_num)/(n_a*n_b) with a single e6 trunc division at the end and
    zero float comparisons. The e6 pre-scaling rides exact wide
    integers (1e6 * d_num reaches ~9.2e24 when d_num nears n_a*n_b,
    past int64): DECIMAL(38,0) `div` on Spark, HUGEINT `//` on the
    DuckDB oracle (its decimal `//` degrades to DOUBLE and loses
    exactness past 2^53) — verified identical at the int64 edge — so
    the binding envelope stays the cross-products' own ~3e9 rows per
    side, not the ~3e6 an int64 pre-scale would impose. Both cumulative counts ride ONE
    distributed_rank pass (the new cumsum_cols multi-prefix-sum form —
    one range exchange serves both samples); the max and its leftmost
    argmax value are two 1-row aggregates over the value domain, the
    oracle the equivalent ANSI running sums. No single-partition stage
    at any scale."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        cents(F.col("o_totalprice")).alias("val"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("a"),
    )
    t = v.groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("a").cast("bigint").alias("cnt_a"),
    )
    c = distributed_rank(
        t,
        [F.col("val").asc()],
        rank_col="_vr",
        value_col="cnt",
        cumsum_col="cum",
        cumsum_cols={"cnt_a": "cum_a"},
    )
    g = t.agg(
        F.sum("cnt_a").cast("bigint").alias("n_a"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    d = c.crossJoin(F.broadcast(g)).select(
        "val",
        F.abs(
            F.col("cum_a") * (F.col("n") - F.col("n_a"))
            - (F.col("cum") - F.col("cum_a")) * F.col("n_a")
        )
        .cast("bigint")
        .alias("dif"),
    )
    m = d.agg(F.max("dif").cast("bigint").alias("d_num"))
    at = (
        d.join(F.broadcast(m), F.col("dif") == F.col("d_num"))
        .agg(F.min("val").cast("bigint").alias("at_val_cents"))
    )
    return (
        g.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n_a").alias("n_priority"),
            (F.col("n") - F.col("n_a")).cast("bigint").alias("n_other"),
            "d_num",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * d_num)"
                " div (n_a * (n - n_a)) AS BIGINT)"
            ).alias("ks_e6"),
            "at_val_cents",
        )
    )


@_q(
    "q260_pareto_skyline",
    f"""
    WITH d AS (
      SELECT {SC("p_retailprice")} AS price_c,
             CAST(MAX(p_size) AS BIGINT) AS gmax
      FROM part GROUP BY 1
    ),
    r AS (
      SELECT price_c, gmax,
             MAX(gmax) OVER (ORDER BY price_c
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS premax
      FROM d
    ),
    s AS (SELECT price_c, gmax FROM r
          WHERE premax IS NULL OR gmax > premax)
    SELECT p.p_partkey AS partkey, s.price_c AS price_cents,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    JOIN s ON {SC("p.p_retailprice")} = s.price_c AND p.p_size = s.gmax
    """,
)
def q260_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of part offerings — minimize price,
    maximize size: the multi-objective shortlist operator (same shape
    as 'the cost/quality frontier of training-data sources' — no point
    on it is beaten on both axes at once). The naive definition is an
    O(n^2) NOT-EXISTS dominance join; the 100 TB form here is the
    sort-based skyline: collapse to the price value domain (one
    groupBy), then one EXCLUSIVE prefix max over ascending price via
    relational.distributed_rank's cummax_cols (the two-pass rank's
    third statistic form after cumsum and ntile) — a domain row
    survives iff its best size strictly exceeds every strictly-cheaper
    price's best (gmax > premax, premax NULL = cheapest price), and
    the frontier (<= |size domain| rows by construction) broadcasts
    back to fetch all tying parts. Exact integers only (price in
    cents, size as-is); the oracle runs the identical algorithm with
    the ANSI 1-PRECEDING frame, and the pytest cross-check replays the
    quadratic dominance definition directly. Plan: one value-domain
    aggregate, two balanced rank exchanges, one broadcast probe join
    on the fact scan — no cartesian, no single-partition stage."""
    part = _t(spark, sf_dir, "part")
    d = part.groupBy(cents(F.col("p_retailprice")).alias("price_c")).agg(
        F.max("p_size").cast("bigint").alias("gmax")
    )
    r = distributed_rank(
        d,
        [F.col("price_c").asc()],
        rank_col="_r",
        cummax_cols={"gmax": "premax"},
    )
    s = r.filter(
        F.col("premax").isNull() | (F.col("gmax") > F.col("premax"))
    ).select("price_c", "gmax")
    return (
        part.join(
            F.broadcast(s),
            (cents(F.col("p_retailprice")) == F.col("price_c"))
            & (F.col("p_size") == F.col("gmax")),
        )
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("price_c").alias("price_cents"),
            F.col("p_size").cast("bigint").alias("size"),
        )
    )


@_q(
    "q273_distribution_drift_tvd",
    f"""
    WITH e AS (
      SELECT event_type,
             LEAST({SC("value")} // 2500, 19) AS vb,
             CASE WHEN ts < TIMESTAMP '2024-01-25' THEN 1 ELSE 0 END
               AS is_base
      FROM events
    ),
    c AS (
      SELECT event_type, CAST(vb AS BIGINT) AS vb,
             CAST(SUM(is_base) AS BIGINT) AS n_base,
             CAST(COUNT(*) - SUM(is_base) AS BIGINT) AS n_delta
      FROM e GROUP BY 1, 2
    ),
    g AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                 CAST(SUM(n_delta) AS BIGINT) AS nd
          FROM c),
    d AS (
      SELECT c.*, ABS(c.n_base * g.nd - c.n_delta * g.nb) AS dnum, g.nb, g.nd
      FROM c, g
    ),
    t AS (SELECT CAST((CAST(1000000 AS HUGEINT) * SUM(dnum))
                      // (2 * MAX(nb) * MAX(nd)) AS BIGINT) AS tvd_e6
          FROM d)
    SELECT d.event_type, d.vb, d.n_base, d.n_delta,
           CAST(d.dnum AS BIGINT) AS drift_num, t.tvd_e6
    FROM d, t
    """,
)
def q273_distribution_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit by EXACT total-variation distance — the
    data-quality monitor between a reference window and fresh ingest
    (the ML-ops role PSI plays, but TVD needs no logarithms so it stays
    exact-integer end to end): events split at the q269 cutoff into
    base/delta, binned over (event_type x 20 value buckets), and
    TVD = 0.5 * sum_i |p_i - q_i| computed as cross-multiplied counts
    (|n_i*M - m_i*N|, int64 to ~3e9 rows per window — the q249/q255
    convention) with the SUM itself widened inside the aggregate
    (SUM(CAST(dnum AS DECIMAL(38,0))) on Spark, HUGEINT on DuckDB —
    ADVICE r11: summing in BIGINT first overflows at the very envelope
    the per-cell math is safe to, since sum(dnum) alone reaches 2*N*M
    ~ 1.8e19 > int64 max) and ONE wide-integer e6 division at the end
    (the q255 idiom, since 1e6*sum(dnum) reaches 2e6*N*M). Per-cell rows carry
    both counts and the exact drift numerator so the audit names the
    drifting cells, with the global tvd_e6 alongside. Scale shape: one
    map-combined groupBy to ~|cells| rows, a 1-row totals broadcast,
    a 1-row TVD broadcast."""
    cutoff = F.lit("2024-01-25").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        cents(F.col("value")).alias("val_c"),
        F.when(F.col("ts") < cutoff, 1).otherwise(0).alias("is_base"),
    ).select(
        "event_type",
        F.least(F.expr("val_c div 2500"), F.lit(19).cast("bigint"))
        .cast("bigint")
        .alias("vb"),
        "is_base",
    )
    c = e.groupBy("event_type", "vb").agg(
        F.sum("is_base").cast("bigint").alias("n_base"),
        (F.count(F.lit(1)) - F.sum("is_base")).cast("bigint").alias("n_delta"),
    )
    g = c.agg(
        F.sum("n_base").cast("bigint").alias("nb"),
        F.sum("n_delta").cast("bigint").alias("nd"),
    )
    d = c.crossJoin(F.broadcast(g)).withColumn(
        "dnum",
        F.abs(F.col("n_base") * F.col("nd") - F.col("n_delta") * F.col("nb")),
    )
    t = d.agg(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * SUM(CAST(dnum AS DECIMAL(38,0))))"
            " div (2 * MAX(nb) * MAX(nd)) AS BIGINT)"
        ).alias("tvd_e6")
    )
    return d.crossJoin(F.broadcast(t)).select(
        "event_type",
        "vb",
        "n_base",
        "n_delta",
        F.col("dnum").cast("bigint").alias("drift_num"),
        "tvd_e6",
    )
