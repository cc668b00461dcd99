"""Joins: equi, outer, semi/anti and theta joins, interval joins and the TPC-H
join shapes adapted to the corpus schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import count_if
from spark_lakehouse_medallion_pipeline_spark.operators import timeseries
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    S_MONEY,
    _DISC_E4,
    _disc_e4,
    _q,
    _t,
    cents,
    mean_cents,
    money,
    sum_cents,
)


@_q(
    "q03_top_orders_by_revenue",
    f"""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain + top-k (X1, X11). customer is the small side
    of orders⋈customer — AQE broadcasts it; the final top-10 compiles to
    TakeOrderedAndProject (no global sort)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg((F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
    )


@_q(
    "q04_regional_revenue",
    f"""
    SELECT r.r_name, n.n_name,
           CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_lineitems
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q04_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (X5): region/nation broadcast (X2), fact-to-fact
    orders⋈lineitem shuffles on orderkey once."""
    r = F.broadcast(_t(spark, sf_dir, "region"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_q(
    "q05_brand_part_revenue",
    f"""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue,
           CAST(SUM({SC("l_quantity")}) AS DOUBLE) / COUNT(*) / 100.0 AS avg_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q05_brand_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dimension (X2): part is bounded, so the join is a
    map-side BroadcastHashJoin — zero shuffle for the join itself."""
    p = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            n.alias("n_items"),
            (F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"),
            (F.sum(cents(F.col("l_quantity"))).cast("double") / n / F.lit(100.0)).alias("avg_qty"),
        )
    )


@_q(
    "q06_customer_order_stats",
    f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM({SC("o.o_totalprice")}), 0) AS DOUBLE) / 100.0 AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q06_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null extension (X3): customers with zero orders
    surface with n_orders = 0."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            money(F.coalesce(sum_cents(F.col("o_totalprice")), F.lit(0))).alias("total_spent"),
        )
    )


@_q(
    "q07_customers_without_orders",
    """
    SELECT c_custkey, c_name, c_acctbal AS acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q07_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (X4): left_anti shuffles only the key column."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal")
    )


@_q(
    "q08_segment_active_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_active_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q08_segment_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (X4) + aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


@_q(
    "q25_late_shipments_theta",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_late
    FROM orders o JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY o.o_orderpriority
    """,
)
def q25_late_shipments_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range predicate on a join (X6): the equi key keeps it a hash
    join; the range predicate is a post-join filter, not a cross join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


@_q(
    "q48_interval_join",
    f"""
    WITH iv AS (
      SELECT DISTINCT date_trunc('day', ts) + 9 * INTERVAL 1 HOUR AS window_start,
                      date_trunc('day', ts) + 17 * INTERVAL 1 HOUR AS window_end
      FROM events
    )
    SELECT iv.window_start, COUNT(*) AS n_events, {S_MONEY("e.value")} AS total_value
    FROM events e JOIN iv
      ON e.ts >= iv.window_start AND e.ts < iv.window_end
    GROUP BY iv.window_start
    """,
)
def q48_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join via hour-bucket equi-join (never a nested
    loop): events matched into derived business-hours windows. The oracle
    is the plain non-equi BETWEEN join — same semantics, naive plan."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 9 HOURS")).alias("window_start"),
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 17 HOURS")).alias("window_end"),
    ).distinct()
    joined = timeseries.interval_join_bucketed(ev, iv, "ts", "window_start", "window_end")
    return joined.groupBy("window_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        money(sum_cents(F.col("value"))).alias("total_value"),
    )


_Q62_SQL = """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM {supplier} s
    JOIN {lineitem} l1 ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM {lineitem} l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM {lineitem} l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >= l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
"""


@_q(
    "q62_last_shipper_per_order",
    _Q62_SQL.format(supplier="supplier", lineitem="lineitem"),
)
def q62_last_shipper_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS against the same
    fact table — suppliers who strictly ship last on multi-supplier
    orders. Catalyst decorrelates to left-semi + left-anti joins on
    l_orderkey (broadcast-able at the order-group level); identical SQL
    runs on DuckDB."""
    return spark.sql(
        _Q62_SQL,
        supplier=_t(spark, sf_dir, "supplier"),
        lineitem=_t(spark, sf_dir, "lineitem"),
    )


@_q(
    "q66_dormant_rich_customers",
    """
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal*100) AS BIGINT)) AS BIGINT) AS total_bal_c
    FROM customer c
    WHERE CAST(ROUND(c.c_acctbal*100) AS BIGINT)
            * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0)
          > (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)
             FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q66_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape, DataFrame-first: above-average-balance customers
    with no urgent orders, by nation. The global average is an exact integer
    cross-comparison (bal*count > sum — no double division, so no
    boundary ulps); the 1-row aggregate broadcasts; the NOT EXISTS is a
    left-anti join."""
    cust = _t(spark, sf_dir, "customer").withColumn("bal_c", cents(F.col("c_acctbal")))
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("_n"), F.sum("bal_c").alias("_s")
    )
    rich = cust.join(F.broadcast(pos)).filter(
        F.col("bal_c") * F.col("_n") > F.col("_s")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    dormant = rich.join(urgent, "c_custkey", "left_anti")
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal_c").alias("total_bal_c"),
    )


@_q(
    "q68_nation_trade_flow",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(disc_e4) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_lines
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
             {_DISC_E4} AS disc_e4
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q68_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Scale plan: nation is broadcast; supplier/customer are pre-filtered to
    the two surviving nations BEFORE touching lineitem/orders (12.5x
    reduction of both dims), so the two big-table joins are maximally
    selective; the final 2x2xY group is a tiny hash aggregate."""
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            (F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "q69_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN disc_e4 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(disc_e4) AS DOUBLE) AS mkt_share,
           CAST(SUM(disc_e4) AS DOUBLE) / 10000.0 AS total_revenue
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             {_DISC_E4} AS disc_e4,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q69_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold
    into EUROPE customers, by order year. Share = exact-int numerator /
    exact-int denominator in one double division (bit-stable). Scale
    plan: part is filtered+broadcast into the lineitem scan (biggest
    selectivity first), customer is pre-filtered to the EUROPE region via
    broadcast nation⋈region, supplier⋈nation broadcast for the dimension
    label. One shuffle per big-table equi-join; AQE coalesces."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_nat = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(eur_nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    orders = _t(spark, sf_dir, "orders")
    num = F.sum(F.when(F.col("supp_nation") == "NATION_5", _disc_e4()).otherwise(F.lit(0)))
    den = F.sum(_disc_e4())
    return (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (num.cast("double") / den.cast("double")).alias("mkt_share"),
            (den.cast("double") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@_q(
    "q70_promo_revenue_share",
    f"""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT)  AS ship_year,
           CAST(EXTRACT(month FROM l_shipdate) AS INT) AS ship_month,
           100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_E4} ELSE 0 END) AS DOUBLE)
                    / CAST(SUM({_DISC_E4}) AS DOUBLE)) AS promo_pct,
           CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1, 2
    """,
)
def q70_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly % of revenue from PROMO-type parts.
    part(partkey→type) broadcasts into the lineitem scan — no shuffle
    until the (year,month) aggregate, which is ~84 groups."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    num = F.sum(F.when(F.col("p_type") == "PROMO", _disc_e4()).otherwise(F.lit(0)))
    den = F.sum(_disc_e4())
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
        )
        .agg(
            (F.lit(100.0) * (num.cast("double") / den.cast("double"))).alias("promo_pct"),
            (den.cast("double") / F.lit(10000.0)).alias("revenue"),
        )
    )


@_q(
    "q71_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_DISC_E4}) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE r = (SELECT MAX(r) FROM rev)
    """,
)
def q71_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max revenue in 1996Q1. The view
    becomes a per-suppkey aggregate; the MAX scalar subquery becomes a
    1-row global aggregate broadcast-cross-joined back — unlike an
    empty-frame window max, this never funnels the per-supplier aggregate
    into a single partition, so it scales to |suppliers| ≫ one executor.
    Exact integer comparison, so ties are handled identically to SQL."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_e4()).alias("r"))
    )
    mx = rev.agg(F.max("r").alias("mx"))
    top = rev.join(F.broadcast(mx)).filter(F.col("r") == F.col("mx"))
    sup = _t(spark, sf_dir, "supplier")
    return sup.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey")).select(
        "s_suppkey", "s_name", (F.col("r").cast("double") / F.lit(10000.0)).alias("total_revenue")
    )


@_q(
    "q72_small_qty_revenue",
    """
    WITH pb AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
    lb AS (
      SELECT l_partkey,
             CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_cents,
             CAST(ROUND(l_quantity*100) AS BIGINT)      AS qty_cents
      FROM lineitem JOIN pb ON p_partkey = l_partkey
    ),
    pa AS (
      SELECT l_partkey AS pk, SUM(qty_cents) AS sum_qty_cents, COUNT(*) AS n
      FROM lb GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small_lines,
           CAST(SUM(price_cents) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
    FROM lb JOIN pa ON pk = l_partkey
    WHERE 5 * qty_cents * n < sum_qty_cents
    """,
)
def q72_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-20%-of-average-quantity orders
    for one brand. The correlated AVG subquery is decorrelated into a
    per-partkey aggregate joined back; `qty < 0.2*avg(qty)` is evaluated
    as `5*qty*n < sum(qty)` in exact integer cents — no float compare.
    Scale plan: the brand filter (1/25 of parts) broadcasts into lineitem
    FIRST, so both the per-part aggregate and the self-join run on the
    reduced slice; the partkey-keyed agg+join share one shuffle key."""
    pb = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    lb = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pb), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            cents(F.col("l_extendedprice")).alias("price_cents"),
            cents(F.col("l_quantity")).alias("qty_cents"),
        )
    )
    pa = lb.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty_cents").alias("sum_qty_cents"), F.count(F.lit(1)).alias("n")
    )
    return (
        lb.join(pa, F.col("pk") == F.col("l_partkey"))
        .filter(F.lit(5) * F.col("qty_cents") * F.col("n") < F.col("sum_qty_cents"))
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            (F.sum("price_cents").cast("double") / F.lit(100.0) / F.lit(7.0)).alias("avg_yearly"),
        )
    )


@_q(
    "q73_large_volume_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS sum_qty_cents
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) > 25000
    )
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice,
           CAST(sum_qty_cents AS DOUBLE) / 100.0 AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q73_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders
    (HAVING over a groupBy feeding further joins). The quantity HAVING is
    exact integer cents; ORDER BY carries the unique orderkey tiebreak so
    LIMIT is deterministic. Scale plan: the lineitem→orderkey aggregate
    is the only big shuffle; the HAVING keeps ~0.3% of orders, so the
    joins to orders/customer run on a tiny filtered side (AQE turns them
    into broadcasts at runtime)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"))
        .filter(F.col("sum_qty_cents") > 25000)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            (F.col("sum_qty_cents").cast("double") / F.lit(100.0)).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@_q(
    "q82_forecast_revenue_change",
    f"""
    SELECT CAST(SUM({SC('l_extendedprice')} * {SC('l_discount')}) AS DOUBLE) / 10000.0
             AS promo_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND {SC('l_discount')} BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q82_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be gained by dropping a narrow
    discount band — a pure scan+filter+global-agg. All three predicates
    (ship-year, discount band, quantity cap) are parquet-pushable, so at
    100 TB this is a min/max-stat-pruned columnar scan reading exactly 4
    columns; no shuffle at all (partial sums -> single final reduce).
    Discount is matched on exact cents to dodge double-literal equality."""
    li = _t(spark, sf_dir, "lineitem")
    dc = cents(F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & dc.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents(F.col("l_extendedprice")) * dc).cast("double") / F.lit(10000.0)).alias(
                "promo_revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "q83_returned_item_customers",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q83_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from returned
    items in one quarter. Scale plan: orders is date-filtered FIRST (one
    quarter ~ 1/26 of the table) then joined to the returnflag-filtered
    lineitem on orderkey; customer+nation are broadcast onto the small
    survivor set; top-20 is a TakeOrdered (no full sort). Revenue keyed
    DESC with custkey tiebreak so LIMIT is deterministic cross-engine."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "q84_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q84_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    keeping zero-order customers via the outer join (the priority filter
    stands in for Q13's comment NOT LIKE — it must live in the join
    condition, not a WHERE, to preserve null-extension). Scale plan: one
    shuffle on custkey for join+count (same key, single exchange reused),
    then a tiny re-agg on the count value; COUNT(col) null-skipping gives
    0 for unmatched customers for free."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_q(
    "q85_disjunctive_brand_revenue",
    f"""
    SELECT CAST(SUM({_DISC_E4}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q85_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd (brand, size, quantity)
    conjunctions — the classic disjunctive-predicate join. Scale plan:
    part is pre-filtered to the union of the three brand/size boxes
    (~3/25 of the dim) and broadcast, so the disjunction is evaluated
    map-side on the lineitem scan; Catalyst extracts the common
    brand-side predicate below the join. No shuffle: global agg only."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 15))
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            (F.sum(_disc_e4()).cast("double") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "q86_product_profit_by_nation",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_DISC_E4} - {SC('p_retailprice')}
                      * CAST(ROUND(l_quantity) AS BIGINT) * 10) AS DOUBLE) / 10000.0
             AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
)
def q86_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name pattern. The testdata has no partsupp, so supply cost
    is proxied as p_retailprice/10 per unit — the join topology (2 big + 3
    broadcast dims) is what matters. Profit stays in exact 1e-4 units
    until one final division. Scale plan: the LIKE filter reduces part
    ~6x before broadcast; lineitem joins part/supplier/nation map-side,
    leaving orderkey as the only big shuffle; group keys are tiny."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    cost_e4 = cents(F.col("p_retailprice")) * F.round(F.col("l_quantity")).cast("long") * 10
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(((F.sum(_disc_e4() - cost_e4)).cast("double") / F.lit(10000.0)).alias("profit"))
    )


@_q(
    "q87_priority_shipping_split",
    """
    SELECT l.l_returnflag,
           COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT','2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
             AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q87_priority_shipping_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority line counts per return
    flag for one ship-year (returnflag stands in for the missing
    l_shipmode). Conditional counts via count_if — the Q3-bug-corrected
    semantics from SURVEY.md §1.4. Scale plan: ship-year filter prunes
    lineitem at the scan; one orderkey shuffle joins the two big tables
    (AQE may pick shuffled-hash); 3-row output."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            count_if(hi).alias("high_line_count"),
            count_if(~hi).alias("low_line_count"),
        )
    )


@_q(
    "q88_late_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q88_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count of one quarter's orders that had at least
    one line shipped 60+ days after ordering, by priority (the testdata
    schema has no l_commitdate/l_receiptdate, so lateness is
    shipdate-vs-orderdate). EXISTS becomes a LEFT SEMI join — one
    orderkey shuffle, no row duplication before the aggregate. At 100 TB
    the quarter filter prunes orders at the scan and AQE picks
    shuffled-hash for the semi side; output is 5 rows."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "q97_waiting_supplier",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) w
    JOIN supplier s ON w.l_suppkey = s.s_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = w.l_orderkey AND l2.l_suppkey <> w.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = w.l_orderkey AND l3.l_suppkey <> w.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q97_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders waiting),
    adapted to this corpus: 'late' = shipped > 60 days after order date
    (no l_receiptdate/l_commitdate here). The canonical form is a double
    correlated EXISTS / NOT EXISTS self-join on lineitem — the oracle
    keeps that spelling; Spark-side both correlations collapse into one
    (l_orderkey) window (per-order distinct-supplier and late-supplier
    sets — bounded by suppliers-per-order, a handful of values). The
    window reuses the orders-join partitioning on the same key, so
    beyond that join the query adds only the pair-distinct and name-agg
    exchanges; the canonical self-join rewrite re-shuffles lineitem
    twice more.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)).alias("_late"),
    )
    w = Window.partitionBy("l_orderkey")
    facts = lines.select(
        "l_orderkey",
        "l_suppkey",
        "_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("_n_supp"),
        F.size(
            F.collect_set(F.when(F.col("_late"), F.col("l_suppkey"))).over(w)
        ).alias("_n_late"),
    )
    waiters = (
        facts.filter(F.col("_late") & (F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        waiters.join(F.broadcast(s), waiters.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@_q(
    "q98_idle_rich_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer c
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      AND c_acctbal > (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)
                              / COUNT(*) / 100.0
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q98_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (well-funded customers with no recent orders),
    adapted: market segment stands in for the phone country code (corpus
    has no c_phone). Scalar subquery (global positive-balance average)
    becomes a broadcast 1-row cross join; the NOT EXISTS is a left-anti
    join against recent orders — both decorrelations Catalyst would
    apply to the SQL spelling, made explicit."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        mean_cents(F.col("c_acctbal")).alias("_avg_bal")
    )
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey").distinct()
    return (
        c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(sum_cents(F.col("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "q99_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS min_price_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT c.l_partkey, c.l_suppkey, c.min_price_cents,
             ROW_NUMBER() OVER (PARTITION BY c.l_partkey
                                ORDER BY c.min_price_cents, c.l_suppkey) AS rn
      FROM cost c
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           CAST(r.min_price_cents AS DOUBLE) / 100.0 AS best_price
    FROM ranked r
    JOIN part p ON r.l_partkey = p.p_partkey
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1 AND p.p_size <= 15
    ORDER BY s.s_acctbal DESC, p.p_partkey
    LIMIT 100
    """,
)
def q99_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (cheapest supplier per part), adapted: lineitem is
    the price source (corpus has no partsupp). The correlated MIN
    subquery decorrelates to one aggregate + a per-part row_number —
    one shuffle on (part, supp), one on part; dimension joins broadcast.
    Exact cents + suppkey tie-break keep the winner deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents(F.col("l_extendedprice"))).alias("min_price_cents")
    )
    w = Window.partitionBy("l_partkey").orderBy("min_price_cents", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .filter(F.col("p_size") <= 15)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            (F.col("min_price_cents").cast("double") / F.lit(100.0)).alias("best_price"),
            "s_acctbal",
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey")
        .limit(100)
        .drop("s_acctbal")
    )


@_q(
    "q100_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey,
             SUM({SC('l_extendedprice')} * (100 - {SC('l_discount')})) AS value_e4
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST(value_e4 AS DOUBLE) / 10000.0 AS part_value
    FROM pv
    WHERE value_e4 * 2 * (SELECT COUNT(*) FROM pv) > 3 * (SELECT SUM(value_e4) FROM pv)
    ORDER BY part_value DESC, l_partkey
    """,
)
def q100_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (groups exceeding a fraction of the global total),
    lineitem revenue standing in for partsupp value; the threshold is
    1.5x the mean part value (scale-invariant, unlike Q11's absolute
    fraction, which zeroes out as the part count grows). Both scalar
    subqueries decorrelate to ONE broadcast 1-row (count, total) over
    the SAME per-part aggregate; the all-integer comparison
    (2*value*n > 3*total) is bit-stable on both engines, where a double
    fraction would tie-break differently in the last ulp. The compare
    runs in decimal(38,0) on the Spark side because value_e4*2*n can
    exceed int64 at large scale factors (Spark non-ANSI would wrap
    silently); DuckDB's SUM(BIGINT) is already HUGEINT (int128), so both
    engines stay exact to 38 digits."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(F.sum(_disc_e4()).alias("value_e4"))
    total = pv.agg(
        F.sum("value_e4").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_e4").cast("decimal(38,0)") * 2 * F.col("_n")
            > F.lit(3) * F.col("_total").cast("decimal(38,0)")
        )
        .select(
            "l_partkey",
            (F.col("value_e4").cast("double") / F.lit(10000.0)).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@_q(
    "q103_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    LIMIT 20
    """,
)
def q103_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part class, excluding a
    blocklist via NOT IN): lineitem stands in for partsupp (no partsupp
    in this corpus), negative-balance suppliers for the complaints
    filter. The NOT IN decorrelates to a broadcast LEFT ANTI join
    (s_suppkey is non-null, so anti-join == NOT IN here); part is a
    broadcast dim; the count-distinct is one partial-aggregable shuffle
    on (brand, size). Tie-break (brand, size) is unique per group."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(20)
    )


@_q(
    "q104_heavy_red_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS qty_e2
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(sh.qty_e2 AS DOUBLE) / 100.0 AS red_qty
    FROM supplier s
    JOIN shipped sh ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty_e2 * 4 * (SELECT COUNT(*) FROM shipped)
          > 5 * (SELECT SUM(qty_e2) FROM shipped)
    ORDER BY s.s_suppkey
    """,
)
def q104_heavy_red_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with outsized shipments of a part
    family): who shipped more than 1.25x the mean red-part quantity.
    The correlated "more than half the stock" subquery decorrelates to
    ONE per-supplier aggregate plus a broadcast 1-row (count, total) —
    the q100 pattern; threshold is scale-invariant and the compare runs
    in decimal(38,0) (Spark) / HUGEINT (DuckDB) so nothing wraps."""
    li = _t(spark, sf_dir, "lineitem")
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"])
        .groupBy("l_suppkey")
        .agg(sum_cents(F.col("l_quantity")).alias("qty_e2"))
    )
    totals = shipped.agg(
        F.sum("qty_e2").alias("_total"), F.count(F.lit(1)).alias("_n")
    )
    return (
        shipped.crossJoin(F.broadcast(totals))
        .filter(
            F.col("qty_e2").cast("decimal(38,0)") * 4 * F.col("_n")
            > F.lit(5) * F.col("_total").cast("decimal(38,0)")
        )
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            (F.col("qty_e2").cast("double") / F.lit(100.0)).alias("red_qty"),
        )
        .orderBy("s_suppkey")
    )


_Q276_BUCKET_DAYS = 16


@_q(
    "q276_interval_overlap_join",
    f"""
    WITH iv AS (
      SELECT o_orderkey AS iid,
             CAST(o_orderdate AS DATE) AS start_d,
             CAST((o_orderkey // 100) % 28 + 1 AS BIGINT) AS n_days,
             (CAST(o_orderdate AS DATE) - DATE '1992-01-01') AS s_day
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    pt AS (
      SELECT (CAST(l_shipdate AS DATE) - DATE '1992-01-01') AS p_day,
             CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c
      FROM lineitem
    ),
    hits AS (
      SELECT iv.iid, pt.price_c
      FROM iv JOIN pt
        ON pt.p_day BETWEEN iv.s_day AND iv.s_day + iv.n_days
    )
    SELECT iv.iid, iv.start_d, iv.n_days,
           CAST(COALESCE(COUNT(h.price_c), 0) AS BIGINT) AS n_ship_rows,
           CAST(COALESCE(SUM(h.price_c), 0) AS BIGINT) AS sum_ship_cents
    FROM iv LEFT JOIN hits h ON iv.iid = h.iid
    GROUP BY iv.iid, iv.start_d, iv.n_days
    """,
)
def q276_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (range) join via bucketed blocking — the
    non-equi-join scale pattern, first-class: validity windows (every
    100th order opens a campaign window of 1-28 days from its order
    date) matched against ALL lineitem ship dates with NO equi key —
    the predicate is purely `ship_day BETWEEN window_start AND
    window_end`. The naive plan is a cartesian O(|points| x
    |intervals|); the scale shape here is the standard overlap
    blocking: time is cut into fixed _Q276_BUCKET_DAYS-day buckets,
    each POINT lives in exactly ONE bucket (so no pair dedup is ever
    needed), each INTERVAL explodes to the <= ceil(29/16)+1 = 3
    buckets it touches (sequence + explode — interval length / bucket
    width bounds the fan-out), and the join becomes an EQUI join on
    bucket with the true BETWEEN as conjunctive post-filter. The
    exploded interval side is ~3x|campaigns| rows and is DELIBERATELY
    NOT broadcast-hinted: it grows linearly with |orders|, so a forced
    broadcast would ship a data-proportional table to every executor
    at scale. AQE's size estimate picks BroadcastHashJoin while the
    side is small and degrades to a shuffled equi join on bucket when
    both sides are huge — the plan pin asserts only the invariant that
    matters (no BroadcastNestedLoopJoin, no CartesianProduct: the
    blocking key must survive as an equi key). Dates are
    compared as exact epoch-day integers (DATE - DATE '1992-01-01' on
    both engines) — no interval arithmetic to diverge. Output: one row
    per campaign window (zero-match windows kept by the left join)
    with exact-cents revenue in range. Generalizes q221's funnel
    range-pairing and q48's key-scoped interval join to the keyless
    case."""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    epoch = "DATE '1992-01-01'"
    iv = od.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("iid"),
        F.col("o_orderdate").cast("date").alias("start_d"),
        ((F.col("o_orderkey") / 100).cast("bigint") % 28 + 1)
        .cast("bigint")
        .alias("n_days"),
        F.expr(f"datediff(CAST(o_orderdate AS DATE), {epoch})")
        .cast("bigint")
        .alias("s_day"),
    )
    pt = li.select(
        F.expr(f"datediff(CAST(l_shipdate AS DATE), {epoch})")
        .cast("bigint")
        .alias("p_day"),
        cents(F.col("l_extendedprice")).alias("price_c"),
    ).withColumn("bkt", F.expr(f"p_day div {_Q276_BUCKET_DAYS}"))
    iv_b = iv.withColumn(
        "bkt",
        F.explode(
            F.sequence(
                F.expr(f"s_day div {_Q276_BUCKET_DAYS}"),
                F.expr(f"(s_day + n_days) div {_Q276_BUCKET_DAYS}"),
            )
        ),
    )
    hits = (
        pt.join(iv_b, "bkt")
        .filter(
            (F.col("p_day") >= F.col("s_day"))
            & (F.col("p_day") <= F.col("s_day") + F.col("n_days"))
        )
        .groupBy("iid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ship_rows"),
            F.sum("price_c").cast("bigint").alias("sum_ship_cents"),
        )
    )
    return iv.join(hits, "iid", "left").select(
        "iid",
        "start_d",
        "n_days",
        F.coalesce(F.col("n_ship_rows"), F.lit(0).cast("bigint")).alias(
            "n_ship_rows"
        ),
        F.coalesce(F.col("sum_ship_cents"), F.lit(0).cast("bigint")).alias(
            "sum_ship_cents"
        ),
    )
