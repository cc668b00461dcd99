"""The spark.sql surface and scalar batteries: JSON/VARIANT/XML, subqueries,
LATERAL, arrays/maps, SQL scripting, parameters, collations and error-safe
evaluation."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import count_if
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    S_MONEY,
    _q,
    _t,
    cents,
    money,
    sum_cents,
)


@_q(
    "q26_grouping_sets_sql",
    f"""
    SELECT l_returnflag, l_linestatus, {S_MONEY("l_extendedprice")} AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q26_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (X7 + S11 — our spark.sql is
    the reference's Trino interactive layer)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=_t(spark, sf_dir, "lineitem"),
    )


@_q(
    "q23_json_props",
    f"""
    SELECT json_extract_string(props, '$.k')::INT AS k, COUNT(*) AS n,
           {S_MONEY("value")} AS total_value
    FROM events GROUP BY json_extract_string(props, '$.k')::INT
    """,
)
def q23_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (X22): get_json_object over the props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(sum_cents(F.col("value"))).alias("total_value"),
        )
    )


@_q(
    "q41_scalar_battery",
    r"""
    SELECT c_custkey,
           c_name || '#' || c_mktsegment AS tag,
           concat_ws('|', c_name, c_mktsegment, CAST(c_custkey AS VARCHAR)) AS wsv,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
           lower(c_mktsegment) AS seg_lower,
           trim(upper(c_name)) AS name_upper,
           regexp_replace(c_name, 'Customer#0*(\d+)', 'C-\1') AS cshort,
           reverse(c_name) AS name_rev,
           repeat(substr(c_mktsegment, 1, 2), 3) AS rep2x3,
           lower(hex(c_mktsegment)) AS seg_hex,
           sha256(c_name) AS name_sha,
           c_mktsegment LIKE '%I%' AS has_i,
           c_mktsegment IN ('BUILDING', 'MACHINERY') AS seg_known,
           CAST(ROUND(c_acctbal*100) AS BIGINT) AS acctbal_cents,
           CAST(floor(c_acctbal) AS BIGINT) AS acctbal_floor,
           greatest(c_acctbal, 1000.0) AS bal_floor1k,
           CAST(c_nationkey AS BIGINT) + c_custkey % 7 AS mixed_int
    FROM customer
    """,
)
def q41_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/hash/math scalar layer in one oracled projection — the
    reference's T1-T10 (concat/concat_ws/lpad/case-fold/trim/
    regexp_replace-with-backref/reverse/repeat/hex/like/cast), H1 (sha2),
    M2-M5 (floor/greatest/arithmetic/cast). Reference call sites:
    CM:53-121, CM:194-199 (/root/reference/k8s/spark/
    41-spark-job-scripts-configmap.yaml). Pure projection: no shuffle,
    whole-stage codegen, scales embarrassingly."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("tag"),
        F.concat_ws(
            "|", F.col("c_name"), F.col("c_mktsegment"), F.col("c_custkey").cast("string")
        ).alias("wsv"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.trim(F.upper(F.col("c_name"))).alias("name_upper"),
        F.regexp_replace("c_name", r"Customer#0*(\d+)", r"C-$1").alias("cshort"),
        F.reverse(F.col("c_name")).alias("name_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("rep2x3"),
        F.lower(F.hex(F.col("c_mktsegment"))).alias("seg_hex"),
        F.sha2(F.col("c_name"), 256).alias("name_sha"),
        F.col("c_mktsegment").like("%I%").alias("has_i"),
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY").alias("seg_known"),
        cents(F.col("c_acctbal")).alias("acctbal_cents"),
        F.floor("c_acctbal").alias("acctbal_floor"),
        F.greatest(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_floor1k"),
        (F.col("c_nationkey").cast("bigint") + F.col("c_custkey") % 7).alias("mixed_int"),
    )


@_q(
    "q42_datetime_battery",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS od,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           dayofweek(o_orderdate) + 1 AS dow,
           weekofyear(o_orderdate) AS woy,
           datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
           CAST(o_orderdate AS DATE) - 7 AS week_before,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           dayofweek(o_orderdate) + 1 IN (1, 7) AS is_weekend
    FROM orders
    """,
)
def q42_datetime_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar layer (reference D3-D10: to_date/hour-family/
    dayofweek/weekofyear/month/datediff/date_sub/unix_timestamp, CM:47,
    CM:213-220, CM:259, CM:309). DuckDB dayofweek is Sun=0 vs Spark's
    Sun=1 — bridged with +1 in the oracle."""
    o = _t(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        od.alias("od"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.weekofyear("o_orderdate").alias("woy"),
        F.datediff(F.lit("1998-12-31").cast("date"), od).alias("days_to_eoy"),
        F.date_sub(od, 7).alias("week_before"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.dayofweek("o_orderdate").isin(1, 7).alias("is_weekend"),
    )


@_q(
    "q49_sql_surface",
    f"""
    SELECT c.c_mktsegment, o.o_orderpriority,
           COUNT(*) AS n_orders,
           {S_MONEY("o.o_totalprice")} AS segment_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
)
def q49_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interactive-SQL entry point (S11 — the reference exposes this
    surface via Trino, scripts/run_pipeline.py:240-277): frames bound
    into spark.sql, one string, same engine/oracle guarantees as the
    DataFrame battery."""
    return spark.sql(
        """
        SELECT c.c_mktsegment, o.o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS segment_revenue
        FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
        """,
        orders=_t(spark, sf_dir, "orders"),
        customer=_t(spark, sf_dir, "customer"),
    )


_Q56_SQL = """
    SELECT c.c_custkey, c.c_name, c.c_nationkey
    FROM {customer} c
    WHERE CAST(ROUND(c.c_acctbal*100) AS BIGINT) = (
            SELECT MAX(CAST(ROUND(c2.c_acctbal*100) AS BIGINT))
            FROM {customer} c2 WHERE c2.c_nationkey = c.c_nationkey)
      AND EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM {orders} o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderpriority = '1-URGENT'
                        AND CAST(ROUND(o2.o_totalprice*100) AS BIGINT) > 40000000)
"""


@_q("q56_correlated_subqueries", _Q56_SQL.format(customer="customer", orders="orders"))
def q56_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + EXISTS + NOT EXISTS through the SQL
    surface (S11). Catalyst decorrelates all three into aggregate+join /
    left-semi / left-anti — no per-row re-execution (TPC-H Q2/Q21/Q22
    shapes). The same SQL text runs on the DuckDB oracle."""
    return spark.sql(
        _Q56_SQL,
        customer=_t(spark, sf_dir, "customer"),
        orders=_t(spark, sf_dir, "orders"),
    )


_MILLI = "CAST(FLOOR(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)"


@_q(
    "q57_array_hof_battery",
    f"""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(list_sum(list_transform(embedding, x -> abs({_MILLI}))) AS BIGINT) AS l1_milli,
           CAST(list_max(list_transform(embedding, x -> {_MILLI})) AS BIGINT) AS max_milli,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           len(list_filter(embedding, x -> abs(x) > 0.5)) > 0 AS any_big,
           CAST(list_sum(list_transform(embedding[1:3], x -> {_MILLI})) AS BIGINT) AS head3_milli
    FROM embeddings
    """,
)
def q57_array_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (X21): transform / aggregate / filter /
    exists / slice, all JVM-side codegen lambdas — the building blocks the
    similarity operators compose. Integer milli-units keep the fold exact
    in any evaluation order."""
    milli = "CAST(FLOOR(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)"
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.expr(f"aggregate(transform(embedding, x -> abs({milli})), 0L, (a, e) -> a + e)").alias(
            "l1_milli"
        ),
        F.expr(f"array_max(transform(embedding, x -> {milli}))").alias("max_milli"),
        F.expr("size(filter(embedding, x -> x > 0))").cast("long").alias("n_pos"),
        F.expr("exists(embedding, x -> abs(x) > 0.5)").alias("any_big"),
        F.expr(f"aggregate(transform(slice(embedding, 1, 3), x -> {milli}), 0L, (a, e) -> a + e)").alias(
            "head3_milli"
        ),
    )


@_q(
    "q60_map_struct_battery",
    """
    SELECT user_id,
           COUNT(*) AS n_types,
           CAST(COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END), 0) AS BIGINT) AS clicks,
           CAST(COUNT(*) FILTER (WHERE n >= 5) AS BIGINT) AS n_freq_types,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM (SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY user_id, event_type)
    GROUP BY user_id
    """,
)
def q60_map_struct_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column ops: collect_list(struct) -> map_from_entries ->
    map_keys / element_at / map_filter / map_values+aggregate. The map is
    built and consumed inside the plan (nested types never cross the
    result boundary — engines render them differently); the oracle
    computes the same scalars relationally."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("long").alias("n_types"),
        F.coalesce(F.element_at(F.col("m"), F.lit("click")), F.lit(0)).cast("long").alias("clicks"),
        F.size(F.map_filter(F.col("m"), lambda k, v: v >= 5)).cast("long").alias("n_freq_types"),
        F.aggregate(
            F.map_values(F.col("m")), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("total_events"),
    )


_Q64_SQL = """
    SELECT n.n_name, t.c_custkey, t.bal_c
    FROM {nation} n,
    LATERAL (
      SELECT c_custkey, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c
      FROM {customer} c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY bal_c DESC, c_custkey
      LIMIT 3
    ) t
"""


@_q(
    "q64_lateral_topk_per_nation",
    _Q64_SQL.format(nation="nation", customer="customer"),
)
def q64_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with per-group LIMIT (the SQL face of
    q11's row_number top-N). Catalyst decorrelates the lateral into a
    join + per-group windowed limit — never a per-outer-row re-scan;
    identical SQL runs on the DuckDB oracle."""
    return spark.sql(
        _Q64_SQL,
        nation=_t(spark, sf_dir, "nation"),
        customer=_t(spark, sf_dir, "customer"),
    )


@_q(
    "q108_monthly_order_spine",
    """
    WITH RECURSIVE bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
      FROM orders
    ),
    months(m) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months, bounds WHERE m < hi
    )
    SELECT m AS month_start, COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
             AS revenue
    FROM months LEFT JOIN orders
      ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY m ORDER BY m
    """,
)
def q108_monthly_order_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification via WITH RECURSIVE (Spark 4.x recursive
    CTE): generate the complete month spine between the data's min/max
    order month, left-join orders onto it so empty months surface as
    zero-count rows — the gap-filling step every time-series rollup
    needs. The recursion is bounded by the data (scale-invariant), depth
    = number of months, and each step is a 1-row frame. Spark spells the
    month step add_months(), DuckDB ``+ INTERVAL 1 MONTH`` — same spine.

    Scale note: Spark re-evaluates every CTE referenced by the recursive
    member on EACH iteration, so keeping ``bounds`` inside the recursion
    meant ~80 full min/max scans of orders (measured 13 s warm at
    sf0.01). The bounds therefore resolve ONCE up front — a 1-row
    aggregate collect (model-scale, like the IVF centroid pull) — and
    the recursion carries only literals; orders is scanned exactly twice
    (bounds + join) at any corpus size (1.0 s warm, 13x faster)."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("hi"),
    ).head()
    return spark.sql(
        f"""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '{b["lo"]}' AS m
          UNION ALL
          SELECT add_months(m, 1) FROM months WHERE m < DATE '{b["hi"]}'
        )
        SELECT m AS month_start, COUNT(o_orderkey) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
                 AS revenue
        FROM months LEFT JOIN {{orders}}
          ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m ORDER BY m
        """,
        orders=orders,
    )


@_q(
    "q110_variant_props",
    """
    SELECT event_id,
           CAST(json_extract('{"u":' || CAST(user_id AS VARCHAR) || ',"p":' || props || '}',
                             '$.p.k') AS BIGINT) AS k,
           CAST(json_extract('{"u":' || CAST(user_id AS VARCHAR) || ',"p":' || props || '}',
                             '$.u') AS BIGINT) AS u
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 90
    """,
)
def q110_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path (X22 extension): parse_json into a VARIANT
    value, typed extraction via variant_get with JSON-path — the
    open-schema semi-structured story (q23 covers the classic
    get_json_object string path). The envelope is built in-query so the
    extraction exercises a NESTED path. Scan-side only; the predicate on
    the extracted field stays a plain filter."""
    ev = _t(spark, sf_dir, "events")
    env = F.parse_json(
        F.concat(
            F.lit('{"u":'),
            F.col("user_id").cast("string"),
            F.lit(',"p":'),
            F.col("props"),
            F.lit("}"),
        )
    )
    return (
        ev.select(
            "event_id",
            F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("_pk"),
            env.alias("_env"),
        )
        .filter(F.col("_pk") > 90)
        .select(
            "event_id",
            F.expr("variant_get(_env, '$.p.k', 'bigint')").alias("k"),
            F.expr("variant_get(_env, '$.u', 'bigint')").alias("u"),
        )
    )


@_q(
    "q111_datetime_battery2",
    """
    SELECT o_orderkey,
           quarter(o_orderdate) AS order_quarter,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           dayname(o_orderdate) AS weekday_name,
           make_date(2030, month(o_orderdate), 1) AS anniv_month,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_days,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_quarter
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def q111_datetime_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface beyond q42 (D-family completeness): quarter
    bucketing, week/quarter truncation, month-end, weekday naming,
    date construction, epoch-day arithmetic, and clamping month
    addition (add_months; Nov 30 + 3mo -> Feb 28, matching DuckDB's
    INTERVAL semantics). All scan-side; deterministic systematic slice
    keeps the battery cheap at any SF."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.quarter(d).alias("order_quarter"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.date_format(d, "EEEE").alias("weekday_name"),
        F.make_date(F.lit(2030), F.month(d), F.lit(1)).alias("anniv_month"),
        F.datediff(d.cast("date"), F.lit("1970-01-01").cast("date")).cast("long").alias(
            "epoch_days"
        ),
        F.add_months(d, 3).alias("plus_quarter"),
    )


@_q(
    "q112_string_battery2",
    """
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS first_word,
           translate(p_name, 'aeiou', '#####') AS devoweled,
           left(p_name, 3) AS l3,
           right(p_name, 2) AS r2,
           rpad(p_brand, 12, '.') AS brand_padded,
           ascii(p_name) AS first_code,
           chr(65 + p_size % 26) AS size_letter,
           md5(p_name) AS name_md5,
           CAST(levenshtein(p_name, reverse(p_name)) AS BIGINT) AS palindrome_dist,
           CAST(strpos(p_name, 'e') AS BIGINT) AS first_e
    FROM part
    """,
)
def q112_string_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface beyond q41 (T-family completeness): field
    splitting, character-class translation, edge slicing, padding,
    codepoint round-trip, md5 fingerprint, levenshtein, substring
    position. Everything scan-side and shared verbatim by both engines
    (overlay/initcap/soundex exist in Spark but have no DuckDB
    counterpart — exercised in pytest instead)."""
    p = _t(spark, sf_dir, "part")
    n = F.col("p_name")
    return p.select(
        "p_partkey",
        F.split_part(n, F.lit(" "), F.lit(1)).alias("first_word"),
        F.translate(n, "aeiou", "#####").alias("devoweled"),
        F.substring(n, 1, 3).alias("l3"),
        n.substr(F.length(n) - 1, F.lit(2)).alias("r2"),
        F.rpad(F.col("p_brand"), 12, ".").alias("brand_padded"),
        F.ascii(n).alias("first_code"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_letter"),
        F.md5(n).alias("name_md5"),
        F.levenshtein(n, F.reverse(n)).cast("long").alias("palindrome_dist"),
        F.instr(n, "e").cast("long").alias("first_e"),
    )


@_q(
    "q115_url_battery",
    """
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             source || '.example.com' AS host,
             '/d/' || CAST(doc_id AS VARCHAR) AS path,
             lang AS lang_param
      FROM documents
    )
    SELECT host, COUNT(*) AS n_docs,
           COUNT(DISTINCT lang_param) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(path) AS first_path
    FROM u GROUP BY host
    """,
)
def q115_url_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing battery (crawl analytics; T-family extension): build
    a canonical URL per document, then extract HOST / PATH / a QUERY
    parameter with parse_url and roll up per host. The oracle
    reconstructs the expected parts from the raw columns, so Spark's
    parse_url must invert the construction exactly. Scan-side
    extraction + one map-combined aggregate — crawl-log scale is
    exactly this shape (per-host stats over billions of URLs)."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    parts = docs.select(
        "doc_id",
        "n_chars",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return parts.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang_param").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("path").alias("first_path"),
    )


@_q(
    "q122_sql_script",
    """
    SELECT 3 AS n_months,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0
             AS q1_revenue
    FROM lineitem
    WHERE MONTH(l_shipdate) IN (1, 2, 3)
    """,
)
def q122_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting surface (Spark 4, S11 extension): a BEGIN..END
    script with DECLARE'd variables and a WHILE loop accumulating
    monthly revenue into a session variable — the procedural-ETL shape
    (SQL-standard SQL/PSM control flow) that previously needed driver
    Python. Each loop iteration's aggregate is a normal distributed
    job; only the scalar accumulator lives in the script. The oracle is
    the equivalent set-based aggregate — identical cents-exact total.
    The script runs on its own session, so the scripting conf never
    touches the caller's."""
    script = spark.newSession()
    script.conf.set("spark.sql.scripting.enabled", "true")
    return script.sql(
        f"""
        BEGIN
          DECLARE m INT DEFAULT 1;
          DECLARE total BIGINT DEFAULT 0;
          WHILE m <= 3 DO
            SET total = total + COALESCE(
              (SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
               FROM parquet.`{sf_dir}/lineitem.parquet`
               WHERE MONTH(l_shipdate) = m), 0);
            SET m = m + 1;
          END WHILE;
          SELECT 3 AS n_months, CAST(total AS DOUBLE) / 100.0 AS q1_revenue;
        END
        """
    )


@_q(
    "q123_xml_battery",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
    """,
)
def q123_xml_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML functions (X22 extension, Spark 4 expression variants):
    serialize each event to an XML fragment with to_xml, recover fields
    BOTH ways — typed from_xml struct parse and xpath_string /
    xpath_long point extraction — and aggregate the round-tripped
    values. A filter pins xpath == from_xml per row, so any asymmetry
    between the two parsers drops rows and breaks the count. The oracle
    aggregates the raw columns directly: the XML round trip must be
    lossless (values ride as exact integer cents). Scan-side expression
    work only — one aggregate shuffle."""
    ev = _t(spark, sf_dir, "events")
    xml = ev.select(
        F.to_xml(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                cents(F.col("value")).alias("cents"),
            )
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml("x", "event_id BIGINT, event_type STRING, cents BIGINT").alias("b"),
        F.xpath_string("x", F.lit("/ROW/event_type")).alias("xp_type"),
        F.xpath_long("x", F.lit("/ROW/cents")).alias("xp_cents"),
    ).filter(
        (F.col("b.event_type") == F.col("xp_type"))
        & (F.col("b.cents") == F.col("xp_cents"))
    )
    return parsed.groupBy(F.col("b.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b.cents").alias("total_cents"),
    )


@_q(
    "q131_sql_sugar",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority, n, total_cents
    """,
)
def q131_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar battery (S11 extension): SELECT * EXCEPT
    (projection by exclusion — the wide-table idiom), GROUP BY ALL
    (group on every non-aggregate output) and ORDER BY ALL, all in one
    statement. The oracle is the fully-expanded classic form, so the
    sugar must desugar to exactly the same grouping and ordering."""
    return spark.sql(
        """
        WITH slim AS (
          SELECT * EXCEPT (o_orderkey, o_custkey, o_orderdate) FROM {orders}
        )
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM slim
        GROUP BY ALL
        ORDER BY ALL
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


@_q(
    "q132_parameterized_sql",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q132_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named markers + the IDENTIFIER() clause
    (S11 extension): values bind as TYPED parameters (:threshold,
    :status — injection-safe templating, no string interpolation of
    values) and the table name binds through IDENTIFIER(:tbl), the safe
    form of dynamic object references. The oracle is the same query
    with literals inlined. The view is named per call and dropped once
    spark.sql has analyzed the statement."""
    tbl = f"q132_orders_{uuid.uuid4().hex}"
    _t(spark, sf_dir, "orders").createOrReplaceTempView(tbl)
    try:
        return spark.sql(
            """
            SELECT o_orderpriority, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
                     AS total_cents
            FROM IDENTIFIER(:tbl)
            WHERE o_totalprice > :threshold AND o_orderstatus = :status
            GROUP BY o_orderpriority
            """,
            args={"tbl": tbl, "threshold": 150000.0, "status": "F"},
        )
    finally:
        spark.catalog.dropTempView(tbl)


@_q(
    "q138_sql_udf_listagg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
             AS revenue_e4,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
             AS statuses
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q138_sql_udf_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (CREATE TEMPORARY FUNCTION ... RETURN expr,
    Spark 4) + ordered-set listagg ... WITHIN GROUP. A SQL UDF is the
    fast path for user-defined logic: the body INLINES into the plan as
    a Catalyst expression (whole-stage codegen, pushdown-eligible) — no
    Python, no serialization boundary, unlike F.udf. listagg(DISTINCT ..
    ORDER BY) pins the deterministic ordered-set aggregate added in
    4.0; the oracle spells both as plain SQL (string_agg + inlined
    expression), proving the UDF is semantics-neutral."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price_e4(p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(p*100) AS BIGINT) * (100 - CAST(ROUND(d*100) AS BIGINT))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               SUM(disc_price_e4(l_extendedprice, l_discount)) AS revenue_e4,
               listagg(DISTINCT l_linestatus, ',')
                 WITHIN GROUP (ORDER BY l_linestatus) AS statuses
        FROM {lineitem}
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        lineitem=_t(spark, sf_dir, "lineitem"),
    )


@_q(
    "q141_try_battery",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(CASE WHEN (o_custkey % 5) <> 0 THEN 1 END) AS n_ratio,
           CAST(SUM(FLOOR(CAST(ROUND(o_totalprice*100) AS BIGINT)
                          / (o_custkey % 5) + 0.5)) AS BIGINT) AS sum_ratio_r,
           CAST(SUM(TRY_CAST(string_split(o_orderpriority, '-')[1] AS BIGINT))
             AS BIGINT) AS sum_prio,
           COUNT(TRY_CAST(o_orderpriority AS INT)) AS n_bogus_casts,
           CAST(SUM(([10,20,30])[CAST(1 + o_orderkey % 5 AS INT)]) AS BIGINT)
             AS sum_elem
    FROM orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q141_try_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe evaluation surface: try_divide / try_cast /
    try_element_at — what keeps a 100 TB ingest job alive when a shard
    contains malformed rows, instead of dying at task 40k of 50k. The
    oracle pins each NULL-on-error semantic against DuckDB's native
    equivalents (x/0 -> NULL, TRY_CAST, out-of-bounds list index ->
    NULL). Per-row FLOOR before SUM keeps the division battery
    integer-exact; 1-based element_at with index o_orderkey%5 covers
    the in-range and past-end cases (index 0 stays an error even under
    try_element_at — Spark defines it as a programming mistake, not a
    data problem, so the battery indexes 1..5)."""
    o = _t(spark, sf_dir, "orders")
    ratio = F.expr("try_divide(CAST(ROUND(o_totalprice*100) AS BIGINT), o_custkey % 5)")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(ratio).alias("n_ratio"),
            F.sum(F.floor(ratio + F.lit(0.5))).alias("sum_ratio_r"),
            F.sum(
                F.expr("try_cast(split_part(o_orderpriority, '-', 1) AS BIGINT)")
            ).alias("sum_prio"),
            F.count(F.expr("try_cast(o_orderpriority AS INT)")).alias("n_bogus_casts"),
            F.sum(
                F.expr(
                    "try_element_at(array(10, 20, 30), CAST(1 + o_orderkey % 5 AS INT))"
                )
            ).alias("sum_elem"),
        )
        .orderBy("o_orderstatus")
    )


@_q(
    "q144_union_by_name",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
    SELECT COALESCE(o_orderstatus, '<missing>') AS status,
           COALESCE(o_orderpriority, '<missing>') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM u GROUP BY status, priority ORDER BY status, priority
    """,
)
def q144_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-schema shard union: two shards whose projections
    disagree in column ORDER and column SET reconcile by NAME
    (unionByName allowMissingColumns; absent columns become NULL) —
    the multi-month crawl-ingest shape where old shards predate a
    column. Positional unionAll here would silently pair o_orderstatus
    with o_orderpriority; BY NAME is the only safe form, pinned against
    DuckDB's UNION ALL BY NAME."""
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<missing>")).alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        )
        .orderBy("status", "priority")
    )


@_q(
    "q147_collation_battery",
    """
    WITH v AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 2 = 0 THEN lower(o_orderpriority)
                  ELSE o_orderpriority END AS pri
      FROM orders
    )
    SELECT o_orderstatus,
           COUNT(DISTINCT pri) AS n_case_sensitive,
           COUNT(DISTINCT lower(pri)) AS n_case_insensitive,
           COUNT(CASE WHEN lower(pri) = '1-urgent' THEN 1 END) AS n_urgent_ci
    FROM v GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q147_collation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware comparison (Spark 4): COLLATE UTF8_LCASE makes
    case-insensitivity a property of the COMPARISON — distinct counts,
    equality filters — without rewriting every expression through
    lower() (and, on a real corpus, without breaking characters where
    lowercasing isn't a round trip). The oracle spells the same
    semantics with explicit lower(), pinning that the collation path is
    equivalent where both are defined. Mixed-case data is planted via
    orderkey parity so both branches are exercised."""
    return spark.sql(
        """
        WITH v AS (
          SELECT o_orderstatus,
                 CASE WHEN o_orderkey % 2 = 0 THEN lower(o_orderpriority)
                      ELSE o_orderpriority END AS pri
          FROM {orders}
        )
        SELECT o_orderstatus,
               COUNT(DISTINCT pri) AS n_case_sensitive,
               COUNT(DISTINCT pri COLLATE UTF8_LCASE) AS n_case_insensitive,
               COUNT(CASE WHEN pri COLLATE UTF8_LCASE = '1-URGENT' THEN 1 END)
                 AS n_urgent_ci
        FROM v GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        orders=_t(spark, sf_dir, "orders"),
    )


@_q(
    "q148_explode_outer",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_exploded_rows,
           COUNT(o.o_orderkey) AS n_big_orders,
           COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
             AS n_customers_without
    FROM customer c
    LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
               WHERE o_totalprice > 400000.0) o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q148_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics: a customer whose collected big-order
    array is EMPTY survives the explode as one NULL row (plain explode
    silently drops them — the classic lost-rows bug in array-modeled
    pipelines). The oracle states the same relation as the LEFT JOIN it
    must be equivalent to, so the hash pins the null-preservation
    contract exactly: exploded rows = matches + one row per unmatched
    customer."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    arrays = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.collect_list("o_orderkey").alias("big_orders")
        )
    )
    exploded = arrays.select(
        "c_mktsegment", F.explode_outer("big_orders").alias("o_orderkey")
    )
    return (
        exploded.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_exploded_rows"),
            F.count("o_orderkey").alias("n_big_orders"),
            count_if(F.col("o_orderkey").isNull()).alias("n_customers_without"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "q151_width_bucket",
    """
    WITH c AS (SELECT CAST(ROUND(value*100) AS BIGINT) AS v FROM events)
    SELECT CASE WHEN v < 0 THEN 0
                WHEN v >= 2000 THEN 11
                ELSE v // 200 + 1 END AS bucket,
           COUNT(*) AS n,
           CAST(MIN(v) AS BIGINT) AS min_cents,
           CAST(MAX(v) AS BIGINT) AS max_cents
    FROM c GROUP BY bucket ORDER BY bucket
    """,
)
def q151_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket boundary semantics pinned against an explicit CASE
    spelling of its rules (DuckDB has no width_bucket): inclusive lower
    / exclusive upper edges, underflow to bucket 0, overflow to n+1
    (events.value extends past the 2000-cent upper bound, so the
    overflow bucket is exercised with real rows). q81's floor-division
    histogram is the hand-rolled mid-range form; this pins the
    builtin's edge rules, which are exactly what hand-rolled code gets
    wrong. Bucketing on exact cents keeps every edge comparison
    integer."""
    ev = _t(spark, sf_dir, "events").select(cents(F.col("value")).alias("v"))
    return (
        ev.groupBy(
            F.expr("width_bucket(v, 0, 2000, 10)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("min_cents"),
            F.max("v").alias("max_cents"),
        )
        .orderBy("bucket")
    )
