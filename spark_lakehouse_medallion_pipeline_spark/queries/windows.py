"""Windows and time series: ranking/analytic windows, tumbling, sliding and
session windows, as-of joins, rolling statistics, gap filling and trend
tests."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import timeseries
from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    S_MONEY,
    _q,
    _t,
    cents,
    money,
    sum_cents,
)


@_q(
    "q11_top_parts_per_brand",
    """
    SELECT p_brand, p_partkey, p_retailprice AS retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) t
    WHERE rn <= 3
    """,
)
def q11_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (X8) with deterministic tie-break."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.col("p_partkey"))
    return (
        _t(spark, sf_dir, "part")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", F.col("p_retailprice").alias("retailprice"), "rn")
    )


@_q(
    "q12_user_event_gaps",
    """
    SELECT event_id, user_id,
           epoch_ms(ts) - epoch_ms(prev_ts) AS gap_ms
    FROM (
      SELECT event_id, user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events) t
    WHERE prev_ts IS NOT NULL
    """,
)
def q12_user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window lag (X9): per-user inter-event gaps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            (F.unix_millis("ts") - F.unix_millis("prev_ts")).alias("gap_ms"),
        )
    )


@_q(
    "q13_running_customer_spend",
    f"""
    SELECT o_orderkey, o_custkey,
           CAST(SUM({SC("o_totalprice")}) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_spend
    FROM orders
    """,
)
def q13_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with explicit ROWS frame (X10), over exact cents."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        money(F.sum(cents(F.col("o_totalprice"))).over(w)).alias("running_spend"),
    )


@_q(
    "q20_hourly_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           {S_MONEY("value")} AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def q20_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window via F.window (X14) — the body the streaming job
    shares (operators.timeseries)."""
    return timeseries.tumbling_window_agg(_t(spark, sf_dir, "events"))


@_q(
    "q21_sessionization",
    f"""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, {S_MONEY("value")} AS session_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q21_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (X15 batch form), lag+cumsum — one shuffle,
    oracle-checkable; native F.session_window variant is q22."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    sess = ev.withColumn(
        "_new", F.when(gap_ms.isNull() | (gap_ms > 1800000), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        money(sum_cents(F.col("value"))).alias("session_value"),
    )


@_q(
    "q22_session_window_native",
    f"""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) >= 1800000
                  THEN 1 ELSE 0 END AS _new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS _sid
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, {S_MONEY("value")} AS session_value
    FROM s GROUP BY user_id, _sid
    """,
)
def q22_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (X15) — the streaming-capable native form.

    Oracle note: session_window assigns each event the window
    [ts, ts+gap) and merges OVERLAPPING windows, so two events share a
    session iff their gap is STRICTLY less than the duration — the SQL
    mirror starts a new session at gap >= 30 min (q21's lag+cumsum form
    uses > by convention; both are valid sessionizations, the oracle
    must just match the engine's boundary rule exactly)."""
    return timeseries.session_window_agg(_t(spark, sf_dir, "events"))


@_q(
    "q24_asof_purchase_click",
    """
    SELECT l.event_id, l.user_id, r.value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q24_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each purchase matched to the user's latest
    prior click. Spark lacks the operator; composed as union +
    carry-forward window (ONE shuffle — see operators.timeseries).
    DuckDB's native ASOF JOIN is the oracle."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = timeseries.asof_join_backward(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", right_cols=["value"]
    )
    return joined.select(
        "event_id", "user_id", F.col("asof_value").alias("asof_click_value")
    )


@_q(
    "q47_sliding_windows",
    f"""
    SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR AS window_start,
           COUNT(*) AS n_events,
           {S_MONEY("value")} AS total_value
    FROM events, range(0, 2) AS t(i)
    GROUP BY 1
    """,
)
def q47_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time windows (X14): size 2h / slide 1h — each event lands
    in exactly two windows (the oracle replays that with a range(0,2)
    lateral). Spark's F.window expansion is scan-local; the shuffle is
    the windowed aggregate only."""
    return timeseries.sliding_window_agg(_t(spark, sf_dir, "events"))


@_q(
    "q54_window_distribution",
    f"""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY {SC('c_acctbal')}, c_custkey)
    """,
)
def q54_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions. percent_rank/cume_dist are exact
    integer-ratio doubles ((rank-1)/(n-1), k/n) so they hash identically
    across engines; the ORDER BY carries c_custkey as a total tie-break."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        cents(F.col("c_acctbal")), F.col("c_custkey")
    )
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@_q(
    "q63_window_value_functions",
    f"""
    SELECT event_id, user_id,
           first_value({SC('value')}) OVER w AS first_v,
           last_value({SC('value')}) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
           nth_value({SC('value')}, 2) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q63_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit frames (X9).
    last/nth need the full-partition frame — the default frame stops at
    CURRENT ROW, a classic silent-wrong-answer; (ts, event_id) is a
    total order so values are engine-independent."""
    ev = _t(spark, sf_dir, "events").withColumn("value_c", cents(F.col("value")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value_c").over(w).alias("first_v"),
        F.last("value_c").over(w_full).alias("last_v"),
        F.nth_value("value_c", 2).over(w_full).alias("second_v"),
    )


@_q(
    "q77_rolling_1h_by_user",
    f"""
    SELECT event_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM({SC("value")}) OVER w AS DOUBLE) / 100.0 AS value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q77_rolling_1h_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling window (X10 frames over VALUES, not rows):
    per-user trailing-1-hour event count and value. rangeBetween on epoch
    seconds — rows with equal timestamps fall in the same frame on both
    engines (a rowsBetween frame would be tie-ambiguous). One shuffle on
    user_id; within-partition sort feeds a sliding frame — O(n) per
    partition, skew-bounded by per-user event counts."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum(cents(F.col("value"))).over(w).cast("double") / F.lit(100.0)).alias("value_1h"),
    )


@_q(
    "q150_asof_tolerance",
    """
    SELECT l.event_id, l.user_id,
           CASE WHEN r.ts IS NOT NULL
                 AND epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                THEN r.value END AS fresh_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q150_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 1-hour staleness bound
    (timeseries.asof_join_backward_tolerance): the latest prior click
    counts only if it is fresh enough — the point-in-time feature-store
    contract that q24's unbounded form doesn't capture. Same
    single-shuffle carry-forward plan; the tolerance nulls stale
    matches scan-locally. Oracle: DuckDB ASOF JOIN + an epoch_us
    freshness CASE (exact integer microsecond arithmetic both sides)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = timeseries.asof_join_backward_tolerance(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["value"],
        tolerance_seconds=3600,
    )
    return joined.select(
        "event_id", "user_id", F.col("asof_value").alias("fresh_click_value")
    )


@_q(
    "q155_gap_fill_interpolate",
    """
    WITH s AS (
      SELECT o_orderpriority AS pri,
             (EXTRACT(year FROM o_orderdate)::BIGINT - 1992) * 12
               + EXTRACT(month FROM o_orderdate)::BIGINT - 1 AS m,
             COUNT(*)::BIGINT AS v
      FROM orders
      GROUP BY 1, 2
    ),
    sparse AS (SELECT * FROM s WHERE m % 3 <> 1),
    b AS (SELECT pri, MIN(m) AS lo, MAX(m) AS hi FROM sparse GROUP BY pri),
    spine AS (SELECT pri, unnest(range(lo, hi + 1)) AS m FROM b),
    j AS (
      SELECT spine.pri, spine.m, sparse.v
      FROM spine LEFT JOIN sparse
        ON spine.pri = sparse.pri AND spine.m = sparse.m
    ),
    stepped AS (
      SELECT pri, m, v,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY pri ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER (
               PARTITION BY pri ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY pri ORDER BY m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) OVER (
               PARTITION BY pri ORDER BY m
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
      FROM j
    )
    SELECT pri, m,
           CASE WHEN v IS NOT NULL THEN v * 1000
                WHEN pi IS NOT NULL AND ni IS NOT NULL
                THEN pv * 1000 + ((nv - pv) * 1000 * (m - pi)) // (ni - pi)
           END AS v_milli,
           v IS NULL AS interpolated
    FROM stepped
    """,
)
def q155_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: monthly order counts per priority with
    every (month % 3 == 1) observation knocked out, then densified to a
    full per-key month spine and linearly interpolated — integer
    milli-unit arithmetic end to end, so Spark and DuckDB agree
    bit-for-bit (operators.timeseries.gap_fill_interpolate; per-key
    spine from a map-combined min/max, one key shuffle for spine join +
    carry windows, no driver-side date range)."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("pri"),
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("m"),
    )
    sparse = (
        base.groupBy("pri", "m")
        .agg(F.count(F.lit(1)).alias("v"))
        .filter(F.col("m") % 3 != 1)
    )
    return timeseries.gap_fill_interpolate(sparse, ["pri"], "m", "v")


@_q(
    "q168_time_weighted_avg",
    """
    WITH ticks AS (
      SELECT user_id, ts,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS dur_us
      FROM events WHERE user_id % 7 = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(SUM(cents * dur_us) // SUM(dur_us) AS BIGINT) AS twap_cents
    FROM ticks WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id
    """,
)
def q168_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP — the finance/metering aggregate where
    each observation counts for how LONG it was current, not how often
    it ticked): per user, weight each value by the microseconds until
    that user's next event. Integer-exact end to end — values as cents,
    durations as epoch-microsecond differences, one exact integer
    division at the end — so the driver value-hashes it. Zero-duration
    ticks (same-timestamp pairs) are excluded from both weight and
    numerator in BOTH engines; ties order by (ts, event_id) so lead() is
    deterministic.

    Plan shape: one window (partitioned by the grouping key — no extra
    shuffle beyond the groupBy's own on well-spread user_id) feeding one
    map-side-combined aggregate. SUM(cents*dur_us) bounds: cents <= 1e5,
    dur_us <= ~1e13 per interval, ~2e3 intervals/user at sf1 -> ~1e18;
    DuckDB's HUGEINT sum is casted, Spark's long sum is the documented
    engine-exactness trade at this scale envelope."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ticks = ev.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (
            F.lead(F.unix_micros(F.col("ts"))).over(w)
            - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    )
    return (
        ticks.filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("total_us"),
            F.expr("CAST(SUM(cents * dur_us) div SUM(dur_us) AS BIGINT)").alias(
                "twap_cents"
            ),
        )
    )


@_q(
    "q170_rolling_median",
    """
    SELECT event_id, user_id,
           CAST(quantile_disc(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), 0.5)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS med7_cents
    FROM events WHERE user_id % 31 = 0
    """,
)
def q170_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median (7-row trailing frame per user) — the robust
    smoother running mean can't be (one outlier tick drags an average
    for the whole frame). Spark has no exact windowed percentile, so the
    frame's values are collected, sorted, and the lower-middle element
    taken at 1-indexed position (n+1) div 2 — EXACTLY DuckDB's
    quantile_disc(0.5) discrete-quantile definition (probed: n=4 -> 2nd
    element, n=5 -> 3rd), on integer cents so the hash compares.

    Scale shape: the window partitions by user_id (well-spread key, no
    global sort) and the frame is a bounded 7 rows, so the per-row
    collect_list is O(7) — constant memory per row, shuffle only on the
    partition key. Deterministic (ts, event_id) ordering."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 31 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    frame = F.array_sort(
        F.collect_list(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
        ).over(w)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.element_at(frame, ((F.size(frame) + 1) / 2).cast("int"))
        .cast("bigint")
        .alias("med7_cents"),
    )


@_q(
    "q171_event_runs",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
               - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS grp
      FROM events WHERE user_id % 31 = 0
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS run_len,
           MIN(event_id) AS first_event_id,
           MAX(event_id) AS last_event_id
    FROM seq GROUP BY user_id, event_type, grp
    """,
)
def q171_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's CONSECUTIVE same-type
    events into runs (the sequence-compression shape behind session
    labeling, bot-burst detection, and state-machine mining). The
    classic two-row_number difference — rank within the user stream
    minus rank within the (user, type) stream is constant exactly along
    a consecutive same-type run — keeps it one pass: two windows over
    the SAME (user_id) partitioning (one shuffle, the second window
    reuses the sort) and a map-side-combined aggregate. Deterministic
    (ts, event_id) ordering; engine-exact integers throughout."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 31 == 0)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .drop("grp")
    )


@_q(
    "q172_event_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    t AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
          WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, SUM(n) AS n_from FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.n AS n_transitions,
           CAST((t.n * CAST(1000000 AS BIGINT))
                // CAST(tot.n_from AS BIGINT) AS BIGINT) AS p_e6
    FROM t JOIN tot ON tot.from_type = t.from_type
    """,
)
def q172_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams
    (the state-machine statistic behind next-action prediction and
    anomalous-flow detection): count each (state -> next state) hop,
    then the row-normalized probability as the INTEGER floor of
    n*1e6/n_from — engine-exact, no float normalization drift. Output
    is |event_types|^2 rows, model-scale regardless of input size.

    Plan: one lead() window partitioned by user_id (single shuffle on
    the stream key), a map-side-combined hop count, and the tiny
    normalization join (AQE broadcasts it). Deterministic (ts,
    event_id) ordering."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return t.join(tot, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.expr(
            "CAST((n * CAST(1000000 AS BIGINT)) div CAST(n_from AS BIGINT) AS BIGINT)"
        ).alias("p_e6"),
    )


@_q(
    "q178_spend_trend",
    """
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS xs,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
      FROM events WHERE user_id % 31 = 0
    ),
    ctr AS (SELECT user_id, CAST(SUM(xs) AS BIGINT) // COUNT(*) AS x0,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM pts GROUP BY user_id),
    cen AS (
      SELECT pts.user_id, ctr.n, pts.xs - ctr.x0 AS xc, pts.y
      FROM pts JOIN ctr ON ctr.user_id = pts.user_id
    ),
    sums AS (
      SELECT user_id, n,
             CAST(SUM(xc * y) AS BIGINT) AS sxy,
             CAST(SUM(xc * xc) AS BIGINT) AS sxx,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM cen GROUP BY user_id, n
    )
    SELECT user_id, n AS n_points,
           CAST(sy // n AS BIGINT) AS mean_cents,
           CAST(sxy // greatest(sxx // 1000000, 1) AS BIGINT)
             AS slope_cents_per_sec_e6
    FROM sums WHERE n >= 3
    """,
)
def q178_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend TREND — the least-squares slope of (event time,
    value) that powers growth/churn-risk scoring, computed
    engine-exact: x is integer epoch seconds CENTERED by the integer
    group mean (so the slope reduces to sum(x'y)/sum(x'^2) with no
    n*Σ-product blowup), y is integer cents, and the e6-scaled slope
    divides FIRST (sxx//1e6) so no intermediate passes 2^63 even at
    year-long windows — the same divide-before-scale discipline as
    q174. Two grouped passes (center stats, then moment sums) joined on
    the grouping key; users with <3 points are excluded (slope
    undefined/noise)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 31 == 0)
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("xs"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
    )
    ctr = pts.groupBy("user_id").agg(
        F.expr("CAST(SUM(xs) AS BIGINT) div COUNT(*)").alias("x0"),
        F.count(F.lit(1)).alias("n"),
    )
    cen = pts.join(ctr, "user_id").select(
        "user_id", "n", (F.col("xs") - F.col("x0")).alias("xc"), "y"
    )
    sums = cen.groupBy("user_id", "n").agg(
        F.expr("CAST(SUM(xc * y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(xc * xc) AS BIGINT)").alias("sxx"),
        F.sum("y").alias("sy"),
    )
    return sums.filter(F.col("n") >= 3).select(
        "user_id",
        F.col("n").alias("n_points"),
        F.expr("CAST(sy div n AS BIGINT)").alias("mean_cents"),
        F.expr(
            "CAST(sxy div greatest(sxx div 1000000, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("slope_cents_per_sec_e6"),
    )


@_q(
    "q196_rank_distributions",
    f"""
    SELECT c_nationkey, c_custkey,
           {SC("c_acctbal")} AS bal_c,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY {SC("c_acctbal")} DESC, c_custkey)
    """,
)
def q196_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTION window functions (completing X8's ranking
    family beyond row_number/rank/dense_rank): per-nation customer
    balance quartiles (ntile), percent_rank, and cume_dist. All three
    are exact integer-ratio functions — percent_rank = (rank-1)/(n-1),
    cume_dist = peers_through/n, ntile the ANSI front-loaded split —
    so with a UNIQUE ordering (cents balance desc, custkey) both
    engines produce bit-identical doubles from identical integer
    divisions. One partitioned window = one shuffle; per-nation
    partitions are customer-count bounded."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc(cents(F.col("c_acctbal"))), F.asc("c_custkey")
    )
    return cust.select(
        "c_nationkey",
        "c_custkey",
        cents(F.col("c_acctbal")).alias("bal_c"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@_q(
    "q207_rolling_distinct_users",
    """
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT d.day AS window_end,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_7d,
           COUNT(*) AS n_events_7d
    FROM d JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q207_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-day exact distinct users per day — the retention/DAU
    dashboard metric where naive COUNT(DISTINCT) re-shuffles the raw
    event stream once per window. The scale shape is q145's bitmap
    pattern COMPOSED over time: events collapse ONCE into per-(day,
    bucket) bitmaps (exact, mergeable, bounded state), each day's
    bitmap then fans out to the <= 7 windows it serves (a fan-out of
    BITMAPS, day-count-sized, not events), bitmap_or_agg re-merges per
    (window, bucket), and per-bucket cardinalities sum — raw events
    are touched exactly once regardless of window length. Windows are
    anchored on days that HAVE events (leading partial windows
    included, the dashboard convention). The oracle pins the whole
    pipeline against a plain range-join COUNT(DISTINCT). Events must
    come through _t (micros corpus cast to TIMESTAMP; a nanos file is
    rebuilt by integer division); date extraction is UTC to_date both
    sides."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    per_day = ev.groupBy(
        "day", F.expr("bitmap_bucket_number(user_id)").alias("_bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("_bm"),
        F.count(F.lit(1)).alias("_n_events"),
    )
    offsets = spark.range(7).select(F.col("id").cast("int").alias("_k"))
    fanned = per_day.crossJoin(F.broadcast(offsets)).select(
        F.date_add("day", F.col("_k")).alias("window_end"),
        "_bucket",
        "_bm",
        "_n_events",
    )
    anchors = per_day.select("day").distinct()
    merged = (
        fanned.join(anchors.withColumnRenamed("day", "window_end"), "window_end")
        .groupBy("window_end", "_bucket")
        .agg(
            F.expr("bitmap_count(bitmap_or_agg(_bm))").alias("_n"),
            F.sum("_n_events").alias("_ne"),
        )
    )
    return merged.groupBy("window_end").agg(
        F.sum("_n").cast("bigint").alias("users_7d"),
        F.sum("_ne").alias("n_events_7d"),
    )


@_q(
    "q224_revenue_anomaly_zscore",
    f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(SUM({SC("o_totalprice")}) // 100 AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    w AS (SELECT day, x,
                 CAST(COUNT(*) OVER f AS BIGINT) AS n,
                 CAST(SUM(x) OVER f AS BIGINT) AS s,
                 CAST(SUM(x*x) OVER f AS BIGINT) AS q
          FROM daily
          WINDOW f AS (ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day, x AS revenue_d,
           CAST(FLOOR(CAST(n*x - s AS DOUBLE)
                      / sqrt(CAST(n*q - s*s AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS z_e6
    FROM w
    WHERE n = 7 AND n*q - s*s > 0
    """,
)
def q224_revenue_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on daily revenue — the
    monitoring primitive behind every KPI alert: each day scored
    against its own trailing 7-day window (inclusive; partial leading
    windows and zero-variance windows excluded by exact integer
    predicates). Derivation keeps everything integer until one IEEE
    finish: with population std over the window,
    z = (x - S/n) / (sqrt(nQ - S^2)/n) = (n*x - S) / sqrt(nQ - S^2) —
    both factors exact int64, one double cast each, one IEEE sqrt and
    division, floor6 (the q220/q223 discipline); daily revenue is
    truncated to whole DOLLARS so the 7-day sum of squares stays under
    int64 at any realistic scale.
    Plan: one day-keyed aggregate, one ordered window over the
    day-sized series (global but tiny — days, not rows), scan-bound."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
            ).alias("day"),
            cents(F.col("o_totalprice")).alias("c"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(c) div 100 AS BIGINT)").alias("x"))
    )
    f = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(f).cast("bigint").alias("n"),
        F.sum("x").over(f).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(f).cast("bigint").alias("q"),
    )
    return (
        w.filter(
            (F.col("n") == 7)
            & (F.col("n") * F.col("q") - F.col("s") * F.col("s") > 0)
        )
        .select(
            "day",
            F.col("x").alias("revenue_d"),
            F.floor(
                (F.col("n") * F.col("x") - F.col("s")).cast("double")
                / F.sqrt(
                    (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
                    .cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("z_e6"),
        )
    )


@_q(
    "q226_mom_revenue_growth",
    f"""
    WITH m AS (
      SELECT (EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1) AS month_idx,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS tot FROM m),
    w AS (SELECT month_idx, rev_c,
                 lag(rev_c) OVER (ORDER BY month_idx) AS prev_c
          FROM m)
    SELECT CAST(month_idx AS BIGINT) AS month_idx, rev_c,
           CAST((1000000 * rev_c) // tot AS BIGINT) AS share_e6,
           CAST(CASE WHEN prev_c IS NULL THEN NULL
                ELSE (1000000 * (rev_c - prev_c)) // prev_c
                END AS BIGINT) AS mom_growth_e6
    FROM w CROSS JOIN t
    """,
)
def q226_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth and share-of-total — the
    period-comparison BI surface (the dashboard twin of q108's spine
    and q82's forecast): calendar months as a single integer index
    (year*12 + month-1, no date rendering to disagree on), exact cents
    revenue, lag() for the prior period, truncating e6 divides for
    growth and share (DuckDB's // and Spark's div both truncate toward
    zero, so NEGATIVE growth months agree too — this is the one
    integer-div pairing that is safe on signed numerators; Python's
    floor-// is not). First month has NULL growth by contract. Plan: one month-keyed aggregate, a
    month-sized window and a 1-row broadcast total — scan-bound."""
    o = _t(spark, sf_dir, "orders")
    m = (
        o.select(
            F.expr(
                "year(o_orderdate) * 12 + month(o_orderdate) - 1"
            ).alias("month_idx"),
            cents(F.col("o_totalprice")).alias("c"),
        )
        .groupBy("month_idx")
        .agg(F.sum("c").cast("bigint").alias("rev_c"))
    )
    t = m.agg(F.sum("rev_c").cast("bigint").alias("tot"))
    w = m.select(
        "month_idx",
        "rev_c",
        F.lag("rev_c").over(Window.orderBy("month_idx")).alias("prev_c"),
    )
    return w.crossJoin(F.broadcast(t)).select(
        F.col("month_idx").cast("bigint").alias("month_idx"),
        "rev_c",
        F.expr("CAST((1000000 * rev_c) div tot AS BIGINT)").alias("share_e6"),
        F.expr(
            "CAST(CASE WHEN prev_c IS NULL THEN NULL"
            " ELSE (1000000 * (rev_c - prev_c)) div prev_c END AS BIGINT)"
        ).alias("mom_growth_e6"),
    )


# q229: 8-term EWMA weights, alpha=1/4, scaled by 4^8 to exact integers:
# w_k = 3^k * 4^(7-k) for lag k (newest first), plus the 3^8 tail weight
# folded into the oldest term so the weights sum to exactly 4^8.
_EWMA_W = tuple(3**k * 4 ** (7 - k) for k in range(8))
_EWMA_DEN = 4**8  # 65536; sum(_EWMA_W) + 3^8 == 4^8; tail folded into k=7


@_q(
    "q229_ewma_revenue_trend",
    f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(SUM({SC("o_totalprice")}) // 100 AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, x, """
    + ", ".join(
        f"lag(x, {k}) OVER (ORDER BY day) AS x{k}" for k in range(1, 8)
    )
    + """,
             row_number() OVER (ORDER BY day) AS rn
      FROM daily
    )
    SELECT day, x AS revenue_d,
           CAST((x * """
    + str(_EWMA_W[0])
    + " + "
    + " + ".join(f"x{k} * {_EWMA_W[k]}" for k in range(1, 7))
    + f" + x7 * {_EWMA_W[7] + 3**8}"
    + f""") // {_EWMA_DEN} AS BIGINT) AS ewma_d
    FROM lagged WHERE rn >= 8
    """,
)
def q229_ewma_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue
    (alpha=1/4) — the trend smoother next to q224's anomaly z-score.
    An infinite-recurrence EWMA cannot value-oracle (every engine
    accumulates float error differently), so this is the FINITE 8-term
    form with the geometric tail folded into the oldest term: weights
    3^k*4^(7-k) scaled by 4^8 are EXACT integers summing to exactly
    4^8, so the whole smoother is one integer dot product and one
    truncating divide — bit-identical by construction, and within
    (3/4)^8 ~ 10% of the infinite EWMA's weight mass placement. Days
    before a full window are excluded by row_number. Plan: one
    day-keyed aggregate, one ordered window over the day-sized series
    (7 lags share a single sort), scan-bound at any scale."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.expr(
                "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
            ).alias("day"),
            cents(F.col("o_totalprice")).alias("c"),
        )
        .groupBy("day")
        .agg(F.expr("CAST(SUM(c) div 100 AS BIGINT)").alias("x"))
    )
    w = Window.orderBy("day")
    cols = [F.col("day"), F.col("x"), F.row_number().over(w).alias("rn")]
    for k in range(1, 8):
        cols.append(F.lag("x", k).over(w).alias(f"x{k}"))
    lagged = daily.select(*cols)
    dot = F.col("x") * F.lit(_EWMA_W[0])
    for k in range(1, 7):
        dot = dot + F.col(f"x{k}") * F.lit(_EWMA_W[k])
    dot = dot + F.col("x7") * F.lit(_EWMA_W[7] + 3**8)
    return (
        lagged.filter(F.col("rn") >= 8)
        .select(
            "day",
            F.col("x").alias("revenue_d"),
            dot.alias("_num"),
        )
        .select(
            "day",
            "revenue_d",
            F.expr(f"CAST(_num div {_EWMA_DEN} AS BIGINT)").alias("ewma_d"),
        )
    )


@_q(
    "q245_cusum_changepoint",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS tot FROM daily),
    c AS (
      SELECT day, x,
             row_number() OVER (ORDER BY day) AS t,
             CAST(SUM(x) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      FROM daily
    ),
    s AS (SELECT c.day, c.t, g.n, g.tot,
                 CAST(g.n * c.pre - c.t * g.tot AS BIGINT) AS cusum_scaled
          FROM c CROSS JOIN g)
    SELECT day AS changepoint_day,
           CAST(t AS BIGINT) AS day_index,
           cusum_scaled,
           n AS n_days, tot AS total_c
    FROM s
    ORDER BY abs(cusum_scaled) DESC, day ASC
    LIMIT 1
    """,
)
def q245_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on daily revenue — the drift monitor
    that complements q224's rolling z-score (which flags POINT
    anomalies; CUSUM finds the day the LEVEL shifted, the classic
    at-most-one-changepoint statistic): the day t maximizing
    |sum_{i<=t}(x_i - mean)|. Exactness: the mean is rational, so the
    statistic is CROSS-MULTIPLIED into pure int64 — n*prefix_t -
    t*total (|.| <= n * total ~ 2^50 at sf1) — no float anywhere. The
    prefix sum comes from relational.distributed_rank over the
    day-keyed aggregate (rank = day index t, cumsum = prefix): the
    two-pass rank as a reusable primitive, no single-partition window
    even though the input is calendar-sized. The argmax is a 1-row
    min-struct TakeOrdered; ties break to the earliest day."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(sum_cents(F.col("o_totalprice")).cast("bigint").alias("x"))
    ranked = distributed_rank(
        daily, [F.col("day").asc()], rank_col="t",
        cumsum_cols={"x": "pre"},
    )
    g = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("tot"),
    )
    s = ranked.crossJoin(F.broadcast(g)).select(
        "day",
        F.col("t").cast("bigint").alias("day_index"),
        (F.col("n") * F.col("pre") - F.col("t") * F.col("tot"))
        .cast("bigint")
        .alias("cusum_scaled"),
        F.col("n").alias("n_days"),
        F.col("tot").alias("total_c"),
    )
    return (
        s.orderBy(F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            "day_index", "cusum_scaled", "n_days", "total_c",
        )
    )


# Monthly revenue per customer nation: month key mk = 12 * year + month,
# revenue rev_c in exact cents. Callers append their own filter and the
# GROUP BY 1, 2.
_NATION_MONTH_REVENUE_SQL = f"""SELECT n.n_name AS nation,
             EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) * 12
               + EXTRACT(month FROM CAST(o.o_orderdate AS DATE)) AS mk,
             CAST(SUM({SC("o.o_totalprice")}) AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey"""


def _nation_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame twin of _NATION_MONTH_REVENUE_SQL grouped by (nation, mk)."""
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    od = F.col("o_orderdate").cast("date")
    return (
        o.join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year(od) * 12 + F.month(od)).cast("bigint").alias("mk"),
        )
        .agg(sum_cents(F.col("o_totalprice")).cast("bigint").alias("rev_c"))
    )


@_q(
    "q256_mann_kendall_trend",
    f"""
    WITH m AS (
      {_NATION_MONTH_REVENUE_SQL}
      GROUP BY 1, 2
    ),
    s AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
          FROM m GROUP BY nation),
    p AS (
      SELECT a.nation,
             CASE WHEN b.rev_c > a.rev_c THEN 1
                  WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END AS sgn,
             CASE WHEN b.rev_c = a.rev_c THEN 1 ELSE 0 END AS tie
      FROM m a JOIN m b ON a.nation = b.nation AND a.mk < b.mk
    ),
    q AS (SELECT nation, CAST(SUM(sgn) AS BIGINT) AS s_stat,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(tie) AS BIGINT) AS n_ties
          FROM p GROUP BY nation)
    SELECT s.nation, s.n_months, q.n_pairs, q.s_stat, q.n_ties,
           CASE WHEN q.s_stat > 0 THEN 'increasing'
                WHEN q.s_stat < 0 THEN 'decreasing'
                ELSE 'no-trend' END AS trend
    FROM s JOIN q ON s.nation = q.nation
    """,
)
def q256_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue per nation — the
    nonparametric monotone-trend detector (S = sum over month pairs
    i<j of sign(rev_j - rev_i)) that needs no distributional assumption
    and no float arithmetic: every statistic is an exact int64 count
    over sign comparisons of exact cent sums. Completes the rank-stats
    shelf (Spearman q251 = association between two variables, this =
    trend against time, Mann-Whitney q249 = two-sample location, KS
    q255 = two-sample shape). The pair enumeration is a self-join of
    the per-nation MONTHLY aggregate with itself — bounded by the
    calendar (~84 months x 25 nations regardless of row count), so the
    quadratic lives on a dimension-sized frame while the 100 TB fact
    scan collapses at the first groupBy. Nations with a single month
    drop out (no pairs) on both engines alike."""
    m = _nation_month_revenue(spark, sf_dir)
    s = m.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months")
    )
    a = m.select(
        F.col("nation").alias("_na"),
        F.col("mk").alias("_ka"),
        F.col("rev_c").alias("_ra"),
    )
    b = m.select(
        F.col("nation").alias("_nb"),
        F.col("mk").alias("_kb"),
        F.col("rev_c").alias("_rb"),
    )
    p = a.join(b, (F.col("_na") == F.col("_nb")) & (F.col("_ka") < F.col("_kb")))
    q = p.groupBy(F.col("_na").alias("nation")).agg(
        F.sum(
            F.when(F.col("_rb") > F.col("_ra"), 1)
            .when(F.col("_rb") < F.col("_ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("_rb") == F.col("_ra"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ties"),
    )
    return s.join(q, "nation").select(
        "nation",
        "n_months",
        "n_pairs",
        "s_stat",
        "n_ties",
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no-trend")
        .alias("trend"),
    )


@_q(
    "q258_theil_sen_slope",
    f"""
    WITH m AS (
      {_NATION_MONTH_REVENUE_SQL}
      GROUP BY 1, 2
    ),
    p AS (
      SELECT a.nation,
             CAST(b.rev_c - a.rev_c AS BIGINT) AS dy,
             CAST(b.mk - a.mk AS BIGINT) AS dx,
             CAST(b.rev_c - a.rev_c AS DOUBLE) / (b.mk - a.mk) AS slope
      FROM m a JOIN m b ON a.nation = b.nation AND a.mk < b.mk
    ),
    r AS (
      SELECT nation, dy, dx, slope,
             row_number() OVER (PARTITION BY nation
                                ORDER BY slope, dy, dx) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS np
      FROM p
    )
    SELECT nation, CAST(np AS BIGINT) AS n_pairs,
           dy AS med_dy_cents, dx AS med_dx_months,
           slope AS slope_cents_per_month
    FROM r WHERE rn = (np + 1) // 2
    """,
)
def q258_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of monthly revenue per nation — the
    median of all pairwise slopes, the estimator that shrugs off up to
    ~29% outlier months where OLS is dragged arbitrarily (the natural
    SLOPE companion to q256's Mann-Kendall direction test: same
    pair enumeration, same calendar-bounded quadratic). Exactness
    discipline: dy (cents) and dx (months) are exact int64; the slope
    is ONE IEEE double division of two int64s — correctly rounded and
    bit-identical on both engines — and the median element is selected
    by the deterministic total order (slope, dy, dx) at the lower
    median position (n+1) div 2, so the reported (dy, dx) pair is
    reproducible, not just the ratio. The per-nation ordering window
    runs on pair frames bounded by the calendar (~84 months -> <=3.5k
    pairs per nation at ANY fact-table scale); the 100 TB scan
    collapses at the monthly groupBy."""
    m = _nation_month_revenue(spark, sf_dir)
    a = m.select(
        F.col("nation").alias("_na"),
        F.col("mk").alias("_ka"),
        F.col("rev_c").alias("_ra"),
    )
    b = m.select(
        F.col("nation").alias("_nb"),
        F.col("mk").alias("_kb"),
        F.col("rev_c").alias("_rb"),
    )
    p = (
        a.join(b, (F.col("_na") == F.col("_nb")) & (F.col("_ka") < F.col("_kb")))
        .select(
            F.col("_na").alias("nation"),
            (F.col("_rb") - F.col("_ra")).cast("bigint").alias("dy"),
            (F.col("_kb") - F.col("_ka")).cast("bigint").alias("dx"),
            (
                (F.col("_rb") - F.col("_ra")).cast("double")
                / (F.col("_kb") - F.col("_ka"))
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("nation").orderBy("slope", "dy", "dx")
    r = p.withColumn("rn", F.row_number().over(w)).withColumn(
        "np", F.count(F.lit(1)).over(Window.partitionBy("nation"))
    )
    return r.filter(F.expr("rn = (np + 1) div 2")).select(
        "nation",
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("dy").alias("med_dy_cents"),
        F.col("dx").alias("med_dx_months"),
        F.col("slope").alias("slope_cents_per_month"),
    )


@_q(
    "q259_seasonal_index",
    f"""
    WITH m AS (
      SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) * 12
               + EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS mk,
             CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS INT)
               AS moy,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT moy, rev_c,
             CAST(SUM(rev_c) OVER (ORDER BY mk
                                   ROWS BETWEEN 5 PRECEDING
                                   AND 6 FOLLOWING) AS BIGINT) AS ma12,
             COUNT(*) OVER (ORDER BY mk ROWS BETWEEN 5 PRECEDING
                            AND 6 FOLLOWING) AS nw
      FROM m
    ),
    idx AS (
      SELECT moy,
             CAST((rev_c * 12000000) // ma12 AS BIGINT) AS index_e6
      FROM w WHERE nw = 12
    )
    SELECT moy AS month_of_year,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(index_e6) // COUNT(*) AS BIGINT) AS seasonal_e6
    FROM idx GROUP BY moy
    """,
)
def q259_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal indices by ratio-to-moving-average — the classical
    demand-planning decomposition (which calendar months run hot/cold
    after detrending): each month's revenue over its centered 12-month
    moving total, averaged per month-of-year. Exact integers all the
    way: index_e6 = rev*12e6 div MA12-sum (one trunc division of
    positive int64s, safe to ~7e11 cents/month), seasonal factor = the
    trunc mean of the e6 indices; months without a full 12-month
    window drop out on both engines alike. The moving frame runs over
    the GLOBAL month spine — ~84 rows at any fact-table scale (the
    calendar-bounded-frame class this repo's plan audit already
    admits), after the 100 TB scan collapses at the monthly groupBy.
    Completes the temporal shelf: q226 MoM growth, q229 EWMA trend,
    q256 trend direction, q258 trend slope, this = seasonality."""
    o = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    m = o.groupBy(
        (F.year(od) * 12 + F.month(od)).cast("bigint").alias("mk"),
        F.month(od).cast("int").alias("moy"),
    ).agg(sum_cents(F.col("o_totalprice")).cast("bigint").alias("rev_c"))
    w = Window.orderBy("mk").rowsBetween(-5, 6)
    wd = m.select(
        "moy",
        "rev_c",
        F.sum("rev_c").over(w).cast("bigint").alias("ma12"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == 12)
    idx = wd.select(
        "moy",
        F.expr("CAST((rev_c * 12000000) div ma12 AS BIGINT)").alias(
            "index_e6"
        ),
    )
    return idx.groupBy(F.col("moy").alias("month_of_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.expr(
            "CAST(CAST(SUM(index_e6) AS BIGINT) div COUNT(*) AS BIGINT)"
        ).alias("seasonal_e6"),
    )


@_q(
    "q261_ols_trend_slope",
    f"""
    WITH m AS (
      {_NATION_MONTH_REVENUE_SQL}
      GROUP BY 1, 2
    ),
    g AS (SELECT CAST(MIN(mk) AS BIGINT) AS mk0 FROM m),
    x AS (SELECT nation, CAST(mk - g.mk0 AS BIGINT) AS x, rev_c AS y
          FROM m, g),
    s AS (
      SELECT nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM x GROUP BY nation
    )
    SELECT nation, n AS n_months,
           CAST(n * sxy - sx * sy AS BIGINT) AS beta_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS beta_den,
           CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
             AS slope_cents_per_month
    FROM s WHERE n >= 2
    """,
)
def q261_ols_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend slope of monthly revenue per nation — the parametric
    baseline beside q258's Theil-Sen (same data, same units: a robust-
    vs-least-squares divergence flags influential outlier months). The
    normal equations are computed as EXACT int64 sums — beta =
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with the month axis centered to
    x = mk - min(mk) (a 1-row broadcast), which is what keeps every
    cross term inside int64 headroom even at 1000x this revenue scale
    (x <= ~84, so n*Sxy ~ 8e17 at 100 TB monthly-revenue magnitudes) —
    then ONE double division at the end, bit-identical on both engines.
    Numerator and denominator are also emitted raw so the slope is
    auditable as a ratio of exact integers. Plan: monthly aggregate ->
    one nation-keyed 5-sum aggregate -> pure Column arithmetic; the
    pair-quadratic never appears (contrast q258)."""
    m = _nation_month_revenue(spark, sf_dir)
    g = m.agg(F.min("mk").cast("bigint").alias("mk0"))
    x = m.crossJoin(F.broadcast(g)).select(
        "nation",
        (F.col("mk") - F.col("mk0")).cast("bigint").alias("x"),
        F.col("rev_c").alias("y"),
    )
    s = x.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.filter(F.col("n") >= 2).select(
        "nation",
        F.col("n").alias("n_months"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("beta_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("beta_den"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope_cents_per_month"),
    )


@_q(
    "q271_gap_fill_interpolate",
    f"""
    WITH m AS (
      {_NATION_MONTH_REVENUE_SQL}
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(EXTRACT(year FROM CAST(o_orderdate AS DATE)) * 12
                 + EXTRACT(month FROM CAST(o_orderdate AS DATE))) AS mk_lo,
             MAX(EXTRACT(year FROM CAST(o_orderdate AS DATE)) * 12
                 + EXTRACT(month FROM CAST(o_orderdate AS DATE))) AS mk_hi
      FROM orders
    ),
    spine AS (
      SELECT n.n_name AS nation, CAST(s.mk AS BIGINT) AS mk
      FROM nation n
      CROSS JOIN (SELECT unnest(range(
        (SELECT mk_lo FROM bounds), (SELECT mk_hi FROM bounds) + 1)) AS mk)
        AS s
    ),
    j AS (
      SELECT sp.nation, sp.mk, m.rev_c FROM spine sp
      LEFT JOIN m ON sp.nation = m.nation AND sp.mk = m.mk
    ),
    w AS (
      SELECT nation, mk, rev_c,
             last_value(rev_c IGNORE NULLS) OVER
               (PARTITION BY nation ORDER BY mk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_c,
             last_value(rev_c IGNORE NULLS) OVER
               (PARTITION BY nation ORDER BY mk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
             last_value(CASE WHEN rev_c IS NOT NULL THEN mk END IGNORE NULLS)
               OVER (PARTITION BY nation ORDER BY mk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmk,
             first_value(rev_c IGNORE NULLS) OVER
               (PARTITION BY nation ORDER BY mk
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN rev_c IS NOT NULL THEN mk END IGNORE NULLS)
               OVER (PARTITION BY nation ORDER BY mk
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nmk
      FROM j
    )
    SELECT nation, mk, rev_c,
           CASE WHEN rev_c IS NULL THEN 1 ELSE 0 END AS is_gap,
           CAST(locf_c AS BIGINT) AS locf_c,
           CAST(CASE WHEN rev_c IS NOT NULL THEN rev_c
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + ((nv - pv) * (mk - pmk)) // (nmk - pmk)
                     END AS BIGINT) AS interp_c
    FROM w
    """,
)
def q271_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-filling with LOCF and exact linear interpolation —
    the spine-densification step every forecasting/feature pipeline
    runs before a model sees a sparse series: the URGENT-priority
    monthly revenue per nation (genuinely sparse — not every nation
    books an urgent order every month) is left-joined onto the full
    nation x month spine, then each gap gets (a) the last observation
    carried forward and (b) the linear interpolation between its
    bracketing observations, computed as EXACT integer cents:
    prev + ((next-prev)*(mk-pmk)) div (nmk-pmk) — one trunc division
    whose negative-delta behavior is identical on Spark `div` and
    DuckDB `//` (both truncate toward zero; the q226 discipline).
    Leading gaps (no prior observation) keep NULL locf and interp,
    trailing gaps LOCF only — the honest convention, pinned in pytest.
    All windows are PER-NATION partitioned IGNORE-NULLS frames over
    the ~84-row calendar spine (bounded at any fact scale); the spine
    itself is nation x sequence(mk_lo, mk_hi) — no data-sized
    cross join anywhere."""
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    od = F.col("o_orderdate").cast("date")
    mk = (F.year(od) * 12 + F.month(od)).cast("bigint")
    m = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), mk.alias("mk"))
        .agg(sum_cents(F.col("o_totalprice")).cast("bigint").alias("rev_c"))
    )
    bounds = o.agg(
        F.min(mk).cast("bigint").alias("mk_lo"), F.max(mk).cast("bigint").alias("mk_hi")
    )
    months = bounds.select(
        F.explode(F.sequence("mk_lo", "mk_hi")).alias("mk")
    )
    spine = na.select(F.col("n_name").alias("nation")).crossJoin(
        F.broadcast(months)
    )
    j = spine.join(m, ["nation", "mk"], "left")
    wp = (
        Window.partitionBy("nation")
        .orderBy("mk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wc = (
        Window.partitionBy("nation")
        .orderBy("mk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("nation")
        .orderBy("mk")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    mk_if_obs = F.when(F.col("rev_c").isNotNull(), F.col("mk"))
    w = j.select(
        "nation",
        "mk",
        "rev_c",
        F.last("rev_c", ignorenulls=True).over(wc).alias("locf_c"),
        F.last("rev_c", ignorenulls=True).over(wp).alias("pv"),
        F.last(mk_if_obs, ignorenulls=True).over(wp).alias("pmk"),
        F.first("rev_c", ignorenulls=True).over(wn).alias("nv"),
        F.first(mk_if_obs, ignorenulls=True).over(wn).alias("nmk"),
    )
    return w.select(
        "nation",
        "mk",
        "rev_c",
        F.when(F.col("rev_c").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        F.col("locf_c").cast("bigint").alias("locf_c"),
        F.when(F.col("rev_c").isNotNull(), F.col("rev_c"))
        .otherwise(
            F.expr("pv + ((nv - pv) * (mk - pmk)) div (nmk - pmk)")
        )
        .cast("bigint")
        .alias("interp_c"),
    )


_Q277_K = 3


@_q(
    "q277_topk_with_ties",
    f"""
    WITH oc AS (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, c.c_custkey
    ),
    rk AS (
      SELECT c_nationkey, n_orders,
             dense_rank() OVER (PARTITION BY c_nationkey
                                ORDER BY n_orders DESC) AS dr
      FROM oc
    ),
    kept AS (SELECT * FROM rk WHERE dr <= {_Q277_K}),
    pern AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM oc GROUP BY c_nationkey
    )
    SELECT n.n_name AS nation,
           p.n_customers,
           CAST(COUNT(k.n_orders) AS BIGINT) AS n_kept_ties,
           CAST(LEAST({_Q277_K}, p.n_customers) AS BIGINT) AS n_kept_rownum,
           CAST(COUNT(k.n_orders) - LEAST({_Q277_K}, p.n_customers)
                AS BIGINT) AS n_tie_surplus,
           CAST(MAX(k.n_orders) AS BIGINT) AS top_count,
           CAST(MIN(k.n_orders) AS BIGINT) AS kth_count,
           CAST(SUM(k.n_orders) AS BIGINT) AS sum_orders_kept
    FROM pern p
    JOIN kept k ON k.c_nationkey = p.c_nationkey
    JOIN nation n ON n.n_nationkey = p.c_nationkey
    GROUP BY n.n_name, p.n_customers
    """,
)
def q277_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise top-k WITH TIES — the DENSE_RANK semantics audit
    complementing q212's row-number top-k (`top_k_ranked`): per
    nation, the customers in the top _Q277_K = 3 DISTINCT order-count
    values are ALL kept, however many tie (ISO SQL FETCH FIRST k ROWS
    WITH TIES generalized to dense-rank bands). Order counts are small
    integers (~10 orders/customer), so ties are the NORM here — the
    audit quantifies exactly what row-number top-k silently drops or
    arbitrarily picks: n_kept_ties vs the always-3 row-number budget,
    with n_tie_surplus the overflow. Row-number top-k over tied keys
    is NONDETERMINISTIC (which 3 of a 40-way tie survive depends on
    partition order), so the row-number arm is reported as its
    deterministic cardinality LEAST(k, n_customers), never as actual
    arbitrarily-chosen rows — the dense-rank arm is the one with
    deterministic, hash-oracled contents. Customers with zero orders
    participate (LEFT join; a whole zero-count tie band can be a
    top-3 value in a sparse nation — the correct WITH TIES behavior).
    Scale shape: one map-combined groupBy to ~|customers| rows, a
    PARTITIONED (per-nation) dense_rank window — never global — and a
    bounded ~|nations| output."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    na = _t(spark, sf_dir, "nation")
    oc = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"], "left")
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    rk = oc.withColumn(
        "dr",
        F.dense_rank().over(
            Window.partitionBy("c_nationkey").orderBy(F.col("n_orders").desc())
        ),
    )
    kept = rk.filter(F.col("dr") <= _Q277_K)
    pern = oc.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return (
        pern.join(kept.select("c_nationkey", "n_orders"), "c_nationkey")
        .join(
            F.broadcast(na.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "n_customers")
        .agg(
            F.count("n_orders").cast("bigint").alias("n_kept_ties"),
            F.least(F.lit(_Q277_K).cast("bigint"), F.col("n_customers"))
            .cast("bigint")
            .alias("n_kept_rownum"),
            (
                F.count("n_orders")
                - F.least(F.lit(_Q277_K).cast("bigint"), F.col("n_customers"))
            )
            .cast("bigint")
            .alias("n_tie_surplus"),
            F.max("n_orders").cast("bigint").alias("top_count"),
            F.min("n_orders").cast("bigint").alias("kth_count"),
            F.sum("n_orders").cast("bigint").alias("sum_orders_kept"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            "n_kept_ties",
            "n_kept_rownum",
            "n_tie_surplus",
            "top_count",
            "kth_count",
            "sum_orders_kept",
        )
    )
