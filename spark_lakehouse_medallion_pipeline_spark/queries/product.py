"""Product analytics: funnels, retention, attribution, survival, basket rules,
RFM scoring and behavioral sequence motifs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    _q,
    _t,
    cents,
    sum_cents,
)


@_q(
    "q134_funnel_conversion",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
          JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY e.user_id)
    SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT '2_click_after_view', COUNT(*) FROM c
    UNION ALL
    SELECT '3_purchase_after_click', COUNT(*) FROM p
    """,
)
def q134_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel view -> click -> purchase: each
    stage keeps users whose first stage-N event is strictly AFTER their
    first stage-(N-1) event. Three aggregates, every one keyed on
    user_id — after the first shuffle the join and the next aggregate
    reuse the same hash partitioning, so stages 2-3 add no extra
    exchange of the big side, and each stage's output only shrinks.
    Timestamps compare engine-internally (counts out), so the ns/us
    parquet question never reaches the hash."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view")
        .unionAll(stage(c, "2_click_after_view"))
        .unionAll(stage(p, "3_purchase_after_click"))
    )


@_q(
    "q135_retention_cohorts",
    """
    WITH first_wk AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    )
    SELECT f.cohort, CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_active
    FROM active a JOIN first_wk f ON f.user_id = a.user_id
    GROUP BY f.cohort, week_offset
    ORDER BY f.cohort, week_offset
    """,
)
def q135_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: cohort = Monday-truncated week of
    a user's first event; one row per (cohort, week_offset) counting
    users still active that week. Both engines truncate weeks to Monday,
    and offsets are exact multiples of 7 days, so the /7 stays exact in
    double on both. The distinct-activity aggregate and the cohort
    aggregate share the user_id shuffle key; n_active is a plain COUNT
    because (user_id, wk) is already distinct."""
    ev = _t(spark, sf_dir, "events")
    first_wk = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    return (
        active.join(first_wk, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort", "week_offset")
    )


_ATTRIB_7D_US = 7 * 24 * 3600 * 1_000_000  # lookback window in microseconds


@_q(
    "q218_touch_attribution",
    f"""
    WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS us,
                      event_id
               FROM events),
    lt AS (SELECT user_id, event_type, value, us,
                  last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
                    OVER w AS touch_type,
                  last_value(CASE WHEN event_type <> 'purchase'
                             THEN us END IGNORE NULLS)
                    OVER w AS touch_us
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    p AS (SELECT CASE WHEN touch_us IS NULL
                        OR us - touch_us > {_ATTRIB_7D_US} THEN 'direct'
                      ELSE touch_type END AS channel,
                 {SC("value")} AS v
          FROM lt WHERE event_type = 'purchase'),
    g AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
                 CAST(SUM(v) AS BIGINT) AS revenue_c
          FROM p GROUP BY channel),
    m AS (SELECT CAST(SUM(revenue_c) AS BIGINT) AS tot FROM g)
    SELECT channel, n_purchases, revenue_c,
           CAST((1000000 * revenue_c) // tot AS BIGINT) AS revenue_share_e6
    FROM g CROSS JOIN m
    """,
)
def q218_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution — revenue per acquisition
    channel: each purchase's value is credited to the user's most
    recent PRIOR non-purchase event within a 7-day lookback ('direct'
    if none), the analytic behind q134's funnel and q15/q16's
    clicker cohorts. Deterministic prior pick: the frame is ordered
    (ts, event_id) so microsecond ties can't flip the last_value;
    channel and its timestamp come from the SAME row because both
    IGNORE-NULLS last_value calls share one CASE condition. Exact
    arithmetic end-to-end: epoch microseconds for the lookback, cents
    for revenue, truncating e6 divide for the share. Plan: ONE
    per-user window (users are well-spread keys), a channel-sized
    groupBy, a 1-row broadcast total — no self-join, no as-of; at
    100 TB this is the standard sessionization shuffle shape (q21)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lt = ev.select(
        "event_type",
        "value",
        "us",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("touch_type"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("us")),
            ignorenulls=True,
        ).over(w).alias("touch_us"),
    )
    p = lt.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_us").isNull()
            | ((F.col("us") - F.col("touch_us")) > _ATTRIB_7D_US),
            F.lit("direct"),
        )
        .otherwise(F.col("touch_type"))
        .alias("channel"),
        cents(F.col("value")).alias("v"),
    )
    g = p.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("v").cast("bigint").alias("revenue_c"),
    )
    m = g.agg(F.sum("revenue_c").cast("bigint").alias("tot"))
    return g.crossJoin(F.broadcast(m)).select(
        "channel",
        "n_purchases",
        "revenue_c",
        F.expr("CAST((1000000 * revenue_c) div tot AS BIGINT)").alias(
            "revenue_share_e6"
        ),
    )


@_q(
    "q219_basket_lift",
    """
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    nx AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM u GROUP BY event_type),
    nn AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM u),
    pairs AS (SELECT a.event_type AS t1, b.event_type AS t2,
                     CAST(COUNT(*) AS BIGINT) AS n_both
              FROM u a JOIN u b
                ON a.user_id = b.user_id AND a.event_type < b.event_type
              GROUP BY a.event_type, b.event_type)
    SELECT t1, t2, n_both,
           CAST((1000000 * n_both) // n_users AS BIGINT) AS support_e6,
           CAST((1000000 * n_both) // x.n AS BIGINT) AS conf_t1_t2_e6,
           CAST((1000000 * n_both) // y.n AS BIGINT) AS conf_t2_t1_e6,
           CAST((1000000 * n_users * n_both) // (x.n * y.n) AS BIGINT)
             AS lift_e6
    FROM pairs
    JOIN nx x ON x.event_type = t1
    JOIN nx y ON y.event_type = t2
    CROSS JOIN nn
    """,
)
def q219_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over user behavior — support,
    both-direction confidence, and lift for every unordered pair of
    event types co-occurring in a user's history (the A-priori L2 pass;
    q163's PMI is the same statistic in log space over text, this is
    the exact-rational retail form). All integer: support/confidence
    are truncating e6 divides, lift = (1e6 * N * n_xy) div (n_x * n_y)
    stays under int64 (1e6 * 6e5^2 ~ 4e17 at sf0.1). Plan: one
    distinct (user, type) shuffle feeds everything; the pair self-join
    is user-keyed (co-partitioned with itself, no extra exchange) and
    explodes each user's <=5 types into <=10 pairs; the per-type and
    pair counts map-side combine to vocabulary size; the final joins
    are broadcast. At 100 TB the distinct is the only data-sized
    stage — exactly FPGrowth's first scan."""
    u = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    nx = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nn = u.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    a = u.select("user_id", F.col("event_type").alias("t1"))
    b = u.select("user_id", F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(nx.withColumnRenamed("event_type", "t1")
                        .withColumnRenamed("n", "nx_n")),
            "t1",
        )
        .join(
            F.broadcast(nx.withColumnRenamed("event_type", "t2")
                        .withColumnRenamed("n", "ny_n")),
            "t2",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "t1",
            "t2",
            "n_both",
            F.expr("CAST((1000000 * n_both) div n_users AS BIGINT)").alias(
                "support_e6"
            ),
            F.expr("CAST((1000000 * n_both) div nx_n AS BIGINT)").alias(
                "conf_t1_t2_e6"
            ),
            F.expr("CAST((1000000 * n_both) div ny_n AS BIGINT)").alias(
                "conf_t2_t1_e6"
            ),
            F.expr(
                "CAST((1000000 * n_users * n_both) div (nx_n * ny_n) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )


@_q(
    "q221_funnel_latency",
    """
    WITH c AS (SELECT user_id, MIN(epoch_us(ts)) AS c_us
               FROM events WHERE event_type = 'click' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
          GROUP BY e.user_id),
    d AS (SELECT p.user_id, p.p_us - c.c_us AS delta_us
          FROM p JOIN c ON c.user_id = p.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(delta_us) AS BIGINT) AS min_us,
           quantile_cont(delta_us, 0.25) AS p25_us,
           quantile_cont(delta_us, 0.50) AS p50_us,
           quantile_cont(delta_us, 0.75) AS p75_us,
           CAST(MAX(delta_us) AS BIGINT) AS max_us
    FROM d
    """,
)
def q221_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert distribution — the latency half of
    q134's conversion-rate funnel: per user, the gap from FIRST click
    to the first subsequent purchase, summarized as exact interpolated
    quartiles. Quarter fractions on integer microseconds interpolate
    bit-identically across engines (the q18/q193 dyadic discipline);
    everything upstream is MIN aggregates and one integer subtraction.
    Plan: two user-keyed aggregates on the same shuffle lineage plus a
    user-keyed join — AQE coalesces; the quartile buffer holds one
    delta per CONVERTED user, the post-funnel survivor set, not the
    event stream (and the 100 TB swap is percentile_approx, q199's
    discipline)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    d = p.join(c, "user_id").select(
        (F.col("p_us") - F.col("c_us")).alias("delta_us")
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.min("delta_us").cast("bigint").alias("min_us"),
        F.expr("percentile(delta_us, 0.25)").alias("p25_us"),
        F.expr("percentile(delta_us, 0.50)").alias("p50_us"),
        F.expr("percentile(delta_us, 0.75)").alias("p75_us"),
        F.max("delta_us").cast("bigint").alias("max_us"),
    )


@_q(
    "q243_position_attribution",
    """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type FROM events
    ),
    r AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM e
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN n = 1 THEN 1000000
               WHEN n = 2 THEN 500000
               WHEN rn = 1 THEN 400000 + 200000 % (n - 2)
               WHEN rn = n THEN 400000
               ELSE 200000 // (n - 2)
             END AS credit,
             CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_first,
             CASE WHEN rn = n THEN 1 ELSE 0 END AS is_last
      FROM r
    )
    SELECT event_type AS channel,
           CAST(SUM(credit) AS BIGINT) AS credit_e6,
           CAST(SUM(is_first) AS BIGINT) AS n_first_touch,
           CAST(SUM(is_last) AS BIGINT) AS n_last_touch,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM credited GROUP BY event_type
    """,
)
def q243_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the standard
    alternative to q218's last-touch: 40% of each user's credit to the
    first touch, 40% to the last, 20% split across the middles (n=1
    takes all, n=2 splits 50/50). Exact integer e6 credits with the
    division remainder of the middle share assigned to the first touch,
    so every user's credit sums to EXACTLY 1e6 and the channel totals
    telescope (conservation pinned in test_analytics). First/last are
    min/max of the (ts, event_id, type) struct under the total order —
    no per-user window on the engine side, just one groupBy + a
    broadcast-able user-model join back; the oracle uses the equivalent
    PARTITIONED window. Plan: two exchanges on user_id (the model
    aggregate and the classify join), then one channel-sized rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    model = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min(F.struct("ts", "event_id")).alias("_f"),
        F.max(F.struct("ts", "event_id")).alias("_l"),
    ).select(
        "user_id", "n",
        F.col("_f.event_id").alias("first_id"),
        F.col("_l.event_id").alias("last_id"),
    )
    credited = ev.join(model, "user_id").select(
        "event_type",
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(
            F.col("event_id") == F.col("first_id"),
            F.lit(400000) + F.expr("200000 % (n - 2)"),
        )
        .when(F.col("event_id") == F.col("last_id"), F.lit(400000))
        .otherwise(F.expr("200000 div (n - 2)"))
        .alias("credit"),
        (F.col("event_id") == F.col("first_id")).cast("int").alias("is_first"),
        (F.col("event_id") == F.col("last_id")).cast("int").alias("is_last"),
    )
    return credited.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum("credit").cast("bigint").alias("credit_e6"),
        F.sum("is_first").cast("bigint").alias("n_first_touch"),
        F.sum("is_last").cast("bigint").alias("n_last_touch"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@_q(
    "q244_hazard_table",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS tp
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= (
            SELECT t0 FROM s s2 WHERE s2.user_id = e.user_id)
          GROUP BY e.user_id),
    d AS (SELECT s.user_id,
                 (epoch_us(p.tp) - epoch_us(s.t0)) // 3600000000 AS h
          FROM s LEFT JOIN p ON p.user_id = s.user_id),
    ev AS (SELECT h // 12 AS b, COUNT(*) AS d_w
           FROM d WHERE h IS NOT NULL AND h < 48 GROUP BY h // 12),
    g AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n,
                 (SELECT CAST(COALESCE(SUM(d_w), 0) AS BIGINT) FROM ev)
                   AS n_events_total),
    bins AS (SELECT unnest(range(4)) AS b),
    t AS (
      SELECT bins.b, CAST(COALESCE(ev.d_w, 0) AS BIGINT) AS d_w,
             CAST((SELECT COALESCE(SUM(e2.d_w), 0) FROM ev e2
                   WHERE e2.b < bins.b) AS BIGINT) AS prefix_d
      FROM bins LEFT JOIN ev ON ev.b = bins.b
    )
    SELECT CAST(t.b AS INT) AS bin_12h,
           CAST(g.n - t.prefix_d AS BIGINT) AS n_at_risk,
           t.d_w AS n_events,
           CAST((1000000 * t.d_w) // greatest(g.n - t.prefix_d, 1)
                AS BIGINT) AS hazard_e6,
           CAST(g.n AS BIGINT) AS n_cohort,
           CAST(g.n - g.n_events_total AS BIGINT) AS n_censored
    FROM t CROSS JOIN g
    """,
)
def q244_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard (life) table for signup-to-purchase
    conversion — the survival-analysis primitive product analytics
    runs on every activation funnel: cohort = users with a signup,
    event = first purchase at or after it, observation window
    administratively CENSORED at 48 hours (users converting later, or
    never, stay at risk through every bin and count as censored — the
    mechanism that makes naive conversion rates biased and hazard
    tables necessary). Four 12-hour bins; per bin the at-risk count
    r_w = cohort - prior conversions (censoring is all at the horizon,
    so nobody leaves risk early) and the hazard d_w/r_w as an exact e6
    integer. Durations are elapsed full hours from raw microsecond
    arithmetic ((us_p - us_0) div 3600e6) — NOT date_diff('hour'),
    which counts clock-boundary crossings and would diverge between
    engines. Plan: two user-keyed aggregates, a 4-row bin spine
    (spark.range) with a broadcast suffix self-join for the prefix
    sums — no window anywhere, every post-aggregate relation is
    bin- or model-sized."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    d = s.join(p, "user_id", "left").select(
        "user_id",
        F.expr(
            "(unix_micros(tp) - unix_micros(t0)) div 3600000000"
        ).alias("h"),
    )
    evd = (
        d.filter(F.col("h").isNotNull() & (F.col("h") < 48))
        .groupBy(F.expr("h div 12").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_w"))
    )
    g = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("h").isNotNull() & (F.col("h") < 48), 1).otherwise(0)
        ).cast("bigint").alias("n_events_total"),
    )
    bins = spark.range(4).select(F.col("id").alias("b"))
    pre = (
        bins.alias("x")
        .join(F.broadcast(evd.alias("y")), F.expr("y.b < x.b"), "left")
        .groupBy(F.col("x.b").alias("b"))
        .agg(F.coalesce(F.sum("y.d_w"), F.lit(0)).cast("bigint").alias("prefix_d"))
    )
    t = (
        bins.join(evd, "b", "left")
        .join(pre, "b")
        .select(
            "b",
            F.coalesce(F.col("d_w"), F.lit(0)).cast("bigint").alias("d_w"),
            "prefix_d",
        )
    )
    return t.crossJoin(F.broadcast(g)).select(
        F.col("b").cast("int").alias("bin_12h"),
        (F.col("n") - F.col("prefix_d")).cast("bigint").alias("n_at_risk"),
        F.col("d_w").alias("n_events"),
        F.expr(
            "CAST((1000000 * d_w)"
            " div greatest(n - prefix_d, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("hazard_e6"),
        F.col("n").alias("n_cohort"),
        (F.col("n") - F.col("n_events_total")).cast("bigint").alias("n_censored"),
    )


@_q(
    "q248_kaplan_meier",
    """
    WITH s AS (SELECT user_id, MIN(ts) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    agg AS (
      SELECT s.user_id, s.t0,
             MIN(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS tp,
             MAX(CASE WHEN (epoch_us(e.ts) - epoch_us(s.t0))
                           // 3600000000 < 48 THEN e.ts END) AS tw
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.ts >= s.t0
      GROUP BY s.user_id, s.t0
    ),
    u AS (
      SELECT user_id,
             (epoch_us(tp) - epoch_us(t0)) // 3600000000 AS hp,
             (epoch_us(tw) - epoch_us(t0)) // 3600000000 AS hw
      FROM agg
    ),
    pb AS (
      SELECT CASE WHEN hp IS NOT NULL AND hp < 48 THEN 1 ELSE 0 END AS ev,
             CASE WHEN hp IS NOT NULL AND hp < 48 THEN hp // 12
                  ELSE hw // 12 END AS b
      FROM u
    ),
    k AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ev = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN ev = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN ev = 1 AND b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN ev = 1 AND b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(SUM(CASE WHEN ev = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN ev = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN ev = 0 AND b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN ev = 0 AND b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
      FROM pb
    ),
    r AS (
      SELECT *, n AS r0, n - d0 - c0 AS r1,
             n - d0 - c0 - d1 - c1 AS r2,
             n - d0 - c0 - d1 - c1 - d2 - c2 AS r3
      FROM k
    ),
    sv AS (
      SELECT *,
             (1000000 * (r0 - d0)) // GREATEST(r0, 1) AS s0
      FROM r
    ),
    sv1 AS (SELECT *, (s0 * (r1 - d1)) // GREATEST(r1, 1) AS s1 FROM sv),
    sv2 AS (SELECT *, (s1 * (r2 - d2)) // GREATEST(r2, 1) AS s2 FROM sv1),
    sv3 AS (SELECT *, (s2 * (r3 - d3)) // GREATEST(r3, 1) AS s3 FROM sv2)
    SELECT CAST(0 AS INT) AS bin_12h, CAST(r0 AS BIGINT) AS n_at_risk,
           d0 AS n_events, c0 AS n_censored, CAST(s0 AS BIGINT) AS survival_e6
    FROM sv3
    UNION ALL SELECT 1, CAST(r1 AS BIGINT), d1, c1, CAST(s1 AS BIGINT) FROM sv3
    UNION ALL SELECT 2, CAST(r2 AS BIGINT), d2, c2, CAST(s2 AS BIGINT) FROM sv3
    UNION ALL SELECT 3, CAST(r3 AS BIGINT), d3, c3, CAST(s3 AS BIGINT) FROM sv3
    """,
)
def q248_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve for signup-to-purchase
    — q244's hazard table deepened with the estimator survival analysis
    is actually named for, and with MID-STUDY censoring (the case where
    KM stops being a trivial conversion fraction): a user who does not
    convert inside the 48 h study window is censored at their LAST
    observed activity hour WITHIN the window — lost to follow-up, the
    moment after which we can no longer claim they were still at risk
    (on this corpus that is 51 of 150 users at sf0.01, spread across
    hours 12-47, so the at-risk set genuinely shrinks mid-study and KM
    diverges from the naive conversion fraction it exists to correct).
    Four 12-hour bins, end-of-interval censoring convention (a user
    censored in bin w still counts at risk FOR bin w). Survival is the deterministic e6 integer recurrence
    s_w = s_{w-1} * (r_w - d_w) div r_w — the same trunc-div chain on
    both engines (the unrolled-integer-iteration convention), each
    step <= 1e6 * n so int64-safe at any scale. Durations from raw
    microsecond arithmetic, never date_diff. Plan: two user-keyed
    aggregates, ONE 1-row bin-tally pivot broadcast into a 4-row
    unrolled spine — no window, nothing post-aggregate larger than the
    cohort model."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    agg = (
        ev.join(s, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("tp"),
            F.max(
                F.when(
                    F.expr(
                        "(unix_micros(ts) - unix_micros(t0))"
                        " div 3600000000 < 48"
                    ),
                    F.col("ts"),
                )
            ).alias("tw"),
        )
    )
    u = agg.select(
        F.expr("(unix_micros(tp) - unix_micros(t0)) div 3600000000").alias("hp"),
        F.expr("(unix_micros(tw) - unix_micros(t0)) div 3600000000").alias("hw"),
    )
    is_ev = F.col("hp").isNotNull() & (F.col("hp") < 48)
    pb = u.select(
        is_ev.cast("int").alias("ev"),
        F.when(is_ev, F.expr("hp div 12"))
        .otherwise(F.expr("hw div 12"))
        .alias("b"),
    )
    tallies = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for w in range(4):
        tallies.append(
            F.sum(F.when((F.col("ev") == 1) & (F.col("b") == w), 1).otherwise(0))
            .cast("bigint")
            .alias(f"d{w}")
        )
        tallies.append(
            F.sum(F.when((F.col("ev") == 0) & (F.col("b") == w), 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{w}")
        )
    k = pb.agg(*tallies)
    # unrolled at-risk counts and the e6 survival recurrence — pure
    # Column arithmetic over the 1-row tally
    k = (
        k.withColumn("r0", F.col("n"))
        .withColumn("r1", F.expr("n - d0 - c0"))
        .withColumn("r2", F.expr("n - d0 - c0 - d1 - c1"))
        .withColumn("r3", F.expr("n - d0 - c0 - d1 - c1 - d2 - c2"))
        .withColumn("s0", F.expr("(1000000 * (r0 - d0)) div greatest(r0, CAST(1 AS BIGINT))"))
        .withColumn("s1", F.expr("(s0 * (r1 - d1)) div greatest(r1, CAST(1 AS BIGINT))"))
        .withColumn("s2", F.expr("(s1 * (r2 - d2)) div greatest(r2, CAST(1 AS BIGINT))"))
        .withColumn("s3", F.expr("(s2 * (r3 - d3)) div greatest(r3, CAST(1 AS BIGINT))"))
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(w).cast("int").alias("bin_12h"),
                F.col(f"r{w}").cast("bigint").alias("n_at_risk"),
                F.col(f"d{w}").alias("n_events"),
                F.col(f"c{w}").alias("n_censored"),
                F.col(f"s{w}").cast("bigint").alias("survival_e6"),
            )
            for w in range(4)
        ]
    )
    return k.select(F.explode(rows).alias("x")).select("x.*")


@_q(
    "q250_rfm_scores",
    f"""
    WITH c AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM({SC("o_totalprice")}) AS BIGINT) AS monetary_c
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT *,
             NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS t_r,
             NTILE(5) OVER (ORDER BY n_orders DESC, custkey ASC) AS t_f,
             NTILE(5) OVER (ORDER BY monetary_c DESC, custkey ASC) AS t_m
      FROM c
    )
    SELECT custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           n_orders, monetary_c,
           CAST(6 - t_r AS INT) AS r_score,
           CAST(6 - t_f AS INT) AS f_score,
           CAST(6 - t_m AS INT) AS m_score,
           CAST(100 * (6 - t_r) + 10 * (6 - t_f) + (6 - t_m) AS INT)
             AS rfm_code
    FROM t
    """,
)
def q250_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile scoring — the
    workhorse customer-segmentation model of every CRM: score 5 = most
    recent / most frequent / highest spend, quintiles by exact ANSI
    NTILE(5) with the custkey tie-break making each a total order.
    This is the composition stress for relational.distributed_rank:
    THREE chained ntile passes over the customer model, each two
    balanced exchanges with its range pin alive until the one terminal
    action (each pin is owned by the frame that reads it, so composing
    ranks needs no registry). The oracle's NTILE
    windows are single-partition only in DuckDB; the engine side never
    funnels through one task. Recency is measured against the corpus's
    own max order date (1-row broadcast), days as exact datediff
    integers. Output is customer-dimension sized."""
    o = _t(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_ref"))
    c = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            sum_cents(F.col("o_totalprice")).cast("bigint").alias("monetary_c"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff(F.col("_ref"), F.col("_last"))
            .cast("bigint")
            .alias("recency_days"),
            "n_orders",
            "monetary_c",
        )
    )
    scored = c
    for rank_name, tile, order in (
        ("_rk_r", "t_r", [F.col("recency_days").asc(), F.col("custkey").asc()]),
        ("_rk_f", "t_f", [F.col("n_orders").desc(), F.col("custkey").asc()]),
        ("_rk_m", "t_m", [F.col("monetary_c").desc(), F.col("custkey").asc()]),
    ):
        scored = distributed_rank(
            scored, order, rank_col=rank_name, ntile_col=tile, n_tiles=5
        ).drop(rank_name)
    return scored.select(
        "custkey",
        "recency_days",
        "n_orders",
        "monetary_c",
        (F.lit(6) - F.col("t_r")).cast("int").alias("r_score"),
        (F.lit(6) - F.col("t_f")).cast("int").alias("f_score"),
        (F.lit(6) - F.col("t_m")).cast("int").alias("m_score"),
        (
            F.lit(100) * (F.lit(6) - F.col("t_r"))
            + F.lit(10) * (F.lit(6) - F.col("t_f"))
            + (F.lit(6) - F.col("t_m"))
        )
        .cast("int")
        .alias("rfm_code"),
    )


_Q272_MAX_EVENTS = 4096


@_q(
    "q272_sequence_motif_match",
    f"""
    WITH r AS (
      SELECT user_id, substr(event_type, 1, 1) AS sym,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, string_agg(sym, '' ORDER BY rn) AS seq
      FROM r WHERE rn <= {_Q272_MAX_EVENTS} GROUP BY user_id
    )
    SELECT user_id, seq,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'cp')) AS BIGINT)
             AS n_click_to_buy,
           CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT)
             AS n_error_bursts,
           CAST(len(regexp_extract_all(seq, '[cv]{{4,}}')) AS BIGINT)
             AS n_browse_runs,
           CASE WHEN seq LIKE '%p%' THEN 1 ELSE 0 END AS has_purchase
    FROM s
    """,
)
def q272_sequence_motif_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence-motif matching — MATCH_RECOGNIZE-lite, the
    state-machine mining a product-analytics stack runs over event
    streams: each user's full history collapses to a symbol string
    (first letter of the event type — c/v/p/s/e are distinct here) in
    the deterministic (ts, event_id) order, then regex motifs count
    non-overlapping occurrences of click-then-buy ('cp'), error bursts
    ('ee+' — the retry-loop frustration signal), and long browse runs
    without buying ('[cv]{4,}'). Complements q171's gaps-and-islands
    (single-type runs) and q172's Markov transitions (adjacent pairs):
    motifs span arbitrary-length subsequences. Greedy non-overlapping
    extraction agrees between Java regex and DuckDB's RE2 for these
    backreference-free patterns (pinned by the value hash on the FULL
    sequence string, which rides along as a column). Scale shape: ONE
    per-user groupBy; the regexes are JVM-side expressions over the
    collapsed ~|users| rows. Per-key bound (VERDICT r11 hardening,
    replacing the inherited unbounded sessionization collect): events
    past the first _Q272_MAX_EVENTS = 4096 per user are dropped BEFORE
    the collect via a per-user row_number() filter — not a post-hoc
    F.slice, which would still buffer the whale's full history in the
    aggregation state — so a bot-traffic whale (exactly where motif
    mining runs) costs at most ~4 KB of collect state instead of an
    OOM. Motif counts are therefore defined as "within the first 4096
    events"; the oracle replays the identical row_number() <= N
    truncation. The per-user window rides the SAME hash exchange the
    groupBy needs (plan-pinned: one shuffle, no global window). At the
    fixtures the cap is never hit (max 86 events/user at sf0.01);
    test_q272_whale_cap pins the truncation on a synthetic 10k-event
    whale."""
    ev = _t(spark, sf_dir, "events")
    capped = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("sym"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("_rn") <= _Q272_MAX_EVENTS)
    )
    s = capped.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "sym"))
                ),
                lambda x: x["sym"],
            ),
            "",
        ).alias("seq")
    )
    return s.select(
        "user_id",
        "seq",
        F.length("seq").cast("bigint").alias("seq_len"),
        F.size(F.expr("regexp_extract_all(seq, 'cp', 0)"))
        .cast("bigint")
        .alias("n_click_to_buy"),
        F.size(F.expr("regexp_extract_all(seq, 'ee+', 0)"))
        .cast("bigint")
        .alias("n_error_bursts"),
        F.size(F.expr("regexp_extract_all(seq, '[cv]{4,}', 0)"))
        .cast("bigint")
        .alias("n_browse_runs"),
        F.when(F.col("seq").contains("p"), 1).otherwise(0).alias("has_purchase"),
    )
