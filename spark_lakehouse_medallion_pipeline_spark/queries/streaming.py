"""Streaming replays: watermarks, stream-stream joins, emission timing, dedup
TTL and crash recovery."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import relational
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    _q,
    _scratch_dir,
    _t,
    cents,
)
from spark_lakehouse_medallion_pipeline_spark.sources import pydatasource
from spark_lakehouse_medallion_pipeline_spark.sources.io import (
    merge_upsert_snapshot,
    read_snapshot,
    snapshot_versions,
)


_Q280_DELAYS_S = (60, 180, 600)


@_q(
    "q280_watermark_late_data_audit",
    f"""
    WITH e AS (
      SELECT event_id, event_type,
             epoch_us(ts) AS ts_us,
             epoch_us(ts) + (event_id % 7) * 60000000 AS arr_us
      FROM events
    ),
    w AS (
      SELECT event_id, event_type, ts_us,
             max(ts_us) OVER (ORDER BY arr_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS wm_us
      FROM e
    ),
    x AS (
      SELECT d.delay_s, w.event_type, w.ts_us, w.wm_us,
             CASE WHEN w.wm_us IS NOT NULL
                   AND w.ts_us < w.wm_us - d.delay_s * 1000000
                  THEN 1 ELSE 0 END AS is_late
      FROM w, (SELECT unnest([{", ".join(str(s) for s in _Q280_DELAYS_S)}])
               AS delay_s) d
    )
    SELECT CAST(delay_s AS BIGINT) AS delay_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           CAST((1000000 * SUM(is_late)) // COUNT(*) AS BIGINT)
             AS late_ratio_e6,
           CAST(COALESCE(MAX(CASE WHEN is_late = 1
                         THEN wm_us - delay_s * 1000000 - ts_us END), 0)
                AS BIGINT) AS max_lateness_us,
           CAST(COUNT(DISTINCT CASE WHEN is_late = 1
                      THEN ts_us // 3600000000 END) AS BIGINT)
             AS n_hours_with_drops
    FROM x GROUP BY delay_s
    """,
)
def q280_watermark_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data audit — Structured Streaming's withWatermark
    drop rule replayed EXACTLY in batch, so the delay can be TUNED on
    history before a streaming job ever runs with it: an event is
    dropped iff its event time is below (watermark at its arrival),
    where the watermark is the max event time seen STRICTLY BEFORE it
    minus the configured delay — the exclusive prefix max over arrival
    order, which is exactly distributed_rank's cummax_cols form (ANSI
    MAX ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING; no global
    WindowExec). This corpus arrives in perfect event-time order
    (verified: zero disorder), so a deterministic transport jitter of
    (event_id % 7) minutes on the ARRIVAL axis simulates the
    out-of-order delivery the audit exists for — stated openly, and
    replayed identically by the oracle. One rank pass is shared by all
    three candidate delays ({_Q280_DELAYS_S}); per delay the audit
    reports events dropped, the worst lateness miss, and how many
    event-time hours lose data. Scale shape: one two-pass global rank
    (balanced range exchange, never single-partition), a 3x literal
    explode, one map-combined aggregate to 3 rows. Complements the
    q21/q22 sessionization and the streaming jobs' availableNow==batch
    pin with the watermark-semantics half of X14/X15."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + (F.col("event_id") % 7) * 60_000_000).alias(
            "arr_us"
        ),
    )
    w = relational.distributed_rank(
        e,
        [F.col("arr_us").asc(), F.col("event_id").asc()],
        rank_col="_r",
        cummax_cols={"ts_us": "wm_us"},
    )
    x = w.withColumn(
        "delay_s", F.explode(F.array(*[F.lit(s) for s in _Q280_DELAYS_S]))
    ).withColumn(
        "is_late",
        F.when(
            F.col("wm_us").isNotNull()
            & (F.col("ts_us") < F.col("wm_us") - F.col("delay_s") * 1_000_000),
            1,
        ).otherwise(0),
    )
    return x.groupBy(F.col("delay_s").cast("bigint").alias("delay_s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("is_late").cast("bigint").alias("n_late"),
        F.expr(
            "CAST((1000000 * SUM(is_late)) div COUNT(*) AS BIGINT)"
        ).alias("late_ratio_e6"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("is_late") == 1,
                    F.col("wm_us") - F.col("delay_s") * 1_000_000 - F.col("ts_us"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_lateness_us"),
        F.countDistinct(
            F.when(
                F.col("is_late") == 1, F.expr("ts_us div 3600000000")
            )
        )
        .cast("bigint")
        .alias("n_hours_with_drops"),
    )


_Q285_JOIN_WINDOW_S = 21_600  # purchases within 6h after a click


# q285/q289's clicks and purchases in arrival order (arr_us, event_id),
# each row with the two streams' exclusive event-time maxima (wma, wmb),
# the global watermark basis gwm_base = least of the two, the end-of-stream
# basis gend (mx) and the candidate delays (d).
_STREAM_JOIN_WATERMARK_CTES = f"""e AS (
      SELECT event_id, event_type, user_id,
             epoch_us(ts) AS ts_us,
             epoch_us(ts) + (event_id % 7) * 60000000 AS arr_us,
             CAST(ROUND(value*100) AS BIGINT) AS val_c
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT *,
             max(CASE WHEN event_type = 'click' THEN ts_us END)
               OVER (ORDER BY arr_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wma,
             max(CASE WHEN event_type = 'purchase' THEN ts_us END)
               OVER (ORDER BY arr_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wmb
      FROM e
    ),
    b AS (
      SELECT *, CASE WHEN wma IS NULL OR wmb IS NULL THEN NULL
                     ELSE LEAST(wma, wmb) END AS gwm_base
      FROM w
    ),
    mx AS (
      SELECT LEAST(max(CASE WHEN event_type = 'click' THEN ts_us END),
                   max(CASE WHEN event_type = 'purchase' THEN ts_us END))
             AS gend
      FROM e
    ),
    d AS (SELECT unnest([{", ".join(str(s) for s in _Q280_DELAYS_S)}])
          AS delay_s)"""


def _stream_join_watermarks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The DataFrame twin of _STREAM_JOIN_WATERMARK_CTES' b and mx."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    e = ev.select(
        "event_id",
        "event_type",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + (F.col("event_id") % 7) * 60_000_000).alias(
            "arr_us"
        ),
        cents(F.col("value")).alias("val_c"),
        F.when(F.col("event_type") == "click", F.unix_micros("ts")).alias(
            "ts_c"
        ),
        F.when(F.col("event_type") == "purchase", F.unix_micros("ts")).alias(
            "ts_p"
        ),
    )
    b = relational.distributed_rank(
        e,
        [F.col("arr_us").asc(), F.col("event_id").asc()],
        rank_col="_r",
        cummax_cols={"ts_c": "wma", "ts_p": "wmb"},
    ).withColumn(
        "gwm_base",
        F.when(
            F.col("wma").isNull() | F.col("wmb").isNull(), F.lit(None)
        ).otherwise(F.least("wma", "wmb")),
    )
    # end-of-stream watermark basis: 1-row aggregate, broadcast combine
    # (the q279-sanctioned bounded crossJoin form)
    mx = e.agg(
        F.least(F.max("ts_c"), F.max("ts_p")).cast("bigint").alias("gend")
    )
    return b, mx


@_q(
    "q285_stream_stream_interval_join",
    f"""
    WITH {_STREAM_JOIN_WATERMARK_CTES},
    s AS (
      SELECT d.delay_s, b.*,
             CASE WHEN b.gwm_base IS NOT NULL
                   AND b.ts_us < b.gwm_base - d.delay_s * 1000000
                  THEN 1 ELSE 0 END AS is_late
      FROM b CROSS JOIN d
    ),
    sides AS (
      SELECT delay_s,
        SUM(CASE WHEN event_type = 'click' AND is_late = 0
                 THEN 1 ELSE 0 END) AS n_clicks_kept,
        SUM(CASE WHEN event_type = 'purchase' AND is_late = 0
                 THEN 1 ELSE 0 END) AS n_purchases_kept,
        SUM(CASE WHEN event_type = 'click' AND is_late = 0
                  AND ts_us + {_Q285_JOIN_WINDOW_S * 1000000}
                      >= (SELECT gend FROM mx) - delay_s * 1000000
                 THEN 1 ELSE 0 END) AS n_state_clicks_end,
        SUM(CASE WHEN event_type = 'purchase' AND is_late = 0
                  AND ts_us >= (SELECT gend FROM mx) - delay_s * 1000000
                 THEN 1 ELSE 0 END) AS n_state_purchases_end
      FROM s GROUP BY delay_s
    ),
    c AS (SELECT user_id, ts_us AS c_ts, gwm_base AS c_gwm
          FROM b WHERE event_type = 'click'),
    p AS (SELECT user_id, ts_us AS p_ts, gwm_base AS p_gwm, val_c
          FROM b WHERE event_type = 'purchase'),
    pr AS (
      SELECT d.delay_s, p.val_c,
             CASE WHEN (c.c_gwm IS NOT NULL
                        AND c.c_ts < c.c_gwm - d.delay_s * 1000000)
                    OR (p.p_gwm IS NOT NULL
                        AND p.p_ts < p.p_gwm - d.delay_s * 1000000)
                  THEN 1 ELSE 0 END AS pair_late
      FROM c JOIN p ON c.user_id = p.user_id
                   AND p.p_ts BETWEEN c.c_ts
                                  AND c.c_ts + {_Q285_JOIN_WINDOW_S * 1000000}
      CROSS JOIN d
    ),
    pa AS (
      SELECT delay_s, COUNT(*) AS n_pairs_total,
             SUM(1 - pair_late) AS n_pairs_emitted,
             SUM(pair_late) AS n_pairs_lost_late,
             COALESCE(SUM(CASE WHEN pair_late = 0 THEN val_c END), 0)
               AS sum_emitted_cents
      FROM pr GROUP BY delay_s
    )
    SELECT CAST(sides.delay_s AS BIGINT) AS delay_s,
           CAST(n_clicks_kept AS BIGINT) AS n_clicks_kept,
           CAST(n_purchases_kept AS BIGINT) AS n_purchases_kept,
           CAST(COALESCE(n_pairs_total, 0) AS BIGINT) AS n_pairs_total,
           CAST(COALESCE(n_pairs_emitted, 0) AS BIGINT) AS n_pairs_emitted,
           CAST(COALESCE(n_pairs_lost_late, 0) AS BIGINT)
             AS n_pairs_lost_late,
           CAST(COALESCE(sum_emitted_cents, 0) AS BIGINT)
             AS sum_emitted_cents,
           CAST(n_state_clicks_end AS BIGINT) AS n_state_clicks_end,
           CAST(n_state_purchases_end AS BIGINT) AS n_state_purchases_end
    FROM sides LEFT JOIN pa USING (delay_s)
    """,
)
def q285_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL JOIN replay — Structured Streaming's
    two-keyed-streams join (clicks x purchases on user_id, purchase
    within _Q285_JOIN_WINDOW_S = 6h after the click) with
    watermark-driven drop + state-eviction accounting, replayed EXACTLY
    in batch so the delay/window pair can be tuned on history before
    the streaming job runs (composing q280's watermark semantics with
    q276's range-join shape, per VERDICT r12 Next #5a). Semantics
    replayed at row granularity: each stream's watermark basis is the
    max event time seen STRICTLY BEFORE a row's arrival in that stream
    (two EXCLUSIVE prefix maxima over the union arrival order — ONE
    distributed_rank pass, cummax_cols's multi-column form), the
    query-global watermark is the MIN of the two minus the delay
    (Spark's min-across-sources rule), a row is dropped iff its event
    time is below the global watermark at its arrival, and a pair is
    emitted iff BOTH sides survive. The eviction theorem this encodes —
    inner interval-join state eviction can NEVER lose a pair whose
    rows are both on time, because each side's eviction bound is
    exactly the latest partner event time that could still match — is
    the documented completeness guarantee of watermarked inner joins,
    and the pytest replay simulates true arrival-order state eviction
    to prove the batch formula equals the streaming run. Per delay:
    kept rows per side, ground-truth pairs, emitted pairs, pairs lost
    to late drops (emitted + lost == total, conservation-pinned), the
    purchase cents that survive, and the end-of-stream resident state
    per side (rows whose eviction bound the final watermark has not
    passed — the steady-state memory bill). Transport jitter is
    q280's deterministic (event_id % 7) minutes, stated openly and
    replayed identically by the oracle. Scale shape: one two-pass
    global rank (balanced exchanges, no global WindowExec), the pair
    join is an EQUI join on user_id with the interval as post-filter
    (spill-safe SMJ shape, q275's discipline), the 3x delay explode
    happens on bounded streams, and both aggregates are map-combined
    to 3 rows."""
    us = 1_000_000
    w_us = _Q285_JOIN_WINDOW_S * us
    b, mx = _stream_join_watermarks(spark, sf_dir)
    delays = F.explode(F.array(*[F.lit(s) for s in _Q280_DELAYS_S]))
    s = (
        b.withColumn("delay_s", delays)
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "is_late",
            F.when(
                F.col("gwm_base").isNotNull()
                & (F.col("ts_us") < F.col("gwm_base") - F.col("delay_s") * us),
                1,
            ).otherwise(0),
        )
    )
    is_click = F.col("event_type") == "click"
    on_time = F.col("is_late") == 0
    sides = s.groupBy("delay_s").agg(
        F.sum(F.when(is_click & on_time, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clicks_kept"),
        F.sum(F.when(~is_click & on_time, 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases_kept"),
        F.sum(
            F.when(
                is_click
                & on_time
                & (
                    F.col("ts_us") + w_us
                    >= F.col("gend") - F.col("delay_s") * us
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_state_clicks_end"),
        F.sum(
            F.when(
                ~is_click
                & on_time
                & (F.col("ts_us") >= F.col("gend") - F.col("delay_s") * us),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_state_purchases_end"),
    )
    c = b.filter(is_click).select(
        "user_id",
        F.col("ts_us").alias("c_ts"),
        F.col("gwm_base").alias("c_gwm"),
    )
    p = b.filter(~is_click).select(
        "user_id",
        F.col("ts_us").alias("p_ts"),
        F.col("gwm_base").alias("p_gwm"),
        "val_c",
    )
    pr = (
        c.join(p, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + w_us)
        )
        .withColumn("delay_s", delays)
        .withColumn(
            "pair_late",
            F.when(
                (
                    F.col("c_gwm").isNotNull()
                    & (F.col("c_ts") < F.col("c_gwm") - F.col("delay_s") * us)
                )
                | (
                    F.col("p_gwm").isNotNull()
                    & (F.col("p_ts") < F.col("p_gwm") - F.col("delay_s") * us)
                ),
                1,
            ).otherwise(0),
        )
    )
    pa = pr.groupBy("delay_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_total"),
        F.sum(1 - F.col("pair_late")).cast("bigint").alias("n_pairs_emitted"),
        F.sum("pair_late").cast("bigint").alias("n_pairs_lost_late"),
        F.coalesce(
            F.sum(F.when(F.col("pair_late") == 0, F.col("val_c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sum_emitted_cents"),
    )
    # LEFT join from sides: a delay with ZERO ground-truth pairs must
    # still emit its audit row (kept/end-state columns) with pair
    # columns coalesced to 0 — an inner join would silently drop the
    # whole delay on sparse data, and the oracle mirrors the same
    # LEFT + COALESCE so the gate covers the sparse shape too.
    zero = F.lit(0).cast("bigint")
    return sides.join(pa, "delay_s", "left").select(
        F.col("delay_s").cast("bigint").alias("delay_s"),
        "n_clicks_kept",
        "n_purchases_kept",
        F.coalesce("n_pairs_total", zero).alias("n_pairs_total"),
        F.coalesce("n_pairs_emitted", zero).alias("n_pairs_emitted"),
        F.coalesce("n_pairs_lost_late", zero).alias("n_pairs_lost_late"),
        F.coalesce("sum_emitted_cents", zero).alias("sum_emitted_cents"),
        "n_state_clicks_end",
        "n_state_purchases_end",
    )


@_q(
    "q289_stream_outer_join_timing",
    f"""
    WITH {_STREAM_JOIN_WATERMARK_CTES},
    c AS (SELECT event_id, user_id, ts_us, gwm_base, val_c
          FROM b WHERE event_type = 'click'),
    p AS (SELECT user_id, ts_us AS p_ts, gwm_base AS p_gwm
          FROM b WHERE event_type = 'purchase'),
    pair AS (
      SELECT d.delay_s, c.event_id,
             SUM(CASE WHEN NOT (c.gwm_base IS NOT NULL
                        AND c.ts_us < c.gwm_base - d.delay_s * 1000000)
                       AND NOT (p.p_gwm IS NOT NULL
                        AND p.p_ts < p.p_gwm - d.delay_s * 1000000)
                      THEN 1 ELSE 0 END) AS n_emitted
      FROM c JOIN p ON c.user_id = p.user_id
                   AND p.p_ts BETWEEN c.ts_us
                                  AND c.ts_us + {_Q285_JOIN_WINDOW_S * 1000000}
      CROSS JOIN d
      GROUP BY 1, 2
    ),
    cx AS (
      SELECT d.delay_s, c.event_id, c.val_c, c.ts_us,
             CASE WHEN c.gwm_base IS NOT NULL
                   AND c.ts_us < c.gwm_base - d.delay_s * 1000000
                  THEN 1 ELSE 0 END AS is_late,
             COALESCE(pr.n_emitted, 0) AS n_emitted
      FROM c CROSS JOIN d
      LEFT JOIN pair pr ON pr.delay_s = d.delay_s
                       AND pr.event_id = c.event_id
    )
    SELECT CAST(delay_s AS BIGINT) AS delay_s,
           CAST(SUM(1 - is_late) AS BIGINT) AS n_clicks_kept,
           CAST(SUM(CASE WHEN is_late = 0 AND n_emitted > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_clicks,
           CAST(SUM(CASE WHEN is_late = 0 THEN n_emitted ELSE 0 END)
                AS BIGINT) AS n_pairs_emitted,
           CAST(SUM(CASE WHEN is_late = 0 AND n_emitted = 0
                          AND ts_us + {_Q285_JOIN_WINDOW_S * 1000000}
                              < (SELECT gend FROM mx) - delay_s * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_null_emitted,
           CAST(SUM(CASE WHEN is_late = 0 AND n_emitted = 0
                          AND ts_us + {_Q285_JOIN_WINDOW_S * 1000000}
                              >= (SELECT gend FROM mx) - delay_s * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pending_end,
           CAST(SUM(CASE WHEN is_late = 0 AND n_emitted = 0
                          AND ts_us + {_Q285_JOIN_WINDOW_S * 1000000}
                              < (SELECT gend FROM mx) - delay_s * 1000000
                         THEN val_c ELSE 0 END) AS BIGINT)
             AS sum_null_cents
    FROM cx GROUP BY delay_s
    """,
)
def q289_stream_outer_join_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join NULL-EMISSION timing — the outer
    half completing q285 (inner): a watermarked left-outer stream join
    cannot emit a click's NULL row the moment no purchase has matched;
    it must hold the click until the watermark passes its eviction
    bound (click ts + window), because a matching purchase may still
    arrive. This replay audits exactly that timing per candidate
    delay: every on-time click is classified MATCHED (>= 1 emitted
    pair, q285's both-sides-on-time rule — n_pairs_emitted here must
    equal q285's column, pinned cross-entry in pytest), NULL-EMITTED
    (unmatched and evicted within the dataset: bound < final
    watermark — the NULL row has been produced), or PENDING (unmatched
    but still resident at end-of-stream: the outer join's structural
    result latency, invisible to any batch left join). kept = matched
    + null_emitted + pending is the conservation identity. The cents
    attached to null-emitted clicks quantify the revenue whose
    attribution a shorter delay would surface sooner. Same watermark
    machinery as q285 (two exclusive prefix maxima over union arrival
    order from ONE distributed_rank pass, min-across-sources global
    watermark); the click-side classification is a LEFT join from the
    exploded click set onto the per-click pair aggregate — bounded,
    spill-safe, map-combined to 3 rows."""
    us = 1_000_000
    w_us = _Q285_JOIN_WINDOW_S * us
    b, mx = _stream_join_watermarks(spark, sf_dir)
    delays = F.explode(F.array(*[F.lit(s) for s in _Q280_DELAYS_S]))
    is_click = F.col("event_type") == "click"
    c = b.filter(is_click).select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("gwm_base").alias("c_gwm"),
        "val_c",
    )
    p = b.filter(~is_click).select(
        "user_id",
        F.col("ts_us").alias("p_ts"),
        F.col("gwm_base").alias("p_gwm"),
    )
    pair = (
        c.join(p, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("ts_us"))
            & (F.col("p_ts") <= F.col("ts_us") + w_us)
        )
        .withColumn("delay_s", delays)
        .groupBy("delay_s", "event_id")
        .agg(
            F.sum(
                F.when(
                    ~(
                        F.col("c_gwm").isNotNull()
                        & (
                            F.col("ts_us")
                            < F.col("c_gwm") - F.col("delay_s") * us
                        )
                    )
                    & ~(
                        F.col("p_gwm").isNotNull()
                        & (
                            F.col("p_ts")
                            < F.col("p_gwm") - F.col("delay_s") * us
                        )
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_emitted")
        )
    )
    cx = (
        c.withColumn("delay_s", delays)
        .join(pair, ["delay_s", "event_id"], "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "delay_s",
            "val_c",
            "ts_us",
            "gend",
            F.when(
                F.col("c_gwm").isNotNull()
                & (F.col("ts_us") < F.col("c_gwm") - F.col("delay_s") * us),
                1,
            )
            .otherwise(0)
            .alias("is_late"),
            F.coalesce(F.col("n_emitted"), F.lit(0)).alias("n_emitted"),
        )
    )
    on_time = F.col("is_late") == 0
    evicted = (
        F.col("ts_us") + w_us < F.col("gend") - F.col("delay_s") * us
    )
    unmatched = F.col("n_emitted") == 0
    return cx.groupBy(F.col("delay_s").cast("bigint").alias("delay_s")).agg(
        F.sum(1 - F.col("is_late")).cast("bigint").alias("n_clicks_kept"),
        F.sum(F.when(on_time & ~unmatched, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched_clicks"),
        F.sum(F.when(on_time, F.col("n_emitted")).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_emitted"),
        F.sum(F.when(on_time & unmatched & evicted, 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_emitted"),
        F.sum(F.when(on_time & unmatched & ~evicted, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pending_end"),
        F.sum(F.when(on_time & unmatched & evicted, F.col("val_c")).otherwise(0))
        .cast("bigint")
        .alias("sum_null_cents"),
    )


_Q291_ROWS = 6000
_Q291_BATCH = 500
_Q291_CRASH_BID = 3
_Q291_N_BATCHES = -(-_Q291_ROWS // _Q291_BATCH)


def _q291_feed(session: SparkSession) -> DataFrame:
    """The trio's offset-replay source: _Q291_ROWS synthetic_docs rows
    over 4 shards, _Q291_BATCH rows per microbatch."""
    return (
        session.readStream.format("synthetic_docs")
        .option("rows", str(_Q291_ROWS))
        .option("batch", str(_Q291_BATCH))
        .option("shards", "4")
        .load()
    )


def _log_entries(root: str, sub: str) -> list[int]:
    """Sorted numeric entry names of ``root/sub`` (a checkpoint's
    offsets/commits log, or q299's ledger); [] when it does not exist."""
    d = os.path.join(root, sub)
    if not os.path.isdir(d):
        return []
    return sorted(int(n) for n in os.listdir(d) if n.isdigit())


def _inject_crash_once(bid: int, marker: str, tag: str) -> None:
    """The crash-recovery trio's (q291/q296/q299) injected failure:
    raise at batch _Q291_CRASH_BID on the first run only (``marker``
    records that it fired), after the batch's work and before its
    offset commits."""
    if bid == _Q291_CRASH_BID and not os.path.exists(marker):
        with open(marker, "w"):
            pass
        raise RuntimeError(f"{tag}-injected-crash")


def _crash_restart(
    start: Callable[[], object],
    ck: str,
    tag: str,
    calls: list[int],
    after_crash: Callable[[], None] | None = None,
) -> tuple[list[int], int]:
    """Crash/restart harness of the trio: run the checkpointed stream
    ``start()`` (checkpoint ``ck``) twice, capturing each run's failure
    whether the drain raises it or the query records it. Run 1
    must fail with ``<tag>-injected-crash`` having committed batches
    0.._Q291_CRASH_BID-1; ``after_crash`` then checks the entry's own
    between-run invariants. Run 2 must drain all _Q291_N_BATCHES
    commits, and the batch-call ledger ``calls`` must show the crashed
    batch exactly twice and no other batch replayed. Every check is a
    ValueError (never a bare assert: the q254 -O discipline). Returns
    run 1's commit log and the number of replayed batches."""

    def drain() -> str | None:
        q = start()
        err: str | None = None
        try:
            q.processAllAvailable()
        except Exception as e:  # noqa: BLE001 — failure IS the fixture
            err = str(e)
        finally:
            ex = q.exception()
            if ex is not None:
                err = str(ex)
            q.stop()
        return err

    e1 = drain()
    if e1 is None or f"{tag}-injected-crash" not in e1:
        raise ValueError(f"run 1 did not crash as injected: {e1!r:.300}")
    commits_run1 = _log_entries(ck, "commits")
    if commits_run1 != list(range(_Q291_CRASH_BID)):
        raise ValueError(f"unexpected run-1 commits: {commits_run1}")
    if after_crash is not None:
        after_crash()
    e2 = drain()
    if e2 is not None:
        raise ValueError(f"restarted run failed: {e2!r:.300}")
    commits_total = _log_entries(ck, "commits")
    if commits_total != list(range(_Q291_N_BATCHES)):
        raise ValueError(f"incomplete drain after restart: {commits_total}")
    n_replayed = sum(1 for b in set(calls) if calls.count(b) > 1)
    if calls.count(_Q291_CRASH_BID) != 2 or n_replayed != 1:
        raise ValueError(f"replay ledger wrong: {sorted(calls)}")
    return commits_run1, n_replayed


@_q(
    "q291_stream_crash_recovery",
    f"""
    WITH src AS (
      SELECT range AS doc_id,
             (range % 1000003) * 2654435761 % 4294967296 AS mixed
      FROM range({_Q291_ROWS})
    )
    SELECT 'shard' || CAST(mixed % 4 AS VARCHAR) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(mixed % 4096) AS BIGINT) AS bucket_sum,
           CAST({_Q291_CRASH_BID} AS BIGINT) AS n_commits_run1,
           CAST({_Q291_CRASH_BID + 1} AS BIGINT) AS n_offsets_run1,
           CAST({_Q291_N_BATCHES} AS BIGINT) AS n_commits_total,
           CAST(1 AS BIGINT) AS n_replayed_batches
    FROM src GROUP BY 1
    """,
)
def q291_stream_crash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CRASH RECOVERY / exactly-once resumption — the one
    behavior class a production streaming user hits first (VERDICT r13
    Next #1; the reference provisioned an `mdp-checkpoints` bucket for
    exactly this and never built it — k8s/s3/03-s3-buckets.yaml:33-39).
    The offset-replay `synthetic_docs` stream
    (sources/pydatasource.py's SimpleDataSourceStreamReader: offsets
    are plain {{"pos": n}} dicts, readBetweenOffsets re-derives any
    committed range exactly) feeds a foreachBatch sink that writes each
    microbatch to its own `bid=<batch_id>` partition with OVERWRITE —
    the canonical idempotent-by-batch-id exactly-once sink pattern.
    RUN 1 is killed deterministically: foreachBatch raises AFTER
    writing batch {_Q291_CRASH_BID}'s data but BEFORE its offset
    commits, so the checkpoint holds {_Q291_CRASH_BID + 1} offset-WAL
    entries and {_Q291_CRASH_BID} commits — a mid-stream crash with
    orphaned sink data on disk. RUN 2 restarts from the SAME
    checkpoint: the engine replays batch {_Q291_CRASH_BID} from the
    offset log (readBetweenOffsets — the invocation ledger must show
    that bid exactly twice), the overwrite makes the replay idempotent,
    and the drain completes to {-(-_Q291_ROWS // _Q291_BATCH)} commits.
    Every recovery invariant is ValueError-gated (never bare asserts:
    the q254 -O discipline): run-1 failure message is the injected
    marker, the restart consumed a NON-EMPTY offset log, batch
    {_Q291_CRASH_BID} ran exactly twice and every other bid exactly
    once, and the sink holds each doc_id exactly once. The measured
    recovery counters ride the result as columns, so the DuckDB oracle
    (which recomputes the pure-function corpus from range() — the q124
    custom-source idiom) pins them value-for-value: any drift in the
    crash/replay machinery is a hash mismatch, not just a test failure.
    Scale shape: the sink write is one executor-parallel parquet write
    per microbatch, recovery cost is proportional to ONE batch (the
    replayed slice), never the stream; the per-shard aggregate is
    map-combined to 4 rows."""
    pydatasource.register(spark)
    base = _scratch_dir(spark, "q291", sf_dir)
    # fresh run every call: the whole point is replaying the crash, so
    # checkpoint/sink/marker from a previous invocation must not leak in
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    ck = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    marker = os.path.join(base, "crashed_once")
    calls: list[int] = []

    def _write_batch(bdf: DataFrame, bid: int) -> None:
        # write FIRST, then crash: batch N's data lands on disk while
        # its offset never commits — the restart must overwrite it
        bdf.write.mode("overwrite").parquet(os.path.join(sink, f"bid={bid}"))
        calls.append(bid)
        _inject_crash_once(bid, marker, "q291")

    def _start():
        return (
            _q291_feed(spark)
            .writeStream.foreachBatch(_write_batch)
            .option("checkpointLocation", ck)
            .start()
        )

    offsets_run1: list[int] = []

    def _check_offsets() -> None:
        offsets_run1.extend(_log_entries(ck, "offsets"))
        if not offsets_run1:
            raise ValueError("restart would consume an EMPTY offset log")

    commits_run1, n_replayed = _crash_restart(_start, ck, "q291", calls, _check_offsets)
    out = spark.read.parquet(sink)
    n_rows, n_ids = out.count(), out.select("doc_id").distinct().count()
    if n_rows != _Q291_ROWS or n_ids != _Q291_ROWS:
        raise ValueError(f"sink not exactly-once: {n_rows} rows, {n_ids} ids")
    return out.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bucket").cast("bigint").alias("bucket_sum"),
        F.lit(len(commits_run1)).cast("bigint").alias("n_commits_run1"),
        F.lit(len(offsets_run1)).cast("bigint").alias("n_offsets_run1"),
        F.lit(_Q291_N_BATCHES).cast("bigint").alias("n_commits_total"),
        F.lit(n_replayed).cast("bigint").alias("n_replayed_batches"),
    )


_Q292_WIN_US = 3_600_000_000  # 1-hour tumbling windows, q20's spec


@_q(
    "q292_stream_window_emission_timing",
    f"""
    WITH e AS (
      SELECT event_id,
             epoch_us(ts) AS ts_us,
             epoch_us(ts) + (event_id % 7) * 60000000 AS arr_us,
             CAST(ROUND(value*100) AS BIGINT) AS val_c
      FROM events
    ),
    w AS (
      SELECT event_id, ts_us, val_c,
             max(ts_us) OVER (ORDER BY arr_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS wm_us
      FROM e
    ),
    mx AS (SELECT max(ts_us) AS gend FROM e),
    x AS (
      SELECT d.delay_s, w.ts_us, w.val_c,
             CASE WHEN w.wm_us IS NOT NULL
                   AND w.ts_us < w.wm_us - d.delay_s * 1000000
                  THEN 1 ELSE 0 END AS is_late,
             w.ts_us // {_Q292_WIN_US} AS wst
      FROM w, (SELECT unnest([{", ".join(str(s) for s in _Q280_DELAYS_S)}])
               AS delay_s) d
    ),
    pw AS (
      SELECT delay_s, wst,
             COUNT(*) AS n_kept,
             SUM(val_c) AS sum_c,
             CASE WHEN (wst + 1) * {_Q292_WIN_US}
                       <= (SELECT gend FROM mx) - delay_s * 1000000
                  THEN 1 ELSE 0 END AS emitted
      FROM x WHERE is_late = 0
      GROUP BY delay_s, wst
    ),
    late AS (
      SELECT delay_s, SUM(is_late) AS n_dropped
      FROM x GROUP BY delay_s
    )
    SELECT CAST(pw.delay_s AS BIGINT) AS delay_s,
           CAST(COUNT(*) AS BIGINT) AS n_windows_total,
           CAST(SUM(emitted) AS BIGINT) AS n_windows_emitted,
           CAST(COUNT(*) - SUM(emitted) AS BIGINT) AS n_windows_open,
           CAST(SUM(n_kept) AS BIGINT) AS n_events_kept,
           CAST(SUM(CASE WHEN emitted = 1 THEN n_kept ELSE 0 END)
                AS BIGINT) AS n_events_in_emitted,
           CAST(SUM(CASE WHEN emitted = 0 THEN n_kept ELSE 0 END)
                AS BIGINT) AS n_events_pending,
           CAST(SUM(CASE WHEN emitted = 1 THEN sum_c ELSE 0 END)
                AS BIGINT) AS sum_emitted_cents,
           CAST(MAX(late.n_dropped) AS BIGINT) AS n_events_dropped_late
    FROM pw JOIN late USING (delay_s)
    GROUP BY pw.delay_s
    """,
)
def q292_stream_window_emission_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-aggregation EMISSION timing — append-mode window
    finalization replayed exactly in batch, completing the timing
    trilogy (q280 row drops, q285/q289 join emission; VERDICT r13 Next
    #2): in append mode a tumbling-window aggregate emits a window only
    when the watermark passes the WINDOW END, so end-of-stream leaves a
    tail of complete-but-unemitted windows — the structural result
    latency every append-mode consumer inherits, invisible to the
    batch rollup (q20). Per candidate delay over q20's 1-hour tumbling
    spec: a row is dropped iff late under q280's exact arrival-order
    rule (exclusive prefix max, one distributed_rank pass shared by all
    three delays), a window's streaming CONTENT is its on-time rows
    only, and the window has EMITTED by end-of-stream iff
    window_end <= final_watermark (= max event time − delay, all rows
    seen). The audit reports, per delay: windows with >= 1 on-time row,
    emitted vs still-open (emitted + open == total, conservation), the
    kept-event split across that boundary (kept = in_emitted +
    pending), the cents already emitted downstream, and rows dropped
    late. The jitter is q280's deterministic (event_id % 7) minutes —
    at the 600 s delay nothing is late (max disorder is 6 min), so that
    row's totals must equal q20's batch rollup window-for-window
    (pinned cross-entry in pytest alongside an arrival-order streaming
    simulation). Scale shape: one two-pass global rank, a x3 literal
    explode, one map-combined (delay, window) aggregate at
    |delays| x |hours| cardinality, then a 3-row reduce; the
    end-of-stream watermark base is a 1-row broadcast combine."""
    ev = _t(spark, sf_dir, "events")
    us = 1_000_000
    e = ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + (F.col("event_id") % 7) * 60_000_000).alias(
            "arr_us"
        ),
        cents(F.col("value")).alias("val_c"),
    )
    w = relational.distributed_rank(
        e,
        [F.col("arr_us").asc(), F.col("event_id").asc()],
        rank_col="_r",
        cummax_cols={"ts_us": "wm_us"},
    )
    mx = e.agg(F.max("ts_us").cast("bigint").alias("gend"))
    x = (
        w.withColumn(
            "delay_s", F.explode(F.array(*[F.lit(s) for s in _Q280_DELAYS_S]))
        )
        .withColumn(
            "is_late",
            F.when(
                F.col("wm_us").isNotNull()
                & (F.col("ts_us") < F.col("wm_us") - F.col("delay_s") * us),
                1,
            ).otherwise(0),
        )
        .withColumn("wst", F.expr(f"ts_us div {_Q292_WIN_US}"))
    )
    late = x.groupBy("delay_s").agg(
        F.sum("is_late").cast("bigint").alias("n_dropped")
    )
    pw = (
        x.filter(F.col("is_late") == 0)
        .groupBy("delay_s", "wst")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("val_c").alias("sum_c"),
        )
        .crossJoin(F.broadcast(mx))
        .withColumn(
            "emitted",
            F.when(
                (F.col("wst") + 1) * _Q292_WIN_US
                <= F.col("gend") - F.col("delay_s") * us,
                1,
            ).otherwise(0),
        )
    )
    return (
        pw.groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows_total"),
            F.sum("emitted").cast("bigint").alias("n_windows_emitted"),
            (F.count(F.lit(1)) - F.sum("emitted"))
            .cast("bigint")
            .alias("n_windows_open"),
            F.sum("n_kept").cast("bigint").alias("n_events_kept"),
            F.sum(F.when(F.col("emitted") == 1, F.col("n_kept")).otherwise(0))
            .cast("bigint")
            .alias("n_events_in_emitted"),
            F.sum(F.when(F.col("emitted") == 0, F.col("n_kept")).otherwise(0))
            .cast("bigint")
            .alias("n_events_pending"),
            F.sum(F.when(F.col("emitted") == 1, F.col("sum_c")).otherwise(0))
            .cast("bigint")
            .alias("sum_emitted_cents"),
        )
        .join(late, "delay_s")
        .select(
            F.col("delay_s").cast("bigint").alias("delay_s"),
            "n_windows_total",
            "n_windows_emitted",
            "n_windows_open",
            "n_events_kept",
            "n_events_in_emitted",
            "n_events_pending",
            "sum_emitted_cents",
            F.col("n_dropped").alias("n_events_dropped_late"),
        )
    )


@_q(
    "q296_stateful_stream_state_recovery",
    f"""
    WITH src AS (
      SELECT range AS doc_id,
             (range % 1000003) * 2654435761 % 4294967296 AS mixed
      FROM range({_Q291_ROWS})
    )
    SELECT 'shard' || CAST(mixed % 4 AS VARCHAR) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(mixed % 4096) AS BIGINT) AS bucket_sum,
           CAST({_Q291_CRASH_BID} AS BIGINT) AS n_commits_run1,
           CAST({_Q291_N_BATCHES} AS BIGINT) AS n_commits_total,
           CAST(1 AS BIGINT) AS n_replayed_batches
    FROM src GROUP BY 1
    """,
)
def q296_stateful_stream_state_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE crash recovery — q291's missing half: q291 proves
    source-offset replay + idempotent-sink exactly-once for a
    STATELESS drain; this proves the AGGREGATION STATE survives the
    same crash. An update-mode streaming groupBy (per-shard count +
    bucket sum over the offset-replay synthetic_docs feed) runs
    through foreachBatch, which records each microbatch's UPDATED
    aggregate rows to a bid-keyed sink; the injected failure kills the
    query after batch {_Q291_CRASH_BID}'s rows are recorded but before
    its offset commits. On restart the engine must reload state-store
    version {_Q291_CRASH_BID} (the state as of the last committed
    batch) and replay — if state were lost, every count after the
    crash would restart from the replayed slice and the final
    aggregate could never equal the full-corpus oracle. The
    ValueError gates pin the ledger (run-1 commits, full drain, batch
    {_Q291_CRASH_BID} recorded twice) AND the cumulative-state proof:
    the replayed batch's per-shard counts must sum to
    {(_Q291_CRASH_BID + 1) * _Q291_BATCH} (ids 0..{(_Q291_CRASH_BID + 1) * _Q291_BATCH - 1}
    — state carried across the restart, not recounted from the
    replay). The result is the LAST update per shard (max-bid row,
    one distributed_rank-free max-join on 4 keys), hash-pinned to the
    range() oracle. Scale shape: state is |keys| rows; recovery cost
    is one state-store load + one batch replay, never the stream."""
    pydatasource.register(spark)
    base = _scratch_dir(spark, "q296", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    ck = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    marker = os.path.join(base, "crashed_once")
    calls: list[int] = []
    # State-partition sizing (optimization round, guide §2.2/§1.2): a
    # streaming aggregate's state store is partitioned by the query's
    # shuffle-partition count, FROZEN into the checkpoint at first run,
    # and every micro-batch commits every state partition — with the
    # session default (32 locally, thousands on a cluster) each of the
    # ~13 micro-batches here paid 32 state commits + 32-task stages to
    # maintain FOUR keys (the shard count). Sizing the stream's shuffle
    # partitions to the aggregate's key cardinality is the deliberate,
    # scale-independent choice (the right number tracks |keys|, never
    # the machine); measured 21.4 s -> 10.7 s warm at sf0.1. The stream
    # runs on its own session, so the caller's batch queries keep theirs.
    # A clone, not newSession(): it inherits the caller's registration of
    # the Python source, and Spark refuses to register that name on a
    # fresh session once any session has read from it.
    stream = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    stream.conf.set("spark.sql.shuffle.partitions", "4")  # == shards

    def _write_batch(bdf: DataFrame, bid: int) -> None:
        bdf.write.mode("overwrite").parquet(os.path.join(sink, f"bid={bid}"))
        calls.append(bid)
        _inject_crash_once(bid, marker, "q296")

    def _start():
        agg = (
            _q291_feed(stream)
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
                F.sum("bucket").cast("bigint").alias("bucket_sum"),
            )
        )
        return (
            agg.writeStream.outputMode("update")
            .foreachBatch(_write_batch)
            .option("checkpointLocation", ck)
            .start()
        )

    commits_run1, n_replayed = _crash_restart(_start, ck, "q296", calls)
    # cumulative-state proof: the REPLAYED batch's updated counts must
    # already include everything before the crash
    replay = spark.read.parquet(os.path.join(sink, f"bid={_Q291_CRASH_BID}"))
    got = replay.agg(F.sum("n_total")).collect()[0][0]
    want = (_Q291_CRASH_BID + 1) * _Q291_BATCH
    if got != want:
        raise ValueError(
            f"state lost across restart: replayed batch counts sum to "
            f"{got}, expected the cumulative {want}"
        )
    out = spark.read.parquet(sink)
    last = out.groupBy("shard").agg(F.max("bid").alias("bid"))
    return (
        out.join(last, ["shard", "bid"])
        .select(
            "shard",
            "n_total",
            "bucket_sum",
            F.lit(len(commits_run1)).cast("bigint").alias("n_commits_run1"),
            F.lit(_Q291_N_BATCHES).cast("bigint").alias("n_commits_total"),
            F.lit(n_replayed).cast("bigint").alias("n_replayed_batches"),
        )
    )


@_q(
    "q298_stream_dedup_ttl_replay",
    f"""
    WITH RECURSIVE e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             epoch_us(ts) + (event_id % 7) * 60000000 AS arr_us
      FROM events
    ),
    w AS (
      SELECT *, max(ts_us) OVER (ORDER BY arr_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS wm_us
      FROM e
    ),
    x AS (
      SELECT d.delay_s, w.*,
             CASE WHEN w.wm_us IS NOT NULL
                   AND w.ts_us < w.wm_us - d.delay_s * 1000000
                  THEN 1 ELSE 0 END AS is_late
      FROM w, (SELECT unnest([{", ".join(str(s) for s in _Q280_DELAYS_S)}])
               AS delay_s) d
    ),
    ot AS (
      SELECT *, row_number() OVER (PARTITION BY delay_s, user_id, event_type
                                   ORDER BY arr_us, event_id) AS rn
      FROM x WHERE is_late = 0
    ),
    rec AS (
      SELECT delay_s, user_id, event_type, rn, ts_us AS emit_ts,
             1 AS is_emit
      FROM ot WHERE rn = 1
      UNION ALL
      SELECT o.delay_s, o.user_id, o.event_type, o.rn,
             CASE WHEN o.wm_us - o.delay_s * 1000000
                       < r.emit_ts + o.delay_s * 1000000
                  THEN r.emit_ts ELSE o.ts_us END,
             CASE WHEN o.wm_us - o.delay_s * 1000000
                       < r.emit_ts + o.delay_s * 1000000
                  THEN 0 ELSE 1 END
      FROM rec r JOIN ot o
        ON o.delay_s = r.delay_s AND o.user_id = r.user_id
       AND o.event_type = r.event_type AND o.rn = r.rn + 1
    ),
    per_key AS (
      SELECT delay_s, user_id, event_type,
             COUNT(*) AS n_kept, SUM(is_emit) AS n_emit
      FROM rec GROUP BY 1, 2, 3
    ),
    late AS (
      SELECT delay_s, COUNT(*) AS n_total, SUM(is_late) AS n_late
      FROM x GROUP BY 1
    )
    SELECT CAST(pk.delay_s AS BIGINT) AS delay_s,
           CAST(MAX(late.n_total) AS BIGINT) AS n_events_total,
           CAST(MAX(late.n_late) AS BIGINT) AS n_dropped_late,
           CAST(SUM(pk.n_emit) AS BIGINT) AS n_emitted,
           CAST(SUM(pk.n_kept - pk.n_emit) AS BIGINT) AS n_dropped_dup,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN pk.n_emit > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_reemitted
    FROM per_key pk JOIN late USING (delay_s)
    GROUP BY 1
    """,
)
def q298_stream_dedup_ttl_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUP TTL replay — dropDuplicatesWithinWatermark's
    exact state rule replayed in batch, completing the timing family
    (q280 row drops, q285/q289 join emission, q292 window emission;
    dedup is the fourth stateful operator class): per (user_id,
    event_type) key, an on-time row is EMITTED iff the key's state has
    expired — Spark keeps a dedup entry until the watermark passes
    (emitted event time + delay), so with watermark = max_seen − delay
    the entry is alive iff wm − delay < emit_ts + delay. The chain is
    genuinely sequential per key (each emission resets the TTL window,
    so emission N depends on emission N−1 — not expressible as a
    window function), which makes this the one entry whose oracle is a
    RECURSIVE CTE (per-key stepwise recursion over arrival rank,
    depth = max rows per key, ~24 at sf0.01) and whose Spark side is
    ONE mapInPandas pass over (delay, key)-sorted partitions — group
    runs are contiguous after the hash repartition + local sort, so
    each task walks its whole partition in one Arrow exchange instead
    of one pandas object per tiny group (the applyInPandas form it
    replaces measured ~13 s of per-group overhead at sf0.1). Per
    delay the audit reports: rows dropped late (q280's rule), rows
    emitted, duplicates suppressed (conservation: late + emitted +
    dup == total), distinct keys, and keys emitted MORE THAN ONCE —
    the measured TTL false-negative census: dropDuplicates-forever
    semantics would emit each key once, the watermark-bounded state
    re-emits a key every time its TTL lapses, and that re-emission
    count is precisely the duplicate exposure a downstream consumer
    must tolerate for the state store to stay bounded. Scale shape:
    one distributed_rank pass shared by all delays, one co-partition
    shuffle on the (delay, key) hash, per-partition chain walk emitting
    <= |delays| partial rows per task, aggregates map-combined to 3
    rows; state in the real stream is |keys| rows — the bounded-memory
    contract this entry quantifies the price of."""
    ev = _t(spark, sf_dir, "events")
    us = 1_000_000
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") + (F.col("event_id") % 7) * 60_000_000).alias(
            "arr_us"
        ),
    )
    w = relational.distributed_rank(
        e,
        [F.col("arr_us").asc(), F.col("event_id").asc()],
        rank_col="_r",
        cummax_cols={"ts_us": "wm_us"},
    )
    x = w.withColumn(
        "delay_s", F.explode(F.array(*[F.lit(s) for s in _Q280_DELAYS_S]))
    ).withColumn(
        "is_late",
        F.when(
            F.col("wm_us").isNotNull()
            & (F.col("ts_us") < F.col("wm_us") - F.col("delay_s") * us),
            1,
        ).otherwise(0),
    )
    ot = x.filter(F.col("is_late") == 0).select(
        "delay_s", "user_id", "event_type", "ts_us", "arr_us", "event_id",
        "wm_us",
    )

    # Per-key TTL chains as ONE mapInPandas pass (optimization round,
    # guide §4.1): the original groupBy().applyInPandas shipped ~22k
    # (delay, user, event_type) groups of ~9 rows each through the
    # Python boundary as 22k separate pandas DataFrames — per-group
    # object construction dominated the query (measured 15.5 s -> the
    # chain stage was ~13 s of it at sf0.1). Same shuffle (hash on the
    # group key), same per-key sequential recursion, but each TASK now
    # receives its whole sorted partition as a few Arrow batches and
    # walks contiguous group runs in one loop, emitting per-delay
    # PARTIAL aggregates (<= |delays| rows per partition) instead of
    # one row per key — so the downstream delay rollup also shuffles
    # ~100 rows, not 22k. Group runs never interleave (partition is
    # sorted by the full group key) and state carries across Arrow
    # batch boundaries. Arithmetic per key is identical (same float64
    # wm handling pandas gave applyInPandas), so every output integer
    # is unchanged.
    def _chain_partition(batches) -> "pd.DataFrame":  # noqa: F821
        agg: dict[int, list[int]] = {}
        cur_key = None
        d_us = 0
        emit_ts = None
        n_kept = 0
        n_emit = 0

        def _flush() -> None:
            if cur_key is None:
                return
            a = agg.setdefault(int(cur_key[0]), [0, 0, 0, 0])
            a[0] += n_kept
            a[1] += n_emit
            a[2] += 1
            a[3] += 1 if n_emit > 1 else 0

        for pdf in batches:
            # NULL key components arrive as NaN, and NaN != NaN would
            # make every null-keyed row its own group (r15 ADVICE fix);
            # normalize to None ONCE per batch, vectorized — the .any()
            # probe costs ~nothing on the null-free common case.
            uids = pdf["user_id"]
            if uids.isna().any():
                uids = uids.astype(object).where(uids.notna(), None)
            etypes = pdf["event_type"]
            if etypes.isna().any():
                etypes = etypes.astype(object).where(etypes.notna(), None)
            for delay, uid, etype, ts, wm in zip(
                pdf["delay_s"],
                uids,
                etypes,
                pdf["ts_us"],
                pdf["wm_us"],
            ):
                key = (delay, uid, etype)
                if key != cur_key:
                    _flush()
                    cur_key = key
                    d_us = int(delay) * 1_000_000
                    emit_ts = None
                    n_kept = 0
                    n_emit = 0
                n_kept += 1
                alive = (
                    emit_ts is not None
                    and not pd.isna(wm)
                    and wm - d_us < emit_ts + d_us
                )
                if not alive:
                    emit_ts = ts
                    n_emit += 1
        _flush()
        yield pd.DataFrame(
            {
                "delay_s": pd.Series(list(agg.keys()), dtype="int64"),
                "n_kept": pd.Series([v[0] for v in agg.values()], dtype="int64"),
                "n_emit": pd.Series([v[1] for v in agg.values()], dtype="int64"),
                "n_keys": pd.Series([v[2] for v in agg.values()], dtype="int64"),
                "n_reemit": pd.Series([v[3] for v in agg.values()], dtype="int64"),
            }
        )

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pk = (
        ot.repartition(n_shuffle, "delay_s", "user_id", "event_type")
        .sortWithinPartitions(
            "delay_s", "user_id", "event_type", "arr_us", "event_id"
        )
        .select("delay_s", "user_id", "event_type", "ts_us", "wm_us")
        .mapInPandas(
            _chain_partition,
            "delay_s long, n_kept long, n_emit long, n_keys long, n_reemit long",
        )
    )
    late = x.groupBy("delay_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("is_late").cast("bigint").alias("n_late"),
    )
    return (
        pk.groupBy("delay_s")
        .agg(
            F.sum("n_emit").cast("bigint").alias("n_emitted"),
            F.sum(F.col("n_kept") - F.col("n_emit"))
            .cast("bigint")
            .alias("n_dropped_dup"),
            F.sum("n_keys").cast("bigint").alias("n_keys"),
            F.sum("n_reemit").cast("bigint").alias("n_keys_reemitted"),
        )
        .join(late, "delay_s")
        .select(
            F.col("delay_s").cast("bigint").alias("delay_s"),
            F.col("n_total").alias("n_events_total"),
            F.col("n_late").alias("n_dropped_late"),
            "n_emitted",
            "n_dropped_dup",
            "n_keys",
            "n_keys_reemitted",
        )
    )


@_q(
    "q299_exactly_once_merge_sink",
    f"""
    WITH src AS (
      SELECT range AS doc_id,
             (range % 1000003) * 2654435761 % 4294967296 AS mixed
      FROM range({_Q291_ROWS})
    )
    SELECT 'shard' || CAST(mixed % 4 AS VARCHAR) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(mixed % 4096) AS BIGINT) AS bucket_sum,
           CAST({_Q291_N_BATCHES} AS BIGINT) AS n_versions,
           CAST({_Q291_N_BATCHES} AS BIGINT)
             AS n_batches_applied,
           CAST(1 AS BIGINT) AS n_batches_skipped_replay,
           CAST({_Q291_CRASH_BID} AS BIGINT) AS n_commits_run1
    FROM src GROUP BY 1
    """,
)
def q299_exactly_once_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once TRANSACTIONAL MERGE sink — the third leg of the
    crash-recovery trio (q291: idempotent-by-overwrite file sink;
    q296: aggregation state store; here: a versioned TABLE sink where
    blind re-application would be visible as a phantom commit). Each
    microbatch MERGEs into a snapshot table (merge_upsert_snapshot —
    one left-anti join + atomic pointer flip, the q254/q281 layer) and
    then records its batch id in an idempotency LEDGER — the txn-
    version pattern Delta's idempotent writes use. The injected crash
    fires AFTER batch {_Q291_CRASH_BID}'s merge commit and ledger
    entry but BEFORE its offset commit — the worst spot: the work is
    durably done, the engine doesn't know. On restart the engine
    replays batch {_Q291_CRASH_BID}; the ledger guard must SKIP the
    re-merge, so the table ends at exactly
    {-(-_Q291_ROWS // _Q291_BATCH)} versions — a 13th version would
    mean the replay re-committed (content-identical here because
    upsert is key-idempotent, but a real incremental merge would
    double-apply; the version count is the proof the guard, not luck,
    provided exactly-once). ValueError gates pin the full ledger:
    run-1 crash message, {_Q291_CRASH_BID + 1} versions + ledger
    entries vs {_Q291_CRASH_BID} offset commits after the crash,
    exactly one skipped replay, final drain to
    {-(-_Q291_ROWS // _Q291_BATCH)} versions, and a 6000-row
    exactly-once table. The measured counters ride the result columns
    against the range() oracle. Scale shape: each merge is one
    distributed anti join + table write; recovery cost is one ledger
    lookup, not a rewrite. Reference anchor: the reference's
    `mdp-checkpoints` bucket intent (k8s/s3/03-s3-buckets.yaml:33-39)
    provisioned for exactly this pattern and never built it."""
    pydatasource.register(spark)
    base = _scratch_dir(spark, "q299", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    ck = os.path.join(base, "ckpt")
    tdir = os.path.join(base, "table")
    ledger = os.path.join(base, "ledger")
    marker = os.path.join(base, "crashed_once")
    os.makedirs(ledger, exist_ok=True)
    calls: list[int] = []
    skipped: list[int] = []

    def _apply_batch(bdf: DataFrame, bid: int) -> None:
        calls.append(bid)
        entry = os.path.join(ledger, str(bid))
        if os.path.exists(entry):
            skipped.append(bid)  # replay of durably-applied work
            return
        merge_upsert_snapshot(
            spark,
            bdf.select("doc_id", "bucket", "shard"),
            tdir,
            ["doc_id"],
        )
        with open(entry, "w"):
            pass
        _inject_crash_once(bid, marker, "q299")

    def _start():
        return (
            _q291_feed(spark)
            .writeStream.foreachBatch(_apply_batch)
            .option("checkpointLocation", ck)
            .start()
        )

    def _check_crash_spot() -> None:
        versions_mid = snapshot_versions(tdir)
        if len(versions_mid) != _Q291_CRASH_BID + 1:
            raise ValueError(
                f"crash spot wrong: {len(versions_mid)} versions committed, "
                f"expected {_Q291_CRASH_BID + 1} (work done, offset not)"
            )

    commits_run1, _ = _crash_restart(_start, ck, "q299", calls, _check_crash_spot)
    versions = snapshot_versions(tdir)
    if len(versions) != _Q291_N_BATCHES:
        raise ValueError(
            f"phantom commit: {len(versions)} versions for {_Q291_N_BATCHES} "
            f"batches — the replay guard failed"
        )
    if skipped != [_Q291_CRASH_BID]:  # the replay was skipped, not re-merged
        raise ValueError(
            f"replay ledger wrong: skipped={skipped}, calls={sorted(calls)}"
        )
    applied = _log_entries(base, "ledger")
    if applied != list(range(_Q291_N_BATCHES)):
        raise ValueError(f"ledger incomplete: {applied}")
    out = read_snapshot(spark, tdir)
    n_rows, n_ids = out.count(), out.select("doc_id").distinct().count()
    if n_rows != _Q291_ROWS or n_ids != _Q291_ROWS:
        raise ValueError(f"table not exactly-once: {n_rows} rows, {n_ids} ids")
    return out.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bucket").cast("bigint").alias("bucket_sum"),
        F.lit(len(versions)).cast("bigint").alias("n_versions"),
        F.lit(len(applied)).cast("bigint").alias("n_batches_applied"),
        F.lit(len(skipped)).cast("bigint").alias("n_batches_skipped_replay"),
        F.lit(len(commits_run1)).cast("bigint").alias("n_commits_run1"),
    )
