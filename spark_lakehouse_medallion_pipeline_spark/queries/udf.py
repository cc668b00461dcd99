"""Python execution surfaces: pandas and Arrow UDFs, cogroups, Python UDTFs and
the Python data source."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from spark_lakehouse_medallion_pipeline_spark.operators import similarity
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    S_FLOOR,
    _q,
    _t,
    sum_cents,
)
from spark_lakehouse_medallion_pipeline_spark.sources import pydatasource


@_q(
    "q40_zscore_by_type",
    f"""
    SELECT event_id,
           {S_FLOOR("(value - AVG(value) OVER (PARTITION BY event_type)) / stddev_samp(value) OVER (PARTITION BY event_type)", 4)} AS zscore
    FROM events
    """,
)
def q40_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDF surface (X16): per-group z-score via applyInPandas
    (Arrow-batched). The oracle computes the same thing with window
    functions — numeric parity (to 4dp) proves the Arrow path is
    lossless."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=1)
        z = (pdf["value"] - pdf["value"].mean()) / std
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "zscore": np.floor(z * 10000.0 + 0.5) / 10000.0,
            }
        )

    return ev.groupBy("event_type").applyInPandas(zscore, schema="event_id long, zscore double")


@_q(
    "q65_udtf_tokenize",
    r"""
    SELECT doc_id, u.idx, u.word FROM (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
               (t, i) -> {'idx': i - 1, 'word': t})) AS u
      FROM documents WHERE doc_id < 50
    )
    """,
)
def q65_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, X16): one input row -> N output rows through
    the table-function protocol. UDTFs are the row-at-a-time slow path —
    this runs on a capped slice; the set-based equivalent is q59's
    explode(split()). Output (doc_id, idx, word) matches a pure-SQL
    oracle, proving the protocol is lossless."""
    @udtf(returnType="idx int, word string")
    class Tokenize:
        def eval(self, text: str):  # noqa: ANN001
            for i, w in enumerate((text or "").split()):
                yield i, w

    spark.udtf.register("udtf_tokenize", Tokenize)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return spark.sql(
        "SELECT doc_id, t.idx, t.word FROM {docs}, LATERAL udtf_tokenize(text) t",
        docs=docs,
    )


@_q(
    "q117_arrow_normalize",
    """
    WITH n AS (
      SELECT vec_id, len(embedding) AS dim,
             sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             embedding
      FROM embeddings
    )
    SELECT vec_id, CAST(dim AS BIGINT) AS dim,
           CAST(FLOOR(nrm*1000000 + 0.5) AS BIGINT) AS norm_e6,
           array_to_string(list_transform(embedding,
               x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE)/nrm*1000000 + 0.5) AS BIGINT) AS VARCHAR)),
               ',') AS packed
    FROM n
    """,
)
def q117_arrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native batch transform (X16/X21 extension): L2-normalize
    every embedding via ``mapInArrow`` — RecordBatches in, numpy math,
    RecordBatches out, no pandas layer. The oracle recomputes the same
    normalization in SQL; outputs are integer-scaled (1e-6 grid) so the
    string comparison is engine-portable. See
    operators.similarity.l2_normalize_arrow for the summation-order
    note (cumsum == the oracle's sequential list_sum fold)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.l2_normalize_arrow(emb)


@_q(
    "q118_group_ols",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2023-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), centered AS (
      SELECT event_type, d - MIN(d) OVER (PARTITION BY event_type) AS x, y
      FROM daily
    ), s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx
      FROM centered GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / n AS intercept_cents
    FROM s
    WHERE n*sxx - sx*sx <> 0
    """,
)
def q118_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fit (X16 extension): closed-form OLS trend of
    daily revenue per event type, fitted inside ``applyInPandas`` — the
    grouped-model pattern (one model per key) that per-entity
    forecasting/feature pipelines use. All moment sums are EXACT int64
    (cents x day-index), so the final slope/intercept doubles come from
    identical integer inputs on both engines — bit-stable without any
    rounding idiom. The daily pre-aggregate runs JVM-side first, so the
    pandas stage sees ~30 rows per group, not raw events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2023-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(sum_cents(F.col("value")).alias("y"))

    def ols(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["d"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        x = d - d.min()
        n = len(x)
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx = int((x * y).sum()), int((x * x).sum())
        denom = n * sxx - sx * sx
        if denom == 0:
            return pd.DataFrame(
                columns=["event_type", "n_days", "slope_cents_per_day", "intercept_cents"]
            )
        slope = float(n * sxy - sx * sy) / float(denom)
        intercept = (float(sy) - slope * float(sx)) / n
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "slope_cents_per_day": [slope],
                "intercept_cents": [intercept],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        ols,
        schema="event_type string, n_days long, slope_cents_per_day double, intercept_cents double",
    )


@_q(
    "q124_python_datasource",
    """
    WITH src AS (
      SELECT range AS doc_id,
             (range % 1000003) * 2654435761 % 4294967296 AS mixed
      FROM range(5000)
    )
    SELECT 'shard' || CAST(mixed % 4 AS VARCHAR) AS shard,
           COUNT(*) AS n,
           CAST(SUM(mixed % 4096) AS BIGINT) AS bucket_sum,
           MIN(CAST(mixed AS DOUBLE) / 4294967296.0) AS min_u,
           MAX(CAST(mixed AS DOUBLE) / 4294967296.0) AS max_u
    FROM src GROUP BY 1
    """,
)
def q124_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4; S-family
    extension): read 5000 rows from the registered ``synthetic_docs``
    source across 8 executor-side partitions and aggregate per shard.
    Every value is a pure function of the row id (Knuth mix), so DuckDB
    recomputes the identical rows from range(5000) — a value-for-value
    oracle over a CUSTOM SOURCE, proving the connector's partition
    slicing loses/duplicates nothing. See sources/pydatasource.py."""
    pydatasource.register(spark)
    src = (
        spark.read.format("synthetic_docs")
        .option("rows", "5000")
        .option("partitions", "8")
        .option("shards", "4")
        .load()
    )
    return src.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bucket").alias("bucket_sum"),
        F.min("u").alias("min_u"),
        F.max("u").alias("max_u"),
    )


@_q(
    "q125_cogroup_asof",
    """
    SELECT l.event_id, l.user_id, r.value AS asof_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q125_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas surface (X16): the SAME as-of semantics as q24,
    but via ``groupBy().cogroup().applyInPandas`` + pandas merge_asof —
    the two-sided grouped-map API (per-key pairs of Arrow batches),
    which custom join/alignment logic uses when the composition route
    (q24's union + carry-forward window) can't express it. Same oracle
    as q24: both routes must produce identical rows. Scale shape: one
    co-partitioning shuffle on the key; each user's slice is tiny."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")

    def asof(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"),
                 "user_id": pd.Series(dtype="int64"),
                 "asof_click_value": pd.Series(dtype="float64")}
            )
        left = left.sort_values("ts")
        if right.empty:
            out = left[["event_id", "user_id"]].copy()
            out["asof_click_value"] = float("nan")
            return out
        merged = pd.merge_asof(
            left,
            right.sort_values("ts")[["ts", "value"]],
            on="ts",
            direction="backward",
        )
        return pd.DataFrame(
            {
                "event_id": merged["event_id"],
                "user_id": merged["user_id"],
                "asof_click_value": merged["value"],
            }
        )

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            asof, schema="event_id long, user_id long, asof_click_value double"
        )
    )
