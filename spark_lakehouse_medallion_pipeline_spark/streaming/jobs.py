"""Structured Streaming slice (SURVEY.md §2b X14-X15).

The reference provisions an ``mdp-checkpoints`` bucket it never uses
(k8s/s3/03-s3-buckets.yaml:33-39) — the unrealized streaming intention.
Realized here: file-source streams over the events schema, watermarked
tumbling/session window aggregates, checkpointed sinks. The aggregation
bodies are shared with operators.timeseries so batch results (oracle-
checked) and streaming results coincide on bounded input.

Tests drive these with trigger(availableNow=True) against the parquet
corpus; production swaps source/sink URIs — the plan is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events table (one file per microbatch
    cap keeps local tests deterministic)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def windowed_counts_stream(
    events: DataFrame, watermark: str = "1 hour", size: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregate: late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_stream(
    events: DataFrame, watermark: str = "1 hour", gap: str = "30 minutes"
) -> DataFrame:
    """Watermarked session-window aggregate (F.session_window) — the
    streaming realization of operators.relational.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(stream_df: DataFrame, query_name: str, checkpoint_dir: str) -> None:
    """Drain all available input into an in-memory table (tests/demo)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_append_to_parquet(
    stream_df: DataFrame, out_path: str, checkpoint_dir: str
) -> None:
    """Watermark-append sink to parquet — the production shape (replaces
    the reference's never-used checkpoint bucket intent)."""
    q = (
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        # epoch micros of the latest event seen across ALL batches — kept
        # in state so a timeout emission still reports the user's last
        # activity time (a batch-local max would be lost at expiry).
        StructField("last_us", LongType()),
    ]
)


def _ts_from_us(us):
    import pandas as pd

    return None if us is None else pd.Timestamp(us * 1000)


def _fold_totals(acc, pdf_iter) -> tuple:
    """Fold a key's input batches into its (count, value-sum, last-event
    micros) accumulator; the sum comes back rounded to 6 places, as it
    is stored and emitted."""
    import pandas as pd

    n, total, last_us = acc
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = pdf["ts"].max()
        if mx is not None and not pd.isna(mx):
            mx_us = mx.value // 1000
            if last_us is None or mx_us > last_us:
                last_us = mx_us
    return n, round(total, 6), last_us


def _totals_row(user_id, n, total, last_us):
    """One RUNNING_TOTALS_SCHEMA output row."""
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [_ts_from_us(last_us)],
        }
    )


def _running_totals_fn(key, pdf_iter, state):
    """Per-user accumulator: state carries (count, value-sum, last-event
    micros) across microbatches; emits one updated row per user per
    batch. Timed-out state emits its final row and clears."""
    if state.hasTimedOut:
        acc = state.get
        state.remove()
    else:
        acc = _fold_totals(state.get if state.exists else (0, 0.0, None), pdf_iter)
        state.update(acc)
    yield _totals_row(key[0], *acc)


def stateful_running_totals_stream(events: DataFrame, expire_state: bool = False) -> DataFrame:
    """Custom stateful operator (X15) via applyInPandasWithState: exact
    running (count, sum) per user — the shape Spark's built-in windowed
    aggs can't express (unbounded per-key accumulation with a custom
    emit/expiry policy).

    State is partitioned by user_id — the same shuffle key as the
    groupBy, so each executor holds only its keys' state; at 100 TB the
    state store scales horizontally with executors (RocksDB state store
    in production). ``expire_state`` arms a processing-time timeout for
    long-running production streams; leave off for availableNow drains —
    an armed timeout schedules empty timeout-check batches forever, so
    the drain never terminates."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if expire_state
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_update_to_memory(stream_df: DataFrame, query_name: str, checkpoint_dir: str) -> None:
    """Drain all available input in update mode (for stateful operators)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(
    events: DataFrame, watermark: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact-dedup (the streaming face of operators.dedup X17):
    dropDuplicatesWithinWatermark keeps one row per key among duplicates
    whose event times fall within the watermark horizon, so state is
    bounded — the unbounded-state dropDuplicates() footgun doesn't apply.
    At 100 TB/day this is the ingest-time guard that keeps exact dupes
    out of bronze before the heavier batch MinHash pass runs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon_minutes: int = 30,
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to a
    preceding click by the same user within ``horizon_minutes``. Both
    sides are watermarked and the join condition carries the time bound,
    so each side's buffered state expires — the streaming form of the
    batch interval join (q48).

    Returns (user_id, click_ts, purchase_ts, purchase_value)."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {int(horizon_minutes)} MINUTES")
        )
    )
    return c.join(p, cond, "inner").select(
        F.col("c_user").alias("user_id"), "click_ts", "purchase_ts", "purchase_value"
    )


def run_foreach_batch_to_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> list[int]:
    """foreachBatch sink: per-microbatch custom write (the escape hatch
    for sinks/logic Structured Streaming lacks natively — merge/upsert,
    multi-table fanout). Here each batch appends to parquet and the
    batch ids are recorded; availableNow drains the bounded source."""
    batch_ids: list[int] = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_ids.append(batch_id)
        batch_df.write.mode("append").parquet(out_dir)

    (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return batch_ids


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark) -> None:
    """Switch stateful streaming to the RocksDB state store (bundled with
    Spark since 3.2). The default HDFS-backed provider keeps every key in
    executor heap — fine for demo state, a JVM-GC incident at 100 TB-scale
    keyspaces (per-user sessions over hundreds of millions of users).
    RocksDB spills state to local disk with incremental checkpointing;
    set BEFORE the streaming query starts (provider is fixed at start)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)


try:
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor as _SP
except ImportError:  # pragma: no cover - Spark < 4.0
    _SP = object


class _RunningTotalsProcessor(_SP):
    """StatefulProcessor for transformWithStateInPandas — the Spark 4
    successor to applyInPandasWithState (typed state handles, per-state
    TTL, timers). Same semantics as _running_totals_fn: per-user running
    (count, value-sum, last-ts), one updated row per user per batch.
    Module-level class on purpose: the processor is pickled to the
    stateful worker, and dynamically-built classes don't survive that."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("totals", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        acc = tuple(self._state.get()) if self._state.exists() else (0, 0.0, None)
        acc = _fold_totals(acc, rows)
        self._state.update(acc)
        yield _totals_row(key[0], *acc)

    def close(self) -> None:
        pass


def running_totals_tws_stream(events: DataFrame) -> DataFrame:
    """stateful_running_totals_stream re-expressed on the Spark 4
    transformWithStateInPandas API (X15): identical output contract,
    but state lives in named typed handles (getValueState) with optional
    TTL — the API Spark is standardizing stateful Python streaming on.
    Same scale shape: state is sharded by the groupBy key across
    executors' state stores."""
    if _SP is object:  # pragma: no cover - Spark < 4.0
        raise NotImplementedError("transformWithStateInPandas requires Spark >= 4.0")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotalsProcessor(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def incremental_gold_refresh(
    silver_stream: DataFrame,
    silver_store: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """Incremental gold maintenance (the streaming-native alternative to
    the reference's wholesale gold recompute, CM:366-411): each silver
    microbatch appends to the silver store, then ONLY the
    interaction_dates present in the batch are re-aggregated from the
    store and upserted into gold — partition-level incremental view
    maintenance. Exact (not sketch-approximate): gold KPIs include
    countDistinct, which partial aggregates can't merge, so affected
    partitions recompute from their full silver slice — bounded by the
    dates a batch touches, not the corpus.

    At 100 TB: silver_store/gold become Delta tables (transactional
    append + MERGE), the per-date recompute is partition-pruned to the
    affected identity partitions, and the affected-date collect stays
    model-scale (dates per batch, not rows). This local form reuses the
    parquet fallbacks (single writer — see merge_upsert_parquet)."""
    from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
    from spark_lakehouse_medallion_pipeline_spark.sources.io import (
        merge_upsert_parquet,
    )

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.write.mode("append").parquet(silver_store)
        dates = [r[0] for r in batch_df.select("interaction_date").distinct().collect()]
        if not dates:
            return
        affected = spark.read.parquet(silver_store).filter(
            F.col("interaction_date").isin(dates)
        )
        merge_upsert_parquet(
            spark, build_gold(affected), gold_path, ["interaction_date"]
        )

    q = (
        silver_stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_near_dup_ingest(
    docs_stream: DataFrame,
    out_dir: str,
    sig_store: str,
    checkpoint_dir: str,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Streaming corpus ingest with cross-batch near-dup filtering — the
    X15 x X18 integration a continuously-fed training corpus needs:
    every micro-batch is (1) self-deduped (for each LSH candidate pair
    id_a < id_b within the batch, the higher id drops — deterministic
    keep-first; transitive chains resolve over the pair set, documented
    approximation of full clustering), then (2) probed with a LEFT ANTI
    band-bucket join against the PERSISTED signature store built from
    every previously-accepted document (operators.dedup.
    incremental_near_dup_filter), and (3) survivors land in the corpus
    while their signatures land in the store — so batch N+1 sees batch
    N's accepted docs without ever re-signing the corpus. Both writes
    go to batch_id-scoped subdirectories with overwrite mode, making
    the foreachBatch body IDEMPOTENT: a micro-batch retried after a
    partial failure rewrites the same subdirs instead of appending
    duplicates (plain mode-append here would violate the pipeline's own
    dedup invariant on retry — foreachBatch offers at-least-once
    delivery, so the sink must dedup by batch_id). The store probe
    excludes the current batch's own batch=<id> partition for the same
    reason: a retry whose signature write landed before the checkpoint
    committed must not anti-join survivors against their own
    signatures (which would rewrite the batch's subdirs empty —
    permanent data loss). Pinned by
    tests/test_streaming.py::test_streaming_near_dup_ingest_retry_idempotent.

    Scale: the store carries (_id, _sig) only (num_hashes longs per
    accepted doc); the probe is one hash join on well-spread band
    buckets; nothing in the loop is O(corpus). First batch against an
    empty store skips the probe (parquet dir does not exist yet).
    availableNow semantics: a bounded backlog drains to the same result
    as sequential batch application — pinned by
    tests/test_streaming.py::test_streaming_near_dup_ingest_matches_sequential.
    """
    from spark_lakehouse_medallion_pipeline_spark.operators import dedup as _dd

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # (1) within-batch: drop the higher id of every candidate pair
        pairs = _dd.minhash_lsh_candidates(
            batch_df, num_hashes=num_hashes, bands=bands
        )
        survivors = batch_df.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        # (2) cross-batch: probe the persisted signature store.
        # AnalysisException == path-not-found (first batch, empty store);
        # anything else (corrupt store, permission loss) must FAIL the
        # batch — swallowing it would silently re-accept duplicates.
        # CRITICAL retry guard: exclude the CURRENT batch's own
        # batch=<id> partition from the probe. foreachBatch is
        # at-least-once — a batch retried after its signature write
        # succeeded but before the checkpoint committed would otherwise
        # anti-join every survivor against its own signature and rewrite
        # both subdirs EMPTY, permanently dropping the batch.
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(sig_store)
            has_store = True
        except AnalysisException:
            has_store = False
        if has_store:
            # outside the try: a store written by this function ALWAYS
            # has the batch partition column, so a resolution failure
            # here should fail the batch, not read as "no store"
            existing = existing.filter(F.col("batch") != batch_id)
            survivors = _dd.incremental_near_dup_filter(
                survivors, existing, num_hashes=num_hashes, bands=bands
            )
        # (3) accept: docs to the corpus, signatures to the store —
        # overwrite of a batch_id-scoped subdir, so a retried batch is
        # a no-op rewrite rather than a duplicate append. Readers see
        # the subdirs as a `batch` partition column.
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        _dd.minhash_signatures(survivors, num_hashes=num_hashes).write.mode(
            "overwrite"
        ).parquet(f"{sig_store}/batch={batch_id}")

    (
        docs_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
