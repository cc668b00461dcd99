"""Structured Streaming slice (SURVEY.md §2b X14-X15).

The reference provisions an ``mdp-checkpoints`` bucket it never uses
(k8s/s3/03-s3-buckets.yaml:33-39) — the unrealized streaming intention.
Realized here: file-source streams over the events schema, checkpointed
sinks, stateful and dedup/join operators and incremental gold refresh.

Window aggregates have no stream-only body: a watermarked stream window is
the batch operator over a watermarked stream, so it drains to exactly what
the registered entry (q20, q22) returns on the same rows —

    sliding_window_agg(events.withWatermark("ts", wm), size=s, slide=s)
    session_window_agg(events.withWatermark("ts", wm))

(operators.timeseries; F.window(ts, s, s) assigns the same windows as
F.window(ts, s)). Every sink drains through ``_drain`` with
trigger(availableNow=True); production swaps source/sink URIs — the plan is
identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
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


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` on ``checkpoint_dir`` and block until it has drained
    all input available at start (trigger availableNow)."""
    writer.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()


def run_to_memory(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str
) -> None:
    """Drain all available input into the in-memory table ``query_name``
    (tests/demo): ``complete`` for window aggregates, ``update`` for the
    stateful operators."""
    _drain(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        checkpoint_dir,
    )


def run_append_to_parquet(
    stream_df: DataFrame, out_path: str, checkpoint_dir: str
) -> None:
    """Watermark-append sink to parquet — the production shape (replaces
    the reference's never-used checkpoint bucket intent)."""
    _drain(
        stream_df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_path),
        checkpoint_dir,
    )


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
        # in state so each emitted row reports the user's last activity
        # time, not the batch-local max.
        StructField("last_us", LongType()),
    ]
)


def _running_totals_fn(key, pdf_iter, state):
    """Per-user accumulator: state carries (count, value-sum, last-event
    micros) across microbatches; emits one updated row per user per
    batch, its sum rounded to 6 places as it is stored."""
    import pandas as pd

    n, total, last_us = state.get if state.exists else (0, 0.0, None)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = pdf["ts"].max()
        if mx is not None and not pd.isna(mx):
            mx_us = mx.value // 1000
            if last_us is None or mx_us > last_us:
                last_us = mx_us
    total = round(total, 6)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_ts": [None if last_us is None else pd.Timestamp(last_us * 1000)],
        }
    )


def stateful_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator (X15) via applyInPandasWithState: exact
    running (count, sum) per user — the shape Spark's built-in windowed
    aggs can't express (unbounded per-key accumulation with a custom
    emit/expiry policy).

    State is partitioned by user_id — the same shuffle key as the
    groupBy, so each executor holds only its keys' state; at 100 TB the
    state store scales horizontally with executors (RocksDB state store
    in production). State never times out: an armed processing-time
    timeout schedules empty timeout-check batches forever, so an
    availableNow drain would never terminate."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup (the streaming face of operators.dedup X17):
    dropDuplicatesWithinWatermark keeps one row per event_id among duplicates
    whose event times fall within the watermark horizon, so state is
    bounded — the unbounded-state dropDuplicates() footgun doesn't apply.
    At 100 TB/day this is the ingest-time guard that keeps exact dupes
    out of bronze before the heavier batch MinHash pass runs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
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

    _drain(stream_df.writeStream.foreachBatch(write_batch), checkpoint_dir)
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

    A null interaction_date is one more key, as in batch build_gold's
    null group: date membership is null-safe (sources.io.key_in).

    Six Spark jobs per non-empty batch: the append (1), the distinct-dates
    collect (2) and the gold write (3). Neither the store nor gold is
    schema-inferred — both are read with the batch's and gold's known
    schemas (sources.io.read_parquet_as) — and gold rows are replaced by
    date, not by a join that would evaluate build_gold twice. Pinned by
    tests/test_streaming.py::test_incremental_gold_refresh_jobs_per_batch.

    At 100 TB: silver_store/gold become Delta tables (transactional
    append + MERGE), the per-date recompute is partition-pruned to the
    affected identity partitions, and the affected-date collect stays
    model-scale (dates per batch, not rows). This local form reuses the
    parquet fallbacks (single writer — see merge_upsert_parquet)."""
    from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
    from spark_lakehouse_medallion_pipeline_spark.sources.io import (
        key_in,
        merge_upsert_parquet,
        read_parquet_as,
    )

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.write.mode("append").parquet(silver_store)
        dates = [r[0] for r in batch_df.select("interaction_date").distinct().collect()]
        if not dates:
            return
        affected = read_parquet_as(spark, silver_store, batch_df.schema).filter(
            key_in(F.col("interaction_date"), dates)
        )
        merge_upsert_parquet(spark, build_gold(affected), gold_path, "interaction_date", dates)

    _drain(silver_stream.writeStream.foreachBatch(refresh), checkpoint_dir)


def streaming_near_dup_ingest(
    docs_stream: DataFrame,
    out_dir: str,
    sig_store: str,
    checkpoint_dir: str,
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

    LSH uses operators.dedup's 64-hash, 16-band defaults throughout.

    Scale: the store carries (_id, _sig) only (64 longs per
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
        pairs = _dd.minhash_lsh_candidates(batch_df)
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
            survivors = _dd.incremental_near_dup_filter(survivors, existing)
        # (3) accept: docs to the corpus, signatures to the store —
        # overwrite of a batch_id-scoped subdir, so a retried batch is
        # a no-op rewrite rather than a duplicate append. Readers see
        # the subdirs as a `batch` partition column.
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")
        _dd.minhash_signatures(survivors).write.mode("overwrite").parquet(
            f"{sig_store}/batch={batch_id}"
        )

    _drain(docs_stream.writeStream.foreachBatch(ingest), checkpoint_dir)
