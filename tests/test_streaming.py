"""Structured Streaming slice (X14-X15): availableNow drains must agree
with the batch forms on bounded input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import timeseries
from spark_lakehouse_medallion_pipeline_spark.streaming import jobs


def _events_stream_dir(spark, events, tmp_path):
    """Re-write the events corpus (micros ``ts``, read through
    ``read_events``, which also accepts nanos) as plain TIMESTAMP parquet
    in the schema the streaming reader declares."""
    path = str(tmp_path / "events_stream")
    events.select("event_id", "ts", "user_id", "event_type", "value", "props").coalesce(
        2
    ).write.mode("overwrite").parquet(path)
    return path


def _tumbling_stream(events, watermark):
    """The watermarked stream form of a 1-hour tumbling window: the batch
    sliding-window body with slide == size (a streaming aggregate cannot
    count distinct users, so tumbling_window_agg's n_users is left out)."""
    return timeseries.sliding_window_agg(
        events.withWatermark("ts", watermark), size="1 hour", slide="1 hour"
    )


def test_windowed_stream_matches_batch(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    assert stream.isStreaming
    out = _tumbling_stream(stream, "100 days")
    jobs.run_to_memory(out, "win_counts", str(tmp_path / "ckpt1"), "complete")
    got = sorted(
        map(tuple, spark.table("win_counts").collect())
    )
    want = sorted(
        map(
            tuple,
            timeseries.tumbling_window_agg(events, size="1 hour")
            .select("window_start", "n_events", "total_value")
            .collect(),
        )
    )
    assert got == want


def test_session_stream_matches_batch(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = timeseries.session_window_agg(stream.withWatermark("ts", "100 days"))
    jobs.run_to_memory(out, "sess_counts", str(tmp_path / "ckpt2"), "complete")
    got = spark.table("sess_counts")
    want = timeseries.session_window_agg(events, "user_id", "ts", "30 minutes")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select("user_id", "session_start", "n_events", "session_value").collect())
    )


def test_append_sink_writes_closed_windows(spark, events, tmp_path):
    """Append mode emits only watermark-closed windows; with a tiny
    watermark all-but-the-last should flush on the second drain."""
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = _tumbling_stream(stream, "1 minute")
    sink = str(tmp_path / "sink")
    jobs.run_append_to_parquet(out, sink, str(tmp_path / "ckpt3"))
    written = spark.read.parquet(sink)
    n_batch_windows = timeseries.tumbling_window_agg(events, size="1 hour").count()
    assert written.count() >= n_batch_windows - 2


def test_stateful_running_totals(spark, events, tmp_path):
    """applyInPandasWithState running totals: after draining all input,
    each user's latest update row must equal the batch groupBy."""
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = jobs.stateful_running_totals_stream(stream)
    jobs.run_to_memory(out, "running_totals", str(tmp_path / "ckpt_state"), "update")
    # update mode emits one row per user per microbatch; keep the last.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("running_totals")
        .withColumn("_rn", F.monotonically_increasing_id())
        .orderBy("_rn")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["total"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(want)
    mismatches = {
        u: (got[u], want[u])
        for u in want
        if got[u][0] != want[u][0] or abs(got[u][1] - want[u][1]) > 1e-4
    }
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_dedup_stream_drops_watermark_window_dupes(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    # Double every file so each event_id appears twice in the source.
    import glob, shutil
    for i, f in enumerate(sorted(glob.glob(f"{path}/part-*.parquet"))):
        shutil.copy(f, f"{path}/dup-{i}.parquet")
    stream = jobs.read_events_stream(spark, path)
    out = jobs.dedup_stream(stream, watermark="100 days")
    jobs.run_append_to_parquet(out, str(tmp_path / "dedup_out"), str(tmp_path / "ckpt_dd"))
    got = spark.read.parquet(str(tmp_path / "dedup_out"))
    n_ids = events.select("event_id").distinct().count()
    assert got.count() == n_ids
    assert got.select("event_id").distinct().count() == n_ids


def test_stream_stream_join_matches_batch_interval_join(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    clicks = jobs.read_events_stream(spark, path).filter(F.col("event_type") == "click")
    purchases = jobs.read_events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    out = jobs.stream_stream_join(clicks, purchases, watermark="100 days", horizon_minutes=30)
    jobs.run_append_to_parquet(out, str(tmp_path / "ssj_out"), str(tmp_path / "ckpt_ssj"))
    got = spark.read.parquet(str(tmp_path / "ssj_out"))

    bc = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    bp = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = bc.join(
        bp,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(F.col("c_user").alias("user_id"), "click_ts", "purchase_ts", "purchase_value")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_foreach_batch_sink_appends_all_rows(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    ids = jobs.run_foreach_batch_to_parquet(
        stream, str(tmp_path / "fb_out"), str(tmp_path / "ckpt_fb")
    )
    assert len(ids) >= 1
    got = spark.read.parquet(str(tmp_path / "fb_out"))
    assert got.count() == events.count()


def test_stateful_query_on_rocksdb_state_store(spark, events, tmp_path):
    """The stateful running-totals job produces identical results on the
    RocksDB state store (the at-scale provider) as on the default
    heap-backed one."""
    from spark_lakehouse_medallion_pipeline_spark.streaming import jobs

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    jobs.use_rocksdb_state_store(spark)
    try:
        events.limit(500).write.parquet(str(tmp_path / "in"))
        stream = jobs.read_events_stream(spark, str(tmp_path / "in"))
        totals = jobs.stateful_running_totals_stream(stream)
        jobs.run_to_memory(totals, "rocksdb_totals", str(tmp_path / "ckpt"), "update")
        got = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 2))
            for r in spark.sql("SELECT * FROM rocksdb_totals").collect()
        }
        batch = (
            events.limit(500)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        )
        want = {r["user_id"]: (r["n"], r["v"]) for r in batch.collect()}
        assert set(got) == set(want)
        for u in want:
            assert got[u][0] == want[u][0]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_windowed_stream_matches_registered_q20(spark, events, sf_dir, tmp_path):
    """Pin the streaming tumbling job to the REGISTERED q20 battery entry
    (not just the shared timeseries body): same windows, same counts,
    the same exact-cents totals bit for bit."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = _tumbling_stream(stream, "100 days")
    jobs.run_to_memory(out, "win_vs_q20", str(tmp_path / "ck_q20"), "complete")
    got = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.table("win_vs_q20").collect()
    }
    want = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in QUERIES["q20_hourly_tumbling"](spark, sf_dir).collect()
    }
    assert got == want


def test_session_stream_matches_registered_q22(spark, events, sf_dir, tmp_path):
    """Pin the streaming session job to the registered q22 entry: the
    native session_window semantics must agree between the availableNow
    stream and the batch query the driver hashes."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = timeseries.session_window_agg(stream.withWatermark("ts", "100 days"))
    jobs.run_to_memory(out, "sess_vs_q22", str(tmp_path / "ck_q22"), "complete")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in spark.table("sess_vs_q22").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in QUERIES["q22_session_window_native"](spark, sf_dir).collect()
    }
    assert got == want


# Two files drained in order. The second holds late rows, older than the
# first file's newest event but inside the 3-hour watermark; one of them
# (user 2 at 12:25) bridges two sessions the first batch left apart.
_ADVERSARIAL_FILES = [
    [
        (1, "2024-03-01 10:00:00", 1, 0.1),
        (2, "2024-03-01 10:00:00", 1, 0.2),  # duplicate timestamp, same user
        (3, "2024-03-01 10:00:00", 3, 2.675),  # same timestamp, other user
        (4, "2024-03-01 10:59:59.999999", 1, 0.7),  # last micro of a window
        (5, "2024-03-01 11:00:00", 1, 1000000.01),  # exactly on a boundary
        (6, "2024-03-01 11:00:00", 3, None),  # null value
        (7, "2024-03-01 12:00:00", 2, -0.05),
        (8, "2024-03-01 12:50:00", 2, 0.15),
        (9, "2024-03-01 13:00:00", 3, 0.3),
    ],
    [
        (10, "2024-03-01 10:15:00", 1, 0.1),  # late, inside user 1's session
        (11, "2024-03-01 11:00:00", 1, 0.01),  # late, on the boundary again
        (12, "2024-03-01 12:25:00", 2, 0.35),  # late, bridges 12:00 and 12:50
        (13, "2024-03-01 12:00:00", 3, None),  # late null value
        # off the cent grid: 1.005*100 is 100.49999999999999, so exact cents
        # give 1.0 where round(sum(value), 2) gives 1.01
        (14, "2024-03-01 14:00:00", 4, 1.005),
    ],
]


def test_stream_forms_equal_batch_bodies_on_adversarial_input(spark, tmp_path):
    """Both stream forms drain to exactly the batch bodies' rows (==, no
    tolerance) on input built to split them: duplicate timestamps, events
    on and one microsecond before a window boundary, null values, values
    whose double sum drifts or that sit off the cent grid, and late rows
    inside the watermark."""
    import os

    path = tmp_path / "adversarial"
    path.mkdir()
    for i, rows in enumerate(_ADVERSARIAL_FILES):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            [(e, ts, u, "click", v, "{}") for e, ts, u, v in rows],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(stage)
        (f,) = (tmp_path / f"stage{i}").glob("*.parquet")
        dst = path / f"f{i}.parquet"
        f.rename(dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    batch = spark.read.schema(jobs.EVENTS_SCHEMA).parquet(str(path))

    def drained(agg, name):
        stream = jobs.read_events_stream(spark, str(path)).withWatermark("ts", "3 hours")
        jobs.run_to_memory(agg(stream), name, str(tmp_path / f"ck_{name}"), "complete")
        return sorted(map(tuple, spark.table(name).collect()))

    def tumbling(df):
        return timeseries.sliding_window_agg(df, size="1 hour", slide="1 hour")

    want = sorted(
        map(tuple, timeseries.tumbling_window_agg(batch).drop("n_users").collect())
    )
    assert drained(tumbling, "adv_windows") == want
    assert len(want) == 5 and want[1][1:] == (3, 1000000.02) and want[4][1:] == (1, 1.0)

    want = sorted(map(tuple, timeseries.session_window_agg(batch).collect()))
    assert drained(timeseries.session_window_agg, "adv_sessions") == want
    assert [r[2] for r in want if r[0] == 2] == [3]


def _silver(spark, n_rows):
    from spark_lakehouse_medallion_pipeline_spark.medallion.generate import (
        generate_bronze,
    )
    from spark_lakehouse_medallion_pipeline_spark.medallion.silver import build_silver

    return build_silver(generate_bronze(spark, n_rows))


def _refresh_from(spark, src, tmp_path):
    """Drain the parquet files under ``src`` one per micro-batch through
    incremental_gold_refresh; returns the gold it wrote."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    gold_path = str(tmp_path / "gold_inc")
    jobs.incremental_gold_refresh(
        stream,
        silver_store=str(tmp_path / "silver_store"),
        gold_path=gold_path,
        checkpoint_dir=str(tmp_path / "ckpt_gold"),
    )
    return spark.read.parquet(gold_path)


def _assert_same_gold(got, want):
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)

    def rows(df):  # one gold row per date; str() orders a null date too
        got = df.select(*cols).collect()
        return [tuple(r) for r in sorted(got, key=lambda r: str(r["interaction_date"]))]

    g, w = rows(got), rows(want)
    assert len(g) == len(w)
    for rg, rw in zip(g, w):
        for vg, vw in zip(rg, rw):
            if isinstance(vg, float):
                assert abs(vg - vw) < 1e-6
            else:
                assert vg == vw


def test_incremental_gold_refresh_matches_batch(spark, tmp_path):
    """Partition-level incremental gold maintenance: streaming the silver
    corpus in multiple microbatches and upserting affected dates must
    reproduce the batch gold EXACTLY (countDistinct KPIs included)."""
    from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold

    src = str(tmp_path / "silver_src")
    _silver(spark, 3_000).repartition(4).write.mode("overwrite").parquet(src)
    _assert_same_gold(_refresh_from(spark, src, tmp_path), build_gold(spark.read.parquet(src)))


def test_incremental_gold_refresh_null_dates_match_batch(spark, tmp_path):
    """A null interaction_date is one more gold key, as in batch
    build_gold. Three files drain in order: the first, with null dates,
    onto an empty gold; the second brings null dates again, so the null
    group re-aggregates over both batches; the third has no null date and
    rewrites only dates earlier batches wrote, so the null-date gold row
    must survive the last replacement."""
    from pyspark.sql import Window

    from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold

    i = F.row_number().over(Window.orderBy("event_id"))
    silver = (
        _silver(spark, 2_000)
        .withColumn("_i", i)
        .withColumn(
            "interaction_date",
            F.when(F.col("_i") % 7 == 0, None).otherwise(F.col("interaction_date")),
        )
        .withColumn(
            "_file",
            F.when((F.col("_i") % 3 == 2) & F.col("interaction_date").isNull(), 0).otherwise(
                F.col("_i") % 3
            ),
        )
        .localCheckpoint()
    )
    dates = [
        {r[0] for r in silver.filter(F.col("_file") == f).select("interaction_date").collect()}
        for f in range(3)
    ]
    assert None in dates[0] and None in dates[1] and None not in dates[2]
    assert dates[2] <= dates[0] | dates[1]

    src = str(tmp_path / "silver_src")
    for f in range(3):  # one file each, in this order of modification time
        silver.filter(F.col("_file") == f).drop("_i", "_file").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    got = _refresh_from(spark, src, tmp_path)
    want = build_gold(spark.read.parquet(src))
    assert got.filter(F.col("interaction_date").isNull()).count() == 1
    _assert_same_gold(got, want)


def test_incremental_gold_refresh_jobs_per_batch(spark, tmp_path):
    """Each non-empty micro-batch runs at most 6 Spark jobs: the append,
    the distinct-dates collect (2) and the gold write (3); neither the
    store nor gold is schema-inferred and build_gold is evaluated once.
    Stream execution runs every foreachBatch job in the job group named
    by the query's runId."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.run_ids, self.rows = [], []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src = str(tmp_path / "silver_src")
    _silver(spark, 2_000).repartition(4).write.mode("overwrite").parquet(src)
    sc = spark.sparkContext
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        _refresh_from(spark, src, tmp_path)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    (run_id,) = listener.run_ids
    batches = sum(1 for n in listener.rows if n > 0)
    assert batches == 4
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(run_id))
    assert n_jobs <= 6 * batches, f"{n_jobs} jobs for {batches} micro-batches"


def test_python_streaming_source_equals_batch(spark, tmp_path):
    """Custom Python streaming source: microbatched ingest over offsets
    produces exactly the batch source's rows (same pure-function
    derivation), across multiple batches with a checkpoint."""
    from spark_lakehouse_medallion_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows", "250")
        .option("batch", "100")  # 3 microbatches: 100+100+50
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck_pyds"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(spark.table("pyds_stream_out").collect())
    want = sorted(
        spark.read.format("synthetic_docs").option("rows", "250").load().collect()
    )
    assert got == want and len(got) == 250


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restart: a query consumes 150 rows into a
    file sink, stops, and a NEW query over the same checkpoint (with
    the feed grown to 250) appends ONLY rows 150..249 — committed
    offsets survive the restart, nothing is re-emitted and nothing is
    skipped, so the sink holds each id exactly once."""
    from spark_lakehouse_medallion_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    ck = str(tmp_path / "ck_restart")
    out = str(tmp_path / "restart_out")

    def run(rows):
        q = (
            spark.readStream.format("synthetic_docs")
            .option("rows", str(rows))
            .option("batch", "50")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(150)
    assert spark.read.parquet(out).count() == 150

    run(250)  # restart: offsets resume at 150, feed has grown
    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(250))  # every id exactly once


@pytest.mark.slow
def test_streaming_near_dup_ingest_matches_sequential(spark, tmp_path):
    """Cross-batch near-dup ingest: each micro-batch self-dedups, then
    probes the signature store of everything previously accepted —
    exactly one survivor per near-dup group across the whole drain."""
    import os
    import time as _time

    from spark_lakehouse_medallion_pipeline_spark.streaming.jobs import (
        streaming_near_dup_ingest,
    )

    ta = "alpha beta gamma delta epsilon zeta eta theta"
    tb = "one two three four five six seven eight nine"
    tc = "red orange yellow green blue indigo violet colors"
    td = "north south east west compass rose navigation chart"
    shards = [
        [(1, ta), (2, ta), (3, tb)],   # 2 drops within-batch (same text as 1)
        [(4, ta), (5, tc)],            # 4 drops vs store
        [(6, tb), (7, tc), (8, td)],   # 6, 7 drop vs store
    ]
    src = tmp_path / "shards"
    src.mkdir()
    for i, rows in enumerate(shards):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"shard{i}"))
        for f in (src / f"shard{i}").glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    # flatten: file source watches one dir of files
    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(len(shards)):
        for f in (src / f"shard{i}").glob("*.parquet"):
            dst = flat / f"s{i}.parquet"
            os.rename(f, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(flat))
    )
    out, sigs, ckpt = (str(tmp_path / d) for d in ("out", "sigs", "ckpt"))
    streaming_near_dup_ingest(stream, out, sigs, ckpt)

    rows = spark.read.parquet(out).collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    # exactly one survivor per near-dup group, and it is the group's
    # first-processed lowest id (files drained oldest-first)
    assert {t: ids for t, ids in by_text.items()} == {ta: [1], tb: [3], tc: [5], td: [8]}
    # the signature store holds exactly the accepted docs
    assert sorted(
        r["_id"] for r in spark.read.parquet(sigs).collect()
    ) == [1, 3, 5, 8]


def test_streaming_near_dup_ingest_fails_on_corrupt_store(spark, tmp_path):
    """A signature store that exists but cannot be read must FAIL the
    batch, not be treated as empty (silently re-accepting duplicates)."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from spark_lakehouse_medallion_pipeline_spark.streaming.jobs import (
        streaming_near_dup_ingest,
    )

    flat = tmp_path / "flat"
    flat.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "stage"))
    for f in (tmp_path / "stage").glob("*.parquet"):
        f.rename(flat / "s0.parquet")

    sigs = tmp_path / "sigs"
    sigs.mkdir()
    (sigs / "garbage.parquet").write_bytes(b"not a parquet file")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    with pytest.raises(StreamingQueryException):
        streaming_near_dup_ingest(
            stream, str(tmp_path / "out"), str(sigs), str(tmp_path / "ckpt")
        )


@pytest.mark.slow
def test_streaming_near_dup_ingest_retry_idempotent(spark, tmp_path):
    """A batch retried AFTER its signature write landed but BEFORE the
    checkpoint committed must re-accept its own documents: the store
    probe excludes the current batch's own batch=<id> partition.
    Without that exclusion every survivor anti-joins against its own
    signature and the retry rewrites the batch's subdirs EMPTY —
    permanent data loss under at-least-once delivery."""
    from spark_lakehouse_medallion_pipeline_spark.operators import dedup as _dd
    from spark_lakehouse_medallion_pipeline_spark.streaming.jobs import (
        streaming_near_dup_ingest,
    )

    flat = tmp_path / "flat"
    flat.mkdir()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "stage"))
    for f in (tmp_path / "stage").glob("*.parquet"):
        f.rename(flat / "s0.parquet")

    # simulate the half-committed first attempt: batch 0's signatures are
    # already in the store, but the checkpoint has no record of the batch
    sigs = str(tmp_path / "sigs")
    _dd.minhash_signatures(docs, num_hashes=64).write.parquet(f"{sigs}/batch=0")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(flat))
    )
    out = str(tmp_path / "out")
    streaming_near_dup_ingest(stream, out, sigs, str(tmp_path / "ckpt"))
    # the retried batch re-accepts its own doc instead of dropping it
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]
    assert [r["_id"] for r in spark.read.parquet(sigs).collect()] == [1]
