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


def test_windowed_stream_matches_batch(spark, events, tmp_path):
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    assert stream.isStreaming
    out = jobs.windowed_counts_stream(stream, watermark="100 days", size="1 hour")
    jobs.run_to_memory(out, "win_counts", str(tmp_path / "ckpt1"))
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
    out = jobs.session_stream(stream, watermark="100 days", gap="30 minutes")
    jobs.run_to_memory(out, "sess_counts", str(tmp_path / "ckpt2"))
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
    out = jobs.windowed_counts_stream(stream, watermark="1 minute", size="1 hour")
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
    jobs.run_update_to_memory(out, "running_totals", str(tmp_path / "ckpt_state"))
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
        jobs.run_update_to_memory(totals, "rocksdb_totals", str(tmp_path / "ckpt"))
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
    values equal to the oracle-exact cents aggregation within 1 ulp."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = jobs.windowed_counts_stream(stream, watermark="100 days", size="1 hour")
    jobs.run_to_memory(out, "win_vs_q20", str(tmp_path / "ck_q20"))
    got = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in spark.table("win_vs_q20").collect()
    }
    want = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in QUERIES["q20_hourly_tumbling"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (n, v) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - v) < 1e-6


def test_session_stream_matches_registered_q22(spark, events, sf_dir, tmp_path):
    """Pin the streaming session job to the registered q22 entry: the
    native session_window semantics must agree between the availableNow
    stream and the batch query the driver hashes."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = jobs.session_stream(stream, watermark="100 days", gap="30 minutes")
    jobs.run_to_memory(out, "sess_vs_q22", str(tmp_path / "ck_q22"))
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in spark.table("sess_vs_q22").collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in QUERIES["q22_session_window_native"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (n, v) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - v) < 1e-6


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas' state-server protocol needs "
    "google.protobuf, absent in this container (no installs allowed — "
    "same constraint as delta-spark, README §Table-format)",
)
def test_transform_with_state_matches_apply_in_pandas(spark, events, tmp_path):
    """The Spark 4 transformWithStateInPandas job must produce the same
    final per-user totals as the applyInPandasWithState job and the
    batch groupBy — three implementations, one contract."""
    path = _events_stream_dir(spark, events, tmp_path)
    stream = jobs.read_events_stream(spark, path)
    out = jobs.running_totals_tws_stream(stream)
    jobs.run_update_to_memory(out, "running_totals_tws", str(tmp_path / "ckpt_tws"))
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.table("running_totals_tws")
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


def test_incremental_gold_refresh_matches_batch(spark, tmp_path):
    """Partition-level incremental gold maintenance: streaming the silver
    corpus in multiple microbatches and upserting affected dates must
    reproduce the batch gold EXACTLY (countDistinct KPIs included)."""
    from spark_lakehouse_medallion_pipeline_spark.medallion.generate import (
        generate_bronze,
    )
    from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
    from spark_lakehouse_medallion_pipeline_spark.medallion.silver import build_silver

    silver = build_silver(generate_bronze(spark, 3_000))
    src = str(tmp_path / "silver_src")
    silver.repartition(4).write.mode("overwrite").parquet(src)

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

    got = spark.read.parquet(gold_path)
    want = build_gold(spark.read.parquet(src))
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, want.select(*cols).collect()))
    assert len(g) == len(w)
    for rg, rw in zip(g, w):
        for vg, vw in zip(rg, rw):
            if isinstance(vg, float):
                assert abs(vg - vw) < 1e-6
            else:
                assert vg == vw


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
