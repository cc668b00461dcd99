"""Per-layer metrics of a traced run.

Layers are the package's modules (``session``, ``medallion``, ``sources``,
``queries``, ``operators.dedup`` as ``dedup``, ``operators.text`` as ``text``,
``streaming``) plus ``spark`` for the executor accounting they share, and
``bench`` / ``trace`` for the benchmark itself. Every traced run prints every
metric below; a layer the workload does not exercise reads 0.

Times are medians over the traced session's calls. ``spark.*`` counts and
seconds are the totals of the jobs submitted in the traced window divided by
its attempted operations (one query, or one micro-batch), so they compare
across runs of different length and include the jobs of failed operations.
"""

from __future__ import annotations

import glob

from eventlog import Counters, attribute, read_event_log
from spans import median, percentile, self_times, tail_percentile

# name -> (unit, better)
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.jvm_start_s": ("s", "lower"),
    "session.get_spark_s": ("s", "lower"),
    "session.peak_rss_mb": ("MiB", "lower"),
    "bench.warmup_s": ("s", "lower"),
    "bench.op_samples": ("count", "higher"),
    "bench.op_tail_s": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
    "medallion.smoke_s": ("s", "lower"),
    "medallion.bronze_s": ("s", "lower"),
    "medallion.silver_s": ("s", "lower"),
    "medallion.gold_s": ("s", "lower"),
    "medallion.bronze_mb_per_s": ("MiB/s", "higher"),
    "medallion.silver_rows": ("count", "higher"),
    "medallion.gold_rows": ("count", "higher"),
    "sources.bytes_written": ("bytes", "lower"),
    "sources.write_amplification": ("ratio", "lower"),
    "sources.restage_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.action_s": ("s", "lower"),
    "queries.build_share": ("ratio", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.action_jobs": ("count", "lower"),
    "dedup.lsh_s": ("s", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.pair_precision": ("ratio", "higher"),
    "text.pack_s": ("s", "lower"),
    "text.pack_fill": ("ratio", "higher"),
    "streaming.drain_s": ("s", "lower"),
    "streaming.batch_p50_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.rows_per_batch": ("count", "higher"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_launch_wait_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
}
LAYER_UNITS = {k: unit for k, (unit, _) in LAYER_METRICS.items()}


def spark_metrics(total: Counters, ops: int) -> dict[str, float]:
    per = 1.0 / max(ops, 1)
    return {
        "spark.jobs": total.jobs * per,
        "spark.stages": total.stages * per,
        "spark.tasks": total.tasks * per,
        "spark.task_launch_wait_s": total.launch_wait_s * per,
        "spark.executor_run_s": total.run_s * per,
        "spark.executor_cpu_s": total.cpu_s * per,
        "spark.gc_s": total.gc_s * per,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes * per,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes * per,
        "spark.spill_bytes": total.spill_bytes * per,
        "spark.task_skew": total.task_skew,
    }


def per_layer(
    workload, tracer, window, log_dir: str, *, since_ms: float, get_spark_s: float,
    jvm_start_s: float,
    warmup_s: float, untraced_p50_s: float, peak_rss_mb: float,
) -> tuple[dict[str, float], dict[str, float]]:
    """Returns (metrics, self seconds per span name)."""
    out = {name: 0.0 for name in LAYER_METRICS}
    out.update({
        "session.jvm_start_s": jvm_start_s,
        "session.get_spark_s": get_spark_s,
        "session.peak_rss_mb": peak_rss_mb,
        "bench.warmup_s": warmup_s,
        "bench.op_samples": float(len(window.samples)),
    })
    if window.samples:
        pct = tail_percentile(len(window.samples)) or 50.0
        out["bench.op_tail_s"] = percentile(window.samples, pct)
        out["trace.overhead_share"] = median(window.samples) / untraced_p50_s - 1.0
    for key, values in workload.layer.items():
        out[key] = median(values)

    logs = glob.glob(f"{log_dir}/*")
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    log = read_event_log(logs[0], since_ms)
    out.update(spark_metrics(log.total(), window.attempted))
    by_span = attribute(log, {s.group: s.name for s in tracer.spans})
    queries = len(workload.layer.get("queries.build_s", []))
    if queries:
        out["queries.build_jobs"] = by_span.get("queries.build", Counters()).jobs / queries
        out["queries.action_jobs"] = by_span.get("queries.action", Counters()).jobs / queries
        build = sum(workload.layer["queries.build_s"])
        out["queries.build_share"] = build / (build + sum(workload.layer["queries.action_s"]))
    return out, self_times(tracer.spans)
