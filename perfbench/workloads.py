"""The benchmark workloads.

Each workload stages its inputs from the seed, then runs passes (closed loop,
one client) against the package's public functions and checks every result.
``op`` runs one pass and returns ``(samples, pass_s)``: one
``(latency_s, ok)`` per operation, and the pass's wall seconds. The runner
owns sessions, timing windows and metrics.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import shutil
import sys
import threading
import time
import traceback

from spans import Tracer, median


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_match(left: list, right: list, key: str) -> bool:
    """Equal row sets, matched on ``key``; floats equal to 1e-9 relative
    (batch and incremental aggregation sum doubles in different orders)."""
    if len(left) != len(right):
        return False
    for a, b in zip(sorted(left, key=lambda r: r[key]), sorted(right, key=lambda r: r[key])):
        da, db = a.asDict(), b.asDict()
        if da.keys() != db.keys() or not all(_close(da[c], db[c]) for c in da):
            return False
    return True


class Workload:
    name = ""
    op_label = "op"
    warmup_passes = 1
    min_passes = 1

    def __init__(self, seed: int, work: str, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.layer: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def on_session(self, spark) -> None:
        """Called after every session start."""

    def prepare(self, spark) -> None:
        """Generate or stage the inputs: once, after the session restarts and
        before the warm-up passes (timed as set-up)."""

    def retrace(self, spark) -> None:
        """Once in the traced session, before its window."""

    def final_check(self, spark) -> bool:
        return True


# ------------------------------------------------------ medallion_stream

MEDALLION_ROWS = 10_000
# Silver drops rows whose id-hashed quality flag is duplicate_suspected, so
# the count depends on the size only; gold has one row per date in the
# 30-day window ending at noon of the as-of day.
EXPECTED_SILVER_GOLD = (9_488, 31)
STREAM_FILES = 8
WARM_FILES = 3


def seeded_as_of(seed: int) -> str:
    """Generator clock: noon on a seed-chosen day of 2024."""
    day = datetime.date(2024, 1, 1) + datetime.timedelta(days=seed % 365)
    return f"{day.isoformat()} 12:00:00"


def _listener():
    """A StreamingQueryListener that keeps every query's progress records."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: dict[str, list[dict]] = {}
            self.done: dict[str, threading.Event] = {}
            self.lock = threading.Lock()

        def _done(self, qid: str) -> threading.Event:
            with self.lock:
                return self.done.setdefault(qid, threading.Event())

        def onQueryStarted(self, event):
            self._done(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            rec = {"rows": p.numInputRows, **{k: float(v) for k, v in p.durationMs.items()}}
            with self.lock:
                self.progress.setdefault(str(p.id), []).append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self._done(str(event.id)).set()

        def batches(self, qid: str, timeout: float = 60.0) -> list[dict]:
            """Progress of the non-empty batches of a finished query. The
            listener bus is ordered, so once the termination event arrived
            every progress event has too."""
            if not self._done(qid).wait(timeout):
                raise TimeoutError(f"no termination event for stream {qid}")
            with self.lock:
                return [r for r in self.progress.get(qid, []) if r["rows"] > 0]

    return Listener()


class MedallionStream(Workload):
    """Write path. Staging is one smoke -> bronze -> silver -> gold batch
    run of the Customer-360 generator, with its silver restaged as
    STREAM_FILES files; it runs in set-up, and again traced in a traced run.
    One pass drains those files, one per micro-batch, through
    incremental_gold_refresh into fresh store, gold and checkpoint dirs;
    every micro-batch is one operation. A pass takes many times longer
    than a warm micro-batch, and the batch run kept speeding up for five
    runs in one JVM, so only the micro-batches are timed, after a drain of
    WARM_FILES files has warmed them."""

    name = "medallion_stream"
    op_label = "micro-batch"
    warmup_passes = 0

    def __init__(self, *args):
        super().__init__(*args)
        self.as_of = seeded_as_of(self.seed)
        self.stream_in = os.path.join(self.work, "stream-in")
        self.warm_in = os.path.join(self.work, "warm-in")
        self.n = 0
        self.base = None
        self.batch_gold: list = []
        self.listener = None

    def on_session(self, spark) -> None:
        self.listener = _listener()
        spark.streams.addListener(self.listener)

    def _batch_run(self, spark, base: str) -> None:
        """smoke -> bronze -> silver -> gold into ``base``."""
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline as P

        tr = self.tracer
        t = [time.perf_counter()]
        with tr.span("medallion.smoke"):
            P.smoke(spark, base)
        t.append(time.perf_counter())
        with tr.span("medallion.bronze"):
            bronze = P.run_bronze(spark, base, MEDALLION_ROWS, 1, self.as_of)
        t.append(time.perf_counter())
        with tr.span("medallion.silver"):
            silver = P.run_silver(spark, base, self.as_of)
        t.append(time.perf_counter())
        with tr.span("medallion.gold"):
            gold = P.run_gold(spark, base)
        t.append(time.perf_counter())
        got = (silver["silver_rows"], gold["gold_rows"])
        if got != EXPECTED_SILVER_GOLD:
            raise AssertionError(f"silver/gold rows {got}, expected {EXPECTED_SILVER_GOLD}")
        if tr.enabled:
            dt = [b - a for a, b in zip(t, t[1:])]
            for stage, sec in zip(("smoke", "bronze", "silver", "gold"), dt):
                self.note(f"medallion.{stage}_s", sec)
            written = sum(
                dir_bytes(f"{base}/{rel}")
                for rel in ("_smoke", P.BRONZE_REL, P.SILVER_REL, P.GOLD_REL)
            )
            self.note("medallion.bronze_mb_per_s", bronze["bronze_bytes"] / 2**20 / dt[1])
            self.note("medallion.silver_rows", got[0])
            self.note("medallion.gold_rows", got[1])
            self.note("sources.bytes_written", written)
            self.note("sources.write_amplification", written / bronze["bronze_bytes"])

    def stage_inputs(self, spark) -> None:
        """Batch run, then its silver restaged as the stream's input files;
        the first WARM_FILES of them also go to a warm-up input."""
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline as P
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        self.n += 1
        self.base = os.path.join(self.work, f"batch-{self.n}")
        self._batch_run(spark, self.base)
        t0 = time.perf_counter()
        with self.tracer.span("sources.restage"):
            read_parquet(spark, f"{self.base}/{P.SILVER_REL}").repartitionByRange(
                STREAM_FILES, "event_timestamp"
            ).write.mode("overwrite").parquet(self.stream_in)
        if self.tracer.enabled:
            self.note("sources.restage_s", time.perf_counter() - t0)
        files = sorted(f for f in os.listdir(self.stream_in) if f.endswith(".parquet"))
        if len(files) != STREAM_FILES:
            raise AssertionError(f"restaged {len(files)} files, expected {STREAM_FILES}")
        _rm(self.warm_in)
        os.makedirs(self.warm_in)
        for f in files[:WARM_FILES]:
            shutil.copy(os.path.join(self.stream_in, f), self.warm_in)
        self.batch_gold = read_parquet(spark, f"{self.base}/{P.GOLD_REL}").collect()

    def _drain(self, spark, source: str, files: int) -> tuple[list[dict], float, str]:
        """Drain ``source`` into fresh dirs; returns (batches, seconds, gold dir)."""
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet
        from spark_lakehouse_medallion_pipeline_spark.streaming.jobs import (
            incremental_gold_refresh,
        )

        self.n += 1
        root = os.path.join(self.work, f"drain-{self.n}")
        schema = read_parquet(spark, source).schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(source)
        known = set(self.listener.done)
        t0 = time.perf_counter()
        with self.tracer.span("streaming.drain"):
            incremental_gold_refresh(stream, f"{root}/store", f"{root}/gold", f"{root}/ckpt")
        drain_s = time.perf_counter() - t0
        (qid,) = set(self.listener.done) - known
        batches = self.listener.batches(qid)
        if len(batches) != files:
            raise AssertionError(f"{len(batches)} micro-batches, expected {files}")
        return batches, drain_s, root

    def prepare(self, spark) -> None:
        """Stage the inputs and drain the warm-up input once."""
        self.stage_inputs(spark)
        _, _, root = self._drain(spark, self.warm_in, WARM_FILES)
        _rm(root)

    retrace = stage_inputs

    def op(self, spark) -> tuple[list[tuple[float, bool]], float]:
        """One drain of the staged files; a sample per micro-batch (its
        trigger execution time). The refreshed gold must equal the batch
        gold of the same silver."""
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        batches, drain_s, root = self._drain(spark, self.stream_in, STREAM_FILES)
        streamed = read_parquet(spark, f"{root}/gold").collect()
        _rm(root)
        if not rows_match(streamed, self.batch_gold, "interaction_date"):
            raise AssertionError("incrementally refreshed gold differs from batch gold")
        latencies = [b["triggerExecution"] / 1e3 for b in batches]
        if self.tracer.enabled:
            self.note("streaming.drain_s", drain_s)
            self.note("streaming.batch_p50_s", median(latencies))
            self.note("streaming.batches", len(batches))
            self.note("streaming.rows_per_batch", median([b["rows"] for b in batches]))
            for key, metric in (
                ("addBatch", "streaming.add_batch_ms"),
                ("queryPlanning", "streaming.planning_ms"),
                ("walCommit", "streaming.wal_commit_ms"),
            ):
                self.note(metric, median([b.get(key, 0.0) for b in batches]))
        return [(lat, True) for lat in latencies], drain_s

    def final_check(self, spark) -> bool:
        """Written gold equals build_gold recomputed over the written silver."""
        from spark_lakehouse_medallion_pipeline_spark.medallion import pipeline as P
        from spark_lakehouse_medallion_pipeline_spark.medallion.gold import build_gold
        from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet

        if not self.base:
            return False
        written = read_parquet(spark, f"{self.base}/{P.GOLD_REL}").collect()
        silver = read_parquet(spark, f"{self.base}/{P.SILVER_REL}")
        return rows_match(written, build_gold(silver).collect(), "interaction_date")


# ------------------------------------------------------- analyst_queries

QUERY_SF = 0.01
# Read-only registry entries across operator families: aggregate, join,
# window, sessionization, dedup and text (q33 LSH, q51 curation, q95
# packing), and graph and BPE entries that run jobs while building (q126,
# q181).
QUERY_MIX = (
    "q01_pricing_summary q13_running_customer_spend q21_sessionization "
    "q33_minhash_candidates q46_order_lifecycle q51_corpus_curation "
    "q95_sequence_packing q126_pagerank_nations q181_bpe_train_2merges"
).split()
LSH_ENTRY = "q33_minhash_candidates"
PACK_ENTRY = "q95_sequence_packing"
PACK_CTX = 512


class AnalystQueries(Workload):
    """Read path: one client replays a fixed mix of registry entries over a
    generated star schema; every result is checked against its DuckDB oracle
    (computed at set-up), or for non-empty output where there is none."""

    name = "analyst_queries"
    op_label = "query"
    min_passes = 2

    def __init__(self, *args):
        super().__init__(*args)
        self.mix = list(QUERY_MIX)
        random.Random(self.seed).shuffle(self.mix)
        self.data = os.path.join(self.work, "tables")
        self.expected: dict[str, tuple[list[str], list]] = {}
        self.planted: set[tuple[int, int]] = set()

    def prepare(self, spark) -> None:
        import duckdb

        from datagen import TABLES, generate_tables
        from spark_lakehouse_medallion_pipeline_spark.queries import ORACLE
        from tools.oracle_check import frame_to_key_rows

        _rm(self.data)
        self.planted = generate_tables(self.data, self.seed, QUERY_SF)
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.expected = {}
            for q in self.mix:
                if q in ORACLE:
                    res = con.execute(ORACLE[q])
                    cols = [d[0] for d in res.description]
                    self.expected[q] = (cols, frame_to_key_rows(cols, res.fetchall()))
        finally:
            con.close()

    def _check(self, q: str, cols: list[str], rows: list[tuple]) -> bool:
        from tools.oracle_check import frame_to_key_rows

        exp = self.expected.get(q)
        if exp is None:
            return bool(rows)
        return sorted(cols) == sorted(exp[0]) and frame_to_key_rows(cols, rows) == exp[1]

    def _layer_notes(self, q: str, latency: float, cols: list[str], rows: list[tuple]) -> None:
        if q == LSH_ENTRY:
            ia, ib = cols.index("id_a"), cols.index("id_b")
            found = {(r[ia], r[ib]) for r in rows}
            self.note("dedup.lsh_s", latency)
            self.note("dedup.candidate_pairs", len(found))
            self.note("dedup.pair_precision", len(found & self.planted) / max(len(found), 1))
        elif q == PACK_ENTRY:
            src, tok = cols.index("source"), cols.index("n_tokens")
            per_source: dict[str, int] = {}
            for r in rows:
                per_source[r[src]] = per_source.get(r[src], 0) + r[tok]
            packs = sum(math.ceil(n / PACK_CTX) for n in per_source.values())
            self.note("text.pack_s", latency)
            self.note("text.pack_fill", sum(per_source.values()) / (packs * PACK_CTX))

    def op(self, spark) -> tuple[list[tuple[float, bool]], float]:
        """One pass over the mix; a sample per entry (build + action)."""
        from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

        tr = self.tracer
        samples = []
        for q in self.mix:
            tr.new_trace()
            t0 = time.perf_counter()
            try:
                with tr.span("queries.build"):
                    df = QUERIES[q](spark, self.data)
                t1 = time.perf_counter()
                with tr.span("queries.action"):
                    rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a failed entry is counted, the pass goes on
                traceback.print_exc()
                samples.append((time.perf_counter() - t0, False))
                continue
            t2 = time.perf_counter()
            ok = self._check(q, df.columns, rows)
            if not ok:
                print(f"perfbench: {q} output differs from its oracle", file=sys.stderr)
            samples.append((t2 - t0, ok))
            if tr.enabled:
                self.note("queries.build_s", t1 - t0)
                self.note("queries.action_s", t2 - t1)
                self._layer_notes(q, t2 - t0, df.columns, rows)
        return samples, sum(lat for lat, _ in samples)


WORKLOADS = {w.name: w for w in (MedallionStream, AnalystQueries)}
