"""Benchmark runner: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 18 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line holds
the end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of a
traced run (see perfbench/README.md). Everything the run writes goes under
``.perfbench/`` in the repository root; the work directory is removed at exit
and the JVM is stopped and waited for before the result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_lakehouse_medallion_pipeline_spark"
OUT = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
DRIVER_MEM = "3g"  # explicit heap, well below the host's memory

sys.path[:0] = [HERE]

from spans import Tracer, check_metric_name, median, percentile, tail_percentile, vm_hwm_mb  # noqa: E402,I001
from workloads import WORKLOADS  # noqa: E402
from layers import LAYER_UNITS, per_layer  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict[str, str]:
    """Fix every knob the engine reads from the environment, before the JVM
    starts: cores, heap, scratch dirs, and the import path of Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    return env


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_log: bool = False):
        from spark_lakehouse_medallion_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the context, end the JVM and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a hung JVM is killed, never left behind
                proc.kill()
                proc.wait()


def set_group_fn(sc):
    def set_group(group):
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    return set_group


class Window:
    """Latency samples and pass times of one measured window."""

    def __init__(self):
        self.samples: list[float] = []
        self.passes: list[float] = []
        self.pass_samples: list[list[float]] = []
        self.attempted = 0
        self.failed = 0

    def run(self, workload, spark, seconds: float, min_passes: int = 1) -> Window:
        """Run ``min_passes`` passes, then more while another pass as long as
        the last one still ends within ``seconds`` of the start."""
        start = time.perf_counter()
        done, last = 0, 0.0
        while done < min_passes or time.perf_counter() - start + last <= seconds:
            t0 = time.perf_counter()
            try:
                samples, pass_s = workload.op(spark)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
            else:
                self.attempted += len(samples)
                self.failed += sum(1 for _, ok in samples if not ok)
                self.samples += [lat for lat, ok in samples if ok]
                self.passes.append(pass_s)
                self.pass_samples.append([lat for lat, _ in samples])
            done += 1
            last = time.perf_counter() - t0
        return self


def end_to_end(setup_s: float, win: Window) -> dict[str, float]:
    if not win.samples:
        raise RuntimeError("every operation in the window failed")
    return {"setup_s": setup_s, "op_p50_s": median(win.samples), "pass_s": min(win.passes)}


E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s"}


def run(args, work: str, sess: Session) -> tuple[dict, dict, Window]:
    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, work, tracer)

    t0 = time.perf_counter()
    spark = sess.start()
    jvm_start_s = time.perf_counter() - t0
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        sess.stop()
        spark = sess.start()
        wl.on_session(spark)
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare(spark)
    warm = Window().run(wl, spark, 0.0, min_passes=wl.warmup_passes)
    warmup_s = time.perf_counter() - t0
    setup_s = jvm_start_s + median(rounds) + warmup_s

    seconds = args.seconds / 2 if args.trace else args.seconds
    win = Window().run(wl, spark, seconds, min_passes=wl.min_passes)
    win.attempted += warm.attempted
    win.failed += warm.failed
    if not wl.final_check(spark):
        print("perfbench: final output check failed", file=sys.stderr)
        win.attempted += 1
        win.failed += 1
    e2e = end_to_end(setup_s, win)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "op": wl.op_label,
        "samples": len(win.samples),
        "passes": len(win.passes),
        "passes_s": win.passes,
        "pass_samples_s": win.pass_samples,
        "jvm_start_s": jvm_start_s,
        "setup_rounds_s": rounds,
        "warmup_s": warmup_s,
        "peak_rss_mb": vm_hwm_mb(sess.jvm_pid()),
    }
    pct = tail_percentile(len(win.samples))
    if pct is not None:
        info[f"op_p{pct:g}_s"] = percentile(win.samples, pct)
    if not args.trace:
        return e2e, info, win

    sess.stop()
    spark = sess.start(event_log=True)
    tracer.enabled = True
    tracer.set_group = set_group_fn(spark.sparkContext)
    wl.on_session(spark)
    wl.retrace(spark)
    since_ms = time.time() * 1e3
    traced = Window().run(wl, spark, seconds, min_passes=wl.min_passes)
    sess.stop()
    layer, self_s = per_layer(
        wl, tracer, traced, os.path.join(work, "eventlog"), since_ms=since_ms,
        get_spark_s=median(rounds), jvm_start_s=jvm_start_s, warmup_s=warmup_s,
        untraced_p50_s=e2e["op_p50_s"], peak_rss_mb=vm_hwm_mb(sess.jvm_pid()),
    )
    win.attempted += traced.attempted
    win.failed += traced.failed
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    trace_file = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(trace_file, "w") as fh:
        json.dump(
            {"info": info, "spans": tracer.records(), "self_s": self_s, "metrics": layer},
            fh, indent=1,
        )
    info["trace_file"] = os.path.relpath(trace_file, ROOT)
    return layer, info, win


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    env = pin_env(work)
    sess = Session(work)
    try:
        metrics, info, win = run(args, work, sess)
    finally:
        sess.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    info["env"] = env
    units = LAYER_UNITS if args.trace else E2E_UNITS
    out = {
        "correct": win.failed == 0,
        "attempted": win.attempted,
        "failed": win.failed,
        "metrics": {
            check_metric_name(k): {"value": v, "unit": units[k]}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(info))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
