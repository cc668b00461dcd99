"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from eventlog import UNGROUPED, attribute, parse_event_log  # noqa: E402
from layers import LAYER_METRICS  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    check_metric_name,
    percentile,
    samples_beyond,
    self_times,
    tail_percentile,
)


# ----------------------------------------------------------- percentiles


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10


def test_tail_is_the_highest_qualifying_candidate():
    # 40 samples: p75 leaves exactly 10 above, p90 only 4.
    assert samples_beyond(40, 75) == 10
    assert samples_beyond(40, 90) == 4
    assert tail_percentile(40) == 75.0


# ----------------------------------------------------------- span self time


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, 1, f"{name}#x")


def test_self_time_subtracts_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 4.0, 8.0, parent=0),
        _span("c", 5.0, 6.0, parent=2),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(4.0)
    assert st["a"] == pytest.approx(2.0)
    assert st["b"] == pytest.approx(3.0)
    assert st["c"] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once_and_sums_names():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 5.0, parent=0),
        _span("a", 3.0, 7.0, parent=0),
        _span("op", 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 6.0 + 1.0)
    assert st["a"] == pytest.approx(8.0)


def test_tracer_nests_spans_and_restores_groups():
    groups = []
    tr = Tracer(enabled=True, set_group=groups.append)
    tid = tr.new_trace()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.trace_id == inner.trace_id == tid
    assert groups == [outer.group, inner.group, outer.group, None]
    assert outer.group != inner.group
    assert outer.start <= inner.start <= inner.end <= outer.end
    rec = tr.records()[1]
    assert set(rec) == {"name", "start", "end", "parent", "trace_id"}


def test_disabled_tracer_records_nothing():
    groups = []
    tr = Tracer(enabled=False, set_group=groups.append)
    with tr.span("x"):
        pass
    assert tr.spans == [] and groups == []


# ----------------------------------------------------------- event log


def _job(job, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": props}


def _task(stage, launch, finish, run_ms, **metrics):
    m = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
         "JVM GC Time": metrics.get("gc", 0),
         "Disk Bytes Spilled": metrics.get("spill", 0),
         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                  "Local Bytes Read": metrics.get("read", 0)},
         "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("write", 0)}}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": m}


SYNTHETIC_LOG = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, "queries.build#0", [0]),
    _task(0, 1000, 1010, 8),
    _job(1, "queries.action#1", [1, 2]),
    _task(1, 2000, 2100, 90, write=500, gc=5),
    _task(2, 2100, 2150, 40, read=500),
    _task(2, 2100, 2150, 40, read=0),
    _task(2, 2100, 2150, 40, read=0),
    _task(2, 2100, 2400, 290, spill=7),
    _job(2, None, [3]),
    _task(3, 3000, 3005, 5),
    _job(3, "queries.build#2", [4]),
    _task(4, 4000, 4020, 10),
]


def _parse(events):
    return parse_event_log(json.dumps(e) + "\n" for e in events)


def test_event_log_counts_per_group():
    log = _parse(SYNTHETIC_LOG)
    a = log.groups["queries.action#1"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 5)
    assert a.shuffle_write_bytes == 500 and a.shuffle_read_bytes == 500
    assert a.spill_bytes == 7
    assert a.gc_s == pytest.approx(0.005)
    assert a.run_s == pytest.approx(0.5)
    assert a.cpu_s == pytest.approx(0.5)
    # launch wait: wall minus run time, per task: 10 + 4*10 ms
    assert a.launch_wait_s == pytest.approx(0.05)
    # stage 2: durations 50, 50, 50, 300 -> max / median = 6
    assert a.task_skew == pytest.approx(6.0)
    assert log.groups[UNGROUPED].jobs == 1
    assert log.total().tasks == 8


def test_event_log_keeps_only_jobs_since():
    """Jobs submitted before ``since_ms`` drop out with their stages' tasks."""
    events = [dict(e) for e in SYNTHETIC_LOG]
    for e, t in zip([e for e in events if e["Event"] == "SparkListenerJobStart"],
                    (1000, 2000, 3000, 4000)):
        e["Submission Time"] = t
    log = _parse(events)
    assert log.total().jobs == 4
    log = parse_event_log((json.dumps(e) for e in events), since_ms=2500)
    assert set(log.groups) == {UNGROUPED, "queries.build#2"}
    assert (log.total().jobs, log.total().tasks) == (2, 2)


def test_event_log_skips_blank_lines():
    lines = ["\n", json.dumps(_job(0, "g", [0])), "", json.dumps(_task(0, 0, 1, 1))]
    assert parse_event_log(lines).groups["g"].tasks == 1


def test_per_call_job_attribution():
    """Each call owns a unique group; attribution sums groups by span name."""
    log = _parse(SYNTHETIC_LOG)
    owners = {"queries.build#0": "queries.build", "queries.action#1": "queries.action",
              "queries.build#2": "queries.build"}
    by_span = attribute(log, owners)
    assert by_span["queries.build"].jobs == 2
    assert by_span["queries.build"].tasks == 2
    assert by_span["queries.action"].jobs == 1
    assert by_span[UNGROUPED].jobs == 1


# ----------------------------------------------------------- timed window


class _FakeWorkload:
    def __init__(self, pass_s, fail_on=()):
        self.pass_s, self.fail_on, self.calls = pass_s, set(fail_on), 0

    def op(self, spark):
        self.calls += 1
        if self.calls in self.fail_on:
            raise RuntimeError("planted failure")
        time.sleep(self.pass_s)
        return [(self.pass_s / 2, True), (self.pass_s / 2, self.calls != 2)], self.pass_s


def test_window_starts_a_pass_only_if_it_fits():
    from run import Window

    wl = _FakeWorkload(0.1)
    win = Window().run(wl, None, 0.35)
    # Three passes of 0.1 s end by 0.35 s; a fourth would not.
    assert wl.calls == 3 and len(win.passes) == 3
    assert (win.attempted, win.failed, len(win.samples)) == (6, 1, 5)


def test_window_runs_min_passes_and_counts_exceptions():
    from run import Window

    assert Window().run(_FakeWorkload(0.01), None, 0.0, min_passes=0).attempted == 0
    wl = _FakeWorkload(0.2, fail_on={1})
    win = Window().run(wl, None, 0.0)
    assert wl.calls == 1 and (win.attempted, win.failed, win.passes) == (1, 1, [])


# ----------------------------------------------------------- metric names


@pytest.mark.parametrize("name", ["setup_s", "spark.jobs", "q-1.x_y", "9lives"])
def test_legal_metric_names(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", "a b", "a/b", "x" * 65, "sp@rk"])
def test_illegal_metric_names(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_benchmark_json_matches_the_runner():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == LAYER_METRICS
    for name in list(e2e) + list(layer):
        check_metric_name(name)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
