"""Spark event-log reader: job, stage and task accounting per job group.

Reads the uncompressed, non-rolling JSON-lines log Spark writes when
``spark.eventLog.enabled`` is on. Jobs are attributed to the
``spark.jobGroup.id`` in their start properties (the tracer gives every span
its own group); a stage belongs to the first job that lists it, and a task to
its stage.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field, fields

UNGROUPED = "<none>"
SKEW_MIN_TASKS = 4


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    launch_wait_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0

    def merge(self, other: Counters) -> None:
        for f in fields(self):
            if f.name == "task_skew":
                self.task_skew = max(self.task_skew, other.task_skew)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class EventLog:
    groups: dict[str, Counters] = field(default_factory=dict)

    def total(self) -> Counters:
        out = Counters()
        for c in self.groups.values():
            out.merge(c)
        return out


def _task_wait_ms(info: dict, metrics: dict) -> float:
    """Per-task fixed cost: launch-to-finish wall time not spent in the
    task body (scheduler delay, deserialization, result hand-off)."""
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    return max(0.0, wall - metrics.get("Executor Run Time", 0))


def parse_event_log(lines, since_ms: float = 0.0) -> EventLog:
    """Counters per job group, over the jobs submitted at or after
    ``since_ms`` (epoch milliseconds) and their stages and tasks."""
    log = EventLog()
    skipped: set[int] = set()
    stage_group: dict[int, str] = {}
    stage_durations: dict[int, list[float]] = {}
    stages_seen: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if ev.get("Submission Time", since_ms) < since_ms:
                skipped.update(ev.get("Stage IDs", []))
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
            log.groups.setdefault(group, Counters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid in skipped and sid not in stage_group:
                continue
            c = log.groups.setdefault(stage_group.get(sid, UNGROUPED), Counters())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            c.tasks += 1
            if sid not in stages_seen:
                stages_seen.add(sid)
                c.stages += 1
            c.run_s += m.get("Executor Run Time", 0) / 1e3
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.launch_wait_s += _task_wait_ms(info, m) / 1e3
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            stage_durations.setdefault(sid, []).append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
    for sid, durs in stage_durations.items():
        med = statistics.median(durs)
        if len(durs) >= SKEW_MIN_TASKS and med > 0:
            c = log.groups[stage_group.get(sid, UNGROUPED)]
            c.task_skew = max(c.task_skew, max(durs) / med)
    return log


def read_event_log(path: str, since_ms: float = 0.0) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse_event_log(fh, since_ms)


def attribute(log: EventLog, span_groups: dict[str, str]) -> dict[str, Counters]:
    """Sum per-group counters into per-span-name counters.

    ``span_groups`` maps each job group to the span name that owned it;
    groups no span owns land under their own id.
    """
    out: dict[str, Counters] = {}
    for group, c in log.groups.items():
        out.setdefault(span_groups.get(group, group), Counters()).merge(c)
    return out
