"""Spans, statistics and metric plumbing shared by every workload.

Nothing here imports Spark: the tracer talks to a SparkContext only through
the ``set_group`` callback it is given, so the helpers are testable alone.
"""

from __future__ import annotations

import math
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a legal metric name, else raise ValueError."""
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"illegal metric name {name!r}")
    return name


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``%
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct`` sample."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile that leaves at least ten samples above
    it, or None when even the median does not."""
    for pct in TAIL_CANDIDATES:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    group: str


@dataclass
class Tracer:
    """Records spans around calls into a layer.

    A disabled tracer records nothing and touches no job group, so the
    untraced run pays only a context-manager entry per call. When enabled,
    every span gets its own Spark job group (``name#seq``): a group id is
    never reused, so jobs cannot pile up across calls or passes.
    """

    enabled: bool = False
    set_group: object = None  # callable(str | None) or None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _trace_id: int = 0

    def new_trace(self) -> int:
        self._trace_id += 1
        return self._trace_id

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{idx}"
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, self._trace_id, group))
        self._stack.append(idx)
        if self.set_group:
            self.set_group(group)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self.set_group:
                self.set_group(self.spans[parent].group if parent is not None else None)

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "trace_id": s.trace_id}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
