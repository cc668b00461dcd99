"""Join/aggregate key-skew advisor.

At 100 TB the difference between a 40-minute and a 14-hour job is
usually one hot key: a shuffled join hashes every row of a key to ONE
task, so the largest key bounds the stage's critical path. This module
measures that before you pay for it: `skew_report` profiles a key
column with a single aggregate pass, and `suggest_salts` turns the
profile into the salting factor `operators.relational.salted_join`
expects (n_salts ~ hot-key share / fair share), so remediation is a
measured decision instead of a guess. AQE's skew-join handles the
sort-merge case at runtime; this is for aggregate-after-join hotspots,
pre-AQE engines, and capacity planning.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SkewReport(NamedTuple):
    n_rows: int
    n_keys: int
    top_keys: list[tuple]  # (key_value, count), descending
    max_share: float  # top key's fraction of all rows
    fair_share: float  # 1 / n_keys — what a uniform key would carry
    skew_ratio: float  # max_share / fair_share (1.0 == perfectly uniform)


_TARGET_RATIO = 4.0  # hottest key's per-task load suggest_salts aims for, x fair share


def skew_report(df: DataFrame, key_col: str) -> SkewReport:
    """Profile key-frequency skew with ONE map-side-combined aggregate
    (the groupBy shuffles at most n_keys rows) plus a bounded top-10
    heap. Collects the top 10 plus 2 totals — the report, not the data.

    The key-count table is persisted across the two actions (totals,
    top-n) so the full-input scan + shuffle runs once; only the
    n_keys-row counts table is re-read for the heap."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n")).persist()
    try:
        totals = counts.agg(
            F.sum("_n").alias("_rows"), F.count(F.lit(1)).alias("_keys")
        ).collect()[0]
        n_rows, n_keys = int(totals["_rows"] or 0), int(totals["_keys"] or 0)
        top = counts.orderBy(F.desc("_n"), key_col).limit(10).collect()
        top_keys = [(r[key_col], int(r["_n"])) for r in top]
    finally:
        counts.unpersist()
    if n_rows == 0 or n_keys == 0:
        return SkewReport(0, 0, [], 0.0, 0.0, 0.0)
    max_share = top_keys[0][1] / n_rows
    fair = 1.0 / n_keys
    return SkewReport(n_rows, n_keys, top_keys, max_share, fair, max_share / fair)


def suggest_salts(report: SkewReport, max_salts: int = 256) -> int:
    """Salting factor that brings the hottest key's per-task load down
    to ~_TARGET_RATIO x the fair share: n_salts = ceil(skew_ratio /
    _TARGET_RATIO), clamped to [1, max_salts] (each salt replicates the
    small side of a salted join, so unbounded salting trades skew for
    broadcast volume). 1 means 'no salting needed'."""
    import math

    if report.skew_ratio <= _TARGET_RATIO:
        return 1
    return max(1, min(max_salts, math.ceil(report.skew_ratio / _TARGET_RATIO)))
