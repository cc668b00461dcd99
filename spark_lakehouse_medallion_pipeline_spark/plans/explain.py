"""Plan-inspection helpers — the feedback loop for scale tuning.

Usage: assert_pushed_filters / scan_columns in tests keep us honest that
predicates and pruning reach the parquet scan (SURVEY.md §4); dump() is
for interactive iteration on shuffle/broadcast shapes.

CLASSIC-ONLY: these helpers reach into JVM internals
(``df._sc._jvm.PythonSQLUtils``) that do not exist under Spark Connect.
That is acceptable for a test/tuning module — nothing under
``operators/`` or ``queries/`` imports it at runtime — but do not call
it from production paths on a Connect cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def dump(df: DataFrame) -> None:
    print(formatted(df))


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the physical plan shows non-empty parquet PushedFilters."""
    plan = formatted(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_schema_contains_only(df: DataFrame, allowed: set[str]) -> bool:
    """True if every ReadSchema field in parquet scans is in ``allowed`` —
    i.e. column pruning reached the scan."""
    import re

    plan = formatted(df)
    matches = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    if not matches:
        # No scan found at all — never report "pruned" vacuously (the
        # exchange counter had exactly this bug).
        return False
    for group in matches:
        fields = [f.split(":")[0].strip() for f in group.split(",") if f.strip()]
        if any(f not in allowed for f in fields):
            return False
    return True


def count_exchanges(df: DataFrame) -> int:
    """Number of SHUFFLE exchanges in the physical plan — the scale metric
    to minimize (every exchange is a full network pass of its input).

    Counts the formatted-mode detail headers ``(n) Exchange`` — one per
    node — so broadcast exchanges (``(n) BroadcastExchange``) are
    excluded. The old implementation grepped simple-mode strings
    (``Exchange hashpartitioning``) that formatted mode never emits and
    always returned 0, silently making every budget assertion vacuous."""
    import re

    plan = formatted(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))
