"""Declarative data-quality constraint checking (Deequ-style).

The reference's only quality gates are row-count guards (SURVEY.md §5:
``count()==0 -> SystemExit``); production tables need column-level
contracts — completeness, uniqueness, bounds, set membership — evaluated
cheaply and reported per rule. This module compiles a rule list into ONE
aggregate pass over the table (every rule becomes an aggregate
expression; no per-rule scans, no driver loops), returning a tidy
(rule, column, passed, observed, threshold) report that pipelines can
gate on or write next to the table.

All rules are plain ANSI aggregates, so a report is value-verifiable in
SQL (q127's oracle recomputes it in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def completeness(col: str) -> dict:
    """Fraction of non-null values must be 1.0."""
    return {"rule": "completeness", "column": col, "threshold": 1.0}


def uniqueness(col: str) -> dict:
    """Distinct values / rows must be 1.0 (a primary key)."""
    return {"rule": "uniqueness", "column": col, "threshold": 1.0}


def bounds(col: str, lo: float, hi: float) -> dict:
    """Fraction of values inside [lo, hi] must be 1.0."""
    return {"rule": "bounds", "column": col, "threshold": 1.0, "lo": lo, "hi": hi}


def membership(col: str, allowed: list[str]) -> dict:
    """Fraction of values in the allowed set must be 1.0."""
    return {"rule": "membership", "column": col, "threshold": 1.0, "allowed": allowed}


def _observed_expr(rule: dict, n: Column) -> Column:
    """The rule's observed ratio as ONE aggregate expression, in exact
    integer counts divided once at the end (cross-engine stable)."""
    c = F.col(rule["column"])
    kind = rule["rule"]
    if kind == "completeness":
        return F.count(c).cast("double") / n
    if kind == "uniqueness":
        return F.countDistinct(c).cast("double") / n
    if kind == "bounds":
        ok = F.sum(
            F.when(c.between(rule["lo"], rule["hi"]), 1).otherwise(0)
        )
        return ok.cast("double") / n
    if kind == "membership":
        ok = F.sum(F.when(c.isin(*rule["allowed"]), 1).otherwise(0))
        return ok.cast("double") / n
    raise ValueError(f"unknown rule kind: {kind!r}")


def check_constraints(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate every rule in ONE aggregate job; returns one report row
    per rule: (rule, column, observed, threshold, passed).

    Scale shape: a single map-combined global aggregate — the scan cost
    is one pass regardless of rule count; countDistinct rules add their
    usual expand-distinct step, shared across rules on the same column.
    The report is rule-count-sized (tiny)."""
    n = F.count(F.lit(1))
    aggs = [
        _observed_expr(r, n).alias(f"_obs_{i}") for i, r in enumerate(rules)
    ]
    row = df.agg(*aggs)
    reports = []
    for i, r in enumerate(rules):
        reports.append(
            F.struct(
                F.lit(r["rule"]).alias("rule"),
                F.lit(r["column"]).alias("column"),
                F.col(f"_obs_{i}").alias("observed"),
                F.lit(float(r["threshold"])).alias("threshold"),
                (F.col(f"_obs_{i}") >= F.lit(float(r["threshold"]))).alias("passed"),
            )
        )
    return row.select(F.explode(F.array(*reports)).alias("r")).select("r.*")
