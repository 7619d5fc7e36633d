"""Declarative data-quality checks in ONE aggregation pass.

Training-data pipelines gate every ingest on validation suites
(dbt tests / Great Expectations style): null rates, value ranges,
uniqueness, referential membership, freshness. The scale-correct
execution shape is to fold EVERY check into a single `agg()` over one
scan — each check is a conditional count/extremum, so N checks cost one
pass and one tiny result row, never N scans.

``run_checks`` compiles a list of check specs into that single pass and
returns one row per check: (check, column, violations, total, passed).
Uniqueness needs its own aggregation grain (count per value), so unique
checks compile into a second, grouped pass — still one scan per distinct
grain, not per check.

Check specs (dicts):
- ``{"check": "not_null", "column": c}``
- ``{"check": "range", "column": c, "min": lo, "max": hi}`` (either bound
  optional)
- ``{"check": "in_set", "column": c, "values": [...]}``
- ``{"check": "regex", "column": c, "pattern": p}`` (full-match)
- ``{"check": "unique", "column": c}``
"""

from __future__ import annotations

from typing import Dict, List

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..session import literal_df


def _violation_expr(spec: Dict):
    c = F.col(spec["column"])
    kind = spec["check"]
    if kind == "not_null":
        return c.isNull()
    if kind == "range":
        cond = F.lit(False)
        if "min" in spec:
            cond = cond | (c < spec["min"])
        if "max" in spec:
            cond = cond | (c > spec["max"])
        return c.isNotNull() & cond
    if kind == "in_set":
        return c.isNotNull() & ~c.isin(list(spec["values"]))
    if kind == "regex":
        return c.isNotNull() & ~c.rlike(f"^(?:{spec['pattern']})$")
    raise ValueError(f"unknown check {kind!r}")


def run_checks(df: DataFrame, checks: List[Dict]) -> DataFrame:
    """Compile checks into one aggregation pass (+ one grouped pass per
    unique-check grain) → (check, column, violations, total, passed)."""
    scalar = [s for s in checks if s["check"] != "unique"]
    uniques = [s for s in checks if s["check"] == "unique"]

    results = []
    if scalar:
        aggs = [F.count(F.lit(1)).alias("_total")]
        for i, spec in enumerate(scalar):
            aggs.append(
                F.sum(F.when(_violation_expr(spec), 1).otherwise(0)).alias(f"_v{i}")
            )
        row = df.agg(*aggs)
        for i, spec in enumerate(scalar):
            results.append(
                row.select(
                    F.lit(spec["check"]).alias("check"),
                    F.lit(spec["column"]).alias("column"),
                    F.col(f"_v{i}").cast("bigint").alias("violations"),
                    F.col("_total").cast("bigint").alias("total"),
                    (F.col(f"_v{i}") == 0).alias("passed"),
                )
            )
    for spec in uniques:
        c = spec["column"]
        dup = (
            df.where(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        row = dup.agg(
            F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0)).alias("_v"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("_total"),
        )
        results.append(
            row.select(
                F.lit("unique").alias("check"),
                F.lit(c).alias("column"),
                F.col("_v").cast("bigint").alias("violations"),
                F.col("_total").cast("bigint").alias("total"),
                (F.col("_v") == 0).alias("passed"),
            )
        )
    if not results:  # no checks supplied → empty report, not an IndexError
        return literal_df(
            df.sparkSession,
            [],
            StructType.fromDDL(
                "check string, column string, violations bigint, total bigint, passed boolean"
            ),
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def assert_checks(df: DataFrame, checks: List[Dict]) -> None:
    """Fail-fast gate: raises with the failing report rows."""
    report = run_checks(df, checks).collect()
    failed = [r for r in report if not r.passed]
    if failed:
        lines = "; ".join(
            f"{r.check}({r.column}): {r.violations}/{r.total}" for r in failed
        )
        raise AssertionError(f"data-quality checks failed: {lines}")
