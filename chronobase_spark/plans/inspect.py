"""Physical-plan inspection: assert the plan you meant, not just the
answer you got.

Used by tests (and by hand during tuning) to verify the scale posture:
filters pushed to the parquet scan, projections pruned, dimensions
broadcast, whole-stage codegen covering the hot path. These are the
Catalyst equivalents of every optimization the reference hand-rolled or
left dead (SURVEY.md §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters clause of the scan (empty string if none)."""
    m = re.search(r"PushedFilters: \[(.*?)\]", _executed_plan(df))
    return m.group(1) if m else ""


def read_schema(df: DataFrame) -> str:
    """The ReadSchema clause of the scan — what the reader actually
    materializes (column pruning check)."""
    m = re.search(r"ReadSchema: (\S+)", _executed_plan(df))
    return m.group(1) if m else ""


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in _executed_plan(df)
