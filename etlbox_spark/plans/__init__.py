"""Plan-inspection helpers — tests use these to assert that operators
produce the physical plans we want (pushdown reached the scan, the dim
side broadcast, codegen covers the hot path). SURVEY.md §4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def has_pushed_filters(df: DataFrame) -> bool:
    return "PushedFilters: [" in formatted_plan(df) and "PushedFilters: []" not in formatted_plan(df)


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists of every parquet scan in the plan."""
    import re

    txt = formatted_plan(df)
    return re.findall(r"ReadSchema: struct<([^>]*)>", txt)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)
