"""Plan-inspection and layout-audit helpers.

The engine's scale story rests on plan properties, not code paths:
filters reaching the scan, projections pruned, small sides broadcast,
no accidental global sorts.  These helpers make those properties
assertable in tests and observable in notebooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    import re

    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[(.*?)\]", plan)


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — the column-pruning audit: a scan
    reading columns the query never touches is a layout bug."""
    import re

    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError("plan contains a cartesian product:\n" + plan)


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "BroadcastHashJoin" not in plan:
        raise AssertionError("expected a broadcast join:\n" + plan)
