"""Plan-inspection helpers — the engine's 'did Catalyst do what we
designed for?' checks, used by tests and scale reviews.

At 100 TB the difference between TakeOrderedAndProject and a global sort,
or between a broadcast join and a shuffle join, is the difference between
minutes and hours; these helpers make those properties assertable."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_plan_contains(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    missing = [f for f in fragments if f not in plan]
    if missing:
        raise AssertionError(f"plan missing {missing}; got:\n{plan[:4000]}")


def assert_plan_lacks(df: DataFrame, *fragments: str) -> None:
    plan = physical_plan(df)
    present = [f for f in fragments if f in plan]
    if present:
        raise AssertionError(f"plan unexpectedly contains {present}; got:\n{plan[:4000]}")
