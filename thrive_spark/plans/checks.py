"""Plan inspection helpers: assert the physical strategy, not just the
result. A correct answer from a CartesianProduct is still a bug at
100 TB."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan as a string, as a never-executed frame
    prints it.

    Once an adaptive plan has run, its explain prints the final plan
    above the initial one, so every node appears twice. Planning the
    same analyzed plan afresh gives the initial plan alone, whether or
    not ``df`` has been executed."""
    jvm = df._sc._jvm  # noqa: SLF001
    fresh = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df.sparkSession._jsparkSession, df._jdf.logicalPlan()  # noqa: SLF001
    )
    return jvm.PythonSQLUtils.explainString(
        fresh.queryExecution(), "formatted"
    )


def assert_in_plan(df: DataFrame, *needles: str) -> str:
    plan = physical_plan(df)
    for n in needles:
        assert n in plan, f"expected {n!r} in plan:\n{plan}"
    return plan


def assert_not_in_plan(df: DataFrame, *needles: str) -> str:
    plan = physical_plan(df)
    for n in needles:
        assert n not in plan, f"did NOT expect {n!r} in plan:\n{plan}"
    return plan
