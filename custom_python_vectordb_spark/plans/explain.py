"""Physical-plan introspection helpers.

`.explain("formatted")` as a string plus assertion helpers used by
tests/test_plans.py — the engine's scale guarantees (pushdown, pruning,
broadcast, window-group-limit) are treated as testable invariants, not
hopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_of(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
