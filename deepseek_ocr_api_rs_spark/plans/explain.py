"""Helpers to assert plan properties in tests — the '.explain and iterate'
discipline as executable checks, not eyeballing.

What we assert per operator family (SURVEY.md §4):
- scans: PushedFilters carries our predicates; ReadSchema is pruned;
- joins: small dims resolve to BroadcastHashJoin, facts to one exchange;
- aggregations: partial_ (map-side combine) before the exchange;
- UDF stages: exactly one ArrowEvalPython/MapInPandas/MapInArrow, no Python
  in filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    # AQE wraps the plan; count Exchange operators in the final string
    return physical_plan(df).count("Exchange")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    plan = physical_plan(df)
    if "PushedFilters" not in plan:
        return ""
    return plan.split("PushedFilters")[1].split("]", 1)[0] + "]"


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present (HashAggregate with partial_ functions)."""
    return "partial_" in physical_plan(df)
