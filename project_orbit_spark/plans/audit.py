"""Physical-plan audit: assert the plans we want, not just results.

SURVEY.md §4: the engine's performance contract is that Catalyst
actually applies predicate pushdown, column pruning, broadcast join
selection, partial aggregation, and whole-stage codegen to our
declared plans. This module turns `.explain` into checkable
properties so a regression (e.g. a broadcast silently becoming a
sort-merge join + shuffle) fails tests instead of shipping.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


@dataclass
class PlanFacts:
    """Properties extracted from a formatted physical plan."""

    n_broadcast_joins: int
    n_sortmerge_joins: int
    n_shuffles: int
    n_codegen_spans: int  # 0 pre-execution under AQE (markers appear at runtime)
    partial_agg: bool  # map-side partial aggregation present
    pushed_filters: bool
    pruned_scan: bool  # any scan reading a strict column subset
    text: str


def audit(df: DataFrame) -> PlanFacts:
    text = formatted_plan(df)
    # codegen spans are only visible as "*(n)" stage markers in the
    # simple-mode plan string
    simple = simple_plan(df)
    return PlanFacts(
        n_broadcast_joins=text.count("BroadcastHashJoin")
        + text.count("BroadcastNestedLoopJoin"),
        n_sortmerge_joins=text.count("SortMergeJoin"),
        n_shuffles=text.count("Exchange"),
        n_codegen_spans=simple.count("*("),
        partial_agg="partial_" in simple,
        pushed_filters="PushedFilters: [" in text
        and any(
            seg.split("]")[0].strip() for seg in text.split("PushedFilters: [")[1:]
        ),
        pruned_scan="ReadSchema" in text,
        text=text,
    )

