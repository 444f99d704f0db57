"""Physical-plan inspection helpers (SURVEY.md §4): the engine's
scale-correctness guardrails.

Plans are the contract with the optimizer: a filter that stops being
pushed down, a broadcast that silently becomes a sort-merge join, or a
stray Exchange are 100 TB regressions that row-count tests can't see.
``tests/test_plans.py`` pins the intended shapes with these helpers.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what .explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from files (column-pruning check)."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count (Exchange operators, excluding reused ones)."""
    p = plan_string(df)
    return len(re.findall(r"\(\d+\) Exchange", p))


def has_operator(df: DataFrame, name: str) -> bool:
    return name in plan_string(df)


def join_strategies(df: DataFrame) -> list[str]:
    p = plan_string(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        p,
    )


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen span count — wider stages = fewer JVM
    virtual-call boundaries. Handles both explain renderings: simple
    mode prints ``WholeStageCodegen (N)`` headers, formatted mode tags
    operators with ``[codegen id : N]``."""
    p = plan_string(df)
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", p))
    ids |= set(re.findall(r"codegen id : (\d+)", p))
    return len(ids)


def final_plan_string(df: DataFrame) -> str:
    """The POST-execution (AQE-final) physical plan. Executes the
    DataFrame via collect() — AQE re-optimizes per materialized stage,
    so join strategies/exchanges in the pre-execution explain can be
    superseded at runtime (broadcast↔SMJ promotions and demotions,
    coalesced or skew-split shuffle reads). Only this string is
    evidence of what actually ran. Use on audit-sized frames."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def final_exchange_count(s: str) -> int:
    """Shuffle-exchange count in an executedPlan string (broadcast
    exchanges excluded — they are the CHEAP kind; the number that
    matters at 100 TB is full-data repartitions). ReusedExchange and
    AQE ShuffleQueryStage wrappers are not double-counted: only
    'Exchange hashpartitioning/rangepartitioning/...' source nodes."""
    return len(
        re.findall(
            r"(?<!Broadcast)(?<!Reused)Exchange (?:hash|range|Round|Single)",
            s,
        )
    )
