"""Count scale-relevant physical-plan facts for a DataFrame.

Facts (read off ``executedPlan`` after AQE initial planning):

- ``scans`` parquet scans and ``cached`` InMemoryTableScan reads; when
  ``cached`` > 0 the parquet count includes the cached relation's PRINTED
  lineage — each cache reference re-prints the plan beneath it, but only
  the first materialization executes a real scan
- ``exchanges`` (shuffles) and ``single_part`` (single-partition exchanges
  — a global sort/limit funnel unless the frame is presentation-sized)
- ``bcast_join`` BroadcastHashJoin vs ``smj`` SortMergeJoin
- ``codegen`` WholeStageCodegen span count (JVM hot path) vs the
  Arrow/Python evaluation nodes (``arrow_eval`` / ``grouped_pandas`` /
  ``map_pandas``)
- ``cartesian`` / ``bnlj`` — red flags unless the build side is a 1-row
  scalar frame
- ``expensive_filters`` physical ``Filter`` nodes whose condition holds an
  expensive computed expression (see ``EXPENSIVE`` below)
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame

MARKS = [
    ("scans", r"Scan parquet"),
    ("cached", r"InMemoryTableScan"),
    ("exchanges", r"Exchange "),
    ("single_part", r"SinglePartition"),
    ("bcast_join", r"BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("shj", r"ShuffledHashJoin"),
    ("codegen", r"\*\(\d+\)"),
    ("arrow_eval", r"ArrowEvalPython"),
    ("grouped_pandas", r"FlatMapGroupsInPandas"),
    ("map_pandas", r"MapInPandas"),
    ("cartesian", r"CartesianProduct"),
    ("bnlj", r"BroadcastNestedLoopJoin"),
]

RED_FLAGS = ("cartesian", "bnlj")

# Micro-batch physical-plan facts for the streaming queries (VERDICT r7
# #6): the state-layout-relevant node counts. A state-store operator
# appearing or disappearing (an aggregation changing shape, a dedup losing
# its watermark, a grouped-pandas-with-state kernel degrading to a batch
# join) changes these counts and fails the golden diff mechanically.
STREAM_MARKS = [
    ("state_save", r"StateStoreSave"),
    ("state_restore", r"StateStoreRestore"),
    ("stream_dedup", r"StreamingDeduplicate"),
    ("pandas_with_state", r"FlatMapGroupsInPandasWithState"),
    ("watermarks", r"EventTimeWatermark"),
    ("exchanges", r"Exchange "),
    ("single_part", r"SinglePartition"),
    ("codegen", r"\*\(\d+\)"),
    ("grouped_pandas", r"FlatMapGroupsInPandas\b"),
]


# A Filter condition holding one of these re-evaluates a computed
# expression (HOF, tokenizer split, hash chain, sequence build) that
# Catalyst inlined by pushing the predicate below its Project; with HOFs
# in the plan there is no subexpression elimination, so the work is done
# twice (SCALE.md "Filter pushback").
EXPENSIVE = re.compile(
    r"lambdafunction|aggregate\(|transform\(|zip_with|"
    r"regexp_|sentences\(|split\(|md5\(|xxhash64\(|array_sort|sequence\("
)


def plan_text(df: DataFrame) -> str:
    """``df``'s executed physical plan as text (does not run the query)."""
    return df._jdf.queryExecution().executedPlan().toString()


def expensive_filter_conditions(plan: str) -> list[str]:
    """The condition (first 200 chars) of every ``Filter`` node in ``plan``
    matching ``EXPENSIVE`` — a scan's ``PushedFilters:`` field is no node."""
    conds = []
    for line in plan.splitlines():
        s = line.strip()
        if "Filter" in s and s.split("Filter", 1)[0].strip(" +-*()0123456789") == "":
            cond = s.split("Filter", 1)[1]
            if EXPENSIVE.search(cond):
                conds.append(cond[:200])
    return conds


def _count(marks: list[tuple[str, str]], plan: str) -> dict[str, int]:
    return {k: len(re.findall(p, plan)) for k, p in marks}


def streaming_plan_facts(plan: str) -> dict[str, int]:
    """Fact counts for a streaming micro-batch plan string (as returned by
    ``streaming.replay.last_plan``)."""
    return _count(STREAM_MARKS, plan)


def plan_facts(df: DataFrame) -> dict[str, int]:
    """Fact counts for ``df``'s executed plan (does not run the query)."""
    plan = plan_text(df)
    return {
        **_count(MARKS, plan),
        "expensive_filters": len(expensive_filter_conditions(plan)),
    }


def plan_flags(facts: dict[str, int]) -> list[str]:
    """Red-flag names present in ``facts`` (BNLJ is fine for 1-row scalar
    frames — the caller knows which frames those are)."""
    return [k.upper() for k in RED_FLAGS if facts.get(k)]
