"""Physical-plan fact extraction shared by scripts/plan_report.py (the
PLANS.md audit) and tests/test_plan_shape.py (the frozen invariants).

Facts come from the pre-execution physical plan string; 'exchanges'
counts DISTINCT shuffle exchanges of every partitioning (hash, range,
round-robin and single-partition; broadcasts are not shuffles). The
tree printer repeats a reused exchange once per consuming branch, so
they are dedup'd by plan_id."""

from __future__ import annotations

import re


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_facts(plan: str) -> dict:
    exchanges = set(
        re.findall(r"(?<![A-Za-z])Exchange [^\n]*\[plan_id=(\d+)\]", plan)
    )
    scans = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        cols = sorted({c.split("#")[0] for c in m.group(1).split(",") if c})
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", m.group(0))
        scans.append((cols, pushed.group(1) if pushed else ""))
    seen = set()
    scans = [s for s in scans if not (tuple(s[0]) in seen or seen.add(tuple(s[0])))]
    return {
        "exchanges": len(exchanges),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "arrow_stages": plan.count("MapInPandas")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas"),
        "scans": scans,
    }
