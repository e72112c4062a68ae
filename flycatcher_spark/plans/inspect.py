"""Parse a DataFrame's executed physical plan into a structured report.

Works on the plan *tree string* (stable across Spark 3.5/4.x for the
node names we match), after forcing AQE final-plan materialization
where possible. The report is intentionally coarse — node counts and
scan details — because that's the granularity scale reviews happen at:

- ``n_shuffles`` > 0 inside a per-row pipeline means a repartition
  got introduced somewhere it shouldn't be;
- an empty ``pushed_filters`` on a filtered parquet scan means the
  predicate is being applied post-scan (full-table read at 100 TB);
- ``python_nodes`` in a hot path means rows leave the JVM;
- ``nested_loop_joins`` almost always means a non-equi predicate
  planned as a single-task BroadcastNestedLoopJoin.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandasWithState",
)


@dataclass
class PlanReport:
    n_shuffles: int = 0
    n_broadcasts: int = 0
    broadcast_hash_joins: int = 0
    shuffled_hash_joins: int = 0
    sort_merge_joins: int = 0
    nested_loop_joins: int = 0
    python_nodes: list[str] = field(default_factory=list)
    scans: list[dict] = field(default_factory=list)
    codegen_stages: int = 0
    plan: str = ""

    @property
    def pushed_filters(self) -> list[str]:
        return [f for s in self.scans for f in s["pushed_filters"]]

    def summary(self) -> str:
        lines = [
            f"shuffles={self.n_shuffles} broadcasts={self.n_broadcasts} "
            f"codegen_stages={self.codegen_stages}",
            f"joins: bhj={self.broadcast_hash_joins} shj={self.shuffled_hash_joins} "
            f"smj={self.sort_merge_joins} bnlj={self.nested_loop_joins}",
        ]
        if self.python_nodes:
            lines.append(f"python: {', '.join(self.python_nodes)}")
        for s in self.scans:
            lines.append(
                f"scan {s['format']}: pushed={s['pushed_filters']} "
                f"schema={s['read_schema'][:80]}"
            )
        return "\n".join(lines)


def _executed_plan_string(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString()


def _formatted_plan_string(df: DataFrame) -> str:
    """explain('formatted') text: scan attributes (PushedFilters,
    ReadSchema) appear one per line in the details section, so they
    are never lost to the tree-string line truncation that drops
    them from wide scans in ``executedPlan().toString()``."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_report(df: DataFrame) -> PlanReport:
    """Inspect ``df``'s executed physical plan (pre-execution AQE tree;
    node set matches what would run)."""
    plan = _executed_plan_string(df)
    r = PlanReport(plan=plan)
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*(0123456789)")
        if stripped.startswith("Exchange"):
            r.n_shuffles += 1
        elif stripped.startswith("BroadcastExchange"):
            r.n_broadcasts += 1
        elif stripped.startswith("BroadcastHashJoin"):
            r.broadcast_hash_joins += 1
        elif stripped.startswith("ShuffledHashJoin"):
            r.shuffled_hash_joins += 1
        elif stripped.startswith("SortMergeJoin"):
            r.sort_merge_joins += 1
        elif stripped.startswith("BroadcastNestedLoopJoin") or stripped.startswith(
            "CartesianProduct"
        ):
            r.nested_loop_joins += 1
        for node in _PYTHON_NODES:
            if stripped.startswith(node):
                r.python_nodes.append(node)
    r.codegen_stages = len(set(re.findall(r"\*\((\d+)\)", plan)))

    # Scan details come from explain('formatted'), where PushedFilters
    # and ReadSchema are standalone lines — the tree string truncates
    # them away on wide scans (maxToStringFields), which would make a
    # healthy pushdown look missing.
    current: dict | None = None
    for line in _formatted_plan_string(df).splitlines():
        ls = line.strip()
        scan_m = re.match(r"\(\d+\) (?:Batch)?Scan (\w+)", ls)
        if scan_m:
            current = dict(format=scan_m.group(1), pushed_filters=[], read_schema="")
            r.scans.append(current)
        elif current is not None and ls.startswith("PushedFilters: ["):
            inner = ls[len("PushedFilters: [") :].rstrip("]")
            # each filter is Name(args…), possibly one level nested
            # (Not(EqualTo(c,v))) — match whole units, not commas
            current["pushed_filters"] = re.findall(
                r"\w+\((?:[^()]|\([^()]*\))*\)", inner
            )
        elif current is not None and ls.startswith("ReadSchema: "):
            current["read_schema"] = ls[len("ReadSchema: ") :]
            current = None
    return r


def assert_no_shuffle(df: DataFrame, msg: str = "") -> PlanReport:
    """Raise if the plan contains a shuffle Exchange (broadcasts OK)."""
    r = plan_report(df)
    if r.n_shuffles:
        raise AssertionError(
            f"expected shuffle-free plan{': ' + msg if msg else ''}\n{r.summary()}"
        )
    return r


def assert_pushed_filters(df: DataFrame, msg: str = "") -> PlanReport:
    """Raise if no scan in the plan received pushed-down filters."""
    r = plan_report(df)
    if not r.pushed_filters:
        raise AssertionError(
            f"expected pushed filters at the scan{': ' + msg if msg else ''}\n"
            f"{r.summary()}"
        )
    return r


def assert_jvm_only(df: DataFrame, msg: str = "") -> PlanReport:
    """Raise if any Python evaluation node is in the plan."""
    r = plan_report(df)
    if r.python_nodes:
        raise AssertionError(
            f"expected JVM-only plan{': ' + msg if msg else ''}\n{r.summary()}"
        )
    return r
