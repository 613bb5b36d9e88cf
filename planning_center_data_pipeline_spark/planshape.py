"""One reader for a query's physical plan shape.

`plan_record(df)` walks `df`'s executed physical plan once, through
every node's children and subqueries, into the plan an adaptive (AQE)
root wraps and into the cached plan of an `InMemoryTableScan`, and
counts the operators that decide what a plan costs at scale.
`PLANS.json` (written by `tools/plan_manifest.py`) holds one record per
query; `tests/test_shuffle_budgets.py` checks the fresh records against
it and `tools/plan_audit.py` reads the same walk.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

# join nodes that carry a buildSide (SortMergeJoin and
# CartesianProduct have none)
_BUILD_SIDED = ("BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def walk(node) -> Iterator:
    """Yield `node` (a JVM plan node, logical or physical) and every
    node below it: its children, the plans of its subquery expressions,
    the current plan under an `AdaptiveSparkPlan` (a leaf node whose
    children and subqueries are empty; before execution its plan is the
    initial one, exchanges included) and, under an in-memory scan, the
    cached plan."""
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from walk(node.executedPlan())
    elif node.nodeName() == "InMemoryTableScan":
        yield from walk(node.relation().cachedPlan())
    for seq in (node.children(), node.subqueries()):
        for i in range(seq.size()):
            yield from walk(seq.apply(i))


def plan_record(df: DataFrame) -> dict:
    """Counts of shuffles (`Exchange`), broadcasts (`BroadcastExchange`),
    `Generate` nodes and checkpoints (RDD scans) in `df`'s executed
    plan, plus its joins as a sorted list of `"<JoinNode>/<buildSide>"`
    (just `"<JoinNode>"` when the join has no build side)."""
    rec = {"shuffles": 0, "broadcasts": 0, "generates": 0, "checkpoints": 0}
    joins = []
    for node in walk(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name == "Exchange":
            rec["shuffles"] += 1
        elif name == "BroadcastExchange":
            rec["broadcasts"] += 1
        elif name == "Generate":
            rec["generates"] += 1
        elif name in _BUILD_SIDED:
            joins.append(f"{name}/{node.buildSide()}")
        elif name.endswith("Join") or name == "CartesianProduct":
            joins.append(name)
        elif name.startswith("Scan") and node.getClass().getSimpleName() == "RDDScanExec":
            rec["checkpoints"] += 1
    rec["joins"] = sorted(joins)
    return rec
