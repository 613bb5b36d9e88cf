"""One reader for a query's plan shape.

`plan_record(df)` walks `df`'s executed physical plan once, through
every node's children and subqueries, into the plan an adaptive (AQE)
root wraps and into the cached plan of an `InMemoryTableScan`, and
counts the operators that decide what a plan costs at scale.  It walks
the analyzed plan once more for the broadcast hints, which the
optimizer folds into join nodes before the physical plan exists.
`counted_build` counts the Spark jobs a query build starts; a build
should only plan.  `PLANS.json` (written by `tools/plan_manifest.py`)
holds one `manifest_record` per query; `tests/test_shuffle_budgets.py`
checks the fresh records against it, so a query keeps a global window,
a broadcast fact table, a final-only aggregate or a build-time job only
while its entry records one.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql import DataFrame

# join nodes that carry a buildSide (SortMergeJoin and
# CartesianProduct have none)
_BUILD_SIDED = ("BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
# Entity tables whose cardinality grows with the data: a broadcast hint
# over one of these with no aggregate or limit shrinking it first
# overrides the size threshold and fails at scale.  Dimension tables
# (region/nation/part/customer/supplier at TPC-H ratios) stay
# broadcastable.  A relation's string shows only its columns, so a fact
# is recognized by its signature key column.
_FACT_MARKERS = ("l_orderkey#", "o_orderkey#", "event_id#", "doc_id#", "vec_id#")
_SHRINKING_NODES = ("Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate")


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


def _hints(node) -> tuple[int, int, bool]:
    """(broadcast `ResolvedHint`s at or below the analyzed-plan `node`,
    those of them over an unshrunk fact relation, whether a fact
    relation is reachable from `node` through its children without
    passing an aggregate or limit)."""
    hints = facts = 0
    unshrunk = False
    for seq, is_child in ((node.children(), True), (node.subqueries(), False)):
        for i in range(seq.size()):
            h, f, u = _hints(seq.apply(i))
            hints, facts, unshrunk = hints + h, facts + f, unshrunk or (u and is_child)
    name = node.nodeName()
    if name in _SHRINKING_NODES:
        unshrunk = False
    elif name in ("LogicalRelation", "Relation"):
        unshrunk = any(m in node.toString() for m in _FACT_MARKERS)
    elif name == "ResolvedHint" and node.hints().toString() == "(strategy=broadcast)":
        hints, facts = hints + 1, facts + unshrunk
    return hints, facts, unshrunk


def counted_build(spark, build) -> tuple[DataFrame, int]:
    """Call `build()` (a query build) under a job group of its own;
    return its DataFrame and the number of Spark jobs the call started.
    A build that only plans starts none.  The status store hears of a
    job through the asynchronous listener bus, so the count waits for
    the bus to drain."""
    sc = spark.sparkContext
    group = f"build-{id(build)}-{time.monotonic_ns()}"
    sc.setJobGroup(group, "query build")
    try:
        df = build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def manifest_record(spark, build) -> dict:
    """A query's `PLANS.json` record: the `plan_record` of one
    `build()` with AQE off (the static plan, where a repeated exchange
    shows as reused), plus `build_jobs`, the jobs a second `build()`
    starts with AQE on, the session default under which taking a
    checkpoint runs its subplan."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rec = plan_record(build())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    _, rec["build_jobs"] = counted_build(spark, build)
    return rec


def plan_record(df: DataFrame) -> dict:
    """Counts of shuffles (`Exchange`), broadcasts (`BroadcastExchange`),
    `Generate` nodes, checkpoints (RDD scans) and global windows (a
    `Window` with no partitionSpec runs on one partition) in `df`'s
    executed plan; `no_partial_agg` 1 when the plan hash-aggregates and
    no aggregate runs in `Partial` (map-side) mode; its joins as a
    sorted list of `"<JoinNode>/<buildSide>"` (just `"<JoinNode>"` when
    the join has no build side); and, from the analyzed plan, every
    broadcast hint (`broadcast_hints`) and the hints over a fact table
    that nothing shrinks first (`fact_broadcasts`)."""
    qe = df._jdf.queryExecution()
    rec = {"shuffles": 0, "broadcasts": 0, "generates": 0, "checkpoints": 0, "global_windows": 0}
    joins = []
    aggs = partial = False
    for node in walk(qe.executedPlan()):
        name = node.nodeName()
        if name == "Exchange":
            rec["shuffles"] += 1
        elif name == "BroadcastExchange":
            rec["broadcasts"] += 1
        elif name == "Generate":
            rec["generates"] += 1
        elif name == "Window":
            rec["global_windows"] += node.partitionSpec().isEmpty()
        elif name in ("HashAggregate", "ObjectHashAggregate"):
            aggs = True
            exprs = node.aggregateExpressions()
            partial = partial or any(
                str(exprs.apply(i).mode()) == "Partial" for i in range(exprs.size())
            )
        elif name in _BUILD_SIDED:
            joins.append(f"{name}/{node.buildSide()}")
        elif name.endswith("Join") or name == "CartesianProduct":
            joins.append(name)
        elif name.startswith("Scan") and node.getClass().getSimpleName() == "RDDScanExec":
            rec["checkpoints"] += 1
    rec["no_partial_agg"] = int(aggs and not partial)
    rec["broadcast_hints"], rec["fact_broadcasts"], _ = _hints(qe.analyzed())
    rec["joins"] = sorted(joins)
    return rec
