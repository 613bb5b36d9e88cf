"""Plan-shape regression tests: every query's physical plan against its
`PLANS.json` entry.  A plan regression (lost broadcast, lost
partitioning reuse, an accidental extra repartition) shows up here as a
count above the entry, or as a join the entry does not hold, long
before it shows up as an sf1 timing: every Exchange is a full shuffle
of its subtree's output at scale, and a lost broadcast turns into a
SortMergeJoin.

Entries are CEILINGS recorded from the current plans by
`tools/plan_manifest.py` (sf0.001, AQE off — AQE can only merge or skip
exchanges at runtime, never add them — and this suite's session
settings).  Raising one is a deliberate edit of PLANS.json: regenerate
it and review the diff.

The joins check guards build-side choices, not every broadcast hint:
at sf0.001 every table is under `autoBroadcastJoinThreshold`, so a
hint on a side Spark would broadcast anyway (q3's customer side, say)
can be removed without changing the plan.  What it does catch is a
lost hint that picks the build side or overrides a large size
estimate, which turns into a different join node or build side.
"""

from __future__ import annotations

import json
from collections import Counter

import __spark_entry__ as entrymod
import pytest
from conftest import REPO, SF_SMOKE

from planning_center_data_pipeline_spark.planshape import plan_record

PLANS = json.loads((REPO / "PLANS.json").read_text())
QUERIES = entrymod.queries()


def test_plan_manifest_names_match_queries():
    assert sorted(PLANS) == sorted(QUERIES)


def test_plan_record_sees_through_adaptive_root(spark):
    """With AQE on (the session default) the executed plan is a single
    `AdaptiveSparkPlan` leaf; the walk must still reach the exchanges
    and joins under it, or plan_audit's cartesian/BNLJ flags go blind.
    q22's broadcast cross join against its 1-row average is one that
    plan_audit allows (CROSS_OK)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    got = plan_record(QUERIES["q22_idle_customers"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin/BuildRight" in got["joins"], got
    assert got["shuffles"] > 0, got


# `budget` only names the test (`<query>-<shuffles>`, the form the
# hand-budget IDs had); the counts are checked against the whole entry
@pytest.mark.parametrize(
    "name,budget", sorted((n, PLANS.get(n, {}).get("shuffles")) for n in QUERIES)
)
def test_shuffle_budget(spark, name, budget):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = plan_record(QUERIES[name](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    want = PLANS[name]
    over = {k: (got[k], want[k]) for k in want if k != "joins" and got[k] > want[k]}
    assert not over, f"{name}: (got, entry) above PLANS.json: {over}"
    extra = Counter(got["joins"]) - Counter(want["joins"])
    assert not extra, f"{name}: joins not in PLANS.json: {sorted(extra.elements())}"
