"""Plan-shape regression tests: every query's plan against its
`PLANS.json` entry.  A plan regression (lost broadcast, lost
partitioning reuse, an accidental extra repartition) shows up here as a
count above the entry, or as a join the entry does not hold, long
before it shows up as an sf1 timing: every Exchange is a full shuffle
of its subtree's output at scale, and a lost broadcast turns into a
SortMergeJoin.  The same ceilings hold the scale hazards: a query keeps
a global window (one-partition `Window`), a broadcast hint over an
unshrunk fact table or a final-only aggregate only while its entry
records one.

Entries are CEILINGS recorded from the current plans by
`tools/plan_manifest.py` (sf0.001, AQE off — AQE can only merge or skip
exchanges at runtime, never add them — and this suite's session
settings).  Raising one is a deliberate edit of PLANS.json: regenerate
it and review the diff.

`build_jobs` is a ceiling too: the Spark jobs a second build of the
query starts with AQE on (the session default), counted under a job
group of its own.  A query build should only plan; a checkpoint or a
driver action that runs at build time shows here, and a new one fails.

`broadcast_hints` is the one exact count.  At sf0.001 every table is
under `autoBroadcastJoinThreshold`, so a hint on a side Spark would
broadcast anyway (q3's customer side, say) can be removed without
changing the physical plan; the hints are counted in the analyzed plan,
where a removed one shows as a count below the entry.

Every build also records its calls to `operators.joins.gated_broadcast`,
so the list of gated queries the both-positions test checks
(`GATED_BROADCASTS`) is held to the queries that place the hint,
including a hint that a localCheckpoint hides from the plan.
"""

from __future__ import annotations

import json
import sys
from collections import Counter

import __spark_entry__ as entrymod
import pytest
from conftest import GATED_BROADCASTS, REPO, SF_SMOKE
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.planshape import (
    counted_build,
    manifest_record,
    plan_record,
)

PLANS = json.loads((REPO / "PLANS.json").read_text())
QUERIES = entrymod.queries()
# the plan modules that import the hint; patching the name there sees
# every call a query build makes
HINTING = [
    mod
    for mod in {sys.modules[fn.__module__] for fn in QUERIES.values()}
    if hasattr(mod, "gated_broadcast")
]


def test_plan_manifest_names_match_queries():
    assert sorted(PLANS) == sorted(QUERIES)


def test_plan_record_sees_through_adaptive_root(spark):
    """With AQE on (the session default) the executed plan is a single
    `AdaptiveSparkPlan` leaf; the walk must still reach the exchanges
    and joins under it.  q22 joins its 1-row average through a
    broadcast nested-loop join."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    got = plan_record(QUERIES["q22_idle_customers"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin/BuildRight" in got["joins"], got
    assert got["shuffles"] > 0, got


def test_counted_build_counts_build_time_jobs(spark):
    """A build that only plans starts no job; an eager checkpoint taken
    while building runs its subplan, and the count sees it."""
    _, idle = counted_build(spark, lambda: spark.range(8).groupBy(F.col("id") % 2).count())
    assert idle == 0
    _, eager = counted_build(spark, lambda: spark.range(8).localCheckpoint(eager=True))
    assert eager >= 1


def _recording(hint, calls):
    def recorded(df):
        calls.append(df)
        return hint(df)

    return recorded


# `budget` only names the test (`<query>-<shuffles>`, the form the
# hand-budget IDs had); the counts are checked against the whole entry
@pytest.mark.parametrize(
    "name,budget", sorted((n, PLANS.get(n, {}).get("shuffles")) for n in QUERIES)
)
def test_shuffle_budget(spark, monkeypatch, name, budget):
    hints = []
    for mod in HINTING:
        monkeypatch.setattr(mod, "gated_broadcast", _recording(mod.gated_broadcast, hints))
    got = manifest_record(spark, lambda: QUERIES[name](spark, SF_SMOKE))
    want = PLANS[name]
    ceilings = [k for k in want if k not in ("joins", "broadcast_hints")]
    over = {k: (got[k], want[k]) for k in ceilings if got[k] > want[k]}
    assert not over, f"{name}: (got, entry) above PLANS.json: {over}"
    assert got["broadcast_hints"] == want["broadcast_hints"], (
        f"{name}: {got['broadcast_hints']} broadcast hint(s), PLANS.json "
        f"holds {want['broadcast_hints']}"
    )
    extra = Counter(got["joins"]) - Counter(want["joins"])
    assert not extra, f"{name}: joins not in PLANS.json: {sorted(extra.elements())}"
    assert bool(hints) == (name in GATED_BROADCASTS), (
        f"{name}: {len(hints)} gated_broadcast call(s); GATED_BROADCASTS must "
        "list exactly the queries that place the hint"
    )
