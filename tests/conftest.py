from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# transformWithStateInPandas needs google.protobuf in the driver AND in
# every Python worker.  The container has no protobuf wheel; the shim in
# tests/_pbcompat aliases gcloud's vendored pure-Python runtime.  Must
# happen BEFORE the SparkSession (workers inherit PYTHONPATH at launch;
# sitecustomize.py in that dir installs the alias at worker startup).
_PBCOMPAT = REPO / "tests" / "_pbcompat"
sys.path.insert(0, str(_PBCOMPAT))
import pbcompat  # noqa: E402

HAVE_PROTOBUF = pbcompat.install()
if HAVE_PROTOBUF:
    import os

    # The sitecustomize in _PBCOMPAT is a no-op unless this env var is
    # set (round-7 ADVICE: don't let the shim leak into arbitrary
    # interpreters that merely inherit PYTHONPATH) — only processes of
    # this test session opt in.
    os.environ["SPARK_GRAFT_PBCOMPAT"] = "1"
    os.environ["PYTHONPATH"] = (
        str(_PBCOMPAT) + os.pathsep + os.environ.get("PYTHONPATH", "")
    )

from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# Every query that places an operators.joins.gated_broadcast hint, and
# the columns only the broadcast side carries (one set per hinted join
# visible in the query's plan).  A hinted join inside a localCheckpoint
# (triangle count's degree join) is planned when the checkpoint is taken
# and does not show in the query's plan.  test_shuffle_budget records
# the calls during every query build and fails for a query that places
# a hint without being listed here, or is listed without placing one.
GATED_BROADCASTS = {
    "graph_triangle_count": [{"nbrs_t"}],
    "graph_degree_assortativity": [{"y"}],
    "graph_minhash_neighbors": [{"hv0"}],
    "doc_jaccard_prefix_filter": [{"shs_1"}, {"shs_2"}],
    "doc_jaccard_rare_prefix": [{"shs_1"}, {"shs_2"}],
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
