"""Write PLANS.json: one `planshape.manifest_record` per query, built at
sf0.001 with the pytest fixture's session settings: the plan shape with
AQE off and the jobs a build starts with AQE on (`build_jobs`).
`tests/test_shuffle_budgets.py` fails when a plan grows past its entry.

Usage: python tools/plan_manifest.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.planshape import manifest_record  # noqa: E402
from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan_manifest", shuffle_partitions=4)
    lines = [
        f"{json.dumps(name)}: "
        + json.dumps(manifest_record(spark, lambda: fn(spark, sf_dir)), sort_keys=True)
        for name, fn in sorted(entrymod.queries().items())
    ]
    (REPO / "PLANS.json").write_text("{\n" + ",\n".join(lines) + "\n}\n")
    spark.stop()


if __name__ == "__main__":
    main()
