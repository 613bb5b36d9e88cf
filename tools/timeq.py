"""Time queries with bench.py's methodology (noop sink, warm session),
split into BUILD (the Python query() call: plan construction and
analysis) and EXEC (the noop write).  Prints the min over N reps of
each phase and of their sum, with every rep's times.
Usage: python tools/timeq.py [sf_dir] [--reps N] [q1 q2 ...]
With no query names, times every query; --reps defaults to 1."""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args and "/" in args[0] else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    names = [a for a in args if "/" not in a]
    spark = get_spark(app_name="timeq")
    qs = entrymod.queries()
    qs["q1_pricing_summary"](spark, sf_dir).collect()  # warmup
    for name in names or qs:
        builds, execs = [], []
        for _ in range(reps):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            builds.append(round(t1 - t0, 3))
            execs.append(round(t2 - t1, 3))
        total = min(b + e for b, e in zip(builds, execs))
        print(
            f"{name}: min={total:.3f} build_min={min(builds)} "
            f"exec_min={min(execs)} builds={builds} execs={execs}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
