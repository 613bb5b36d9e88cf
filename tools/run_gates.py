"""One-shot end-of-round gate runner: the exact sequence, in the only
order that can't commit stale evidence.

    python tools/run_gates.py [--skip-pytest]

Runs, serially and stopping at the first failure:
  1. the ROADMAP tier-1 command: pytest tests/ -q
     --continue-on-collection-errors -p no:cacheprovider under a
     2670 s timeout, SPARK_LOCAL_DIRS=/tmp/spark-local  (~19 min)
  2. tools/crosscheck.py --bare --json      at sf0.01 AND sf0.1,
     merged into the both-SF CROSSCHECK_SF01.json shape the snapshot
     gate expects                           (~10 + ~17 min)
  3. bench.py over every query at sf0.1, min of 3 full passes
                                            (~21 min on 4 CPUs; ends
     by running the snapshot gate and embedding its verdict in
     BENCH_DETAIL.json)
  4. tools/snapshot_gate.py standalone      (final verdict, exit code)

Rules learned rounds 8-10: batch every source edit BEFORE invoking
this (any later edit under planning_center_data_pipeline_spark/ or
__spark_entry__.py re-stales all three artifacts); never run anything
Spark-heavy concurrently (timings contaminate, and two 128 GiB-heap
graph workloads in one box GC-thrash).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run(step: str, cmd: list[str], env: dict | None = None) -> None:
    t0 = time.time()
    print(f"== {step}: {' '.join(cmd)}", flush=True)
    full_env = None
    if env:
        import os

        full_env = {**os.environ, **env}
    r = subprocess.run(cmd, cwd=REPO, env=full_env)
    dt = time.time() - t0
    if r.returncode != 0:
        print(f"== {step} FAILED (exit {r.returncode}) after {dt:.0f}s")
        sys.exit(r.returncode)
    print(f"== {step} OK ({dt:.0f}s)", flush=True)


def main() -> None:
    skip_pytest = "--skip-pytest" in sys.argv[1:]

    py = sys.executable
    if not skip_pytest:
        run(
            "pytest",
            ["timeout", "-k", "10", "2670", py, "-m", "pytest", "tests/", "-q",
             "--continue-on-collection-errors", "-p", "no:cacheprovider"],
            env={"SPARK_LOCAL_DIRS": "/tmp/spark-local"},
        )

    legs = {}
    for sf, tmp in (("sf0.01", "/tmp/_gate_cc001.json"),
                    ("sf0.1", "/tmp/_gate_cc01.json")):
        run(
            f"crosscheck {sf}",
            [py, "tools/crosscheck.py", "--bare", "--json", tmp,
             f"/root/testdata/{sf}"],
        )
        legs[sf] = json.loads(Path(tmp).read_text())
    (REPO / "CROSSCHECK_SF01.json").write_text(json.dumps(legs, indent=1))
    print("== merged both-SF CROSSCHECK_SF01.json", flush=True)

    run("bench", [py, "bench.py"])
    run("snapshot_gate", [py, "tools/snapshot_gate.py"])
    print("== ALL GATES GREEN — safe to commit the artifacts")


if __name__ == "__main__":
    main()
