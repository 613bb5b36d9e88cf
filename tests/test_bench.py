"""bench.py's pure parts, in process: the timing record with its
build-time job count, the lingering job check, the SF-ladder exponent
arithmetic with its row-count factor, and the CPU steal share."""

from __future__ import annotations

import math
import threading
import time
from pathlib import Path

import bench
from planning_center_data_pipeline_spark.plans import collect_all


def test_time_queries_records_build_exec_and_total_mins(spark, sf_dir):
    queries, _ = collect_all()
    name = "q1_pricing_summary"
    samples, errors = bench.time_queries(spark, queries, sf_dir, [name], reps=2)
    assert not errors
    rec = bench.record(samples[name])
    assert len(rec["samples"]) == 2
    assert rec["build"] > 0 and rec["exec"] > 0
    assert rec["total"] == min(rec["samples"]) > 0
    assert rec["build_jobs"] == 0


def test_active_jobs_reports_a_job_that_is_still_running(spark):
    def sleepy(batches):
        for b in batches:
            time.sleep(2)
            yield b

    def run():
        spark.sparkContext.setJobGroup("bench-linger", "slow job")
        spark.range(4, numPartitions=4).mapInPandas(sleepy, "id long").count()

    t = threading.Thread(target=run)
    t.start()
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup("bench-linger") and time.monotonic() < deadline:
        time.sleep(0.02)
    job_ids = tracker.getJobIdsForGroup("bench-linger")
    assert job_ids
    assert set(job_ids) <= set(bench.active_jobs(spark, grace_s=0))
    t.join(timeout=120)
    assert not t.is_alive()
    assert bench.active_jobs(spark) == []


def test_scale_entry_factor_comes_from_lineitem_rows(sf_dir):
    rows = {
        "sf0.001": bench.lineitem_rows(sf_dir),
        "sf0.01": bench.lineitem_rows(str(Path(sf_dir).parent / "sf0.01")),
    }
    assert 0 < rows["sf0.001"] < rows["sf0.01"]
    factor = rows["sf0.01"] / rows["sf0.001"]
    mins = {"sf0.001": {"a": 1.0, "b": 2.0}, "sf0.01": {"a": 4.0}}
    entry = bench.scale_entry(mins, rows)
    assert entry["factors"] == [round(factor, 3)]
    assert entry["queries"]["a"] == {
        "sf0.001": 1.0,
        "sf0.01": 4.0,
        "exponents": [round(math.log(4.0) / math.log(factor), 2)],
    }
    assert entry["queries"]["b"]["exponents"] == [None]


def test_steal_share_from_two_proc_stat_snapshots():
    before = bench.cpu_times(
        "cpu  1000 10 200 5000 40 0 30 20 7 0\n"
        "cpu0 500 5 100 2500 20 0 15 10 7 0\n"
        "intr 12345 0\n"
    )
    after = bench.cpu_times(
        "cpu  1580 10 300 5200 40 0 50 120 9 0\n"
        "cpu0 800 5 150 2600 20 0 25 60 9 0\n"
    )
    # user .. steal only: guest time is already counted in user
    assert before == [1000, 10, 200, 5000, 40, 0, 30, 20]
    # 100 of the 1000 jiffies between the snapshots were stolen
    assert bench.steal_share(before, after) == 0.1 > bench.STOLEN
    assert bench.steal_share(before, before) is None
    assert bench.steal_share(None, after) is None
    assert bench.cpu_times("cpu0 1 2 3 4 5 6 7 8\n") is None
