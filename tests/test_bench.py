"""bench.py's pure parts, in process: the timing record with its
build-time job count, the lingering job check, and the SF-ladder
exponent arithmetic with its row-count factor."""

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
