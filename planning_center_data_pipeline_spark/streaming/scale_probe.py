"""Streaming scale probe: replay an events table through a stateful
streaming query in event-time order and record throughput + state-store
size per micro-batch (SURVEY.md §2.9's scale-evidence wing).

Why this exists: batch scale probes (bench.py --sf ...) say nothing
about the property that makes streaming operators survive unbounded
input — WATERMARK-DRIVEN STATE EVICTION.  A stateful operator whose
state grows with total input (not with the in-watermark horizon) works
in every toy test and then OOMs a week into production.  The probe
replays N time-contiguous chunks as N micro-batches (file source,
maxFilesPerTrigger=1), so the watermark advances between batches and
eviction actually runs; `numRowsTotal` from each batch's progress event
is the state-store row count after that batch.

What "bounded" means per operator:
- sessions (applyInPandasWithState keyed by user): state rows <= number
  of DISTINCT USERS with an open session — never O(events).
- stream-stream interval join: state rows <= events inside the
  watermark + join-interval horizon — proportional to event RATE x
  horizon, never to total input.

The replay prep orders files so path order == event-time order ==
modification-time order; FileStreamSource then triggers batches in
event-time sequence regardless of which ordering it consults.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.temporal import epoch_us


def prepare_time_ordered_replay(
    spark: SparkSession, source: str, replay_dir: str, n_chunks: int = 15
) -> int:
    """Split `source` (an events parquet) into `n_chunks` time-contiguous
    parquet files under `replay_dir`, named and mtime-stamped in event-time
    order.  One distributed job does the split (width_bucket on ts +
    partitionBy); the driver only renames files.  Returns total row count."""
    src = spark.read.parquet(source)
    lo_us, hi_us, n_rows = src.select(
        F.min(epoch_us("ts")).alias("lo"),
        F.max(epoch_us("ts")).alias("hi"),
        F.count("*").alias("n"),
    ).first()
    staged = replay_dir + ".staging"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(replay_dir, ignore_errors=True)
    (
        src.withColumn(
            "chunk_id",
            F.least(
                F.lit(n_chunks - 1),
                F.floor(
                    (epoch_us("ts") - F.lit(int(lo_us)))
                    / F.lit(max(1, int((hi_us - lo_us) / n_chunks) + 1))
                ).cast("int"),
            ),
        )
        .repartition("chunk_id")
        .sortWithinPartitions("ts")
        .write.partitionBy("chunk_id")
        .mode("overwrite")
        .parquet(staged)
    )
    os.makedirs(replay_dir, exist_ok=True)
    now = time.time()
    chunk_dirs = sorted(
        Path(staged).glob("chunk_id=*"), key=lambda p: int(p.name.split("=")[1])
    )
    for i, d in enumerate(chunk_dirs):
        parts = sorted(d.glob("*.parquet"))
        for j, p in enumerate(parts):
            dst = Path(replay_dir) / f"chunk-{i:03d}-{j:02d}.parquet"
            os.replace(p, dst)
            # strictly increasing mtimes in event-time order
            os.utime(dst, (now + i, now + i))
    shutil.rmtree(staged, ignore_errors=True)
    return int(n_rows)


def run_metered(stream_df: DataFrame, name: str, output_mode: str) -> dict:
    """Drive a (bounded file-source) streaming DataFrame to completion
    and return throughput + per-batch state metrics from the progress
    events: this is the number the 100 TB question is about."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    t0 = time.time()
    try:
        q.processAllAvailable()
        wall = time.time() - t0
        progress = list(q.recentProgress)
    finally:
        q.stop()
    rows_in = 0
    state_rows: list[int] = []
    for p in progress:
        rows_in += int(p["numInputRows"])
        for op in p.get("stateOperators") or []:
            state_rows.append(int(op["numRowsTotal"]))
    out_rows = stream_df.sparkSession.sql(
        f"SELECT COUNT(*) FROM {name}"
    ).first()[0]
    return {
        "batches": len(progress),
        "rows_in": rows_in,
        "rows_out": int(out_rows),
        "wall_sec": round(wall, 2),
        "rows_per_sec": round(rows_in / wall, 1) if wall > 0 else None,
        "state_rows_per_batch": state_rows,
        "max_state_rows": max(state_rows) if state_rows else 0,
        "final_state_rows": state_rows[-1] if state_rows else 0,
    }
