"""Scan-parallelism floor for CPU-dense stages (optimization guide
§2.5 "input skew" / §4).

Parquet cannot split below a row group, so a small single-file input
scans as ONE partition; any CPU-dense per-row stage stacked on that
scan (a Python codec via mapInPandas, a wide md5 expansion, a
percentile buffer) then serializes on one core of the whole box.  The
fix is the guide's "repartition immediately after the read": hash-
repartition the (tiny) input up to the session's default parallelism
before the expensive stage.  At real scale the scan already has more
partitions than the floor and this is a structural no-op — no added
shuffle, no constant tuned to the local core count (the floor follows
SPARK_GRAFT_CPUS via defaultParallelism, so the driver's lower-core
bench runs keep their own floor).

Callers whose downstream *joins* fragment past 16 partitions
(dedup.shingle_table, the SimHash and SRP signature stages, the
regex-tokenize plans) and the Arrow-Python codec maps, whose idle-cold
worker spawns scale with partitions, pass `cap=16`; plain per-row map
work has no such coupling and takes the full default parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cpu_floor(df: DataFrame, key: str, cap: int | None = None) -> DataFrame:
    """Repartition `df` on hash(key) up to the session's
    defaultParallelism, at most `cap`, when — and only when — the
    current plan has fewer partitions.  Use directly below a scan
    feeding a CPU-dense per-row stage; results are unchanged for any
    per-row or order-free computation."""
    floor = df.sparkSession.sparkContext.defaultParallelism
    if cap is not None:
        floor = min(floor, cap)
    if df.rdd.getNumPartitions() < floor:
        df = df.repartition(floor, F.col(key))
    return df
