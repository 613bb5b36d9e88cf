"""SparkSession factory.

One place to set every engine-level knob so tests, bench, and the driver
contract all run the same configuration.  Scale notes (100 TB design
point): everything here is config, not code — on a real cluster the same
builder takes master/executor settings from spark-submit, AQE re-plans
shuffle partition counts at runtime, and the explicit UTC timezone keeps
timestamp semantics identical between engines and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "planning_center_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Defaults follow the local test topology (`local[N]`, N from
    SPARK_GRAFT_CPUS or else the CPUs this process may run on, shuffle
    partitions ~= cores).  On a cluster the
    caller overrides master via spark-submit; AQE coalescing makes the
    shuffle-partition default safe at any scale.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # in local mode the driver heap holds every executor too; half of
    # physical memory leaves room for the Python workers and the page
    # cache, so an unconfigured run spills instead of being OOM-killed
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**3
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{max(1, phys_gb // 2)}g")
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Read TIMESTAMP(NANOS) parquet (events.ts) as long when a reader
        # infers the schema; the table loader passes the same long type
        # itself and converts to a microsecond timestamp by truncation,
        # matching DuckDB's ns->us read behavior.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # JVM case mapping instead of ICU for lower()/upper().  With ICU
        # on (the default) the first lower() in each JVM loads ICU: over
        # the 500 sf0.01 documents, after a warm-up scan, a first
        # length(lower(text)) took 1.86-1.95 s against 0.30 s for
        # length(text) and 0.29-0.40 s with ICU off (local[4]); repeats
        # take 0.2 s either way.  The two differ in lower/upper on 134
        # of 1,112,064 code points (Unicode 14-16 letters); on all of
        # them the JVM result equals DuckDB's, the oracle engine's.  A
        # runtime spark.conf.set of this key has no effect, so it is set
        # here.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
