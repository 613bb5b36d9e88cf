"""The table loader reads each schema from the parquet footer instead of
letting Spark infer it with a job: the footer schema must equal Spark's
inferred one, and building a query must launch no Spark job."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE
from __spark_entry__ import queries
from planning_center_data_pipeline_spark.sources.tables import TABLES, load_table

Q = queries()

SF_DIRS = sorted(str(p) for p in Path(SF_SMOKE).parent.glob("sf*"))
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.fixture(params=["true", "false"], ids=["ntz", "no_ntz"])
def infer_ntz(request, spark):
    prev = spark.conf.get(NTZ)
    spark.conf.set(NTZ, request.param)
    yield request.param
    spark.conf.set(NTZ, prev)


@pytest.mark.parametrize("sf", SF_DIRS, ids=lambda d: Path(d).name)
def test_footer_schema_equals_inferred(spark, sf, infer_ntz):
    for t in TABLES:
        want = spark.read.parquet(f"{sf}/{t}.parquet").schema
        assert load_table(spark, sf, t).schema == want, t


def _write_tables(spark, d: Path) -> list[str]:
    """Tables covering the footer conversion's cases; returns their names."""
    ts = [1_700_000_000_123_456_789, None]
    pq.write_table(
        pa.table(
            {"ts": pa.array(ts, pa.timestamp("ns")), "d": pa.array([1, 2], pa.duration("s"))}
        ),
        d / "nanos.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "us": pa.array([1_700_000_000_123_456, None], pa.timestamp("us", "Asia/Tokyo")),
                "ns": pa.array(ts, pa.timestamp("ns", "Asia/Tokyo")),
            }
        ),
        d / "tz_aware.parquet",
    )
    required = pa.schema(
        [
            pa.field("v", pa.list_(pa.field("e", pa.float32(), nullable=False)), nullable=False),
            pa.field("i", pa.int32(), nullable=False),
            pa.field("m", pa.map_(pa.string(), pa.int64())),
            pa.field("s", pa.struct([("x", pa.int64()), ("at", pa.timestamp("us"))])),
        ]
    )
    rows = {
        "v": [[1.0, 2.0], [3.0]],
        "i": [1, 2],
        "m": [[("a", 1)], None],
        "s": [{"x": 1, "at": None}, None],
    }
    pq.write_table(pa.table(rows, schema=required), d / "list_float.parquet")
    (d / "arrow_dir.parquet").mkdir()
    for part in range(2):
        pq.write_table(
            pa.table({"id": [part], "at": pa.array([part], pa.timestamp("ms"))}),
            d / "arrow_dir.parquet" / f"part-{part}.parquet",
        )
    # Spark's writer stores its own schema in the footer (and writes
    # timestamps as INT96), plus _SUCCESS and .crc side files
    spark.sql(
        "SELECT id, CAST(id AS TIMESTAMP) AS ts,"
        " CAST(CAST(id AS TIMESTAMP) AS TIMESTAMP_NTZ) AS ntz,"
        " ARRAY(CAST(id AS FLOAT)) AS v,"
        " NAMED_STRUCT('a', id, 'b', CAST(id AS STRING)) AS s"
        " FROM range(10)"
    ).repartition(2).write.parquet(str(d / "spark_dir.parquet"))
    return ["nanos", "tz_aware", "list_float", "arrow_dir", "spark_dir"]


def test_footer_schema_equals_inferred_tmp_tables(spark, tmp_path, infer_ntz):
    names = _write_tables(spark, tmp_path)
    assert len(list((tmp_path / "spark_dir.parquet").glob("part-*.parquet"))) == 2
    for t in names:
        want = spark.read.parquet(f"{tmp_path}/{t}.parquet").schema
        assert load_table(spark, str(tmp_path), t).schema == want, t


def test_events_nanos_truncate_without_nanos_conf(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) loads as microseconds by
    truncation, also in a session without nanosAsLong (where Spark's
    own inference fails on that column)."""
    ns = [1_700_000_000_123_456_789, 1_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = load_table(spark, str(tmp_path), "events")
        got = [r[0] for r in df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()]
    finally:
        spark.conf.set(key, prev)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert got == [v // 1000 for v in ns]


def test_unconvertible_footer_type_raises(spark, tmp_path):
    from pyspark.errors import PySparkTypeError

    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), tmp_path / "unsigned.parquet")
    with pytest.raises(PySparkTypeError, match="uint32"):
        load_table(spark, str(tmp_path), "unsigned")


def test_query_build_launches_no_spark_job(spark):
    sc = spark.sparkContext
    for name in ("q3_shipping_priority", "priv_t_closeness"):
        group = f"test-tables-{name}-build"
        sc.setJobGroup(group, f"{name} build")
        try:
            Q[name](spark, SF_SMOKE)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc._jsc.clearJobGroup()
        assert jobs == [], name
