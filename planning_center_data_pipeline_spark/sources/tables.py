"""Parquet table catalog for the driver-generated test data.

The engine's production sources are parquet/csv/json directories; the
test harness reads `{sf_dir}/{table}.parquet`.  The schema is
read from the parquet footer on the driver and passed to the reader
explicitly: without one, every `spark.read.parquet(path)` starts a Spark
job that reads footers, and every query build loads several tables.  The
footer conversion mirrors Spark's own parquet schema inference, so the
explicit schema equals the inferred one and Spark's vectorized reader
still prunes columns and pushes predicates into the scan (verify with
`.explain("formatted")` — look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# footer key under which Spark's parquet writer stores its own schema;
# Spark's inference returns that schema as-is when it is present
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(dt: T.DataType) -> T.DataType:
    """Spark reads every file-source column as nullable, at every level."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _from_arrow(at, infer_ntz: bool) -> T.DataType:
    """Spark's parquet type inference for one pyarrow type, nullable at
    every level (the pyspark type constructors' default).

    A timestamp without a timezone is timestamp_ntz exactly when
    spark.sql.parquet.inferTimestampNTZ.enabled is on; TIMESTAMP(NANOS)
    is a long (what spark.sql.legacy.parquet.nanosAsLong gives); a
    duration is the plain INT64 it is stored as.  Every other type
    converts with pyspark's own from_arrow_type, which raises on a type
    it cannot map."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type

    if pat.is_timestamp(at):
        if at.unit == "ns":
            return T.LongType()
        ntz = infer_ntz and at.tz is None
        return T.TimestampNTZType() if ntz else T.TimestampType()
    if pat.is_duration(at):
        return T.LongType()
    if pat.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _from_arrow(f.type, infer_ntz)) for f in at]
        )
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return T.ArrayType(_from_arrow(at.value_type, infer_ntz))
    if pat.is_map(at):
        return T.MapType(
            _from_arrow(at.key_type, infer_ntz), _from_arrow(at.item_type, infer_ntz)
        )
    return from_arrow_type(at)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` would infer, read from one
    parquet footer on the driver with no Spark job.  For a directory,
    the footer is that of its first data file in sorted order (names
    starting with `_` or `.` are not data), as in Spark's inference
    without mergeSchema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            f
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(path, f))
        )
        if not files:
            raise FileNotFoundError(f"no parquet data file directly under {path}")
        path = os.path.join(path, files[0])
    schema = pq.read_schema(path)
    written_by_spark = (schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if written_by_spark is not None:
        return _nullable(T.StructType.fromJson(json.loads(written_by_spark)))
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return _from_arrow(pa.struct(list(schema)), ntz)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Column pruning + predicate pushdown are
    handled by Catalyst; callers should select/filter early anyway so
    intent is visible in the plan.

    events.ts may be TIMESTAMP(NANOS) in parquet; its footer schema
    reads it as long and we truncate ns->us here, matching how DuckDB
    reads the same file (verified: truncation, not rounding).  Because
    the schema is passed explicitly, the scan needs no
    spark.sql.legacy.parquet.nanosAsLong, so a SparkSession built
    elsewhere reads the table as well."""
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
