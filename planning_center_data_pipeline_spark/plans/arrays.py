"""Array / map / higher-order-function surface (SURVEY.md §2.3's scalar
function wing extended to the collection types the driver tables carry):
slice / size / element_at, transform+aggregate lambdas, zip_with,
explode with position, array set ops, map construction and key access,
unpivot (wide→long), and sequence-generated calendar spines.

Everything stays JVM-side (no Python UDFs); float vector math runs on
1e6-quantized integers (see operators/similarity.Q_SCALE) so results are
bit-identical between Spark's partial aggregation and the single-node
DuckDB oracle.

Scale notes: per-row lambdas are whole-stage-codegen expressions (no
shuffle); the per-dimension stats shuffle once on a 64-value key; the
calendar-spine join broadcasts the ~100-row spine to the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators.similarity import Q_SCALE
from planning_center_data_pipeline_spark.sources.tables import load_table


def _q(col):
    """Quantize a float array to exact int64 components (element-wise)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * Q_SCALE).cast("bigint"))


# --- per-vector stats via transform + aggregate lambdas ----------------------

def arr_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _q(F.col("embedding"))
    sq_sum = F.aggregate(
        F.transform(q, lambda v: v * v), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        (F.sqrt(sq_sum.cast("double")) / Q_SCALE).alias("l2_norm"),
        F.array_join(F.transform(F.slice(q, 1, 3), lambda x: x.cast("string")), ",").alias(
            "head3_q"
        ),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_q"),
        F.array_max(q).alias("max_q"),
        F.array_min(q).alias("min_q"),
    ).orderBy("vec_id")


ARR_VECTOR_STATS_SQL = f"""
WITH q AS (
  SELECT vec_id,
         len(embedding) AS dim,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE)*{Q_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id,
       CAST(dim AS BIGINT) AS dim,
       sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE))/{Q_SCALE} AS l2_norm,
       array_to_string(list_transform(qv[1:3], x -> CAST(x AS VARCHAR)), ',') AS head3_q,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       list_max(qv) AS max_q,
       list_min(qv) AS min_q
FROM q
ORDER BY vec_id
"""


# --- zip_with: quantized dot product against the reversed vector -------------

def arr_zipwith_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = _q(F.col("embedding"))
    qr = _q(F.reverse(F.col("embedding")))
    prod = F.zip_with(q, qr, lambda x, y: x * y)
    return e.select(
        "vec_id",
        F.aggregate(prod, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "dot_rev_q"
        ),
    ).orderBy("vec_id")


ARR_ZIPWITH_SQL = f"""
SELECT vec_id,
       CAST(list_sum(list_transform(generate_series(1, len(embedding)),
         i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT)
            * CAST(ROUND(CAST(embedding[len(embedding)+1-i] AS DOUBLE)*{Q_SCALE}) AS BIGINT)
       )) AS BIGINT) AS dot_rev_q
FROM embeddings
ORDER BY vec_id
"""


# --- posexplode: per-dimension corpus stats ----------------------------------

def arr_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        F.posexplode(_q(F.col("embedding"))).alias("dim", "v")
    ).withColumn("dim", F.col("dim").cast("long"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.min("v").alias("min_q"),
            F.max("v").alias("max_q"),
            (F.sum("v").cast("double") / F.count(F.lit(1)) / Q_SCALE).alias("mean"),
        )
        .orderBy("dim")
    )


ARR_DIM_STATS_SQL = f"""
SELECT i - 1 AS dim,
       MIN(v) AS min_q,
       MAX(v) AS max_q,
       CAST(SUM(v) AS DOUBLE)/COUNT(*)/{Q_SCALE} AS mean
FROM (
  SELECT unnest(generate_series(1, len(embedding))) AS i,
         unnest(list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE)*{Q_SCALE}) AS BIGINT))) AS v
  FROM embeddings
)
GROUP BY dim
ORDER BY dim
"""


# --- array set operations against a fixed vocabulary -------------------------

_VOCAB = ["the", "and", "data", "user", "error", "time", "new", "old"]


def arr_setops_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    toks = F.array_distinct(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"))
    return d.select(
        "doc_id",
        F.size(F.array_intersect(toks, vocab)).cast("long").alias("n_vocab_hits"),
        F.size(F.array_except(vocab, toks)).cast("long").alias("n_vocab_missing"),
        F.array_join(F.sort_array(F.array_intersect(toks, vocab)), ",").alias("vocab_hits"),
    ).orderBy("doc_id")


_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in _VOCAB) + "]"

ARR_SETOPS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(text), '[^a-z0-9]+')) AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(list_intersect(toks, {_VOCAB_SQL})) AS BIGINT) AS n_vocab_hits,
       CAST(len(list_filter({_VOCAB_SQL}, w -> NOT list_contains(toks, w))) AS BIGINT)
         AS n_vocab_missing,
       COALESCE(array_to_string(list_sort(list_intersect(toks, {_VOCAB_SQL})), ','), '')
         AS vocab_hits
FROM t
ORDER BY doc_id
"""


# --- map construction from JSON + key access ---------------------------------

def fn_map_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_val"),
        F.size(m).cast("long").alias("n_props"),
    ).orderBy("event_id")


FN_MAP_PROPS_SQL = """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CAST(len(json_keys(props)) AS BIGINT) AS n_props
FROM events
ORDER BY event_id
"""


# --- unpivot: wide aggregate -> long (metric, value) -------------------------

def fn_unpivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
            / 100.0
        ).alias("sum_price"),
        (F.max(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double") / 100.0).alias(
            "max_price"
        ),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "sum_price", "max_price"],
        "metric",
        "value",
    ).orderBy("o_orderstatus", "metric")


FN_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
         CAST(MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS max_price
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, value FROM (
  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
  UNION ALL
  SELECT o_orderstatus, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT o_orderstatus, 'max_price', max_price FROM wide
)
ORDER BY o_orderstatus, metric
"""


# --- sequence-generated calendar spine (left join keeps empty months) --------

def fn_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1994-01-01").cast("timestamp"),
                F.lit("2002-12-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    per_month = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        spine.join(per_month, "month", "left")
        .select(
            F.col("month").cast("date").cast("string").alias("month"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


FN_MONTH_SPINE_SQL = """
WITH spine AS (
  SELECT unnest(generate_series(TIMESTAMP '1994-01-01',
                                TIMESTAMP '2002-12-01',
                                INTERVAL 1 MONTH)) AS month
), per_month AS (
  SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT CAST(CAST(spine.month AS DATE) AS VARCHAR) AS month,
       COALESCE(per_month.n_orders, 0) AS n_orders
FROM spine LEFT JOIN per_month ON spine.month = per_month.month
ORDER BY month
"""


# --- VARIANT semi-structured type (Spark 4) ----------------------------------
# parse_json -> VARIANT keeps the whole document in a binary
# semi-structured encoding with typed path access (variant_get), the
# engine-native way to hold heterogeneous JSON at scale: one parse at
# ingest, then every query does typed path extraction without
# re-parsing strings (unlike get_json_object, which re-parses per
# call).  The DuckDB oracle extracts the same typed paths from the raw
# JSON text.

def fn_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_val"),
        F.try_variant_get(v, "$.tag", "string").alias("tag"),
        F.try_variant_get(v, "$.missing", "bigint").alias("absent"),
        F.schema_of_variant(v).alias("vschema"),
    ).orderBy("event_id")


FN_VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       json_extract_string(props, '$.tag') AS tag,
       CAST(NULL AS BIGINT) AS absent,
       CASE WHEN json_extract(props, '$.tag') IS NOT NULL
            THEN 'OBJECT<k: BIGINT, tag: STRING>'
            ELSE 'OBJECT<k: BIGINT>' END AS vschema
FROM events
ORDER BY event_id
"""


QUERIES = {
    "arr_vector_stats": arr_vector_stats,
    "arr_zipwith_dot": arr_zipwith_dot,
    "arr_dim_stats": arr_dim_stats,
    "arr_setops_vocab": arr_setops_vocab,
    "fn_map_props": fn_map_props,
    "fn_unpivot_orders": fn_unpivot_orders,
    "fn_month_spine": fn_month_spine,
    "fn_variant_props": fn_variant_props,
}

ORACLES = {
    "arr_vector_stats": ARR_VECTOR_STATS_SQL,
    "arr_zipwith_dot": ARR_ZIPWITH_SQL,
    "arr_dim_stats": ARR_DIM_STATS_SQL,
    "arr_setops_vocab": ARR_SETOPS_SQL,
    "fn_map_props": FN_MAP_PROPS_SQL,
    "fn_unpivot_orders": FN_UNPIVOT_SQL,
    "fn_month_spine": FN_MONTH_SPINE_SQL,
    "fn_variant_props": FN_VARIANT_SQL,
}
