"""Second scalar-function wing: conditional / null-handling expressions,
bitwise operators, and exact interpolated percentiles — the remaining
built-in function families SURVEY.md §2.3 maps onto Spark that the
round-1 fn_* queries didn't touch.

All expressions are JVM-side codegen (no UDFs); percentiles run on
scaled-int cents so the linear interpolation (identical formula in both
engines: lower + (upper-lower)*fraction over exact ints) is bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- conditional / null-handling --------------------------------------------

def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal") * 100).cast("bigint")
    return c.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nb"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(redacted)")
        ).alias("seg_filled"),
        F.when(bal < 0, "overdrawn")
        .when(bal < 500000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.least(bal, F.lit(0).cast("bigint")).alias("debt_cents"),
        F.greatest(bal, F.lit(0).cast("bigint")).alias("credit_cents"),
        F.ifnull(F.nullif(bal, F.lit(0)), F.lit(-1)).alias("bal_or_sentinel"),
    ).orderBy("c_custkey")


FN_CONDITIONAL_SQL = """
SELECT c_custkey,
       NULLIF(c_mktsegment, 'BUILDING') AS seg_nb,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(redacted)') AS seg_filled,
       CASE WHEN CAST(ROUND(c_acctbal*100) AS BIGINT) < 0 THEN 'overdrawn'
            WHEN CAST(ROUND(c_acctbal*100) AS BIGINT) < 500000 THEN 'standard'
            ELSE 'premium' END AS tier,
       LEAST(CAST(ROUND(c_acctbal*100) AS BIGINT), 0) AS debt_cents,
       GREATEST(CAST(ROUND(c_acctbal*100) AS BIGINT), 0) AS credit_cents,
       COALESCE(NULLIF(CAST(ROUND(c_acctbal*100) AS BIGINT), 0), -1) AS bal_or_sentinel
FROM customer
ORDER BY c_custkey
"""


# --- bitwise operators -------------------------------------------------------

def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.col("event_id")
    return e.select(
        "event_id",
        F.shiftleft(k, 3).alias("shl3"),
        F.shiftright(k, 2).alias("shr2"),
        k.bitwiseAND(F.lit(0xFF)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("set_lsb"),
        k.bitwiseXOR(F.col("user_id")).alias("xor_uid"),
        F.bit_count(k).cast("long").alias("popcount"),
    ).orderBy("event_id")


FN_BITWISE_SQL = """
SELECT event_id,
       event_id << 3 AS shl3,
       event_id >> 2 AS shr2,
       event_id & 255 AS low_byte,
       event_id | 1 AS set_lsb,
       xor(event_id, user_id) AS xor_uid,
       CAST(bit_count(event_id) AS BIGINT) AS popcount
FROM events
ORDER BY event_id
"""


# --- exact interpolated percentiles ------------------------------------------

_PCTS = [0.25, 0.5, 0.75, 0.9, 0.99]


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pct = F.percentile(price, F.array(*[F.lit(p) for p in _PCTS]))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            *[
                (F.element_at(pct, i + 1) / 100.0).alias(f"p{int(p * 100)}")
                for i, p in enumerate(_PCTS)
            ]
        )
        .orderBy("o_orderstatus")
    )


AGG_PERCENTILES_SQL = f"""
SELECT o_orderstatus,
       {", ".join(
           f"quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), {p})/100.0"
           f" AS p{int(p * 100)}"
           for p in _PCTS
       )}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- string edit-distance and manipulation -----------------------------------
# levenshtein is the scalar backbone of fuzzy entity resolution (the
# dedup wing's string-similarity primitive); the rest rounds out the
# string surface: translate, locate, left/right, repeat, reverse, and
# ANSI-safe try_cast.

def fn_string_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.levenshtein(name, F.lit("small ring")).cast("long").alias("edit_dist"),
        F.translate(name, "aeiou", "AEIOU").alias("caps_vowels"),
        F.locate("e", name).cast("long").alias("first_e"),
        F.left(name, F.lit(3)).alias("l3"),
        F.right(name, F.lit(3)).alias("r3"),
        F.repeat(F.substring(name, 1, 2), 2).alias("rep2"),
        F.reverse(name).alias("rev_name"),
        F.col("p_type").try_cast("bigint").alias("type_as_int"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2))
        .try_cast("bigint")
        .alias("brand_no_safe"),
    ).orderBy("p_partkey")


FN_STRING_EDIT_SQL = """
SELECT p_partkey,
       CAST(levenshtein(p_name, 'small ring') AS BIGINT) AS edit_dist,
       translate(p_name, 'aeiou', 'AEIOU') AS caps_vowels,
       CAST(strpos(p_name, 'e') AS BIGINT) AS first_e,
       left(p_name, 3) AS l3,
       right(p_name, 3) AS r3,
       repeat(substring(p_name, 1, 2), 2) AS rep2,
       reverse(p_name) AS rev_name,
       TRY_CAST(p_type AS BIGINT) AS type_as_int,
       TRY_CAST(split_part(p_brand, '#', 2) AS BIGINT) AS brand_no_safe
FROM part
ORDER BY p_partkey
"""


# --- RANGE window frame: rolling 30-day spend per customer -------------------
# rows-frames are covered by win_frame_variants; this is the
# value-range frame (peers by ORDER-BY value distance, not row count),
# keyed on epoch seconds so both engines agree on the numeric bound.

def win_range_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_orderkey",
        "o_custkey",
        epoch.alias("order_epoch"),
        (F.sum(cents).over(w).cast("double") / 100.0).alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    ).orderBy("o_orderkey")


WIN_RANGE_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE)/100.0 AS spend_30d,
       COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS n_orders_30d
FROM orders
ORDER BY o_orderkey
"""


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance, stddev, Pearson correlation)
    computed EXACTLY at any parallelism: instead of Spark's streaming
    variance (whose float accumulation order depends on partitioning),
    every moment derives from exact integer sums in decimal(38,0) —
    n, Σx, Σx², Σy, Σy², Σxy over cent-scaled values — combined into
    doubles by one fixed-order formula.  Decimal sums are what make
    this safe at 100 TB: int64 Σx² overflows around 1e19, decimal(38)
    doesn't, and partial aggregation still applies."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity") * 100).cast("decimal(38,0)")
    p = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(q * q).alias("sqq"),
        F.sum(p * p).alias("spp"),
        F.sum(q * p).alias("sqp"),
    )
    n, sq, sp = F.col("n"), F.col("sq"), F.col("sp")
    sqq, spp, sqp = F.col("sqq"), F.col("spp"), F.col("sqp")
    var_num_p = (n * spp - sp * sp).cast("double")
    var_num_q = (n * sqq - sq * sq).cast("double")
    cov_num = (n * sqp - sq * sp).cast("double")
    denom = (n * (n - 1)).cast("double")
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        (sp.cast("double") / n.cast("double") / 100.0).alias("mean_price"),
        (var_num_p / denom / 10000.0).alias("var_price"),
        F.sqrt(var_num_p / denom / 10000.0).alias("stddev_price"),
        (cov_num / (F.sqrt(var_num_q) * F.sqrt(var_num_p))).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


AGG_STATS_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity*100) AS HUGEINT)) AS sq,
         SUM(CAST(ROUND(l_extendedprice*100) AS HUGEINT)) AS sp,
         SUM(CAST(ROUND(l_quantity*100) AS HUGEINT)
             * CAST(ROUND(l_quantity*100) AS HUGEINT)) AS sqq,
         SUM(CAST(ROUND(l_extendedprice*100) AS HUGEINT)
             * CAST(ROUND(l_extendedprice*100) AS HUGEINT)) AS spp,
         SUM(CAST(ROUND(l_quantity*100) AS HUGEINT)
             * CAST(ROUND(l_extendedprice*100) AS HUGEINT)) AS sqp
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_price,
       CAST(n*spp - sp*sp AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000.0 AS var_price,
       sqrt(CAST(n*spp - sp*sp AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) / 10000.0)
         AS stddev_price,
       CAST(n*sqp - sq*sp AS DOUBLE)
         / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE)))
         AS corr_qty_price
FROM s
ORDER BY l_returnflag
"""


# --- argmax-family aggregates ------------------------------------------------
# max_by/min_by/count_if/bool_and/bool_or surface.  Ties are broken
# deterministically by folding the unique event_id into the ordering
# key (cents*1e9 + event_id is injective: cents <= ~1e5, id < 1e9), so
# the result is stable at any partition count and across engines —
# bare max_by on a tying key is nondeterministic in BOTH engines.

def fn_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = (cents("value") * F.lit(1_000_000_000) + F.col("event_id")).alias("ordkey")
    return (
        e.select("event_type", "event_id", "user_id", "value", key)
        .groupBy("event_type")
        .agg(
            F.max_by("event_id", F.col("ordkey")).alias("top_event_id"),
            F.min_by("event_id", F.col("ordkey")).alias("bottom_event_id"),
            F.count_if(F.col("value") > 500).alias("n_big"),
            F.bool_or(F.col("value") > 900).alias("any_huge"),
            F.bool_and(F.col("value").isNotNull()).alias("all_valued"),
        )
        .orderBy("event_type")
    )


FN_AGG_ARGMAX_SQL = """
SELECT event_type,
       arg_max(event_id, CAST(ROUND(value*100) AS BIGINT)*1000000000 + event_id)
         AS top_event_id,
       arg_min(event_id, CAST(ROUND(value*100) AS BIGINT)*1000000000 + event_id)
         AS bottom_event_id,
       CAST(count_if(value > 500) AS BIGINT) AS n_big,
       bool_or(value > 900) AS any_huge,
       bool_and(value IS NOT NULL) AS all_valued
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- KLL quantile sketch (Apache DataSketches, Spark 4.1) --------------------
# Mergeable approximate quantiles: per-partition KLL sketches combine
# associatively (the same state a streaming/incremental rollup keeps),
# then answer any quantile.  The scan never sorts — at 100 TB this
# replaces percentile_approx's per-query pass with reusable sketch
# state.  KLL compaction is randomized, so this is a rows-only entry
# (no hash oracle); the rank-error bound vs exact percentiles is
# pytest-verified (test_kll_rank_error).

def agg_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    return sk.select(
        "event_type",
        "n",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.25)).alias("q25"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("q50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.75)).alias("q75"),
    ).orderBy("event_type")


QUERIES = {
    "agg_stats_moments": agg_stats_moments,
    "fn_conditional": fn_conditional,
    "win_range_rolling_spend": win_range_rolling_spend,
    "fn_bitwise": fn_bitwise,
    "fn_string_edit": fn_string_edit,
    "agg_percentiles": agg_percentiles,
    "fn_agg_argmax": fn_agg_argmax,
    "agg_kll_value_quantiles": agg_kll_value_quantiles,
}

ORACLES = {
    "agg_stats_moments": AGG_STATS_MOMENTS_SQL,
    "fn_conditional": FN_CONDITIONAL_SQL,
    "win_range_rolling_spend": WIN_RANGE_SQL,
    "fn_bitwise": FN_BITWISE_SQL,
    "fn_string_edit": FN_STRING_EDIT_SQL,
    "agg_percentiles": AGG_PERCENTILES_SQL,
    "fn_agg_argmax": FN_AGG_ARGMAX_SQL,
}
