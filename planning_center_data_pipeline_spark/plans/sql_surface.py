"""SQL-surface queries: one query per engine feature.

Prefixes: `sql_` (recursive CTEs, UDFs, pipe syntax, parameters),
`fn_` (scalar functions), `arr_` (arrays, maps and higher-order
functions), `set_` (set operators), `j_` (semi/anti/null-safe joins),
`agg_` (grouping sets and aggregates), `win_` (window frames),
`distinct_` (exact and sketched distinct counts), `pivot_`, `range_`,
`salted_`, `median_`, `corr_`, `theta_` and `freq_`.

Float vector math runs on 1e6-quantized integers and percentiles on
scaled-int cents, so Spark's partial aggregation and the single-node
DuckDB oracle agree bit for bit.  The sketches (`distinct_users_approx`,
`distinct_users_hll_mergeable`, `agg_kll_value_quantiles`) have no
DuckDB twin and are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, money_sum
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.operators.similarity import Q_SCALE
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- bitwise aggregates ------------------------------------------------------

def agg_bitwise_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_or/bit_and/bit_xor aggregates over a derived 8-bit mask —
    the flag-merging primitive (feature masks, permission bits,
    bitmap partials).  All three are associative-commutative integer
    folds: partial aggregation applies and results are
    partitioning-independent by construction.
    """
    e = load_table(spark, sf_dir, "events")
    mask = (F.col("event_id") % 256).cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.bit_or(mask).alias("or_mask"),
            F.bit_and(mask).alias("and_mask"),
            F.bit_xor(mask).alias("xor_mask"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


AGG_BITWISE_MASKS_SQL = """
SELECT event_type,
       bit_or(event_id % 256) AS or_mask,
       bit_and(event_id % 256) AS and_mask,
       bit_xor(event_id % 256) AS xor_mask,
       COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def agg_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 3).alias("user_bucket")
    return (
        e.select("event_type", bucket, "value")
        .cube("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(cents("value")).alias("value_sum"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(),
            F.col("user_bucket").asc_nulls_first(),
        )
    )


AGG_CUBE_SQL = """
SELECT event_type, user_id % 3 AS user_bucket, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS value_sum
FROM events
GROUP BY CUBE (event_type, user_id % 3)
ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST
"""


# --- FILTER-clause aggregates ------------------------------------------------

def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, many conditional aggregates via the SQL-standard
    FILTER (WHERE ...) clause — replaces the N-self-joins reporting
    anti-pattern; every branch stays inside one partial-aggregated
    hash aggregate.
    """
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                    FILTER (WHERE year(o_orderdate) >= 1997) AS DOUBLE)
                 / 100.0 AS late_rev
        FROM {orders}
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


AGG_FILTER_CLAUSE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
            FILTER (WHERE EXTRACT(year FROM o_orderdate) >= 1997)
            AS DOUBLE) / 100.0 AS late_rev
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- grouping sets (SQL surface) --------------------------------------------
# Arbitrary grouping-set lattices beyond rollup/cube prefixes; the
# grouping_id disambiguates which set produced each row.

def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


AGG_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus)*2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
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


# --- per-group mode with explicit tie-break ---------------------------------

def agg_mode_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal customer market segment per nation.

    count + row_number instead of mode(): the tie-break (count desc,
    then segment asc) is explicit, so results are deterministic and
    identical across engines.  The window partitions by nation over a
    25 x 5 pre-aggregated table — the heavy lifting happened in the
    partial-aggregated count.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cnt = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_cust"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("n_cust"), F.asc("c_mktsegment")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("c_mktsegment").alias("mode_segment"),
            "n_cust",
        )
        .orderBy("n_name")
    )


AGG_MODE_SEGMENT_SQL = """
WITH cnt AS (
  SELECT n_name, c_mktsegment, COUNT(*) AS n_cust
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
), rk AS (
  SELECT n_name, c_mktsegment, n_cust,
         ROW_NUMBER() OVER (
           PARTITION BY n_name ORDER BY n_cust DESC, c_mktsegment ASC
         ) AS rn
  FROM cnt
)
SELECT n_name, c_mktsegment AS mode_segment, n_cust
FROM rk WHERE rn = 1 ORDER BY n_name
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


# --- rollup / cube ----------------------------------------------------------
# Partial aggregation handles the level expansion map-side; output rows
# ~= product of level cardinalities, tiny regardless of input size.

def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(cents("o_totalprice")).alias("price_sum"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


AGG_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS price_sum
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


# --- two-level salted aggregation for skewed groups -------------------------

def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals via (key, salt) partials then merge.

    events has only a handful of event_type values: a plain groupBy
    sends each entire hot group through one reducer task.  Salting on
    xxhash64(event_id) % 16 spreads every hot key over 16 reducers in
    level 1; level 2 merges 16 tiny partial rows per key.  Sums use
    cent integers so the double result is exact and order-free.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    lvl1 = e.groupBy(
        "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt"),
    ).agg(
        F.count("*").alias("pc"),
        F.sum(cents).alias("pv"),
    )
    return (
        lvl1.groupBy("event_type")
        .agg(
            F.sum("pc").cast("bigint").alias("n_events"),
            (F.sum("pv").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .orderBy("event_type")
    )


AGG_SALTED_SKEW_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
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


def _q(col):
    """Quantize a float array to exact int64 components (element-wise)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * Q_SCALE).cast("bigint"))


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


# --- correlated-aggregate filter: customers above their nation's mean -------
# The correlated scalar subquery decorrelates to a window (or
# agg+rejoin); the window form shuffles once on the correlation key.

def corr_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    nat_avg = (
        F.sum(cents("c_acctbal")).over(w).cast("double")
        / 100.0
        / F.count(F.lit(1)).over(w)
    )
    return (
        c.withColumn("nat_avg", nat_avg)
        .filter(F.col("c_acctbal") > F.col("nat_avg"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            money_sum(cents("c_acctbal")).alias("bal_sum"),
        )
        .orderBy("c_nationkey")
    )


CORR_AVG_SQL = """
WITH w AS (
  SELECT c_nationkey, c_acctbal,
         CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) OVER (PARTITION BY c_nationkey) AS DOUBLE)
           / 100.0 / COUNT(*) OVER (PARTITION BY c_nationkey) AS nat_avg
  FROM customer
)
SELECT c_nationkey, COUNT(*) AS n_above,
       CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS bal_sum
FROM w WHERE c_acctbal > nat_avg
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct — the 100 TB path (no exact-distinct
    shuffle explosion). Rows-only check; accuracy vs exact is asserted
    in unit tests."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"))
        .orderBy("event_type")
    )


# --- exact mergeable distinct via bitmaps -----------------------------------
# Two-level plan: (group, bucket) -> one bitmap per 32k-value bucket
# (bitmap_construct_agg is an associative partial aggregate — map-side
# combine applies), then SUM of per-bucket counts per group.  At 100 TB
# the first shuffle carries one 4 KB bitmap per (group, bucket), not
# one row per raw value; bitmaps for the same bucket from different
# days/shards OR together (bitmap_or_agg), so the state is incremental
# across ingestion batches — the exact counterpart of the mergeable
# HLL sketch in distinct_users_hll_mergeable.

def distinct_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bmp")
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bmp")).cast("bigint").alias("n_users"))
        .orderBy("event_type")
    )


DISTINCT_USERS_BITMAP_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- distinct counting ------------------------------------------------------
# Exact distinct (oracle-checked) and HLL approx (rows-only: HLL
# implementations differ across engines by design).

def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


DISTINCT_EXACT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def distinct_users_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistable/mergeable HLL sketches (Datasketches): build one
    sketch per event_type, then union them into a global estimate —
    the pattern for distinct-counting 100 TB across daily slices:
    store per-slice sketch bytes, merge at query time, never rescan.
    Rows-only check (sketch internals have no SQL twin); the estimate's
    error bound vs exact is unit-tested."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch")
    )
    return (
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "n_users_merged"
            )
        )
    )


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


# --- Spark 4 collation surface -----------------------------------------------


def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATE UNICODE_CI — the
    engine-level answer to dirty categorical columns (no lower() in
    every predicate; the collation IS the comparison semantics).

    The input deliberately case-mangles p_type per row (md5 parity
    picks upper or lower), the groupBy keys on the COLLATED column,
    and the output key re-canonicalizes via lower(max(...)) — binary
    max over the group is deterministic, and lower() of any member is
    the same string.  The oracle groups by lower(), which UNICODE_CI
    coincides with on ASCII data.
    """
    p = load_table(spark, sf_dir, "part")
    mangled = p.select(
        F.when(
            md5_hash60(F.col("p_partkey").cast("string"), seed=7) % 2 == 0,
            F.upper("p_type"),
        )
        .otherwise(F.lower("p_type"))
        .alias("seg")
    )
    return (
        mangled.groupBy(F.collate("seg", "UNICODE_CI").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("seg").alias("mx"))
        .select(F.lower("mx").alias("ptype_ci"), "n")
        .orderBy("ptype_ci")
    )


FN_COLLATION_GROUP_SQL = """
WITH mangled AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('7|' || CAST(p_partkey AS VARCHAR)),
                        1, 15) AS BIGINT) % 2 = 0
              THEN upper(p_type) ELSE lower(p_type) END AS seg
  FROM part
)
SELECT lower(seg) AS ptype_ci, COUNT(*) AS n
FROM mangled GROUP BY 1 ORDER BY ptype_ci
"""


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


def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).cast("date").cast("string").alias("month_start"),
        F.last_day(d).cast("string").alias("month_end"),
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        F.dayofweek(d).cast("long").alias("dow_sun1"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_2002"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    ).orderBy("o_orderkey")


FN_DATETIME_SQL = """
SELECT o_orderkey,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT)
         AS days_to_2002,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders ORDER BY o_orderkey
"""


# --- decimal-exact arithmetic ------------------------------------------------

def fn_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math in DECIMAL instead of cent-int tricks: cast prices
    and discounts to DECIMAL(18,2), multiply (exact scale growth to
    (38,4)), sum exactly, convert to double only at the edge.  The
    engine's decimal path is the type-system answer to float drift;
    the cent-integer pattern used elsewhere is the shuffle-cheaper
    twin of the same guarantee.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    net = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(price).cast("double").alias("gross_sum"),
            F.sum(net).cast("double").alias("net_sum"),
        )
        .orderBy("l_returnflag")
    )


FN_DECIMAL_EXACT_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS gross_sum,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS net_sum
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- ordered string aggregation (listagg) -----------------------------------
# Top-3 customers by account balance per (segment, nation), names
# concatenated in deterministic name order.  listagg WITHIN GROUP
# (ORDER BY ...) is the SQL-standard ordered string agg (Spark 4.1);
# ties in the top-3 cut broken by c_custkey so the selected set is
# identical at any partition count.

def fn_listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    top3 = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        top3.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.expr(
                "listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)"
            ).alias("top_names"),
            F.count("*").cast("bigint").alias("n_top"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


FN_LISTAGG_SQL = """
WITH ranked AS (
  SELECT c_mktsegment, c_nationkey, c_name,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
)
SELECT c_mktsegment, c_nationkey,
       STRING_AGG(c_name, ',' ORDER BY c_name) AS top_names,
       CAST(COUNT(*) AS BIGINT) AS n_top
FROM ranked WHERE rn <= 3
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


# --- map higher-order functions ---------------------------------------------

def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a per-user map<event_type, count> with map_from_entries,
    re-key and re-value it with transform_keys / transform_values
    (JVM-side lambda HOFs — no Python in the loop), then explode back
    to rows so the result stays hash-checkable (map cells don't
    survive the harness's canonicalizer).
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("event_type", "cnt"))
            )
        ).alias("m")
    )
    transformed = m.select(
        "user_id",
        F.transform_values(
            F.transform_keys(F.col("m"), lambda k, v: F.upper(k)),
            lambda k, v: v * 2,
        ).alias("m2"),
    )
    return (
        transformed.select(
            "user_id", F.explode(F.col("m2")).alias("etype", "double_cnt")
        )
        .orderBy("user_id", "etype")
    )


FN_MAP_HOF_SQL = """
SELECT user_id, upper(event_type) AS etype,
       COUNT(*) * 2 AS double_cnt
FROM events GROUP BY user_id, event_type
ORDER BY user_id, etype
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


# --- regexp scalar showcase -------------------------------------------------

def fn_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").rlike("^[a-z]+ [a-z]+$"))
        .select(
            "p_partkey",
            F.regexp_extract("p_name", r"^([a-z]+) ", 1).alias("name_adj"),
            F.regexp_extract("p_name", r" ([a-z]+)$", 1).alias("name_noun"),
            F.regexp_replace("p_brand", "[^0-9]", "").cast("long").alias("brand_digits"),
            F.regexp_count("p_type", F.lit("[AEIOU]")).cast("long").alias("type_vowels"),
        )
        .orderBy("p_partkey")
    )


FN_REGEXP_SQL = r"""
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+) ', 1) AS name_adj,
       regexp_extract(p_name, ' ([a-z]+)$', 1) AS name_noun,
       CAST(regexp_replace(p_brand, '[^0-9]', '', 'g') AS BIGINT) AS brand_digits,
       CAST(len(regexp_extract_all(p_type, '[AEIOU]')) AS BIGINT) AS type_vowels
FROM part
WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+$')
ORDER BY p_partkey
"""


def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all surface: every digit run in the customer
    name string, per market segment — match count, distinct values,
    and the exact value sum (runs are <= 4 digits, so int64 is safe).
    Per-row work is one JVM regex pass; one rollup."""
    c = load_table(spark, sf_dir, "customer")
    nums = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.explode(
            F.expr(r"regexp_extract_all(c_name, '[0-9]+', 0)")
        ).alias("s"),
    )
    return (
        nums.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.countDistinct("s").cast("bigint").alias("n_distinct"),
            F.sum(F.col("s").cast("bigint")).cast("bigint").alias("sum_vals"),
        )
        .orderBy("segment")
    )


_REGEXP_SQL = """
WITH nums AS (
  SELECT c_mktsegment AS segment,
         UNNEST(regexp_extract_all(c_name, '[0-9]+')) AS s
  FROM customer
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct,
       CAST(SUM(CAST(s AS BIGINT)) AS BIGINT) AS sum_vals
FROM nums GROUP BY segment ORDER BY segment
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


# --- scalar function showcases ----------------------------------------------

def fn_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.substring("p_name", 1, 5).alias("pfx"),
        F.length("p_name").cast("long").alias("name_len"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2))
        .cast("long")
        .alias("brand_no"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.ceil(F.col("p_retailprice") / 100.0).cast("long").alias("price_ceil"),
        F.floor(F.col("p_retailprice") / 100.0).cast("long").alias("price_floor"),
        F.pow(F.col("p_size").cast("double"), 2.0).alias("size_sq"),
        F.concat_ws("|", "p_type", "p_brand").alias("type_brand"),
    ).orderBy("p_partkey")


FN_STRING_MATH_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS up_name,
       SUBSTRING(p_name, 1, 5) AS pfx,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
       CAST(split_part(p_brand, '#', 2) AS BIGINT) AS brand_no,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       CAST(CEIL(p_retailprice / 100.0) AS BIGINT) AS price_ceil,
       CAST(FLOOR(p_retailprice / 100.0) AS BIGINT) AS price_floor,
       POW(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
       concat_ws('|', p_type, p_brand) AS type_brand
FROM part ORDER BY p_partkey
"""


# --- error-safe arithmetic ---------------------------------------------------

def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-failure arithmetic: try_divide by a sometimes-zero
    denominator and try_cast of non-numeric text.  One malformed row
    must never kill a 100 TB batch; TRY variants keep the failure
    local to the cell.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 5).cast("double")
        ).alias("safe_ratio"),
        F.regexp_extract(F.col("o_orderpriority"), "[0-9]+", 0)
        .try_cast("bigint")
        .alias("prio_num"),
        F.col("o_orderstatus").try_cast("bigint").alias("status_num"),
    )


    # No global orderBy: the correctness hash is order-insensitive and
    # a presentation sort of the full table would add a range shuffle
    # + total sort for nothing.


FN_TRY_ARITH_SQL = """
SELECT o_orderkey,
       o_totalprice / NULLIF(CAST(o_orderkey % 5 AS DOUBLE), 0.0)
         AS safe_ratio,
       TRY_CAST(regexp_extract(o_orderpriority, '[0-9]+', 0) AS BIGINT)
         AS prio_num,
       TRY_CAST(o_orderstatus AS BIGINT) AS status_num
FROM orders
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


# --- two-pass Misra-Gries exact heavy hitters --------------------------------

_MG_K = 199  # counters per partition sketch; threshold = N/(K+1)


def freq_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens with frequency > N/200) via
    the two-pass Misra-Gries pattern.

    Pass 1 runs a WEIGHTED Misra-Gries sketch per partition
    (mapInPandas, O(K) memory): any token with partition count
    > n_p/(K+1) must survive its partition's sketch, and a token with
    global count > N/(K+1) must exceed that bar in at least one
    partition (weighted pigeonhole) — so the union of per-partition
    survivors is a guaranteed SUPERSET of the true heavy hitters.
    Pass 2 recounts ONLY the candidates exactly (broadcast semi-join,
    then one small groupBy) and applies the integer threshold
    cnt*(K+1) > N.  The candidate set depends on partitioning; the
    OUTPUT does not — it is exactly the set of true heavy hitters.

    Scale: pass 1 never shuffles (map-side sketch, <= K rows out per
    partition); pass 2's groupBy touches only candidate tokens
    (<= K * partitions keys).  This is the groupBy-free answer to
    "top tokens over 100 TB of text" — the full-vocabulary shuffle of
    doc_word_freq never happens.  Tokenization is re-scanned in pass
    2: two cheap scans beat one shuffle of the full token stream.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = d.select(
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")

    def mg_sketch(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, w in pdf["tok"].value_counts().items():
                w = int(w)
                if tok in counters:
                    counters[tok] += w
                elif len(counters) < _MG_K:
                    counters[tok] = w
                else:
                    # weighted MG decrement: subtract dec from all K
                    # counters AND the incoming weight; every decrement
                    # round removes (K+1)*dec mass, so total per-token
                    # error <= n_p/(K+1).
                    m = min(counters.values())
                    dec = m if w > m else w
                    for key in list(counters):
                        nv = counters[key] - dec
                        if nv:
                            counters[key] = nv
                        else:
                            del counters[key]
                    if w > dec:
                        counters[tok] = w - dec
        yield pd.DataFrame({"tok": list(counters.keys())})

    cands = toks.mapInPandas(mg_sketch, "tok string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))  # 1-row total
        .filter(F.col("cnt") * (_MG_K + 1) > F.col("n_total"))
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


FREQ_HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
), nonempty AS (
  SELECT tok FROM toks WHERE tok <> ''
), tot AS (
  SELECT COUNT(*) AS n_total FROM nonempty
)
SELECT tok, COUNT(*) AS cnt
FROM nonempty
GROUP BY tok
HAVING COUNT(*) * 200 > (SELECT n_total FROM tot)
ORDER BY cnt DESC, tok
"""


# --- anti join: customers with no recent orders -----------------------------

def j_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(cents("c_acctbal")).alias("acctbal_sum"),
        )
        .orderBy("c_mktsegment")
    )


J_ANTI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS acctbal_sum
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- null-safe equality join -------------------------------------------------
# <=> (null-safe equals) joins rows whose keys are BOTH NULL — plain =
# drops them.  Keys: order priority with '3-MEDIUM' nulled out, so a
# real NULL bucket exists on both sides.  The oracle's
# IS NOT DISTINCT FROM is the ANSI spelling of the same predicate.

def j_nullsafe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    left = o.groupBy(
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    right = o.filter(F.col("o_orderstatus") == "F").groupBy(
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio")
    ).agg(F.count(F.lit(1)).alias("n_final"))
    return (
        left.join(right, left["prio"].eqNullSafe(right["prio"]))
        .select(left["prio"].alias("prio"), "n_orders", "n_final")
        .orderBy(F.col("prio").asc_nulls_first())
    )


J_NULLSAFE_SQL = """
WITH l AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), r AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio, COUNT(*) AS n_final
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
)
SELECT l.prio, l.n_orders, r.n_final
FROM l JOIN r ON l.prio IS NOT DISTINCT FROM r.prio
ORDER BY l.prio NULLS FIRST
"""


# --- semi join: orders with at least one late-shipped line ------------------
# left_semi never widens rows and stops probing a key on first match.

def j_semi_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


J_SEMI_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- exact median (hand-rolled, engine-portable) ----------------------------
# Exact group median without engine-specific percentile interpolation:
# rank within group, average the middle one or two scaled-int values.
# One shuffle on the group key. Companion HLL/approx: percentile_approx
# is sketch-based and engine-specific, so it stays rows-only territory.

def median_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        cents("o_totalprice"), "o_orderkey"
    )
    ranked = o.select(
        "o_orderstatus",
        cents("o_totalprice").alias("pc"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_orderstatus")).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return (
        mid.groupBy("o_orderstatus")
        .agg((F.avg("pc") / 100.0).alias("median_price"))
        .orderBy("o_orderstatus")
    )


MEDIAN_SQL = """
WITH ranked AS (
  SELECT o_orderstatus,
         CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT), o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
)
SELECT o_orderstatus, AVG(pc) / 100.0 AS median_price
FROM ranked
WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --- pivot: status x priority matrix ----------------------------------------
# Spark's pivot is sugar over conditional aggregation; the oracle spells
# out the CASE WHEN form, which is also what a 100 TB plan should be
# (single shuffle on the groupBy key, no per-pivot-value passes).

def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    df = (
        o.withColumn("pr", F.split_part(F.col("o_orderpriority"), F.lit("-"), F.lit(1)))
        .groupBy("o_orderstatus")
        .pivot("pr", [str(i) for i in range(1, 6)])
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderstatus")
    )
    return df.select(
        "o_orderstatus",
        *[F.coalesce(F.col(str(i)), F.lit(0)).cast("long").alias(f"p{i}") for i in range(1, 6)],
    )


PIVOT_SQL = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE split_part(o_orderpriority, '-', 1) = '1') AS p1,
       COUNT(*) FILTER (WHERE split_part(o_orderpriority, '-', 1) = '2') AS p2,
       COUNT(*) FILTER (WHERE split_part(o_orderpriority, '-', 1) = '3') AS p3,
       COUNT(*) FILTER (WHERE split_part(o_orderpriority, '-', 1) = '4') AS p4,
       COUNT(*) FILTER (WHERE split_part(o_orderpriority, '-', 1) = '5') AS p5
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- range join: price bands ------------------------------------------------
# Non-equi join against a tiny in-plan band table — broadcast nested
# loop with 5 rows on the build side, effectively a scan-speed CASE.

_BANDS = [
    ("nano", 0.0, 500.0),
    ("small", 500.0, 2000.0),
    ("mid", 2000.0, 10000.0),
    ("large", 10000.0, 100000.0),
    ("whale", 100000.0, 1e18),
]


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = o.sparkSession.createDataFrame(
        _BANDS, "band string, lo double, hi double"
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(cents("o_totalprice")).alias("price_sum"),
        )
        .orderBy("band")
    )


RANGE_JOIN_SQL = """
SELECT band, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS price_sum
FROM orders
JOIN (VALUES ('nano', 0.0, 500.0), ('small', 500.0, 2000.0),
             ('mid', 2000.0, 10000.0), ('large', 10000.0, 100000.0),
             ('whale', 100000.0, 1e18)) b(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band ORDER BY band
"""


# --- salted join (skew handling), checked against the plain join ------------

def salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew-salted join; the oracle runs the PLAIN join —
    identical results prove the salting is semantics-preserving."""
    from planning_center_data_pipeline_spark.operators.joins import salted_join

    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = load_table(spark, sf_dir, "customer")
    return (
        salted_join(o, c, "c_custkey", salt_src="o_orderkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(cents("o_totalprice")).alias("price_sum"),
        )
        .orderBy("c_mktsegment")
    )


SALTED_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS price_sum
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --- set operations ---------------------------------------------------------
# Customer activity across two years: intersect / except / union, each
# tagged so one result table carries all three.

def set_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    y94, y95 = buyers(1995), buyers(2001)
    tagged = (
        y94.intersect(y95).select(F.lit("both").alias("tag"), "o_custkey")
        .unionAll(
            y94.exceptAll(y95).select(F.lit("only_first").alias("tag"), "o_custkey")
        )
        .unionAll(
            y95.exceptAll(y94).select(F.lit("only_last").alias("tag"), "o_custkey")
        )
    )
    return tagged.groupBy("tag").agg(F.count(F.lit(1)).alias("n_customers")).orderBy(
        "tag"
    )


SET_YEARS_SQL = """
WITH y94 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2001),
     tagged AS (
       SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM y94 INTERSECT SELECT * FROM y95)
       UNION ALL
       SELECT 'only_first', o_custkey FROM (SELECT * FROM y94 EXCEPT SELECT * FROM y95)
       UNION ALL
       SELECT 'only_last', o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y94)
     )
SELECT tag, COUNT(*) AS n_customers FROM tagged GROUP BY tag ORDER BY tag
"""


# --- multiset set operations -------------------------------------------------

def set_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, duplicates preserved) between
    two years' order-priority bags, re-aggregated to counts.  The
    distinct-set cousins (INTERSECT/EXCEPT) live in
    set_customer_years; this covers the bag semantics.
    """
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS surplus FROM (
          SELECT o_orderpriority FROM {orders}
          WHERE year(o_orderdate) = 1997
          EXCEPT ALL
          SELECT o_orderpriority FROM {orders}
          WHERE year(o_orderdate) = 1996
        ) GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


SET_EXCEPT_ALL_SQL = """
SELECT o_orderpriority, COUNT(*) AS surplus FROM (
  SELECT o_orderpriority FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1997
  EXCEPT ALL
  SELECT o_orderpriority FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1996
) t GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- INTERSECT ALL (bag semantics) ------------------------------------------

def set_orders_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection of customer order activity across two years:
    INTERSECT ALL keeps min(multiplicity) copies per key — 'how many
    of a customer's 1995 orders are matched one-for-one by 1996
    orders'.  Spark's intersectAll is a single aggregate-based plan
    (count per side, emit min) — one shuffle per side, no join
    explosion.  Completes the set-op surface next to
    intersect/except/exceptAll."""
    o = load_table(spark, sf_dir, "orders")

    def keys(year: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == year).select("o_custkey")

    return (
        keys(1995)
        .intersectAll(keys(1996))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .orderBy("o_custkey")
    )


SET_INTERSECT_ALL_SQL = """
WITH i AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
SELECT o_custkey, COUNT(*) AS n_matched FROM i
GROUP BY o_custkey ORDER BY o_custkey
"""


# --- GROUP BY ALL / ORDER BY ALL -------------------------------------------------

# ONE SQL text, two engines: the modern resolve-from-SELECT-list
# shorthand.  Columns and aggregates aliased once, shared verbatim;
# `{orders}` is bound to a DataFrame on the Spark side and to the view
# name in the oracle, so no session-global view is rebound.
_GROUP_BY_ALL_TEXT = """
SELECT o_orderpriority AS priority,
       o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM {orders}
GROUP BY ALL
ORDER BY ALL
"""

_GROUP_BY_ALL_SQL = _GROUP_BY_ALL_TEXT.format(orders="orders")


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL, the exact oracle text run through
    Spark SQL — surface parity demonstrated by sharing one string."""
    return spark.sql(_GROUP_BY_ALL_TEXT, orders=load_table(spark, sf_dir, "orders"))


# --- parameterized SQL -------------------------------------------------------

def sql_param_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})): the
    injection-safe way to template queries — parameters are bound as
    literals by the parser, not string-spliced, and Catalyst still
    constant-folds and pushes them into the scan.
    """
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_price
        FROM {orders}
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"status": "F", "min_price": 150000.0},
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_PARAM_BINDING_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- SQL pipe syntax ---------------------------------------------------------

def sql_pipe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status rollup written in Spark 4 SQL pipe syntax
    (``FROM t |> WHERE |> AGGREGATE |> ORDER BY``) — same Catalyst
    plan as the classic form, different authoring surface.  Money
    sums use cent integers for exact, order-free doubles.
    """
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus <> 'P'
        |> AGGREGATE
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
           GROUP BY o_orderstatus, o_orderpriority
        |> ORDER BY o_orderstatus, o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_PIPE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_price
FROM orders WHERE o_orderstatus <> 'P'
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


# --- recursive CTE (Spark 4 WITH RECURSIVE) ---------------------------------

def sql_recursive_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level recursive CTE: walk the implicit decimal-digit tree
    (parent = doc_id DIV 10) from every doc to the root, returning
    depth and the sum of ids along the chain.  Exercises Spark 4's
    WITH RECURSIVE iteration machinery end-to-end against DuckDB's
    recursive CTE — the declarative form of the iterative loops the
    engine elsewhere runs by hand (connected components, PageRank).
    Depth is bounded by the id's digit count (~5 here), far under
    Spark's recursion level limit."""
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, node, depth) AS (
          SELECT doc_id, doc_id AS node, 0 AS depth FROM {documents}
          UNION ALL
          SELECT w.doc_id, w.node DIV 10, w.depth + 1
          FROM walk w WHERE w.node > 0
        )
        SELECT doc_id,
               CAST(MAX(depth) AS BIGINT) AS depth_to_root,
               CAST(SUM(node) AS BIGINT) AS chain_sum
        FROM walk GROUP BY doc_id ORDER BY doc_id
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


SQL_RECURSIVE_TREE_SQL = """
WITH RECURSIVE walk(doc_id, node, depth) AS (
  SELECT doc_id, doc_id AS node, 0 AS depth FROM documents
  UNION ALL
  SELECT w.doc_id, w.node // 10, w.depth + 1
  FROM walk w WHERE w.node > 0
)
SELECT doc_id,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(SUM(node) AS BIGINT) AS chain_sum
FROM walk GROUP BY doc_id ORDER BY doc_id
"""


# --- correlated scalar subqueries --------------------------------------------------

# `{orders}`/`{lineitem}` are bound to DataFrames on the Spark side and
# to the view names in the oracle, so no session-global view is rebound.
_SCALAR_SUBQ_TEXT = """
SELECT o_orderkey AS orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS order_cents,
       (SELECT CAST(MAX(ROUND(l_extendedprice * 100)) AS BIGINT)
        FROM {lineitem} WHERE l_orderkey = o_orderkey) AS max_line_cents,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM {lineitem} WHERE l_orderkey = o_orderkey) AS n_lines
FROM {orders}
WHERE o_orderkey % 199 = 0
ORDER BY orderkey
"""

_SCALAR_SUBQ_SQL = _SCALAR_SUBQ_TEXT.format(orders="orders", lineitem="lineitem")


def sql_scalar_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT list — the classic
    'lookup aggregate per row' SQL surface.  Catalyst decorrelates both
    subqueries into aggregated left joins (no per-row execution), so
    the 100 TB plan is two shuffles, not N+1 probes; DuckDB runs the
    identical text."""
    return spark.sql(
        _SCALAR_SUBQ_TEXT,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


# --- SQL scalar UDF --------------------------------------------------------------


def sql_scalar_udf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF surface: CREATE TEMPORARY FUNCTION with a
    RETURN expression (pure SQL, so Catalyst inlines it — no Python
    boundary), used to bucket orders by a derived urgency score.  The
    oracle inlines the identical expression; hash equality proves the
    UDF is a pure macro."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION order_urgency(
            priority STRING, price DOUBLE) RETURNS BIGINT
        RETURN CAST(substring(priority, 1, 1) AS BIGINT) * 10
               + CASE WHEN price > 200000 THEN 1 ELSE 0 END
        """
    )
    return spark.sql(
        """
        SELECT order_urgency(o_orderpriority, o_totalprice) AS urgency,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM {orders}
        GROUP BY 1 ORDER BY urgency
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_SCALAR_UDF_SQL = """
SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) * 10
       + CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS urgency,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders GROUP BY 1 ORDER BY urgency
"""


# --- theta-sketch set algebra -----------------------------------------------
# Distinct-user set operations across behaviors: |click ∪ purchase|,
# |click ∩ purchase|, |click \ purchase|.  HLL can only union; theta
# sketches support the full set algebra with mergeable state — the
# audience-overlap primitive.  A theta sketch is EXACT until it holds
# more than 2^lg_k distinct keys (it keeps the k smallest hashes, all
# of them below capacity); lg_k=14 keeps it exact beyond sf1's user
# cardinality, which is what lets the DuckDB oracle hash-match the
# estimates as plain distinct counts.  Past capacity it degrades
# gracefully to ~1.6% relative error (and this oracle would no longer
# apply) while state stays 128 KB per group.

def theta_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sk = e.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END, 14)"
        ).alias("c"),
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END, 14)"
        ).alias("p"),
    )
    return sk.select(
        F.expr("CAST(theta_sketch_estimate(theta_union(c, p)) AS BIGINT)").alias(
            "either_users"
        ),
        F.expr(
            "CAST(theta_sketch_estimate(theta_intersection(c, p)) AS BIGINT)"
        ).alias("both_users"),
        F.expr(
            "CAST(theta_sketch_estimate(theta_difference(c, p)) AS BIGINT)"
        ).alias("click_only_users"),
    )


THETA_USER_SET_OPS_SQL = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS BIGINT)
    AS either_users,
  CAST((SELECT COUNT(*) FROM c WHERE user_id IN (SELECT user_id FROM p)) AS BIGINT)
    AS both_users,
  CAST((SELECT COUNT(*) FROM c WHERE user_id NOT IN (SELECT user_id FROM p)) AS BIGINT)
    AS click_only_users
"""


# --- window analytics: running totals / lag / rank --------------------------
# One shuffle on o_custkey; all three functions share the same frame.

def win_customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price_c = cents("o_totalprice")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            (
                F.sum(price_c)
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / 100.0
            ).alias("running_spend"),
            (F.lag(price_c).over(w).cast("double") / 100.0).alias("prev_price"),
            F.row_number().over(w).cast("long").alias("order_seq"),
        )
        .filter(F.col("o_custkey") % 10 == 0)
        .orderBy("o_custkey", "order_seq")
    )


WIN_HISTORY_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)/100.0 AS running_spend,
       CAST(LAG(CAST(ROUND(o_totalprice*100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            AS DOUBLE)/100.0 AS prev_price,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS order_seq
FROM orders
QUALIFY o_custkey % 10 = 0
ORDER BY o_custkey, order_seq
"""


# --- distribution ranks ------------------------------------------------------

def win_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per nation over account balances
    (top-5 rows per nation kept).  Both are exact rational functions
    of integer rank/count, so the doubles are bit-identical across
    engines; the rank<=5 cut still compiles to WindowGroupLimit.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("c_nationkey", "rn")
    )


WIN_DISTRIBUTION_RANKS_SQL = """
SELECT c_nationkey, c_custkey, rn, pr, cd FROM (
  SELECT c_nationkey, c_custkey,
         ROW_NUMBER() OVER w AS rn,
         PERCENT_RANK() OVER w AS pr,
         CUME_DIST() OVER w AS cd
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC)
) WHERE rn <= 5 ORDER BY c_nationkey, rn
"""


# --- window frames: lead / first_value / nth_value / range frame ------------

def win_frame_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = cents("o_totalprice")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            (F.lead(price).over(wo).cast("double") / 100.0).alias("next_price"),
            (F.first(price).over(wo).cast("double") / 100.0).alias("first_price"),
            (
                F.nth_value(price, 2).over(
                    wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ).cast("double")
                / 100.0
            ).alias("second_price"),
            (
                F.sum(price)
                .over(wo.rowsBetween(-2, 0))
                .cast("double")
                / 100.0
            ).alias("rolling3_sum"),
        )
        .filter(F.col("o_custkey") % 20 == 0)
        .orderBy("o_custkey", "o_orderkey")
    )


WIN_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(LEAD(pc) OVER w AS DOUBLE)/100.0 AS next_price,
       CAST(FIRST_VALUE(pc) OVER w AS DOUBLE)/100.0 AS first_price,
       CAST(NTH_VALUE(pc, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE)/100.0 AS second_price,
       CAST(SUM(pc) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)/100.0
         AS rolling3_sum
FROM (SELECT *, CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc FROM orders)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
QUALIFY o_custkey % 20 = 0
ORDER BY o_custkey, o_orderkey
"""


# --- gaps and islands --------------------------------------------------------

def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-month streaks per customer.

    month_index - row_number is constant within a consecutive run
    (the classic islands trick), so one window pass + two groupBys
    turn the order log into streak stats.  The explicit repartition
    on o_custkey makes the month-dedup aggregate, the window, and
    both downstream groupBys all reuse ONE shuffle: hash(custkey)
    clusters every finer grouping key (custkey, mi)/(custkey, grp),
    so EnsureRequirements inserts no further exchange.  No self-join,
    no range join.
    """
    o = load_table(spark, sf_dir, "orders")
    months = (
        o.select(
            "o_custkey",
            (
                F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
            ).cast("long").alias("mi"),
        )
        .repartition("o_custkey")
        .dropDuplicates(["o_custkey", "mi"])
    )
    w = Window.partitionBy("o_custkey").orderBy("mi")
    grp = months.withColumn("grp", F.col("mi") - F.row_number().over(w))
    islands = grp.groupBy("o_custkey", "grp").agg(
        F.count("*").alias("run_len")
    )
    return (
        islands.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_islands"),
            F.max("run_len").alias("max_run"),
            F.sum("run_len").cast("bigint").alias("active_months"),
        )
        .orderBy("o_custkey")
    )


WIN_GAPS_ISLANDS_SQL = """
WITH m AS (
  SELECT DISTINCT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi
  FROM orders
), g AS (
  SELECT o_custkey, mi,
         mi - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY mi) AS grp
  FROM m
), isl AS (
  SELECT o_custkey, grp, COUNT(*) AS run_len
  FROM g GROUP BY o_custkey, grp
)
SELECT o_custkey,
       COUNT(*) AS n_islands,
       MAX(run_len) AS max_run,
       CAST(SUM(run_len) AS BIGINT) AS active_months
FROM isl GROUP BY o_custkey ORDER BY o_custkey
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


# --- ranking-function variants ----------------------------------------------

def win_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 8)
        .orderBy("user_id", "rn")
    )


WIN_RANK_SQL = """
SELECT user_id, event_id,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       NTILE(4) OVER w AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
QUALIFY rn <= 8
ORDER BY user_id, rn
"""


# --- share-of-parent revenue drilldown ---------------------------------------


def win_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation revenue with its share of the region subtotal and of the
    global total — the percent-of-parent drilldown every BI tool
    renders.  Revenue aggregates as integer cents; both shares divide
    exact integers as doubles, rounded once.

    The two windows run over the 25-row nation rollup (cardinality =
    the dimension, not the data) — the global window's single
    partition holds 25 rows by construction.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents("o_totalprice")).alias("tc"))
    )
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    share = lambda part: F.round(  # noqa: E731
        F.lit(100.0) * F.col("tc") / F.sum("tc").over(part).cast("double"), 6
    )
    return per_nation.select(
        "region",
        "nation",
        (F.col("tc").cast("double") / 100.0).alias("revenue"),
        share(w_reg).alias("share_of_region_pct"),
        share(w_all).alias("share_of_global_pct"),
    ).orderBy("region", "nation")


WIN_SHARE_OF_PARENT_SQL = """
WITH per_nation AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS tc
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       CAST(tc AS DOUBLE)/100.0 AS revenue,
       ROUND(100.0 * tc / CAST(SUM(tc) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS share_of_region_pct,
       ROUND(100.0 * tc / CAST(SUM(tc) OVER () AS DOUBLE), 6)
         AS share_of_global_pct
FROM per_nation ORDER BY region, nation
"""


# --- per-group top-n via WindowGroupLimit -----------------------------------

def win_topn_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class.

    A row_number-over-window followed by ``rk <= 3`` compiles to
    Spark's WindowGroupLimit: each map task keeps only 3 rows per
    group BEFORE the shuffle, so the exchange carries
    O(groups x k x partitions) rows instead of the full table — the
    built-in distributed top-n-per-group, no manual pre-pruning.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    )


WIN_TOPN_GROUP_LIMIT_SQL = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rk
  FROM orders
) WHERE rk <= 3 ORDER BY o_orderpriority, rk
"""


# --- nth_value / frame-edge window functions --------------------------------

def win_value_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/second/last event value per user over a full-frame
    window (nth_value needs the whole partition visible — the frame
    must be UNBOUNDED on both sides, a classic silent-wrong-answer
    trap with the default frame).  One row per user via a rank cut.
    """
    e = load_table(spark, sf_dir, "events")
    order = [F.desc("value"), F.asc("event_id")]
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wr = Window.partitionBy("user_id").orderBy(*order)
    return (
        e.select(
            "user_id",
            F.first_value("value").over(wf).alias("top1"),
            F.nth_value("value", 2).over(wf).alias("top2"),
            F.last_value("value").over(wf).alias("bottom"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


WIN_VALUE_POSITIONS_SQL = """
SELECT user_id, top1, top2, bottom FROM (
  SELECT user_id,
         FIRST_VALUE(value) OVER w AS top1,
         NTH_VALUE(value, 2) OVER w AS top2,
         LAST_VALUE(value) OVER w AS bottom,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) WHERE rn = 1 ORDER BY user_id
"""


QUERIES = {
    "agg_bitwise_masks": agg_bitwise_masks,
    "agg_cube_events": agg_cube_events,
    "agg_filter_clause": agg_filter_clause,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_kll_value_quantiles": agg_kll_value_quantiles,
    "agg_mode_segment": agg_mode_segment,
    "agg_percentiles": agg_percentiles,
    "agg_rollup_orders": agg_rollup_orders,
    "agg_salted_skew": agg_salted_skew,
    "agg_stats_moments": agg_stats_moments,
    "arr_dim_stats": arr_dim_stats,
    "arr_setops_vocab": arr_setops_vocab,
    "arr_vector_stats": arr_vector_stats,
    "arr_zipwith_dot": arr_zipwith_dot,
    "corr_above_nation_avg": corr_above_nation_avg,
    "distinct_users_approx": distinct_users_approx,
    "distinct_users_bitmap": distinct_users_bitmap,
    "distinct_users_exact": distinct_users_exact,
    "distinct_users_hll_mergeable": distinct_users_hll_mergeable,
    "fn_agg_argmax": fn_agg_argmax,
    "fn_bitwise": fn_bitwise,
    "fn_collation_group": fn_collation_group,
    "fn_conditional": fn_conditional,
    "fn_datetime": fn_datetime,
    "fn_decimal_exact": fn_decimal_exact,
    "fn_listagg_top_customers": fn_listagg_top_customers,
    "fn_map_hof": fn_map_hof,
    "fn_map_props": fn_map_props,
    "fn_month_spine": fn_month_spine,
    "fn_regexp": fn_regexp,
    "fn_regexp_extract_all": fn_regexp_extract_all,
    "fn_string_edit": fn_string_edit,
    "fn_string_math": fn_string_math,
    "fn_try_arith": fn_try_arith,
    "fn_unpivot_orders": fn_unpivot_orders,
    "fn_variant_props": fn_variant_props,
    "freq_heavy_hitters": freq_heavy_hitters,
    "j_anti_customers_without_orders": j_anti_customers_without_orders,
    "j_nullsafe_priority": j_nullsafe_priority,
    "j_semi_late_orders": j_semi_late_orders,
    "median_order_price": median_order_price,
    "pivot_status_priority": pivot_status_priority,
    "range_join_price_bands": range_join_price_bands,
    "salted_join_orders": salted_join_orders,
    "set_customer_years": set_customer_years,
    "set_except_all_priorities": set_except_all_priorities,
    "set_orders_intersect_all": set_orders_intersect_all,
    "sql_group_by_all": sql_group_by_all,
    "sql_param_binding": sql_param_binding,
    "sql_pipe_orders": sql_pipe_orders,
    "sql_recursive_tree": sql_recursive_tree,
    "sql_scalar_subquery_orders": sql_scalar_subquery_orders,
    "sql_scalar_udf_orders": sql_scalar_udf_orders,
    "theta_user_set_ops": theta_user_set_ops,
    "win_customer_order_history": win_customer_order_history,
    "win_distribution_ranks": win_distribution_ranks,
    "win_frame_variants": win_frame_variants,
    "win_gaps_islands": win_gaps_islands,
    "win_range_rolling_spend": win_range_rolling_spend,
    "win_rank_variants": win_rank_variants,
    "win_share_of_parent": win_share_of_parent,
    "win_topn_group_limit": win_topn_group_limit,
    "win_value_positions": win_value_positions,
}
ORACLES = {
    "agg_bitwise_masks": AGG_BITWISE_MASKS_SQL,
    "agg_cube_events": AGG_CUBE_SQL,
    "agg_filter_clause": AGG_FILTER_CLAUSE_SQL,
    "agg_grouping_sets": AGG_GROUPING_SETS_SQL,
    "agg_mode_segment": AGG_MODE_SEGMENT_SQL,
    "agg_percentiles": AGG_PERCENTILES_SQL,
    "agg_rollup_orders": AGG_ROLLUP_SQL,
    "agg_salted_skew": AGG_SALTED_SKEW_SQL,
    "agg_stats_moments": AGG_STATS_MOMENTS_SQL,
    "arr_dim_stats": ARR_DIM_STATS_SQL,
    "arr_setops_vocab": ARR_SETOPS_SQL,
    "arr_vector_stats": ARR_VECTOR_STATS_SQL,
    "arr_zipwith_dot": ARR_ZIPWITH_SQL,
    "corr_above_nation_avg": CORR_AVG_SQL,
    "distinct_users_bitmap": DISTINCT_USERS_BITMAP_SQL,
    "distinct_users_exact": DISTINCT_EXACT_SQL,
    "fn_agg_argmax": FN_AGG_ARGMAX_SQL,
    "fn_bitwise": FN_BITWISE_SQL,
    "fn_collation_group": FN_COLLATION_GROUP_SQL,
    "fn_conditional": FN_CONDITIONAL_SQL,
    "fn_datetime": FN_DATETIME_SQL,
    "fn_decimal_exact": FN_DECIMAL_EXACT_SQL,
    "fn_listagg_top_customers": FN_LISTAGG_SQL,
    "fn_map_hof": FN_MAP_HOF_SQL,
    "fn_map_props": FN_MAP_PROPS_SQL,
    "fn_month_spine": FN_MONTH_SPINE_SQL,
    "fn_regexp": FN_REGEXP_SQL,
    "fn_regexp_extract_all": _REGEXP_SQL,
    "fn_string_edit": FN_STRING_EDIT_SQL,
    "fn_string_math": FN_STRING_MATH_SQL,
    "fn_try_arith": FN_TRY_ARITH_SQL,
    "fn_unpivot_orders": FN_UNPIVOT_SQL,
    "fn_variant_props": FN_VARIANT_SQL,
    "freq_heavy_hitters": FREQ_HEAVY_HITTERS_SQL,
    "j_anti_customers_without_orders": J_ANTI_SQL,
    "j_nullsafe_priority": J_NULLSAFE_SQL,
    "j_semi_late_orders": J_SEMI_SQL,
    "median_order_price": MEDIAN_SQL,
    "pivot_status_priority": PIVOT_SQL,
    "range_join_price_bands": RANGE_JOIN_SQL,
    "salted_join_orders": SALTED_JOIN_SQL,
    "set_customer_years": SET_YEARS_SQL,
    "set_except_all_priorities": SET_EXCEPT_ALL_SQL,
    "set_orders_intersect_all": SET_INTERSECT_ALL_SQL,
    "sql_group_by_all": _GROUP_BY_ALL_SQL,
    "sql_param_binding": SQL_PARAM_BINDING_SQL,
    "sql_pipe_orders": SQL_PIPE_ORDERS_SQL,
    "sql_recursive_tree": SQL_RECURSIVE_TREE_SQL,
    "sql_scalar_subquery_orders": _SCALAR_SUBQ_SQL,
    "sql_scalar_udf_orders": SQL_SCALAR_UDF_SQL,
    "theta_user_set_ops": THETA_USER_SET_OPS_SQL,
    "win_customer_order_history": WIN_HISTORY_SQL,
    "win_distribution_ranks": WIN_DISTRIBUTION_RANKS_SQL,
    "win_frame_variants": WIN_FRAME_SQL,
    "win_gaps_islands": WIN_GAPS_ISLANDS_SQL,
    "win_range_rolling_spend": WIN_RANGE_SQL,
    "win_rank_variants": WIN_RANK_SQL,
    "win_share_of_parent": WIN_SHARE_OF_PARENT_SQL,
    "win_topn_group_limit": WIN_TOPN_GROUP_LIMIT_SQL,
    "win_value_positions": WIN_VALUE_POSITIONS_SQL,
}
