"""General analytic surface (SURVEY.md §7 Phase 3): the join variants,
multi-dimensional aggregations, window analytics, set operations, and
non-equi joins the reference never needed but a complete engine must
serve.  Every query has a DuckDB oracle except where noted.

Scale notes are inline per query; the common themes:
- dimension sides of joins are broadcast explicitly;
- fact-fact joins shuffle once on their equi-key and reuse it;
- as-of joins use the union+window formulation (one shuffle on the
  partition key) instead of a range self-join (quadratic per key);
- money aggregates go through scaled-int64 (functions/exact.py) so
  results are bit-identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, money_sum
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


REVENUE_SQL = (
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"
)


# --- q6: single-table filter + agg (pushdown showcase) ----------------------
# The whole WHERE clause reaches the parquet scan as PushedFilters;
# the agg is a partial+final sum of one long column — scan-bound.

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(cents("l_extendedprice") * cents("l_discount"), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
             * CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --- q14: promo revenue share (broadcast dim + conditional agg) -------------

def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("bigint"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            money_sum(promo, 4).alias("promo_revenue"),
            money_sum(rev, 4).alias("total_revenue"),
            (F.sum(promo).cast("double") * 100.0 / F.sum(rev).cast("double")).alias(
                "promo_pct"
            ),
        )
    )


Q14_SQL = f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_SQL} ELSE 0 END) AS DOUBLE)/10000.0
         AS promo_revenue,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS total_revenue,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_SQL} ELSE 0 END) AS DOUBLE) * 100.0
         / CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
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


# --- as-of join -------------------------------------------------------------
# For each purchase event, the most recent click at-or-before it by the
# same user.  Implementation: union the two tagged streams and take a
# running last-click over (user_id) ordered by (ts, side, event_id) —
# ONE shuffle on user_id, no range self-join (which is quadratic per
# key).  Ties: clicks sort before purchases at equal ts (<= semantics),
# the max event_id among equal-ts clicks wins — fully deterministic.

def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "tus", F.lit(0).alias("side"), F.col("event_id")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "tus", F.lit(1).alias("side"), F.col("event_id")
    )
    u = clicks.unionAll(buys)
    w = Window.partitionBy("user_id").orderBy("tus", "side", "event_id")
    last_click = F.last(
        F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    last_click_ts = F.last(
        F.when(F.col("side") == 0, F.col("tus")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        u.withColumn("click_id", last_click)
        .withColumn("click_tus", last_click_ts)
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("tus").alias("purchase_tus"),
            "click_id",
            "click_tus",
        )
        .orderBy("purchase_id")
    )


ASOF_SQL = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side, event_id
  FROM events WHERE event_type IN ('click', 'purchase')
), r AS (
  SELECT *,
         LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_id,
         LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_tus
  FROM u
)
SELECT event_id AS purchase_id, user_id, tus AS purchase_tus, click_id, click_tus
FROM r WHERE side = 1
ORDER BY purchase_id
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


# --- q18: agg-then-join (big orders) ----------------------------------------

def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(money_sum(cents("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 > 250.0
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- q10: returned-item revenue per customer --------------------------------

def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
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


# --- q7: volume between nation pairs ----------------------------------------
# Two broadcast dim chains hang off the fact join; grouping on derived
# (supp_nation, cust_nation) pairs.

def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nk)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(money_sum(_l_revenue(), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _l_revenue():
    return cents("l_extendedprice") * (100 - cents("l_discount"))


Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
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


# --- physical-strategy control: shuffle-hash hint ---------------------------
# Same logical query as the broadcast form, forced onto the
# shuffle-hash path (the right choice when the "small" side outgrows
# broadcast but one side still fits a per-partition hash map). The
# oracle is the SAME SQL — identical results under any join strategy.

def q10_shuffle_hash_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer").hint("shuffle_hash")
    n = load_table(spark, sf_dir, "nation").hint("shuffle_hash")
    rev = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        l.join(o.hint("shuffle_hash"), l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money_sum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event log: per
    customer, collapse the order stream into validity intervals of
    o_orderpriority — a row per change, with valid_from/valid_to and a
    current flag.  Two windows over the same (custkey, date, key)
    partitioning (change detection via lag on the full stream, then
    lead over the surviving change rows), so the data shuffles once
    and both windows run in the same sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = o.withColumn(
        "prev_prio", F.lag("o_orderpriority").over(w)
    ).filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    return (
        ch.withColumn("valid_to", F.lead("o_orderdate").over(w))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("custkey", "valid_from", "priority")
    )


SCD2_SQL = """
WITH ch AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev_prio
  FROM orders
), changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM ch
  WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
)
SELECT o_custkey AS custkey,
       o_orderpriority AS priority,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
FROM changes
ORDER BY custkey, valid_from, priority
"""


# --- LATERAL correlated subquery (top-2 orders per customer) -----------------
# Spark 4's LATERAL subquery join: for each (subset) customer, the two
# highest-value orders, expressed as a correlated per-row subquery with
# ORDER BY + LIMIT.  Catalyst decorrelates this into a ranked window
# join — same physical plan family as the window formulation, but it
# exercises the SQL decorrelation path.  Deterministic tie-break on
# o_orderkey.  One text for both engines: `{customer}`/`{orders}` bind
# DataFrames on the Spark side and the table names in the oracle.

_Q_LATERAL_TEXT = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(ROUND(t.o_totalprice*100) AS BIGINT) AS price_cents
FROM {customer} c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey % 100 = 0
ORDER BY c.c_custkey, price_cents DESC, o_orderkey
"""
Q_LATERAL_SQL = _Q_LATERAL_TEXT.format(customer="customer", orders="orders")


def q_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _Q_LATERAL_TEXT,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


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


# --- fuzzy entity resolution -------------------------------------------------
# Record-linkage shape: block (nation), generate within-block pairs,
# score with edit distance, keep near-matches.  Blocking bounds the
# pair space exactly like the dedup wing's LSH buckets — never a full
# cross join.  The subset filter keeps the demo small; at scale the
# blocking key IS the partitioner.

def er_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 25 == 0)
        .select("c_custkey", "c_nationkey", "c_name")
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_1"),
            F.col("b.c_custkey").alias("key_2"),
            F.col("a.c_nationkey").alias("nationkey"),
            F.levenshtein("a.c_name", "b.c_name").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
        .orderBy("key_1", "key_2")
    )


ER_FUZZY_SQL = """
SELECT a.c_custkey AS key_1, b.c_custkey AS key_2,
       a.c_nationkey AS nationkey,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey % 25 = 0 AND b.c_custkey % 25 = 0
  AND levenshtein(a.c_name, b.c_name) <= 2
ORDER BY key_1, key_2
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


QUERIES = {
    "q6_forecast_revenue": q6_forecast_revenue,
    "scd2_customer_priority": scd2_customer_priority,
    "q14_promo_share": q14_promo_share,
    "j_semi_late_orders": j_semi_late_orders,
    "j_anti_customers_without_orders": j_anti_customers_without_orders,
    "agg_rollup_orders": agg_rollup_orders,
    "agg_cube_events": agg_cube_events,
    "win_customer_order_history": win_customer_order_history,
    "set_customer_years": set_customer_years,
    "asof_purchase_last_click": asof_purchase_last_click,
    "range_join_price_bands": range_join_price_bands,
    "q18_big_orders": q18_big_orders,
    "q10_returned_revenue": q10_returned_revenue,
    "distinct_users_exact": distinct_users_exact,
    "distinct_users_approx": distinct_users_approx,
    "distinct_users_hll_mergeable": distinct_users_hll_mergeable,
    "salted_join_orders": salted_join_orders,
    "fn_string_math": fn_string_math,
    "fn_datetime": fn_datetime,
    "pivot_status_priority": pivot_status_priority,
    "corr_above_nation_avg": corr_above_nation_avg,
    "win_rank_variants": win_rank_variants,
    "q7_nation_volume": q7_nation_volume,
    "median_order_price": median_order_price,
    "win_frame_variants": win_frame_variants,
    "agg_grouping_sets": agg_grouping_sets,
    "fn_regexp": fn_regexp,
    "q10_shuffle_hash_variant": q10_shuffle_hash_variant,
    "q_lateral_top2_orders": q_lateral_top2_orders,
    "j_nullsafe_priority": j_nullsafe_priority,
    "er_fuzzy_name_match": er_fuzzy_name_match,
    "sql_recursive_tree": sql_recursive_tree,
}

ORACLES = {
    "q6_forecast_revenue": Q6_SQL,
    "scd2_customer_priority": SCD2_SQL,
    "q14_promo_share": Q14_SQL,
    "j_semi_late_orders": J_SEMI_SQL,
    "j_anti_customers_without_orders": J_ANTI_SQL,
    "agg_rollup_orders": AGG_ROLLUP_SQL,
    "agg_cube_events": AGG_CUBE_SQL,
    "win_customer_order_history": WIN_HISTORY_SQL,
    "set_customer_years": SET_YEARS_SQL,
    "asof_purchase_last_click": ASOF_SQL,
    "range_join_price_bands": RANGE_JOIN_SQL,
    "q18_big_orders": Q18_SQL,
    "q10_returned_revenue": Q10_SQL,
    "distinct_users_exact": DISTINCT_EXACT_SQL,
    "salted_join_orders": SALTED_JOIN_SQL,
    "fn_string_math": FN_STRING_MATH_SQL,
    "fn_datetime": FN_DATETIME_SQL,
    "pivot_status_priority": PIVOT_SQL,
    "corr_above_nation_avg": CORR_AVG_SQL,
    "win_rank_variants": WIN_RANK_SQL,
    "q7_nation_volume": Q7_SQL,
    "median_order_price": MEDIAN_SQL,
    "win_frame_variants": WIN_FRAME_SQL,
    "agg_grouping_sets": AGG_GROUPING_SETS_SQL,
    "fn_regexp": FN_REGEXP_SQL,
    "q10_shuffle_hash_variant": Q10_SQL,
    "q_lateral_top2_orders": Q_LATERAL_SQL,
    "j_nullsafe_priority": J_NULLSAFE_SQL,
    "er_fuzzy_name_match": ER_FUZZY_SQL,
    "sql_recursive_tree": SQL_RECURSIVE_TREE_SQL,
}
