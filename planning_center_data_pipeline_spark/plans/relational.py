"""General relational surface over the driver test tables (SURVEY.md §7
Phase 1+3): scan→filter→join→agg→sort plans exercising the full Spark
join/agg/window/set-op surface, each with a DuckDB oracle.

Scale notes: filters sit directly on the scan (pushdown), dimension
joins are broadcast explicitly, fact-fact joins shuffle on their keys
and rely on AQE for skew; money aggregates use exact scaled-integer
sums (see functions/exact.py) so results are identical at any
parallelism — 32 local threads or 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.exact import cents, money_sum
from planning_center_data_pipeline_spark.sources.tables import load_table


# Scaled-int revenue term: price_cents * (100 - disc_cents) has scale 4.
def _revenue():
    return cents("l_extendedprice") * (100 - cents("l_discount"))


REVENUE_SQL = (
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"
)


# --- q1: pricing summary (TPC-H Q1 shape; flagship) -------------------------
# scan → pushdown filter → hash agg (partial+final) → sort.

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    qty = cents("l_quantity")
    price = cents("l_extendedprice")
    disc = cents("l_discount")
    disc_price = _revenue()                      # scale 4
    charge = disc_price * (100 + cents("l_tax"))  # scale 6
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(qty).alias("sum_qty"),
            money_sum(price).alias("sum_base_price"),
            money_sum(disc_price, 4).alias("sum_disc_price"),
            money_sum(charge, 6).alias("sum_charge"),
            (money_sum(qty) / n).alias("avg_qty"),
            (money_sum(price) / n).alias("avg_price"),
            (money_sum(disc) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
  CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS sum_disc_price,
  CAST(SUM({REVENUE_SQL} * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_qty,
  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_price,
  CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q3: shipping priority (customer ⋈ orders ⋈ lineitem) -------------------
# Broadcast the filtered customer dim; orders⋈lineitem shuffles on orderkey.

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(_revenue(), 4).alias("revenue"))
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT
  l_orderkey,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
  o_orderpriority,
  CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- q5: revenue by nation (5-way join through dims) ------------------------
# Dim chain region→nation→{customer,supplier} is broadcast end-to-end;
# only lineitem⋈orders shuffles.

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(c),
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(_revenue(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = f"""
SELECT
  n_name,
  CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier_volume": Q5_SQL,
}
