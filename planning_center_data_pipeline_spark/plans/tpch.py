"""TPC-H-shaped queries (`q<N>_`, `q_`) over the slim driver schema.

The schema has no partsupp, lineitem lacks the commit and receipt dates
and customer lacks a phone, so q2, q4, q8, q9, q11-q13, q15-q17 and
q19-q22 are adapted to it.  Each covers a distinct relational pattern:
EXISTS / NOT EXISTS semi and anti joins (q4, q21), decorrelated scalar
subqueries (q17, q22), group-count histograms (q13), tie-preserving
min/max join-backs (q2, q15), disjunctive predicates (q19),
share-of-total ratios (q8) and HAVING against a global aggregate (q11).

Every money aggregate and threshold comparison runs on scaled integers
(`functions.exact`), so results are bit-identical at any parallelism
and match the DuckDB oracle exactly.  Filters sit on the scan,
dimension sides are broadcast, and fact-fact joins shuffle on their
keys and pre-aggregate first where the group key equals the join key
(q15, q17, q20, q21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.exact import cents, money_sum
from planning_center_data_pipeline_spark.sources.tables import load_table


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


REVENUE_SQL = (
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"
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


# --- q11 variant: important parts via HAVING vs global total -----------------
# Inventory-value proxy: shipped qty x price per part; keep parts whose
# value exceeds 1/10000 of the grand total.  The threshold compare runs
# on exact integers (group > total div 10000) — no float drift, and the
# global total is a 1-row broadcast, not a window over all rows.

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    val = cents("l_quantity") * cents("l_extendedprice")  # scale 4
    per_part = l.groupBy("l_partkey").agg(F.sum(val).alias("value_raw"))
    total = per_part.agg(
        F.expr("sum(value_raw) div 10000").alias("threshold_raw")
    )
    return (
        per_part.join(F.broadcast(total), per_part.value_raw > total.threshold_raw)
        .select(
            "l_partkey",
            (F.col("value_raw").cast("double") / 10000.0).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_quantity*100) AS BIGINT)
             * CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS value_raw
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_raw AS DOUBLE)/10000.0 AS part_value
FROM per_part
WHERE value_raw > (SELECT CAST(SUM(value_raw) AS BIGINT) // 10000 FROM per_part)
ORDER BY part_value DESC, l_partkey
"""


# --- q12 variant: priority classes by return flag ----------------------------
# lineitem⋈orders with CASE-based conditional counts — TPC-H Q12's
# high/low-priority split, keyed on return flag since ship modes are
# absent from the slim schema.

def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- q13: customer order-count distribution ----------------------------------
# Left join + two-level aggregation (count per customer, then histogram
# of counts) — the classic group-count-of-counts shape.

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
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


# Scaled-int revenue term: price_cents * (100 - disc_cents) has scale 4.
def _revenue():
    return cents("l_extendedprice") * (100 - cents("l_discount"))


# --- q15: top supplier(s) by quarterly revenue, ties preserved ---------------
# Pre-aggregate revenue per supplier (shuffle at supplier cardinality),
# then join against the 1-row MAX — exact integer comparison keeps ties
# bit-stable.

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("rev_raw"))
    mx = rev.agg(F.max("rev_raw").alias("max_raw"))
    return (
        rev.join(F.broadcast(mx), rev.rev_raw == mx.max_raw)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_raw").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({REVENUE_SQL}) AS rev_raw
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_raw AS DOUBLE)/10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_raw = (SELECT MAX(rev_raw) FROM rev)
ORDER BY s_suppkey
"""


# --- q16 variant: supplier variety per part group ----------------------------
# COUNT(DISTINCT) after a broadcast dim join; the NOT-LIKE / <> / IN
# predicate mix mirrors TPC-H Q16's exclusion filters.

def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("SMALL"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'SMALL%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --- q17: small-quantity-order revenue (decorrelated scalar subquery) --------
# TPC-H Q17's correlated AVG, decorrelated into a per-part aggregate and
# joined back.  The 20%-of-average threshold is evaluated in integer
# space: qty*5*n < sum_qty  <=>  qty < 0.2 * avg(qty), exactly.

def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10)
    )
    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(cents("l_quantity")).alias("sum_qty_raw"),
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(per_part, l.l_partkey == per_part.agg_partkey)
        .filter(
            cents("l_quantity") * 5 * F.col("n_lines") < F.col("sum_qty_raw")
        )
        .agg(
            (money_sum(cents("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
        )
    )


Q17_SQL = """
WITH per_part AS (
  SELECT l_partkey AS agg_partkey, COUNT(*) AS n_lines,
         CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_raw
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/7.0
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = agg_partkey
WHERE p_brand = 'Brand#3' AND p_size <= 10
  AND CAST(ROUND(l_quantity*100) AS BIGINT) * 5 * n_lines < sum_qty_raw
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


# --- q19 variant: disjunctive brand/size/quantity predicates -----------------
# One OR-of-ANDs predicate over a broadcast part join; quantity bounds
# compare in cents to dodge double-literal drift.

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    q = cents("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & q.between(100, 1100)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & q.between(1000, 2000)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & q.between(2000, 3000)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(money_sum(_revenue(), 4).alias("revenue"))
    )


Q19_SQL = f"""
SELECT CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND CAST(ROUND(l_quantity*100) AS BIGINT) BETWEEN 100 AND 1100)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND CAST(ROUND(l_quantity*100) AS BIGINT) BETWEEN 1000 AND 2000)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND CAST(ROUND(l_quantity*100) AS BIGINT) BETWEEN 2000 AND 3000)
"""


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


# --- q20 variant: dominant suppliers of red parts --------------------------
# Suppliers who shipped more than an eighth of any red part's total
# volume (the data's supplier-per-part fan-out caps shares near 20%).
# Two aggregations at part(+supplier) cardinality, integer threshold
# (8*supplier_qty > part_qty), then a semi-join back to supplier.

def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    red = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    per_ps = red.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents("l_quantity")).alias("supp_qty_raw")
    )
    per_p = red.groupBy(F.col("l_partkey").alias("tot_partkey")).agg(
        F.sum(cents("l_quantity")).alias("part_qty_raw")
    )
    dominant = (
        per_ps.join(per_p, per_ps.l_partkey == per_p.tot_partkey)
        .filter(F.col("supp_qty_raw") * 8 > F.col("part_qty_raw"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH red AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_raw
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
), per_ps AS (
  SELECT l_partkey, l_suppkey, SUM(qty_raw) AS supp_qty_raw
  FROM red GROUP BY l_partkey, l_suppkey
), per_p AS (
  SELECT l_partkey, SUM(qty_raw) AS part_qty_raw
  FROM red GROUP BY l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
  WHERE supp_qty_raw * 8 > part_qty_raw
)
ORDER BY s_suppkey
"""


# --- q21 variant: solo-late suppliers in multi-supplier orders ---------------
# TPC-H Q21's EXISTS / NOT-EXISTS pair, decorrelated into per-order
# distinct-supplier counts: the order has >1 supplier but exactly one
# late supplier — and it's this one.  Late = shipped >60 days after the
# order date on a finalized order.

def q21_solo_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    lo = l.join(o, l.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS")).cast("int"),
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    waiting = (
        lo.filter(F.col("is_late") == 1)
        .join(
            per_order,
            (F.col("l_orderkey") == F.col("agg_orderkey"))
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1),
        )
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY l_orderkey
)
SELECT s_name, COUNT(DISTINCT lo.l_orderkey) AS numwait
FROM lo
JOIN per_order USING (l_orderkey)
JOIN supplier ON lo.l_suppkey = s_suppkey
WHERE lo.is_late = 1 AND n_supp > 1 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


# --- q22 variant: wealthy customers without orders ---------------------------
# TPC-H Q22: scalar-subquery threshold (average positive balance) +
# anti-join to recent orders (no order since 2000), grouped by nation.  The threshold compare is
# integer-exact: bal*n > sum  <=>  bal > avg.

def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0)
    thr = pos.agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(cents("c_acctbal")).alias("sum_pos_raw"),
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (
        c.join(F.broadcast(thr))
        .filter(cents("c_acctbal") * F.col("n_pos") > F.col("sum_pos_raw"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum(cents("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q22_SQL = """
WITH thr AS (
  SELECT COUNT(*) AS n_pos,
         CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_pos_raw
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS totacctbal
FROM customer, thr
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) * n_pos > sum_pos_raw
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


# --- q2 variant: cheapest-supplier-per-part with ties ------------------------
# No partsupp table, so "cost" is the historical unit price actually
# charged (l_extendedprice / l_quantity — a single IEEE division, hence
# bit-identical in both engines).  Pattern: min-per-group + join-back on
# equality, preserving ties — the shape of TPC-H Q2's correlated MIN.

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "unit_price", F.col("l_extendedprice") / F.col("l_quantity")
    )
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    min_per_part = lp.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_unit_price")
    )
    return (
        lp.join(
            min_per_part,
            (lp.l_partkey == min_per_part.l_partkey)
            & (lp.unit_price == min_per_part.min_unit_price),
        )
        .join(F.broadcast(s), lp.l_suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "min_unit_price")
        .distinct()
        .orderBy("p_partkey", "s_name")
    )


Q2_SQL = """
WITH lp AS (
  SELECT p_partkey, p_name, l_suppkey,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size = 5
), m AS (
  SELECT p_partkey, MIN(unit_price) AS min_unit_price
  FROM lp GROUP BY p_partkey
)
SELECT DISTINCT lp.p_partkey, lp.p_name, s_name, m.min_unit_price
FROM lp
JOIN m ON lp.p_partkey = m.p_partkey AND lp.unit_price = m.min_unit_price
JOIN supplier ON lp.l_suppkey = s_suppkey
ORDER BY lp.p_partkey, s_name
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


# --- q4: order-priority checking via EXISTS ----------------------------------
# No commit/receipt dates, so "late" = any line shipped more than 90
# days after the order date.  Left-semi join with a compound condition —
# the EXISTS shape of TPC-H Q4.

def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o.o_orderkey
      AND l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
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


def _l_revenue():
    return cents("l_extendedprice") * (100 - cents("l_discount"))


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


# --- q8: national market share ----------------------------------------------
# Share of NATION_5 suppliers in AMERICA-region ECONOMY-part revenue,
# by order year.  Numerator and denominator are exact integer sums; the
# final ratio is one double division, identical in both engines.

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = load_table(spark, sf_dir, "nation").alias("nc")
    n_supp = load_table(spark, sf_dir, "nation").alias("ns")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("ns.n_nationkey"))
    )
    rev = _revenue()
    nat_rev = F.when(F.col("ns.n_name") == "NATION_5", rev).otherwise(F.lit(0))
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (F.sum(nat_rev).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN ns.n_name = 'NATION_5' THEN {REVENUE_SQL} ELSE 0 END) AS DOUBLE)
         / CAST(SUM({REVENUE_SQL}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o_year
ORDER BY o_year
"""


# --- q9: product-type profit by nation and year ------------------------------
# No partsupp supplycost, so profit = discounted revenue of parts whose
# name contains 'red', grouped by supplier nation x order year.

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(money_sum(_revenue(), 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({REVENUE_SQL}) AS DOUBLE)/10000.0 AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
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


# --- three-valued-logic showcase --------------------------------------------

def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL NULL semantics in one row: COUNT(*) vs COUNT(col) vs
    COUNT(DISTINCT col), null-safe equality (<=> / IS NOT DISTINCT
    FROM), and the IN / NOT IN asymmetry (a NULL probe satisfies
    neither) — the traps every engine must agree on exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    x = F.when(
        F.col("o_orderkey") % 3 == 0, F.lit(None).cast("bigint")
    ).otherwise(F.col("o_orderkey") % 5)
    d = o.select(x.alias("x"))
    return d.agg(
        F.count("*").alias("n_rows"),
        F.count("x").alias("n_nonnull"),
        F.count_distinct("x").alias("n_distinct"),
        F.sum(F.col("x").eqNullSafe(F.lit(2)).cast("bigint")).alias(
            "n_nullsafe_eq2"
        ),
        F.sum(F.col("x").isin(1, 2).cast("bigint")).alias("n_in_12"),
        F.sum((~F.col("x").isin(1, 2)).cast("bigint")).alias(
            "n_not_in_12"
        ),
    )


Q_NULL_SEMANTICS_SQL = """
WITH d AS (
  SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE o_orderkey % 5 END AS x
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       COUNT(x) AS n_nonnull,
       COUNT(DISTINCT x) AS n_distinct,
       CAST(SUM(CASE WHEN x IS NOT DISTINCT FROM 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq2,
       CAST(SUM(CASE WHEN x IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_12,
       CAST(SUM(CASE WHEN x NOT IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_not_in_12
FROM d
"""


QUERIES = {
    "q10_returned_revenue": q10_returned_revenue,
    "q10_shuffle_hash_variant": q10_shuffle_hash_variant,
    "q11_important_parts": q11_important_parts,
    "q12_priority_classes": q12_priority_classes,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_share": q14_promo_share,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_variety": q16_supplier_variety,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_big_orders": q18_big_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q1_pricing_summary": q1_pricing_summary,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q21_solo_late_suppliers": q21_solo_late_suppliers,
    "q22_idle_customers": q22_idle_customers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_priority_exists": q4_priority_exists,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q_lateral_top2_orders": q_lateral_top2_orders,
    "q_null_semantics": q_null_semantics,
}
ORACLES = {
    "q10_returned_revenue": Q10_SQL,
    "q10_shuffle_hash_variant": Q10_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_priority_classes": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_share": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_variety": Q16_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q18_big_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q20_dominant_suppliers": Q20_SQL,
    "q21_solo_late_suppliers": Q21_SQL,
    "q22_idle_customers": Q22_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_priority_exists": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_nation_volume": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q_lateral_top2_orders": Q_LATERAL_SQL,
    "q_null_semantics": Q_NULL_SEMANTICS_SQL,
}
