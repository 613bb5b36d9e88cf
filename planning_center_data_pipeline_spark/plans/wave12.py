"""Round-6 wave 12: operational backlog time series, supplier
concentration (HHI), a tie-corrected Mann-Whitney U test, discount
elasticity by brand (closed-form OLS), and the weekday x hour
activity heatmap.

- ord_open_backlog_daily: the orders-in-flight time series — +1 on
  order date, -1 after the order's last shipment, running-summed over
  the (bounded) calendar rollup.  The standard "events to inventory
  curve" transform.
- sup_part_hhi: Herfindahl-Hirschman supplier-concentration index per
  part from lineitem quantity shares — the supply-chain-risk metric;
  HHI = sum(q_s^2) / (sum q)^2 needs only integer sums and ONE
  division.
- stat_mann_whitney: tie-corrected Mann-Whitney U (rank-sum) test —
  account balances of BUILDING vs MACHINERY customers — on the same
  value-bucketed prefix-sum rank machinery as ml_auc_rank; 2U and the
  tie term stay exact integers, z assembled from a fixed IEEE
  expression tree.
- li_discount_elasticity: per-brand OLS slope/R^2 of quantity on
  discount, via the closed-form normal equations on integer sums
  (discount in percent units, quantity integral in TPC-H) — exact up
  to the final division.
- ev_dow_hour_heatmap: the day-of-week x hour-of-day activity matrix
  with per-cell share — the first chart on every usage dashboard.

All five carry full DuckDB oracles on the repo-standard portable
primitives (integer sums, IEEE sqrt/division with identical
expression trees, one ROUND at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- daily open-order backlog ---------------------------------------------------


def ord_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily backlog of in-flight orders: an order is open from its
    order date through the day its LAST lineitem ships.  Opens and
    closes become +1/-1 deltas on a per-day rollup; the backlog is the
    running sum.  Orders with no lineitems are excluded (they never
    close).

    Plan shape: one shuffle on orderkey for the last-ship rollup and
    join, one shuffle to the per-day delta rollup (|days| ~ 2.5k rows
    regardless of data size — the calendar is bounded by TIME, not by
    row count), then one window over that bounded rollup.  Scales in
    the fact scans only.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max(F.to_date("l_shipdate")).alias("ship_d")
    )
    spans = o.select(
        F.col("o_orderkey").alias("ok"), F.to_date("o_orderdate").alias("open_d")
    ).join(last_ship, "ok")
    opens = spans.groupBy(F.col("open_d").alias("d")).agg(
        F.count(F.lit(1)).alias("n_opened"), F.lit(0).cast("long").alias("n_closed")
    )
    closes = spans.groupBy(F.date_add("ship_d", 1).alias("d")).agg(
        F.lit(0).cast("long").alias("n_opened"), F.count(F.lit(1)).alias("n_closed")
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("d")
        .agg(
            F.sum("n_opened").alias("n_opened"),
            F.sum("n_closed").alias("n_closed"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "backlog", F.sum(F.col("n_opened") - F.col("n_closed")).over(w)
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_opened",
            "n_closed",
            "backlog",
        )
        .orderBy("day")
    )


ORD_OPEN_BACKLOG_DAILY_SQL = """
WITH spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_d,
         ls.ship_d
  FROM orders o
  JOIN (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS ship_d
        FROM lineitem GROUP BY 1) ls ON ls.l_orderkey = o.o_orderkey
), daily AS (
  SELECT d, SUM(n_opened) AS n_opened, SUM(n_closed) AS n_closed
  FROM (
    SELECT open_d AS d, COUNT(*) AS n_opened, 0 AS n_closed
    FROM spans GROUP BY 1
    UNION ALL
    SELECT ship_d + INTERVAL 1 DAY, 0, COUNT(*) FROM spans GROUP BY 1
  ) GROUP BY d
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
FROM daily ORDER BY day
"""


# --- supplier-concentration HHI per part ----------------------------------------

_HHI_TOP = 25


def sup_part_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index for the 25
    highest-volume parts: with q_s = units shipped by supplier s,

        HHI = sum_s(q_s^2) / (sum_s q_s)^2     in (0, 1]

    1.0 = single-sourced, 1/n = perfectly split.  TPC-H quantities are
    integral, so both numerator and denominator are exact int64 sums;
    ONE division at the end keeps it bit-portable.

    Plan shape: two hash rollups — (part, supplier) then part — i.e.
    two key shuffles on fact-table keys; top-25 via
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    per_p = per_ps.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").alias("total_qty"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    return (
        per_p.orderBy(F.desc("total_qty"), "pk")
        .limit(_HHI_TOP)
        .select(
            F.col("pk").alias("partkey"),
            "n_suppliers",
            "total_qty",
            F.round(
                F.col("sq").cast("double")
                / (F.col("total_qty") * F.col("total_qty")).cast("double"),
                6,
            ).alias("hhi"),
        )
        .orderBy(F.desc("total_qty"), "partkey")
    )


SUP_PART_HHI_SQL = f"""
WITH per_ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), per_p AS (
  SELECT pk, COUNT(*) AS n_suppliers,
         CAST(SUM(q) AS BIGINT) AS total_qty,
         CAST(SUM(q * q) AS BIGINT) AS sq
  FROM per_ps GROUP BY pk
)
SELECT pk AS partkey, n_suppliers, total_qty,
       ROUND(CAST(sq AS DOUBLE) / CAST(total_qty * total_qty AS DOUBLE), 6)
         AS hhi
FROM per_p ORDER BY total_qty DESC, pk LIMIT {_HHI_TOP}
"""


# --- tie-corrected Mann-Whitney U test -------------------------------------------

_MW_SEG_A = "BUILDING"
_MW_SEG_B = "MACHINERY"
_MW_BUCKETS = 31


def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U test: do BUILDING and MACHINERY
    customers have different account-balance distributions?

        2*R_A = sum over tie groups of  na * (2*start + cnt + 1)
        2*U   = 2*R_A - na_tot*(na_tot + 1)          (exact integers)
        z     = (U - n1*n2/2) / sqrt(n1*n2/12 * ((n+1) - T/(n*(n-1))))

    with tie term T = sum(cnt^3 - cnt).  Everything through 2U and T
    is exact int64; z is one fixed IEEE expression tree evaluated
    identically in both engines.  p_superior = U/(n1*n2) is the
    common-language effect size (the AUC between the groups).

    Plan shape: identical to ml_auc_rank — per-value rollup (one
    shuffle), 31 VALUE-deterministic percentile buckets from a 1-row
    broadcast, per-bucket running counts, one global window over the
    <=32-row bucket totals, then a 1-row reduce.
    """
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_MW_SEG_A, _MW_SEG_B)
    ).select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
        (F.col("c_mktsegment") == _MW_SEG_A).cast("long").alias("in_a"),
    )
    g = base.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_a").alias("na")
    )
    qs = [i / 32.0 for i in range(1, _MW_BUCKETS + 1)]
    vcuts = g.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(_MW_BUCKETS)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "v", "cnt", "na", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("local_cum", F.sum("cnt").over(w_local))
    totals = local.groupBy("bk").agg(F.sum("cnt").alias("p_total"))
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("bk", "offset")
    ranked = local.join(F.broadcast(offsets), "bk").withColumn(
        "start", F.col("local_cum") + F.col("offset") - F.col("cnt")
    )
    red = ranked.agg(
        F.sum("na").alias("n1"),
        F.sum(F.col("cnt") - F.col("na")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("na") * (F.lit(2) * F.col("start") + F.col("cnt") + F.lit(1))
        ).alias("r2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_t"),
    )
    u2 = F.col("r2a") - F.col("n1") * (F.col("n1") + F.lit(1))  # 2*U, exact
    uu = u2.cast("double") / F.lit(2.0)
    mu = (F.col("n1") * F.col("n2")).cast("double") / F.lit(2.0)
    sigma2 = (
        (F.col("n1") * F.col("n2")).cast("double")
        / F.lit(12.0)
        * (
            (F.col("n") + F.lit(1)).cast("double")
            - F.col("tie_t").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - F.lit(1)).cast("double"))
        )
    )
    return red.select(
        "n1",
        "n2",
        F.round(uu, 6).alias("u_stat"),
        F.round((uu - mu) / F.sqrt(sigma2), 6).alias("z"),
        F.round(
            u2.cast("double")
            / (F.lit(2.0) * (F.col("n1") * F.col("n2")).cast("double")),
            6,
        ).alias("p_superior"),
    )


STAT_MANN_WHITNEY_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN c_mktsegment = '{_MW_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM customer
  WHERE c_mktsegment IN ('{_MW_SEG_A}', '{_MW_SEG_B}')
), g AS (
  SELECT v, COUNT(*) AS cnt, CAST(SUM(in_a) AS BIGINT) AS na
  FROM base GROUP BY v
), ranked AS (
  SELECT cnt, na,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM g
), red AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n1,
         CAST(SUM(cnt - na) AS BIGINT) AS n2,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(na * (2*start + cnt + 1)) AS BIGINT) AS r2a,
         CAST(SUM(cnt*cnt*cnt - cnt) AS BIGINT) AS tie_t
  FROM ranked
)
SELECT n1, n2,
       ROUND(CAST(r2a - n1*(n1+1) AS DOUBLE) / CAST(2 AS DOUBLE), 6)
         AS u_stat,
       ROUND((CAST(r2a - n1*(n1+1) AS DOUBLE) / CAST(2 AS DOUBLE)
              - CAST(n1*n2 AS DOUBLE) / CAST(2 AS DOUBLE))
             / sqrt(CAST(n1*n2 AS DOUBLE) / CAST(12 AS DOUBLE)
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(tie_t AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))),
             6) AS z,
       ROUND(CAST(r2a - n1*(n1+1) AS DOUBLE)
             / (CAST(2 AS DOUBLE) * CAST(n1*n2 AS DOUBLE)), 6) AS p_superior
FROM red
"""


# --- discount elasticity by brand (closed-form OLS) ------------------------------


def li_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of quantity on discount: slope (units of quantity
    per percentage point of discount) and R^2, via the closed-form
    normal equations on exact integer sums:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        R^2   = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    x = discount in integer percent (0..10), y = quantity (integral in
    TPC-H) — every S-term is an exact int64 sum, so the only IEEE ops
    are the final divisions.

    Plan shape: lineitem joined to the part dimension (broadcast-able
    by AQE), one shuffle to the ~25-row brand rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = F.round(F.col("l_discount") * 100).cast("bigint")
    y = F.col("l_quantity").cast("bigint")
    per = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("brand"), x.alias("x"), y.alias("y"))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    # the S-terms stay exact int64 (bounded by n * 500 per row-term up
    # to ~sf100); the n*Sxy-style PRODUCTS are squared/multiplied in
    # DOUBLE — (n*Sxy)^2 would overflow int64 at scale, and IEEE
    # multiplication is just as deterministic
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return per.select(
        "brand",
        "n",
        F.round(cov_n / var_x, 6).alias("slope"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    ).orderBy("brand")


LI_DISCOUNT_ELASTICITY_SQL = """
WITH per AS (
  SELECT p.p_brand AS brand,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)
                  * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
)
SELECT brand, n,
       ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
       ROUND((CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
             / (CAST(n*sxx - sx*sx AS DOUBLE)
                * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
FROM per ORDER BY brand
"""


# --- weekday x hour activity heatmap ----------------------------------------------


def ev_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day event-activity matrix (<=168 rows)
    with each cell's share of total traffic — the canonical usage
    heatmap.  dow is 1=Sunday..7=Saturday in both engines after the
    DuckDB 0-based value is shifted.

    Plan shape: one shuffle to the 168-cell rollup; the share divisor
    is a window over that bounded rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy()  # <=168 rows by construction
    return per.select(
        "dow",
        "hour",
        "n_events",
        F.round(
            F.lit(100.0) * F.col("n_events") / F.sum("n_events").over(w), 6
        ).alias("share_pct"),
    ).orderBy("dow", "hour")


EV_DOW_HOUR_HEATMAP_SQL = """
WITH per AS (
  SELECT dayofweek(ts) + 1 AS dow, EXTRACT(hour FROM ts) AS hour,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       ROUND(100.0 * n_events / SUM(n_events) OVER (), 6) AS share_pct
FROM per ORDER BY dow, hour
"""


QUERIES = {
    "ord_open_backlog_daily": ord_open_backlog_daily,
    "sup_part_hhi": sup_part_hhi,
    "stat_mann_whitney": stat_mann_whitney,
    "li_discount_elasticity": li_discount_elasticity,
    "ev_dow_hour_heatmap": ev_dow_hour_heatmap,
}

ORACLES = {
    "ord_open_backlog_daily": ORD_OPEN_BACKLOG_DAILY_SQL,
    "sup_part_hhi": SUP_PART_HHI_SQL,
    "stat_mann_whitney": STAT_MANN_WHITNEY_SQL,
    "li_discount_elasticity": LI_DISCOUNT_ELASTICITY_SQL,
    "ev_dow_hour_heatmap": EV_DOW_HOUR_HEATMAP_SQL,
}
