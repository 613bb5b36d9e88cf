"""Round-9 wave 47: repeated-measures tests, survival curves, and
procurement segmentation.

- stat_cochran_q: Cochran's Q for the related binary outcomes "placed
  an order in 1995 / 1996 / 1997" across all customers — exact
  integer G/L sums, one double division.
- cust_survival_km: Kaplan-Meier product-limit estimate of
  time-to-second-order (right-censored at the dataset horizon),
  reported on a 30-day grid; S(t) = exp(sum ln(1 - d/n)) over exact
  per-day death/risk counts, shared expression both engines.
- sup_kraljic_matrix: Kraljic-style 2x2 supplier segmentation on
  exact global means — spend dimension (total supplycost-weighted
  volume) x criticality dimension (distinct parts supplied); quadrant
  decisions are integer cross-multiplied, never float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- Cochran's Q -------------------------------------------------------------------

_CQ_YEARS = (1995, 1996, 1997)


def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k = 3 related binary treatments (ordered in
    year y?) with every customer a subject:
    Q = (k-1) * [k * sum_j G_j^2 - T^2] / [k * T - sum_i L_i^2]
    where G_j = positives per year, L_i = positives per customer,
    T = total positives.  All sums exact int64 (L_i <= 3 so L^2 <= 9);
    one fact rollup on (custkey, year) -> per-customer and per-year
    rollups."""
    o = load_table(spark, sf_dir, "orders")
    flags = (
        o.where(F.year("o_orderdate").isin(*_CQ_YEARS))
        .select(
            F.col("o_custkey").alias("ck"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .distinct()
    )
    per_cust = flags.groupBy("ck").agg(
        F.count(F.lit(1)).cast("bigint").alias("l")
    )
    per_year = flags.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("g")
    )
    k = float(len(_CQ_YEARS))
    gsums = per_year.agg(
        F.sum("g").cast("bigint").alias("t"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("g2"),
    )
    lsums = per_cust.agg(
        F.sum(F.col("l") * F.col("l")).cast("bigint").alias("l2"),
    )
    return (
        gsums.crossJoin(F.broadcast(lsums))
        .select(
            F.col("t").alias("n_positives"),
            F.round(
                (k - 1.0)
                * (
                    k * F.col("g2").cast("double")
                    - F.col("t").cast("double") * F.col("t").cast("double")
                )
                / (
                    k * F.col("t").cast("double")
                    - F.col("l2").cast("double")
                ),
                6,
            ).alias("q_stat"),
        )
    )


_COCHRAN_SQL = f"""
WITH flags AS (
  SELECT DISTINCT o_custkey AS ck,
         CAST(YEAR(o_orderdate) AS BIGINT) AS yr
  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996, 1997)
), per_cust AS (
  SELECT ck, CAST(COUNT(*) AS BIGINT) AS l FROM flags GROUP BY ck
), per_year AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS g FROM flags GROUP BY yr
), gsums AS (
  SELECT CAST(SUM(g) AS BIGINT) AS t,
         CAST(SUM(g * g) AS BIGINT) AS g2
  FROM per_year
), lsums AS (
  SELECT CAST(SUM(l * l) AS BIGINT) AS l2 FROM per_cust
)
SELECT t AS n_positives,
       ROUND(2.0 * (3.0 * CAST(g2 AS DOUBLE)
                    - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
             / (3.0 * CAST(t AS DOUBLE) - CAST(l2 AS DOUBLE)), 6) AS q_stat
FROM gsums, lsums
"""


# --- Kaplan-Meier ------------------------------------------------------------------

_KM_GRID = tuple(range(30, 361, 30))


def cust_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of "time to second order" (days between a
    customer's first and second order; single-order customers censor
    at horizon - first_order).  Per event-day d: deaths d_i, censored
    c_i; risk set n_i = total - cumulative(deaths + censored before
    d).  S(t) = exp(sum over event days <= t of ln(1 - d_i/n_i)),
    evaluated on the 30..360-day grid — the ln/exp runs over exact
    integer counts via ONE shared expression, and the cumulative
    window is bounded by the calendar span."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).groupBy("o_custkey").agg(
        F.min("d").alias("d1"),
        F.get(F.sort_array(F.collect_list("d")), 1).alias("d2"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    base = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        ).otherwise(F.datediff("h", "d1")).cast("bigint").alias("t"),
        F.col("d2").isNotNull().cast("int").alias("event"),
    )
    per_day = base.groupBy("t").agg(
        F.sum("event").cast("bigint").alias("deaths"),
        F.sum(1 - F.col("event")).cast("bigint").alias("censored"),
    )
    n_tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_day.crossJoin(F.broadcast(n_tot)).select(
        "t",
        "deaths",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w), F.lit(0)
            )
        ).alias("at_risk"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # a day where the whole risk set dies sends S to exactly 0 — keep
    # that out of the logarithm and flag it instead
    surv = risk.where(F.col("deaths") > 0).select(
        "t",
        F.sum(
            F.when(
                F.col("deaths") < F.col("at_risk"),
                F.log(
                    F.lit(1.0)
                    - F.col("deaths").cast("double")
                    / F.col("at_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(wcum)
        .alias("lnS"),
        F.max((F.col("deaths") == F.col("at_risk")).cast("int"))
        .over(wcum)
        .alias("dead"),
    )
    grid = F.array(*[F.lit(g) for g in _KM_GRID])
    gdf = (
        surv.crossJoin(
            F.broadcast(
                surv.sparkSession.range(1)
                .select(F.explode(grid).alias("g"))
            )
        )
        .where(F.col("t") <= F.col("g"))
        .groupBy("g")
        .agg(
            F.max_by("lnS", "t").alias("lnS"),
            F.max_by("dead", "t").alias("dead"),
        )
    )
    return gdf.select(
        F.col("g").cast("bigint").alias("t_days"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnS"), 6))
        .alias("survival"),
    ).orderBy("t_days")


_KM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d1,
         (list_sort(list(CAST(o_orderdate AS DATE))))[2] AS d2
  FROM orders GROUP BY o_custkey
), horizon AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders
), base AS (
  SELECT CASE WHEN d2 IS NOT NULL
              THEN CAST(datediff('day', d1, d2) AS BIGINT)
              ELSE CAST(datediff('day', d1, h) AS BIGINT) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_cust, horizon
), per_day AS (
  SELECT t, CAST(SUM(event) AS BIGINT) AS deaths,
         CAST(SUM(1 - event) AS BIGINT) AS censored
  FROM base GROUP BY t
), n_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base
), risk AS (
  SELECT t, deaths,
         n - COALESCE(SUM(deaths + censored) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM per_day, n_tot
), surv AS (
  SELECT t,
         SUM(CASE WHEN deaths < at_risk
             THEN LN(1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
             ELSE 0.0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnS,
         MAX(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
  FROM risk WHERE deaths > 0
), grid AS (
  SELECT UNNEST([{", ".join(str(g) for g in _KM_GRID)}]) AS g
)
SELECT CAST(g AS BIGINT) AS t_days,
       CASE WHEN MAX_BY(dead, t) = 1 THEN 0.0
            ELSE ROUND(EXP(MAX_BY(lnS, t)), 6) END AS survival
FROM surv JOIN grid ON surv.t <= grid.g
GROUP BY g ORDER BY t_days
"""


# --- Kraljic matrix ----------------------------------------------------------------


def sup_kraljic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kraljic-style supplier 2x2: spend (total extendedprice cents
    routed through the supplier) x criticality (distinct parts
    supplied).  Quadrant cuts at the exact global means, decided by
    integer cross-multiplication (spend_s * n_sup vs total_spend,
    parts_s * n_sup vs total_parts).  Output: per-quadrant supplier
    count, spend share."""
    li = load_table(spark, sf_dir, "lineitem")
    per_sup = li.groupBy(F.col("l_suppkey").alias("s")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("spend"),
        F.countDistinct("l_partkey").cast("decimal(38,0)").alias("n_parts"),
    )
    tot = per_sup.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_sup"),
        F.sum("spend").alias("tot_spend"),
        F.sum("n_parts").alias("tot_parts"),
    )
    labeled = per_sup.crossJoin(F.broadcast(tot)).select(
        "spend",
        F.concat(
            F.when(
                F.col("spend") * F.col("n_sup") >= F.col("tot_spend"),
                F.lit("high-spend/"),
            ).otherwise(F.lit("low-spend/")),
            F.when(
                F.col("n_parts") * F.col("n_sup") >= F.col("tot_parts"),
                F.lit("high-variety"),
            ).otherwise(F.lit("low-variety")),
        ).alias("quadrant"),
        F.col("tot_spend"),
    )
    return (
        labeled.groupBy("quadrant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(
                F.sum("spend").cast("double")
                / F.first("tot_spend").cast("double"),
                6,
            ).alias("spend_share"),
        )
        .orderBy("quadrant")
    )


_KRALJIC_SQL = """
WITH per_sup AS (
  SELECT l_suppkey AS s,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
           AS spend,
         CAST(COUNT(DISTINCT l_partkey) AS HUGEINT) AS n_parts
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_sup,
         SUM(spend) AS tot_spend,
         SUM(n_parts) AS tot_parts
  FROM per_sup
), labeled AS (
  SELECT spend,
         (CASE WHEN spend * n_sup >= tot_spend
               THEN 'high-spend/' ELSE 'low-spend/' END)
         || (CASE WHEN n_parts * n_sup >= tot_parts
                  THEN 'high-variety' ELSE 'low-variety' END) AS quadrant,
         tot_spend
  FROM per_sup, tot
)
SELECT quadrant,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(spend) AS DOUBLE) / CAST(MIN(tot_spend) AS DOUBLE), 6)
         AS spend_share
FROM labeled GROUP BY quadrant ORDER BY quadrant
"""


QUERIES = {
    "stat_cochran_q": stat_cochran_q,
    "cust_survival_km": cust_survival_km,
    "sup_kraljic_matrix": sup_kraljic_matrix,
}

ORACLES = {
    "stat_cochran_q": _COCHRAN_SQL,
    "cust_survival_km": _KM_SQL,
    "sup_kraljic_matrix": _KRALJIC_SQL,
}
