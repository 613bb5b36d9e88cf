"""Round-9 wave 44: nonparametric trend tests, inequality decomposition,
and arrival-process burstiness.

- ord_mann_kendall_trend: seasonal Mann-Kendall trend test on monthly
  order revenue (12 month-of-year strata, pairwise sign sums within
  each stratum, tie-corrected variance, one shared z expression).  The
  pair space is C(#months-per-stratum, 2) ~ bounded by the calendar,
  never by fact rows.
- li_theil_index: Theil T inequality index of customer lifetime
  revenue per nation + overall in one pass; the mean is exact (integer
  cents), each customer's x*ln(x/mu) term is one shared double
  expression over exact inputs.
- ev_interarrival_burstiness: per-user burstiness B = (sd - mean) /
  (sd + mean) of inter-event seconds (B < 0 regular, ~0 Poisson,
  > 0 bursty); per-user moments are exact integer sums, the B formula
  is one shared expression; users with >= 10 events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- seasonal Mann-Kendall ---------------------------------------------------------


def ord_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall on monthly revenue: within each
    month-of-year stratum, S_m = sum over year pairs i<j of
    sign(x_j - x_i) (exact integer over cents), Var_m = n(n-1)(2n+5)/18
    with the tie term zero when all cents differ (asserted by using
    exact cents — ties are possible and handled).  S = sum S_m,
    Var = sum Var_m, z = (S -+ 1)/sqrt(Var) with the standard
    continuity correction.  The stratum series is CALENDAR-sized
    (<= ~7 years), so the pair join is bounded by the calendar."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = monthly.select(
        F.col("mo"), F.col("yr").alias("yi"), F.col("cents").alias("xi")
    )
    b = monthly.select(
        F.col("mo").alias("mo2"),
        F.col("yr").alias("yj"),
        F.col("cents").alias("xj"),
    )
    pairs = a.join(
        b, (F.col("mo") == F.col("mo2")) & (F.col("yi") < F.col("yj"))
    )
    s_m = pairs.groupBy("mo").agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("bigint")).alias("s"),
    )
    # tie-corrected variance per stratum from the per-value tie counts
    ties = (
        monthly.groupBy("mo", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("mo")
        .agg(
            F.sum("t").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
        .select(
            "mo",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_m"),
        )
    )
    tot = (
        s_m.join(ties, "mo")
        .agg(
            F.sum("s").cast("bigint").alias("s_total"),
            F.sum("var_m").alias("var_total"),
        )
    )
    return tot.select(
        "s_total",
        F.round("var_total", 6).alias("var_total"),
        F.round(
            F.when(
                F.col("s_total") > 0,
                (F.col("s_total").cast("double") - 1.0)
                / F.sqrt(F.col("var_total")),
            )
            .when(
                F.col("s_total") < 0,
                (F.col("s_total").cast("double") + 1.0)
                / F.sqrt(F.col("var_total")),
            )
            .otherwise(F.lit(0.0)),
            6,
        ).alias("z"),
    )


_MK_SQL = """
WITH monthly AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.mo, SIGN(b.cents - a.cents) AS sg
  FROM monthly a JOIN monthly b ON a.mo = b.mo AND a.yr < b.yr
), s_m AS (
  SELECT mo, CAST(SUM(sg) AS BIGINT) AS s FROM pairs GROUP BY mo
), ties AS (
  SELECT mo,
         ((SUM(t) * (SUM(t) - 1) * (2 * SUM(t) + 5)
           - SUM(t * (t - 1) * (2 * t + 5))) / 18.0) AS var_m
  FROM (SELECT mo, cents, COUNT(*) AS t FROM monthly GROUP BY mo, cents) c
  GROUP BY mo
), tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS s_total, SUM(var_m) AS var_total
  FROM s_m JOIN ties USING (mo)
)
SELECT s_total,
       ROUND(var_total, 6) AS var_total,
       ROUND(CASE
         WHEN s_total > 0
           THEN (CAST(s_total AS DOUBLE) - 1.0) / SQRT(var_total)
         WHEN s_total < 0
           THEN (CAST(s_total AS DOUBLE) + 1.0) / SQRT(var_total)
         ELSE 0.0 END, 6) AS z
FROM tot
"""


# --- Theil T index -----------------------------------------------------------------


def li_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer lifetime revenue per nation: T =
    (1/n) * sum_i (x_i / mu) * ln(x_i / mu) over customers with
    revenue > 0.  Per-customer revenue and the nation mean are exact
    integer cents; each customer's term is the SHARED double
    expression (x/mu) * LN(x/mu) over those exact inputs, so both
    engines sum identical doubles (ROUND 6 absorbs association
    order).  Shape: order rollup on custkey, nation rollup, broadcast
    mean join back."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "cents")
    )
    means = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    terms = rev.join(F.broadcast(means), "nation").select(
        "nation",
        "n_cust",
        "total_cents",
        F.expr(
            "(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)"
            " / CAST(total_cents AS DOUBLE))"
            " * LN(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)"
            " / CAST(total_cents AS DOUBLE))"
        ).alias("term"),
    )
    return (
        terms.groupBy("nation")
        .agg(
            F.first("n_cust").alias("n_cust"),
            F.round(F.sum("term") / F.first("n_cust"), 6).alias("theil_t"),
        )
        .orderBy("nation")
    )


_THEIL_SQL = """
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY o.o_custkey, n.n_name
), means AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM rev GROUP BY nation
), terms AS (
  SELECT rev.nation, n_cust,
         (CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)
          / CAST(total_cents AS DOUBLE))
         * LN(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)
           / CAST(total_cents AS DOUBLE)) AS term
  FROM rev JOIN means ON rev.nation = means.nation
)
SELECT nation, CAST(MIN(n_cust) AS BIGINT) AS n_cust,
       ROUND(SUM(term) / MIN(n_cust), 6) AS theil_t
FROM terms GROUP BY nation ORDER BY nation
"""


# --- inter-arrival burstiness ------------------------------------------------------

_BURST_MIN_EVENTS = 10


def ev_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness of the event arrival process: for users with
    >= 10 events, the inter-event gaps (seconds, exact integers via
    unix timestamps) give mean and population sd from exact sums
    (sum, sum of squares in DECIMAL(38,0)), then
    B = (sd - mean) / (sd + mean) as one shared double expression —
    the Goh-Barabasi burstiness coefficient (-1 regular, 0 Poisson,
    +1 maximally bursty).  Gaps are exact integer MICROSECONDS
    (epoch_us, the repo's ts convention).  Shape: one user-partitioned
    lag window + one rollup."""
    from pyspark.sql.window import Window

    from planning_center_data_pipeline_spark.functions.temporal import (
        epoch_us,
    )

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            "event_id",
            "ts",
            epoch_us("ts").alias("sec"),
        )
        .withColumn("gap", F.col("sec") - F.lag("sec").over(w))
        .where(F.col("gap").isNotNull())
    )
    gd = gaps.withColumn("gapd", F.col("gap").cast("decimal(38,0)"))
    mom = gd.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gapd").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("gapd") * F.col("gapd")).cast("decimal(38,0)").alias("q"),
    ).where(F.col("n_gaps") >= _BURST_MIN_EVENTS - 1)
    return (
        mom.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_gaps",
            F.expr(
                "ROUND((SQRT(CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
                " - CAST(s AS DOUBLE))"
                " / (SQRT(CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)"
                " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
                " + CAST(s AS DOUBLE)), 6)"
            ).alias("burstiness"),
        )
        .orderBy("user_id")
    )


_BURST_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), mom AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS HUGEINT) AS s,
         SUM(CAST(gap AS HUGEINT) * gap) AS q
  FROM gaps WHERE gap IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(*) >= {_BURST_MIN_EVENTS - 1}
)
SELECT CAST(user_id AS BIGINT) AS user_id, n_gaps,
       ROUND((SQRT(CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
              - CAST(s AS DOUBLE))
             / (SQRT(CAST(n_gaps AS DOUBLE) * CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                + CAST(s AS DOUBLE)), 6) AS burstiness
FROM mom ORDER BY user_id
"""


QUERIES = {
    "ord_mann_kendall_trend": ord_mann_kendall_trend,
    "li_theil_index": li_theil_index,
    "ev_interarrival_burstiness": ev_interarrival_burstiness,
}

ORACLES = {
    "ord_mann_kendall_trend": _MK_SQL,
    "li_theil_index": _THEIL_SQL,
    "ev_interarrival_burstiness": _BURST_SQL,
}
