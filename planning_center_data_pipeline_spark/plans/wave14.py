"""Round-6 wave 14: calibration reliability bins, a two-sample
Kolmogorov-Smirnov statistic, single change-point detection, and a
period-over-period decile migration matrix.

- ml_calibration_bins: the reliability diagram behind every "is this
  score a probability" review — fixed-width integer score bins,
  average normalized score vs observed positive rate per bin.
- stat_ks_two_sample: the exact two-sample KS D statistic.  The trick
  that keeps it portable: D = max |cumA*n2 - cumB*n1| / (n1*n2) has an
  INTEGER numerator, so the argmax ordering is exact; one division at
  the end.
- ts_changepoint_daily: single change-point detection on the daily
  revenue series (binary-segmentation step 1): the split maximizing
  the between-segment sum of squares, computed from integer prefix
  sums over the calendar-bounded rollup.
- cust_decile_migration: spend-decile transition matrix between the
  first and second half of the order horizon — the rank-migration /
  Sankey table; deciles by exact percentile cutoffs within each
  period (value comparison, no ntile).

All four carry full DuckDB oracles on the repo-standard portable
primitives (integer sums/cents, integer division on non-negatives,
exact interpolated percentiles, IEEE ops in identical expression
trees, one ROUND at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- calibration reliability bins -----------------------------------------------

_CAL_BINS = 10


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: account balance as a score for "placed an
    urgent-priority order", cut into 10 FIXED-WIDTH bins over the
    observed score range (bin = ((v - vmin) * 10) DIV (range + 1) —
    non-negative integer division, so banding is engine-exact even
    though balances go negative).  Per bin: share of customers, mean
    normalized score (exact integer sums, one division), observed
    positive rate.  A well-calibrated score has avg_score ~ pos_rate.

    Plan shape: label semi-aggregate (one shuffle), 1-row min/max
    aggregate broadcast, 10-row rollup.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    buyers = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
        .withColumn("is_buyer", F.lit(1))
    )
    base = (
        c.select(F.col("c_custkey").alias("ck"), cents("c_acctbal").alias("v"))
        .join(buyers, "ck", "left")
        .select("v", F.coalesce("is_buyer", F.lit(0)).alias("pos"))
    )
    rng = base.agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )  # 1 row
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"((v - vmin) * {_CAL_BINS}) DIV (vmax - vmin + 1)"
        ).alias("bin"),
        (F.col("v") - F.col("vmin")).alias("shifted"),
        (F.col("vmax") - F.col("vmin")).alias("range"),
        "pos",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(
                F.sum("shifted").cast("double")
                / (F.count(F.lit(1)) * F.max("range")).cast("double"),
                6,
            ).alias("avg_score"),
            F.round(
                F.sum("pos").cast("double") / F.count(F.lit(1)), 6
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


ML_CALIBRATION_BINS_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN o.ck IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
             WHERE o_orderpriority = '1-URGENT') o
         ON o.ck = c_custkey
), rng AS (
  SELECT MIN(v) AS vmin, MAX(v) AS vmax FROM base
), binned AS (
  SELECT ((v - vmin) * {_CAL_BINS}) // (vmax - vmin + 1) AS bin,
         v - vmin AS shifted, vmax - vmin AS range, pos
  FROM base CROSS JOIN rng
)
SELECT bin, COUNT(*) AS n_cust,
       ROUND(CAST(SUM(shifted) AS DOUBLE)
             / CAST(COUNT(*) * MAX(range) AS DOUBLE), 6) AS avg_score,
       ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM binned GROUP BY bin ORDER BY bin
"""


# --- two-sample Kolmogorov-Smirnov ----------------------------------------------

_KS_SEG_A = "AUTOMOBILE"
_KS_SEG_B = "HOUSEHOLD"
_KS_BUCKETS = 31


def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D: are AUTOMOBILE and
    HOUSEHOLD customers' balance distributions different?

        D = max over values v of |ECDF_A(v) - ECDF_B(v)|
          = max |cumA(v) * n2 - cumB(v) * n1| / (n1 * n2)

    The numerator is an exact integer, so the argmax (and its
    tie-break on the smaller v) is engine-portable; the single
    division happens once, at the end.

    Plan shape: per-value rollup (one shuffle), the value-bucketed
    two-phase prefix sum (31 percentile cutoffs from a 1-row
    broadcast; the only global window runs over the <=32-row bucket
    totals), then TakeOrderedAndProject for the argmax row.
    """
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B)
    ).select(
        cents("c_acctbal").alias("v"),
        (F.col("c_mktsegment") == _KS_SEG_A).cast("long").alias("in_a"),
    )
    g = base.groupBy("v").agg(
        F.sum("in_a").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).alias("cb"),
    )
    qs = [i / 32.0 for i in range(1, _KS_BUCKETS + 1)]
    vcuts = g.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(_KS_BUCKETS)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "v", "ca", "cb", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("la", F.sum("ca").over(w_local)).withColumn(
        "lb", F.sum("cb").over(w_local)
    )
    totals = local.groupBy("bk").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bk",
        F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob"),
    )
    n1n2 = base.agg(
        F.sum("in_a").alias("n1"),
        F.sum(F.lit(1) - F.col("in_a")).alias("n2"),
    )  # 1 row
    cum = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(n1n2))
        .select(
            "v",
            "n1",
            "n2",
            F.abs(
                (F.col("la") + F.col("oa")) * F.col("n2")
                - (F.col("lb") + F.col("ob")) * F.col("n1")
            ).alias("num"),
        )
    )
    return (
        cum.orderBy(F.desc("num"), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            F.col("v").alias("at_v_cents"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("d_stat"),
        )
    )


STAT_KS_TWO_SAMPLE_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM customer
  WHERE c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
), g AS (
  SELECT v, CAST(SUM(in_a) AS BIGINT) AS ca,
         CAST(SUM(1 - in_a) AS BIGINT) AS cb
  FROM base GROUP BY v
), n AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
         CAST(SUM(1 - in_a) AS BIGINT) AS n2
  FROM base
), cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cumb
  FROM g
)
SELECT n1, n2, v AS at_v_cents,
       ROUND(CAST(abs(cuma * n2 - cumb * n1) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE), 6) AS d_stat
FROM cum CROSS JOIN n
ORDER BY abs(cuma * n2 - cumb * n1) DESC, v LIMIT 1
"""


# --- single change-point on the daily revenue series ------------------------------


def ts_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection (binary-segmentation step 1) on
    the daily shipped-revenue series: the split day k maximizing the
    between-segment sum of squares

        score(k) = S_L^2/k + S_R^2/(n-k) - S^2/n

    where S_L/S_R are exact integer prefix/suffix cent sums.  The
    squares are taken in DOUBLE (they overflow int64 at scale; IEEE
    multiplication is deterministic), and both engines evaluate the
    identical expression tree, so the argmax ordering is portable
    (day tie-break).  Output: the split day, segment means, and the
    mean shift.

    Plan shape: one shuffle to the calendar-bounded (~2.5k-row) daily
    rollup; prefix sums and the argmax all run over that tiny
    relation (1-row totals broadcast).
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(cents("l_extendedprice")).alias("rev")
    )
    tot = daily.agg(
        F.sum("rev").alias("s_all"), F.count(F.lit(1)).alias("n_all")
    )  # 1 row
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        daily.withColumn("s_l", F.sum("rev").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n_all"))  # right segment non-empty
    )
    sl = F.col("s_l").cast("double")
    sr = (F.col("s_all") - F.col("s_l")).cast("double")
    k = F.col("k").cast("double")
    nr = (F.col("n_all") - F.col("k")).cast("double")
    score = (
        sl * sl / k
        + sr * sr / nr
        - F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_all").cast("double")
    )
    return (
        pre.select(
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.col("k").alias("n_days_left"),
            (F.col("n_all") - F.col("k")).alias("n_days_right"),
            F.round(sl / k / F.lit(100.0), 6).alias("mean_left"),
            F.round(sr / nr / F.lit(100.0), 6).alias("mean_right"),
            F.round((sr / nr - sl / k) / F.lit(100.0), 6).alias("shift"),
            score.alias("__score"),
        )
        .orderBy(F.desc("__score"), "split_day")
        .limit(1)
        .drop("__score")
    )


TS_CHANGEPOINT_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev) AS BIGINT) AS s_all, COUNT(*) AS n_all FROM daily
), pre AS (
  SELECT d,
         CAST(SUM(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s_l,
         CAST(COUNT(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS k,
         s_all, n_all
  FROM daily CROSS JOIN tot
  QUALIFY k < n_all
)
SELECT strftime(d, '%Y-%m-%d') AS split_day,
       k AS n_days_left,
       n_all - k AS n_days_right,
       ROUND(CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE) / 100.0, 6)
         AS mean_left,
       ROUND(CAST(s_all - s_l AS DOUBLE) / CAST(n_all - k AS DOUBLE)
             / 100.0, 6) AS mean_right,
       ROUND((CAST(s_all - s_l AS DOUBLE) / CAST(n_all - k AS DOUBLE)
              - CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE)) / 100.0, 6)
         AS shift
FROM pre
ORDER BY (CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE)
          + CAST(s_all - s_l AS DOUBLE) * CAST(s_all - s_l AS DOUBLE)
            / CAST(n_all - k AS DOUBLE)
          - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
            / CAST(n_all AS DOUBLE)) DESC, split_day
LIMIT 1
"""


# --- period-over-period decile migration ------------------------------------------


def cust_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-decile migration matrix: customers' spend decile in the
    FIRST half of the order horizon vs the SECOND half (halves split
    at start + span DIV 2 — integer day arithmetic), for customers
    active in both.  Deciles come from exact percentile cutoffs of
    each period's per-customer spend (value comparison, 10 = top
    spenders).  The <=100-cell matrix is the rank-migration /
    loyalty-Sankey table.

    Plan shape: one shuffle on custkey for the per-period rollup; the
    midpoint and the two cutoff arrays are 1-row broadcasts; the
    matrix rollup is <=100 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )  # 1 row
    per = (
        o.crossJoin(F.broadcast(span))
        .select(
            F.col("o_custkey").alias("ck"),
            cents("o_totalprice").alias("m"),
            (
                F.datediff(F.to_date("o_orderdate"), F.col("d0"))
                < F.expr("datediff(d1, d0) DIV 2")
            ).alias("in_p1"),
        )
        .groupBy("ck")
        .agg(
            F.sum(F.when(F.col("in_p1"), F.col("m"))).alias("m1"),
            F.sum(F.when(~F.col("in_p1"), F.col("m"))).alias("m2"),
        )
        .filter(F.col("m1").isNotNull() & F.col("m2").isNotNull())
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = per.agg(
        F.percentile("m1", F.array(*[F.lit(q) for q in qs])).alias("c1"),
        F.percentile("m2", F.array(*[F.lit(q) for q in qs])).alias("c2"),
    )  # 1 row

    def decile(col: str, arr: str) -> F.Column:
        return F.lit(1) + sum(
            (F.col(col).cast("double") > F.element_at(arr, i + 1)).cast("int")
            for i in range(9)
        )

    return (
        per.crossJoin(F.broadcast(cuts))
        .select(
            decile("m1", "c1").alias("decile_p1"),
            decile("m2", "c2").alias("decile_p2"),
        )
        .groupBy("decile_p1", "decile_p2")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("decile_p1", "decile_p2")
    )


_D_CASES_1 = "\n".join(
    f"           + (CASE WHEN CAST(m1 AS DOUBLE) > c1[{i}] THEN 1 ELSE 0 END)"
    for i in range(1, 10)
)
_D_CASES_2 = "\n".join(
    f"           + (CASE WHEN CAST(m2 AS DOUBLE) > c2[{i}] THEN 1 ELSE 0 END)"
    for i in range(1, 10)
)

CUST_DECILE_MIGRATION_SQL = f"""
WITH span AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
         MAX(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), per AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CASE WHEN date_diff('day', d0, CAST(o_orderdate AS DATE))
                            < date_diff('day', d0, d1) // 2
                       THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END)
              AS BIGINT) AS m1,
         CAST(SUM(CASE WHEN date_diff('day', d0, CAST(o_orderdate AS DATE))
                            >= date_diff('day', d0, d1) // 2
                       THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END)
              AS BIGINT) AS m2
  FROM orders CROSS JOIN span
  GROUP BY 1
  HAVING m1 IS NOT NULL AND m2 IS NOT NULL
), cuts AS (
  SELECT quantile_cont(m1, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c1,
         quantile_cont(m2, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c2
  FROM per
), scored AS (
  SELECT 1
{_D_CASES_1} AS decile_p1,
         1
{_D_CASES_2} AS decile_p2
  FROM per CROSS JOIN cuts
)
SELECT decile_p1, decile_p2, COUNT(*) AS n_cust
FROM scored GROUP BY 1, 2 ORDER BY decile_p1, decile_p2
"""


QUERIES = {
    "ml_calibration_bins": ml_calibration_bins,
    "stat_ks_two_sample": stat_ks_two_sample,
    "ts_changepoint_daily": ts_changepoint_daily,
    "cust_decile_migration": cust_decile_migration,
}

ORACLES = {
    "ml_calibration_bins": ML_CALIBRATION_BINS_SQL,
    "stat_ks_two_sample": STAT_KS_TWO_SAMPLE_SQL,
    "ts_changepoint_daily": TS_CHANGEPOINT_DAILY_SQL,
    "cust_decile_migration": CUST_DECILE_MIGRATION_SQL,
}
