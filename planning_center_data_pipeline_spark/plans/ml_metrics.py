"""Model-evaluation metrics (`ml_`): ranking, calibration and
classification scores computed over the registry tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- exact AUC via tie-aware rank sum ----------------------------------------


def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of account balance as a predictor of "placed an
    urgent-priority order", via the tie-aware Mann-Whitney rank sum:

        AUC = (R2 - n_pos*(n_pos+1)) / (2 * n_pos * n_neg)

    where R2 = 2 * (sum of average ranks of the positives) stays an
    exact integer: a tie group of ``cnt`` rows starting after
    ``start`` lower-scored rows contributes npos * (2*start + cnt
    + 1).  One division at the end, rounded once.

    Plan shape: the per-score rollup shuffles once on the score; the
    rank offsets come from a scalable two-phase prefix sum over
    VALUE-deterministic buckets: 31 percentile cutoffs (a 1-row
    aggregate, broadcast back) assign each score group a bucket by
    comparison, per-bucket running sums parallelize, and the only
    globally-ordered window runs over the <= 32-row bucket totals.
    Unlike a repartitionByRange + spark_partition_id() prefix sum,
    bucket membership depends only on the VALUE, so the offsets
    subtree and the stream side cannot disagree when Catalyst
    executes the bucketed subtree twice (range-boundary SAMPLING is
    per-execution and made that shape nondeterministic — measured:
    three different AUCs in three runs at sf0.1).  The final reduce
    is a 1-row aggregate.
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
    g = base.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("pos").alias("npos"),
    )
    qs = [i / 32.0 for i in range(1, 32)]
    vcuts = g.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row, deterministic function of the data
    n_below = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(31)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "v", "cnt", "npos", n_below.alias("bk")
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
    ranked = (
        local.join(F.broadcast(offsets), "bk")
        # rows strictly below this tie group
        .withColumn(
            "start", F.col("local_cum") + F.col("offset") - F.col("cnt")
        )
    )
    return ranked.agg(
        F.sum("npos").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("npos")).alias("n_neg"),
        F.round(
            (
                F.sum(
                    F.col("npos")
                    * (F.lit(2) * F.col("start") + F.col("cnt") + F.lit(1))
                )
                - F.sum("npos") * (F.sum("npos") + F.lit(1))
            ).cast("double")
            / (
                F.lit(2).cast("double")
                * F.sum("npos")
                * F.sum(F.col("cnt") - F.col("npos"))
            ),
            6,
        ).alias("auc"),
    )


ML_AUC_RANK_SQL = """
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN o.ck IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
             WHERE o_orderpriority = '1-URGENT') o
         ON o.ck = c_custkey
), g AS (
  SELECT v, COUNT(*) AS cnt, CAST(SUM(pos) AS BIGINT) AS npos
  FROM base GROUP BY v
), ranked AS (
  SELECT cnt, npos,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM g
)
SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
       CAST(SUM(cnt - npos) AS BIGINT) AS n_neg,
       ROUND(CAST(SUM(npos * (2*start + cnt + 1))
                  - SUM(npos) * (SUM(npos) + 1) AS DOUBLE)
             / (2.0 * SUM(npos) * SUM(cnt - npos)), 6) AS auc
FROM ranked
"""


# --- Brier / Murphy decomposition ---------------------------------------------------


def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned balance-score forecast for
    "placed an urgent order" (the ml_calibration_bins setup, same
    10-bin integer banding): brier = reliability - resolution +
    uncertainty with f_b = the bin's mean normalized score (exact
    integer sums over the shifted score), o_b = bin positive rate,
    o = overall rate.  One label rollup, a broadcast 1-row range, a
    10-row decomposition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    buyers = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
        .withColumn("pos", F.lit(1))
    )
    base = (
        c.select(
            F.col("c_custkey").alias("ck"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
        )
        .join(buyers, "ck", "left")
        .select("v", F.coalesce("pos", F.lit(0)).alias("pos"))
    )
    rng = base.agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        "n",
        "npos",
        "vmin",
        "vmax",
        (
            ((F.col("v") - F.col("vmin")) * 10)
            / (F.col("vmax") - F.col("vmin") + 1)
        )
        .cast("bigint")
        .alias("bin"),
        (F.col("v") - F.col("vmin")).alias("sv"),
        "pos",
    )
    bins = binned.groupBy("bin").agg(
        F.first("n").alias("n"),
        F.first("npos").alias("npos"),
        F.first("vmax").alias("vmax"),
        F.first("vmin").alias("vmin"),
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("pos").cast("bigint").alias("pos_b"),
        F.sum("sv").cast("decimal(38,0)").alias("sv_b"),
    )
    # f_b = mean normalized score in [0,1]; o_b = pos rate
    fb = F.col("sv_b").cast("double") / (
        F.col("n_b").cast("double")
        * (F.col("vmax") - F.col("vmin")).cast("double")
    )
    ob = F.col("pos_b").cast("double") / F.col("n_b").cast("double")
    obar = F.col("npos").cast("double") / F.col("n").cast("double")
    comp = bins.agg(
        F.first("n").alias("n"),
        F.first("npos").alias("npos"),
        F.sum(
            F.col("n_b").cast("double") * (fb - ob) * (fb - ob)
        ).alias("rel_num"),
        F.sum(
            F.col("n_b").cast("double") * (ob - obar) * (ob - obar)
        ).alias("res_num"),
    )
    return comp.select(
        F.round(F.col("rel_num") / F.col("n").cast("double"), 6).alias(
            "reliability"
        ),
        F.round(F.col("res_num") / F.col("n").cast("double"), 6).alias(
            "resolution"
        ),
        F.round(
            (F.col("npos").cast("double") / F.col("n").cast("double"))
            * (1.0 - F.col("npos").cast("double") / F.col("n").cast("double")),
            6,
        ).alias("uncertainty"),
        F.round(
            F.col("rel_num") / F.col("n").cast("double")
            - F.col("res_num") / F.col("n").cast("double")
            + (F.col("npos").cast("double") / F.col("n").cast("double"))
            * (1.0 - F.col("npos").cast("double") / F.col("n").cast("double")),
            6,
        ).alias("brier"),
    )


_BRIER_SQL = """
WITH buyers AS (
  SELECT DISTINCT o_custkey AS ck, 1 AS pos FROM orders
  WHERE o_orderpriority = '1-URGENT'
), base AS (
  SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v,
         COALESCE(pos, 0) AS pos
  FROM customer LEFT JOIN buyers ON c_custkey = ck
), rng AS (
  SELECT MIN(v) AS vmin, MAX(v) AS vmax,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS npos
  FROM base
), binned AS (
  SELECT n, npos, vmin, vmax,
         CAST(((v - vmin) * 10) // (vmax - vmin + 1) AS BIGINT) AS bin,
         v - vmin AS sv, pos
  FROM base, rng
), bins AS (
  SELECT bin, MIN(n) AS n, MIN(npos) AS npos,
         MIN(vmax) AS vmax, MIN(vmin) AS vmin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(pos) AS BIGINT) AS pos_b,
         CAST(SUM(CAST(sv AS HUGEINT)) AS HUGEINT) AS sv_b
  FROM binned GROUP BY bin
), comp AS (
  SELECT MIN(n) AS n, MIN(npos) AS npos,
         SUM(CAST(n_b AS DOUBLE)
             * (CAST(sv_b AS DOUBLE) / (CAST(n_b AS DOUBLE)
                * CAST(vmax - vmin AS DOUBLE))
                - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             * (CAST(sv_b AS DOUBLE) / (CAST(n_b AS DOUBLE)
                * CAST(vmax - vmin AS DOUBLE))
                - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
           AS rel_num,
         SUM(CAST(n_b AS DOUBLE)
             * (CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)))
           AS res_num
  FROM bins
)
SELECT ROUND(rel_num / CAST(n AS DOUBLE), 6) AS reliability,
       ROUND(res_num / CAST(n AS DOUBLE), 6) AS resolution,
       ROUND((CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
             * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS uncertainty,
       ROUND(rel_num / CAST(n AS DOUBLE) - res_num / CAST(n AS DOUBLE)
             + (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS brier
FROM comp
"""


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


# --- decile lift / gains table -----------------------------------------------


def ml_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-band lift and cumulative-gains table: account balance as
    a propensity score for "placed at least one urgent-priority order".  Bands come
    from the nine global score deciles (exact interpolated
    percentiles over integer cents — identical IEEE interpolation in
    any engine), assigned by value comparison, so band boundaries are
    engine-portable and the table needs NO global row-ordered window
    over the customers (an ntile() would serialize; cutoff bands
    don't — heavy ties make band sizes uneven, which the n_cust
    column reports honestly).

    Plan shape: label semi-aggregate (one shuffle on custkey), a
    1-row cutoff aggregate broadcast back onto the scan, a 10-row
    rollup, and 10-row windows for the cumulative columns.
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
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = base.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("cut")
    )  # 1 row
    # decile 1 = top scores: count how many cutoffs the value exceeds
    n_above = sum(
        (F.col("v").cast("double") > F.element_at("cut", i + 1)).cast("int")
        for i in range(9)
    )
    banded = base.crossJoin(F.broadcast(cuts)).select(
        (F.lit(10) - n_above).alias("decile"), "pos"
    )
    per = banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("pos").alias("n_buyers"),
    )
    w_tot = Window.partitionBy()
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )  # 10-row window by construction
    return (
        per.withColumn(
            "buy_rate",
            F.round(F.col("n_buyers").cast("double") / F.col("n_cust"), 6),
        )
        .withColumn(
            "lift",
            F.round(
                (F.col("n_buyers").cast("double") / F.col("n_cust"))
                / (
                    F.sum("n_buyers").over(w_tot).cast("double")
                    / F.sum("n_cust").over(w_tot)
                ),
                6,
            ),
        )
        .withColumn(
            "cum_gain_pct",
            F.round(
                F.lit(100.0)
                * F.sum("n_buyers").over(w_cum).cast("double")
                / F.sum("n_buyers").over(w_tot),
                6,
            ),
        )
        .orderBy("decile")
    )


ML_DECILE_LIFT_SQL = """
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN o.ck IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
             WHERE o_orderpriority = '1-URGENT') o
         ON o.ck = c_custkey
), cuts AS (
  SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cut
  FROM base
), banded AS (
  SELECT 10 - (
           (CASE WHEN CAST(v AS DOUBLE) > cut[1] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[2] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[3] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[4] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[5] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[6] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[7] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[8] THEN 1 ELSE 0 END) +
           (CASE WHEN CAST(v AS DOUBLE) > cut[9] THEN 1 ELSE 0 END)
         ) AS decile, pos
  FROM base CROSS JOIN cuts
), per AS (
  SELECT decile, COUNT(*) AS n_cust,
         CAST(SUM(pos) AS BIGINT) AS n_buyers
  FROM banded GROUP BY decile
)
SELECT decile, n_cust, n_buyers,
       ROUND(CAST(n_buyers AS DOUBLE) / n_cust, 6) AS buy_rate,
       ROUND((CAST(n_buyers AS DOUBLE) / n_cust) /
             (CAST(SUM(n_buyers) OVER () AS DOUBLE) / SUM(n_cust) OVER ()),
             6) AS lift,
       ROUND(100.0 * CAST(SUM(n_buyers) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / SUM(n_buyers) OVER (), 6) AS cum_gain_pct
FROM per ORDER BY decile
"""


# --- MAP@10 / MRR@10 ------------------------------------------------------------

_L10 = 2520  # LCM(1..10): clears every 1/i for i <= 10 to an integer


def ml_map_mrr_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 and MRR@10 of the per-user value-descending event ranking
    against 'purchase' relevance (the retrieval-metric siblings of
    ml_ndcg_at10, same ranking contract):

        AP@10  = (1 / min(R, 10)) * sum_{rel i <= 10} prefix_rel_i / i
        MRR@10 = 1 / first_rel_rank   (0 when no hit in the top 10)

    Every per-user score is exact int64: prefix_rel_i / i is cleared
    through LCM(1..10) = 2520, MRR through 1e6 DIV rank; cohort means
    are one double division of exact sums.  Scale: one shuffle on
    user_id for the window, one for the cohort aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    rel = (F.col("event_type") == "purchase").cast("int")
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number().over(w).alias("rnk"),
        F.sum(rel)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix_rel"),
    )
    per_user = (
        ranked.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("rnk") <= 10) & (F.col("rel") == 1),
                    F.expr(f"({_L10} DIV rnk) * prefix_rel"),
                ).otherwise(F.lit(0))
            ).alias("ap_scaled"),
            F.sum("rel").alias("n_rel"),
            F.min(
                F.when((F.col("rnk") <= 10) & (F.col("rel") == 1), F.col("rnk"))
            ).alias("first_rank"),
        )
        .filter(F.col("n_rel") > 0)
    )
    scored = per_user.select(
        "user_id",
        F.expr(
            f"CAST(ap_scaled * 1000000 DIV ({_L10} * LEAST(n_rel, 10)) "
            "AS BIGINT)"
        ).alias("ap_micro"),
        F.expr(
            "CAST(CASE WHEN first_rank IS NULL THEN 0 "
            "ELSE 1000000 DIV first_rank END AS BIGINT)"
        ).alias("rr_micro"),
    )
    return (
        scored.groupBy((F.col("user_id") % 10).cast("bigint").alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("ap_micro").cast("bigint").alias("sum_ap_micro"),
            F.sum("rr_micro").cast("bigint").alias("sum_rr_micro"),
        )
        .select(
            "cohort",
            "n_users",
            "sum_ap_micro",
            "sum_rr_micro",
            (
                F.col("sum_ap_micro").cast("double")
                / F.col("n_users").cast("double")
                / 1e6
            ).alias("map_at10"),
            (
                F.col("sum_rr_micro").cast("double")
                / F.col("n_users").cast("double")
                / 1e6
            ).alias("mrr_at10"),
        )
        .orderBy("cohort")
    )


_MAP_MRR_SQL = f"""
WITH ranked AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rnk,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY value DESC, event_id
                 ROWS UNBOUNDED PRECEDING) AS prefix_rel
  FROM events
), per_user AS (
  SELECT user_id,
         SUM(CASE WHEN rnk <= 10 AND rel = 1
                  THEN ({_L10} // rnk) * prefix_rel ELSE 0 END) AS ap_scaled,
         SUM(rel) AS n_rel,
         MIN(CASE WHEN rnk <= 10 AND rel = 1 THEN rnk END) AS first_rank
  FROM ranked GROUP BY user_id
  HAVING SUM(rel) > 0
), scored AS (
  SELECT user_id,
         CAST(ap_scaled * 1000000 // ({_L10} * LEAST(n_rel, 10)) AS BIGINT)
           AS ap_micro,
         CAST(CASE WHEN first_rank IS NULL THEN 0
                   ELSE 1000000 // first_rank END AS BIGINT) AS rr_micro
  FROM per_user
)
SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(ap_micro) AS BIGINT) AS sum_ap_micro,
       CAST(SUM(rr_micro) AS BIGINT) AS sum_rr_micro,
       CAST(SUM(ap_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
         AS map_at10,
       CAST(SUM(rr_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
         AS mrr_at10
FROM scored GROUP BY 1 ORDER BY cohort
"""


# --- Matthews correlation --------------------------------------------------------

_MCC_PRICE_CUT = 150000.0


def ml_mcc_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order-year Matthews correlation coefficient of the cheap
    screening heuristic `o_totalprice > 150000` against the true
    urgent/high-priority label.  The four confusion counts come from
    ONE scan (conditional sums); MCC's numerator and the four marginal
    products run in DECIMAL(38,0) (HUGEINT in DuckDB) before the single
    double sqrt, so both engines round the identical quantity."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast(
            "bigint"
        ).alias("y"),
        (F.col("o_totalprice") > _MCC_PRICE_CUT).cast("bigint").alias("p"),
    )
    cm = lab.groupBy("yr").agg(
        F.sum(F.col("y") * F.col("p")).cast("decimal(38,0)").alias("tp"),
        F.sum((1 - F.col("y")) * (1 - F.col("p")))
        .cast("decimal(38,0)")
        .alias("tn"),
        F.sum((1 - F.col("y")) * F.col("p"))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum(F.col("y") * (1 - F.col("p"))).cast("decimal(38,0)").alias("fn"),
    )
    return (
        cm.select(
            "yr",
            F.col("tp").cast("bigint").alias("tp"),
            F.col("tn").cast("bigint").alias("tn"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.round(
                (
                    (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn"))
                    .cast("double")
                )
                / F.sqrt(
                    (
                        (F.col("tp") + F.col("fp"))
                        * (F.col("tp") + F.col("fn"))
                        * (F.col("tn") + F.col("fp"))
                        * (F.col("tn") + F.col("fn"))
                    ).cast("double")
                ),
                6,
            ).alias("mcc"),
        )
        .orderBy("yr")
    )


_MCC_SQL = f"""
WITH lab AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CASE WHEN o_totalprice > {_MCC_PRICE_CUT!r} THEN 1 ELSE 0 END AS p
  FROM orders
), cm AS (
  SELECT yr,
         CAST(SUM(y * p) AS HUGEINT) AS tp,
         CAST(SUM((1 - y) * (1 - p)) AS HUGEINT) AS tn,
         CAST(SUM((1 - y) * p) AS HUGEINT) AS fp,
         CAST(SUM(y * (1 - p)) AS HUGEINT) AS fn
  FROM lab GROUP BY yr
)
SELECT yr,
       CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
             / SQRT(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                         AS DOUBLE)), 6) AS mcc
FROM cm ORDER BY yr
"""


# --- NDCG@10 ------------------------------------------------------------------

# round(1e6 / log2(i+1)) for rank i = 1..10: fixed integer literals so
# the DCG arithmetic is pure int64 on both engines (a float log2 inside
# the query would be engine-rounding-dependent).
_NDCG_W = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]


# prefix sums: ideal DCG when the user has m relevant items (m >= 10
# saturates at the full sum)
_NDCG_IDEAL = [0, 1000000, 1630930, 2130930, 2561607, 2948460,
               3304667, 3638000, 3953465, 4254495, 4543560]


def ml_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the value-descending event ranking against
    'purchase' as the relevance label: per user, rank events by
    (value desc, event_id), DCG = sum of w[rank] over relevant rows in
    the top 10 with w = round(1e6/log2(rank+1)) as integer literals;
    ideal DCG = prefix sum for min(10, total purchases).  ndcg_micro =
    dcg*1e6 DIV idcg stays integer end-to-end (bit-portable); the
    cohort mean is one double division of exact integer sums.

    Scale shape: one shuffle on user_id for the window, one for the
    cohort agg; weights and the ideal lookup are CASE literals, no
    joins."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    ranked = ev.withColumn("rnk", F.row_number().over(w))
    wexpr = F.element_at(
        F.array(*[F.lit(x) for x in _NDCG_W]), F.col("rnk").cast("int")
    )
    per_user = (
        ranked.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("rnk") <= 10) & (F.col("event_type") == "purchase"),
                    wexpr,
                ).otherwise(F.lit(0))
            ).alias("dcg_micro"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_rel"),
        )
        .filter(F.col("n_rel") > 0)
    )
    ideal = F.element_at(
        F.array(*[F.lit(x) for x in _NDCG_IDEAL]),
        (F.least(F.col("n_rel"), F.lit(10)) + 1).cast("int"),
    )
    scored = per_user.select(
        "user_id",
        (F.col("dcg_micro") * 1_000_000).cast("bigint").alias("num"),
        ideal.alias("idcg"),
    ).select(
        "user_id", F.expr("num DIV idcg").cast("bigint").alias("ndcg_micro")
    )
    return (
        scored.groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("ndcg_micro").cast("bigint").alias("sum_ndcg_micro"),
        )
        .withColumn(
            "mean_ndcg",
            F.col("sum_ndcg_micro").cast("double")
            / F.col("n_users").cast("double")
            / 1e6,
        )
        .orderBy("cohort")
    )


def _ndcg_oracle() -> str:
    w_arr = ", ".join(str(x) for x in _NDCG_W)
    ideal_arr = ", ".join(str(x) for x in _NDCG_IDEAL)
    return f"""
WITH ranked AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rnk
  FROM events
), per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN rnk <= 10 AND event_type = 'purchase'
                  THEN ([{w_arr}])[rnk] ELSE 0 END) AS BIGINT) AS dcg_micro,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_rel
  FROM ranked GROUP BY user_id
), scored AS (
  SELECT user_id,
         (dcg_micro * 1000000)
           // ([{ideal_arr}])[LEAST(n_rel, 10) + 1] AS ndcg_micro
  FROM per_user WHERE n_rel > 0
)
SELECT user_id % 10 AS cohort,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(ndcg_micro) AS BIGINT) AS sum_ndcg_micro,
       CAST(SUM(ndcg_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
         AS mean_ndcg
FROM scored GROUP BY 1 ORDER BY cohort
"""


# --- PSI: population stability of order-priority mix --------------------------------


def ml_psi_priority_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-priority mix between
    the pre-1998 baseline and the 1998+ window (orders span 1995-2001) — the standard model-
    monitoring drift metric over a 5-bucket categorical.  Counts are
    exact integers; each bucket's term is ONE shared double expression
    (p - q) * LN(p * nb / (q * na)) over those integers, so both
    engines evaluate identical doubles (ROUND 6 absorbs nothing more
    than representation).  Scale shape: one fact rollup on
    (era, priority), 10-row grid after.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") >= 1998).cast("int").alias("era"),
        )
        .groupBy("priority", "era")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = counts.where(F.col("era") == 0).select(
        "priority", F.col("c").alias("ca")
    )
    b = counts.where(F.col("era") == 1).select(
        F.col("priority").alias("pb"), F.col("c").alias("cb")
    )
    tot = a.join(b, F.col("priority") == F.col("pb")).select(
        "priority", "ca", "cb"
    )
    totals = tot.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    term = (
        "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
        " * LN((CAST(ca AS DOUBLE) * CAST(nb AS DOUBLE))"
        " / (CAST(cb AS DOUBLE) * CAST(na AS DOUBLE)))"
    )
    return (
        tot.crossJoin(F.broadcast(totals))
        .select(
            "priority",
            "ca",
            "cb",
            F.round(F.expr(term), 6).alias("psi_term"),
        )
        .orderBy("priority")
    )


_PSI_SQL = """
WITH counts AS (
  SELECT o_orderpriority AS priority,
         CAST(CASE WHEN EXTRACT(year FROM o_orderdate) >= 1998
              THEN 1 ELSE 0 END AS INT) AS era,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), tot AS (
  SELECT a.priority, a.c AS ca, b.c AS cb
  FROM counts a JOIN counts b
    ON a.priority = b.priority AND a.era = 0 AND b.era = 1
), totals AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM tot
)
SELECT priority, ca, cb,
       ROUND((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             * LN((CAST(ca AS DOUBLE) * CAST(nb AS DOUBLE))
               / (CAST(cb AS DOUBLE) * CAST(na AS DOUBLE))), 6)
         AS psi_term
FROM tot CROSS JOIN totals
ORDER BY priority
"""


# --- precision / recall / F1 at decile thresholds ------------------------------


def ml_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision, recall and F1 at each of the nine global score
    deciles (score = account balance, label = placed an urgent-
    priority order; "predicted positive" = score strictly above the
    cutoff) — the threshold-sweep table a PR curve is drawn from.
    F1 is assembled from exact integer counts as 2*tp/(pred_pos +
    n_pos), one division, rounded once.

    Plan shape: label semi-aggregate (one shuffle on custkey), a
    1-row cutoff aggregate exploded to 9 rows and broadcast; the
    9-way fan-out feeds one conditional aggregation; output is 9 rows.
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
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = base.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("cut")
    )
    thr = cuts.select(
        F.posexplode("cut").alias("k0", "thr")
    ).select((F.col("k0") + 1).alias("k"), "thr")  # 9 rows
    joined = base.crossJoin(F.broadcast(thr))
    per = joined.groupBy("k", "thr").agg(
        F.sum(
            (F.col("pos") == 1).cast("int")
            * (F.col("v").cast("double") > F.col("thr")).cast("int")
        ).alias("tp"),
        F.sum((F.col("v").cast("double") > F.col("thr")).cast("int")).alias(
            "pred_pos"
        ),
        F.sum("pos").alias("n_pos"),
    )
    return per.select(
        "k",
        F.round("thr", 6).alias("thr"),
        "tp",
        "pred_pos",
        "n_pos",
        F.when(
            F.col("pred_pos") > 0,
            F.round(F.col("tp").cast("double") / F.col("pred_pos"), 6),
        ).alias("prec"),
        F.round(F.col("tp").cast("double") / F.col("n_pos"), 6).alias("rec"),
        F.round(
            F.lit(2.0)
            * F.col("tp").cast("double")
            / (F.col("pred_pos") + F.col("n_pos")),
            6,
        ).alias("f1"),
    ).orderBy("k")


ML_THRESHOLD_METRICS_SQL = """
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN o.ck IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
             WHERE o_orderpriority = '1-URGENT') o
         ON o.ck = c_custkey
), cuts AS (
  SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cut
  FROM base
), thr AS (
  SELECT i AS k, cut[i] AS thr
  FROM cuts CROSS JOIN generate_series(1, 9) t(i)
), per AS (
  SELECT k, thr,
         CAST(SUM(CASE WHEN pos = 1 AND CAST(v AS DOUBLE) > thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN CAST(v AS DOUBLE) > thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM base CROSS JOIN thr GROUP BY k, thr
)
SELECT k, ROUND(thr, 6) AS thr, tp, pred_pos, n_pos,
       CASE WHEN pred_pos > 0
            THEN ROUND(CAST(tp AS DOUBLE) / pred_pos, 6) END AS prec,
       ROUND(CAST(tp AS DOUBLE) / n_pos, 6) AS rec,
       ROUND(2.0 * CAST(tp AS DOUBLE) / (pred_pos + n_pos), 6) AS f1
FROM per ORDER BY k
"""


QUERIES = {
    "ml_auc_rank": ml_auc_rank,
    "ml_brier_decomposition": ml_brier_decomposition,
    "ml_calibration_bins": ml_calibration_bins,
    "ml_decile_lift": ml_decile_lift,
    "ml_map_mrr_at10": ml_map_mrr_at10,
    "ml_mcc_confusion": ml_mcc_confusion,
    "ml_ndcg_at10": ml_ndcg_at10,
    "ml_psi_priority_shift": ml_psi_priority_shift,
    "ml_threshold_metrics": ml_threshold_metrics,
}
ORACLES = {
    "ml_auc_rank": ML_AUC_RANK_SQL,
    "ml_brier_decomposition": _BRIER_SQL,
    "ml_calibration_bins": ML_CALIBRATION_BINS_SQL,
    "ml_decile_lift": ML_DECILE_LIFT_SQL,
    "ml_map_mrr_at10": _MAP_MRR_SQL,
    "ml_mcc_confusion": _MCC_SQL,
    "ml_ndcg_at10": _ndcg_oracle(),
    "ml_psi_priority_shift": _PSI_SQL,
    "ml_threshold_metrics": ML_THRESHOLD_METRICS_SQL,
}
