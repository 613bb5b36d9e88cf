"""Round-6 wave 10: clickstream Markov transitions, top user
journeys, item-item collaborative filtering, decile lift/gains,
exact rank-sum AUC, and a cohort retention triangle.

- ev_markov_transitions: the next-event transition matrix (counts +
  row-normalised probabilities) behind every "what do users do next"
  product question.
- ev_top_journeys: the top-20 three-step (user, day) event paths —
  the clickstream path-analysis staple.
- cf_item_item_cosine: item-item collaborative filtering over order
  baskets — co-occurrence cosine, the classic "customers also
  bought" scorer, exact because every operand is an integer count.
- ml_decile_lift: score-band lift/gains table (account balance as
  the propensity score, "placed an order" as the label) — the model
  evaluation every marketing data scientist reads first.
- ml_auc_rank: exact ROC AUC via the tie-aware Mann-Whitney rank
  sum, computed with the scalable two-phase prefix sum (no global
  single-partition window over the data).
- ev_retention_triangle: Dn retention by first-seen cohort date —
  the growth-accounting triangle.

All six carry full DuckDB oracles on the repo-standard portable
primitives: integer counts and cents, IEEE sqrt (correctly rounded
per IEEE-754, so bit-identical across engines on exact integer
operands), one ROUND at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- Markov next-event transition matrix -------------------------------------


def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each (from, to) event-type pair, the transition
    count and the row-normalised probability.  Ordering is
    (ts, event_id) so ties are deterministic in any engine.

    Plan shape: ONE shuffle on user_id for the lead() window; the
    transition rollup is a |types|^2-row aggregate, and the
    probability window runs over that tiny rollup (partitioned by
    the from-type — never a global single partition).  Per-user
    windows parallelize at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("t_from"),
        )
        .withColumn("t_to", F.lead("t_from").over(w))
        .filter(F.col("t_to").isNotNull())
        .groupBy("t_from", "t_to")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    w_row = Window.partitionBy("t_from")
    return (
        trans.withColumn(
            "p",
            F.round(
                F.col("n_trans").cast("double")
                / F.sum("n_trans").over(w_row).cast("double"),
                6,
            ),
        )
        .orderBy("t_from", "t_to")
    )


EV_MARKOV_TRANSITIONS_SQL = """
WITH s AS (
  SELECT event_type AS t_from,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t_to
  FROM events
), trans AS (
  SELECT t_from, t_to, COUNT(*) AS n_trans
  FROM s WHERE t_to IS NOT NULL GROUP BY 1, 2
)
SELECT t_from, t_to, n_trans,
       ROUND(CAST(n_trans AS DOUBLE) /
             CAST(SUM(n_trans) OVER (PARTITION BY t_from) AS DOUBLE),
             6) AS p
FROM trans ORDER BY t_from, t_to
"""


# --- top three-step journeys -------------------------------------------------

_JOURNEY_TOP = 20


def ev_top_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 opening three-step event paths over (user, day)
    sessions — "how do visits start".  The first three events of each
    session (deterministic (ts, event_id) order) form the path;
    sessions shorter than three events are excluded.

    Plan shape: one shuffle on (user, day) for the row_number
    window, a conditional-aggregate pivot of ranks 1-3 (no collect /
    array building), then a path rollup finished by
    TakeOrderedAndProject — the top-20 never materialises a global
    sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            "ts",
            "event_id",
            "event_type",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    first3 = (
        steps.groupBy("user_id", "d")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("s1"),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("s2"),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("s3"),
        )
        .filter(F.col("s3").isNotNull())
    )
    return (
        first3.select(
            F.concat_ws(" > ", "s1", "s2", "s3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_JOURNEY_TOP)
    )


EV_TOP_JOURNEYS_SQL = f"""
WITH steps AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
), first3 AS (
  SELECT user_id, d,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
         MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
         MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
  FROM steps WHERE rn <= 3 GROUP BY 1, 2
)
SELECT s1 || ' > ' || s2 || ' > ' || s3 AS path,
       COUNT(*) AS n_sessions
FROM first3 WHERE s3 IS NOT NULL
GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT {_JOURNEY_TOP}
"""


# --- item-item collaborative filtering ---------------------------------------

_CF_MIN_CO = 3
_CF_TOP = 100


def cf_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: cosine
    similarity of the binary order-membership vectors of every part
    pair that co-occurs in >= 3 orders; top-100 pairs.  cos =
    co / sqrt(n_a * n_b) with every operand an exact integer count —
    IEEE sqrt and one division are bit-identical across engines, so
    the ordering (and the LIMIT cut) is portable.

    Plan shape (r12, guide §2.4): one shuffle builds per-order basket
    ARRAYS (collect_set dedups inside the aggregate, replacing the
    former (order, part)-distinct exchange); pair fan-out is a
    map-side double explode — sum-of-C(basket,2), bounded by basket
    size, never |parts|^2 — straight into the (pa, pb) count, and the
    per-item order counts come from a map-side single explode of the
    same materialized arrays.  The former basket self-join's two
    order-key exchanges disappear.  Item frequencies join back on the
    part key (dimension-bounded; AQE picks the strategy); top-100 via
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
        .localCheckpoint(eager=False)
    )
    item_n = baskets.select(F.explode("pks").alias("pk")).groupBy("pk").agg(
        F.count(F.lit(1)).alias("n")
    )
    co = (
        baskets.select(F.explode("pks").alias("pa"), F.col("pks"))
        .select("pa", F.explode("pks").alias("pb"))
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _CF_MIN_CO)
    )
    return (
        co.join(item_n.select(F.col("pk").alias("pa"), F.col("n").alias("na")), "pa")
        .join(item_n.select(F.col("pk").alias("pb"), F.col("n").alias("nb")), "pb")
        .withColumn(
            "cos",
            F.col("co").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
        .orderBy(F.desc("cos"), "pa", "pb")
        .limit(_CF_TOP)
        .select(
            "pa", "pb", "co", "na", "nb", F.round("cos", 6).alias("cosine")
        )
    )


CF_ITEM_ITEM_COSINE_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), item_n AS (
  SELECT pk, COUNT(*) AS n FROM b GROUP BY pk
), co AS (
  SELECT a.pk AS pa, bb.pk AS pb, COUNT(*) AS co
  FROM b a JOIN b bb ON bb.ok = a.ok AND a.pk < bb.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_CO}
)
SELECT pa, pb, co, na.n AS na, nb.n AS nb,
       ROUND(CAST(co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6)
         AS cosine
FROM co
JOIN item_n na ON na.pk = co.pa
JOIN item_n nb ON nb.pk = co.pb
ORDER BY CAST(co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)) DESC,
         pa, pb
LIMIT {_CF_TOP}
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


# --- cohort retention triangle -----------------------------------------------

_RET_OFFSETS = (1, 7, 14, 21)


def ev_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dn retention triangle: users grouped by first-seen date, with
    the share active exactly 1 / 7 / 14 / 21 days later.  Because
    (user, day) activity is deduped first, each user contributes at
    most one row per offset, so plain conditional counts are exact —
    no per-cell distinct needed.

    Plan shape: one shuffle on user_id covers both the (user, day)
    dedup and the first-seen window (same key); the triangle is a
    |dates|-row rollup.  Per-user windows parallelize at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    acts = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w_u = Window.partitionBy("user_id")
    offs = acts.withColumn("cohort_d", F.min("d").over(w_u)).withColumn(
        "off", F.datediff("d", "cohort_d")
    )
    aggs = [F.count(F.when(F.col("off") == 0, 1)).alias("n_users")]
    for k in _RET_OFFSETS:
        aggs.append(
            F.count(F.when(F.col("off") == k, 1)).alias(f"d{k}_ret")
        )
    ret = offs.groupBy(
        F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day")
    ).agg(*aggs)
    for k in _RET_OFFSETS:
        ret = ret.withColumn(
            f"d{k}_pct",
            F.round(
                F.lit(100.0) * F.col(f"d{k}_ret") / F.col("n_users"), 6
            ),
        )
    return ret.orderBy("cohort_day")


EV_RETENTION_TRIANGLE_SQL = """
WITH acts AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), offs AS (
  SELECT user_id, d,
         MIN(d) OVER (PARTITION BY user_id) AS cohort_d,
         date_diff('day', MIN(d) OVER (PARTITION BY user_id), d) AS off
  FROM acts
), ret AS (
  SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
         COUNT(CASE WHEN off = 0 THEN 1 END) AS n_users,
         COUNT(CASE WHEN off = 1 THEN 1 END) AS d1_ret,
         COUNT(CASE WHEN off = 7 THEN 1 END) AS d7_ret,
         COUNT(CASE WHEN off = 14 THEN 1 END) AS d14_ret,
         COUNT(CASE WHEN off = 21 THEN 1 END) AS d21_ret
  FROM offs GROUP BY 1
)
SELECT cohort_day, n_users, d1_ret, d7_ret, d14_ret, d21_ret,
       ROUND(100.0 * d1_ret / n_users, 6) AS d1_pct,
       ROUND(100.0 * d7_ret / n_users, 6) AS d7_pct,
       ROUND(100.0 * d14_ret / n_users, 6) AS d14_pct,
       ROUND(100.0 * d21_ret / n_users, 6) AS d21_pct
FROM ret ORDER BY cohort_day
"""


QUERIES = {
    "ev_markov_transitions": ev_markov_transitions,
    "ev_top_journeys": ev_top_journeys,
    "cf_item_item_cosine": cf_item_item_cosine,
    "ml_decile_lift": ml_decile_lift,
    "ml_auc_rank": ml_auc_rank,
    "ev_retention_triangle": ev_retention_triangle,
}

ORACLES = {
    "ev_markov_transitions": EV_MARKOV_TRANSITIONS_SQL,
    "ev_top_journeys": EV_TOP_JOURNEYS_SQL,
    "cf_item_item_cosine": CF_ITEM_ITEM_COSINE_SQL,
    "ml_decile_lift": ML_DECILE_LIFT_SQL,
    "ml_auc_rank": ML_AUC_RANK_SQL,
    "ev_retention_triangle": EV_RETENTION_TRIANGLE_SQL,
}
