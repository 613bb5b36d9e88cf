"""Round-8 wave 30: retrieval metrics, sequence analytics, and text
readability.

- ml_map_mrr_at10: MAP@10 and MRR@10 of the value-descending ranking
  with 'purchase' as relevance — the 1/i rationals are cleared through
  LCM(1..10) = 2520 so every per-user score is exact int64 micro-units
  (the same trick as ml_ndcg_at10's weight table).
- ev_longest_streak: longest run of consecutive same-type events per
  user (the rn - rn_by_type run-id construction on a deterministic
  (ts, event_id) order).
- asof_next_event_forward: FORWARD as-of join — every view is matched
  to the first purchase at-or-after it in the same user's timeline,
  as one sort-once window (no per-row probing), the mirror image of
  asof_purchase_last_click's backward LAST_VALUE.
- doc_readability_fk: Flesch-Kincaid grade from regex token counts
  (words, sentence marks, vowel-group syllable approximation) — all
  counting is engine-native regex, the grade is three fixed-order
  double terms.
- cust_basket_diversity: inverse-Simpson effective brand count per
  customer (s^2 / sum s_i^2 over brand spend) — concentration the
  n_brands column alone can't see.
- ev_bigram_lift: lift of consecutive event-type bigrams vs
  independence of (first, second) marginals — association mining on
  sequences with one window + one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


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


# --- longest same-type streak ---------------------------------------------------


def ev_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive same-type events per user on the
    deterministic (ts, event_id) timeline — the classic rn minus
    rn-within-type run-id construction (two sort-sharing windows), then
    a run-length aggregate.  Also reports how many distinct runs tie at
    the maximum, so the answer is order-free."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("tus"), "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("tus", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "tus", "event_id"
    )
    runs = (
        ev.withColumn(
            "run_id", F.row_number().over(w_all) - F.row_number().over(w_typ)
        )
        .groupBy("user_id", "event_type", "run_id")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    per_user = runs.groupBy("user_id").agg(F.max("len").alias("longest"))
    at_max = (
        runs.join(per_user, "user_id")
        .filter(F.col("len") == F.col("longest"))
        .groupBy("user_id")
        .agg(
            F.max("longest").cast("bigint").alias("longest_streak"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs_at_max"),
            F.min("event_type").alias("first_type_at_max"),
        )
    )
    return at_max.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "longest_streak",
        "n_runs_at_max",
        "first_type_at_max",
    ).orderBy("user_id")


_STREAK_SQL = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY epoch_us(ts), event_id) AS run_id
  FROM events
), runs AS (
  SELECT user_id, event_type, run_id, COUNT(*) AS len
  FROM seq GROUP BY 1, 2, 3
), per_user AS (
  SELECT user_id, MAX(len) AS longest FROM runs GROUP BY user_id
)
SELECT CAST(r.user_id AS BIGINT) AS user_id,
       CAST(MAX(p.longest) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_runs_at_max,
       MIN(r.event_type) AS first_type_at_max
FROM runs r JOIN per_user p ON r.user_id = p.user_id AND r.len = p.longest
GROUP BY r.user_id ORDER BY user_id
"""


# --- forward as-of join ---------------------------------------------------------


def asof_next_event_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each view matched to the FIRST purchase at or
    after it on the same user's timeline — intent-to-conversion lag.
    One union + one sort-once window (FIRST_VALUE IGNORE NULLS over the
    forward frame); views are side 0 so a same-microsecond purchase
    counts as 'after'.  No per-row probing, no range join: the mirror
    image of asof_purchase_last_click."""
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "tus", F.lit(0).alias("side"), "event_id"
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "tus", F.lit(1).alias("side"), "event_id"
    )
    u = views.unionAll(buys)
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt_id = F.first(
        F.when(F.col("side") == 1, F.col("event_id")), ignorenulls=True
    ).over(w)
    nxt_tus = F.first(
        F.when(F.col("side") == 1, F.col("tus")), ignorenulls=True
    ).over(w)
    return (
        u.withColumn("purchase_id", nxt_id)
        .withColumn("purchase_tus", nxt_tus)
        .filter((F.col("side") == 0) & F.col("purchase_id").isNotNull())
        .select(
            F.col("event_id").cast("bigint").alias("view_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("tus").cast("bigint").alias("view_tus"),
            F.col("purchase_id").cast("bigint").alias("purchase_id"),
            F.col("purchase_tus").cast("bigint").alias("purchase_tus"),
            (F.col("purchase_tus") - F.col("tus")).cast("bigint")
            .alias("wait_us"),
        )
        .orderBy("view_id")
    )


_ASOF_FWD_SQL = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side, event_id
  FROM events WHERE event_type IN ('view', 'purchase')
), r AS (
  SELECT *,
         FIRST_VALUE(CASE WHEN side = 1 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS purchase_id,
         FIRST_VALUE(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS purchase_tus
  FROM u
)
SELECT CAST(event_id AS BIGINT) AS view_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(tus AS BIGINT) AS view_tus,
       CAST(purchase_id AS BIGINT) AS purchase_id,
       CAST(purchase_tus AS BIGINT) AS purchase_tus,
       CAST(purchase_tus - tus AS BIGINT) AS wait_us
FROM r WHERE side = 0 AND purchase_id IS NOT NULL
ORDER BY view_id
"""


# --- Flesch-Kincaid readability -------------------------------------------------


def doc_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document from engine-native regex
    counts: words = [a-z]+ runs of the lowercased text, sentences =
    [.!?]+ runs (floored at 1), syllables = vowel-group [aeiouy]+ runs
    (the standard no-dictionary approximation).  grade = 0.39 * w/s +
    11.8 * sy/w - 15.59 as three fixed-order double terms over exact
    integer counts.  Pure per-row expressions — no shuffle at all
    until the final ORDER BY."""
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    out = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.regexp_count(low, F.lit("[a-z]+")).cast("bigint").alias("words"),
        F.greatest(
            F.lit(1),
            F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("bigint"),
        ).alias("sentences"),
        F.regexp_count(low, F.lit("[aeiouy]+")).cast("bigint").alias(
            "syllables"
        ),
    ).filter(F.col("words") > 0)
    return out.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(0.39)
            * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            + F.lit(11.8)
            * (F.col("syllables").cast("double") / F.col("words").cast("double"))
            - F.lit(15.59)
        ).alias("fk_grade"),
    ).orderBy("doc_id")


_READABILITY_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS words,
         GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
       + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
       - 15.59 AS fk_grade
FROM c WHERE words > 0 ORDER BY doc_id
"""


# --- basket diversity -----------------------------------------------------------


def cust_basket_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective number of brands per customer (inverse Simpson index
    over brand spend): eff = S^2 / sum(s_i^2), where s_i is the spend
    in brand i and S the total — 25 brands bought 4%-each scores 25,
    one dominant brand scores ~1.  Squares stay in int64 (per-customer
    spend is SF-invariant in TPC-H); the index is computed in doubles
    from exact integers.  Shape: lineitem-orders join (the one big
    shuffle), brand rollup, customer rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    spend = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              li.l_partkey == p.p_partkey)
        .groupBy("o_custkey", "p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    return (
        spend.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.sum("s").cast("bigint").alias("total_cents"),
            F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ssq"),
        )
        .select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            "n_brands",
            "total_cents",
            (
                F.col("total_cents").cast("double")
                * F.col("total_cents").cast("double")
                / F.col("ssq").cast("double")
            ).alias("eff_brands"),
        )
        .orderBy("custkey")
    )


_BASKET_DIV_SQL = """
WITH spend AS (
  SELECT o_custkey, p_brand,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(s) AS BIGINT) AS total_cents,
       CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
         / CAST(SUM(s * s) AS DOUBLE) AS eff_brands
FROM spend GROUP BY o_custkey ORDER BY custkey
"""


# --- bigram lift -----------------------------------------------------------------


def ev_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift of consecutive event-type bigrams against independence of
    the (first, second) marginals: lift(a, b) = P(a, b) / (P(a as
    first) * P(b as second)) = ((cnt_ab * T) / cnt_a.) / cnt_.b — each
    factor exact int64, the division a fixed-order double chain.  One
    lag window on the user timeline + one 25-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    bi = (
        ev.select("user_id", "event_type", epoch_us("ts").alias("tus"),
                  "event_id")
        .withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("first_type"),
            F.col("nxt").alias("second_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wt = Window.partitionBy()
    wa = Window.partitionBy("first_type")
    wb = Window.partitionBy("second_type")
    return (
        bi.select(
            "first_type",
            "second_type",
            "cnt",
            F.sum("cnt").over(wt).alias("T"),
            F.sum("cnt").over(wa).alias("cnt_first"),
            F.sum("cnt").over(wb).alias("cnt_second"),
        )
        .select(
            "first_type",
            "second_type",
            "cnt",
            (
                F.col("cnt").cast("double") * F.col("T").cast("double")
                / F.col("cnt_first").cast("double")
                / F.col("cnt_second").cast("double")
            ).alias("lift"),
        )
        .orderBy("first_type", "second_type")
    )


_BIGRAM_LIFT_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
), bi AS (
  SELECT event_type AS first_type, nxt AS second_type,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT first_type, second_type, cnt,
       CAST(cnt AS DOUBLE) * CAST(SUM(cnt) OVER () AS DOUBLE)
         / CAST(SUM(cnt) OVER (PARTITION BY first_type) AS DOUBLE)
         / CAST(SUM(cnt) OVER (PARTITION BY second_type) AS DOUBLE) AS lift
FROM bi ORDER BY first_type, second_type
"""


QUERIES = {
    "ml_map_mrr_at10": ml_map_mrr_at10,
    "ev_longest_streak": ev_longest_streak,
    "asof_next_event_forward": asof_next_event_forward,
    "doc_readability_fk": doc_readability_fk,
    "cust_basket_diversity": cust_basket_diversity,
    "ev_bigram_lift": ev_bigram_lift,
}

ORACLES = {
    "ml_map_mrr_at10": _MAP_MRR_SQL,
    "ev_longest_streak": _STREAK_SQL,
    "asof_next_event_forward": _ASOF_FWD_SQL,
    "doc_readability_fk": _READABILITY_SQL,
    "cust_basket_diversity": _BASKET_DIV_SQL,
    "ev_bigram_lift": _BIGRAM_LIFT_SQL,
}
