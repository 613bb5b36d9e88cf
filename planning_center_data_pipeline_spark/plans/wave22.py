"""Round-7 wave 22: six new first-class operators.

- doc_containment_pairs: ASYMMETRIC set containment (|A∩B|/|A|) over
  rare shingles — the sub-document/quotation detector exact Jaccard
  can't express (a small doc fully contained in a big one has low
  Jaccard but containment 1.0).
- ml_ndcg_at10: ranking quality (NDCG@10) with integer-micro DCG
  weights so the metric is bit-portable across engines.
- ev_position_attribution: U-shaped (40/20/40) position-based
  credit assignment — the non-uniform sibling of attr_linear_touch.
- ts_monthly_seasonal_index: classical seasonal index (month mean /
  grand mean) in exact integer micro-units.
- cust_pit_training_features: leakage-safe point-in-time feature
  assembly — every feature computed ONLY from strictly-earlier
  orders, label = days to next order (the supervised-training
  feature/label contract).
- emb_mips_topk: maximum-inner-product retrieval (un-normalized dot,
  the recommender scoring mode) — exact int64 dots over the
  quantized vectors, probe-set bounded.

All six carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- asymmetric containment ---------------------------------------------------

CONTAIN_DF_CAP = 50  # same ubiquity cap as the exact-Jaccard family
CONTAIN_T_NUM, CONTAIN_T_DEN = 3, 5  # containment >= 0.6, kept rational


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment C(A in B) = |A∩B| / |A| >= 0.6 over rare
    (df <= 50) 3-gram shingles: catches sub-document duplication —
    quotes, excerpts, templated wrappers around a copied core — which
    symmetric Jaccard under-scores when |B| >> |A|.

    Scale shape: identical to the rare-prefix exact-Jaccard join —
    the df cap bounds within-bucket pairs at C(cap,2) per shingle, so
    cost is linear in vocabulary; the threshold test is exact integer
    (n_common * 5 >= n_self * 3), the reported containment one double
    division."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    d = load_table(spark, sf_dir, "documents")
    sh_all = shingle_table(d, "doc_id", "text", k=3)
    # r12 (guide §2.4, the basket-array pattern): ONE groupBy on the
    # shingle collects its doc list (shingle_table emits distinct
    # (doc, shingle) rows, so the list is duplicate-free); the df cap
    # is just an array-size filter on that rollup, and the directed
    # pair fan-out is a map-side double explode bounded at cap^2 per
    # shingle.  The first cut of this round used a COUNT window +
    # self-join here, which re-shuffled and re-sorted the full shingle
    # table three times and measured SLOWER than the round-11 shape
    # (2.9 -> 3.6 s); the array build replaces the window sort, both
    # self-join exchanges, and the separate df rollup with one
    # shuffle.  Materialized once for both consumers (pairs + sizes).
    # Memory bound (r12 ADVICE): a hub shingle's full doc list is
    # collected into ONE aggregation buffer before the df cap drops it
    # — fine where df is bounded by corpus construction (as here), but
    # on a corpus where one boilerplate shingle can appear in millions
    # of docs, run an exact/approximate df pre-pass (count rollup or
    # CMS over (shingle) keys only) and semi-join BEFORE the collect so
    # the giant buffer never builds.  Output identical either way; only
    # the buffer bound changes.
    docs_per = (
        sh_all.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") <= CONTAIN_DF_CAP)
        .select("ds")
        .localCheckpoint(eager=False)
    )
    sizes = (
        docs_per.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    common = (
        docs_per.select(F.explode("ds").alias("doc_id"), "ds")
        .select("doc_id", F.explode("ds").alias("other_id"))
        .filter(F.col("doc_id") != F.col("other_id"))
        .groupBy("doc_id", "other_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes, "doc_id")
        .filter(
            F.col("n_common") * CONTAIN_T_DEN >= F.col("n") * CONTAIN_T_NUM
        )
        .select(
            "doc_id",
            "other_id",
            "n_common",
            F.col("n").alias("n_self"),
            (
                F.col("n_common").cast("double") / F.col("n").cast("double")
            ).alias("containment"),
        )
        .orderBy("doc_id", "other_id")
    )


def _containment_oracle() -> str:
    from planning_center_data_pipeline_spark.plans.extensions import (
        _SHINGLE_CTE,
    )

    return f"""
WITH {_SHINGLE_CTE}, rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {CONTAIN_DF_CAP}
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id, COUNT(*) AS n_common
  FROM shr a JOIN shr b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, other_id, n_common, n AS n_self,
       CAST(n_common AS DOUBLE) / CAST(n AS DOUBLE) AS containment
FROM common JOIN sizes USING (doc_id)
WHERE n_common * {CONTAIN_T_DEN} >= n * {CONTAIN_T_NUM}
ORDER BY doc_id, other_id
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


# --- U-shaped attribution -----------------------------------------------------


def ev_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) attribution: each purchase's value is
    credited to the click/view touches of the same user in the 7 days
    before it — 40% to the first touch, 40% to the last, 20% split
    evenly over the middles (single touch: 100%; two touches: 50/50).
    Credits land per (touch event_type, ISO day-of-week).

    Exactness: weights stay rational (num/den integers derived from
    the touch count), credit_micro = cents * num * 1e6 DIV den —
    integer end-to-end, so the engines agree bit-for-bit.  Scale
    shape: user-equi join with a time-range residual (never a cross
    join), two windows per conversion, one final agg."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cuser"),
        F.col("ts").alias("cts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ttype"),
    )
    joined = conv.join(
        touch,
        (F.col("cuser") == F.col("user_id"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS")),
    )
    wa = Window.partitionBy("conv_id").orderBy(F.asc("tts"), F.asc("tid"))
    wd = Window.partitionBy("conv_id").orderBy(F.desc("tts"), F.desc("tid"))
    wn = Window.partitionBy("conv_id")
    pos = (
        joined.withColumn("rn", F.row_number().over(wa))
        .withColumn("rd", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    num = (
        F.when(F.col("n") == 1, F.lit(1))
        .when(F.col("n") == 2, F.lit(1))
        .when((F.col("rn") == 1) | (F.col("rd") == 1), F.lit(2))
        .otherwise(F.lit(1))
    )
    den = (
        F.when(F.col("n") == 1, F.lit(1))
        .when(F.col("n") == 2, F.lit(2))
        .when((F.col("rn") == 1) | (F.col("rd") == 1), F.lit(5))
        .otherwise(F.lit(5) * (F.col("n") - 2))
    )
    credited = pos.select(
        "ttype",
        (F.weekday("tts") + 1).cast("bigint").alias("iso_dow"),
        (F.col("cents") * num * 1_000_000).alias("raw"),
        den.alias("den"),
    ).select(
        "ttype",
        "iso_dow",
        F.expr("raw DIV den").cast("bigint").alias("credit_micro"),
    )
    return (
        credited.groupBy("ttype", "iso_dow")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("credit_micro").cast("bigint").alias("credit_micro_sum"),
        )
        .orderBy("ttype", "iso_dow")
    )


EV_POSITION_ATTRIBUTION_SQL = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id AS cuser, ts AS cts,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
  FROM events WHERE event_type IN ('click', 'view')
), pos AS (
  SELECT conv_id, cents, ttype, tts,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY tts, tid) AS rn,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY tts DESC, tid DESC) AS rd,
         COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM conv JOIN touch
    ON cuser = user_id AND tts < cts AND tts >= cts - INTERVAL 7 DAY
), credited AS (
  SELECT ttype, date_part('isodow', tts) AS iso_dow,
         (cents
          * (CASE WHEN n <= 2 THEN 1
                  WHEN rn = 1 OR rd = 1 THEN 2 ELSE 1 END)
          * 1000000)
         // (CASE WHEN n = 1 THEN 1 WHEN n = 2 THEN 2
                  WHEN rn = 1 OR rd = 1 THEN 5 ELSE 5 * (n - 2) END)
           AS credit_micro
  FROM pos
)
SELECT ttype, CAST(iso_dow AS BIGINT) AS iso_dow,
       CAST(COUNT(*) AS BIGINT) AS n_credits,
       CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_sum
FROM credited GROUP BY 1, 2 ORDER BY ttype, iso_dow
"""


# --- monthly seasonal index ---------------------------------------------------


def ts_monthly_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal index over order revenue:
    index(month) = month revenue * 12 / total revenue, in integer
    micro-units (1e6 = exactly seasonal-neutral).  One agg + one
    window over 12 rows — scan-bound at any scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.month("o_orderdate").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").cast("bigint").alias("month_cents"))
    )
    total = Window.partitionBy()
    return (
        monthly.withColumn(
            "total_cents", F.sum("month_cents").over(total).cast("bigint")
        )
        .select(
            F.col("month").cast("long").alias("month"),
            "month_cents",
            # NOT (m*12*1e6) DIV t: that int64 product overflows at sf1
            # (total cents ~2e13).  double(m)/double(t)*12e6 is exact
            # int->double (< 2^53) followed by two correctly-rounded
            # IEEE ops + floor — bit-identical on both engines, no
            # overflow at any sf.
            F.floor(
                F.col("month_cents").cast("double")
                / F.col("total_cents").cast("double")
                * 12e6
            )
            .cast("bigint")
            .alias("index_micro"),
        )
        .orderBy("month")
    )


TS_MONTHLY_SEASONAL_SQL = """
WITH monthly AS (
  SELECT EXTRACT(month FROM o_orderdate) AS month,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS month_cents
  FROM orders GROUP BY 1
)
SELECT CAST(month AS BIGINT) AS month, month_cents,
       CAST(FLOOR(CAST(month_cents AS DOUBLE)
                  / CAST((SELECT SUM(month_cents) FROM monthly) AS DOUBLE)
                  * 12e6) AS BIGINT) AS index_micro
FROM monthly ORDER BY month
"""


# --- point-in-time training features -------------------------------------------


def cust_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature assembly for a next-order model: for every
    order of the sampled customers (custkey % 19 = 0), features use
    ONLY strictly-earlier orders of the same customer — prior order
    count, prior spend, days since previous — and the label is days
    until the NEXT order (null on the last).  The window frame
    (UNBOUNDED PRECEDING .. 1 PRECEDING over (date, key)) IS the
    point-in-time contract: no aggregate can see the current or any
    future row, the standard temporal-leakage guard for training-set
    builds.  One shuffle on custkey."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 19 == 0)
    ordw = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    past = ordw.rowsBetween(Window.unboundedPreceding, -1)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.count(F.lit(1)).over(past).cast("bigint").alias("n_prior"),
            F.coalesce(F.sum("cents").over(past), F.lit(0))
            .cast("bigint")
            .alias("prior_spend_cents"),
            F.datediff(
                F.col("order_date"),
                F.lag("order_date").over(
                    Window.partitionBy("o_custkey").orderBy(
                        "order_date", "o_orderkey"
                    )
                ),
            )
            .cast("bigint")
            .alias("days_since_prev"),
            F.datediff(
                F.lead("order_date").over(
                    Window.partitionBy("o_custkey").orderBy(
                        "order_date", "o_orderkey"
                    )
                ),
                F.col("order_date"),
            )
            .cast("bigint")
            .alias("label_days_to_next"),
        )
        .orderBy("custkey", "orderkey")
    )


CUST_PIT_FEATURES_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 19 = 0
)
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(COUNT(*) OVER past AS BIGINT) AS n_prior,
       CAST(COALESCE(SUM(cents) OVER past, 0) AS BIGINT)
         AS prior_spend_cents,
       CAST(date_diff('day',
              LAG(order_date) OVER (PARTITION BY o_custkey
                                    ORDER BY order_date, o_orderkey),
              order_date) AS BIGINT) AS days_since_prev,
       CAST(date_diff('day', order_date,
              LEAD(order_date) OVER (PARTITION BY o_custkey
                                     ORDER BY order_date, o_orderkey))
            AS BIGINT) AS label_days_to_next
FROM o
WINDOW past AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
ORDER BY custkey, orderkey
"""


# --- maximum inner product search ----------------------------------------------


def emb_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (MIPS): top-3 catalog vectors by
    UN-normalized dot product for each probe (vec_id % 97 = 0) — the
    recommender scoring mode where magnitude matters (popularity-scaled
    item vectors), distinct from cosine retrieval.  Dots are exact
    int64 over the Q_SCALE-quantized components, so ranking and values
    are bit-portable.

    Scale shape: the probe side is broadcast (bounded by the % 97
    sample contract); the catalog side streams — the same asymmetry
    contract as the kNN family.  For unbounded probe sets the
    norm-augmentation reduction to cosine-ANN (append sqrt(M^2-|x|^2)
    as an extra coordinate) rides the existing IVF/LSH paths."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.quantized(F.col("embedding")).alias("q")
    )
    probes = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.dot_q(F.col("qq"), F.col("q")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.col("dot").cast("bigint").alias("dot"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


_EMB_DIMS = 64


def _mips_oracle() -> str:
    return f"""
WITH qv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_EMB_DIMS})) AS i
        FROM embeddings WHERE vec_id % 97 = 0)
), cv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_EMB_DIMS})) AS i
        FROM embeddings)
), dots AS (
  SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
         CAST(SUM(qv.v * cv.v) AS BIGINT) AS dot
  FROM qv JOIN cv USING (i)
  WHERE qv.vec_id <> cv.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dot, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM dots
) WHERE rank <= 3 ORDER BY query_id, rank
"""


QUERIES = {
    "doc_containment_pairs": doc_containment_pairs,
    "ml_ndcg_at10": ml_ndcg_at10,
    "ev_position_attribution": ev_position_attribution,
    "ts_monthly_seasonal_index": ts_monthly_seasonal_index,
    "cust_pit_training_features": cust_pit_training_features,
    "emb_mips_topk": emb_mips_topk,
}

ORACLES = {
    "doc_containment_pairs": _containment_oracle(),
    "ml_ndcg_at10": _ndcg_oracle(),
    "ev_position_attribution": EV_POSITION_ATTRIBUTION_SQL,
    "ts_monthly_seasonal_index": TS_MONTHLY_SEASONAL_SQL,
    "cust_pit_training_features": CUST_PIT_FEATURES_SQL,
    "emb_mips_topk": _mips_oracle(),
}
