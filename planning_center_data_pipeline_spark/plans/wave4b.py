"""Round-4 wave, part 2: cohort economics, robust statistics, funnel
latency, and categorical independence — analytics families the first
wave didn't touch, each with the exact-arithmetic discipline that
makes results hash-identical across engines and invariant to
partitioning.

- ``cust_cohort_ltv`` — the classic cohort revenue matrix (first-order
  month x months-since-first).  Two groupBys over one scan; the
  cohort assignment join shuffles on custkey only.
- ``ev_mad_outliers`` — robust outlier counts via median absolute
  deviation.  Both medians and the 3-sigma-equivalent cut run in
  scaled-integer space (2x / 4x cent units) so NOTHING is float until
  the final presentation division — the comparison `2*dev2 > 3*mad4`
  is pure int64 and cannot flip under re-association.
- ``ev_funnel_ttc`` — median time-to-convert per funnel transition,
  from exact microsecond deltas (timezone-proof epoch_us, exact
  two-middle-ranks median).
- ``stat_chi2_brand_size`` — chi-square statistic for
  brand x size independence.  Per-cell contributions are
  rounded into fixed-point BIGINTs before summation, so the global
  sum is order-free exact; only the last rescale is a double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- cohort LTV matrix -------------------------------------------------------

def cust_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (first-order cohort month, months since first order).

    Cohort assignment is one groupBy(custkey) min; the matrix is one
    groupBy over the orders scan joined to it.  At 100 TB both
    shuffles key on custkey / (cohort, offset) — no windows, no
    skew-prone keys (cohort cardinality = #months).
    """
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).cast(
        "long"
    )
    orders = o.select(
        "o_custkey",
        mi.alias("mi"),
        cents("o_totalprice").alias("pc"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("mi").alias("first_mi"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            F.col("first_mi").alias("cohort_mi"),
            (F.col("mi") - F.col("first_mi")).alias("months_since"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
            (F.sum("pc").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("cohort_mi", "months_since")
    )


CUST_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
         CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc
  FROM orders
), first AS (
  SELECT o_custkey, MIN(mi) AS first_mi FROM o GROUP BY o_custkey
)
SELECT first_mi AS cohort_mi, mi - first_mi AS months_since,
       COUNT(DISTINCT o.o_custkey) AS n_active,
       COUNT(*) AS n_orders,
       CAST(SUM(pc) AS DOUBLE)/100.0 AS revenue
FROM o JOIN first ON o.o_custkey = first.o_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- MAD robust outliers -----------------------------------------------------
# Exact two-middle-ranks median (same construction as
# median_order_price, plans/analytic.py) applied twice, kept in scaled
# integers: med2 = sum of the two middle cent values (2x cents),
# dev2 = |2*value_cents - med2| (2x cents), mad4 = sum of the two
# middle dev2 values (4x cents).  Outlier test dev > 3*MAD becomes
# 2*dev2 > 3*mad4 — all int64.

def ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", cents("value").alias("vc")
    )

    def two_mid_sum(df, part, order_cols, val, out):
        w = Window.partitionBy(part).orderBy(*order_cols)
        ranked = df.select(
            part,
            F.col(val),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy(part)).alias("n"),
        )
        mid = ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        # n odd -> the single middle row counts twice (sum == 2*mid)
        return mid.groupBy(part).agg(
            (
                F.sum(val)
                * (F.lit(3) - F.count(F.lit(1)))
            ).cast("bigint").alias(out)
        )

    med = two_mid_sum(
        e, "event_type", [F.col("vc"), F.col("event_id")], "vc", "med2"
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "vc",
        F.col("med2"),
        F.abs(F.lit(2) * F.col("vc") - F.col("med2")).alias("dev2"),
    )
    mad = two_mid_sum(
        dev, "event_type", [F.col("dev2"), F.col("event_id")], "dev2", "mad4"
    )
    flagged = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max("med2").alias("med2"),
            F.max("mad4").alias("mad4"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )
    return flagged.select(
        "event_type",
        "n_events",
        (F.col("med2").cast("double") / 200.0).alias("median_value"),
        (F.col("mad4").cast("double") / 400.0).alias("mad"),
        "n_outliers",
    ).orderBy("event_type")


EV_MAD_OUTLIERS_SQL = """
WITH e AS (
  SELECT event_type, event_id,
         CAST(ROUND(value*100) AS BIGINT) AS vc
  FROM events
), r1 AS (
  SELECT event_type, vc,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY vc, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
), med AS (
  SELECT event_type,
         CAST(SUM(vc) * (3 - COUNT(*)) AS BIGINT) AS med2
  FROM r1
  WHERE rn = CAST(floor((n+1)/2) AS BIGINT)
     OR rn = CAST(floor((n+2)/2) AS BIGINT)
  GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.event_id, abs(2*e.vc - m.med2) AS dev2, m.med2
  FROM e JOIN med m ON e.event_type = m.event_type
), r2 AS (
  SELECT event_type, dev2,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY dev2, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
), mad AS (
  SELECT event_type,
         CAST(SUM(dev2) * (3 - COUNT(*)) AS BIGINT) AS mad4
  FROM r2
  WHERE rn = CAST(floor((n+1)/2) AS BIGINT)
     OR rn = CAST(floor((n+2)/2) AS BIGINT)
  GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       CAST(MAX(d.med2) AS DOUBLE)/200.0 AS median_value,
       CAST(MAX(m.mad4) AS DOUBLE)/400.0 AS mad,
       CAST(SUM(CASE WHEN 2*d.dev2 > 3*m.mad4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type ORDER BY d.event_type
"""


# --- funnel time-to-convert --------------------------------------------------

def ev_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median conversion latency per funnel transition (first view ->
    first later click -> first later purchase), from exact microsecond
    deltas.  Filtered per-step aggregates shrink to |users| rows
    before each join; those tables are |users|-cardinality, so no
    broadcast hint is forced — AQE broadcasts when the measured size
    fits and falls back to a shuffle join on a billion-user corpus.
    The median is the exact two-middle-ranks construction per
    transition.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("tus")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("tus") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t1"), F.max("t0").alias("t0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t1"), "user_id")
        .filter(F.col("tus") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"), F.max("t1").alias("t1"))
    )
    deltas = (
        c.select(
            F.lit("view_to_click").alias("transition"),
            "user_id",
            (F.col("t1") - F.col("t0")).alias("d_us"),
        )
    ).unionByName(
        p.select(
            F.lit("click_to_purchase").alias("transition"),
            "user_id",
            (F.col("t2") - F.col("t1")).alias("d_us"),
        )
    )
    w = Window.partitionBy("transition").orderBy("d_us", "user_id")
    ranked = deltas.select(
        "transition",
        "d_us",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("transition")).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return (
        mid.groupBy("transition")
        .agg(
            F.max("n").cast("bigint").alias("n_users"),
            (
                (F.sum("d_us") * (F.lit(3) - F.count(F.lit(1)))).cast(
                    "double"
                )
                / 2.0
                / 1e6
            ).alias("median_sec"),
        )
        .orderBy("transition")
    )


EV_FUNNEL_TTC_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
), v AS (
  SELECT user_id, MIN(tus) AS t0 FROM e
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.tus) AS t1, MAX(v.t0) AS t0
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.tus > v.t0
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.tus) AS t2, MAX(c.t1) AS t1
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.tus > c.t1
  GROUP BY e.user_id
), deltas AS (
  SELECT 'view_to_click' AS transition, user_id, t1 - t0 AS d_us FROM c
  UNION ALL
  SELECT 'click_to_purchase', user_id, t2 - t1 FROM p
), ranked AS (
  SELECT transition, d_us,
         ROW_NUMBER() OVER (PARTITION BY transition
                            ORDER BY d_us, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY transition) AS n
  FROM deltas
)
SELECT transition,
       CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(SUM(d_us) * (3 - COUNT(*)) AS DOUBLE)/2.0/1e6 AS median_sec
FROM ranked
WHERE rn = CAST(floor((n+1)/2) AS BIGINT)
   OR rn = CAST(floor((n+2)/2) AS BIGINT)
GROUP BY transition ORDER BY transition
"""


# --- chi-square independence -------------------------------------------------

def stat_chi2_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for p_brand x p_size independence.

    chi2 = n * (sum over cells of obs^2/(row_tot*col_tot)) - n.  The
    per-cell ratio is rounded into 1e-12 fixed point BIGINTs before
    the global sum, so the reduction is exact-integer and order-free;
    marginals ride 1-row/broadcast joins.  A float chi2 summed in
    shuffle order would differ in the last bits run to run.
    """
    p = load_table(spark, sf_dir, "part")
    obs = p.groupBy("p_brand", "p_size").agg(
        F.count("*").alias("o")
    )
    row_t = obs.groupBy("p_brand").agg(F.sum("o").cast("bigint").alias("rt"))
    col_t = obs.groupBy("p_size").agg(
        F.sum("o").cast("bigint").alias("ct")
    )
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        obs.join(F.broadcast(row_t), "p_brand")
        .join(F.broadcast(col_t), "p_size")
        .select(
            F.round(
                F.col("o").cast("double")
                * F.col("o").cast("double")
                / (F.col("rt") * F.col("ct"))
                * F.lit(1e12)
            ).cast("bigint").alias("contrib_fp")
        )
        .agg(F.sum("contrib_fp").cast("bigint").alias("s_fp"))
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "n",
            (
                F.col("n").cast("double")
                * (F.col("s_fp").cast("double") / 1e12)
                - F.col("n").cast("double")
            ).alias("chi2"),
        )
    )


STAT_CHI2_SQL = """
WITH obs AS (
  SELECT p_brand, p_size, COUNT(*) AS o
  FROM part GROUP BY p_brand, p_size
), row_t AS (
  SELECT p_brand, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY p_brand
), col_t AS (
  SELECT p_size, CAST(SUM(o) AS BIGINT) AS ct
  FROM obs GROUP BY p_size
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
), cells AS (
  SELECT CAST(SUM(CAST(ROUND(
           CAST(o AS DOUBLE)*CAST(o AS DOUBLE)/(rt*ct)*1e12
         ) AS BIGINT)) AS BIGINT) AS s_fp
  FROM obs
  JOIN row_t USING (p_brand)
  JOIN col_t USING (p_size)
)
SELECT n,
       CAST(n AS DOUBLE) * (CAST(s_fp AS DOUBLE)/1e12) - CAST(n AS DOUBLE)
         AS chi2
FROM cells CROSS JOIN tot
"""


# --- end-to-end corpus curation ---------------------------------------------

def corpus_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE Catalyst plan: exact dedup
    (min-doc_id survivor per content fingerprint) → quality gate →
    per-source top-N by quality (WindowGroupLimit) → fixed-budget
    shard assignment via a per-source running token sum → shard
    manifest.

    Composition is the point: every stage is an operator the engine
    already exposes (fingerprint/quality/token_count expressions,
    rank-filter top-k, running-sum packing), and chaining them stays
    one job with four shuffles — dedup on the fingerprint, then
    everything else on `source`.  At 100 TB each shuffle keys on
    either high-cardinality hashes or the source dimension; no stage
    funnels the corpus through one task.
    """
    from planning_center_data_pipeline_spark.operators import (
        textstats as X,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        "text",
        X.fingerprint(F.col("text")).alias("fp"),
    )
    w_dup = Window.partitionBy("fp").orderBy("doc_id")
    survivors = (
        fp.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    scored = survivors.select(
        "doc_id",
        "source",
        X.quality_score(F.col("text")).alias("quality"),
        X.token_count(F.col("text")).cast("bigint").alias("n_tok"),
    ).filter(F.col("quality") >= 0.5)
    w_src = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    kept = (
        scored.withColumn("rk", F.row_number().over(w_src))
        .filter(F.col("rk") <= 200)
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = kept.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w_run), F.lit(0)) / F.lit(2048)
        ).cast("bigint"),
    )
    return (
        packed.groupBy("source", "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("shard_tokens"),
        )
        .orderBy("source", "shard_id")
    )


CORPUS_CURATE_E2E_SQL = r"""
WITH fp AS (
  SELECT doc_id, source, text,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         ROW_NUMBER() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           ORDER BY doc_id
         ) AS rn
  FROM documents
), surv AS (
  SELECT doc_id, source, text FROM fp WHERE rn = 1
), q AS (
  SELECT doc_id, source,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
           AS n_tok_d,
         CAST(len(regexp_extract_all(text, '([.,;:!?])', 1)) AS DOUBLE)
           AS n_punct,
         CAST(len(regexp_extract_all(text, '([0-9])', 1)) AS DOUBLE)
           AS n_digit,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok
  FROM surv
), scored AS (
  SELECT doc_id, source, n_tok,
         0.5 * LEAST(n_tok_d/64.0, 1.0)
         + 0.3 * (CASE WHEN n_chars/GREATEST(n_tok_d,1.0) >= 3.0
                        AND n_chars/GREATEST(n_tok_d,1.0) <= 10.0
                       THEN 1.0 ELSE 0.5 END)
         - 0.1 * (n_punct/GREATEST(n_chars,1.0))
         - 0.1 * (n_digit/GREATEST(n_chars,1.0)) AS quality
  FROM q
), kept AS (
  SELECT * FROM (
    SELECT doc_id, source, n_tok, quality,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY quality DESC, doc_id ASC) AS rk
    FROM scored WHERE quality >= 0.5
  ) WHERE rk <= 200
), packed AS (
  SELECT source, n_tok,
         CAST(floor(COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / 2048.0) AS BIGINT) AS shard_id
  FROM kept
)
SELECT source, shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM packed GROUP BY source, shard_id ORDER BY source, shard_id
"""


QUERIES = {
    "cust_cohort_ltv": cust_cohort_ltv,
    "ev_mad_outliers": ev_mad_outliers,
    "ev_funnel_ttc": ev_funnel_ttc,
    "stat_chi2_brand_size": stat_chi2_brand_size,
    "corpus_curate_e2e": corpus_curate_e2e,
}

ORACLES = {
    "cust_cohort_ltv": CUST_COHORT_LTV_SQL,
    "ev_mad_outliers": EV_MAD_OUTLIERS_SQL,
    "ev_funnel_ttc": EV_FUNNEL_TTC_SQL,
    "stat_chi2_brand_size": STAT_CHI2_SQL,
    "corpus_curate_e2e": CORPUS_CURATE_E2E_SQL,
}
