"""Round-4 wave, part 3: forecasting error, experimentation, corpus
novelty, and exact upper-percentile cuts.

- ``ts_seasonal_naive_mape`` — per-year MAPE of a lag-12 seasonal
  naive forecast over monthly revenue.  Absolute percentage errors
  are rounded into 1e-9 fixed point BIGINTs before averaging, so the
  reduction is order-free exact (same discipline as the chi-square
  query) — a float MAPE summed in shuffle order differs run to run.
- ``stat_ab_conversion`` — two-proportion z-test between hash-split
  arms.  The arm assignment uses an md5 nibble (engine-portable,
  deterministic); conversion is a per-user exact count predicate;
  rate and z derive from the integers in one fixed expression order,
  with try_divide guarding a degenerate pool.
- ``doc_ngram_novelty`` — per-document novelty: share of the doc's
  3-gram shingles whose global first occurrence (min doc_id) is this
  doc — the curation signal for "does this doc add anything".  One
  window over the shingle table + one groupBy; both shuffles key on
  high-cardinality columns.
- ``ev_power_users_p90`` — exact p90 activity cut: the threshold is
  the value at rank ceil(0.9*n) of the per-user counts, broadcast
  back to count power users and their event share.  The global rank
  runs over the AGGREGATED user table; at billions of users swap in
  the two-phase prefix-sum pattern (doc_shard_manifest).

Later additions: ``sql_param_binding`` (named-parameter spark.sql),
``win_value_positions`` (first/nth/last_value over a full frame),
``agg_bitwise_masks`` (bit_or/and/xor folds), ``fn_map_hof``
(transform_keys/values on maps), ``ev_entropy_by_type`` (Shannon
entropy, fixed-point ln terms), ``doc_zipf_slope`` (log-log
least-squares with decimal-exact moments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.plans.extensions import _SHINGLE_CTE
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- seasonal-naive forecast error ------------------------------------------

def ts_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAPE of forecast(month m) = actual(m - 12), grouped by year.

    The lag is an equi self-join on the month index (mi = mi - 12) —
    robust to missing months, unlike a LAG window over present rows.
    Per-month APE is fixed-pointed to 1e-9 before the average so the
    per-year reduction is an exact integer sum.
    """
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).cast(
        "long"
    )
    monthly = o.groupBy(mi.alias("mi")).agg(
        F.sum(cents("o_totalprice")).alias("rc")
    )
    fc = monthly.select(
        (F.col("mi") + 12).alias("mi"), F.col("rc").alias("fc")
    )
    joined = monthly.join(fc, "mi").select(
        F.floor((F.col("mi") - 1) / 12).cast("long").alias("yr"),
        F.round(
            F.abs(F.col("rc") - F.col("fc")).cast("double")
            / F.col("rc").cast("double")
            * F.lit(1e9)
        ).cast("bigint").alias("ape_fp"),
    )
    return (
        joined.groupBy("yr")
        .agg(
            F.count("*").alias("n_months"),
            (
                F.sum("ape_fp").cast("double")
                / F.count("*")
                / F.lit(1e9)
            ).alias("mape"),
        )
        .orderBy("yr")
    )


TS_SEASONAL_NAIVE_MAPE_SQL = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rc
  FROM orders GROUP BY 1
), joined AS (
  SELECT CAST(floor((a.mi - 1)/12) AS BIGINT) AS yr,
         CAST(ROUND(CAST(abs(a.rc - f.rc) AS DOUBLE)
                    / CAST(a.rc AS DOUBLE) * 1e9) AS BIGINT) AS ape_fp
  FROM monthly a JOIN monthly f ON a.mi = f.mi + 12
)
SELECT yr, COUNT(*) AS n_months,
       CAST(SUM(ape_fp) AS DOUBLE)/COUNT(*)/1e9 AS mape
FROM joined GROUP BY yr ORDER BY yr
"""


# --- A/B conversion z-test ---------------------------------------------------

def stat_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split users into arms A/B, compare purchase conversion.

    Arm = first md5 nibble of the user id string (portable across
    engines, stable across runs — what a real experiment assignment
    needs).  "Converted" = at least 14 purchase events (splits this
    population; every user has SOME purchase, so >=1 would be
    degenerate).  n/conv are exact counts; the pooled two-proportion
    z statistic is assembled from them in one fixed expression order,
    so the doubles are bit-identical; try_divide guards the
    degenerate all-or-nothing pool.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("n_purch")
        )
        .select(
            F.when(
                F.substring(
                    F.md5(F.col("user_id").cast("string")), 1, 1
                ).isin(*"01234567"),
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
            (F.col("n_purch") >= 14).cast("bigint").alias("converted"),
        )
    )
    j = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    a = j.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    b = j.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    out = a.crossJoin(F.broadcast(b))
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return out.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        z.alias("z_score"),
    )


STAT_AB_CONVERSION_SQL = """
WITH per_user AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
), j AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM per_user GROUP BY arm
), a AS (SELECT n_users AS n_a, n_conv AS conv_a FROM j WHERE arm = 'A'),
b AS (SELECT n_users AS n_b, n_conv AS conv_b FROM j WHERE arm = 'B')
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE)/n_a AS rate_a,
       CAST(conv_b AS DOUBLE)/n_b AS rate_b,
       (CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
       / NULLIF(sqrt( (CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0/n_a + 1.0/n_b) ), 0.0) AS z_score
FROM a CROSS JOIN b
"""


# --- n-gram novelty ----------------------------------------------------------

def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each doc's 3-gram shingles first introduced by that
    doc (global min doc_id over the shingle's occurrences).  High
    novelty = new content; near-zero = paraphrase of earlier docs.
    """
    from planning_center_data_pipeline_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(d, "doc_id", "text", k=3)
    w = Window.partitionBy("shingle")
    marked = sh.withColumn("first_doc", F.min("doc_id").over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_sh").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


DOC_NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLE_CTE},
marked AS (
  SELECT doc_id, shingle,
         MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
  FROM sh
)
SELECT doc_id, COUNT(*) AS n_sh,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


# --- exact p90 activity cut --------------------------------------------------

def ev_power_users_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users above the exact 90th-percentile event count, and their
    share of all events.  The threshold is the count at rank
    ceil(0.9*n) over per-user totals (deterministic tie-break by
    user_id); it joins back as a 1-row broadcast.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("cnt"))
    # The rank-ceil(0.9n) threshold VALUE depends only on how many
    # users sit at each count (the user_id tiebreak orders equal
    # counts among themselves), so it is computed on the per-VALUE
    # rollup with the value-bucketed two-phase prefix sum (same shape
    # as stat_mann_whitney) instead of a user-cardinality global
    # row_number: 31 percentile cuts from a 1-row broadcast, local
    # running counts per bucket, one <=32-row offset window.
    g = per_user.groupBy("cnt").agg(F.count(F.lit(1)).alias("nv"))
    qs = [i / 32.0 for i in range(1, 32)]
    vcuts = g.agg(
        F.percentile("cnt", F.array(*[F.lit(x) for x in qs])).alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("cnt").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(31)
    )
    gb = g.crossJoin(F.broadcast(vcuts)).select("cnt", "nv", n_below.alias("bk"))
    w_local = (
        Window.partitionBy("bk")
        .orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = gb.withColumn("local_cum", F.sum("nv").over(w_local))
    totals = local.groupBy("bk").agg(F.sum("nv").alias("p_total"))
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("bk", "offset")
    nrow = per_user.agg(F.count(F.lit(1)).alias("n"))  # 1 row
    thr = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(nrow))
        .withColumn("start", F.col("local_cum") + F.col("offset") - F.col("nv"))
        .withColumn("target", F.ceil(F.lit(0.9) * F.col("n")))
        .filter(
            (F.col("start") < F.col("target"))
            & (F.col("target") <= F.col("start") + F.col("nv"))
        )
        .select(F.col("cnt").alias("thr"))
    )
    return (
        per_user.crossJoin(F.broadcast(thr))
        .agg(
            F.max("thr").alias("p90_cnt"),
            F.sum((F.col("cnt") > F.col("thr")).cast("bigint")).alias(
                "n_power_users"
            ),
            (
                F.sum(
                    F.when(F.col("cnt") > F.col("thr"), F.col("cnt")).otherwise(
                        0
                    )
                ).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("event_share"),
        )
    )


EV_POWER_USERS_P90_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
), ranked AS (
  SELECT cnt,
         ROW_NUMBER() OVER (ORDER BY cnt ASC, user_id ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM per_user
), thr AS (
  SELECT cnt AS thr FROM ranked
  WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)
)
SELECT MAX(thr) AS p90_cnt,
       CAST(SUM(CASE WHEN cnt > thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_power_users,
       CAST(SUM(CASE WHEN cnt > thr THEN cnt ELSE 0 END) AS DOUBLE)
         / CAST(SUM(cnt) AS DOUBLE) AS event_share
FROM per_user CROSS JOIN thr
"""


# --- parameterized SQL -------------------------------------------------------

def sql_param_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})): the
    injection-safe way to template queries — parameters are bound as
    literals by the parser, not string-spliced, and Catalyst still
    constant-folds and pushes them into the scan.
    """
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_price
        FROM {orders}
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"status": "F", "min_price": 150000.0},
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_PARAM_BINDING_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- nth_value / frame-edge window functions --------------------------------

def win_value_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/second/last event value per user over a full-frame
    window (nth_value needs the whole partition visible — the frame
    must be UNBOUNDED on both sides, a classic silent-wrong-answer
    trap with the default frame).  One row per user via a rank cut.
    """
    e = load_table(spark, sf_dir, "events")
    order = [F.desc("value"), F.asc("event_id")]
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wr = Window.partitionBy("user_id").orderBy(*order)
    return (
        e.select(
            "user_id",
            F.first_value("value").over(wf).alias("top1"),
            F.nth_value("value", 2).over(wf).alias("top2"),
            F.last_value("value").over(wf).alias("bottom"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )


WIN_VALUE_POSITIONS_SQL = """
SELECT user_id, top1, top2, bottom FROM (
  SELECT user_id,
         FIRST_VALUE(value) OVER w AS top1,
         NTH_VALUE(value, 2) OVER w AS top2,
         LAST_VALUE(value) OVER w AS bottom,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) WHERE rn = 1 ORDER BY user_id
"""


# --- bitwise aggregates ------------------------------------------------------

def agg_bitwise_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_or/bit_and/bit_xor aggregates over a derived 8-bit mask —
    the flag-merging primitive (feature masks, permission bits,
    bitmap partials).  All three are associative-commutative integer
    folds: partial aggregation applies and results are
    partitioning-independent by construction.
    """
    e = load_table(spark, sf_dir, "events")
    mask = (F.col("event_id") % 256).cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.bit_or(mask).alias("or_mask"),
            F.bit_and(mask).alias("and_mask"),
            F.bit_xor(mask).alias("xor_mask"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


AGG_BITWISE_MASKS_SQL = """
SELECT event_type,
       bit_or(event_id % 256) AS or_mask,
       bit_and(event_id % 256) AS and_mask,
       bit_xor(event_id % 256) AS xor_mask,
       COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- map higher-order functions ---------------------------------------------

def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a per-user map<event_type, count> with map_from_entries,
    re-key and re-value it with transform_keys / transform_values
    (JVM-side lambda HOFs — no Python in the loop), then explode back
    to rows so the result stays hash-checkable (map cells don't
    survive the harness's canonicalizer).
    """
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("event_type", "cnt"))
            )
        ).alias("m")
    )
    transformed = m.select(
        "user_id",
        F.transform_values(
            F.transform_keys(F.col("m"), lambda k, v: F.upper(k)),
            lambda k, v: v * 2,
        ).alias("m2"),
    )
    return (
        transformed.select(
            "user_id", F.explode(F.col("m2")).alias("etype", "double_cnt")
        )
        .orderBy("user_id", "etype")
    )


FN_MAP_HOF_SQL = """
SELECT user_id, upper(event_type) AS etype,
       COUNT(*) * 2 AS double_cnt
FROM events GROUP BY user_id, event_type
ORDER BY user_id, etype
"""


# --- Shannon entropy of audience distribution -------------------------------

def ev_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Shannon entropy of the user distribution —
    the diversity signal behind "is this traffic a few bots or a real
    audience" (and, on corpora, "is this source repetitive").

    H = ln(N) - (1/N) * sum(c_u * ln(c_u)).  Each per-user term is
    fixed-pointed to 1e-9 BEFORE the global sum (ln() may differ in
    the last bits across engines — same discipline as the TF-IDF
    ranking, plans/corpus.py:202), so the reduction is exact-integer
    and order-free; the result is rounded to 9 decimals.  Normalized
    entropy divides by ln(n_users) with a try_divide guard for the
    single-user group.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    terms = per_user.select(
        "event_type",
        "c",
        F.round(
            F.col("c").cast("double") * F.log(F.col("c").cast("double"))
            * F.lit(1e9)
        ).cast("bigint").alias("clnc_fp"),
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count("*").alias("n_users"),
        F.sum("clnc_fp").cast("bigint").alias("s_fp"),
    )
    h = F.round(
        F.log(F.col("n_events").cast("double"))
        - (F.col("s_fp").cast("double") / 1e9)
        / F.col("n_events").cast("double"),
        9,
    )
    h_norm = F.round(
        F.try_divide(
            F.log(F.col("n_events").cast("double"))
            - (F.col("s_fp").cast("double") / 1e9)
            / F.col("n_events").cast("double"),
            F.log(F.col("n_users").cast("double")),
        ),
        9,
    )
    return agg.select(
        "event_type", "n_events", "n_users",
        h.alias("entropy"),
        h_norm.alias("entropy_norm"),
    ).orderBy("event_type")


EV_ENTROPY_BY_TYPE_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS c
  FROM events GROUP BY event_type, user_id
), terms AS (
  SELECT event_type, c,
         CAST(ROUND(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e9)
              AS BIGINT) AS clnc_fp
  FROM per_user
), agg AS (
  SELECT event_type,
         CAST(SUM(c) AS BIGINT) AS n_events,
         COUNT(*) AS n_users,
         CAST(SUM(clnc_fp) AS BIGINT) AS s_fp
  FROM terms GROUP BY event_type
)
SELECT event_type, n_events, n_users,
       ROUND(ln(CAST(n_events AS DOUBLE))
             - (CAST(s_fp AS DOUBLE)/1e9)/CAST(n_events AS DOUBLE), 9)
         AS entropy,
       ROUND((ln(CAST(n_events AS DOUBLE))
              - (CAST(s_fp AS DOUBLE)/1e9)/CAST(n_events AS DOUBLE))
             / NULLIF(ln(CAST(n_users AS DOUBLE)), 0.0), 9)
         AS entropy_norm
FROM agg ORDER BY event_type
"""


# --- Zipf-law fit ------------------------------------------------------------

def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) vs ln(rank) over the top-100
    corpus tokens — the Zipf diagnostic (natural language ~ -1;
    template/boilerplate corpora drift toward 0).

    ln() values are fixed-pointed to 1e-9 then lifted to
    decimal(38,0) so the x*y / x^2 cross-moments (which overflow
    int64) accumulate exactly; the slope/intercept assemble from the
    exact moments in one fixed double expression, rounded to 9.
    """
    from planning_center_data_pipeline_spark.operators import (
        textstats as X,
    )

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(
                X.tokens(X.normalize_text(F.col("text")))
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
    )
    w = Window.orderBy(F.desc("n"), "tok")
    fp = lambda c: F.round(F.log(c.cast("double")) * F.lit(1e9)).cast(
        "decimal(14,0)"
    )
    terms = freq.select(
        fp(F.row_number().over(w)).alias("x"),
        fp(F.col("n")).alias("y"),
    )
    m = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # Exact decimal sums -> ONE conversion to double each, then a
    # fixed-order double expression (decimal k*sxy products would
    # exceed DuckDB's 38-digit width cap).
    k_d = F.col("k").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d, sxx_d = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (k_d * sxy_d - sx_d * sy_d) / (k_d * sxx_d - sx_d * sx_d)
    xbar = sx_d / 1e9 / k_d
    ybar = sy_d / 1e9 / k_d
    return m.select(
        F.col("k").cast("bigint").alias("n_tokens"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round(ybar - slope * xbar, 9).alias("intercept"),
    )


DOC_ZIPF_SLOPE_SQL = r"""
WITH freq AS (
  SELECT tok, COUNT(*) AS n
  FROM (
    SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
  GROUP BY tok ORDER BY n DESC, tok LIMIT 100
), terms AS (
  SELECT CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok)
                            AS DOUBLE)) * 1e9) AS DECIMAL(14,0)) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1e9) AS DECIMAL(14,0)) AS y
  FROM freq
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k_d,
         CAST(SUM(x) AS DOUBLE) AS sx_d, CAST(SUM(y) AS DOUBLE) AS sy_d,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy_d,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx_d
  FROM terms
)
SELECT CAST(k_d AS BIGINT) AS n_tokens,
       ROUND((k_d*sxy_d - sx_d*sy_d) / (k_d*sxx_d - sx_d*sx_d), 9)
         AS zipf_slope,
       ROUND(sy_d/1e9/k_d
             - ((k_d*sxy_d - sx_d*sy_d) / (k_d*sxx_d - sx_d*sx_d))
               * sx_d/1e9/k_d, 9) AS intercept
FROM m
"""


QUERIES = {
    "ts_seasonal_naive_mape": ts_seasonal_naive_mape,
    "stat_ab_conversion": stat_ab_conversion,
    "doc_ngram_novelty": doc_ngram_novelty,
    "ev_power_users_p90": ev_power_users_p90,
    "sql_param_binding": sql_param_binding,
    "win_value_positions": win_value_positions,
    "agg_bitwise_masks": agg_bitwise_masks,
    "fn_map_hof": fn_map_hof,
    "ev_entropy_by_type": ev_entropy_by_type,
    "doc_zipf_slope": doc_zipf_slope,
}

ORACLES = {
    "ts_seasonal_naive_mape": TS_SEASONAL_NAIVE_MAPE_SQL,
    "stat_ab_conversion": STAT_AB_CONVERSION_SQL,
    "doc_ngram_novelty": DOC_NGRAM_NOVELTY_SQL,
    "ev_power_users_p90": EV_POWER_USERS_P90_SQL,
    "sql_param_binding": SQL_PARAM_BINDING_SQL,
    "win_value_positions": WIN_VALUE_POSITIONS_SQL,
    "agg_bitwise_masks": AGG_BITWISE_MASKS_SQL,
    "fn_map_hof": FN_MAP_HOF_SQL,
    "ev_entropy_by_type": EV_ENTROPY_BY_TYPE_SQL,
    "doc_zipf_slope": DOC_ZIPF_SLOPE_SQL,
}
