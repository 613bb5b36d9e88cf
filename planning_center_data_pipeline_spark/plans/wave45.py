"""Round-9 wave 45: corpus divergence, portmanteau autocorrelation
tests, probabilistic-forecast decomposition, and retention half-life.

- doc_kl_divergence_sources: pairwise KL divergence between source
  unigram distributions (add-one smoothing over the global vocab),
  via the closed form KL(A,B) = (S_A - X_AB - T_B) / D_A +
  ln(D_B / D_A) with S_A = sum (a+1)ln(a+1), T_B = sum ln(b+1),
  X_AB = sum over co-occurring words of a*ln(b+1), D_A = N_A + V —
  per-source scalars plus ONE word-level equi-join; no pair x vocab
  blow-up.
- ts_ljung_box: Ljung-Box Q over the first 10 autocorrelations of
  daily revenue; residuals integer-cleared (y_t = n*x_t - S), lag
  products in DECIMAL(38,0)/HUGEINT, Q from one shared expression.
- ml_brier_decomposition: Murphy decomposition (reliability -
  resolution + uncertainty) of the binned balance-score forecast from
  ml_calibration_bins' setup; exact integer bin sums, one shared
  double expression per component.
- ev_cohort_half_life: per weekly signup cohort, the first week
  offset where retained users drop below half the cohort — exact
  integer counts all the way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- pairwise KL divergence --------------------------------------------------------


def doc_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(A || B) over add-one-smoothed source unigram models, exact
    decomposition (see module docstring): only co-occurring words need
    the cross term, so the heavy step is one equi-join of the sparse
    (source, word, count) table with itself on word, aggregated to a
    sources^2-row matrix.  Per-source scalars S, T, N and the global
    vocab V are exact-input double sums; ROUND 6 absorbs association
    order."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    wc = (
        words.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    vocab = wc.select("w").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    scal = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.sum(
            (F.col("c") + 1).cast("double")
            * F.log((F.col("c") + 1).cast("double"))
        ).alias("s_term"),
        F.sum(F.log((F.col("c") + 1).cast("double"))).alias("t_term"),
    )
    # cross term over co-occurring words
    a = wc.select(
        F.col("source").alias("src_a"), "w", F.col("c").alias("ca")
    )
    b = wc.select(
        F.col("source").alias("src_b"), "w", F.col("c").alias("cb")
    )
    x = (
        a.join(b, "w")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.col("ca").cast("double")
                * F.log((F.col("cb") + 1).cast("double"))
            ).alias("x_term")
        )
    )
    sa = scal.select(
        F.col("source").alias("src_a"),
        F.col("n_tok").alias("na"),
        F.col("s_term").alias("sa"),
    )
    sb = scal.select(
        F.col("source").alias("src_b"),
        F.col("n_tok").alias("nb"),
        F.col("t_term").alias("tb"),
    )
    pairs = (
        sa.crossJoin(sb)
        .where(F.col("src_a") != F.col("src_b"))
        .join(x, ["src_a", "src_b"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    return (
        pairs.select(
            "src_a",
            "src_b",
            F.round(
                (
                    F.col("sa")
                    - F.coalesce(F.col("x_term"), F.lit(0.0))
                    - F.col("tb")
                )
                / (F.col("na") + F.col("v")).cast("double")
                + F.log(
                    (F.col("nb") + F.col("v")).cast("double")
                    / (F.col("na") + F.col("v")).cast("double")
                ),
                6,
            ).alias("kl"),
        )
        .orderBy("src_a", "src_b")
    )


_KL_SQL = """
WITH words AS (
  SELECT source, w FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
), vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM wc
), scal AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
         SUM(CAST(c + 1 AS DOUBLE) * LN(CAST(c + 1 AS DOUBLE))) AS s_term,
         SUM(LN(CAST(c + 1 AS DOUBLE))) AS t_term
  FROM wc GROUP BY source
), x AS (
  SELECT a.source AS src_a, b.source AS src_b,
         SUM(CAST(a.c AS DOUBLE) * LN(CAST(b.c + 1 AS DOUBLE))) AS x_term
  FROM wc a JOIN wc b ON a.w = b.w AND a.source <> b.source
  GROUP BY a.source, b.source
)
SELECT sa.source AS src_a, sb.source AS src_b,
       ROUND((sa.s_term - COALESCE(x.x_term, 0.0) - sb.t_term)
               / CAST(sa.n_tok + v.v AS DOUBLE)
             + LN(CAST(sb.n_tok + v.v AS DOUBLE)
                  / CAST(sa.n_tok + v.v AS DOUBLE)), 6) AS kl
FROM scal sa
JOIN scal sb ON sa.source <> sb.source
LEFT JOIN x ON x.src_a = sa.source AND x.src_b = sb.source
CROSS JOIN vocab v
ORDER BY src_a, src_b
"""


# --- Ljung-Box ---------------------------------------------------------------------

_LB_LAGS = 10


def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily order-revenue series:
    Q = n(n+2) sum_{k=1..10} r_k^2 / (n-k).  Autocorrelations are
    integer-cleared — with y_t = n*x_t - S (exact DECIMAL), r_k =
    sum_t y_t*y_{t-k} / sum_t y_t^2 — so both engines divide identical
    128-bit quantities.  The lag products run over the CALENDAR-sized
    day spine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    y = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).alias("y"),
    )
    w = Window.orderBy("day")
    lagged = y.select(
        "day",
        "n",
        "y",
        *[
            F.lag("y", k).over(w).alias(f"y{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    sums = lagged.agg(
        F.first("n").alias("n"),
        F.sum(F.col("y") * F.col("y")).alias("d"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    q = None
    for k in range(1, _LB_LAGS + 1):
        rk = F.col(f"num{k}").cast("double") / F.col("d").cast("double")
        term = rk * rk / (F.col("n").cast("double") - k)
        q = term if q is None else q + term
    return sums.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.col("n").cast("double")
            * (F.col("n").cast("double") + 2.0)
            * q,
            6,
        ).alias("q_stat"),
    )


def _lb_sql() -> str:
    lag_cols = ",\n         ".join(
        f"LAG(y, {k}) OVER (ORDER BY day) AS y{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    nums = ",\n         ".join(
        f"SUM(y * y{k}) AS num{k}" for k in range(1, _LB_LAGS + 1)
    )
    qterms = " + ".join(
        f"(CAST(num{k} AS DOUBLE) / CAST(d AS DOUBLE))"
        f" * (CAST(num{k} AS DOUBLE) / CAST(d AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - {k})"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM daily
), y AS (
  SELECT day, tot.n, tot.n * x - tot.s AS y FROM daily, tot
), lagged AS (
  SELECT day, n, y,
         {lag_cols}
  FROM y
), sums AS (
  SELECT MIN(n) AS n, SUM(y * y) AS d,
         {nums}
  FROM lagged
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * ({qterms}), 6) AS q_stat
FROM sums
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


# --- cohort half-life ---------------------------------------------------------------


def ev_cohort_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life per DAILY signup cohort: cohort day = each
    user's first event date; a user is retained at offset k if they
    have any event k days after their cohort day; half-life = smallest
    k >= 1 with retained(k) < cohort_size/2 (integer cross-multiplied
    compare: 2*retained < size), NULL when retention never halves
    inside the observed horizon.  Exact counts all the way; shape: two
    user-level rollups + a per-(cohort, offset) rollup — offsets are
    bounded by the calendar span."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cd")
    )
    active = (
        e.select("user_id", F.to_date(F.col("ts")).alias("d"))
        .distinct()
        .join(firsts, "user_id")
        .select(
            "cd",
            F.datediff(F.col("d"), F.col("cd")).cast("bigint").alias("k"),
            "user_id",
        )
    )
    sizes = firsts.groupBy("cd").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    ret = active.groupBy("cd", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("retained")
    )
    half = (
        ret.join(sizes, "cd")
        .where((F.col("k") >= 1) & (2 * F.col("retained") < F.col("size")))
        .groupBy("cd")
        .agg(F.min("k").alias("half_life_days"))
    )
    return (
        sizes.join(half, "cd", "left")
        .select(
            F.col("cd").cast("string").alias("cohort_day"),
            "size",
            F.col("half_life_days").cast("bigint").alias("half_life_days"),
        )
        .orderBy("cohort_day")
    )


_HALFLIFE_SQL = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cd
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT f.cd,
         CAST(datediff('day', f.cd, CAST(e.ts AS DATE)) AS BIGINT) AS k,
         e.user_id
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), sizes AS (
  SELECT cd, CAST(COUNT(*) AS BIGINT) AS size FROM firsts GROUP BY cd
), ret AS (
  SELECT cd, k, CAST(COUNT(*) AS BIGINT) AS retained
  FROM active GROUP BY cd, k
), half AS (
  SELECT ret.cd, MIN(k) AS half_life_days
  FROM ret JOIN sizes ON ret.cd = sizes.cd
  WHERE k >= 1 AND 2 * retained < size
  GROUP BY ret.cd
)
SELECT CAST(sizes.cd AS VARCHAR) AS cohort_day, size,
       CAST(half_life_days AS BIGINT) AS half_life_days
FROM sizes LEFT JOIN half ON sizes.cd = half.cd
ORDER BY cohort_day
"""


QUERIES = {
    "doc_kl_divergence_sources": doc_kl_divergence_sources,
    "ts_ljung_box": ts_ljung_box,
    "ml_brier_decomposition": ml_brier_decomposition,
    "ev_cohort_half_life": ev_cohort_half_life,
}

ORACLES = {
    "doc_kl_divergence_sources": _KL_SQL,
    "ts_ljung_box": _lb_sql(),
    "ml_brier_decomposition": _BRIER_SQL,
    "ev_cohort_half_life": _HALFLIFE_SQL,
}
