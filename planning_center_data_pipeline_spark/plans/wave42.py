"""Round-9 wave 42: privacy noise, control-band analytics, moving-
average signals, median tests, and lexical dispersion.

- priv_dp_noisy_counts: per-nation customer counts released through a
  Laplace mechanism (epsilon = 0.5, sensitivity 1).  The noise draw is
  DETERMINISTIC-SEEDED (md5 of the nation name -> uniform -> inverse
  CDF) so both engines produce the identical release — the seam where
  a production release would swap in a secure RNG is one expression.
- li_bollinger_outliers: 20-day Bollinger bands on daily order revenue
  with the outlier test fully INTEGER (cross-multiplied variance
  comparison in DECIMAL(38,0)): no float ever decides a flag.
- ts_wma_crossover: triangular-weight moving averages (7d vs 28d) on
  daily revenue; crossover detection via integer cross-multiplication
  of the two weighted sums.
- stat_mood_median: Mood's median test for l_quantity across return
  flags; the grand median comes from the 50-row quantity rollup, the
  2xK chi-square from exact conditional counts.
- doc_yule_k: Yule's characteristic K per source (repeat-rate of the
  word-frequency spectrum), integer numerator sum(c^2) - N.

Reference parity: the reference (400-line scrape DAG) has no stats
surface; these extend the engine families under the wave-29+ oracle
discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- deterministic-seed Laplace release ------------------------------------------

# Inverse-CDF Laplace noise with scale b = sensitivity/epsilon = 2.
# `u` must be a (0,1) uniform; the WHOLE expression is shared verbatim
# with the oracle so every IEEE op matches bit-for-bit.
_DP_NOISE_EXPR = (
    "ROUND(-2.0 * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)))"
)


def priv_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private style release of per-nation customer
    counts: Laplace(b = 1/0.5 = 2) noise via inverse CDF over a
    deterministic uniform seeded from md5(nation || '#dpseed') — the
    md5->uniform->inverse-CDF chain is the real mechanism shape; only
    the seed source would change in production (secure RNG), and both
    engines compute the identical release bit-for-bit.

    Shape: one customer rollup (partial-agg friendly), 25-row noise
    arithmetic after a broadcast nation join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    counts = (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    # 13 hex chars -> 52 bits: exactly representable in a double
    seeded = counts.select(
        F.col("n_name").alias("nation"),
        "true_count",
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.col("n_name"), F.lit("#dpseed"))), 1, 13),
                    16,
                    10,
                ).cast("bigint")
                .cast("double")
                + 0.5
            )
            / F.lit(float(1 << 52))
        ).alias("u"),
    )
    return (
        seeded.select(
            "nation",
            "true_count",
            F.expr(_DP_NOISE_EXPR).cast("bigint").alias("noise"),
        )
        .select(
            "nation",
            "true_count",
            "noise",
            (F.col("true_count") + F.col("noise")).cast("bigint").alias(
                "released"
            ),
        )
        .orderBy("nation")
    )


_DP_SQL = f"""
WITH counts AS (
  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), seeded AS (
  SELECT nation, true_count,
         (CAST(CAST('0x' || substr(md5(nation || '#dpseed'), 1, 13)
                    AS BIGINT) AS DOUBLE) + 0.5) / {float(1 << 52)!r} AS u
  FROM counts
)
SELECT nation, true_count,
       CAST({_DP_NOISE_EXPR} AS BIGINT) AS noise,
       CAST(true_count + CAST({_DP_NOISE_EXPR} AS BIGINT) AS BIGINT)
         AS released
FROM seeded ORDER BY nation
"""


# --- integer-exact Bollinger bands ------------------------------------------------

_BOLL_N = 20  # rolling window, days


def li_bollinger_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Bollinger-band outliers on the daily order-revenue
    series, decided WITHOUT floats: day d is an outlier when
    (n*x_d - S)^2 > 4 * n * (n*Q - S^2) / n = 4*(n*Q - S^2), where S
    and Q are the window's sum and sum-of-squares in cents — the
    cross-multiplied form of |x - mean| > 2*stddev.  All terms live in
    DECIMAL(38,0)/HUGEINT (cents^2 overflows int64 past sf0.4).
    Output: per-year total days, outlier days, and the rate.

    The rolling window runs over the CALENDAR-sized daily series
    (bounded ~2400 rows regardless of fact size); facts reduce in one
    partial-agg groupBy first."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-(_BOLL_N - 1), 0)
    banded = daily.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("q"),
    ).where(F.col("n") == _BOLL_N)
    lhs = (F.col("n") * F.col("cents") - F.col("s"))
    flagged = banded.select(
        "day",
        (
            (lhs * lhs).cast("decimal(38,0)")
            > (
                F.lit(4).cast("decimal(38,0)")
                * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
            ).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("outlier"),
    )
    return (
        flagged.groupBy(F.year("day").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("outlier").cast("bigint").alias("n_outliers"),
        )
        .select(
            "yr",
            "n_days",
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double")
                / F.col("n_days").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("yr")
    )


_BOLL_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS cents
  FROM orders GROUP BY 1
), banded AS (
  SELECT day, cents,
         CAST(COUNT(*) OVER w AS HUGEINT) AS n,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS q
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_BOLL_N - 1} PRECEDING
               AND CURRENT ROW)
), flagged AS (
  SELECT day,
         CASE WHEN (n * cents - s) * (n * cents - s)
                   > 4 * (n * q - s * s)
              THEN 1 ELSE 0 END AS outlier
  FROM banded WHERE n = {_BOLL_N}
)
SELECT CAST(YEAR(day) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(outlier) AS BIGINT) AS n_outliers,
       ROUND(CAST(SUM(outlier) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS outlier_rate
FROM flagged GROUP BY 1 ORDER BY yr
"""


# --- weighted-moving-average crossover --------------------------------------------

_WMA_FAST, _WMA_SLOW = 7, 28


def ts_wma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular-weight moving-average crossover signal on daily
    revenue: WMA_k(d) = sum_{i=0..k-1} (k-i) * x_{d-i} / (k(k+1)/2).
    The fast(7) > slow(28) comparison cross-multiplies the two integer
    weighted sums (fast_sum * W_slow vs slow_sum * W_fast), so signals
    and crossover counts are exact.  Output: per-year days, days fast
    above, crossovers (sign changes day-over-day)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents")
    )

    def wma_sum(k: int):
        # sum of (k - offset) * x over the last k rows, via k lag terms
        w = Window.orderBy("day")
        terms = [
            (F.lit(k - i).cast("decimal(38,0)") * F.lag("cents", i).over(w))
            for i in range(k)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    wf = int(_WMA_FAST * (_WMA_FAST + 1) / 2)
    ws = int(_WMA_SLOW * (_WMA_SLOW + 1) / 2)
    sig = (
        daily.select(
            "day",
            wma_sum(_WMA_FAST).alias("fsum"),
            wma_sum(_WMA_SLOW).alias("ssum"),
        )
        .where(F.col("ssum").isNotNull())
        .select(
            "day",
            (
                F.col("fsum") * F.lit(ws).cast("decimal(38,0)")
                > F.col("ssum") * F.lit(wf).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("fast_above"),
        )
    )
    w2 = Window.orderBy("day")
    sig2 = sig.select(
        "day",
        "fast_above",
        (F.col("fast_above") != F.lag("fast_above").over(w2))
        .cast("bigint")
        .alias("crossed"),
    ).where(F.col("crossed").isNotNull())
    return (
        sig2.groupBy(F.year("day").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("fast_above").cast("bigint").alias("n_fast_above"),
            F.sum("crossed").cast("bigint").alias("n_crossovers"),
        )
        .orderBy("yr")
    )


def _wma_terms_sql(k: int) -> str:
    return " + ".join(
        f"({k - i} * LAG(cents, {i}) OVER (ORDER BY day))" for i in range(k)
    )


_WMA_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS cents
  FROM orders GROUP BY 1
), sums AS (
  SELECT day,
         {_wma_terms_sql(_WMA_FAST)} AS fsum,
         {_wma_terms_sql(_WMA_SLOW)} AS ssum
  FROM daily
), sig AS (
  SELECT day,
         CASE WHEN fsum * {int(_WMA_SLOW * (_WMA_SLOW + 1) / 2)}
                   > ssum * {int(_WMA_FAST * (_WMA_FAST + 1) / 2)}
              THEN 1 ELSE 0 END AS fast_above
  FROM sums WHERE ssum IS NOT NULL
), sig2 AS (
  SELECT day, fast_above,
         CAST(fast_above <> LAG(fast_above) OVER (ORDER BY day) AS INT)
           AS crossed
  FROM sig
)
SELECT CAST(YEAR(day) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(fast_above) AS BIGINT) AS n_fast_above,
       CAST(SUM(crossed) AS BIGINT) AS n_crossovers
FROM sig2 WHERE crossed IS NOT NULL GROUP BY 1 ORDER BY yr
"""


# --- Mood's median test ------------------------------------------------------------


def stat_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test for l_quantity across the return flags: the
    grand median comes from the 50-row per-quantity rollup (lowest q
    with cumulative count >= N/2, i.e. the lower median), each group
    splits into <=median vs >median (exact counts), and the 2xK
    chi-square sums (obs - exp)^2 / exp with exp from the margins.
    One fact shuffle (the (flag, q) rollup); everything after is <=50
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("n_fq"))

    per_q = (
        cells.groupBy("q")
        .agg(F.sum("n_fq").alias("t"))
        .withColumn(
            "cum",
            F.sum("t").over(
                Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    tot = per_q.agg(F.sum("t").alias("n_total"))
    med = (
        per_q.crossJoin(F.broadcast(tot))
        .where(2 * F.col("cum") >= F.col("n_total"))
        .agg(F.min("q").alias("med_q"))
    )
    grp = (
        cells.crossJoin(F.broadcast(med))
        .groupBy("flag")
        .agg(
            F.sum(F.when(F.col("q") <= F.col("med_q"), F.col("n_fq")).otherwise(0))
            .alias("n_le"),
            F.sum(F.when(F.col("q") > F.col("med_q"), F.col("n_fq")).otherwise(0))
            .alias("n_gt"),
            F.first("med_q").alias("med_q"),
        )
    )
    tot2 = grp.agg(
        F.sum("n_le").alias("tle"),
        F.sum("n_gt").alias("tgt"),
        F.first("med_q").alias("med_q"),
    )
    chi = (
        grp.crossJoin(F.broadcast(tot2.select("tle", "tgt")))
        .select(
            "flag",
            "n_le",
            "n_gt",
            "med_q",
            (
                F.pow(
                    F.col("n_le").cast("double")
                    - (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tle")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double"),
                    2,
                )
                / (
                    (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tle")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double")
                )
                + F.pow(
                    F.col("n_gt").cast("double")
                    - (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tgt")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double"),
                    2,
                )
                / (
                    (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tgt")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double")
                )
            ).alias("chi_term"),
        )
    )
    return (
        chi.agg(
            F.first("med_q").cast("bigint").alias("med_q"),
            F.round(F.sum("chi_term"), 6).alias("chi2_stat"),
        )
    )


_MOOD_SQL = """
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) AS n_fq
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q, SUM(n_fq) AS t,
         SUM(SUM(n_fq)) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells GROUP BY q
), med AS (
  SELECT MIN(q) AS med_q FROM per_q
  WHERE 2 * cum >= (SELECT SUM(t) FROM per_q)
), grp AS (
  SELECT flag,
         SUM(CASE WHEN q <= (SELECT med_q FROM med) THEN n_fq ELSE 0 END)
           AS n_le,
         SUM(CASE WHEN q > (SELECT med_q FROM med) THEN n_fq ELSE 0 END)
           AS n_gt
  FROM cells GROUP BY flag
), tot AS (
  SELECT SUM(n_le) AS tle, SUM(n_gt) AS tgt FROM grp
)
SELECT (SELECT CAST(med_q AS BIGINT) FROM med) AS med_q,
       ROUND(SUM(
         POW(CAST(n_le AS DOUBLE)
             - CAST((n_le + n_gt) * tle AS DOUBLE)
               / CAST(tle + tgt AS DOUBLE), 2)
         / (CAST((n_le + n_gt) * tle AS DOUBLE) / CAST(tle + tgt AS DOUBLE))
         + POW(CAST(n_gt AS DOUBLE)
               - CAST((n_le + n_gt) * tgt AS DOUBLE)
                 / CAST(tle + tgt AS DOUBLE), 2)
         / (CAST((n_le + n_gt) * tgt AS DOUBLE) / CAST(tle + tgt AS DOUBLE))
       ), 6) AS chi2_stat
FROM grp, tot
"""


# --- Yule's K ----------------------------------------------------------------------


def doc_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source: K = 10^4 * (sum_w c_w^2 - N)
    / N^2 over the word-frequency vector — the classic repeat-rate
    measure of lexical concentration (robust to corpus size).  The
    numerator is exact integer; one double division at the end.
    Shape: (source, word) rollup -> per-source integer sums."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                10000.0
                * (F.col("sum_c2") - F.col("n_tokens")).cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )


_YULE_SQL = """
WITH words AS (
  SELECT source, w
  FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(10000.0 * CAST(SUM(c * c) - SUM(c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)), 6)
         AS yule_k
FROM wc GROUP BY source ORDER BY source
"""


QUERIES = {
    "priv_dp_noisy_counts": priv_dp_noisy_counts,
    "li_bollinger_outliers": li_bollinger_outliers,
    "ts_wma_crossover": ts_wma_crossover,
    "stat_mood_median": stat_mood_median,
    "doc_yule_k": doc_yule_k,
}

ORACLES = {
    "priv_dp_noisy_counts": _DP_SQL,
    "li_bollinger_outliers": _BOLL_SQL,
    "ts_wma_crossover": _WMA_SQL,
    "stat_mood_median": _MOOD_SQL,
    "doc_yule_k": _YULE_SQL,
}
