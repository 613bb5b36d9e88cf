"""Round-6 wave 19: time-series autocorrelation, price-volume-mix
decomposition, and the dedup storage-savings report.

- ts_autocorrelation: ACF of the daily revenue series at lags 1/7/14
  — the seasonality diagnostic read before fitting any forecast; all
  cross-products exact (decimal(38,0) over cent values), assembled in
  one fixed IEEE tree.
- li_price_volume_mix: the FP&A classic — year-over-year revenue
  change split into VOLUME (quantity at old price) and PRICE (new
  quantity at price delta) effects per brand, Laspeyres convention.
- doc_dedup_savings: what exact dedup would actually save — per
  source, duplicate documents and bytes removable, keeping the
  min-doc_id survivor (the doc_exact_dedup policy).

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- daily-revenue autocorrelation ----------------------------------------------

_ACF_LAGS = (1, 7, 14)


def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily shipped revenue at lags 1, 7 and 14:

        r_k = sum((x_t - m)(x_{t+k} - m)) / sum((x_t - m)^2)

    expanded so every data-dependent sum is EXACT — Sxy_k (decimal
    cross-products over the k-shifted self-join), the head/tail sums
    and the global sum/ssq — and the mean-centering happens once, in
    a fixed IEEE expression evaluated identically by both engines.

    Plan shape: one shuffle to the calendar-bounded daily rollup;
    each lag is an equi-join of that ~2.5k-row table with itself
    (date + k days); the global moments are a 1-row broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(cents("l_extendedprice")).alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("ssq"),
    )  # 1 row
    outs = []
    for k in _ACF_LAGS:
        j = (
            daily.alias("a")
            .join(
                daily.alias("b"),
                F.date_add(F.col("a.d"), k) == F.col("b.d"),
            )
            .agg(
                F.lit(k).alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(dec(F.col("a.x")) * dec(F.col("b.x"))).alias("sxy"),
                F.sum(F.col("a.x")).alias("sh"),
                F.sum(F.col("b.x")).alias("st"),
            )
        )
        outs.append(j)
    lagged = outs[0]
    for o in outs[1:]:
        lagged = lagged.unionByName(o)
    n = F.col("n").cast("double")
    mu = F.col("s").cast("double") / n
    num = (
        F.col("sxy").cast("double")
        - mu * F.col("sh").cast("double")
        - mu * F.col("st").cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    )
    den = F.col("ssq").cast("double") - n * mu * mu
    return (
        lagged.crossJoin(F.broadcast(tot))
        .select(
            "lag",
            "n_pairs",
            F.round(num / den, 6).alias("acf"),
        )
        .orderBy("lag")
    )


_ACF_LAG_PARTS = "\nUNION ALL\n".join(
    f"""
SELECT {k} AS lag, COUNT(*) AS n_pairs,
       SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy,
       CAST(SUM(a.x) AS BIGINT) AS sh,
       CAST(SUM(b.x) AS BIGINT) AS st
FROM daily a JOIN daily b ON b.d = a.d + INTERVAL {k} DAY"""
    for k in _ACF_LAGS
)

TS_AUTOCORRELATION_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS x
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ssq
  FROM daily
), lagged AS (
{_ACF_LAG_PARTS}
)
SELECT lag, n_pairs,
       ROUND(
         (CAST(sxy AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sh AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(st AS DOUBLE)
          + CAST(n_pairs AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         / (CAST(ssq AS DOUBLE)
            - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS acf
FROM lagged CROSS JOIN tot ORDER BY lag
"""


# --- price-volume-mix decomposition ---------------------------------------------

_PVM_Y0 = 1996
_PVM_Y1 = 1997


def li_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price-volume decomposition of year-over-year revenue
    change per brand (1996 -> 1997):

        volume_effect = (Q1 - Q0) * p0        p_y = R_y / Q_y
        price_effect  = Q1 * (p1 - p0)

    so volume + price == R1 - R0 identically.  Q and R are exact
    integer sums; the p terms are single divisions in a fixed IEEE
    tree.  The table every revenue review starts from.

    Plan shape: one filtered fact scan, one shuffle to the
    (brand, year) rollup, conditional pivot to one row per brand.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per = (
        li.filter(F.year("l_shipdate").isin(_PVM_Y0, _PVM_Y1))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == _PVM_Y0, F.col("l_quantity"))
                .otherwise(0.0)
                .cast("bigint")
            ).alias("q0"),
            F.sum(
                F.when(F.year("l_shipdate") == _PVM_Y1, F.col("l_quantity"))
                .otherwise(0.0)
                .cast("bigint")
            ).alias("q1"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == _PVM_Y0,
                    cents("l_extendedprice"),
                ).otherwise(0)
            ).alias("r0"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == _PVM_Y1,
                    cents("l_extendedprice"),
                ).otherwise(0)
            ).alias("r1"),
        )
        .filter((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    p0 = F.col("r0").cast("double") / F.col("q0").cast("double")
    p1 = F.col("r1").cast("double") / F.col("q1").cast("double")
    return per.select(
        "brand",
        "q0",
        "q1",
        (F.col("r0").cast("double") / F.lit(100.0)).alias("rev0"),
        (F.col("r1").cast("double") / F.lit(100.0)).alias("rev1"),
        F.round(
            (F.col("q1") - F.col("q0")).cast("double") * p0 / F.lit(100.0), 6
        ).alias("volume_effect"),
        F.round(
            F.col("q1").cast("double") * (p1 - p0) / F.lit(100.0), 6
        ).alias("price_effect"),
    ).orderBy("brand")


LI_PRICE_VOLUME_MIX_SQL = f"""
WITH per AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y0}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y1}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y0}
                       THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r0,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y1}
                       THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r1
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE EXTRACT(year FROM l_shipdate) IN ({_PVM_Y0}, {_PVM_Y1})
  GROUP BY 1
  HAVING q0 > 0 AND q1 > 0
)
SELECT brand, q0, q1,
       CAST(r0 AS DOUBLE) / 100.0 AS rev0,
       CAST(r1 AS DOUBLE) / 100.0 AS rev1,
       ROUND(CAST(q1 - q0 AS DOUBLE)
             * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) / 100.0, 6)
         AS volume_effect,
       ROUND(CAST(q1 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) / 100.0, 6)
         AS price_effect
FROM per ORDER BY brand
"""


# --- dedup savings report --------------------------------------------------------


def doc_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup saves, per source: duplicate documents
    (everything but the min-doc_id survivor of each content
    fingerprint) and the characters they occupy — the report that
    justifies running the dedup pass at all.

    Plan shape: one shuffle on the fingerprint for the survivor
    window, one to the per-source rollup.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.lower(F.col("text"))), 256)
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = (
        d.select("doc_id", "source", F.length("text").alias("n_chars"), fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_dup", (F.col("rn") > 1).cast("long"))
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dups"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.col("is_dup") * F.col("n_chars")).cast("long").alias(
                "dup_chars"
            ),
        )
        .withColumn(
            "savings_pct",
            F.round(
                F.lit(100.0) * F.col("dup_chars") / F.col("total_chars"), 6
            ),
        )
        .orderBy("source")
    )


DOC_DEDUP_SAVINGS_SQL = """
WITH flagged AS (
  SELECT source, length(text) AS n_chars,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY sha256(trim(lower(text))) ORDER BY doc_id)
              > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(is_dup * n_chars) AS BIGINT) AS dup_chars,
       ROUND(100.0 * SUM(is_dup * n_chars) / SUM(n_chars), 6)
         AS savings_pct
FROM flagged GROUP BY source ORDER BY source
"""


QUERIES = {
    "ts_autocorrelation": ts_autocorrelation,
    "li_price_volume_mix": li_price_volume_mix,
    "doc_dedup_savings": doc_dedup_savings,
}

ORACLES = {
    "ts_autocorrelation": TS_AUTOCORRELATION_SQL,
    "li_price_volume_mix": LI_PRICE_VOLUME_MIX_SQL,
    "doc_dedup_savings": DOC_DEDUP_SAVINGS_SQL,
}
