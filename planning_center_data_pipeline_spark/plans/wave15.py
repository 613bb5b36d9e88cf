"""Round-6 wave 15: the corpus quality-filter funnel and daily bounce
rate (plus the streaming Markov transition counter that lives in
streaming/jobs.py with a batch-equivalence test).

- doc_filter_funnel: the cumulative pass-rate table for a 5-gate
  Gopher-style quality filter chain, per source — the report a corpus
  curation run publishes before anyone trains on the output ("where
  do my documents die?").
- ev_bounce_rate: share of single-event (user, day) sessions per day
  — the engagement-dashboard staple.

Both carry full DuckDB oracles (integer conditional counts, one
division per reported ratio).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- quality filter funnel ------------------------------------------------------

_F_MIN_CHARS = 150
_F_MIN_WORDS = 30


def doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative survival through a 5-gate quality filter chain, per
    source:

      g1 >= 150 chars                 g2 >= 30 whitespace words
      g3 lexical diversity >= 0.5     g4 language filter (en)
      g5 mean word length <= 5.6      (distinct words / words)

    Each row reports how many documents survive gates 1..k (the
    funnel) and the final keep rate.  Ratio gates compare integer
    cross-products (2*distinct >= words; 10*chars <= 56*words), so
    gate membership is engine-exact — no float thresholds.

    Plan shape: per-row tokenize/distinct behind the bounded
    repartition floor, then ONE shuffle to the per-source rollup of
    conditional counts.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    m = d.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("c"),
        F.size(toks).cast("long").alias("w"),
        F.size(F.array_distinct(toks)).cast("long").alias("dw"),
    )
    g1 = F.col("c") >= _F_MIN_CHARS
    g2 = g1 & (F.col("w") >= _F_MIN_WORDS)
    # distinct/total >= 0.5  <=>  2*dw >= w (integer algebra)
    g3 = g2 & (2 * F.col("dw") >= F.col("w"))
    g4 = g3 & (F.col("lang") == "en")
    # mean word length <= 5.6  <=>  10*c <= 56*w
    g5 = g4 & (10 * F.col("c") <= 56 * F.col("w"))
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(g1.cast("long")).alias("pass_len"),
            F.sum(g2.cast("long")).alias("pass_words"),
            F.sum(g3.cast("long")).alias("pass_diversity"),
            F.sum(g4.cast("long")).alias("pass_lang"),
            F.sum(g5.cast("long")).alias("pass_all"),
        )
        .withColumn(
            "keep_rate",
            F.round(F.col("pass_all").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


DOC_FILTER_FUNNEL_SQL = rf"""
WITH m AS (
  SELECT source, lang,
         CAST(length(text) AS BIGINT) AS c,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
              AS BIGINT) AS w,
         CAST(len(list_distinct(
              regexp_split_to_array(trim(lower(text)), '\s+')))
              AS BIGINT) AS dw
  FROM documents
), gated AS (
  SELECT source,
         CASE WHEN c >= {_F_MIN_CHARS} THEN 1 ELSE 0 END AS g1,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
              THEN 1 ELSE 0 END AS g2,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w THEN 1 ELSE 0 END AS g3,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w AND lang = 'en' THEN 1 ELSE 0 END AS g4,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w AND lang = 'en'
                   AND 10*c <= 56*w THEN 1 ELSE 0 END AS g5
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(g1) AS BIGINT) AS pass_len,
       CAST(SUM(g2) AS BIGINT) AS pass_words,
       CAST(SUM(g3) AS BIGINT) AS pass_diversity,
       CAST(SUM(g4) AS BIGINT) AS pass_lang,
       CAST(SUM(g5) AS BIGINT) AS pass_all,
       ROUND(CAST(SUM(g5) AS DOUBLE) / COUNT(*), 6) AS keep_rate
FROM gated GROUP BY source ORDER BY source
"""


# --- daily bounce rate ----------------------------------------------------------


def ev_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of (user, day) sessions containing
    exactly one event.  One shuffle to the (user, day) rollup (the
    session grain), one to the |days|-bounded daily rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_ev"))
    return (
        sessions.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_ev") == 1).cast("long")).alias("n_bounces"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double") / F.col("n_sessions"), 6
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


EV_BOUNCE_RATE_SQL = """
WITH sessions AS (
  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS n_ev
  FROM events GROUP BY 1, 2
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ROUND(CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM sessions GROUP BY d ORDER BY day
"""


QUERIES = {
    "doc_filter_funnel": doc_filter_funnel,
    "ev_bounce_rate": ev_bounce_rate,
}

ORACLES = {
    "doc_filter_funnel": DOC_FILTER_FUNNEL_SQL,
    "ev_bounce_rate": EV_BOUNCE_RATE_SQL,
}
