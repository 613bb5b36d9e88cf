"""Round-6 wave 21: skip-gram event co-occurrence and a stopword
language-leakage audit.

- ev_skipgram_pairs: (from, to) event-type co-occurrence at gaps 1-3
  within each user's stream — the sequence-mining generalization of
  the adjacent-only Markov matrix (ev_markov_transitions): "B follows
  A soon", not just "immediately".
- doc_stopword_leakage: ENGLISH stopword density per DECLARED
  language — the cheap mislabeled-language detector (en-stopword-rich
  text labeled zh/de/es/fr is a labeling bug or code-switching, and
  either way poisons per-language sampling budgets).

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table

_SKIP_MAX_GAP = 3


# --- skip-gram event pairs ------------------------------------------------------


def ev_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence of event types: for each (from, to)
    pair and gap g in {1, 2, 3}, how often `to` occurs exactly g
    events after `from` in the same user's (ts, event_id)-ordered
    stream, with the share within each (from, gap) row-normalised —
    the short-horizon sequence-mining table ("what happens SOON after
    A", not just immediately).

    Plan shape: ONE shuffle on user_id computes all three lead()
    columns in the same window; the stack() unpivot is map-side; the
    rollup is <= |types|^2 x 3 rows, and the share window runs over
    that tiny rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leads = ev.select(
        F.col("event_type").alias("t_from"),
        *[
            F.lead("event_type", g).over(w).alias(f"l{g}")
            for g in range(1, _SKIP_MAX_GAP + 1)
        ],
    )
    pairs = leads.select(
        "t_from",
        F.expr(
            f"stack({_SKIP_MAX_GAP}, "
            + ", ".join(f"{g}, l{g}" for g in range(1, _SKIP_MAX_GAP + 1))
            + ") AS (gap, t_to)"
        ),
    ).filter(F.col("t_to").isNotNull())
    per = pairs.groupBy("t_from", "gap", "t_to").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    w_share = Window.partitionBy("t_from", "gap")
    return (
        per.withColumn(
            "share",
            F.round(
                F.col("n_pairs").cast("double")
                / F.sum("n_pairs").over(w_share).cast("double"),
                6,
            ),
        )
        .orderBy("t_from", "gap", "t_to")
    )


EV_SKIPGRAM_PAIRS_SQL = f"""
WITH leads AS (
  SELECT event_type AS t_from,
         LEAD(event_type, 1) OVER w AS l1,
         LEAD(event_type, 2) OVER w AS l2,
         LEAD(event_type, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), pairs AS (
  SELECT t_from, 1 AS gap, l1 AS t_to FROM leads WHERE l1 IS NOT NULL
  UNION ALL
  SELECT t_from, 2, l2 FROM leads WHERE l2 IS NOT NULL
  UNION ALL
  SELECT t_from, 3, l3 FROM leads WHERE l3 IS NOT NULL
), per AS (
  SELECT t_from, gap, t_to, COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1, 2, 3
)
SELECT t_from, gap, t_to, n_pairs,
       ROUND(CAST(n_pairs AS DOUBLE)
             / CAST(SUM(n_pairs) OVER (PARTITION BY t_from, gap)
                    AS DOUBLE), 6) AS share
FROM per ORDER BY t_from, gap, t_to
"""


# --- stopword language-leakage audit --------------------------------------------


def doc_stopword_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-stopword density per DECLARED language label: docs,
    total whitespace tokens, English stopword hits, hits per 100
    tokens, and the share of documents with >= 1 hit.  High density
    under a non-en label flags mislabeled or code-switched text
    before it skews per-language sampling budgets.  Counts are exact
    integers; two divisions at the end.

    Plan shape: CPU-dense per-row regex behind the bounded
    repartition floor, one shuffle to the |langs|-row rollup.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    hits = X.stopword_hits(F.col("text"), "en").cast("long")
    per = d.select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("toks"),
        hits.alias("hits"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum("hits").alias("en_sw_hits"),
            F.sum((F.col("hits") > 0).cast("long")).alias("docs_with_hit"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "en_sw_hits",
            F.round(
                F.lit(100.0) * F.col("en_sw_hits") / F.col("n_tokens"), 6
            ).alias("hits_per_100tok"),
            F.round(
                F.lit(100.0) * F.col("docs_with_hit") / F.col("n_docs"), 6
            ).alias("docs_with_hit_pct"),
        )
        .orderBy("lang")
    )


def _en_sw_sql() -> str:
    pat = r"\b(" + "|".join(X.STOPWORDS["en"]) + r")\b"
    return f"CAST(len(regexp_extract_all(lower(text), '{pat}', 1)) AS BIGINT)"


DOC_STOPWORD_LEAKAGE_SQL = rf"""
WITH per AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS toks,
         {_en_sw_sql()} AS hits
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(SUM(hits) AS BIGINT) AS en_sw_hits,
       ROUND(100.0 * SUM(hits) / SUM(toks), 6) AS hits_per_100tok,
       ROUND(100.0 * SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS docs_with_hit_pct
FROM per GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "ev_skipgram_pairs": ev_skipgram_pairs,
    "doc_stopword_leakage": doc_stopword_leakage,
}

ORACLES = {
    "ev_skipgram_pairs": EV_SKIPGRAM_PAIRS_SQL,
    "doc_stopword_leakage": DOC_STOPWORD_LEAKAGE_SQL,
}
