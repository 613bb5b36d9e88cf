"""Batch-mode formulations of the streaming wing (SURVEY.md §2.9) over
the `events` table, each with a DuckDB oracle.  The same logic runs as
true Structured Streaming in streaming/jobs.py (tested with a memory
sink); DuckDB can't run streams, so the oracle checks the batch form —
Spark guarantees `window()`/sessionization semantics agree between the
two modes for complete (non-late) inputs.

Determinism: window starts are emitted as epoch seconds (BIGINT) so no
timezone/rendering ambiguity; value sums go through scaled-int cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, money_sum
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- tumbling window --------------------------------------------------------

def ev_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(cents("value")).alias("value_sum"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
        .orderBy("window_start", "event_type")
    )


EV_TUMBLING_SQL = """
SELECT
  CAST(FLOOR(epoch(ts)/300) AS BIGINT)*300 AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS value_sum
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# --- sliding window (10 min window, 5 min slide) ----------------------------
# Each event lands in exactly 2 windows; the oracle expands via a
# 2-element offset join.

def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


EV_SLIDING_SQL = """
SELECT
  CAST(FLOOR(epoch(ts)/300) AS BIGINT)*300 - o.off AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events CROSS JOIN (VALUES (0), (300)) o(off)
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


# --- sessionization (30 min gap) --------------------------------------------
# Batch sessionization: per user, a new session starts when the gap to
# the previous event exceeds 30 min; lag + running sum of break flags.
# Streaming twin: session_window(ts, '30 minutes') in streaming/jobs.py.
# Scale: one shuffle on user_id; per-user sort only.

def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap_break = (
        (F.col("tus") - F.lag("tus").over(w)) > 30 * 60 * 1_000_000
    ).cast("int")
    sess = F.sum(F.coalesce(gap_break, F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("session_no", sess)
        .groupBy("user_id", "session_no")
        .agg(
            F.min("tus").alias("session_start_us"),
            F.max("tus").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            money_sum(cents("value")).alias("value_sum"),
        )
        .orderBy("user_id", "session_no")
    )


EV_SESSIONIZE_SQL = """
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM t
)
SELECT user_id, session_no,
       MIN(tus) AS session_start_us,
       MAX(tus) AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS value_sum
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


# --- keyed dedup (keep earliest) --------------------------------------------
# Streaming twin: dropDuplicates within watermark. Batch form keeps the
# first event per (user_id, event_type) deterministically.

def ev_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("tus").alias("first_ts_us"), F.col("event_id").alias("first_event_id"))
        .orderBy("user_id", "event_type")
    )


EV_DEDUP_SQL = """
SELECT user_id, event_type, tus AS first_ts_us, event_id AS first_event_id
FROM (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
"""


# --- JSON property extraction (P4 nested-path analogue) ---------------------
# The reference's dot-path extraction over JSON:API documents
# (planning_center.py:21-23,33) generalized to JSON string columns.

def ev_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.count(k).alias("k_n"),
            (F.sum(k).cast("double") / F.count(k)).alias("k_avg"),
        )
        .orderBy("event_type")
    )


EV_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
         / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_avg
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- time-of-day profile ----------------------------------------------------

def ev_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.hour("ts").cast("long").alias("hr"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(cents("value")).alias("value_sum"),
        )
        .orderBy("hr", "event_type")
    )


EV_HOURLY_SQL = """
SELECT CAST(hour(ts) AS BIGINT) AS hr, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS value_sum
FROM events GROUP BY 1, 2 ORDER BY hr, event_type
"""


# --- interval join: purchases x clicks within the preceding hour -------------
# Batch form of the stream-stream interval join in streaming/jobs.py
# (watermarked range join on event time).  At scale both sides shuffle
# on user_id and the time bound caps per-key state; in batch Catalyst
# runs it as a shuffled join with the range predicate applied inline.

def ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("tus").alias("click_tus"),
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("tus").alias("purchase_tus"),
    )
    hour_us = 3_600_000_000
    return (
        buys.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_tus") <= F.col("purchase_tus"))
            & (F.col("click_tus") > F.col("purchase_tus") - hour_us),
        )
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            ((F.col("purchase_tus") - F.col("click_tus")) / 1_000_000).alias(
                "gap_sec"
            ),
        )
        .orderBy("purchase_id", "click_id")
    )


EV_INTERVAL_JOIN_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_tus
  FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_tus
  FROM events WHERE event_type = 'purchase'
)
SELECT purchase_id, buys.user_id, click_id,
       (purchase_tus - click_tus)/1000000.0 AS gap_sec
FROM buys JOIN clicks
  ON buys.user_id = clicks.user_id
 AND click_tus <= purchase_tus
 AND click_tus > purchase_tus - 3600000000
ORDER BY purchase_id, click_id
"""


# --- native session_window (batch) -------------------------------------------
# Spark's built-in session_window operator (the same expression the
# streaming wing uses with a watermark) run in batch mode, checked
# against the classic gaps-and-islands SQL: window.start = first event
# of the session, window.end = last event + gap.  This cross-validates
# the engine operator against first-principles SQL — the custom
# ev_sessionize above derives the same sessions manually.

def ev_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(cents("value")).alias("spend"),
        )
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("s_start_us"),
            epoch_us(F.col("w.end")).alias("s_end_us"),
            "n_events",
            "spend",
        )
        .orderBy("user_id", "s_start_us")
    )


EV_SESSION_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM t
)
SELECT user_id,
       epoch_us(MIN(ts)) AS s_start_us,
       epoch_us(MAX(ts)) + 30*60*1000000 AS s_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS spend
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, s_start_us
"""


QUERIES = {
    "ev_tumbling_window": ev_tumbling_window,
    "ev_interval_join": ev_interval_join,
    "ev_sliding_window": ev_sliding_window,
    "ev_sessionize": ev_sessionize,
    "ev_dedup_first": ev_dedup_first,
    "ev_json_props": ev_json_props,
    "ev_hourly_profile": ev_hourly_profile,
    "ev_session_window_batch": ev_session_window_batch,
}

ORACLES = {
    "ev_tumbling_window": EV_TUMBLING_SQL,
    "ev_interval_join": EV_INTERVAL_JOIN_SQL,
    "ev_sliding_window": EV_SLIDING_SQL,
    "ev_sessionize": EV_SESSIONIZE_SQL,
    "ev_dedup_first": EV_DEDUP_SQL,
    "ev_json_props": EV_JSON_SQL,
    "ev_hourly_profile": EV_HOURLY_SQL,    "ev_session_window_batch": EV_SESSION_WINDOW_SQL,
}
