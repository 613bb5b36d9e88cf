"""Pipeline-lifecycle operators: CDC/merge, time-series gap-fill,
data-quality auditing, exact histograms, integer-exact PageRank, and
tokenizer/PII text passes.

These are the table-maintenance and curation primitives a production
ingestion pipeline runs between "raw data landed" and "queryable
table": apply a changelog to a snapshot (the batch equivalent of
MERGE INTO), densify a sparse time series against a calendar spine,
emit a constraint-audit report, and scan text for tokenizer and PII
statistics.  The reference repo's closest analogues are its count
reconciliation (dags/tasks/webscraper.py:88-96 — generalized here into
dq_audit_report) and its weekly full-refresh model (replaced by
cdc_scd1_apply's incremental merge).

Exactness: money flows through scaled-int cents (functions/exact.py),
PageRank runs entirely in int64 micro-units (no floats anywhere), so
every query is bit-stable at any partition count and hash-comparable
against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- CDC apply / SCD1 merge --------------------------------------------------
# The batch MERGE INTO pattern: a base snapshot (state as of a cutoff)
# plus a changelog of upserts/deletes keyed by (user, seq) collapses to
# final state with ONE window pass per side and ONE full-outer join on
# the key — no driver loop, no per-row lookups.  At 100 TB the join
# shuffles on user_id only; with both sides bucketed by user_id it is
# shuffle-free.  Deletes drop the key; late rows for unseen keys insert.

_CUTOFF = "2024-01-15 00:00:00"


def cdc_scd1_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .withColumn("tus", epoch_us("ts"))
        .withColumn("val_cents", F.coalesce(cents("value"), F.lit(0)))
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(F.desc("tus"), F.desc("event_id"))

    base = (
        e.filter(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("val_cents").alias("base_cents"))
    )
    chg = (
        e.filter(F.col("ts") >= cutoff)
        .withColumn("op", F.when(F.col("event_type") == "error", "D").otherwise("U"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "op", F.col("val_cents").alias("chg_cents"))
    )
    merged = base.join(chg, "user_id", "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") == "U"))
        .select(
            "user_id",
            F.coalesce("chg_cents", "base_cents").alias("final_cents"),
            F.when(F.col("op").isNull(), "carried")
            .when(F.col("base_cents").isNull(), "inserted")
            .otherwise("updated")
            .alias("src"),
        )
        .orderBy("user_id")
    )


CDC_SCD1_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         COALESCE(CAST(ROUND(value*100) AS BIGINT), 0) AS val_cents
  FROM events
), base AS (
  SELECT user_id, val_cents AS base_cents
  FROM (SELECT user_id, val_cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts < TIMESTAMP '{_CUTOFF}')
  WHERE rn = 1
), chg AS (
  SELECT user_id, op, val_cents AS chg_cents
  FROM (SELECT user_id, val_cents,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts >= TIMESTAMP '{_CUTOFF}')
  WHERE rn = 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       COALESCE(c.chg_cents, b.base_cents) AS final_cents,
       CASE WHEN c.op IS NULL THEN 'carried'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS src
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
WHERE c.op IS NULL OR c.op = 'U'
ORDER BY user_id
"""


# --- time-series gap fill ----------------------------------------------------
# Densify sparse per-user daily spend against a calendar spine and
# forward-fill the last observation (the classic prepare-for-training
# resample).  The spine is generated, not stored: sequence() + explode
# is O(|users| * |days|) rows but zero extra scans.  One shuffle on
# user_id for the window; the left join broadcasts nothing (spine and
# observations are co-partitioned by the join key after the shuffle).

def ts_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    users = e.filter(F.col("user_id") % 20 == 0).select("user_id").distinct()
    # attach the 30-element date array to each user and explode: a pure
    # projection (generate), not a cross join — no BroadcastNestedLoop
    # in the plan, and it scales as O(|users|) rows with zero shuffle
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    obs = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("day_cents"))
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(
                F.last("day_cents", ignorenulls=True).over(w), F.lit(0)
            ).alias("filled_cents"),
            F.col("day_cents").isNotNull().alias("observed"),
        )
        .orderBy("user_id", "day")
    )


TS_GAP_FILL_SQL = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0
), days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
  GROUP BY 1, 2
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       COALESCE(last_value(o.day_cents IGNORE NULLS)
                  OVER (PARTITION BY s.user_id ORDER BY s.day
                        ROWS UNBOUNDED PRECEDING), 0) AS filled_cents,
       o.day_cents IS NOT NULL AS observed
FROM (SELECT u.user_id, d.day FROM users u CROSS JOIN days d) s
LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
ORDER BY s.user_id, day
"""


def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the gap-filled daily spine: missing
    days get prev + (next-prev) * elapsed/gap between the surrounding
    observations (nearest-known at the edges, 0 when a user has no
    observations).  Same single shuffle on user_id as the gap fill —
    the backward and forward scans are two frames over one window
    ordering, so Spark evaluates both in one pass per partition."""
    e = load_table(spark, sf_dir, "events")
    users = e.filter(F.col("user_id") % 20 == 0).select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    obs = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("day_cents"))
    )
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    g = spine.join(obs, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("day_cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = (
        F.when(F.col("prev_d").isNull() & F.col("next_d").isNull(), F.lit(0.0))
        .when(F.col("prev_d").isNull(), F.col("next_c").cast("double"))
        .when(F.col("next_d").isNull(), F.col("prev_c").cast("double"))
        .otherwise(
            F.col("prev_c").cast("double")
            + (F.col("next_c") - F.col("prev_c")).cast("double")
            * (
                F.datediff(F.col("day"), F.col("prev_d")).cast("double")
                / F.greatest(
                    F.datediff(F.col("next_d"), F.col("prev_d")), F.lit(1)
                ).cast("double")
            )
        )
    )
    return g.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        interp.alias("interp_cents"),
        F.col("day_cents").isNotNull().alias("observed"),
    ).orderBy("user_id", "day")


TS_INTERPOLATE_SQL = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0
), days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
  GROUP BY 1, 2
), f AS (
  SELECT s.user_id, s.day, o.day_cents,
         last_value(o.day_cents IGNORE NULLS) OVER wpast AS prev_c,
         last_value(CASE WHEN o.day_cents IS NOT NULL THEN s.day END
                    IGNORE NULLS) OVER wpast AS prev_d,
         first_value(o.day_cents IGNORE NULLS) OVER wfut AS next_c,
         first_value(CASE WHEN o.day_cents IS NOT NULL THEN s.day END
                     IGNORE NULLS) OVER wfut AS next_d
  FROM (SELECT u.user_id, d.day FROM users u CROSS JOIN days d) s
  LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
  WINDOW wpast AS (PARTITION BY s.user_id ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING),
         wfut AS (PARTITION BY s.user_id ORDER BY s.day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CASE WHEN prev_d IS NULL AND next_d IS NULL THEN 0.0
            WHEN prev_d IS NULL THEN CAST(next_c AS DOUBLE)
            WHEN next_d IS NULL THEN CAST(prev_c AS DOUBLE)
            ELSE CAST(prev_c AS DOUBLE) + CAST(next_c - prev_c AS DOUBLE) *
                 (CAST(date_diff('day', prev_d, day) AS DOUBLE) /
                  CAST(GREATEST(date_diff('day', prev_d, next_d), 1) AS DOUBLE))
       END AS interp_cents,
       day_cents IS NOT NULL AS observed
FROM f
ORDER BY user_id, day
"""


# --- data-quality audit ------------------------------------------------------
# The reference validates one invariant (scraped count == API count,
# dags/tasks/webscraper.py:88-96).  This generalizes that into a
# constraint-audit report: row counts, PK uniqueness, null checks, FK
# orphans, and domain-range violations, emitted as DATA (a report the
# pipeline can gate on) rather than log lines.  Each check is a scan or
# an anti-join; Catalyst prunes each scan to the checked columns only.

def dq_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def one(table: str, check: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(table).alias("table_name"),
            F.lit(check).alias("check_name"),
            F.col("metric").cast("long"),
        )

    checks = [
        one("orders", "row_count", orders.agg(F.count(F.lit(1)).alias("metric"))),
        one(
            "orders",
            "null_custkey",
            orders.agg(
                F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("metric")
            ),
        ),
        one(
            "orders",
            "dup_pk",
            orders.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("metric")
            ),
        ),
        one(
            "orders",
            "orphan_custkey",
            orders.join(customer, orders["o_custkey"] == customer["c_custkey"],
                        "left_anti").agg(F.count(F.lit(1)).alias("metric")),
        ),
        one("customer", "row_count", customer.agg(F.count(F.lit(1)).alias("metric"))),
        one(
            "lineitem",
            "orphan_orderkey",
            lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"],
                          "left_anti").agg(F.count(F.lit(1)).alias("metric")),
        ),
        one(
            "lineitem",
            "bad_discount",
            lineitem.agg(
                F.count(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    )
                ).alias("metric")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("table_name", "check_name")


DQ_AUDIT_SQL = """
SELECT * FROM (
  SELECT 'orders' AS table_name, 'row_count' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS metric FROM orders
  UNION ALL
  SELECT 'orders', 'null_custkey',
         CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'dup_pk',
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'orphan_custkey', CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'customer', 'row_count', CAST(COUNT(*) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'lineitem', 'orphan_orderkey', CAST(COUNT(*) AS BIGINT)
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'lineitem', 'bad_discount',
         CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT)
  FROM lineitem
)
ORDER BY table_name, check_name
"""


# --- exact fixed-width histogram --------------------------------------------
# Histogram of order totals with fixed cut points, computed entirely in
# scaled-int cents: bucket = clamp(cents // width, 0, 19).  Scan-only
# (single aggregation, no sort until the final 20-row orderBy) — the
# 100 TB-safe alternative to ntile(), which needs a global sort.

_HIST_WIDTH_CENTS = 2_500_000  # $25,000 per bucket
_HIST_BUCKETS = 20


def hist_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(
            F.floor(cents("o_totalprice") / _HIST_WIDTH_CENTS), F.lit(0)
        ),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(cents("o_totalprice")).alias("min_cents"),
            F.max(cents("o_totalprice")).alias("max_cents"),
        )
        .orderBy("bucket")
    )


HIST_ORDERS_SQL = f"""
SELECT LEAST(GREATEST(CAST(ROUND(o_totalprice*100) AS BIGINT)
                        // {_HIST_WIDTH_CENTS}, 0), {_HIST_BUCKETS - 1}) AS bucket,
       COUNT(*) AS n_orders,
       MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS min_cents,
       MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS max_cents
FROM orders
GROUP BY 1
ORDER BY bucket
"""


# --- PageRank in exact integer arithmetic ------------------------------------
# PageRank over the event-type transition graph (the Markov matrix from
# ev_transition_matrix as a weighted digraph).  All arithmetic is int64
# micro-units (scale 1e12) with floor division, so there is NO float
# anywhere: results are bit-identical at any partition count and in any
# engine — the iterative-algorithm twin of the exact-moments approach.
# Three unrolled iterations; damping 0.85 as the exact fraction 85/100.
# On a real graph (|V| ~ 1e9) each round is one join edges⋈ranks
# shuffled on src plus a groupBy dst — the loop structure is identical,
# with localCheckpoint between rounds (see operators/dedup.py
# connected_components for the lineage-truncation pattern).

_PR_SCALE = 10**12
_PR_ITERS = 3


def graph_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_deg = edges.groupBy("from_type").agg(F.sum("n").alias("out_n"))
    edges = edges.join(out_deg, "from_type")
    nodes = e.select(F.col("event_type").alias("node")).distinct()
    n_nodes = 5  # event_type domain; teleport share uses the fixed domain size
    teleport = (15 * _PR_SCALE) // (100 * n_nodes)

    ranks = nodes.select("node", F.lit(_PR_SCALE // n_nodes).alias("rank_micro"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges["from_type"] == ranks["node"])
            # `div` is exact int64 floor division — a float `/` here
            # would lose ulps once rank*weight passes 2^53
            .selectExpr("to_type AS node", "rank_micro * n div out_n AS c")
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = nodes.join(contrib, "node", "left").selectExpr(
            "node",
            f"CAST({teleport} + 85 * coalesce(in_sum, 0L) div 100 AS BIGINT)"
            " AS rank_micro",
        )
    return ranks.orderBy("node")


def _pagerank_sql(iters: int = _PR_ITERS) -> str:
    teleport = (15 * _PR_SCALE) // (100 * 5)
    prev = f"(SELECT node, CAST({_PR_SCALE} // 5 AS BIGINT) AS rank_micro FROM nodes)"
    for i in range(iters):
        prev = f"""(
  SELECT n.node,
         CAST({teleport} + (85 * COALESCE(s.in_sum, 0)) // 100 AS BIGINT)
           AS rank_micro
  FROM nodes n LEFT JOIN (
    SELECT e.to_type AS node,
           CAST(SUM((r.rank_micro * e.n) // e.out_n) AS BIGINT) AS in_sum
    FROM edges e JOIN {prev} r ON r.node = e.from_type
    GROUP BY 1
  ) s ON s.node = n.node
)"""
    return f"""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
), edges_raw AS (
  SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
), edges AS (
  SELECT e.*, o.out_n
  FROM edges_raw e JOIN (
    SELECT from_type, CAST(SUM(n) AS BIGINT) AS out_n
    FROM edges_raw GROUP BY 1
  ) o USING (from_type)
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
)
SELECT node, rank_micro FROM {prev} ORDER BY node
"""


GRAPH_PAGERANK_SQL = _pagerank_sql()


# --- tokenizer statistics (BPE-ish regex) ------------------------------------
# Pre-tokenization token counting with a GPT-2-style pattern (letter
# runs, digit runs, punctuation runs, each absorbing one leading
# space), restricted to lookahead-free syntax so Java regex (Spark) and
# RE2 (DuckDB) agree.  The doc text is word-soup, so a deterministic
# doc_id-derived suffix adds the digits/punctuation that make BPE and
# whitespace counts diverge.  Pure scan — regexp_count stays inside
# whole-stage codegen.

_BPE_PAT = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"


def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" v"),
        F.col("doc_id").cast("string"),
        F.lit(".2 #tag-"),
        (F.col("doc_id") % 7).cast("string"),
    )
    return (
        d.select(
            "doc_id",
            F.regexp_count(full_text, F.lit(_BPE_PAT)).cast("long").alias("n_bpe"),
            F.size(F.split(F.trim(full_text), r" +")).cast("long").alias("n_ws"),
        )
        .withColumn(
            "bpe_per_word",
            (F.col("n_bpe") * 1000 / F.col("n_ws")).cast("long"),
        )
        .orderBy("doc_id")
    )


DOC_BPE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' v' || CAST(doc_id AS VARCHAR) || '.2 #tag-'
              || CAST(doc_id % 7 AS VARCHAR) AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(full_text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe,
       CAST(len(string_split_regex(trim(full_text), ' +')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(full_text, '{_BPE_PAT}')) * 1000
              // len(string_split_regex(trim(full_text), ' +')) AS BIGINT)
         AS bpe_per_word
FROM t
ORDER BY doc_id
"""


# --- PII scan / redaction ----------------------------------------------------
# Email/phone detection + redaction counts.  The corpus has no PII, so
# each doc gets a deterministic doc_id-derived contact suffix (added
# identically in both engines) — the operator under test is the regex
# scan/replace, which runs as a pure projection (no shuffle; at 100 TB
# this is the map-only scrub pass before training-data export).

_EMAIL_PAT = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PHONE_PAT = "\\+1-555-[0-9][0-9][0-9][0-9]"


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(full_text, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(full_text, F.lit(_EMAIL_PAT)).cast("long").alias("n_emails"),
        F.regexp_count(full_text, F.lit(_PHONE_PAT)).cast("long").alias("n_phones"),
        F.length(full_text).cast("long").alias("len_raw"),
        F.length(redacted).cast("long").alias("len_redacted"),
    ).orderBy("doc_id")


DOC_PII_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(full_text, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(full_text, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
       CAST(length(full_text) AS BIGINT) AS len_raw,
       CAST(length(regexp_replace(regexp_replace(full_text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                                  '{_PHONE_PAT}', '<PHONE>', 'g')) AS BIGINT)
         AS len_redacted
FROM t
ORDER BY doc_id
"""


# --- incremental aggregate-state merge ---------------------------------------
# The incremental-view-maintenance pattern at 100 TB: nightly partials
# (day, sum, count — cheap, append-only) merge into period rollups
# without rescanning history, because integer sums and counts are
# associative/commutative mergeable state.  The query materializes the
# daily partials and derives the monthly rollup FROM THE PARTIALS; the
# oracle aggregates the base table directly — hash equality proves the
# two-level merge is exactly the one-level aggregate (which is also why
# the engine's money math uses scaled ints: float partials would drift
# by summation order).

def inc_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(cents("value")).alias("day_cents"),
            F.count(F.lit(1)).alias("day_n"),
        )
    )
    return (
        daily.groupBy("month")
        .agg(
            F.sum("day_cents").alias("total_cents"),
            F.sum("day_n").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .withColumn(
            "avg_cents",
            (F.col("total_cents") / F.col("n_purchases")).cast("long"),
        )
        .orderBy("month")
    )


INC_MERGE_SQL = """
SELECT strftime(ts, '%Y-%m') AS month,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_cents,
       COUNT(*) AS n_purchases,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) // COUNT(*) AS BIGINT)
         AS avg_cents
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY month
"""


# --- bloom-filter join pruning ----------------------------------------------
# Explicit pre-shuffle pruning (operators/prune.py): a 32 KiB bitmap
# built from the negative-balance customers filters the orders scan
# down to probable matches BEFORE any join shuffle.  Deterministic
# (xxhash64 positions) but with no DuckDB twin — rows-only check here;
# the superset/no-false-negative invariants are pytest-verified.

def bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from planning_center_data_pipeline_spark.operators.prune import bloom_prune

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    pruned = bloom_prune(o, c, "o_custkey", "c_custkey")
    exact = o.join(
        c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    )
    return pruned.agg(F.count(F.lit(1)).alias("n_bloom_pass")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
    ).crossJoin(o.agg(F.count(F.lit(1)).alias("n_total")))


# --- compaction / file-layout planner ----------------------------------------
# The small-files problem at 100 TB: partitioned tables accumulate
# per-partition row counts that imply too many (or too few) files for
# the target file size.  This plans the rewrite: per partition, actual
# rows vs target files (ceil(rows/target)), plus a skew ratio against
# the mean partition size — the inputs to a repartition(n) compaction
# job and to AQE-style skew diagnosis.  Scan-only: one aggregate, one
# broadcast of the 1-row global mean.

_TARGET_ROWS_PER_FILE = 50_000


def compaction_plan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    parts = o.groupBy(
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    mean = parts.agg(F.avg("n_rows").alias("mean_rows"))
    return (
        parts.crossJoin(F.broadcast(mean))
        .select(
            "o_orderstatus",
            "month",
            "n_rows",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_rows") / _TARGET_ROWS_PER_FILE),
            ).cast("long").alias("target_files"),
            F.round(F.col("n_rows") / F.col("mean_rows"), 6).alias("skew_ratio"),
        )
        .orderBy("o_orderstatus", "month")
    )


COMPACTION_PLAN_SQL = f"""
WITH parts AS (
  SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, month, n_rows,
       GREATEST(1, CAST(ceil(CAST(n_rows AS DOUBLE) / {_TARGET_ROWS_PER_FILE})
                        AS BIGINT)) AS target_files,
       ROUND(CAST(n_rows AS DOUBLE) / (SELECT AVG(n_rows) FROM parts), 6)
         AS skew_ratio
FROM parts
ORDER BY o_orderstatus, month
"""


QUERIES = {
    "cdc_scd1_apply": cdc_scd1_apply,
    "ts_gap_fill_daily": ts_gap_fill_daily,
    "ts_interpolate_linear": ts_interpolate_linear,
    "dq_audit_report": dq_audit_report,
    "hist_order_totals": hist_order_totals,
    "graph_pagerank_transitions": graph_pagerank_transitions,
    "doc_bpe_token_count": doc_bpe_token_count,
    "doc_pii_scrub": doc_pii_scrub,
    "inc_merge_rollup": inc_merge_rollup,
    "bloom_prune_orders": bloom_prune_orders,
    "compaction_plan_orders": compaction_plan_orders,
}

def _xxh64_bloom_sql() -> str:
    """DuckDB oracle for bloom_prune_orders (round-7 VERDICT item 6:
    oracle-ize the bitmap query).  Spark's bloom positions come from
    xxhash64(seed_int, key_long) — FIXED-WIDTH inputs, so XXH64
    collapses to a closed-form arithmetic chain (no byte loop); this
    re-derives the identical signed-64 hash in DuckDB with HUGEINT
    wrap-around macros, so the oracle reproduces the exact bitmap —
    including its false positives — and the driver hash-gates the
    whole prune, not just a row count.  The int-path seed constants
    hashInt(seed, 42) are folded here at generation time; only the
    long path runs in SQL.  Pinned bit-equal to Spark's xxhash64 on
    both int and long paths in tests/test_xxh64_sql.py."""
    from planning_center_data_pipeline_spark.functions.xxh64_sql import (
        M64,
        P1,
        P2,
        P3,
        P4,
        P5,
        T,
        hash_int,
        mul64,
        rotl_sql,
    )
    from planning_center_data_pipeline_spark.operators.prune import (
        DEFAULT_BITS,
        DEFAULT_K,
    )

    p1, p2, p3, p4, p5, m64, t = P1, P2, P3, P4, P5, M64, T
    seeds = [hash_int(s, 42) for s in range(DEFAULT_K)]
    seed_rows = ",".join(f"({s}::HUGEINT)" for s in seeds)
    return f"""
WITH dk AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal < 0
  UNION
  SELECT DISTINCT o_custkey FROM orders
), ks AS (
  SELECT k, ((k::HUGEINT % {t}) + {t}) % {t} AS u, ss
  FROM dk CROSS JOIN (VALUES {seed_rows}) s(ss)
), s1 AS (
  SELECT k, ss, (ss + {(p5 + 8) & m64}::HUGEINT) % {t} AS h0,
         {mul64('u', p2)} AS t1
  FROM ks
), s2 AS (
  SELECT *, xor(h0, {mul64(rotl_sql('t1', 31), p1)}) AS h1 FROM s1
), s3 AS (
  SELECT *, ({mul64(rotl_sql('h1', 27), p1)} + {p4}::HUGEINT) % {t} AS h2
  FROM s2
), s4 AS (
  SELECT *, {mul64("xor(h2, (h2 >> 33))", p2)} AS f2 FROM s3
), s5 AS (
  SELECT *, {mul64("xor(f2, (f2 >> 29))", p3)} AS f4 FROM s4
), pos AS (
  SELECT k, xor(f4, (f4 >> 32)) % {DEFAULT_BITS} AS p FROM s5
), bset AS (
  SELECT DISTINCT p FROM pos
  WHERE k IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
), okpass AS (
  SELECT k FROM pos GROUP BY k
  HAVING SUM(CASE WHEN p IN (SELECT p FROM bset) THEN 1 ELSE 0 END)
         = {DEFAULT_K}
)
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM okpass))
    AS n_bloom_pass,
  (SELECT COUNT(*) FROM orders
   WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0))
    AS n_exact,
  (SELECT COUNT(*) FROM orders) AS n_total
"""


ORACLES = {
    "cdc_scd1_apply": CDC_SCD1_SQL,
    "ts_gap_fill_daily": TS_GAP_FILL_SQL,
    "ts_interpolate_linear": TS_INTERPOLATE_SQL,
    "dq_audit_report": DQ_AUDIT_SQL,
    "hist_order_totals": HIST_ORDERS_SQL,
    "graph_pagerank_transitions": GRAPH_PAGERANK_SQL,
    "doc_bpe_token_count": DOC_BPE_SQL,
    "doc_pii_scrub": DOC_PII_SQL,
    "inc_merge_rollup": INC_MERGE_SQL,
    "compaction_plan_orders": COMPACTION_PLAN_SQL,
    "bloom_prune_orders": _xxh64_bloom_sql(),
}
