"""Round-4 wave: gaps-and-islands, training-corpus mixing, global
heavy hitters, salted skew aggregation, error-safe arithmetic, and
per-group mode.

The reference pipeline has no analytics beyond per-list counts
(SURVEY.md §2.5; reference dags/tasks/planning_center.py:50); these
extend the engine with patterns a 100 TB training-data pipeline leans
on daily:

- ``win_gaps_islands`` — activity-streak detection (consecutive
  active months per customer) via the row_number-difference trick:
  one shuffle on the partition key, no self-join.  At scale the
  window is partitioned by customer, so every partition sorts a few
  dozen rows — embarrassingly parallel.
- ``corpus_mix_plan`` — dataset-mixing plan for training corpora:
  per-source token counts → corpus share → per-source sampling rate
  to hit a uniform target mix, with a resulting token budget.  The
  totals cross-join is a 1-row broadcast; everything else is one
  partial-aggregated groupBy over the documents scan.
- ``ev_top_users`` — exact global heavy hitters.  orderBy+limit
  compiles to TakeOrderedAndProject: each partition keeps its own
  top-k heap and only k rows per partition reach the driver-side
  merge — the scalable form of "global top k", no full sort.
- ``agg_salted_skew`` — two-level salted aggregation for few-group
  skew: events has a handful of event_type values, so a single-level
  groupBy funnels each giant group through one reducer.  Level 1
  aggregates (event_type, salt) — 16-way fan-out of every hot key —
  then level 2 merges the tiny salted partials.  Value sums use
  cent-integer arithmetic so the result is bit-exact and
  order-independent (hash-checkable against DuckDB).
- ``fn_try_arith`` — error-safe arithmetic/casts (try_divide,
  try_cast): NULL-on-failure semantics instead of job-killing
  exceptions — what you want when one malformed row in 100 TB must
  not fail the whole batch.
- ``agg_mode_segment`` — per-nation modal customer segment with a
  deterministic tie-break (count desc, then segment name).  Built
  from count + row_number rather than mode() so tie behavior is
  explicit and identical across engines.

Later additions in this module (each with its own docstring below):
``win_topn_group_limit`` / ``doc_stratified_topk_sample``
(WindowGroupLimit per-group top-k), ``ev_audience_overlap`` (exact
pairwise Jaccard), ``sql_pipe_orders`` (Spark 4 pipe syntax),
``cust_rfm_segments`` (per-nation ntile quartiles), ``ev_stickiness``
(avg-DAU/MAU), ``basket_part_pairs`` (market-basket lift),
``emb_knn_classify`` (5-NN majority vote), ``win_distribution_ranks``
(percent_rank/cume_dist), ``fn_decimal_exact`` (decimal money math),
``set_except_all_priorities`` (bag semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- gaps and islands --------------------------------------------------------

def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-month streaks per customer.

    month_index - row_number is constant within a consecutive run
    (the classic islands trick), so one window pass + two groupBys
    turn the order log into streak stats.  The explicit repartition
    on o_custkey makes the month-dedup aggregate, the window, and
    both downstream groupBys all reuse ONE shuffle: hash(custkey)
    clusters every finer grouping key (custkey, mi)/(custkey, grp),
    so EnsureRequirements inserts no further exchange.  No self-join,
    no range join.
    """
    o = load_table(spark, sf_dir, "orders")
    months = (
        o.select(
            "o_custkey",
            (
                F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")
            ).cast("long").alias("mi"),
        )
        .repartition("o_custkey")
        .dropDuplicates(["o_custkey", "mi"])
    )
    w = Window.partitionBy("o_custkey").orderBy("mi")
    grp = months.withColumn("grp", F.col("mi") - F.row_number().over(w))
    islands = grp.groupBy("o_custkey", "grp").agg(
        F.count("*").alias("run_len")
    )
    return (
        islands.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_islands"),
            F.max("run_len").alias("max_run"),
            F.sum("run_len").cast("bigint").alias("active_months"),
        )
        .orderBy("o_custkey")
    )


WIN_GAPS_ISLANDS_SQL = """
WITH m AS (
  SELECT DISTINCT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi
  FROM orders
), g AS (
  SELECT o_custkey, mi,
         mi - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY mi) AS grp
  FROM m
), isl AS (
  SELECT o_custkey, grp, COUNT(*) AS run_len
  FROM g GROUP BY o_custkey, grp
)
SELECT o_custkey,
       COUNT(*) AS n_islands,
       MAX(run_len) AS max_run,
       CAST(SUM(run_len) AS BIGINT) AS active_months
FROM isl GROUP BY o_custkey ORDER BY o_custkey
"""


# --- training-corpus mixing plan --------------------------------------------

def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan targeting a uniform source mix.

    share = source tokens / corpus tokens; rate = min(1, target/share)
    (undersample over-represented sources, keep the rest whole);
    budget = round(rate * tokens).  All ratios derive from exact
    integer token counts with the same operation order on both
    engines, so doubles are bit-identical.  The corpus total is a
    1-row cross join — broadcast, never a shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("tot_tokens")
    rate = F.least(
        F.lit(1.0), (F.lit(1.0) / F.col("n_sources")) / share
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("share"),
            rate.alias("sample_rate"),
            F.round(rate * F.col("n_tokens")).cast("bigint").alias(
                "budget_tokens"
            ),
        )
        .orderBy("source")
    )


CORPUS_MIX_PLAN_SQL = r"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens, COUNT(*) AS n_sources
  FROM t
)
SELECT source, n_docs, n_tokens,
  CAST(n_tokens AS DOUBLE)/tot_tokens AS share,
  LEAST(1.0, (1.0/n_sources)/(CAST(n_tokens AS DOUBLE)/tot_tokens))
    AS sample_rate,
  CAST(ROUND(LEAST(1.0, (1.0/n_sources)/(CAST(n_tokens AS DOUBLE)/tot_tokens))
             * n_tokens) AS BIGINT) AS budget_tokens
FROM t, tot ORDER BY source
"""


# --- exact global heavy hitters ---------------------------------------------

def ev_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 users by event count, ties broken by user_id.

    groupBy count is partially aggregated map-side; orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k heaps,
    k rows per partition to the merge) — no global sort at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


EV_TOP_USERS_SQL = """
SELECT user_id, COUNT(*) AS n_events
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id ASC LIMIT 10
"""


# --- two-level salted aggregation for skewed groups -------------------------

def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals via (key, salt) partials then merge.

    events has only a handful of event_type values: a plain groupBy
    sends each entire hot group through one reducer task.  Salting on
    xxhash64(event_id) % 16 spreads every hot key over 16 reducers in
    level 1; level 2 merges 16 tiny partial rows per key.  Sums use
    cent integers so the double result is exact and order-free.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    lvl1 = e.groupBy(
        "event_type",
        F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt"),
    ).agg(
        F.count("*").alias("pc"),
        F.sum(cents).alias("pv"),
    )
    return (
        lvl1.groupBy("event_type")
        .agg(
            F.sum("pc").cast("bigint").alias("n_events"),
            (F.sum("pv").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .orderBy("event_type")
    )


AGG_SALTED_SKEW_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- error-safe arithmetic ---------------------------------------------------

def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-on-failure arithmetic: try_divide by a sometimes-zero
    denominator and try_cast of non-numeric text.  One malformed row
    must never kill a 100 TB batch; TRY variants keep the failure
    local to the cell.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 5).cast("double")
        ).alias("safe_ratio"),
        F.regexp_extract(F.col("o_orderpriority"), "[0-9]+", 0)
        .try_cast("bigint")
        .alias("prio_num"),
        F.col("o_orderstatus").try_cast("bigint").alias("status_num"),
    )
    # No global orderBy: the correctness hash is order-insensitive and
    # a presentation sort of the full table would add a range shuffle
    # + total sort for nothing.


FN_TRY_ARITH_SQL = """
SELECT o_orderkey,
       o_totalprice / NULLIF(CAST(o_orderkey % 5 AS DOUBLE), 0.0)
         AS safe_ratio,
       TRY_CAST(regexp_extract(o_orderpriority, '[0-9]+', 0) AS BIGINT)
         AS prio_num,
       TRY_CAST(o_orderstatus AS BIGINT) AS status_num
FROM orders
"""


# --- per-group mode with explicit tie-break ---------------------------------

def agg_mode_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal customer market segment per nation.

    count + row_number instead of mode(): the tie-break (count desc,
    then segment asc) is explicit, so results are deterministic and
    identical across engines.  The window partitions by nation over a
    25 x 5 pre-aggregated table — the heavy lifting happened in the
    partial-aggregated count.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cnt = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").alias("n_cust"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("n_cust"), F.asc("c_mktsegment")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("c_mktsegment").alias("mode_segment"),
            "n_cust",
        )
        .orderBy("n_name")
    )


AGG_MODE_SEGMENT_SQL = """
WITH cnt AS (
  SELECT n_name, c_mktsegment, COUNT(*) AS n_cust
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_mktsegment
), rk AS (
  SELECT n_name, c_mktsegment, n_cust,
         ROW_NUMBER() OVER (
           PARTITION BY n_name ORDER BY n_cust DESC, c_mktsegment ASC
         ) AS rn
  FROM cnt
)
SELECT n_name, c_mktsegment AS mode_segment, n_cust
FROM rk WHERE rn = 1 ORDER BY n_name
"""


# --- per-group top-n via WindowGroupLimit -----------------------------------

def win_topn_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class.

    A row_number-over-window followed by ``rk <= 3`` compiles to
    Spark's WindowGroupLimit: each map task keeps only 3 rows per
    group BEFORE the shuffle, so the exchange carries
    O(groups x k x partitions) rows instead of the full table — the
    built-in distributed top-n-per-group, no manual pre-pruning.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    )


WIN_TOPN_GROUP_LIMIT_SQL = """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rk
  FROM orders
) WHERE rk <= 3 ORDER BY o_orderpriority, rk
"""


# --- audience overlap between event types -----------------------------------

def ev_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise user-audience overlap (exact Jaccard) between event
    types — the classic co-occurrence self-join.

    Dedup to (event_type, user_id), self-join on user_id, count each
    unordered pair once.  Per-user fan-out is bounded by
    C(#event_types, 2), not by user activity, so a hot user costs the
    same as a quiet one.  Audience sizes join back via broadcast
    (one row per event type).  Jaccard derives from exact integer
    counts — bit-identical across engines.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.select("event_type", "user_id").distinct()
    a, b = u.alias("a"), u.alias("b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("et_a"),
            F.col("b.event_type").alias("et_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sizes = u.groupBy("event_type").agg(F.count("*").alias("n_users"))
    out = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("event_type", "et_a")), "et_a"
        )
        .withColumnRenamed("n_users", "n_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "et_b")), "et_b"
        )
        .withColumnRenamed("n_users", "n_b")
    )
    jac = F.col("n_both").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_both")
    )
    return out.select(
        "et_a", "et_b", "n_a", "n_b", "n_both", jac.alias("jaccard")
    ).orderBy("et_a", "et_b")


EV_AUDIENCE_OVERLAP_SQL = """
WITH u AS (
  SELECT DISTINCT event_type, user_id FROM events
), inter AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b, COUNT(*) AS n_both
  FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
), sizes AS (
  SELECT event_type, COUNT(*) AS n_users FROM u GROUP BY event_type
)
SELECT et_a, et_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
       CAST(n_both AS DOUBLE) / (sa.n_users + sb.n_users - n_both) AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = et_a
JOIN sizes sb ON sb.event_type = et_b
ORDER BY et_a, et_b
"""


# --- SQL pipe syntax ---------------------------------------------------------

def sql_pipe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status rollup written in Spark 4 SQL pipe syntax
    (``FROM t |> WHERE |> AGGREGATE |> ORDER BY``) — same Catalyst
    plan as the classic form, different authoring surface.  Money
    sums use cent integers for exact, order-free doubles.
    """
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus <> 'P'
        |> AGGREGATE
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
           GROUP BY o_orderstatus, o_orderpriority
        |> ORDER BY o_orderstatus, o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


SQL_PIPE_ORDERS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
         AS sum_price
FROM orders WHERE o_orderstatus <> 'P'
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


# --- deterministic stratified fixed-size sample ------------------------------

def doc_stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank documents
    within each source by md5(text) (a uniform, content-derived,
    engine-portable pseudo-random key) and keep the first 5.

    Unlike Bernoulli sampling (random COUNT per stratum) this yields
    a fixed-size sample, reproducible across runs and engines.  The
    rank filter compiles to WindowGroupLimit, so each map task
    forwards at most k rows per stratum — reservoir-sampling
    economics out of the stock optimizer.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "rn", "doc_id", "n_chars")
        .orderBy("source", "rn")
    )


DOC_STRATIFIED_TOPK_SQL = """
SELECT source, rn, doc_id, n_chars
FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 5 ORDER BY source, rn
"""


# --- RFM segmentation (per-nation quartiles) --------------------------------

def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quartile segments, scored within
    each nation.

    ntile is partitioned by nation — a global ntile would funnel
    every row through one task; per-nation windows parallelize and
    are usually what marketing wants anyway (scores comparable within
    a market).  Every ordering carries a custkey tie-break so bucket
    assignment is deterministic.  Monetary sums use cent integers.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = (
        o.groupBy("o_custkey")
        .agg(
            (
                F.max(
                    F.year("o_orderdate") * F.lit(12)
                    + F.month("o_orderdate")
                )
            ).cast("long").alias("last_mi"),
            F.count("*").alias("freq"),
            F.sum(cents).alias("monetary_c"),
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    def q(order_cols):
        return F.ntile(4).over(
            Window.partitionBy("n_name").orderBy(*order_cols)
        )
    scored = base.select(
        "n_name",
        "o_custkey",
        q([F.desc("last_mi"), F.asc("o_custkey")]).alias("r_q"),
        q([F.desc("freq"), F.asc("o_custkey")]).alias("f_q"),
        q([F.desc("monetary_c"), F.asc("o_custkey")]).alias("m_q"),
    )
    return (
        scored.groupBy("n_name", "r_q", "f_q", "m_q")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name", "r_q", "f_q", "m_q")
    )


CUST_RFM_SEGMENTS_SQL = """
WITH base AS (
  SELECT n_name, o_custkey,
         CAST(MAX(EXTRACT(year FROM o_orderdate)*12
                  + EXTRACT(month FROM o_orderdate)) AS BIGINT) AS last_mi,
         COUNT(*) AS freq,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS monetary_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
), scored AS (
  SELECT n_name, o_custkey,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY last_mi DESC, o_custkey ASC) AS r_q,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY freq DESC, o_custkey ASC) AS f_q,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY monetary_c DESC, o_custkey ASC) AS m_q
  FROM base
)
SELECT n_name, r_q, f_q, m_q, COUNT(*) AS n_customers
FROM scored GROUP BY n_name, r_q, f_q, m_q
ORDER BY n_name, r_q, f_q, m_q
"""


# --- DAU/MAU stickiness ------------------------------------------------------

def ev_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly engagement: avg daily active users / monthly active
    users.  Two exact-distinct aggregations rolling up the same scan
    (day level then month level); the month-level MAU joins back on
    the month key.  All ratios derive from exact integer counts.
    """
    e = load_table(spark, sf_dir, "events")
    month = F.date_format("ts", "yyyy-MM")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = (
        e.select(month.alias("month"), day.alias("day"), "user_id")
        .groupBy("month", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
    )
    per_month = daily.groupBy("month").agg(
        F.count("*").alias("n_days"),
        F.sum("dau").cast("bigint").alias("sum_dau"),
    )
    mau = (
        e.select(month.alias("month"), "user_id")
        .groupBy("month")
        .agg(F.count_distinct("user_id").alias("mau"))
    )
    avg_dau = F.col("sum_dau").cast("double") / F.col("n_days")
    return (
        per_month.join(mau, "month")
        .select(
            "month",
            "n_days",
            "mau",
            avg_dau.alias("avg_dau"),
            (avg_dau / F.col("mau")).alias("stickiness"),
        )
        .orderBy("month")
    )


EV_STICKINESS_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m') AS month,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1, 2
), pm AS (
  SELECT month, COUNT(*) AS n_days, CAST(SUM(dau) AS BIGINT) AS sum_dau
  FROM daily GROUP BY month
), mm AS (
  SELECT strftime(ts, '%Y-%m') AS month,
         COUNT(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
)
SELECT pm.month, n_days, mau,
       CAST(sum_dau AS DOUBLE)/n_days AS avg_dau,
       (CAST(sum_dau AS DOUBLE)/n_days)/mau AS stickiness
FROM pm JOIN mm ON pm.month = mm.month
ORDER BY pm.month
"""


# --- market-basket pair affinity --------------------------------------------

def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-ordered part pairs with lift.

    Per-order basket arrays (r12, guide §2.4): one shuffle collects
    each order's distinct part set (the dedup lives inside the
    aggregate, replacing the (order, part)-distinct exchange); pair
    fan-out is a map-side double explode — quadratic in basket size,
    which TPC-H bounds at 7, so the pattern scales with sum(basket^2),
    not table^2 — and the former self-join's two order-key exchanges
    disappear.  n_orders and the per-part order counts come from the
    same materialized arrays.  Pair support joins per-part order
    counts (broadcast the small side at this cardinality; sort-merge
    at 100 TB), lift from exact integer counts; top-50 via
    orderBy+limit = TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("pks"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets.select(F.explode("pks").alias("pk_a"), F.col("pks"))
        .select("pk_a", F.explode("pks").alias("pk_b"))
        .filter(F.col("pk_a") < F.col("pk_b"))
        .groupBy("pk_a", "pk_b")
        .agg(F.count("*").alias("n_pair"))
    )
    counts = baskets.select(
        F.explode("pks").alias("l_partkey")
    ).groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    out = (
        pairs.join(
            counts.withColumnRenamed("l_partkey", "pk_a"), "pk_a"
        )
        .withColumnRenamed("n_ord", "n_a")
        .join(counts.withColumnRenamed("l_partkey", "pk_b"), "pk_b")
        .withColumnRenamed("n_ord", "n_b")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        F.col("n_pair").cast("double") * F.col("n_orders").cast("double")
    ) / (F.col("n_a") * F.col("n_b"))
    return (
        out.select("pk_a", "pk_b", "n_pair", "n_a", "n_b", lift.alias("lift"))
        .orderBy(F.desc("n_pair"), F.desc("lift"), "pk_a", "pk_b")
        .limit(50)
    )


BASKET_PART_PAIRS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), no AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
), pairs AS (
  SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b, COUNT(*) AS n_pair
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
), counts AS (
  SELECT l_partkey, COUNT(*) AS n_ord FROM items GROUP BY l_partkey
)
SELECT pk_a, pk_b, n_pair, ca.n_ord AS n_a, cb.n_ord AS n_b,
       CAST(n_pair AS DOUBLE) * CAST(n_orders AS DOUBLE)
         / (ca.n_ord * cb.n_ord) AS lift
FROM pairs
JOIN counts ca ON ca.l_partkey = pk_a
JOIN counts cb ON cb.l_partkey = pk_b
CROSS JOIN no
ORDER BY n_pair DESC, lift DESC, pk_a, pk_b LIMIT 50
"""


# --- kNN majority-vote classification ---------------------------------------

def emb_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label prediction by 5-NN majority vote over exact cosine
    neighbors — the eval-time counterpart of the ANN queries.

    Scorer is the blocked-GEMM `brute_force_topk_pandas` with exact
    per-batch candidate pruning (per_batch_topk=k): one int64 matmul
    per Arrow batch against the broadcast query matrix, and only
    ~batches x queries x k candidate rows shuffle into the final top-k
    window — bit-identical to the expression `brute_force_topk` twin
    (pytest-asserted in tests/test_operators.py), which stays in-repo
    as the verification path.  Vote: deterministic (votes desc, label
    asc) tie-break.  The approximate scale path swaps in the IVF/LSH
    scorers without touching the vote logic.
    """
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter((F.col("vec_id") % 20) == 0)
    topk = S.brute_force_topk_pandas(
        e, queries, k=5, per_batch_topk=5, carry_cols={"label": "int"}
    )
    votes = topk.groupBy("query_id", "label").agg(
        F.count("*").alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("label").cast("int").alias("pred_label"),
            "votes",
        )
        .orderBy("query_id")
    )


def _knn_classify_sql() -> str:
    from planning_center_data_pipeline_spark.operators.similarity import (
        Q_SCALE,
    )

    dims = 64
    return f"""
WITH qv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {dims})) AS i
        FROM embeddings WHERE vec_id % 20 = 0)
), cv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {dims})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM cv GROUP BY vec_id
), dots AS (
  SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
         CAST(SUM(qv.v * cv.v) AS BIGINT) AS dot
  FROM qv JOIN cv USING (i)
  WHERE qv.vec_id <> cv.vec_id
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq AS DOUBLE))
           / sqrt(CAST(nn.nsq AS DOUBLE)) AS cosine
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nn ON nn.vec_id = neighbor_id
), topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 5
), v AS (
  SELECT t.query_id, e.label, COUNT(*) AS votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY 1, 2
)
SELECT query_id, CAST(label AS INTEGER) AS pred_label, votes FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, label ASC) AS rn
  FROM v
) WHERE rn = 1 ORDER BY query_id
"""


# --- distribution ranks ------------------------------------------------------

def win_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per nation over account balances
    (top-5 rows per nation kept).  Both are exact rational functions
    of integer rank/count, so the doubles are bit-identical across
    engines; the rank<=5 cut still compiles to WindowGroupLimit.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("c_nationkey", "rn")
    )


WIN_DISTRIBUTION_RANKS_SQL = """
SELECT c_nationkey, c_custkey, rn, pr, cd FROM (
  SELECT c_nationkey, c_custkey,
         ROW_NUMBER() OVER w AS rn,
         PERCENT_RANK() OVER w AS pr,
         CUME_DIST() OVER w AS cd
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey ASC)
) WHERE rn <= 5 ORDER BY c_nationkey, rn
"""


# --- decimal-exact arithmetic ------------------------------------------------

def fn_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math in DECIMAL instead of cent-int tricks: cast prices
    and discounts to DECIMAL(18,2), multiply (exact scale growth to
    (38,4)), sum exactly, convert to double only at the edge.  The
    engine's decimal path is the type-system answer to float drift;
    the cent-integer pattern used elsewhere is the shuffle-cheaper
    twin of the same guarantee.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    net = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(price).cast("double").alias("gross_sum"),
            F.sum(net).cast("double").alias("net_sum"),
        )
        .orderBy("l_returnflag")
    )


FN_DECIMAL_EXACT_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS gross_sum,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS net_sum
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- multiset set operations -------------------------------------------------

def set_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, duplicates preserved) between
    two years' order-priority bags, re-aggregated to counts.  The
    distinct-set cousins (INTERSECT/EXCEPT) live in
    set_customer_years; this covers the bag semantics.
    """
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS surplus FROM (
          SELECT o_orderpriority FROM {orders}
          WHERE year(o_orderdate) = 1997
          EXCEPT ALL
          SELECT o_orderpriority FROM {orders}
          WHERE year(o_orderdate) = 1996
        ) GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


SET_EXCEPT_ALL_SQL = """
SELECT o_orderpriority, COUNT(*) AS surplus FROM (
  SELECT o_orderpriority FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1997
  EXCEPT ALL
  SELECT o_orderpriority FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1996
) t GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


QUERIES = {
    "win_gaps_islands": win_gaps_islands,
    "corpus_mix_plan": corpus_mix_plan,
    "ev_top_users": ev_top_users,
    "agg_salted_skew": agg_salted_skew,
    "fn_try_arith": fn_try_arith,
    "agg_mode_segment": agg_mode_segment,
    "win_topn_group_limit": win_topn_group_limit,
    "ev_audience_overlap": ev_audience_overlap,
    "sql_pipe_orders": sql_pipe_orders,
    "doc_stratified_topk_sample": doc_stratified_topk_sample,
    "cust_rfm_segments": cust_rfm_segments,
    "ev_stickiness": ev_stickiness,
    "basket_part_pairs": basket_part_pairs,
    "emb_knn_classify": emb_knn_classify,
    "win_distribution_ranks": win_distribution_ranks,
    "fn_decimal_exact": fn_decimal_exact,
    "set_except_all_priorities": set_except_all_priorities,
}

ORACLES = {
    "win_gaps_islands": WIN_GAPS_ISLANDS_SQL,
    "corpus_mix_plan": CORPUS_MIX_PLAN_SQL,
    "ev_top_users": EV_TOP_USERS_SQL,
    "agg_salted_skew": AGG_SALTED_SKEW_SQL,
    "fn_try_arith": FN_TRY_ARITH_SQL,
    "agg_mode_segment": AGG_MODE_SEGMENT_SQL,
    "win_topn_group_limit": WIN_TOPN_GROUP_LIMIT_SQL,
    "ev_audience_overlap": EV_AUDIENCE_OVERLAP_SQL,
    "sql_pipe_orders": SQL_PIPE_ORDERS_SQL,
    "doc_stratified_topk_sample": DOC_STRATIFIED_TOPK_SQL,
    "cust_rfm_segments": CUST_RFM_SEGMENTS_SQL,
    "ev_stickiness": EV_STICKINESS_SQL,
    "basket_part_pairs": BASKET_PART_PAIRS_SQL,
    "emb_knn_classify": _knn_classify_sql(),
    "win_distribution_ranks": WIN_DISTRIBUTION_RANKS_SQL,
    "fn_decimal_exact": FN_DECIMAL_EXACT_SQL,
    "set_except_all_priorities": SET_EXCEPT_ALL_SQL,
}
