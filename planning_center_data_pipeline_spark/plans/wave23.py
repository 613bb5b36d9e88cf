"""Round-7 wave 23: three operators with non-obvious distributed forms.

- graph_bipartite_kcore_rounds: alternating degree-peel on the
  supplier<->part bipartite graph (dense-core mining, the standard
  pre-filter before collaborative filtering) — four unrolled rounds at
  data-derived integer thresholds, reported as per-round survivor
  counts.
- sup_lead_time_trend: per-supplier OLS slope of shipping lead time
  over order date (grouped regression from exact int64 moments — is a
  supplier getting slower?).
- ord_queue_wait_closed_form: single-server-per-priority queue
  backlog simulation — the sequential recursion
  c_i = max(a_i, c_{i-1}) + 1 has the closed form
  c_i = i + 1 + runmax(a_j - j), so the "inherently serial" discrete
  event simulation becomes one window running-max (the same
  prefix-extremum trick as the CUSUM plan).

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- bipartite k-core rounds ----------------------------------------------------

_KCORE_ROUNDS = 4


def graph_bipartite_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating degree-peel on the supplier<->part bipartite graph
    (distinct lineitem pairs): each round drops suppliers with fewer
    than k_s distinct surviving parts, then parts with fewer than k_p
    distinct surviving suppliers.  Thresholds are the ceiling average
    degrees of the ROUND-0 graph (k = ceil(E/n), exact integers), so
    they derive from the data identically on both engines.  Output:
    one row per round with surviving supplier/part/edge counts — the
    convergence trace of the dense-core extraction CF pipelines run
    before factorization.

    Scale shape: each round is two degree aggregations + two semi
    joins, all keyed on supplier/part ids (ordinary shuffles, no
    cross products).  Every round's surviving edge set is MATERIALIZED
    once (eager localCheckpoint, the established iterative-plan
    pattern): without it the unrolled lineage makes round r's stats
    recompute rounds 0..r-1 from scratch — measured 39 s -> ~3 s at
    sf0.01.  Edge sets only shrink, so the per-round materialization
    cost is monotonically decreasing; thresholds are two driver-side
    ints from one bounded aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e, ns, np_ = edges.agg(
        F.count(F.lit(1)),
        F.countDistinct("s"),
        F.countDistinct("p"),
    ).first()
    ks = (e + ns - 1) // ns
    kp = (e + np_ - 1) // np_

    def stats(ed: DataFrame, rnd: int) -> DataFrame:
        return ed.agg(
            F.lit(rnd).cast("long").alias("round"),
            F.countDistinct("s").cast("bigint").alias("n_suppliers"),
            F.countDistinct("p").cast("bigint").alias("n_parts"),
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        )

    out = stats(edges, 0)
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        s_keep = (
            cur.groupBy("s")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= ks)
            .select("s")
        )
        step = cur.join(s_keep, "s")
        p_keep = (
            step.groupBy("p")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= kp)
            .select("p")
        )
        # r12 (guide §5): eager=False — the lazy checkpoint truncates
        # lineage identically (round r still materializes once and is
        # reused by round r+1 and its stats branch) but removes four
        # blocking driver round-trips; the one final action drives the
        # whole peel cascade.  A/B'd in-session: 2.34 -> 2.16 s warm
        # (modest here; the driver-blocking removal is the scale story).
        cur = step.join(p_keep, "p").localCheckpoint(eager=False)
        out = out.unionByName(stats(cur, r))
    return out.orderBy("round")


def _kcore_oracle() -> str:
    # Every CTE is AS MATERIALIZED: DuckDB otherwise re-inlines the
    # round chain into each stats branch (and into later rounds),
    # exploding the plan exponentially — measured 310 s -> 0.1 s at
    # sf0.1 with identical results.
    peel = []
    prev = "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        peel.append(
            f"""s{r} AS MATERIALIZED (
  SELECT s FROM {prev} GROUP BY s
  HAVING COUNT(*) >= (SELECT ks FROM k)
), t{r} AS MATERIALIZED (
  SELECT {prev}.s, {prev}.p FROM {prev} JOIN s{r} USING (s)
), p{r} AS MATERIALIZED (
  SELECT p FROM t{r} GROUP BY p
  HAVING COUNT(*) >= (SELECT kp FROM k)
), e{r} AS MATERIALIZED (
  SELECT t{r}.s, t{r}.p FROM t{r} JOIN p{r} USING (p)
)"""
        )
        prev = f"e{r}"
    rounds = "\nUNION ALL\n".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_suppliers,
       CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM e{r}"""
        for r in range(0, _KCORE_ROUNDS + 1)
    )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), k AS MATERIALIZED (
  SELECT (COUNT(*) + COUNT(DISTINCT s) - 1) // COUNT(DISTINCT s) AS ks,
         (COUNT(*) + COUNT(DISTINCT p) - 1) // COUNT(DISTINCT p) AS kp
  FROM e0
), {", ".join(peel)}
SELECT * FROM ({rounds}) ORDER BY round
"""


# --- grouped OLS lead-time trend -------------------------------------------------


def sup_lead_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier OLS slope of shipping lead time (ship date - order
    date, days) against order date (epoch days): a positive slope =
    the supplier is getting slower.  Grouped regression from exact
    int64 moments (n, Sx, Sy, Sxy, Sxx); the final
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is computed in DOUBLE — the
    moments convert exactly (< 2^53) and IEEE mult/sub/div are
    correctly rounded, so both engines produce identical bits.
    One shuffle on suppkey.  Sampled suppliers (% 13 = 0) keep the
    output bounded; degenerate groups (n < 2 or zero variance) drop."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 13 == 0)
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("y"),
    )
    m = j.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return (
        m.filter((F.col("n") >= 2) & (den != 0.0))
        .select(
            "suppkey",
            "n",
            (num / den).alias("slope_days_per_day"),
            (F.col("sy").cast("double") / F.col("n").cast("double")).alias(
                "mean_lead_days"
            ),
        )
        .orderBy("suppkey")
    )


SUP_LEAD_TIME_TREND_SQL = """
WITH j AS (
  SELECT l_suppkey AS suppkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS y
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 13 = 0
), m AS (
  SELECT suppkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM j GROUP BY suppkey
)
SELECT suppkey, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_days_per_day,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lead_days
FROM m
WHERE n >= 2
  AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
ORDER BY suppkey
"""


# --- queue wait via prefix-extremum closed form -----------------------------------


def ord_queue_wait_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-server queue backlog per order priority: orders arrive at
    a_i = epoch day of o_orderdate (FIFO within priority, tie-broken by
    orderkey) and each takes one day of service.  The completion
    recursion c_i = max(a_i, c_{i-1}) + 1 looks inherently serial, but
    substituting b_j = a_j - j gives the closed form
    c_i = i + 1 + max_{j<=i} b_j — so the whole discrete-event
    simulation is ONE window running-max (the prefix-extremum trick,
    cf. the CUSUM plan), fully parallel per priority class.  Output:
    per-priority backlog summary (n, max wait, mean wait) — a capacity
    stress metric (waits grow when arrival rate exceeds 1/day).
    Exactness: waits are pure int64; the mean is one double division."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("a"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy("a", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    waits = (
        o.withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("b", F.col("a") - F.col("i"))
        .withColumn("runmax_b", F.max("b").over(wrun))
        # wait = c_i - a_i - 1 = i + runmax(b) - a  (>= 0 by construction)
        .withColumn("wait", F.col("i") + F.col("runmax_b") - F.col("a"))
    )
    return (
        waits.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.max("wait").cast("bigint").alias("max_wait_days"),
            F.sum("wait").cast("bigint").alias("total_wait_days"),
        )
        .withColumn(
            "mean_wait_days",
            F.col("total_wait_days").cast("double")
            / F.col("n_orders").cast("double"),
        )
        .orderBy("priority")
    )


ORD_QUEUE_WAIT_SQL = """
WITH o AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS a,
         o_orderkey
  FROM orders
), numbered AS (
  SELECT priority, a, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY a, o_orderkey) AS i
  FROM o
), w AS (
  SELECT priority, a, i,
         MAX(a - i) OVER (PARTITION BY priority ORDER BY a, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmax_b
  FROM numbered
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(i + runmax_b - a) AS BIGINT) AS max_wait_days,
       CAST(SUM(i + runmax_b - a) AS BIGINT) AS total_wait_days,
       CAST(SUM(i + runmax_b - a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_wait_days
FROM w GROUP BY priority ORDER BY priority
"""


QUERIES = {
    "graph_bipartite_kcore_rounds": graph_bipartite_kcore_rounds,
    "sup_lead_time_trend": sup_lead_time_trend,
    "ord_queue_wait_closed_form": ord_queue_wait_closed_form,
}

ORACLES = {
    "graph_bipartite_kcore_rounds": _kcore_oracle(),
    "sup_lead_time_trend": SUP_LEAD_TIME_TREND_SQL,
    "ord_queue_wait_closed_form": ORD_QUEUE_WAIT_SQL,
}
