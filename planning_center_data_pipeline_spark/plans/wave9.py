"""Round-6 wave 9: privacy auditing, robust statistics, market-basket
apriori, share-of-parent dashboards, SLA percentiles, and
truncated-dimension embedding evaluation.

- priv_k_anonymity: the re-identification risk report (k-anonymity
  class-size histogram over quasi-identifiers) every privacy review
  runs before a dataset ships.
- stat_trimmed_mean: 5-95% trimmed mean by group — the robust-stats
  sibling of ev_mad_outliers, exact via integer cents and the
  two-pass cutoff-then-filter shape.
- ev_basket_triples: frequent 3-itemsets via the apriori candidate
  prune (L1 -> L2 -> C3 semi-joins); the final exact recount makes
  the output independent of how aggressive the prune was.
- win_share_of_parent: nation revenue share within region and
  globally — the percent-of-parent drilldown staple.
- li_ship_sla_percentiles: order->ship lag p50/p90/p99 and
  %-within-30-days by order priority (exact interpolated percentiles
  over integer days).
- emb_dim_trunc_recall: Matryoshka-style evaluation — how much of the
  full 64-dim top-5 neighbourhood survives truncation to the first 16
  dims (recall@5 per query, exact int64 dot products on both sides).

All six carry full DuckDB oracles on the repo-standard portable
primitives (scaled-int64 cents/components, integer day diffs,
count-ratio doubles rounded once at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- k-anonymity class-size audit --------------------------------------------

_KANON_K = 5


def priv_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account-balance band): the size histogram of
    equivalence classes, flagging classes smaller than k=5 — exactly
    the table a privacy review reads to decide whether a column set
    can be released.

    The balance band is an integer 1000-unit bucket over cents,
    shifted positive first so truncating division is sign-safe
    (Spark DIV and DuckDB // both truncate toward zero).

    Plan shape: two cheap groupBys (classes, then class sizes) — the
    first shuffles on the QI tuple, the second on an integer; nothing
    is collected and no window spans the whole table, so the audit
    runs unchanged over a 100 TB membership table.
    """
    c = load_table(spark, sf_dir, "customer")
    classes = (
        c.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                f"(CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) DIV 100000"
            ).alias("band"),
        )
        .groupBy("nat", "seg", "band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return (
        classes.groupBy("class_size")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_people"),
        )
        .withColumn(
            "at_risk", (F.col("class_size") < _KANON_K).cast("int")
        )
        .orderBy("class_size")
    )


PRIV_K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         (CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) // 100000 AS band,
         COUNT(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT class_size, COUNT(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_people,
       CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END AS at_risk
FROM classes GROUP BY class_size ORDER BY class_size
"""


# --- trimmed mean ------------------------------------------------------------


def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-95% trimmed mean of extended price by return flag: exact
    interpolated percentile cutoffs over integer cents (identical
    IEEE interpolation in any engine), then an integer sum over the
    surviving rows — one rounding at the very end.

    Plan shape: cutoffs come from a 3-row aggregate that broadcasts
    back onto the fact scan (aggregate-shrunk, so the broadcast is
    size-safe by construction); the second pass filters and sums
    map-side.  Two scans beat sorting every group at 100 TB.

    Parallelism floor (r12, guide §2.5): both passes stack directly on
    the scan; a single-row-group input runs the exact-percentile
    buffer AND the filtered sum on ONE core.  cpu_floor spreads them
    across the box; a no-op at real scale (percentile/sum are
    order-free, results unchanged).
    """
    li = cpu_floor(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    c = cents("l_extendedprice")
    cut = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.percentile(c, F.lit(0.05)).alias("lo"),
        F.percentile(c, F.lit(0.95)).alias("hi"),
    )
    return (
        li.select(F.col("l_returnflag").alias("rf"), c.alias("v"))
        .join(F.broadcast(cut), "rf")
        .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("rf")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)) / 100.0, 6
            ).alias("trimmed_mean"),
        )
        .orderBy("rf")
    )


STAT_TRIMMED_MEAN_SQL = """
WITH v AS (
  SELECT l_returnflag AS rf,
         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v
  FROM lineitem
), cut AS (
  SELECT rf, quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
  FROM v GROUP BY rf
)
SELECT v.rf, COUNT(*) AS n_kept,
       ROUND(CAST(SUM(v.v) AS DOUBLE) / COUNT(*) / 100.0, 6)
         AS trimmed_mean
FROM v JOIN cut ON cut.rf = v.rf
WHERE v.v >= cut.lo AND v.v <= cut.hi
GROUP BY v.rf ORDER BY v.rf
"""


# --- apriori frequent triples ------------------------------------------------

_SUP_DIV = 20  # minsup = ceil(n_baskets / 20) via cnt*20 >= n_baskets


def ev_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type 3-itemsets over (user, day) baskets via the
    apriori prune: L1 (frequent types) -> L2 (frequent pairs) -> C3
    (pair-joined candidates, pruned by the third face's membership in
    L2) -> exact recount of candidates only.

    The output is EXACTLY the set of triples with support >=
    n_baskets/20 — the prune only shrinks what the final count has to
    touch (monotonicity: every face of a frequent triple is itself
    frequent).  All support tests are integer cross-multiplications.

    Plan shape (r13 rewrite, guide §2.3/§2.4 — the basket_part_pairs
    precedent): baskets are built as SORTED DISTINCT-TYPE ARRAYS in
    one shuffle (dedup inside the aggregate replaces the former
    (user, day, type)-distinct exchange, and n_baskets = count of the
    rollup rows replaces a second distinct pass); every itemset stage
    then derives MAP-SIDE from in-row combination explodes over the
    arrays + broadcast semi-joins against the enum-sized L1/L2/C3
    tables.  The former basket self-joins (pair_inst = b1 x b1 and the
    triple extension pair_inst x b1, each re-exchanging the basket
    table on (user, day)) are gone — after the basket rollup nothing
    larger than enum^2 partial-aggregate rows is shuffled.  Per-basket
    arrays are bounded by the event-type enum (|types| distinct values
    per (user, day)), so the in-row C(k,3) explode is constant-bounded
    at any SF.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.col("event_type").alias("t"),
        )
        .groupBy("user_id", "d")
        .agg(F.sort_array(F.collect_set("t")).alias("tarr"))
        .localCheckpoint(eager=False)
    )
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))  # 1 row
    sup = lambda cnt: cnt * _SUP_DIV >= F.col("n_b")  # noqa: E731
    l1 = (
        b.select(F.explode("tarr").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nb))
        .filter(sup(F.col("c")))
        .select("t")
    )
    l1a = l1.agg(F.sort_array(F.collect_set("t")).alias("l1s"))  # 1 row
    # array_intersect(sorted tarr, l1s) keeps first-arg order: still
    # sorted, still distinct — the L1 semi-join, now in-row.
    b1 = b.crossJoin(F.broadcast(l1a)).select(
        F.array_intersect("tarr", "l1s").alias("tarr")
    )
    pair_inst = (
        b1.select("tarr", F.explode("tarr").alias("t1"))
        .select("tarr", "t1", F.explode("tarr").alias("t2"))
        .where(F.col("t1") < F.col("t2"))
    )
    l2 = (
        pair_inst.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nb))
        .filter(sup(F.col("c")))
        .select("t1", "t2")
    )
    c3 = (
        l2.alias("x")
        .join(
            l2.alias("y"),
            (F.col("x.t1") == F.col("y.t1")) & (F.col("x.t2") < F.col("y.t2")),
        )
        .select(
            F.col("x.t1").alias("t1"),
            F.col("x.t2").alias("t2"),
            F.col("y.t2").alias("t3"),
        )
        # apriori prune: the (t2, t3) face must itself be frequent
        .join(
            F.broadcast(l2.select(F.col("t1").alias("t2"), F.col("t2").alias("t3"))),
            ["t2", "t3"],
            "left_semi",
        )
    )
    tri = (
        pair_inst.join(F.broadcast(l2), ["t1", "t2"], "left_semi")
        .select("t1", "t2", F.explode("tarr").alias("t3"))
        .where(F.col("t2") < F.col("t3"))
        .join(F.broadcast(c3), ["t1", "t2", "t3"], "left_semi")
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("support"))
        .crossJoin(F.broadcast(nb))
        .filter(sup(F.col("support")))
        .select("t1", "t2", "t3", "support")
        .orderBy("t1", "t2", "t3")
    )
    return tri


EV_BASKET_TRIPLES_SQL = f"""
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type AS t
  FROM events
), nb AS (
  SELECT COUNT(*) AS n_b FROM (SELECT DISTINCT user_id, d FROM b)
)
SELECT a.t AS t1, x.t AS t2, y.t AS t3, COUNT(*) AS support
FROM b a
JOIN b x ON x.user_id = a.user_id AND x.d = a.d AND a.t < x.t
JOIN b y ON y.user_id = a.user_id AND y.d = a.d AND x.t < y.t
GROUP BY 1, 2, 3
HAVING COUNT(*) * {_SUP_DIV} >= (SELECT n_b FROM nb)
ORDER BY t1, t2, t3
"""


# --- share-of-parent revenue drilldown ---------------------------------------


def win_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation revenue with its share of the region subtotal and of the
    global total — the percent-of-parent drilldown every BI tool
    renders.  Revenue aggregates as integer cents; both shares divide
    exact integers as doubles, rounded once.

    The two windows run over the 25-row nation rollup (cardinality =
    the dimension, not the data) — the global window's single
    partition holds 25 rows by construction.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents("o_totalprice")).alias("tc"))
    )
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    share = lambda part: F.round(  # noqa: E731
        F.lit(100.0) * F.col("tc") / F.sum("tc").over(part).cast("double"), 6
    )
    return per_nation.select(
        "region",
        "nation",
        (F.col("tc").cast("double") / 100.0).alias("revenue"),
        share(w_reg).alias("share_of_region_pct"),
        share(w_all).alias("share_of_global_pct"),
    ).orderBy("region", "nation")


WIN_SHARE_OF_PARENT_SQL = """
WITH per_nation AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS tc
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       CAST(tc AS DOUBLE)/100.0 AS revenue,
       ROUND(100.0 * tc / CAST(SUM(tc) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS share_of_region_pct,
       ROUND(100.0 * tc / CAST(SUM(tc) OVER () AS DOUBLE), 6)
         AS share_of_global_pct
FROM per_nation ORDER BY region, nation
"""


# --- order->ship SLA percentiles ---------------------------------------------


def li_ship_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag SLA by order priority: p50/p90/p99 of the
    integer day lag (exact interpolated percentiles) plus the share
    shipped within 30 days.  One fact-fact equi-join on the order key,
    one groupBy — the canonical SLA dashboard at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.datediff("l_shipdate", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"), lag.alias("lag_d")
    )
    pct = F.percentile("lag_d", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.element_at(pct, 1).alias("p50_days"),
            F.element_at(pct, 2).alias("p90_days"),
            F.element_at(pct, 3).alias("p99_days"),
            F.round(
                F.sum((F.col("lag_d") <= 30).cast("bigint")).cast("double")
                / F.count(F.lit(1))
                * 100.0,
                6,
            ).alias("within_30d_pct"),
        )
        .orderBy("priority")
    )


LI_SHIP_SLA_PERCENTILES_SQL = """
WITH j AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority, COUNT(*) AS n_lines,
       quantile_cont(lag_d, 0.5) AS p50_days,
       quantile_cont(lag_d, 0.9) AS p90_days,
       quantile_cont(lag_d, 0.99) AS p99_days,
       ROUND(CAST(SUM(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 100.0, 6) AS within_30d_pct
FROM j GROUP BY priority ORDER BY priority
"""


# --- truncated-dimension recall (Matryoshka evaluation) ----------------------

_TRUNC_DIMS = 16
_FULL_DIMS = 64
_TRUNC_K = 5


def emb_dim_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: for each probe vector
    (vec_id % 25 == 0), how many of its exact full-64-dim cosine top-5
    neighbours survive in the top-5 computed from only the FIRST 16
    dims?  recall@5 per query — the measurement that justifies (or
    vetoes) shipping truncated embeddings to cut ANN index cost 4x.

    Both rankings use exact int64 dot products over 1e6-quantized
    components; cosines divide identical operands, so ordering is
    engine-portable.  Ties break to the smaller neighbour id.

    Plan shape: the probe side (bounded by the %25 predicate) is the
    broadcast cross-score side, the corpus streams — same asymmetry as
    emb_topk_cosine; both rankings come from ONE pass over the pair
    stream (two aggregates per pair), so the corpus is scanned once.
    """
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")

    def norms(df, prefix):
        vf = S.quantized(F.col("embedding"))
        vt = S.quantized(F.slice("embedding", 1, _TRUNC_DIMS))
        ssq = lambda col: F.aggregate(  # noqa: E731
            col, F.lit(0).cast("bigint"), lambda a, x: a + x * x
        )
        return df.select(
            F.col("vec_id").alias(f"{prefix}id"),
            vf.alias(f"{prefix}vf"),
            vt.alias(f"{prefix}vt"),
            ssq(vf).alias(f"{prefix}nf"),
            ssq(vt).alias(f"{prefix}nt"),
        )

    corpus = norms(e, "c")
    probes = norms(e.filter(F.col("vec_id") % 25 == 0), "q")
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        corpus.join(F.broadcast(probes), F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (
                dot(F.col("qvf"), F.col("cvf"))
                / F.sqrt(F.col("qnf"))
                / F.sqrt(F.col("cnf"))
            ).alias("cos_full"),
            (
                dot(F.col("qvt"), F.col("cvt"))
                / F.sqrt(F.col("qnt"))
                / F.sqrt(F.col("cnt"))
            ).alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"), "cid")
    wt = Window.partitionBy("qid").orderBy(F.desc("cos_trunc"), "cid")
    ranked = pairs.select(
        "qid",
        "cid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    top_full = ranked.filter(F.col("rf") <= _TRUNC_K)
    top_trunc = ranked.filter(F.col("rt") <= _TRUNC_K).select(
        "qid", "cid", F.lit(1).alias("hit")
    )
    return (
        top_full.join(top_trunc, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("n_overlap"))
        .select(
            F.col("qid").alias("query_id"),
            "n_overlap",
            (F.col("n_overlap") / F.lit(float(_TRUNC_K))).alias("recall_at5"),
        )
        .orderBy("query_id")
    )


EMB_DIM_TRUNC_RECALL_SQL = f"""
WITH cv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, {_FULL_DIMS})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id,
         CAST(SUM(v*v) AS BIGINT) AS nf,
         CAST(SUM(CASE WHEN i <= {_TRUNC_DIMS} THEN v*v ELSE 0 END)
              AS BIGINT) AS nt
  FROM cv GROUP BY vec_id
), pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CAST(SUM(q.v * c.v) AS BIGINT) AS dot_f,
         CAST(SUM(CASE WHEN q.i <= {_TRUNC_DIMS} THEN q.v * c.v ELSE 0 END)
              AS BIGINT) AS dot_t
  FROM cv q JOIN cv c ON c.i = q.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id % 25 = 0
  GROUP BY 1, 2
), scored AS (
  SELECT p.qid, p.cid,
         p.dot_f / sqrt(nq.nf) / sqrt(nc.nf) AS cos_full,
         p.dot_t / sqrt(nq.nt) / sqrt(nc.nt) AS cos_trunc
  FROM pairs p
  JOIN norms nq ON nq.vec_id = p.qid
  JOIN norms nc ON nc.vec_id = p.cid
), ranked AS (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_full DESC, cid) AS rf,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos_trunc DESC, cid) AS rt
  FROM scored
)
SELECT f.qid AS query_id,
       CAST(COUNT(t.cid) AS BIGINT) AS n_overlap,
       COUNT(t.cid) / {float(_TRUNC_K)} AS recall_at5
FROM ranked f
LEFT JOIN ranked t ON t.qid = f.qid AND t.cid = f.cid
                  AND t.rt <= {_TRUNC_K}
WHERE f.rf <= {_TRUNC_K}
GROUP BY f.qid
ORDER BY query_id
"""


QUERIES = {
    "priv_k_anonymity": priv_k_anonymity,
    "stat_trimmed_mean": stat_trimmed_mean,
    "ev_basket_triples": ev_basket_triples,
    "win_share_of_parent": win_share_of_parent,
    "li_ship_sla_percentiles": li_ship_sla_percentiles,
    "emb_dim_trunc_recall": emb_dim_trunc_recall,
}

ORACLES = {
    "priv_k_anonymity": PRIV_K_ANONYMITY_SQL,
    "stat_trimmed_mean": STAT_TRIMMED_MEAN_SQL,
    "ev_basket_triples": EV_BASKET_TRIPLES_SQL,
    "win_share_of_parent": WIN_SHARE_OF_PARENT_SQL,
    "li_ship_sla_percentiles": LI_SHIP_SLA_PERCENTILES_SQL,
    "emb_dim_trunc_recall": EMB_DIM_TRUNC_RECALL_SQL,
}
