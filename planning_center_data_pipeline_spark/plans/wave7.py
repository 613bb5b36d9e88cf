"""Round-6 continuation wave: spatial, graph-traversal, and
training-pair surface that was still missing from SURVEY.md §2.10's
"operations a large-scale training-data pipeline needs".

- geo_radius_pairs: grid-bucketed EXACT radius self-join (the spatial
  join pattern: bucket by cell, probe 3x3 neighborhood, never all
  pairs).
- graph_bfs_hops: multi-source BFS min-hop over the bipartite
  customer-part co-purchase graph; the oracle is a genuine recursive
  CTE, the Spark side a bounded iterative frontier expansion.
- rec_contrastive_pairs: positive/negative training-pair generation
  with deterministic hash negatives (the recsys/contrastive-learning
  data op).
- doc_kfold_split: leakage-aware k-fold assignment keyed on CONTENT
  hash, so byte-identical duplicates can never straddle a train/eval
  fold boundary.
- ts_ewma_spend: exponentially-weighted recent spend in exact scaled
  integers (alpha=1/2, window 8) — order-free and engine-portable.

All five carry full DuckDB oracles; every hash/rounding trick is the
repo-standard portable md5-60 / scaled-int64 arithmetic
(operators/dedup.md5_hash60, functions/exact.cents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, sql_cents
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- spatial: grid-bucketed exact radius join --------------------------------

_GEO_R = 2500  # radius; also the grid cell edge, so 3x3 cells cover it
_GEO_SPAN = 1_000_000  # coordinate domain [0, 1e6)


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic point per customer: x/y are independent
    md5-60 draws over [0, 1e6) — portable to the oracle verbatim."""
    key = F.col("c_custkey").cast("string")
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (md5_hash60(key, seed="x") % _GEO_SPAN).alias("x"),
        (md5_hash60(key, seed="y") % _GEO_SPAN).alias("y"),
    )


def geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within Euclidean distance R, found by a grid
    join — the canonical distributed spatial join.

    Plan shape: each point lands in ONE build cell (cell = coords DIV
    R); the probe side fans out to its 3x3 cell neighborhood (bounded
    9x row inflation), the join is a plain equi-join on (cx, cy), and
    the exact integer distance predicate prunes the candidates.  An
    unordered pair meets exactly once per direction, so `a.k < b.k`
    keeps exactly one row — no dedup pass.  At 100 TB this shuffles on
    cell ids (uniform by construction here; salt a hot cell if the
    real data clusters), and candidate count scales with local density
    times N, never N^2.  Distance math is int64 throughout: exact, no
    trig/libm parity risk (why we ship a planar grid join rather than
    a haversine variant).
    """
    pts = _geo_points(spark, sf_dir)
    build = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x DIV {_GEO_R}").alias("cx"),
        F.expr(f"y DIV {_GEO_R}").alias("cy"),
    )
    probe = (
        pts.select(
            "k",
            "x",
            "y",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
        )
        .select(
            "k",
            "x",
            "y",
            "dx",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        )
        .select(
            F.col("k").alias("ka"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.expr(f"x DIV {_GEO_R}") + F.col("dx")).alias("cx"),
            (F.expr(f"y DIV {_GEO_R}") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["cx", "cy"])
        .filter((F.col("ka") < F.col("kb")) & (d2 <= F.lit(_GEO_R * _GEO_R)))
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            d2.alias("dist2"),
        )
        .orderBy("key_a", "key_b")
    )


def _geo_pts_sql() -> str:
    h = "CAST('0x' || substr(md5({seed} || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"""
  SELECT c_custkey AS k,
         {h.format(seed="'x|'")} % {_GEO_SPAN} AS x,
         {h.format(seed="'y|'")} % {_GEO_SPAN} AS y
  FROM customer"""


GEO_RADIUS_PAIRS_SQL = f"""
WITH pts AS ({_geo_pts_sql()})
SELECT a.k AS key_a, b.k AS key_b,
       (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
FROM pts a JOIN pts b
  ON b.x BETWEEN a.x - {_GEO_R} AND a.x + {_GEO_R}
 AND b.y BETWEEN a.y - {_GEO_R} AND a.y + {_GEO_R}
 AND a.k < b.k
 AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {_GEO_R * _GEO_R}
ORDER BY key_a, key_b
"""


# --- graph: multi-source BFS min-hop -----------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to depth 4 over the bipartite customer-part
    co-purchase graph; output = nodes first reached at each hop.

    Node ids: customers -> 2k, parts -> 2k+1.  Seeds: customers with
    custkey % 300 == 0 (hop 0).  Because the graph is bipartite, hops
    strictly alternate customer/part, so the visited check for level i
    only needs the same-parity levels (i-2, i-4, ...) — each level is
    one equi-join + distinct + bounded anti-joins, the standard
    distributed frontier expansion (Pregel-style BFS without the
    framework).  Everything shuffles on node/edge keys; nothing is
    proportional to path count (the naive recursive-join transcription
    would be).  The oracle is a genuine recursive CTE
    (min-hop via UNION-dedup frontier semantics).
    """
    # r12 (guide §2.4 + §3.3 "explode after the join"): the five frontier
    # expansions used to each stream the full |E| edge row table into a
    # frontier join + distinct.  Hold the bipartite relation as BOTH
    # adjacency groupings instead (customer -> parts array, part ->
    # customers array, dedup inside the aggregates — the former edge
    # DISTINCT exchange disappears); each hop joins the |V|-row
    # adjacency table to the frontier on the node key and explodes the
    # neighbor lists AFTER the join, so only frontier-adjacent rows are
    # generated and the per-hop distinct shuffles neighbor rows of the
    # frontier, never the whole edge set.
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    raw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .localCheckpoint(eager=False)
    )
    cadj = raw.groupBy("c").agg(F.collect_set("p").alias("ps"))
    padj = raw.groupBy("p").agg(F.collect_set("c").alias("cs"))
    cust_node = (F.col("c") * 2).alias("node")
    part_node = (F.col("p") * 2 + 1).alias("node")

    h0 = cadj.filter(F.col("c") % 300 == 0).select(cust_node)
    # hop 1: parts adjacent to seed customers (no parts before hop 1)
    h1 = (
        cadj.join(h0, cadj.c * 2 == h0.node)
        .select(F.explode("ps").alias("p"))
        .select(part_node)
        .distinct()
    )
    # hop 2: customers adjacent to hop-1 parts, minus seeds
    h2 = (
        padj.join(h1, padj.p * 2 + 1 == h1.node)
        .select(F.explode("cs").alias("c"))
        .select(cust_node)
        .distinct()
        .join(h0, "node", "left_anti")
    )
    # hop 3: parts adjacent to hop-2 customers, minus hop-1 parts
    h3 = (
        cadj.join(h2, cadj.c * 2 == h2.node)
        .select(F.explode("ps").alias("p"))
        .select(part_node)
        .distinct()
        .join(h1, "node", "left_anti")
    )
    # hop 4: customers adjacent to hop-3 parts, minus hops 2 and 0
    h4 = (
        padj.join(h3, padj.p * 2 + 1 == h3.node)
        .select(F.explode("cs").alias("c"))
        .select(cust_node)
        .distinct()
        .join(h2, "node", "left_anti")
        .join(h0, "node", "left_anti")
    )

    def _level(df: DataFrame, hop: int) -> DataFrame:
        is_cust = F.col("node") % 2 == 0
        return df.agg(
            F.lit(hop).alias("hop"),
            F.sum(F.when(is_cust, 1).otherwise(0)).alias("n_customers"),
            F.sum(F.when(is_cust, 0).otherwise(1)).alias("n_parts"),
        )

    out = _level(h0, 0)
    for hop, df in enumerate((h1, h2, h3, h4), start=1):
        out = out.unionAll(_level(df, hop))
    return out.filter(
        F.col("n_customers") + F.col("n_parts") > 0
    ).orderBy("hop")


GRAPH_BFS_HOPS_SQL = """
WITH RECURSIVE
edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
reach(node, hop) AS (
  SELECT 2*c, 0 FROM (SELECT DISTINCT c FROM edges WHERE c % 300 = 0)
  UNION
  SELECT nxt, hop + 1 FROM (
    SELECT CASE WHEN r.node % 2 = 0 THEN 2*e.p + 1 ELSE 2*e.c END AS nxt,
           r.hop
    FROM reach r JOIN edges e
      ON (r.node % 2 = 0 AND e.c = r.node/2)
      OR (r.node % 2 = 1 AND e.p = (r.node-1)/2)
  ) WHERE hop < 4
),
best AS (SELECT node, MIN(hop) AS hop FROM reach GROUP BY node)
SELECT hop,
       CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts
FROM best GROUP BY hop
HAVING n_customers + n_parts > 0
ORDER BY hop
"""


# --- training pairs: deterministic negative sampling --------------------------


def rec_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training pairs for a two-tower/recsys model: per
    sampled user, up to 3 positives (their first-bought parts) and 3
    hash-drawn negatives verified against the FULL positive set.

    The negative draw is md5-60('user#i') % max_partkey + 1 — per-row
    arithmetic, no RNG state, identical on any partitioning and in the
    oracle.  The accidental-hit check is a left-anti join against the
    positives relation, NOT a collected set: at 100 TB the positives
    stay distributed and the anti-join shuffles on (user, part) like
    any other join.  max_partkey arrives as a 1-row broadcast
    (crossJoin of an aggregate — constant-size, never a fact
    broadcast)."""
    edges = _copurchase_edges(spark, sf_dir)
    users = edges.filter(F.col("c") % 50 == 0).select("c").distinct()
    maxpk = load_table(spark, sf_dir, "part").agg(F.max("p_partkey").alias("maxpk"))

    draw = md5_hash60(
        F.concat(F.col("c").cast("string"), F.lit("#"), F.col("i").cast("string"))
    )
    neg = (
        users.crossJoin(F.broadcast(maxpk))
        .select("c", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"), "maxpk")
        .select("c", (draw % F.col("maxpk") + 1).alias("p"))
        .distinct()
        .join(edges, ["c", "p"], "left_anti")
        .select("c", "p", F.lit(0).alias("label"))
    )
    w = Window.partitionBy("c").orderBy("p")
    pos = (
        edges.join(users, "c")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c", "p", F.lit(1).alias("label"))
    )
    return (
        pos.unionAll(neg)
        .select(
            F.col("c").alias("cust_key"),
            F.col("p").alias("part_key"),
            "label",
        )
        .orderBy("cust_key", F.desc("label"), "part_key")
    )


REC_CONTRASTIVE_PAIRS_SQL = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
users AS (SELECT DISTINCT c FROM edges WHERE c % 50 = 0),
mx AS (SELECT MAX(p_partkey) AS maxpk FROM part),
neg AS (
  SELECT DISTINCT u.c,
         CAST('0x' || substr(md5(CAST(u.c AS VARCHAR) || '#' || CAST(g.i AS VARCHAR)), 1, 15) AS BIGINT)
           % mx.maxpk + 1 AS p
  FROM users u, mx, generate_series(0, 2) g(i)
),
neg_ok AS (
  SELECT n.c, n.p, 0 AS label FROM neg n
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.c = n.c AND e.p = n.p)
),
pos AS (
  SELECT c, p, 1 AS label FROM (
    SELECT e.c, e.p,
           ROW_NUMBER() OVER (PARTITION BY e.c ORDER BY e.p) AS rn
    FROM edges e JOIN users u ON u.c = e.c
  ) WHERE rn <= 3
)
SELECT c AS cust_key, p AS part_key, label
FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg_ok)
ORDER BY cust_key, label DESC, part_key
"""


# --- corpus: leakage-aware k-fold split ---------------------------------------


def doc_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold split keyed on md5 of the document CONTENT (not the id):
    byte-identical duplicates always land in the same fold, so an
    exact dup can never leak from train into eval.  Per (fold, source)
    stats make the balance auditable.  One shuffle on (fold, source);
    the fold key is per-row arithmetic and survives repartitioning,
    backfills, and engine swaps (same split in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    content = F.md5(F.col("text"))
    return (
        d.select(
            (md5_hash60(content, seed="fold") % 5).alias("fold"),
            "source",
            content.alias("h"),
            "n_chars",
        )
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_uniq_texts"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("fold", "source")
    )


DOC_KFOLD_SPLIT_SQL = """
SELECT CAST('0x' || substr(md5('fold|' || md5(text)), 1, 15) AS BIGINT) % 5 AS fold,
       source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_uniq_texts,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
ORDER BY fold, source
"""


# --- time series: exact integer EWMA ------------------------------------------


def ts_ewma_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted recent spend per customer: the last 8
    orders weighted 128,64,...,1 (alpha = 1/2 truncated at 8 lags),
    all in scaled int64 — the weighted sum is exact and
    order-independent, so partial aggregation at any parallelism
    reproduces the oracle bit-for-bit.  The float appears exactly
    once, in the final num/den division (IEEE-deterministic for a
    given int pair).  One shuffle for the per-customer window."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), 8 - rn)")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .withColumn("wt", weight)
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(
            F.sum(cents("o_totalprice") * F.col("wt")).alias("ewma_num"),
            F.sum("wt").alias("ewma_den"),
        )
        .withColumn(
            "ewma_cents",
            F.col("ewma_num").cast("double") / F.col("ewma_den"),
        )
        .orderBy("cust_key")
    )


TS_EWMA_SPEND_SQL = f"""
WITH ranked AS (
  SELECT o_custkey,
         {sql_cents("o_totalprice")} AS cts,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
)
SELECT o_custkey AS cust_key,
       CAST(SUM(cts * (CAST(1 AS BIGINT) << (8 - rn))) AS BIGINT) AS ewma_num,
       CAST(SUM(CAST(1 AS BIGINT) << (8 - rn)) AS BIGINT) AS ewma_den,
       CAST(SUM(cts * (CAST(1 AS BIGINT) << (8 - rn))) AS DOUBLE)
         / CAST(SUM(CAST(1 AS BIGINT) << (8 - rn)) AS BIGINT) AS ewma_cents
FROM ranked WHERE rn <= 8
GROUP BY o_custkey
ORDER BY cust_key
"""


# --- embeddings: hard-negative mining -----------------------------------------


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the 3 most-similar corpus vectors with a DIFFERENT label — the
    negatives that actually teach the model something, vs the uniform
    hash draws of rec_contrastive_pairs.

    Plan shape: the query side (10 vectors + labels) broadcasts; the
    corpus streams through one codegen'd pass scoring exact quantized
    int64 dot products (operators/similarity.py cosine_from order), the
    label-mismatch filter prunes BEFORE the per-query top-k window, and
    only (query, neighbor, cosine) rows ever shuffle.  Same exactness
    contract as emb_topk_cosine, so the SQL oracle mirrors it
    verbatim with a label join added."""
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            S.quantized(F.col("embedding")).alias("qv"),
        )
        .withColumn("qn", S.norm_sq_q(F.col("qv")))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        S.quantized(F.col("embedding")).alias("cv"),
    ).withColumn("cn", S.norm_sq_q(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            S.cosine_from(
                S.dot_q(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .orderBy("query_id", "rank")
    )


_EMB_DIMS = 64
_EMB_Q = 1_000_000

EMB_HARD_NEGATIVES_SQL = f"""
WITH qv AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{_EMB_Q}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_EMB_DIMS})) AS i
        FROM embeddings WHERE vec_id < 10)
), cv AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{_EMB_Q}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_EMB_DIMS})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM cv GROUP BY vec_id
), dots AS (
  SELECT qv.vec_id AS query_id, ANY_VALUE(qv.label) AS query_label,
         cv.vec_id AS neighbor_id, ANY_VALUE(cv.label) AS neighbor_label,
         CAST(SUM(qv.v * cv.v) AS BIGINT) AS dot
  FROM qv JOIN cv USING (i)
  WHERE qv.label <> cv.label
  GROUP BY qv.vec_id, cv.vec_id
), scored AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq AS DOUBLE))
                             / sqrt(CAST(nn.nsq AS DOUBLE)) AS cosine
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nn ON nn.vec_id = neighbor_id
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 3
ORDER BY query_id, rank
"""


# --- compliance: GDPR delete propagation --------------------------------------


def gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: given a deletion list
    (customers with custkey % 97 == 0, event users with user_id % 97
    == 0), report per table how many rows the purge removes vs keeps —
    the verification artifact a deletion job must emit before the
    actual rewrite.

    Plan shape: each count pair is one scan with a conditional
    aggregate; the lineitem cascade (delete follows orders of deleted
    customers) is a semi-join-shaped LEFT join against the deleted
    orderkeys, which AQE broadcasts when the delete list is small (the
    normal case).  Nothing collects; the audit is a 4-row union of
    1-row aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def _audit(df: DataFrame, cond, tbl: str) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("rows_purged"),
            F.sum(F.when(cond, 0).otherwise(1)).alias("rows_kept"),
        )

    del_cust = F.col("c_custkey") % 97 == 0
    del_ord = F.col("o_custkey") % 97 == 0
    purged_orders = orders.filter(del_ord).select("o_orderkey")
    li_marked = li.join(
        purged_orders.withColumn("purged", F.lit(1)),
        li.l_orderkey == purged_orders.o_orderkey,
        "left",
    )
    return (
        _audit(cust, del_cust, "customer")
        .unionAll(_audit(orders, del_ord, "orders"))
        .unionAll(_audit(li_marked, F.col("purged") == 1, "lineitem"))
        .unionAll(_audit(ev, F.col("user_id") % 97 == 0, "events"))
        .orderBy("tbl")
    )


GDPR_PURGE_AUDIT_SQL = """
SELECT tbl, rows_purged, rows_kept FROM (
  SELECT 'customer' AS tbl,
         CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_purged,
         CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS rows_kept
  FROM customer
  UNION ALL
  SELECT 'orders',
         CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem',
         CAST(SUM(CASE WHEN d THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN d THEN 0 ELSE 1 END) AS BIGINT)
  FROM (SELECT EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey
                         AND o.o_custkey % 97 = 0) AS d
        FROM lineitem l)
  UNION ALL
  SELECT 'events',
         CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
  FROM events
) ORDER BY tbl
"""


# --- time series: CUSUM level-shift detection ----------------------------------


def ev_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM level-shift statistic per event type, exact:
    the classic recursion S_t = max(0, S_{t-1} + (x_t - mu)) has the
    closed form S_t = P_t - min(0, min_{j<=t} P_j) with P the prefix
    sum of deviations — two window functions, NO iterative loop, and
    the whole thing stays in int64 (daily sums in micro-units, mu
    cleared by scaling deviations by n_days: dev = x*n - total).
    Output: top-3 (type, day) by the shift statistic — where a level
    change most likely happened.

    Scale: daily pre-aggregation first (the only big shuffle), then
    windows partitioned BY TYPE (parallel across types; series length
    per type = days, tiny); top-3 filter compiles to the rank-filter
    shape.  Exactness: deviations, prefix sums, and the max(0,...)
    unrolling are all integer — no float accumulates across rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("d")
        )
        .agg(F.sum(cents("value", scale=6)).alias("x"))
    )
    per_type = Window.partitionBy("event_type")
    seq = per_type.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    stat = (
        daily.withColumn("n_days", F.count(F.lit(1)).over(per_type))
        .withColumn("total", F.sum("x").over(per_type))
        .withColumn("dev", F.col("x") * F.col("n_days") - F.col("total"))
        .withColumn("p", F.sum("dev").over(seq))
        .withColumn("runmin", F.min("p").over(seq))
        .withColumn(
            "s_scaled",
            F.col("p") - F.least(F.lit(0).cast("bigint"), F.col("runmin")),
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("s_scaled"), "d")
    return (
        stat.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.col("d").cast("string").alias("day"),
            "s_scaled",
            F.col("rk").alias("rank"),
        )
        .orderBy("event_type", "rank")
    )


EV_CUSUM_SHIFT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM({sql_cents("value", scale=6)}) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), stat AS (
  SELECT event_type, d,
         x * COUNT(*) OVER (PARTITION BY event_type)
           - SUM(x) OVER (PARTITION BY event_type) AS dev
  FROM daily
), pre AS (
  SELECT event_type, d,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS p
  FROM stat
), cum AS (
  SELECT event_type, d, p,
         MIN(p) OVER (PARTITION BY event_type ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS runmin
  FROM pre
)
SELECT event_type, CAST(d AS VARCHAR) AS day,
       CAST(p - LEAST(0, runmin) AS BIGINT) AS s_scaled, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY p - LEAST(0, runmin) DESC, d) AS rank
  FROM cum
) WHERE rank <= 3
ORDER BY event_type, rank
"""


# --- time series: exact rolling median ----------------------------------------


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling median of daily revenue per order priority, exact:
    the frame is collected per row (bounded: <= 7 int64 values), sorted,
    and the median assembled as the midpoint of the two central
    elements — which is bit-identical to DuckDB's interpolating median
    on integers (the midpoint of two int64s is exact in double).
    Windows partition by priority so the series parallelize; the only
    unbounded shuffle is the daily pre-aggregation."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(F.sum(cents("o_totalprice")).alias("x"))
    frame = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    # CAST ... AS DOUBLE, not "/ 2.0": Spark parses the 2.0 literal as
    # DECIMAL(2,1) and the whole expression would silently become
    # decimal (different stringification than the oracle's DOUBLE)
    med = F.expr(
        "CAST(element_at(xs, CAST((size(xs)+1)/2 AS INT))"
        " + element_at(xs, CAST(size(xs)/2 AS INT) + 1) AS DOUBLE) / 2"
    )
    return (
        daily.withColumn("xs", F.sort_array(F.collect_list("x").over(frame)))
        .select(
            "priority",
            F.col("d").cast("string").alias("day"),
            med.alias("med_cents"),
        )
        .orderBy("priority", "day")
    )


TS_ROLLING_MEDIAN_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
)
SELECT priority, CAST(d AS VARCHAR) AS day,
       CAST(MEDIAN(x) OVER (PARTITION BY priority ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS med_cents
FROM daily
ORDER BY priority, day
"""


# --- marketing: linear multi-touch attribution ---------------------------------


def attr_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution, exact to the last micro-unit:
    each purchase's value splits equally over the user's click/view
    touchpoints in the preceding 7 days; the integer remainder goes to
    the EARLIEST touches (deterministic, sums preserved — the audit
    invariant sum(credited) == sum(conversion value) holds exactly).
    Purchases with no touchpoints credit a 'direct' channel.

    Plan shape: one interval join on user (range predicate on ts —
    the stream-stream interval-join shape in batch), one per-conversion
    window for the touch count/rank, then a tiny groupBy.  No floats
    until presentation."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        cents("value", scale=6).alias("v"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    joined = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.col("cts") - F.expr("INTERVAL 7 DAYS")),
    )
    per_conv = Window.partitionBy("conv_id")
    order_w = per_conv.orderBy("tts", "touch_id")
    credited = (
        joined.withColumn("k", F.count(F.lit(1)).over(per_conv))
        .withColumn("rn", F.row_number().over(order_w))
        .withColumn(
            "credit",
            F.expr("v DIV k")
            + F.when(F.col("rn") <= F.col("v") % F.col("k"), 1).otherwise(0),
        )
    )
    attributed = credited.groupBy("channel").agg(
        F.sum("credit").alias("credited_micro"),
        F.count(F.lit(1)).alias("n_touches"),
    )
    direct = (
        conv.join(credited.select("conv_id").distinct(), "conv_id", "left_anti")
        .agg(
            F.lit("direct").alias("channel"),
            F.sum("v").alias("credited_micro"),
            F.count(F.lit(1)).alias("n_touches"),
        )
    )
    return attributed.unionAll(direct).orderBy("channel")


ATTR_LINEAR_TOUCH_SQL = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id AS cu, ts AS cts,
         {sql_cents("value", scale=6)} AS v
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT event_id AS touch_id, user_id AS tu, ts AS tts,
         event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
), joined AS (
  SELECT c.*, t.touch_id, t.tts, t.channel
  FROM conv c JOIN touch t
    ON t.tu = c.cu AND t.tts < c.cts
   AND t.tts >= c.cts - INTERVAL 7 DAY
), credited AS (
  SELECT channel,
         (v // COUNT(*) OVER (PARTITION BY conv_id))
         + CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id
                                        ORDER BY tts, touch_id)
                     <= v % COUNT(*) OVER (PARTITION BY conv_id)
                THEN 1 ELSE 0 END AS credit
  FROM joined
)
SELECT channel, CAST(SUM(credit) AS BIGINT) AS credited_micro,
       COUNT(*) AS n_touches
FROM credited GROUP BY channel
UNION ALL
SELECT 'direct', CAST(SUM(v) AS BIGINT), COUNT(*)
FROM conv WHERE conv_id NOT IN (SELECT DISTINCT conv_id FROM joined)
ORDER BY channel
"""


# --- statistics: deterministic Poisson bootstrap CI ----------------------------

# floor(CDF_Poisson(1)(k) * 2^60) for k = 0..4: fixed integer cutoffs,
# identical literals on both engines — the draw is u >= cutoff sums, no
# float comparison anywhere.
_POIS_CUTS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)
_B = 32  # bootstrap replicas


def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 90% CI for mean order value — the
    single-pass, streamable bootstrap (each row draws an independent
    Poisson(1) replication count per replica; no resampling shuffle,
    no global state).  Determinism: the Poisson draw inverts fixed
    integer CDF cutoffs against a md5-60 uniform per (row, replica),
    so every engine and partitioning produces the SAME 32 replica
    means; the CI is the 2nd-lowest/2nd-highest replica mean.
    Replica means are exact int ratios; floats appear only in the
    final division.  Scale: the explode is a flat 32x map-side
    fan-out feeding one 32-group aggregate — no skew, no collect."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cts")
    )
    # Parallelism floor (same wall as operators/dedup.shingle_table):
    # the 32x md5 draw stream is CPU-dense per input row and parquet
    # cannot split below a row group — a single-file orders table
    # scans as ONE partition and serializes all 32N draws (measured
    # 4.8s -> 1.4s warm at sf0.1 with the floor; a no-op at real scale).
    o = cpu_floor(o, "o_orderkey", cap=16)
    u = md5_hash60(
        F.concat(
            F.col("o_orderkey").cast("string"), F.lit("#"), F.col("b").cast("string")
        )
    )
    k = sum(
        (u >= F.lit(c)).cast("int") for c in _POIS_CUTS
    )
    replicas = (
        o.select(
            "o_orderkey",
            "cts",
            F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        )
        .select("b", "cts", k.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cts")).cast("double")
                / F.sum("w")
            ).alias("mean_cents")
        )
    )
    w = Window.orderBy("mean_cents", "b")
    ranked = replicas.withColumn("rk", F.row_number().over(w))
    return (
        ranked.agg(
            F.max(F.when(F.col("rk") == 2, F.col("mean_cents"))).alias("ci_lo"),
            F.max(F.when(F.col("rk") == _B - 1, F.col("mean_cents"))).alias(
                "ci_hi"
            ),
        )
    )


_POIS_K_SQL = " + ".join(
    f"CASE WHEN u >= {c} THEN 1 ELSE 0 END" for c in _POIS_CUTS
)

STAT_BOOTSTRAP_CI_SQL = f"""
WITH drawn AS (
  SELECT g.b,
         {sql_cents("o_totalprice")} AS cts,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(g.b AS VARCHAR)), 1, 15) AS BIGINT) AS u
  FROM orders, generate_series(0, {_B - 1}) g(b)
), replicas AS (
  SELECT b,
         CAST(SUM(({_POIS_K_SQL}) * cts) AS DOUBLE)
           / CAST(SUM({_POIS_K_SQL}) AS BIGINT) AS mean_cents
  FROM drawn GROUP BY b
), ranked AS (
  SELECT mean_cents,
         ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk
  FROM replicas
)
SELECT MAX(CASE WHEN rk = 2 THEN mean_cents END) AS ci_lo,
       MAX(CASE WHEN rk = {_B - 1} THEN mean_cents END) AS ci_hi
FROM ranked
"""


# --- ANN infrastructure: product-quantization codes ----------------------------


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-d vector splits into 4 subvectors
    of 16 dims; each subvector is assigned its nearest of 16 codebook
    centroids (here: the subvectors of vec_id < 16 — a deterministic
    codebook both engines can reconstruct).  Output is the per-subspace
    code histogram — the payload a PQ-compressed ANN index stores is
    4 bytes/vector instead of 256.

    Plan shape: subspace explode is a bounded 4x map-side fan-out; the
    codebook (64 rows) broadcasts; distances are exact int64
    zip_with/aggregate sums (no float, no argmin ambiguity — ties break
    to the smaller code id); one shuffle for the argmin window keyed
    (vec_id, subspace), one tiny histogram aggregate.  At 100 TB the
    scored stream is 64 rows per vector and never materializes the
    vectors twice."""
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    S.quantized(F.slice("embedding", s * 16 + 1, 16))
                    for s in range(4)
                ]
            )
        ).alias("s", "sv"),
    )
    cent = (
        subs.filter(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv"))
    )
    d = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d", "cid")
    return (
        subs.join(F.broadcast(cent), "s")
        .select("vec_id", "s", "cid", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("s").alias("subspace"), F.col("cid").alias("code"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("subspace", "code")
    )


EMB_PQ_CODES_SQL = f"""
WITH cv AS (
  SELECT vec_id, (i-1)//16 AS s, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{_EMB_Q}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_EMB_DIMS})) AS i
        FROM embeddings)
), cent AS (
  SELECT vec_id AS cid, s, i, v FROM cv WHERE vec_id < 16
), dist AS (
  SELECT c.vec_id, c.s, ct.cid,
         CAST(SUM((c.v-ct.v)*(c.v-ct.v)) AS BIGINT) AS d
  FROM cv c JOIN cent ct ON ct.s = c.s AND ct.i = c.i
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, s, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d, cid) AS rn
    FROM dist
  ) WHERE rn = 1
)
SELECT s AS subspace, cid AS code, COUNT(*) AS n_vectors
FROM best GROUP BY 1, 2 ORDER BY subspace, code
"""


# --- corpus: rare-window exact common-substring pairs ---------------------------


def doc_common_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style cross-document duplication: documents sharing
    at least one EXACT 64-character window (sampled every 16 chars),
    ranked by how many windows they share — catches verbatim copying
    that token-level Jaccard dilutes.

    Scale shape: (doc, window-hash) pairs group on the hash; hashes
    seen in more than 20 documents are dropped before the self-join
    (boilerplate ubiquitous strings would otherwise densify the
    candidate set quadratically — the same df-cap argument as
    doc_jaccard_rare_prefix), so candidate pairs are bounded by
    20 x rare-hash count.  Top-50 by shared-window count with a full
    deterministic tie-break."""
    # parallelism floor: the window substring+md5 explode is CPU-dense
    # per input byte and runs BEFORE any shuffle (see shingle_table)
    d = cpu_floor(
        load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 64),
        "doc_id",
        cap=16,
    )
    w = (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1), F.col("n_chars") - 63, F.lit(16)
                )
            ).alias("p"),
        )
        .select("doc_id", F.md5(F.expr("substring(text, p, 64)")).alias("h"))
        .distinct()
    )
    rare = w.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 20
    )
    wr = w.join(rare.select("h"), "h")
    a = wr.select(F.col("doc_id").alias("doc_a"), "h")
    b = wr.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(50)
    )


DOC_COMMON_SUBSTRING_SQL = """
WITH w AS (
  SELECT DISTINCT doc_id, md5(substr(text, g.p, 64)) AS h
  FROM documents CROSS JOIN generate_series(1, 4096, 16) g(p)
  WHERE n_chars >= 64 AND g.p <= n_chars - 63
), rare AS (
  SELECT h FROM w GROUP BY h HAVING COUNT(*) <= 20
), wr AS (SELECT w.doc_id, w.h FROM w JOIN rare USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM wr a JOIN wr b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT 50
"""


# --- corpus: deterministic training-order shuffle -------------------------------


def doc_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    (shard, position) from md5 draws on its id — the standard 'shuffle
    once, stream forever' layout for training runs.  Reproducible on
    any cluster size (no RNG state, no global sort: the only shuffle
    is the per-shard window, and shards are uniform by construction).
    Epoch reshuffles would salt the seed."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        d.select(
            "doc_id",
            (md5_hash60(did, seed="shard") % 8).alias("shard"),
            md5_hash60(did, seed="pos").alias("k"),
        )
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
        .orderBy("shard", "position")
    )


DOC_TRAINING_ORDER_SQL = """
WITH keyed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
         CAST('0x' || substr(md5('pos|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS k
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS position
FROM keyed
ORDER BY shard, position
"""


# --- sessions: inactivity gap + max-duration cap --------------------------------


def ev_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH rules real trackers use: a session
    breaks after 30 minutes of inactivity AND can never exceed 24
    hours total (long-lived bots otherwise produce unbounded
    sessions).  The duration cap needs no iteration: within each
    inactivity island, events split at fixed 24h offsets from the
    island start (floor((ts - island_start) / 24h)), which is exact
    integer arithmetic on epoch microseconds.  Output: per-user
    session stats.  One shuffle on user_id; both windows and the final
    aggregate reuse it."""
    from planning_center_data_pipeline_spark.functions.temporal import epoch_us

    gap_us = 30 * 60 * 1_000_000
    day_us = 24 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_us(F.col("ts")).alias("us")
    )
    by_user = Window.partitionBy("user_id").orderBy("us")
    sessions = (
        ev.withColumn("prev", F.lag("us").over(by_user))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("us") - F.col("prev") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "island_start",
            F.min("us").over(Window.partitionBy("user_id", "island")),
        )
        .withColumn(
            "sub", ((F.col("us") - F.col("island_start")) / day_us).cast("bigint")
        )
    )
    return (
        sessions.groupBy("user_id", "island", "sub")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ((F.max("us") - F.min("us")) / F.lit(1_000_000)).alias("dur_sec"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("dur_sec").alias("max_dur_sec"),
        )
        .orderBy("user_id")
    )


EV_CAPPED_SESSIONS_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), marked AS (
  SELECT user_id, us,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us - LAG(us) OVER w > 30*60*1000000
              THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us)
), islands AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), subbed AS (
  SELECT user_id, island, us,
         (us - MIN(us) OVER (PARTITION BY user_id, island))
           // CAST(86400000000 AS BIGINT) AS sub
  FROM islands
), sess AS (
  SELECT user_id, island, sub, COUNT(*) AS n_events,
         CAST(MAX(us) - MIN(us) AS DOUBLE) / 1000000 AS dur_sec
  FROM subbed GROUP BY 1, 2, 3
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(dur_sec) AS max_dur_sec
FROM sess GROUP BY user_id ORDER BY user_id
"""


# --- events: co-occurrence affinity (exact PMI ratio) ---------------------------


def ev_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type affinity: for each ordered pair of types, the lift
    ratio P(user does both) / (P(a) * P(b)) — the co-occurrence signal
    a recommender bootstraps from.  Kept as an exact integer ratio
    presented through ONE double division (n_both * n_users) /
    (n_a * n_b): no logs, no libm parity risk (a PMI is just the log
    of this — take it client-side).

    Plan shape: one distinct (user, type) rollup, a self-join bounded
    by C(5,2) pairs per user, a 1-row user-count broadcast.  Per-type
    counts join on a 5-row table — broadcast by AQE."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select(F.col("user_id").alias("u"), F.col("event_type").alias("ta"))
    b = ut.select(F.col("user_id").alias("u"), F.col("event_type").alias("tb"))
    both = (
        a.join(b, "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        both.join(per_type.select(F.col("event_type").alias("ta"), F.col("n_t").alias("n_a")), "ta")
        .join(per_type.select(F.col("event_type").alias("tb"), F.col("n_t").alias("n_b")), "tb")
        .crossJoin(F.broadcast(n_users))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_both",
            (
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


EV_TYPE_AFFINITY_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
pt AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       CAST(n_both * nu.n_users AS DOUBLE) / (pa.n_t * pb.n_t) AS lift
FROM pairs
CROSS JOIN nu
JOIN pt pa ON pa.event_type = pairs.type_a
JOIN pt pb ON pb.event_type = pairs.type_b
ORDER BY type_a, type_b
"""


# --- composition: contrastive training set end-to-end ---------------------------


def rec_training_set_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-set assembly line in ONE Catalyst plan: mine
    positives and hash negatives (rec_contrastive_pairs semantics),
    assign each labeled pair a leakage-safe fold keyed on the PAIR
    content (user#item — the same pair can never land in two folds),
    and give every fold a deterministic (shard, position) streaming
    order.  Every stage is an operator this engine already ships;
    the composition exists to prove they fuse into one plan without
    materialization barriers (cf. corpus_curate_e2e for documents).

    Scale: pair mining shuffles on (user, part); fold/shard keys are
    per-row md5 arithmetic; the per-(fold, shard) position window is
    the only added exchange."""
    edges = _copurchase_edges(spark, sf_dir)
    users = edges.filter(F.col("c") % 50 == 0).select("c").distinct()
    maxpk = load_table(spark, sf_dir, "part").agg(F.max("p_partkey").alias("maxpk"))

    draw = md5_hash60(
        F.concat(F.col("c").cast("string"), F.lit("#"), F.col("i").cast("string"))
    )
    neg = (
        users.crossJoin(F.broadcast(maxpk))
        .select("c", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"), "maxpk")
        .select("c", (draw % F.col("maxpk") + 1).alias("p"))
        .distinct()
        .join(edges, ["c", "p"], "left_anti")
        .select("c", "p", F.lit(0).alias("label"))
    )
    w = Window.partitionBy("c").orderBy("p")
    pos = (
        edges.join(users, "c")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c", "p", F.lit(1).alias("label"))
    )
    pair_key = F.concat(
        F.col("c").cast("string"), F.lit("#"), F.col("p").cast("string")
    )
    keyed = pos.unionAll(neg).select(
        "c",
        "p",
        "label",
        (md5_hash60(pair_key, seed="fold") % 5).alias("fold"),
        (md5_hash60(pair_key, seed="shard") % 4).alias("shard"),
        md5_hash60(pair_key, seed="pos").alias("k"),
    )
    order_w = Window.partitionBy("fold", "shard").orderBy("k", "c", "p")
    return (
        keyed.withColumn("position", F.row_number().over(order_w).cast("long"))
        .select(
            F.col("c").alias("cust_key"),
            F.col("p").alias("part_key"),
            "label",
            "fold",
            "shard",
            "position",
        )
        .orderBy("fold", "shard", "position")
    )


_PAIR_H = (
    "CAST('0x' || substr(md5('{seed}|' || CAST(c AS VARCHAR) || '#' "
    "|| CAST(p AS VARCHAR)), 1, 15) AS BIGINT)"
)

REC_TRAINING_SET_E2E_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
users AS (SELECT DISTINCT c FROM edges WHERE c % 50 = 0),
mx AS (SELECT MAX(p_partkey) AS maxpk FROM part),
neg AS (
  SELECT DISTINCT u.c,
         CAST('0x' || substr(md5(CAST(u.c AS VARCHAR) || '#' || CAST(g.i AS VARCHAR)), 1, 15) AS BIGINT)
           % mx.maxpk + 1 AS p
  FROM users u, mx, generate_series(0, 2) g(i)
),
neg_ok AS (
  SELECT n.c, n.p, 0 AS label FROM neg n
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.c = n.c AND e.p = n.p)
),
pos AS (
  SELECT c, p, 1 AS label FROM (
    SELECT e.c, e.p,
           ROW_NUMBER() OVER (PARTITION BY e.c ORDER BY e.p) AS rn
    FROM edges e JOIN users u ON u.c = e.c
  ) WHERE rn <= 3
),
keyed AS (
  SELECT c, p, label,
         {_PAIR_H.format(seed='fold')} % 5 AS fold,
         {_PAIR_H.format(seed='shard')} % 4 AS shard,
         {_PAIR_H.format(seed='pos')} AS k
  FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg_ok)
)
SELECT c AS cust_key, p AS part_key, label, fold, shard,
       ROW_NUMBER() OVER (PARTITION BY fold, shard ORDER BY k, c, p) AS position
FROM keyed
ORDER BY fold, shard, position
"""


# --- regression: group-wise OLS trend ------------------------------------------


def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS revenue trend (cents/month), EXACT: the four
    moment sums (n, Sx, Sy, Sxy, Sxx) are integers — x is the month
    index, y the monthly revenue in cents — so the normal-equation
    slope/intercept are single double divisions of exact int64
    numerators.  This is the scalable shape for grouped regression:
    built-in regr_slope would float-sum in partial-aggregation order
    (nondeterministic across partitionings); integer moments make the
    answer partitioning-invariant.  Two shuffles: monthly rollup, then
    the per-nation moment aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - F.lit(1990)) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("x"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("y"))
    )
    agg = monthly.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den
    )
    intercept = (
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
        / den
    )
    return agg.select(
        "nation_key",
        F.col("n").alias("n_months"),
        slope.alias("slope_cents"),
        intercept.alias("intercept_cents"),
    ).orderBy("nation_key")


TS_OLS_TREND_SQL = f"""
WITH monthly AS (
  SELECT c.c_nationkey,
         (EXTRACT(YEAR FROM o_orderdate) - 1990) * 12
           + EXTRACT(MONTH FROM o_orderdate) - 1 AS x,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), m AS (
  SELECT c_nationkey AS nation_key,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy,
         CAST(SUM(x*x) AS BIGINT) AS sxx
  FROM monthly GROUP BY 1
)
SELECT nation_key, n AS n_months,
       CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) AS slope_cents,
       CAST(sy*sxx - sx*sxy AS DOUBLE) / (n*sxx - sx*sx) AS intercept_cents
FROM m ORDER BY nation_key
"""


# --- data ops: snapshot diff report --------------------------------------------


def data_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff — the verification step of any backfill or
    migration: classify every order key as unchanged / changed /
    removed / added between the current snapshot and a simulated next
    one (derived deterministically: keys %101==0 deleted, %13==0
    repriced +1 cent, 100 fresh keys appended past max).

    Plan shape: ONE full-outer join on the key, per-row classification,
    a 4-group aggregate.  Value comparison is on exact cents — at
    100 TB this is the shape you run before swapping a table pointer;
    sample keys ride along (min per class) so a human can spot-check
    without a second scan."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cts")
    )
    mx = o.agg(F.max("o_orderkey").alias("mxk"))
    modified = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .withColumn(
            "cts",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("cts") + 1
            ).otherwise(F.col("cts")),
        )
    )
    added = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("i"), "mxk"
        )
        .select(
            (F.col("mxk") + F.col("i")).alias("o_orderkey"),
            (F.col("i") * 100).cast("bigint").alias("cts"),
        )
    )
    new = modified.unionAll(added)
    j = o.select(
        F.col("o_orderkey").alias("k"), F.col("cts").alias("old_cts")
    ).join(
        new.select(F.col("o_orderkey").alias("k"), F.col("cts").alias("new_cts")),
        "k",
        "full_outer",
    )
    cls = (
        F.when(F.col("old_cts").isNull(), F.lit("added"))
        .when(F.col("new_cts").isNull(), F.lit("removed"))
        .when(F.col("old_cts") != F.col("new_cts"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(cls.alias("change"), "k")
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("sample_key"),
        )
        .orderBy("change")
    )


DATA_DIFF_REPORT_SQL = f"""
WITH o AS (
  SELECT o_orderkey, {sql_cents("o_totalprice")} AS cts FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS mxk FROM o),
nxt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN cts + 1 ELSE cts END AS cts
  FROM o WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT mx.mxk + g.i, CAST(g.i * 100 AS BIGINT)
  FROM mx, generate_series(1, 100) g(i)
),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         a.cts AS old_cts, b.cts AS new_cts
  FROM o a FULL OUTER JOIN nxt b ON a.o_orderkey = b.o_orderkey
)
SELECT CASE WHEN old_cts IS NULL THEN 'added'
            WHEN new_cts IS NULL THEN 'removed'
            WHEN old_cts <> new_cts THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*) AS n_rows,
       MIN(k) AS sample_key
FROM j GROUP BY 1 ORDER BY change
"""


QUERIES = {
    "geo_radius_pairs": geo_radius_pairs,
    "graph_bfs_hops": graph_bfs_hops,
    "rec_contrastive_pairs": rec_contrastive_pairs,
    "doc_kfold_split": doc_kfold_split,
    "ts_ewma_spend": ts_ewma_spend,
    "emb_hard_negatives": emb_hard_negatives,
    "gdpr_purge_audit": gdpr_purge_audit,
    "ev_cusum_shift": ev_cusum_shift,
    "ts_rolling_median": ts_rolling_median,
    "attr_linear_touch": attr_linear_touch,
    "stat_bootstrap_ci": stat_bootstrap_ci,
    "emb_pq_codes": emb_pq_codes,
    "doc_common_substring_pairs": doc_common_substring_pairs,
    "doc_training_order": doc_training_order,
    "ev_capped_sessions": ev_capped_sessions,
    "ev_type_affinity": ev_type_affinity,
    "rec_training_set_e2e": rec_training_set_e2e,
    "ts_ols_trend": ts_ols_trend,
    "data_diff_report": data_diff_report,
}

ORACLES = {
    "geo_radius_pairs": GEO_RADIUS_PAIRS_SQL,
    "graph_bfs_hops": GRAPH_BFS_HOPS_SQL,
    "rec_contrastive_pairs": REC_CONTRASTIVE_PAIRS_SQL,
    "doc_kfold_split": DOC_KFOLD_SPLIT_SQL,
    "ts_ewma_spend": TS_EWMA_SPEND_SQL,
    "emb_hard_negatives": EMB_HARD_NEGATIVES_SQL,
    "gdpr_purge_audit": GDPR_PURGE_AUDIT_SQL,
    "ev_cusum_shift": EV_CUSUM_SHIFT_SQL,
    "ts_rolling_median": TS_ROLLING_MEDIAN_SQL,
    "attr_linear_touch": ATTR_LINEAR_TOUCH_SQL,
    "stat_bootstrap_ci": STAT_BOOTSTRAP_CI_SQL,
    "emb_pq_codes": EMB_PQ_CODES_SQL,
    "doc_common_substring_pairs": DOC_COMMON_SUBSTRING_SQL,
    "doc_training_order": DOC_TRAINING_ORDER_SQL,
    "ev_capped_sessions": EV_CAPPED_SESSIONS_SQL,
    "ev_type_affinity": EV_TYPE_AFFINITY_SQL,
    "rec_training_set_e2e": REC_TRAINING_SET_E2E_SQL,
    "ts_ols_trend": TS_OLS_TREND_SQL,
    "data_diff_report": DATA_DIFF_REPORT_SQL,
}
