"""Graph queries: `graph_` (PageRank, components, BFS, triangles,
clustering, k-core, assortativity), `basket_` (co-purchase pairs),
`cf_` (item-item collaborative filtering) and `rec_` (recommendation
training sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.dedup import (
    MD5_HASH60_DUCK,
    md5_hash60,
)
from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.operators.unrolled import unrolled_sql
from planning_center_data_pipeline_spark.operators.windows import running_sums
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- co-purchase kernels -----------------------------------------------------

def _baskets(li: DataFrame, min_size: int = 1) -> DataFrame:
    """Per-order part baskets (ok, pks).  One shuffle on the order key;
    collect_set drops duplicate lines inside the aggregate, so no
    (order, part) distinct exchange runs first.  An array holds one
    order's parts, at most 7 in TPC-H at any scale, so every pair
    fan-out downstream is a map-side double explode that grows with
    sum(basket^2), not table^2.  `min_size` keeps only baskets with at
    least that many parts.  Not checkpointed: a caller that reads the
    baskets more than once checkpoints them itself."""
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    if min_size > 1:
        baskets = baskets.where(F.size("pks") >= min_size)
    return baskets


def _pair_counts(baskets: DataFrame, a: str, b: str, n: str) -> DataFrame:
    """(a, b, n): orders holding both parts a < b, from a map-side
    double explode of the baskets into one count."""
    return (
        baskets.select(F.explode("pks").alias(a), F.col("pks"))
        .select(a, F.explode("pks").alias(b))
        .where(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias(n))
    )


def _part_counts(baskets: DataFrame) -> DataFrame:
    """(pk, n): orders holding each part."""
    return (
        baskets.select(F.explode("pks").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _copurchase_sym_adj(li: DataFrame) -> DataFrame:
    """Symmetric co-purchase adjacency (u, nbrs): nbrs is the set of
    parts sharing an order with u, u itself excluded, so size(nbrs) is
    u's degree and consumers read degrees without a union + groupBy
    over half-edges.  Two shuffles: the baskets, then collect_set per
    node over their map-side pair explosion; both dedups live inside
    the aggregates, so no pair-distinct exchange runs.

    Repartitioned by u to the session parallelism before the
    checkpoint: AQE coalesces the small array rollup to about one
    partition, and every map-side explode downstream would then run on
    one core (Generate passes the pre-explode size estimate through).

    The checkpoint is lazy only with AQE off.  Under AQE, the session
    default, taking it runs the subtree's shuffle stages while the
    query is built (its jobs show as `build_jobs` in PLANS.json).  It
    stays because no caller reads clearly faster without it: an sf0.1
    bench A/B (median of 3) without it read pagerank 3.59 -> 4.89 s,
    powerlaw fit 1.37 -> 1.55 s, triangle count 3.94 -> 4.50 s (its
    own checkpoint removed too), minhash neighbors 3.84 -> 4.28 s,
    local clustering 2.27 -> 2.45 s, degree assortativity
    1.94 -> 1.97 s and common neighbors 4.08 -> 3.91 s (inside the
    parent's 0.34 s spread).

    Memory bound: one node's whole neighbor set sits in one
    aggregation buffer and one row.  Degree is bounded by
    baskets-per-part x basket size, both SF-invariant in this schema
    (~30 x 7), so the largest row is KB-sized at any scale.  On a
    schema where a hub's degree grows with volume, cap hubs before the
    collect; the consumers here also hub-cap before any wedge or pair
    explosion."""
    return (
        _baskets(li)
        .select(F.explode("pks").alias("u"), F.col("pks"))
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        .repartition(
            li.sparkSession.sparkContext.defaultParallelism, F.col("u")
        )
        .localCheckpoint(eager=False)
    )


# --- market-basket pair affinity --------------------------------------------

def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-ordered part pairs with lift.

    n_orders, the pair counts and the per-part order counts all read
    the same baskets, unmaterialized: a checkpoint read slower in the
    sf0.1 bench A/B (2.50 s with it, 2.12 s without).  Lift is
    computed from exact integer counts; the one-row n_orders is a
    broadcast cross join; top-50 via orderBy+limit =
    TakeOrderedAndProject.
    """
    baskets = _baskets(load_table(spark, sf_dir, "lineitem"))
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    counts = _part_counts(baskets)
    out = (
        _pair_counts(baskets, "pk_a", "pk_b", "n_pair")
        .join(counts.select(F.col("pk").alias("pk_a"), F.col("n").alias("n_a")), "pk_a")
        .join(counts.select(F.col("pk").alias("pk_b"), F.col("n").alias("n_b")), "pk_b")
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


# --- item-item collaborative filtering ---------------------------------------

_CF_MIN_CO = 3

_CF_TOP = 100


def cf_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: cosine
    similarity of the binary order-membership vectors of every part
    pair that co-occurs in >= 3 orders; top-100 pairs.  cos =
    co / sqrt(n_a * n_b) with every operand an exact integer count —
    IEEE sqrt and one division are bit-identical across engines, so
    the ordering (and the LIMIT cut) is portable.

    Pair and item counts read the same checkpointed baskets; item
    frequencies join back on the part key (dimension-bounded; AQE
    picks the strategy); top-100 via TakeOrderedAndProject.
    """
    # kept: without it the sf0.1 bench A/B read 1.97 s vs 1.62 s
    baskets = _baskets(load_table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=False
    )
    item_n = _part_counts(baskets)
    co = _pair_counts(baskets, "pa", "pb", "co").filter(F.col("co") >= _CF_MIN_CO)
    return (
        co.join(item_n.select(F.col("pk").alias("pa"), F.col("n").alias("na")), "pa")
        .join(item_n.select(F.col("pk").alias("pb"), F.col("n").alias("nb")), "pb")
        .withColumn(
            "cos",
            F.col("co").cast("double")
            / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
        )
        .orderBy(F.desc("cos"), "pa", "pb")
        .limit(_CF_TOP)
        .select(
            "pa", "pb", "co", "na", "nb", F.round("cos", 6).alias("cosine")
        )
    )


CF_ITEM_ITEM_COSINE_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), item_n AS (
  SELECT pk, COUNT(*) AS n FROM b GROUP BY pk
), co AS (
  SELECT a.pk AS pa, bb.pk AS pb, COUNT(*) AS co
  FROM b a JOIN b bb ON bb.ok = a.ok AND a.pk < bb.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_CO}
)
SELECT pa, pb, co, na.n AS na, nb.n AS nb,
       ROUND(CAST(co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6)
         AS cosine
FROM co
JOIN item_n na ON na.pk = co.pa
JOIN item_n nb ON nb.pk = co.pb
ORDER BY CAST(co AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)) DESC,
         pa, pb
LIMIT {_CF_TOP}
"""


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
        # kept: sf0.1 bench A/Bs without it read 2.65 vs 2.71 s,
        # 3.34 vs 2.82 s and 3.45 vs 3.34 s
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
    once (lazy localCheckpoint, the established iterative-plan
    pattern): without it the unrolled lineage makes round r's stats
    recompute rounds 0..r-1 from scratch — measured 39 s -> ~3 s at
    sf0.01.  Edge sets only shrink, so the per-round materialization
    cost is monotonically decreasing.  The thresholds (ks, kp) are a
    scalar subquery over a one-row checkpoint of the round-0 edge
    aggregate, so no build-time action reads them to the driver."""
    li = load_table(spark, sf_dir, "lineitem")
    # kept: every round, the thresholds and the round-0 stats read these
    # rows; without the checkpoint sf0.1 read 5.7 s build + 2.2 s exec,
    # with it 3.1 + 0.7
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    k = (
        edges.agg(
            F.count(F.lit(1)).alias("e"),
            F.countDistinct("s").alias("ns"),
            F.countDistinct("p").alias("np"),
        )
        .select(
            F.expr("named_struct('s', (e + ns - 1) DIV ns, 'p', (e + np - 1) DIV np)")
        )
        # kept: each round's subquery reads this one row; re-aggregated
        # per round the sf0.1 bench A/B read 3.59 s vs 3.10 s (parent),
        # checkpointed 3.03 s vs 3.35 s
        .localCheckpoint(eager=False)
        .scalar()
    )

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
            .filter(F.col("d") >= k["s"])
            .select("s")
        )
        step = cur.join(s_keep, "s")
        p_keep = (
            step.groupBy("p")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k["p"])
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


# --- neighborhood-overlap similarity --------------------------------------------

_CN_HUB_CAP = 128

_CN_MIN_COMMON = 3

_CN_PROBE_MOD = 50

_CN_PER_PROBE = 3


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap item similarity, PROBE-SET shaped: for a
    bounded probe set of parts (partkey % 50 == 0 — 2% of the
    catalog), the top-3 most similar parts by Jaccard of co-purchase
    neighbor sets over the hub-capped edge list (neighbors with
    degree > 128 certify nothing and are dropped).

    Why probe-shaped: on a dense co-purchase graph the ALL-pairs
    common-neighbor rollup is sum-over-neighbors C(deg, 2) — a
    hash-aggregate over every part pair, which OOMs a small executor
    long before 100 TB.  Anchoring one side to a bounded probe set
    makes the fan-out |probes| x deg^2 — the same asymmetry contract
    as the embedding similarity family (operators/similarity.py);
    the all-pairs variant at scale is MinHash over neighbor sets
    (doc_minhash_lsh machinery), not this rollup.

    Plan shape: in a symmetric graph the hub-capped per-neighbor
    source lists ARE the adjacency rows: srcs(nbr) = nbrs(nbr) whenever
    deg(nbr) <= cap, so hub capping is a filter on the checkpointed
    adjacency with no exchange.  cdeg (per-source count of surviving
    edges) comes from one explode of the filtered lists.  The wedge
    enumeration is a map-side double explode with the probe filter
    inside the array (F.filter) before the first explode; each
    surviving list holds <= 128 entries, so every list row expands to
    <= |probes-in-list| x 128 wedges with no join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    und = _copurchase_sym_adj(li)
    lowdeg = und.where(F.size("nbrs") <= _CN_HUB_CAP).select(
        F.col("u").alias("nbr"), F.col("nbrs").alias("srcs")
    )
    common = (
        lowdeg.select(
            F.explode(
                F.filter(F.col("srcs"), lambda s: s % _CN_PROBE_MOD == 0)
            ).alias("probe"),
            F.col("srcs"),
        )
        .select("probe", F.explode("srcs").alias("cand"))
        .where(F.col("probe") != F.col("cand"))
        .groupBy("probe", "cand")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= _CN_MIN_COMMON)
    )
    cdeg = (
        lowdeg.select(F.explode("srcs").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("cdeg"))
    )
    scored = (
        common.join(
            cdeg.select(
                F.col("src").alias("probe"), F.col("cdeg").alias("da")
            ),
            "probe",
        )
        .join(
            cdeg.select(
                F.col("src").alias("cand"), F.col("cdeg").alias("db")
            ),
            "cand",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast(
                    "double"
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe").orderBy(
        F.desc("jaccard"), "cand"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CN_PER_PROBE)
        .select("probe", "rank", "cand", "common", "da", "db", "jaccard")
        .orderBy("probe", "rank")
    )


GRAPH_COMMON_NEIGHBORS_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT DISTINCT x.pk AS src, y.pk AS nbr
  FROM b x JOIN b y ON y.ok = x.ok AND y.pk <> x.pk
), deg AS (
  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
), capped AS (
  SELECT e.src, e.nbr FROM e
  JOIN deg d ON d.src = e.nbr
  WHERE d.deg <= {_CN_HUB_CAP}
), common AS (
  SELECT p.src AS probe, q.src AS cand, COUNT(*) AS common
  FROM capped p JOIN capped q
    ON q.nbr = p.nbr AND p.src <> q.src
  WHERE p.src % {_CN_PROBE_MOD} = 0
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CN_MIN_COMMON}
), cdeg AS (
  SELECT src, COUNT(*) AS cdeg FROM capped GROUP BY src
), scored AS (
  SELECT probe, cand, common, da.cdeg AS da, db.cdeg AS db,
         ROUND(CAST(common AS DOUBLE)
               / CAST(da.cdeg + db.cdeg - common AS DOUBLE), 6) AS jaccard
  FROM common
  JOIN cdeg da ON da.src = common.probe
  JOIN cdeg db ON db.src = common.cand
), ranked AS (
  SELECT probe, cand, common, da, db, jaccard,
         ROW_NUMBER() OVER (PARTITION BY probe
                            ORDER BY jaccard DESC, cand) AS rank
  FROM scored
)
SELECT probe, rank, cand, common, da, db, jaccard
FROM ranked WHERE rank <= {_CN_PER_PROBE}
ORDER BY probe, rank
"""

_LP_ITERS = 5


# --- min-label connected components ------------------------------------------

def graph_components_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph (edge = two
    parts in the same order) via _LP_ITERS (5) rounds of min-label
    propagation: label(v) <- min(label(v), min over neighbors).
    Deterministic integer arithmetic — both engines converge
    identically round by round, so the round-limited result is exactly
    comparable even where components have diameter > 5.

    Scale shape: each propagation round runs as two bipartite
    half-steps over the part-order relation (min per order, min per
    part), which is mathematically identical to a co-purchase graph
    round but LINEAR in |lineitem| — the C(basket,2) pair list is never
    materialized.  The relation is held as both groupings (the
    multi-part baskets, and part -> orders arrays), each checkpointed
    once, so a round explodes the arrays map-side and shuffles only
    the two partial-aggregated min tables.  Arrays stay bounded at any
    SF: basket size and orders-per-part do not grow with scale.  Top-20
    via TakeOrderedAndProject."""
    # Half-step identity: om(o) = min label over parts of o;
    # label'(v) = min om over orders containing v (v's own label flows
    # through its own orders, so least() is implicit, and min over
    # co-order parts == min over graph neighbors).  Node set: parts in
    # >= 1 multi-part order, the endpoints of the co-purchase edges.
    # kept: every round reads both; without them the sf0.1 bench A/B
    # read 5.93 s vs 4.45 s
    by_order = _baskets(
        load_table(spark, sf_dir, "lineitem"), min_size=2
    ).localCheckpoint(eager=False)
    by_part = (
        by_order.select(F.explode("pks").alias("node"), F.col("ok"))
        .groupBy("node")
        .agg(F.collect_set("ok").alias("orders"))
        .localCheckpoint(eager=False)
    )
    labels = unrolled_sql(
        "SELECT node, node AS lbl, orders FROM {by_part}",
        "SELECT n.node, n.lbl, p.orders FROM ("
        "SELECT node, MIN(om) AS lbl FROM ("
        "SELECT m.om, explode(b.pks) AS node FROM ("
        "SELECT ok, MIN(lbl) AS om FROM ("
        "SELECT lbl, explode(orders) AS ok FROM {prev}"
        ") GROUP BY ok"
        ") m JOIN {by_order} b ON b.ok = m.ok"
        ") GROUP BY node"
        ") n JOIN {by_part} p ON p.node = n.node",
        _LP_ITERS,
        "SELECT node, lbl FROM {prev}",
        by_order=by_order,
        by_part=by_part,
    )
    return (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy(F.desc("n_parts"), "component")
        .limit(20)
    )


def _components_sql() -> str:
    # Bipartite half-step form, mirroring the plan (see
    # graph_components_minlabel: min-per-order then min-per-part is
    # exactly one co-purchase propagation round, v's own label
    # included via its own orders).  MATERIALIZED: each round is
    # referenced by the next; inlining would re-execute the chain.
    rounds = []
    prev = "l0"
    for i in range(1, _LP_ITERS + 1):
        rounds.append(
            f"l{i} AS MATERIALIZED (\n"
            f"  SELECT li.l_partkey AS node, MIN(o.om) AS lbl\n"
            f"  FROM (\n"
            f"    SELECT li.l_orderkey, MIN(x.lbl) AS om\n"
            f"    FROM li2 li JOIN {prev} x ON x.node = li.l_partkey\n"
            f"    GROUP BY li.l_orderkey\n"
            f"  ) o JOIN li2 li ON li.l_orderkey = o.l_orderkey\n"
            f"  GROUP BY li.l_partkey\n)"
        )
        prev = f"l{i}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
li2 AS MATERIALIZED (
  SELECT l_orderkey, l_partkey FROM li
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING COUNT(*) >= 2
  )
), l0 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS node, l_partkey AS lbl FROM li2
),
{','.join(rounds)}
SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM {prev} GROUP BY lbl
ORDER BY n_parts DESC, component LIMIT 20
"""


# --- degree assortativity ----------------------------------------------------------


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph: Pearson r
    of (deg(u), deg(v)) over both orientations of every edge.  The
    statistic is ONE exact-sum aggregate: sums of x, x^2, x*y over 2E
    contribution rows in DECIMAL(38,0) (HUGEINT in the oracle), then a
    single double division — the same
    exact-at-any-parallelism shape as agg_stats_moments.

    By symmetry sum(x) = sum(y) and sum(x^2) = sum(y^2), so
    r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2) with M = 2E.

    Each orientation row (u, v) of the symmetric adjacency carries
    deg_u = size(nbrs_u) out of the map-side explode and attaches deg_v
    with ONE |V|-row join.  Summing x, x*x, x*y over BOTH orientations
    equals the per-edge sums of (x+y), (x^2+y^2), 2xy term-for-term,
    and m = the orientation-row count = 2E."""
    li = load_table(spark, sf_dir, "lineitem")
    adj = _copurchase_sym_adj(li)
    oriented = adj.select(
        F.size("nbrs").cast("decimal(38,0)").alias("x"),
        F.explode("nbrs").alias("v"),
    )
    dv = adj.select(
        F.col("u").alias("v"), F.size("nbrs").cast("decimal(38,0)").alias("y")
    )
    # r13 (guide §3.1; the Generate size-estimate trap, caught here by a
    # bimodal 2.6 s / 40-50 s measurement): `oriented` is a map-side
    # explode of the checkpointed arrays and Generate passes the tiny
    # pre-explode size estimate through, so the planner was building
    # the broadcast from the EXPLODED |2E|-row side (BuildLeft in the
    # r13 before-plan).  Broadcast the |V|-row degree side explicitly;
    # gated so extreme-scale |V| degrades to sort-merge without a code
    # edit.
    contrib = oriented.join(gated_broadcast(dv), "v").select("x", "y")
    sums = contrib.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(F.col("x")).alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return sums.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            ),
            6,
        ).alias("assortativity"),
    )


_ASSORT_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), edges AS (
  SELECT DISTINCT x.pk AS u, y.pk AS v
  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
), deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
  ) t GROUP BY n
), contrib AS (
  SELECT CAST(du.deg AS HUGEINT) AS x, CAST(dv.deg AS HUGEINT) AS y
  FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
), sums AS (
  SELECT CAST(2 * COUNT(*) AS HUGEINT) AS m,
         SUM(x + y) AS sx,
         SUM(x * x + y * y) AS sxx,
         SUM(2 * x * y) AS sxy
  FROM contrib
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
             / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
FROM sums
"""


# --- probe-set local clustering ----------------------------------------------------

_LCC_PROBE_MOD = 101  # ~1% of parts

_LCC_HUB_CAP = 128  # neighbors with degree > cap certify nothing


def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient cc(p) = 2*tri(p) / (k*(k-1)) for a
    bounded probe set (partkey % 101 == 0) over the hub-capped
    co-purchase graph (nodes with degree > 128 are dropped from every
    neighborhood, the graph_common_neighbors contract — a hub's
    neighborhood is not evidence of community).  tri(p) counts edges
    between p's surviving neighbors via an equi-join of the probe's
    neighbor pairs against the edge list, so the fan-out is
    |probes| * C(k<=128, 2) — bounded per probe regardless of fact
    size.  Probes with k < 2 report cc = 0 over k values still shown.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # The small-u restriction is a FILTER on a node's own array size;
    # only the small-v restriction of the neighbor lists needs a join
    # (against the |V|-row small-id set).
    fadj = _copurchase_sym_adj(li)
    small_u = fadj.where(F.size("nbrs") <= _LCC_HUB_CAP)
    small_ids = small_u.select(F.col("u").alias("v"))
    # small-small adjacency arrays (both endpoints under the hub cap)
    adj = (
        small_u.select("u", F.explode("nbrs").alias("v"))
        .join(small_ids, "v")
        .groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
    )
    # Each probe explodes its (<=128 by the hub cap) neighbor list,
    # attaches that neighbor's own array, and certifies in-row:
    # |N(v) ∩ N(p)| counts each triangle edge inside N(p) exactly twice
    # (once from each endpoint, both present since the adjacency is
    # symmetric), so n_tri = sum DIV 2 — identical to an edge-join
    # certification count.  k falls out as the explode row count.
    probes = adj.where((F.col("u") % _LCC_PROBE_MOD) == 0).select(
        F.col("u").alias("p"), F.col("nbrs").alias("pn")
    )
    tri_rows = probes.select("p", "pn", F.explode("pn").alias("v")).join(
        adj.select(F.col("u").alias("v"), F.col("nbrs").alias("vn")), "v"
    )
    agg = tri_rows.groupBy("p").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.size(F.array_intersect("vn", "pn"))).alias("c2"),
    )
    return (
        agg.select(
            F.col("p").alias("partkey"),
            F.col("k").cast("bigint").alias("k"),
            F.expr("c2 DIV 2").cast("bigint").alias("n_tri"),
        )
        .where(F.col("k") >= 2)
        .select(
            "partkey",
            "k",
            "n_tri",
            F.round(
                2.0
                * F.col("n_tri").cast("double")
                / (F.col("k").cast("double") * (F.col("k").cast("double") - 1.0)),
                6,
            ).alias("cc"),
        )
        .orderBy("partkey")
    )


_LCC_SQL = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), edges AS (
  SELECT DISTINCT x.pk AS u, y.pk AS v
  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
), deg AS (
  SELECT n, COUNT(*) AS deg FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
  ) t GROUP BY n
), small AS (
  SELECT n FROM deg WHERE deg <= {_LCC_HUB_CAP}
), sym AS (
  SELECT s.u, s.v FROM (
    SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
  ) s JOIN small su ON s.u = su.n JOIN small sv ON s.v = sv.n
), probes AS (
  SELECT u AS p, v FROM sym WHERE u % {_LCC_PROBE_MOD} = 0
), pairs AS (
  SELECT pa.p, pa.v AS a, pb.v AS b
  FROM probes pa JOIN probes pb ON pa.p = pb.p AND pa.v < pb.v
), tri AS (
  SELECT p, COUNT(*) AS n_tri
  FROM pairs JOIN edges e ON pairs.a = e.u AND pairs.b = e.v
  GROUP BY p
), k AS (
  SELECT p, COUNT(*) AS k FROM probes GROUP BY p
)
SELECT k.p AS partkey,
       CAST(k.k AS BIGINT) AS k,
       CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_tri,
       ROUND(2.0 * CAST(COALESCE(tri.n_tri, 0) AS DOUBLE)
             / (CAST(k.k AS DOUBLE) * (CAST(k.k AS DOUBLE) - 1.0)), 6)
         AS cc
FROM k LEFT JOIN tri ON k.p = tri.p
WHERE k.k >= 2
ORDER BY partkey
"""

_NMH_HASHES = 8

_NMH_BANDS = 4  # 2 hashes per band


# Bucket-skew ceiling (round-8 VERDICT item 5): the band bucket join is
# quadratic WITHIN a bucket, and a hub neighborhood (hundreds of parts
# whose only co-purchase neighbor is one popular part) gives hundreds of
# nodes the IDENTICAL signature — one bucket of size B contributes
# C(B,2) candidate pairs, a guaranteed blow-up at 100x.  Cap each bucket
# at its _NMH_BUCKET_CAP lowest-id members (deterministic row_number,
# mirrored verbatim in the oracle SQL so both engines drop the SAME
# overflow).  Asymmetry vs the doc-side LSH: that family routes overflow
# to a df-capped exact path; here the output is a top-25 RANKING and a
# flooded bucket means >64 near-identical neighborhoods — any 64 of them
# already saturate the top-25 with the same max-similarity pairs, so
# overflow members are dropped from candidacy rather than re-routed.
_NMH_BUCKET_CAP = 64


# --- neighborhood MinHash ------------------------------------------------------

def _nmh_candidates(edges: DataFrame, vocab: DataFrame | None = None) -> DataFrame:
    """Banded-MinHash candidate pairs (id_1 < id_2) over a symmetric
    edge list — signatures, 2-hash bands, bucket join, with each bucket
    capped at its _NMH_BUCKET_CAP lowest-id members so a hub-flooded
    bucket contributes at most C(cap,2) pairs instead of C(B,2).
    Factored out so the planted-hub misuse test can probe the bound
    directly.  `vocab` (optional, one `v` column) supplies the distinct
    neighbor-id set when the caller already has it materialized —
    r13: graph_minhash_neighbors passes the checkpointed adjacency's
    node column, removing the |E|-row distinct exchange this function
    otherwise pays to derive it."""
    # The _NMH_HASHES hash values depend only on the NEIGHBOR id, so
    # compute them once per DISTINCT v as columns and join back (a
    # vocabulary join: |V| md5 evaluations instead of |E| x hashes —
    # the right direction at this |rows|:|distinct| ratio, ~120:1; the
    # minhash shingle pipeline measured the opposite trade at ~3:1 and
    # digests per occurrence, see dedup._hex_digest_rows).  The
    # x-hashes row explosion never materializes, and the signature
    # takes ONE shuffle (groupBy u with 8 min aggs) instead of
    # explode -> groupBy(u, j) -> groupBy(u, band).  Band h_lo/h_hi =
    # least/greatest of the band's two per-u column mins — identical
    # values to the old per-(u, j) min/max, same buckets, same
    # candidates.
    if vocab is None:
        vocab = edges.select("v").distinct()
    vh = vocab.select(
        "v",
        *[
            md5_hash60(F.col("v").cast("string"), seed=j).alias(f"hv{j}")
            for j in range(_NMH_HASHES)
        ],
    )
    # Explicit broadcast of the vocabulary side (guide §3.1): `edges`
    # is a map-side explode of the checkpointed adjacency arrays, and
    # Generate passes the tiny array-table size estimate through — the
    # planner would otherwise broadcast the EXPLODED |E|-row side
    # (measured: a 2.4M-row broadcast build, 14 s at sf0.1, vs 20k
    # vocabulary rows).  The vocabulary is |V| rows x 8 hashes; when
    # |V| outgrows the broadcast budget at extreme scale, turn
    # the gated_broadcast switch off (r12 ADVICE: the unconditional
    # hint would OOM the build side rather than degrade) and the
    # identical plan falls back to a sort-merge join.
    per_u = (
        edges.join(gated_broadcast(vh), "v")
        .groupBy("u")
        .agg(
            *[F.min(f"hv{j}").alias(f"mh{j}") for j in range(_NMH_HASHES)]
        )
    )
    banded = per_u.select(
        "u",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.least(
                            F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                        ).alias("h_lo"),
                        F.greatest(
                            F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")
                        ).alias("h_hi"),
                    )
                    for b in range(_NMH_BANDS)
                ]
            )
        ).alias("band", "bb"),
    ).select("u", "band", F.col("bb.h_lo"), F.col("bb.h_hi"))
    # bucket-skew ceiling: keep the cap lowest-id members per bucket
    # (window is per-bucket, never fact-global)
    capped = (
        banded.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("band", "h_lo", "h_hi").orderBy("u")
            ),
        )
        .where(F.col("rn") <= _NMH_BUCKET_CAP)
        .drop("rn")
    )
    l, r = capped.alias("l"), capped.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.h_lo") == F.col("r.h_lo"))
            & (F.col("l.h_hi") == F.col("r.h_hi"))
            & (F.col("l.u") < F.col("r.u")),
        )
        .select(F.col("l.u").alias("id_1"), F.col("r.u").alias("id_2"))
        .distinct()
    )


def graph_minhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs whose co-purchase neighborhoods have Jaccard >= 0.5,
    via banded MinHash over neighbor sets + exact verification of the
    candidates.

    Scale shape: the edge rows the signature stage consumes are a
    map-side explode of the checkpointed adjacency, and the
    exact-Jaccard verify attaches each candidate's TWO neighbor arrays
    once and intersects in-row (candidate x degree work with no
    per-edge shuffle).  The band bucket join bounds candidates.  Same
    asymmetry contract as doc MinHash-LSH."""
    adj = _copurchase_sym_adj(load_table(spark, sf_dir, "lineitem"))
    edges = adj.select("u", F.explode("nbrs").alias("v"))
    # 8 md5-seeded hashes of each neighbor, min per (node, seed), banded
    # and bucket-joined with the per-bucket skew cap (see _NMH_BUCKET_CAP).
    # The vocabulary is the adjacency's own node column: in the
    # symmetric graph every neighbor id IS a node id, so a |V|-row
    # projection of the checkpoint replaces the |E|-row distinct
    # exchange _nmh_candidates would pay to derive it.
    cand = _nmh_candidates(edges, vocab=adj.select(F.col("u").alias("v")))
    a1 = adj.select(F.col("u").alias("id_1"), F.col("nbrs").alias("n1"))
    a2 = adj.select(F.col("u").alias("id_2"), F.col("nbrs").alias("n2"))
    out = (
        cand.join(a1, "id_1")
        .join(a2, "id_2")
        .select(
            "id_1",
            "id_2",
            # nbrs are sets by construction, so |array_intersect| is the
            # exact shared-neighbor count the oracle's join+groupBy computes
            F.size(F.array_intersect("n1", "n2")).cast("bigint").alias("n_common"),
            F.size("n1").cast("bigint").alias("deg_1"),
            F.size("n2").cast("bigint").alias("deg_2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("deg_1") + F.col("deg_2") - F.col("n_common")).cast("double"),
        )
        # Contract pin (r12 ADVICE): the oracle derives n_common from an
        # inner join, which DROPS candidate pairs with zero common
        # neighbors; the in-row array_intersect would emit them with
        # n_common=0.  Reachable only via a 60-bit band collision
        # between disjoint neighbor sets (no instance at any test SF —
        # oracle hash== unchanged), but filter explicitly so the pair
        # sets cannot diverge at scale.
        .filter(F.col("n_common") > 0)
    )
    # top-25 by verified similarity: co-purchase neighborhoods on
    # TPC-H-ish data are near-random (max J ~ 0.1), so a fixed
    # threshold returns nothing — ranking the banded candidates is
    # the informative output.  The single-division double orders
    # identically in both engines; ids break ties.
    return (
        out.select("id_1", "id_2", "n_common", "deg_1", "deg_2", "jaccard")
        .orderBy(F.desc("jaccard"), "id_1", "id_2")
        .limit(25)
    )


GRAPH_MINHASH_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
half AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS MATERIALIZED (
  SELECT u, v FROM half UNION ALL SELECT v, u FROM half
), deg AS MATERIALIZED (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u
), hashed AS (
  SELECT u, j,
         {MD5_HASH60_DUCK.format(x="CAST(j AS VARCHAR) || '|' || CAST(v AS VARCHAR)")}
           AS hv
  FROM edges CROSS JOIN (SELECT unnest(generate_series(0, {_NMH_HASHES - 1}))
                         AS j) js
), sigs AS (
  SELECT u, j, MIN(hv) AS mh FROM hashed GROUP BY u, j
), banded AS MATERIALIZED (
  SELECT u, j // 2 AS band, MIN(mh) AS h_lo, MAX(mh) AS h_hi
  FROM sigs GROUP BY u, j // 2
), capped AS MATERIALIZED (
  -- bucket-skew ceiling mirrored from the Spark plan: keep the
  -- {_NMH_BUCKET_CAP} lowest-id members per (band, h_lo, h_hi) bucket
  SELECT u, band, h_lo, h_hi FROM (
    SELECT u, band, h_lo, h_hi,
           ROW_NUMBER() OVER (PARTITION BY band, h_lo, h_hi ORDER BY u) AS rn
    FROM banded) t
  WHERE rn <= {_NMH_BUCKET_CAP}
), cand AS MATERIALIZED (
  SELECT DISTINCT l.u AS id_1, r.u AS id_2
  FROM capped l JOIN capped r
    ON l.band = r.band AND l.h_lo = r.h_lo AND l.h_hi = r.h_hi
   AND l.u < r.u
), common AS (
  SELECT c.id_1, c.id_2, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN edges e1 ON e1.u = c.id_1
  JOIN edges e2 ON e2.u = c.id_2 AND e2.v = e1.v
  GROUP BY 1, 2
)
SELECT c.id_1, c.id_2, c.n_common,
       d1.deg AS deg_1, d2.deg AS deg_2,
       CAST(c.n_common AS DOUBLE)
         / CAST(d1.deg + d2.deg - c.n_common AS DOUBLE) AS jaccard
FROM common c
JOIN deg d1 ON d1.u = c.id_1
JOIN deg d2 ON d2.u = c.id_2
ORDER BY jaccard DESC, id_1, id_2 LIMIT 25
"""


# --- integer-exact PageRank over the co-purchase graph -----------------------

_PART_PR_ITERS = 5

_PR_MASS = 1_000_000_000_000  # total rank mass, 1e-12 units

_PR_TOP = 20


def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), 5 unrolled iterations, damping
    0.85 — ENTIRELY in int64 arithmetic:

        r0     = MASS DIV n_nodes
        share  = r DIV deg            (per source, per iteration)
        r'     = (15*base) DIV 100 + (85 * sum(shares in)) DIV 100

    Truncating integer division is deterministic and identical in
    Spark (`DIV`) and DuckDB (`//`) on non-negative operands, so all
    five iterations are bit-exact across engines — no float drift, no
    libm.  Every node has deg >= 1 by construction (it appears in an
    edge), so there is no dangling-mass term.

    Plan shape: the graph is iterated as the adjacency list, deg =
    size(nbrs).  Each of the 5 iterations joins |V|-row frames only and
    explodes nbrs AFTER the join (join on the un-exploded key), so no
    |E|-row set is re-shuffled inside the loop.  Output is top-20 via
    TakeOrderedAndProject.
    """
    adj = _copurchase_sym_adj(load_table(spark, sf_dir, "lineitem")).withColumn(
        "deg", F.size("nbrs").cast("bigint")
    )
    n1 = adj.agg(F.count(F.lit(1)).alias("n_nodes"))  # 1 row
    nodes = (
        adj.select("u", "deg")
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("u").alias("node"),
            "deg",
            F.expr(f"CAST({_PR_MASS} AS BIGINT) DIV n_nodes").alias("base"),
        )
        # kept: every round reads it; without it (and the adjacency's)
        # the sf0.1 bench A/B read 4.89 s vs 3.59 s
        .localCheckpoint(eager=False)
    )
    ranks = unrolled_sql(
        "SELECT node, base AS r FROM {nodes}",
        "SELECT n.node, "
        "(15 * n.base) DIV 100 + "
        "(85 * coalesce(c.s, CAST(0 AS BIGINT))) DIV 100 AS r "
        "FROM {nodes} n LEFT JOIN ("
        "SELECT cnode, SUM(c) AS s FROM ("
        "SELECT explode(a.nbrs) AS cnode, x.r DIV a.deg AS c "
        "FROM {prev} x JOIN {adj} a ON x.node = a.u"
        ") GROUP BY cnode) c ON n.node = c.cnode",
        _PART_PR_ITERS,
        "SELECT node, r FROM {prev}",
        nodes=nodes,
        adj=adj,
    )
    return (
        ranks.orderBy(F.desc("r"), "node")
        .limit(_PR_TOP)
        .select(
            F.col("node").alias("partkey"),
            F.col("r").alias("rank_units"),
            F.round(F.col("r").cast("double") / F.lit(1e10), 6).alias(
                "rank_pct"
            ),
        )
    )


def _part_pagerank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _PART_PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT nd.node,
         CAST((15 * nd.base) // 100
              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r,
         nd.base
  FROM {prev} nd
  LEFT JOIN (SELECT e.dst, CAST(SUM(p.r // g.deg) AS BIGINT) AS s
             FROM {prev} p
             JOIN deg g ON g.src = p.node
             JOIN e ON e.src = p.node
             GROUP BY e.dst) s ON s.dst = nd.node)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT DISTINCT a.pk AS src, c.pk AS dst
  FROM b a JOIN b c ON c.ok = a.ok AND c.pk <> a.pk
), deg AS (
  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
), n AS (
  SELECT COUNT(*) AS n_nodes FROM deg
), r0 AS (
  SELECT d.src AS node,
         CAST({_PR_MASS} AS BIGINT) // n.n_nodes AS r,
         CAST({_PR_MASS} AS BIGINT) // n.n_nodes AS base
  FROM deg d CROSS JOIN n
),
{chain}
SELECT node AS partkey, r AS rank_units,
       ROUND(CAST(r AS DOUBLE) / 1e10, 6) AS rank_pct
FROM {prev} ORDER BY r DESC, node LIMIT {_PR_TOP}
"""


GRAPH_PAGERANK_PARTS_SQL = _part_pagerank_sql()


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

_EVENT_PR_ITERS = 3


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
    for _ in range(_EVENT_PR_ITERS):
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


def _event_pagerank_sql(iters: int = _EVENT_PR_ITERS) -> str:
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


GRAPH_PAGERANK_SQL = _event_pagerank_sql()


# --- power-law fit of the co-purchase degree distribution ---------------------------


def graph_powerlaw_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS fit of the co-purchase degree distribution: is
    ln(count of parts with degree d) ~ alpha + beta * ln(d)?  Degree =
    number of DISTINCT co-order partners (pair expansion bounded by
    C(basket, 2) per order — linear in |orders| at fixed basket size).
    The histogram is small (distinct degree values), (x, y) =
    (ln d, ln cnt) are micro-quantized integers, and the OLS moment
    sums run in DECIMAL(38,0)/HUGEINT (x*y products overflow int64),
    so slope/intercept are shared double expressions over exact
    integers.  Degree is size(nbrs) of the adjacency; the histogram is
    one rollup and the fit runs on it."""
    deg = _copurchase_sym_adj(load_table(spark, sf_dir, "lineitem")).select(
        F.size("nbrs").cast("bigint").alias("deg")
    )
    hist = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    pts = hist.select(
        F.expr("CAST(ROUND(LN(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT)").alias(
            "x"
        ),
        F.expr("CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)").alias(
            "y"
        ),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    slope = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return mom.select(
        F.col("m").alias("n_points"),
        F.round(F.expr(slope), 6).alias("slope"),
        F.round(
            F.expr(
                f"(CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
                " / CAST(m AS DOUBLE) / 1e6"
            ),
            6,
        ).alias("intercept"),
    )


_POWERLAW_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
half AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u FROM half UNION ALL SELECT v AS u FROM half
  ) GROUP BY u
), hist AS (
  SELECT deg, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY deg
), pts AS (
  SELECT CAST(ROUND(LN(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM hist
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT m AS n_points,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE))
             / CAST(m AS DOUBLE) / 1e6, 6) AS intercept
FROM mom
"""


# --- degree-oriented triangle counting --------------------------------------
# Co-purchase graph: parts are adjacent when they appear in the same
# order (the `_copurchase_sym_adj` kernel).  Triangles are counted
# edge-iterator style: orient every edge from the (degree, id)-smaller
# endpoint to the larger (out-degree then bounded by O(sqrt E) — hub
# nodes never fan out), build each node's sorted out-neighbor array,
# and count each triangle exactly once at its base edge as
# |N+(s) ∩ N+(t)|.  Unlike the naive wedge join E⋈E (41M intermediate
# rows at sf0.1) nothing bigger than the edge list is ever shuffled:
# the adjacency side is |V| rows and broadcastable, and array_intersect
# runs inside whole-stage codegen.
# The oracle counts the same triangles from the plain pa<pb edge set —
# orientation changes the join cost, not the count.
#
# Scale note: the degree and adjacency tables are |V|-cardinality —
# the same order as the edge list on sparse graphs.  r13: they carry
# an EXPLICIT broadcast hint through operators.joins.gated_broadcast
# — measurement showed the planner choosing sort-merge for the probe
# join (shuffling |E| rows that each carry a full adjacency array)
# because the probe side is a Generate over a checkpointed RDD whose
# size estimate is the tiny pre-explode one (the Generate size-estimate trap).  On a
# billion-node graph switch the gate off and the identical plan
# degrades to shuffle joins keyed on the node id; the O(sqrt E)
# out-degree bound from orientation still caps the per-row array size.

def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Orientation takes ONE join (deg_u rides along from the explode;
    # only deg_v is looked up), and the per-edge intersect probe is
    # derived by exploding the oriented adjacency (nbrs_s attached
    # map-side), so it joins adj ONCE (t side).  The oriented
    # adjacency is checkpointed because two consumers read it.
    und = _copurchase_sym_adj(load_table(spark, sf_dir, "lineitem")).withColumn(
        "deg", F.size("nbrs").cast("bigint")
    )
    exploded = und.select("u", "deg", F.explode("nbrs").alias("v")).where(
        F.col("u") < F.col("v")
    )
    degv = und.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    # r13 (guide §3.1/§8): explicit gated broadcast of the |V|-row
    # sides.  The exploded probe rows carry the FULL nbrs_s array each,
    # so letting the planner pick a sort-merge join (it did — the
    # Generate size-estimate trap) shuffles |E| x
    # array payload; broadcasting the |V|-row adjacency/degree side
    # moves the payload zero times.  Gated so an extreme-scale |V|
    # falls back to shuffle joins without a code edit (the O(sqrt E)
    # orientation bound still caps array sizes).
    oriented = (
        exploded.join(gated_broadcast(degv), "v")
        .select(
            F.when(
                (F.col("deg") < F.col("deg_v"))
                | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    adj = (
        oriented.groupBy("s")
        .agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
        # kept: without it (and the adjacency's) the sf0.1 bench A/B
        # read 4.50 s vs 3.94 s
        .localCheckpoint(eager=False)
    )
    probe = adj.select(F.col("s"), F.col("nbrs").alias("nbrs_s")).select(
        "s", "nbrs_s", F.explode("nbrs_s").alias("t")
    )
    adj_t = adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t"))
    per_edge = probe.join(gated_broadcast(adj_t), "t", "left").select(
        F.size(
            F.array_intersect(
                F.col("nbrs_s"),
                F.coalesce("nbrs_t", F.array().cast("array<bigint>")),
            )
        ).alias("tri_here")
    )
    n = und.agg(F.count("*").cast("bigint").alias("n_nodes"))
    m = und.agg(F.expr("sum(deg) DIV 2").cast("bigint").alias("n_edges"))
    t = per_edge.agg(
        F.coalesce(F.sum("tri_here"), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    return n.crossJoin(m).crossJoin(t)


GRAPH_TRIANGLE_SQL = """
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nodes AS (
  SELECT u AS n FROM edges UNION SELECT v FROM edges
)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e1.v = e2.u
JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
"""


# --- graph: multi-source BFS min-hop -----------------------------------------


def _customer_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )


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
    edges = _customer_part_edges(spark, sf_dir)
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


# --- popularity-weighted negative sampling (with replacement) ----------------

_NEG_DRAWS = 20_000

_NEG_BUCKET = 1_024


def rec_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-weighted negative sampling WITH replacement: 20k
    deterministic md5 draws land in exact integer cumulative-weight
    intervals (inverse-CDF), one interval per part, weight = purchase
    count.  The word2vec/recsys negative-sampling table, reproducible
    bit-for-bit in any engine.

    Plan shape: cumulative weights come from
    `operators.windows.running_sums` (no single-partition window over
    the items).  The draw->interval lookup is a BUCKETED range join:
    each interval covers its span's buckets (explode bounded by W/B +
    n_items total rows), draws hash to one bucket, and the join is a
    plain equi-join on bucket plus an exact containment filter.  Never
    a cartesian: at 100 TB this shuffles on bucket id, and the output
    is one row per SAMPLED item (<= min(draws, items)).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("wt")
    )
    cum = running_sums(w, ["item"], ["wt"]).select(
        "item", "wt", (F.col("cum_wt") - F.col("wt")).alias("s"),
        F.col("cum_wt").alias("e"),
    )
    grand = w.agg(F.sum("wt").alias("w_total"))  # 1 row
    intervals = cum.select(
        "item", "wt", "s", "e",
        F.explode(
            F.sequence(
                F.expr(f"s DIV {_NEG_BUCKET}"),
                F.expr(f"(e - 1) DIV {_NEG_BUCKET}"),
            )
        ).alias("bucket"),
    )
    draws = (
        spark.range(_NEG_DRAWS)
        .crossJoin(F.broadcast(grand))
        .select(
            (
                md5_hash60(F.concat(F.lit("neg|"), F.col("id").cast("string")))
                % F.col("w_total")
            ).alias("d")
        )
        .select("d", F.expr(f"d DIV {_NEG_BUCKET}").alias("bucket"))
    )
    return (
        draws.join(intervals, "bucket")
        .filter((F.col("d") >= F.col("s")) & (F.col("d") < F.col("e")))
        .groupBy("item", "wt")
        .agg(F.count(F.lit(1)).alias("n_draws"))
        .orderBy("item")
    )


REC_NEGATIVE_SAMPLING_SQL = f"""
WITH w AS (
  SELECT l_partkey AS item, COUNT(*) AS wt FROM lineitem GROUP BY 1
), cum AS (
  SELECT item, wt,
         SUM(wt) OVER (ORDER BY item) - wt AS s,
         SUM(wt) OVER (ORDER BY item) AS e
  FROM w
), tot AS (
  SELECT SUM(wt) AS w_total FROM w
), draws AS (
  SELECT CAST('0x' || substr(md5('neg|' || CAST(i AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT w_total FROM tot) AS d
  FROM generate_series(0, {_NEG_DRAWS - 1}) t(i)
)
SELECT c.item, c.wt, COUNT(*) AS n_draws
FROM draws dr JOIN cum c ON dr.d >= c.s AND dr.d < c.e
GROUP BY 1, 2
ORDER BY item
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
    edges = _customer_part_edges(spark, sf_dir)
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


QUERIES = {
    "basket_part_pairs": basket_part_pairs,
    "cf_item_item_cosine": cf_item_item_cosine,
    "graph_bfs_hops": graph_bfs_hops,
    "graph_bipartite_kcore_rounds": graph_bipartite_kcore_rounds,
    "graph_common_neighbors": graph_common_neighbors,
    "graph_components_minlabel": graph_components_minlabel,
    "graph_degree_assortativity": graph_degree_assortativity,
    "graph_local_clustering": graph_local_clustering,
    "graph_minhash_neighbors": graph_minhash_neighbors,
    "graph_pagerank_parts": graph_pagerank_parts,
    "graph_pagerank_transitions": graph_pagerank_transitions,
    "graph_powerlaw_degree_fit": graph_powerlaw_degree_fit,
    "graph_triangle_count": graph_triangle_count,
    "rec_contrastive_pairs": rec_contrastive_pairs,
    "rec_negative_sampling": rec_negative_sampling,
    "rec_training_set_e2e": rec_training_set_e2e,
}
ORACLES = {
    "basket_part_pairs": BASKET_PART_PAIRS_SQL,
    "cf_item_item_cosine": CF_ITEM_ITEM_COSINE_SQL,
    "graph_bfs_hops": GRAPH_BFS_HOPS_SQL,
    "graph_bipartite_kcore_rounds": _kcore_oracle(),
    "graph_common_neighbors": GRAPH_COMMON_NEIGHBORS_SQL,
    "graph_components_minlabel": _components_sql(),
    "graph_degree_assortativity": _ASSORT_SQL,
    "graph_local_clustering": _LCC_SQL,
    "graph_minhash_neighbors": GRAPH_MINHASH_SQL,
    "graph_pagerank_parts": GRAPH_PAGERANK_PARTS_SQL,
    "graph_pagerank_transitions": GRAPH_PAGERANK_SQL,
    "graph_powerlaw_degree_fit": _POWERLAW_SQL,
    "graph_triangle_count": GRAPH_TRIANGLE_SQL,
    "rec_contrastive_pairs": REC_CONTRASTIVE_PAIRS_SQL,
    "rec_negative_sampling": REC_NEGATIVE_SAMPLING_SQL,
    "rec_training_set_e2e": REC_TRAINING_SET_E2E_SQL,
}
