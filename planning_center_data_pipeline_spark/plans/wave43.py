"""Round-9 wave 43: graph structure metrics, two-sample ECDF tests,
corpus burstiness, and volume-weighted pricing.

- graph_degree_assortativity: Pearson correlation of endpoint degrees
  over the co-purchase edge list (both orientations, the standard
  Newman convention) — one pass of exact DECIMAL sums after the edge
  build, no iteration.
- graph_local_clustering: local clustering coefficient for a bounded
  probe set of parts over the hub-capped co-purchase graph — the
  triangle machinery anchored per-node, same asymmetry contract as
  graph_common_neighbors.
- stat_cvm_two_sample: discrete Cramer-von Mises statistic comparing
  the l_quantity distribution of returned vs non-returned lines over
  the pooled 50-value ECDF; integer-cleared numerator in HUGEINT.
- doc_term_burstiness: variance-to-mean ratio (VMR) of per-document
  counts for the top-50 corpus terms — the classic burstiness screen
  separating function words (VMR ~ 1, Poisson-ish) from topical terms
  (VMR >> 1).
- li_vwap_by_month: volume-weighted average unit price per month in
  exact integer micro-prices, one double division at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.sources.tables import load_table


def _copurchase_sym_adj(li: DataFrame) -> DataFrame:
    """Symmetric distinct co-purchase adjacency (u, nbrs): two shuffles
    total — collect_set(pk) per order basket, map-side double explode,
    collect_set per node (the dedup lives inside the aggregates; the
    u != v guard excludes self-loops).  nbrs is exactly the set of
    parts sharing an order with u, so size(nbrs) IS the co-purchase
    degree — consumers read degrees for free instead of paying the
    union-both-orientations + groupBy rollup.  Repartitioned to the
    session parallelism before the lazy checkpoint because AQE
    coalesces the small array rollup to ~1 partition and every
    map-side explode downstream would serialize (the wave39 lesson).

    Memory bound (r12 ADVICE): one node's whole neighbor set sits in a
    single aggregation buffer/row.  Co-purchase degree is bounded by
    baskets-per-part x basket size — both SF-invariant in this schema
    (~30 x 7: parts scale with data volume), so the max row is KB-sized
    at any scale.  On a schema where a hub's degree CAN grow with
    volume, pre-filter or cap hubs before the collect (approximate
    degree cap, salted two-level aggregation) — consumers here
    additionally hub-cap before any wedge/pair explosion."""
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    return (
        baskets.select(F.explode("pks").alias("u"), F.col("pks"))
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        .repartition(
            li.sparkSession.sparkContext.defaultParallelism, F.col("u")
        )
        .localCheckpoint(eager=False)
    )


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges u < v (parts sharing an
    order).  r12 (guide §2.3/§2.4): collect_set(pk) per order (one
    shuffle, basket-bounded arrays) + map-side pair explosion +
    distinct — identical rows to the former basket self-join build,
    minus the (ok,pk)-distinct exchange and the self-join's two
    ok-partitioned exchanges.  localCheckpoint keeps the multi-
    consumer plans from re-executing the build."""
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    return (
        baskets.select(F.explode("pks").alias("u"), F.col("pks"))
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


# --- degree assortativity ----------------------------------------------------------


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph: Pearson r
    of (deg(u), deg(v)) over both orientations of every edge.  After
    the edge build (one self-join + distinct, the shared graph-family
    cost), the statistic is ONE exact-sum aggregate: sums of x, x^2,
    x*y over 2E contribution rows in DECIMAL(38,0) (HUGEINT in the
    oracle), then a single double division — the same
    exact-at-any-parallelism shape as agg_stats_moments.

    By symmetry sum(x) = sum(y) and sum(x^2) = sum(y^2), so
    r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2) with M = 2E.

    r12 (guide §2.4, §2.3): iterate the SYMMETRIC adjacency arrays —
    each orientation row (u, v) carries deg_u = size(nbrs_u) out of the
    map-side explode and attaches deg_v with ONE |V|-row join; the old
    edge build's pair-distinct exchange, the union-both-orientations
    degree rollup, and the second degree join all disappear.  Summing
    x, x*x, x*y over BOTH orientations equals the old per-edge sums of
    (x+y), (x^2+y^2), 2xy term-for-term, and m = the orientation-row
    count = 2E — identical values into the identical final formula."""
    li = load_table(spark, sf_dir, "lineitem")
    adj = _copurchase_sym_adj(li)
    oriented = adj.select(
        F.size("nbrs").cast("decimal(38,0)").alias("x"),
        F.explode("nbrs").alias("v"),
    )
    dv = adj.select(
        F.col("u").alias("v"), F.size("nbrs").cast("decimal(38,0)").alias("y")
    )
    # r13 (guide §3.1; the wave39 planner trap, caught here by a
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
    # r12 (guide §2.4, §8): build from the shared symmetric adjacency
    # arrays — degree IS size(nbrs), so the union-both-orientations
    # degree rollup disappears; the small-u restriction is a FILTER on
    # a node's own array size, and only the small-v restriction of the
    # neighbor lists needs a join (against the |V|-row small-id set).
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


# --- discrete Cramer-von Mises ------------------------------------------------------


def stat_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete two-sample Cramer-von Mises statistic comparing the
    l_quantity distribution of returned (flag 'R') vs non-returned
    lines: T = n*m/(n+m)^2 * sum_x pooled(x) * (F_n(x) - G_m(x))^2
    over the pooled 50-value ECDF.  Integer-cleared: the sum's
    numerator sum_x pooled(x) * (m*cumA(x) - n*cumB(x))^2 lives in
    HUGEINT; the final scaling is one shared double expression.
    One fact shuffle (the (side, q) rollup); the ECDF runs over <= 50
    rows."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        (F.col("l_returnflag") == "R").cast("int").alias("ret"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per_q = cells.groupBy("q").agg(
        F.sum(F.when(F.col("ret") == 1, F.col("c")).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("ret") == 0, F.col("c")).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_q.select(
        "q",
        (F.col("a") + F.col("b")).alias("pooled"),
        F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    )
    totals = cum.agg(
        F.max("cum_a").cast("decimal(38,0)").alias("n"),
        F.max("cum_b").cast("decimal(38,0)").alias("m"),
    )
    num = (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "n",
            "m",
            (
                F.col("pooled").cast("decimal(38,0)")
                * (
                    F.col("m") * F.col("cum_a").cast("decimal(38,0)")
                    - F.col("n") * F.col("cum_b").cast("decimal(38,0)")
                )
                * (
                    F.col("m") * F.col("cum_a").cast("decimal(38,0)")
                    - F.col("n") * F.col("cum_b").cast("decimal(38,0)")
                )
            ).alias("term"),
        )
        .groupBy("n", "m")
        .agg(F.sum("term").alias("num"))
    )
    return num.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("m").cast("bigint").alias("m"),
        F.round(
            F.col("num").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("m").cast("double")
                * (F.col("n").cast("double") + F.col("m").cast("double"))
                * (F.col("n").cast("double") + F.col("m").cast("double"))
            ),
            6,
        ).alias("t_stat"),
    )


_CVM_SQL = """
WITH cells AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q,
         SUM(CASE WHEN ret = 1 THEN c ELSE 0 END) AS a,
         SUM(CASE WHEN ret = 0 THEN c ELSE 0 END) AS b
  FROM cells GROUP BY q
), cum AS (
  SELECT q, a + b AS pooled,
         SUM(a) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(b) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_q
), tot AS (
  SELECT CAST(MAX(cum_a) AS HUGEINT) AS n,
         CAST(MAX(cum_b) AS HUGEINT) AS m
  FROM cum
), num AS (
  SELECT tot.n, tot.m,
         SUM(CAST(pooled AS HUGEINT)
             * (tot.m * CAST(cum_a AS HUGEINT)
                - tot.n * CAST(cum_b AS HUGEINT))
             * (tot.m * CAST(cum_a AS HUGEINT)
                - tot.n * CAST(cum_b AS HUGEINT))) AS num
  FROM cum, tot GROUP BY tot.n, tot.m
)
SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6) AS t_stat
FROM num
"""


# --- term burstiness ---------------------------------------------------------------


def doc_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of per-document counts for the top-50
    corpus terms (by total count, ties broken by term).  Zero-count
    documents are part of the distribution: with D docs, term total
    S = sum(c) and square sum Q = sum(c^2) over docs containing the
    term, VMR = (D*Q - S^2) / (D*S) — exact integers until one final
    double.  Shape: (term, doc) counts -> per-term sums -> top-50 by
    ORDER BY + LIMIT (no global window)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    per_doc = toks.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per_term = per_doc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("d"))
    top = (
        per_term.orderBy(F.desc("s"), "w")
        .limit(50)
        .crossJoin(F.broadcast(n_docs))
    )
    return (
        top.select(
            F.col("w").alias("term"),
            F.col("s").alias("total_count"),
            F.round(
                (
                    F.col("d").cast("double") * F.col("qq").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double")
                )
                / (F.col("d").cast("double") * F.col("s").cast("double")),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.desc("total_count"), "term")
    )


_BURSTINESS_SQL = """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), per_doc AS (
  SELECT w, doc_id, COUNT(*) AS c FROM toks GROUP BY w, doc_id
), per_term AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS qq
  FROM per_doc GROUP BY w
), nd AS (
  SELECT COUNT(*) AS d FROM documents
)
SELECT w AS term, s AS total_count,
       ROUND((CAST(d AS DOUBLE) * CAST(qq AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(d AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS vmr
FROM per_term, nd
ORDER BY total_count DESC, term LIMIT 50
"""


# --- VWAP --------------------------------------------------------------------------


def li_vwap_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average unit price per ship month: VWAP =
    sum(qty * unit_micro_price) / sum(qty) with unit prices in exact
    integer micro-units (extendedprice is qty * unitprice in TPC-H, so
    unit_micro = round(extprice / qty * 1e6) reconstructs exactly).
    One partial-agg rollup; one double division."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.month("l_shipdate").cast("bigint").alias("mo"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(
            F.col("l_extendedprice") / F.col("l_quantity") * 1000000
        )
        .cast("bigint")
        .alias("unit_micro"),
    )
    return (
        base.groupBy("yr", "mo")
        .agg(
            F.sum("qty").cast("bigint").alias("volume"),
            F.sum(F.col("qty") * F.col("unit_micro"))
            .cast("decimal(38,0)")
            .alias("pv"),
        )
        .select(
            "yr",
            "mo",
            "volume",
            F.round(
                F.col("pv").cast("double")
                / F.col("volume").cast("double")
                / 1000000.0,
                6,
            ).alias("vwap"),
        )
        .orderBy("yr", "mo")
    )


_VWAP_SQL = """
WITH base AS (
  SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
         CAST(MONTH(l_shipdate) AS BIGINT) AS mo,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice / l_quantity * 1000000) AS BIGINT)
           AS unit_micro
  FROM lineitem
)
SELECT yr, mo,
       CAST(SUM(qty) AS BIGINT) AS volume,
       ROUND(CAST(SUM(CAST(qty AS HUGEINT) * unit_micro) AS DOUBLE)
             / CAST(SUM(qty) AS DOUBLE) / 1000000.0, 6) AS vwap
FROM base GROUP BY yr, mo ORDER BY yr, mo
"""


QUERIES = {
    "graph_degree_assortativity": graph_degree_assortativity,
    "graph_local_clustering": graph_local_clustering,
    "stat_cvm_two_sample": stat_cvm_two_sample,
    "doc_term_burstiness": doc_term_burstiness,
    "li_vwap_by_month": li_vwap_by_month,
}

ORACLES = {
    "graph_degree_assortativity": _ASSORT_SQL,
    "graph_local_clustering": _LCC_SQL,
    "stat_cvm_two_sample": _CVM_SQL,
    "doc_term_burstiness": _BURSTINESS_SQL,
    "li_vwap_by_month": _VWAP_SQL,
}
