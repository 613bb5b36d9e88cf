"""Round-6 wave 18: embedding drift detection, neighborhood-overlap
graph similarity, and a single-pass data profiler.

- emb_label_centroid_drift: per-label centroid cosine between two
  halves of the corpus (vec_id parity) — the embedding-drift monitor
  a feature store runs between refreshes.  Exact: per-dim int64
  component sums, decimal(38,0) cross-products (they overflow int64
  at scale), one sqrt/division at the end.
- graph_common_neighbors: part-pair similarity by co-purchase
  NEIGHBORHOOD overlap (Jaccard of neighbor sets) with a hub cap —
  the other classic item-similarity signal next to cf_item_item_cosine
  (which scores co-occurrence itself).
- data_profile_orders: the Deequ-style column profile (rows, nulls,
  distincts, min/max) for every orders column in ONE scan — the
  table every ingestion pipeline publishes next to its output.

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.operators.similarity import Q_SCALE
from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64


# --- embedding centroid drift ---------------------------------------------------


def emb_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift: cosine between the SUM vectors of
    the even-vec_id half and the odd-vec_id half (the cosine of sums
    equals the cosine of means — the 1/n factors cancel).  Component
    sums are exact int64 over quantized components; the dot/norm
    cross-products are decimal(38,0) (sum-of-products overflows int64
    once component sums pass ~3e9); ONE sqrt/division at the end.
    drift = 1 - cosine; a healthy refresh stays near 0.

    Plan shape: posexplode is map-side; one shuffle to (label, dim)
    sums, one to the |labels|-row rollup.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.when(
            F.col("even"), F.round(F.col("x").cast("double") * Q_SCALE)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("va"),
        F.when(
            ~F.col("even"), F.round(F.col("x").cast("double") * Q_SCALE)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("vb"),
        F.col("even").cast("long").alias("in_a"),
    )
    per_dim = comp.groupBy("label", "dim").agg(
        F.sum("va").alias("sa"),
        F.sum("vb").alias("sb"),
        F.sum("in_a").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).alias("cb"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    per_label = per_dim.groupBy("label").agg(
        (F.max("ca")).alias("n_a"),
        (F.max("cb")).alias("n_b"),
        F.sum(dec("sa") * dec("sb")).alias("dot"),
        F.sum(dec("sa") * dec("sa")).alias("na2"),
        F.sum(dec("sb") * dec("sb")).alias("nb2"),
    )
    cos = (
        F.col("dot").cast("double")
        / F.sqrt(F.col("na2").cast("double"))
        / F.sqrt(F.col("nb2").cast("double"))
    )
    return per_label.select(
        "label",
        "n_a",
        "n_b",
        F.round(cos, 6).alias("cosine"),
        F.round(F.lit(1.0) - cos, 6).alias("drift"),
    ).orderBy("label")


EMB_LABEL_CENTROID_DRIFT_SQL = f"""
WITH comp AS (
  SELECT label, i AS dim,
         CASE WHEN vec_id % 2 = 0
              THEN CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE})
                        AS BIGINT) ELSE 0 END AS va,
         CASE WHEN vec_id % 2 <> 0
              THEN CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE})
                        AS BIGINT) ELSE 0 END AS vb,
         CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), per_dim AS (
  SELECT label, dim,
         CAST(SUM(va) AS BIGINT) AS sa,
         CAST(SUM(vb) AS BIGINT) AS sb,
         CAST(SUM(in_a) AS BIGINT) AS ca,
         CAST(SUM(1 - in_a) AS BIGINT) AS cb
  FROM comp GROUP BY 1, 2
), per_label AS (
  SELECT label,
         MAX(ca) AS n_a, MAX(cb) AS n_b,
         SUM(CAST(sa AS HUGEINT) * sb) AS dot,
         SUM(CAST(sa AS HUGEINT) * sa) AS na2,
         SUM(CAST(sb AS HUGEINT) * sb) AS nb2
  FROM per_dim GROUP BY label
)
SELECT label, n_a, n_b,
       ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na2 AS DOUBLE))
             / sqrt(CAST(nb2 AS DOUBLE)), 6) AS cosine,
       ROUND(1.0 - CAST(dot AS DOUBLE) / sqrt(CAST(na2 AS DOUBLE))
             / sqrt(CAST(nb2 AS DOUBLE)), 6) AS drift
FROM per_label ORDER BY label
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

    Plan shape (r12 rewrite; r13 onto the shared symmetric adjacency,
    VERDICT item 5, guide §2.4): the graph is built ONCE as
    `_copurchase_sym_adj` (shared with assortativity/LCC — collect_set
    per order -> map-side pair explosion -> collect_set per node).  In
    a symmetric graph the hub-capped per-neighbor source lists ARE the
    adjacency rows themselves: srcs(nbr) = nbrs(nbr) whenever
    deg(nbr) <= cap, so the former |E|-row degree join + re-group
    (explode -> join degv -> filter -> collect_set per nbr: 3 shuffle
    exchanges + a checkpoint) collapses to a FILTER on the checkpointed
    adjacency — zero exchanges.  cdeg (per-source count of surviving
    edges) comes from one explode of the filtered lists.  The wedge
    enumeration stays the map-side double explode with the probe
    filter INSIDE the array (F.filter) before the first explode; each
    surviving list holds <= 128 entries, so every list row expands to
    <= |probes-in-list| x 128 wedges with no join.  r12 measured
    5.3-6.6 -> 3.4-4.3 s interleaved; r13 numbers in
    OPTIMIZATION_r13.md.  Byte-identical output (oracle hash== both
    SFs).

    Scale/memory bound (r12 ADVICE): a collect_set adjacency row
    concentrates one node's neighbor set in a single aggregation
    buffer; per-part co-purchase degree is bounded by baskets-per-part
    x basket size (~30 x 7 at any SF — parts scale with SF), so the
    arrays stay KB-sized; the probe/wedge explode is additionally
    hub-capped at _CN_HUB_CAP (128).
    """
    from planning_center_data_pipeline_spark.plans.wave43 import (
        _copurchase_sym_adj,
    )

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
    from pyspark.sql.window import Window

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


# --- single-pass data profiler ---------------------------------------------------


def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile of the orders table — rows, nulls,
    exact distinct count, and portable min/max representations
    (numerics as scaled-integer strings, dates as ISO days, strings
    raw) — computed in ONE scan: a single wide aggregate row unpivoted
    to one row per column.  This is the shape a 100 TB profiler must
    have; six per-column scans would read the table six times.

    Parallelism floor (r12, guide §2.5): the six count_distincts
    rewrite to an Expand(x7) + SortAggregate over 7-column keys; on a
    single-row-group scan that sort of 7x|rows| wide rows serialized
    on ONE core.  cpu_floor spreads the expand+partial-sort across the
    box; a no-op at real scale where the scan splits on its own.
    """
    o = cpu_floor(load_table(spark, sf_dir, "orders"), "o_orderkey")
    cents_tp = F.round(F.col("o_totalprice") * 100).cast("bigint")
    day = F.date_format("o_orderdate", "yyyy-MM-dd")
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        # o_orderkey
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("k_null"),
        F.count_distinct("o_orderkey").alias("k_dist"),
        F.min("o_orderkey").cast("string").alias("k_min"),
        F.max("o_orderkey").cast("string").alias("k_max"),
        # o_custkey
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("c_null"),
        F.count_distinct("o_custkey").alias("c_dist"),
        F.min("o_custkey").cast("string").alias("c_min"),
        F.max("o_custkey").cast("string").alias("c_max"),
        # o_orderstatus
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("s_null"),
        F.count_distinct("o_orderstatus").alias("s_dist"),
        F.min("o_orderstatus").alias("s_min"),
        F.max("o_orderstatus").alias("s_max"),
        # o_totalprice (cents representation)
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("t_null"),
        F.count_distinct(cents_tp).alias("t_dist"),
        F.min(cents_tp).cast("string").alias("t_min"),
        F.max(cents_tp).cast("string").alias("t_max"),
        # o_orderdate (ISO day)
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("d_null"),
        F.count_distinct(day).alias("d_dist"),
        F.min(day).alias("d_min"),
        F.max(day).alias("d_max"),
        # o_orderpriority
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias("p_null"),
        F.count_distinct("o_orderpriority").alias("p_dist"),
        F.min("o_orderpriority").alias("p_min"),
        F.max("o_orderpriority").alias("p_max"),
    )
    stacked = wide.select(
        "n",
        F.expr(
            "stack(6,"
            " 'o_orderkey', k_null, k_dist, k_min, k_max,"
            " 'o_custkey', c_null, c_dist, c_min, c_max,"
            " 'o_orderstatus', s_null, s_dist, s_min, s_max,"
            " 'o_totalprice_cents', t_null, t_dist, t_min, t_max,"
            " 'o_orderdate', d_null, d_dist, d_min, d_max,"
            " 'o_orderpriority', p_null, p_dist, p_min, p_max"
            ") AS (col_name, n_null, n_distinct, min_repr, max_repr)"
        ),
    )
    return stacked.select(
        "col_name", "n", "n_null", "n_distinct", "min_repr", "max_repr"
    ).orderBy("col_name")


DATA_PROFILE_ORDERS_SQL = """
WITH wide AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS k_null,
    COUNT(DISTINCT o_orderkey) AS k_dist,
    CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
    CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS c_null,
    COUNT(DISTINCT o_custkey) AS c_dist,
    CAST(MIN(o_custkey) AS VARCHAR) AS c_min,
    CAST(MAX(o_custkey) AS VARCHAR) AS c_max,
    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS s_null,
    COUNT(DISTINCT o_orderstatus) AS s_dist,
    MIN(o_orderstatus) AS s_min,
    MAX(o_orderstatus) AS s_max,
    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS t_null,
    COUNT(DISTINCT CAST(ROUND(o_totalprice*100) AS BIGINT)) AS t_dist,
    CAST(MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS VARCHAR) AS t_min,
    CAST(MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS VARCHAR) AS t_max,
    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS d_null,
    COUNT(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS d_dist,
    MIN(strftime(o_orderdate, '%Y-%m-%d')) AS d_min,
    MAX(strftime(o_orderdate, '%Y-%m-%d')) AS d_max,
    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS p_null,
    COUNT(DISTINCT o_orderpriority) AS p_dist,
    MIN(o_orderpriority) AS p_min,
    MAX(o_orderpriority) AS p_max
  FROM orders
)
SELECT col_name, n, n_null, n_distinct, min_repr, max_repr FROM (
  SELECT 'o_orderkey' AS col_name, n, k_null AS n_null,
         k_dist AS n_distinct, k_min AS min_repr, k_max AS max_repr
  FROM wide
  UNION ALL SELECT 'o_custkey', n, c_null, c_dist, c_min, c_max FROM wide
  UNION ALL SELECT 'o_orderstatus', n, s_null, s_dist, s_min, s_max
  FROM wide
  UNION ALL SELECT 'o_totalprice_cents', n, t_null, t_dist, t_min, t_max
  FROM wide
  UNION ALL SELECT 'o_orderdate', n, d_null, d_dist, d_min, d_max FROM wide
  UNION ALL SELECT 'o_orderpriority', n, p_null, p_dist, p_min, p_max
  FROM wide
) ORDER BY col_name
"""


QUERIES = {
    "emb_label_centroid_drift": emb_label_centroid_drift,
    "graph_common_neighbors": graph_common_neighbors,
    "data_profile_orders": data_profile_orders,
}

ORACLES = {
    "emb_label_centroid_drift": EMB_LABEL_CENTROID_DRIFT_SQL,
    "graph_common_neighbors": GRAPH_COMMON_NEIGHBORS_SQL,
    "data_profile_orders": DATA_PROFILE_ORDERS_SQL,
}
