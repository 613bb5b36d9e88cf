"""Round-8 wave 39: neighborhood MinHash, nearest-as-of, correlation
profiling, burstiness.

- graph_minhash_neighbors: the 25 most-similar part pairs by
  co-purchase NEIGHBORHOOD Jaccard, found via the md5-portable
  MinHash family over neighbor sets (8 hashes, 4 bands x 2) and
  verified EXACTLY on the banded candidates — the round-6 lesson
  ("MinHash over neighbor sets") applied: no dense all-pairs
  neighborhood rollup, the bucket join bounds the candidate space.
  Output is a ranking, not a threshold cut: TPC-H-ish co-purchase
  neighborhoods are near-random (max J ~ 0.1).
- asof_nearest_event: nearest-click-to-purchase in EITHER direction
  (|delta| with earlier-then-smaller-id tie-break) — the bidirectional
  cousin of asof_purchase_last_click / asof_next_event_forward,
  closing the as-of join surface.  Per-purchase row_number over the
  user-bounded candidate join; no global window.
- data_corr_matrix: pairwise Pearson over four lineitem measures from
  ONE scan of exact moments (sums int64, cross-products DECIMAL(38,0)
  — qty*cents*rows overflows int64 by SF 1), each r assembled by a
  fixed double expression and rounded to 1e-9.
- ev_fano_burstiness: index of dispersion (Fano factor) of daily
  event counts per type — variance/mean from exact integer moments,
  the burstiness companion to ev_daily_poisson_outliers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.sources.tables import load_table

_NMH_HASHES = 8
_NMH_BANDS = 4  # 2 hashes per band
_NMH_THRESHOLD = 0.5
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

_H60_SPARK = "CAST(CONV(SUBSTRING(MD5({x}), 1, 15), 16, 10) AS BIGINT)"
_H60_DUCK = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


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
            F.expr(
                _H60_SPARK.format(x=f"CONCAT('{j}', '|', CAST(v AS STRING))")
            ).alias(f"hv{j}")
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

    Scale shape (r12, guide §2.4 + the §8 payload rule): the symmetric
    neighbor-set adjacency is built in TWO shuffles total — collect_set
    per order basket, map-side pair explosion in both directions,
    collect_set per node (the dedup that used to be a pair-distinct
    exchange lives inside the aggregates).  Degrees fall out as
    size(nbrs); the edge rows the signature stage consumes are a
    map-side explode of the same materialized arrays; and the
    exact-Jaccard verify attaches each candidate's TWO neighbor arrays
    once and intersects in-row (candidate x degree work with no
    per-edge shuffle, replacing the former double edge-table join +
    groupBy).  The band bucket join still bounds candidates.  Same
    asymmetry contract as doc MinHash-LSH."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("pks")
    )
    adj = (
        baskets.select(F.explode("pks").alias("u"), "pks")
        .select("u", F.explode("pks").alias("v"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("nbrs"))
        # AQE coalesces the small array rollup to ~1 partition before it
        # is checkpointed; every consumer below (edge explode, vocabulary
        # md5, bucket-cap window, candidate join) would then run on ONE
        # core.  Re-spread to the session parallelism first — the
        # explicit exchange is |V| array rows, paid once.
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("u")
        )
        .localCheckpoint(eager=False)
    )
    edges = adj.select("u", F.explode("nbrs").alias("v"))
    # 8 md5-seeded hashes of each neighbor, min per (node, seed), banded
    # and bucket-joined with the per-bucket skew cap (see _NMH_BUCKET_CAP).
    # r13: the vocabulary is the adjacency's own node column — in the
    # symmetric graph every neighbor id IS a node id, so the |E|-row
    # distinct exchange _nmh_candidates would pay to derive it is
    # replaced by a |V|-row projection of the checkpoint.
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
            # exact shared-neighbor count the old join+groupBy computed
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
         {_H60_DUCK.format(x="CAST(j AS VARCHAR) || '|' || CAST(v AS VARCHAR)")}
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


# --- nearest as-of -------------------------------------------------------------

def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the click by the SAME user nearest in time
    in either direction; ties break to the earlier click then the
    smaller click id.  Per-user equi-join bounds candidates; the pick
    is a row_number over each purchase's candidate set (partitioned —
    no global window).  Users are sampled (user_id % 10 = 0) to match
    the other as-of variants' panel."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", "event_type", "event_id", epoch_us("ts").alias("tus"))
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("tus").alias("pts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("tus").alias("cts"),
    )
    cand = buys.join(clicks, "user_id").select(
        "user_id",
        "purchase_id",
        "pts",
        "click_id",
        "cts",
        F.abs(F.col("cts") - F.col("pts")).alias("adt"),
    )
    w = Window.partitionBy("purchase_id").orderBy("adt", "cts", "click_id")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.col("cts") - F.col("pts")).cast("bigint").alias("delta_us"),
    ).orderBy("purchase_id")


ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
  FROM events WHERE user_id % 10 = 0
), buys AS (
  SELECT user_id, event_id AS purchase_id, tus AS pts
  FROM e WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, tus AS cts
  FROM e WHERE event_type = 'click'
), cand AS (
  SELECT b.user_id, b.purchase_id, b.pts, c.click_id, c.cts,
         abs(c.cts - b.pts) AS adt,
         ROW_NUMBER() OVER (PARTITION BY b.purchase_id
                            ORDER BY abs(c.cts - b.pts), c.cts, c.click_id)
           AS rn
  FROM buys b JOIN clicks c ON b.user_id = c.user_id
)
SELECT purchase_id, user_id, click_id,
       CAST(cts - pts AS BIGINT) AS delta_us
FROM cand WHERE rn = 1 ORDER BY purchase_id
"""


# --- correlation matrix ---------------------------------------------------------

_CORR_COLS = ("qty", "cents", "disc_bps", "tax_bps")


def data_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson r over four lineitem measures from ONE scan:
    per-column sums in int64, cross/squared products in DECIMAL(38,0)
    (cents^2 x rows passes int64 only through SF ~0.3), then each of
    the 6 pair correlations is a fixed double expression over exact
    aggregates, rounded to 1e-9."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("disc_bps"),
        F.round(F.col("l_tax") * 10000).cast("bigint").alias("tax_bps"),
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(c).cast("bigint").alias(f"s_{c}"))
    pairs = [
        (x, _CORR_COLS[j])
        for i, x in enumerate(_CORR_COLS)
        for j in range(i, len(_CORR_COLS))
    ]
    for x, y in pairs:
        aggs.append(
            F.sum(F.col(x).cast("decimal(38,0)") * F.col(y))
            .cast("decimal(38,0)")
            .alias(f"p_{x}_{y}")
        )
    m = li.agg(*aggs)  # 1 row
    # ONE aggregate feeds all 6 pairs (explode, not a 6-way union of
    # selects that would each re-scan the fact in the static plan)
    structs = []
    for x, y in pairs:
        if x == y:
            continue
        r = F.expr(
            f"ROUND((CAST(n AS DOUBLE) * CAST(p_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / (SQRT(CAST(n AS DOUBLE) * CAST(p_{x}_{x} AS DOUBLE)"
            f"          - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f"    * SQRT(CAST(n AS DOUBLE) * CAST(p_{y}_{y} AS DOUBLE)"
            f"           - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 9)"
        )
        structs.append(
            F.struct(
                F.lit(x).alias("col_x"), F.lit(y).alias("col_y"), r.alias("r")
            )
        )
    return (
        m.select(F.explode(F.array(*structs)).alias("e"))
        .select("e.col_x", "e.col_y", "e.r")
        .orderBy("col_x", "col_y")
    )


def _corr_sql() -> str:
    pairs = [
        (x, _CORR_COLS[j])
        for i, x in enumerate(_CORR_COLS)
        for j in range(i, len(_CORR_COLS))
    ]
    prods = ",\n         ".join(
        f"CAST(SUM(CAST({x} AS HUGEINT) * {y}) AS HUGEINT) AS p_{x}_{y}"
        for x, y in pairs
    )
    sums = ",\n         ".join(
        f"CAST(SUM({c}) AS BIGINT) AS s_{c}" for c in _CORR_COLS
    )
    sel = []
    for x, y in pairs:
        if x == y:
            continue
        sel.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y,"
            f" ROUND((CAST(n AS DOUBLE) * CAST(p_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / (SQRT(CAST(n AS DOUBLE) * CAST(p_{x}_{x} AS DOUBLE)"
            f"          - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f"    * SQRT(CAST(n AS DOUBLE) * CAST(p_{y}_{y} AS DOUBLE)"
            f"           - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 9)"
            f" AS r FROM m"
        )
    union = "\nUNION ALL\n".join(sel)
    return f"""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS disc_bps,
         CAST(ROUND(l_tax * 10000) AS BIGINT) AS tax_bps
  FROM lineitem
), m AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sums},
         {prods}
  FROM li
)
{union}
ORDER BY col_x, col_y
"""


# --- Fano burstiness ------------------------------------------------------------

def ev_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean) of daily event counts per type:
    > 1 means burstier than Poisson.  Daily rollup, then exact
    integer moments per type over the bounded day spine; one double
    division chain per type."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    per = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss"),
    )
    fano = F.expr(
        "ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE))"
        " / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 9)"
    )
    return per.select("event_type", "n_days", "s", fano.alias("fano")).orderBy(
        "event_type"
    )


EV_FANO_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cnt) AS BIGINT) AS s,
         CAST(SUM(cnt * cnt) AS BIGINT) AS ss
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, s,
       ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
               / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE))
             / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 9) AS fano
FROM per ORDER BY event_type
"""


QUERIES = {
    "graph_minhash_neighbors": graph_minhash_neighbors,
    "asof_nearest_event": asof_nearest_event,
    "data_corr_matrix": data_corr_matrix,
    "ev_fano_burstiness": ev_fano_burstiness,
}

ORACLES = {
    "graph_minhash_neighbors": GRAPH_MINHASH_SQL,
    "asof_nearest_event": ASOF_NEAREST_SQL,
    "data_corr_matrix": _corr_sql(),
    "ev_fano_burstiness": EV_FANO_SQL,
}
