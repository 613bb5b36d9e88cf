"""Round-12 wave 52: scale-alternative rank testing, directed
information flow between event streams, external cluster-agreement
scoring, and a separation-based cluster-validity index.

- stat_ansari_bradley: Ansari-Bradley scale-alternative rank test (do
  BUILDING and MACHINERY customers differ in account-balance
  DISPERSION? — the scale companion to stat_mann_whitney's location
  test on the same samples).  Doubled midranks keep the doubled
  scores s2 = min(r2, 2(N+1) - r2) exact integers; the null moments
  come from the actual score multiset (exact finite-population
  sampling moments, so ties are handled exactly rather than by a
  no-ties formula): E[W] = m*S1/N, Var[W] = m*n*(N*S2 - S1^2) /
  (N^2 (N-1)).
- ev_transfer_entropy: lag-1 transfer entropy TE(Y -> X) between the
  daily count series of the two lexicographically smallest event
  types (y = signal, x = target), each binarized above its exact
  mean over the gap-filled day spine — the 8-cell (x', x, y)
  contingency is exact integers and the entropy is assembled in
  integer micro-nats (each ln quantized before the order-free
  8-cell sum).
- emb_adjusted_rand: Adjusted Rand Index between the embedding
  labels and the deterministic 16-seed cosine k-means assignment
  (the emb_kmeans_step assignment, operators/similarity.py) — all
  pair-counting combinatorics C(n,2) stay exact in decimal(38,0);
  ARI = (2*C2*Sij - 2*A*B) / (C2*(A+B) - 2*A*B).
- emb_dunn_centroid: centroid-linkage Dunn index
  min_{i != j} d(c_i, c_j) / max_k (2 * a_mean_k) from the exact
  quantized centroid shapes of emb_davies_bouldin — separation over
  diameter, higher is better (the DB index's reciprocal-flavored
  companion).

Reference parity: the reference repo (a 400-line scrape-and-upload
DAG, see SURVEY.md) has no analytics surface; these extend the
statistics, event-analytics, and cluster-quality families a 100 TB
training-data pipeline needs.  Scale shapes in each docstring; every
query is a bounded rollup of one fact scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.similarity import (
    Q_SCALE,
    cosine_from,
    dot_q,
    norm_sq_q,
    quantized,
)
from planning_center_data_pipeline_spark.sources.tables import load_table

_AB_SEG_A = "BUILDING"
_AB_SEG_B = "MACHINERY"


# --- Ansari-Bradley scale test ----------------------------------------------------------


def stat_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley test on account balances (BUILDING vs MACHINERY,
    the stat_mann_whitney samples): scores rank inward from both ends,
    so W small/large means sample A is more/less dispersed.  Doubled
    midranks r2 = 2*RANK + t - 1 keep everything integer; the doubled
    score is s2 = LEAST(r2, 2*(N+1) - r2); W2 = sum of A's s2.  The
    null moments are the EXACT finite-population sampling moments of
    the realized score multiset (ties exact by construction):
    E[W2] = m*S1/N and Var[W2] = m*n*(N*S2 - S1^2) / (N^2 (N-1)) with
    S1 = sum s2, S2 = sum s2^2 (decimal-exact).  Scale shape: the
    stat_kruskal_wallis TWO-PHASE idiom — facts reduce in one
    partial-agg shuffle to the per-VALUE tie-group rollup (bounded by
    the cents domain, <= ~1.1M rows, constant w.r.t. fact growth),
    the midrank prefix sum runs over that rollup, then a 1-row
    moment reduce."""
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_AB_SEG_A, _AB_SEG_B)
    ).select(
        (F.col("c_mktsegment") == _AB_SEG_A).cast("bigint").alias("is_a"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    gl = base.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    vals = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("is_a").cast("bigint").alias("cnt_a"),
    )
    wprev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    scored = (
        vals.crossJoin(F.broadcast(gl))
        .select(
            "cnt",
            "cnt_a",
            "nn",
            (
                2 * (F.coalesce(F.sum("cnt").over(wprev), F.lit(0)) + 1)
                + F.col("cnt")
                - 1
            ).cast("bigint").alias("r2"),
        )
        .select(
            "cnt",
            "cnt_a",
            "nn",
            F.least(
                F.col("r2"), 2 * (F.col("nn") + 1) - F.col("r2")
            ).alias("s2"),
        )
    )
    stats = scored.agg(
        F.min("nn").alias("nn"),
        F.sum("cnt_a").cast("bigint").alias("m"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("n"),
        F.sum(F.col("cnt_a") * F.col("s2")).cast("bigint").alias("w2"),
        F.sum(F.col("cnt") * F.col("s2")).cast("bigint").alias("s1"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("s2") * F.col("s2")
        ).alias("ssq"),
    )
    z_expr = (
        "(CAST(w2 AS DOUBLE) - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(nn AS DOUBLE))"
        " / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)"
        "        * (CAST(nn AS DOUBLE) * CAST(ssq AS DOUBLE)"
        "           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        "        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)"
        "           * (CAST(nn AS DOUBLE) - 1.0)))"
    )
    return stats.select(
        F.col("m").alias("n_a"),
        F.col("n").alias("n_b"),
        "w2",
        F.round(
            F.col("m").cast("double") * F.col("s1").cast("double")
            / F.col("nn").cast("double"),
            6,
        ).alias("e_w2"),
        F.round(F.expr(z_expr), 6).alias("z"),
    )


_AB_SQL = f"""
WITH base AS (
  SELECT CAST(c_mktsegment = '{_AB_SEG_A}' AS BIGINT) AS is_a,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
  WHERE c_mktsegment IN ('{_AB_SEG_A}', '{_AB_SEG_B}')
), gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM base),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(is_a) AS BIGINT) AS cnt_a
  FROM base GROUP BY v
), scored AS (
  SELECT cnt, cnt_a, nn,
         LEAST(r2, 2 * (nn + 1) - r2) AS s2
  FROM (
    SELECT cnt, cnt_a, nn,
           CAST(2 * (COALESCE(SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + 1)
                + cnt - 1 AS BIGINT) AS r2
    FROM vals CROSS JOIN gl
  )
), stats AS (
  SELECT MIN(nn) AS nn,
         CAST(SUM(cnt_a) AS BIGINT) AS m,
         CAST(SUM(cnt - cnt_a) AS BIGINT) AS n,
         CAST(SUM(cnt_a * s2) AS BIGINT) AS w2,
         CAST(SUM(cnt * s2) AS BIGINT) AS s1,
         SUM(CAST(cnt AS HUGEINT) * s2 * s2) AS ssq
  FROM scored
)
SELECT m AS n_a, n AS n_b, w2,
       ROUND(CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE), 6)
         AS e_w2,
       ROUND((CAST(w2 AS DOUBLE) - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(nn AS DOUBLE))
             / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
                    * (CAST(nn AS DOUBLE) * CAST(ssq AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - 1.0))), 6) AS z
FROM stats
"""


# --- transfer entropy between event-type day series -------------------------------------


def ev_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 transfer entropy TE(Y -> X) between the daily count
    series of the two lexicographically smallest event types (x =
    target = smallest, y = signal = second smallest), binarized above
    their exact means over the COMPLETE gap-filled day spine (strict
    >, compared via integer cross-multiplication cx * D > sum_cx so
    no division enters the binarization).  TE = (1/T) * sum over the
    8 (x', x, y) cells of c * [ln c + ln c_x - ln c_xy - ln c_x'x],
    every ln micro-quantized from exact integer counts before the
    order-free 8-cell sum.  TE > 0 means yesterday's Y adds
    information about today's X beyond yesterday's X.  Scale shape:
    one fact rollup to <= ~2400 (day, type) cells, day-spine windows
    on the bounded spine, 8-cell reduce."""
    e = load_table(spark, sf_dir, "events")
    types = (
        e.select(F.col("event_type").alias("t"))
        .distinct()
        .orderBy("t")
        .limit(2)
    )
    ta = types.agg(F.min("t").alias("type_a"))
    tb = types.agg(F.max("t").alias("type_b"))
    daily = (
        e.groupBy(
            F.to_date("ts").alias("d"),
            F.col("event_type").alias("t"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    xy = (
        spine.crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .join(
            daily.select(F.col("d").alias("dx"), "t", F.col("c").alias("cx")),
            (F.col("d") == F.col("dx")) & (F.col("t") == F.col("type_a")),
            "left",
        )
        .drop("dx", "t")
        .join(
            daily.select(F.col("d").alias("dy"), "t", F.col("c").alias("cy")),
            (F.col("d") == F.col("dy")) & (F.col("t") == F.col("type_b")),
            "left",
        )
        .select(
            "d",
            "type_a",
            "type_b",
            F.coalesce("cx", F.lit(0)).alias("cx"),
            F.coalesce("cy", F.lit(0)).alias("cy"),
        )
    )
    tot = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("dd"),
        F.sum("cx").cast("bigint").alias("sx"),
        F.sum("cy").cast("bigint").alias("sy"),
    )
    wd = Window.orderBy("d")
    binz = (
        xy.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "type_a",
            "type_b",
            (F.col("cx") * F.col("dd") > F.col("sx")).cast("bigint").alias("x"),
            (F.col("cy") * F.col("dd") > F.col("sy")).cast("bigint").alias("y"),
        )
        .withColumn("xn", F.lead("x").over(wd))
        .where(F.col("xn").isNotNull())
    )
    cells = binz.groupBy("type_a", "type_b", "xn", "x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wx = Window.partitionBy("x")
    wxy = Window.partitionBy("x", "y")
    wxnx = Window.partitionBy("xn", "x")
    terms = cells.select(
        "type_a",
        "type_b",
        "c",
        F.sum("c").over(wx).cast("bigint").alias("c_x"),
        F.sum("c").over(wxy).cast("bigint").alias("c_xy"),
        F.sum("c").over(wxnx).cast("bigint").alias("c_xnx"),
    ).select(
        "type_a",
        "type_b",
        "c",
        F.expr(
            "c * (CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)"
            "     + CAST(ROUND(LN(CAST(c_x AS DOUBLE)) * 1e6) AS BIGINT)"
            "     - CAST(ROUND(LN(CAST(c_xy AS DOUBLE)) * 1e6) AS BIGINT)"
            "     - CAST(ROUND(LN(CAST(c_xnx AS DOUBLE)) * 1e6) AS BIGINT))"
        ).alias("q"),
    )
    return terms.groupBy("type_a", "type_b").agg(
        F.sum("c").cast("bigint").alias("t_steps"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(
            F.sum("q").cast("double") / F.sum("c").cast("double") / 1e6, 6
        ).alias("te_nats"),
    )


_TE_SQL = """
WITH types AS (
  SELECT t FROM (SELECT DISTINCT event_type AS t FROM events)
  ORDER BY t LIMIT 2
), ta AS (SELECT MIN(t) AS type_a FROM types),
tb AS (SELECT MAX(t) AS type_b FROM types),
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS t,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
  FROM bounds
), xy AS (
  SELECT s.d, ta.type_a, tb.type_b,
         COALESCE(dx.c, 0) AS cx, COALESCE(dy.c, 0) AS cy
  FROM spine s CROSS JOIN ta CROSS JOIN tb
  LEFT JOIN daily dx ON dx.d = s.d AND dx.t = ta.type_a
  LEFT JOIN daily dy ON dy.d = s.d AND dy.t = tb.type_b
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS dd, CAST(SUM(cx) AS BIGINT) AS sx,
         CAST(SUM(cy) AS BIGINT) AS sy
  FROM xy
), binz AS (
  SELECT d, type_a, type_b, x, y,
         LEAD(x) OVER (ORDER BY d) AS xn
  FROM (
    SELECT d, type_a, type_b,
           CAST(cx * dd > sx AS BIGINT) AS x,
           CAST(cy * dd > sy AS BIGINT) AS y
    FROM xy CROSS JOIN tot
  )
), cells AS (
  SELECT type_a, type_b, xn, x, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM binz WHERE xn IS NOT NULL
  GROUP BY type_a, type_b, xn, x, y
), terms AS (
  SELECT type_a, type_b, c,
         c * (CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
              + CAST(ROUND(LN(CAST(SUM(c) OVER (PARTITION BY x)
                                   AS DOUBLE)) * 1e6) AS BIGINT)
              - CAST(ROUND(LN(CAST(SUM(c) OVER (PARTITION BY x, y)
                                   AS DOUBLE)) * 1e6) AS BIGINT)
              - CAST(ROUND(LN(CAST(SUM(c) OVER (PARTITION BY xn, x)
                                   AS DOUBLE)) * 1e6) AS BIGINT)) AS q
  FROM cells
)
SELECT type_a, type_b,
       CAST(SUM(c) AS BIGINT) AS t_steps,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(q) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) / 1e6, 6)
         AS te_nats
FROM terms GROUP BY type_a, type_b
"""


# --- Adjusted Rand Index: labels vs k-means assignment ----------------------------------


def emb_adjusted_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the embedding labels and the
    deterministic 16-seed cosine k-means assignment (identical
    assignment rule to emb_kmeans_step / operators/similarity.py:
    max cosine to the 16 lowest-id seed vectors, centroid-id
    tie-break).  All pair-counting stays exact: with contingency
    n_ij, a_i, b_j and N, using doubled combinatorics
    2*C(x,2) = x(x-1):  ARI = (2*C2*Sij - 2*A*B) /
    (C2*(A+B) - 2*A*B) where Sij/A/B are the 2*C(.,2) sums and C2 =
    2*C(N,2) — every product held in decimal(38,0).  Scale shape:
    one broadcast-assign pass over the embeddings, a 10 x 16 bounded
    contingency, 1-row combinatorics."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.select(
        F.col("vec_id").alias("vid"),
        "label",
        quantized(F.col("embedding")).alias("cv"),
    ).withColumn("cn", norm_sq_q(F.col("cv")))
    cents = (
        c.orderBy("vid")
        .limit(16)
        .select(
            F.col("vid").alias("centroid_id"),
            F.col("cv").alias("centv"),
            F.col("cn").alias("centn"),
        )
    )
    assign = (
        c.crossJoin(F.broadcast(cents))
        .groupBy("vid", "label")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    cosine_from(
                        dot_q(F.col("cv"), F.col("centv")),
                        F.col("cn"),
                        F.col("centn"),
                    ).alias("cos"),
                    (-F.col("centroid_id")).alias("tb"),
                ),
            ).alias("cell")
        )
    )
    cont = assign.groupBy("label", "cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    a_i = cont.groupBy("label").agg(F.sum("nij").cast("bigint").alias("ai"))
    b_j = cont.groupBy("cell").agg(F.sum("nij").cast("bigint").alias("bj"))
    sij = cont.agg(
        F.sum(
            F.col("nij").cast("decimal(38,0)") * (F.col("nij") - 1)
        ).alias("sij2"),
        F.count(F.lit(1)).cast("bigint").alias("nonzero_cells"),
    )
    aa = a_i.agg(
        F.sum(F.col("ai").cast("decimal(38,0)") * (F.col("ai") - 1)).alias(
            "a2"
        ),
        F.count(F.lit(1)).cast("bigint").alias("k_labels"),
        F.sum("ai").cast("bigint").alias("nn"),
    )
    bb = b_j.agg(
        F.sum(F.col("bj").cast("decimal(38,0)") * (F.col("bj") - 1)).alias(
            "b2"
        ),
        F.count(F.lit(1)).cast("bigint").alias("k_cells"),
    )
    ari_expr = (
        "ROUND((2.0 * CAST(c2 AS DOUBLE) * CAST(sij2 AS DOUBLE)"
        "       - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE))"
        " / (CAST(c2 AS DOUBLE) * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))"
        "    - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)), 6)"
    )
    return (
        sij.crossJoin(F.broadcast(aa))
        .crossJoin(F.broadcast(bb))
        .select(
            "nn",
            "k_labels",
            "k_cells",
            "nonzero_cells",
            (
                F.col("nn").cast("decimal(38,0)") * (F.col("nn") - 1)
            ).alias("c2"),
            "sij2",
            "a2",
            "b2",
        )
        .select(
            "nn",
            "k_labels",
            "k_cells",
            "nonzero_cells",
            F.col("sij2").cast("double").alias("sij2_d"),
            F.col("a2").cast("double").alias("a2_d"),
            F.col("b2").cast("double").alias("b2_d"),
            F.expr(ari_expr).alias("ari"),
        )
    )


_ARI_SQL = f"""
WITH allv AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM allv GROUP BY vec_id
), cent_ids AS (
  SELECT vec_id AS centroid_id FROM embeddings ORDER BY vec_id LIMIT 16
), cent_cos AS (
  SELECT d.nid, d.centroid_id,
         CAST(d.dot AS DOUBLE)/sqrt(CAST(nn.nsq AS DOUBLE))
           /sqrt(CAST(nc.nsq AS DOUBLE)) AS cos
  FROM (
    SELECT a.vec_id AS nid, c.centroid_id, CAST(SUM(a.v*b.v) AS BIGINT) AS dot
    FROM allv a
    JOIN cent_ids c ON TRUE
    JOIN allv b ON b.vec_id = c.centroid_id AND b.i = a.i
    GROUP BY 1, 2
  ) d
  JOIN norms nn ON nn.vec_id = d.nid
  JOIN norms nc ON nc.vec_id = d.centroid_id
), assign AS (
  SELECT nid, centroid_id AS cell FROM (
    SELECT nid, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY nid ORDER BY cos DESC, centroid_id) rn
    FROM cent_cos
  ) WHERE rn = 1
), cont AS (
  SELECT e.label, s.cell, CAST(COUNT(*) AS BIGINT) AS nij
  FROM assign s JOIN embeddings e ON e.vec_id = s.nid
  GROUP BY e.label, s.cell
), sij AS (
  SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS sij2,
         CAST(COUNT(*) AS BIGINT) AS nonzero_cells
  FROM cont
), aa AS (
  SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) AS a2,
         CAST(COUNT(*) AS BIGINT) AS k_labels,
         CAST(SUM(ai) AS BIGINT) AS nn
  FROM (SELECT label, CAST(SUM(nij) AS BIGINT) AS ai FROM cont GROUP BY label)
), bb AS (
  SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) AS b2,
         CAST(COUNT(*) AS BIGINT) AS k_cells
  FROM (SELECT cell, CAST(SUM(nij) AS BIGINT) AS bj FROM cont GROUP BY cell)
)
SELECT nn, k_labels, k_cells, nonzero_cells,
       CAST(sij2 AS DOUBLE) AS sij2_d,
       CAST(a2 AS DOUBLE) AS a2_d,
       CAST(b2 AS DOUBLE) AS b2_d,
       ROUND((2.0 * CAST(CAST(nn AS HUGEINT) * (nn - 1) AS DOUBLE)
                  * CAST(sij2 AS DOUBLE)
              - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE))
             / (CAST(CAST(nn AS HUGEINT) * (nn - 1) AS DOUBLE)
                  * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)), 6) AS ari
FROM sij CROSS JOIN aa CROSS JOIN bb
"""


# --- centroid-linkage Dunn index --------------------------------------------------------


def emb_dunn_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-linkage Dunn index over the embedding labels:
    min_{i != j} d(c_i, c_j) / max_k (2 * a_mean_k), with centroid
    distances and mean point-to-centroid distances from the exact
    quantized shapes of emb_davies_bouldin (plans/wave50.py).  Both
    extrema are micro-quantized before the 1-row ratio, so the
    order of the bounded label scans cannot flip the result.  Higher
    is better (well-separated, compact clusters).  Scale shape: one
    |E| x 64 explode rollup, label^2 x 64 bounded pair scan, 1-row
    output."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        "vec_id",
        F.posexplode(quantized(F.col("embedding"))).alias("dim", "v"),
    )
    cent = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    dev = (
        q.join(cent, ["label", "dim"])
        .select(
            "label",
            "vec_id",
            "n",
            (
                (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
                * (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
            ).alias("d2"),
        )
        .groupBy("label", "vec_id")
        .agg(F.min("n").alias("n"), F.sum("d2").alias("d2sum"))
        .select(
            "label",
            F.expr(
                "CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(n AS DOUBLE) * {Q_SCALE}) * 1e6) AS BIGINT)"
            ).alias("d_q"),
        )
    )
    diam = dev.groupBy("label").agg(
        (
            2.0 * F.sum("d_q").cast("double")
            / F.count(F.lit(1)).cast("double") / 1e6
        ).alias("diam")
    )
    max_diam = diam.agg(
        F.max(F.round(F.col("diam") * 1e6).cast("bigint")).alias("maxd_q"),
        F.count(F.lit(1)).cast("bigint").alias("k_labels"),
    )
    ca, cb = cent.alias("ca"), cent.alias("cb")
    sep = (
        ca.join(
            cb,
            (F.col("ca.dim") == F.col("cb.dim"))
            & (F.col("ca.label") < F.col("cb.label")),
        )
        .select(
            F.col("ca.label").alias("la"),
            F.col("cb.label").alias("lb"),
            (
                (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
                * (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
            ).alias("d2"),
            F.col("ca.n").alias("na"),
            F.col("cb.n").alias("nb"),
        )
        .groupBy("la", "lb")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.sum("d2").alias("d2sum"),
        )
        .select(
            F.expr(
                "CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * {Q_SCALE})"
                " * 1e6) AS BIGINT)"
            ).alias("sep_q")
        )
    )
    min_sep = sep.agg(F.min("sep_q").alias("minsep_q"))
    return (
        min_sep.crossJoin(F.broadcast(max_diam))
        .select(
            "k_labels",
            F.round(F.col("minsep_q").cast("double") / 1e6, 6).alias(
                "min_separation"
            ),
            F.round(F.col("maxd_q").cast("double") / 1e6, 6).alias(
                "max_diameter"
            ),
            F.round(
                F.col("minsep_q").cast("double")
                / F.col("maxd_q").cast("double"),
                6,
            ).alias("dunn_index"),
        )
    )


_DUNN_SQL = f"""
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM q GROUP BY label, dim
), dev AS (
  SELECT label, vec_id,
         CAST(ROUND(SQRT(CAST(SUM((CAST(v AS HUGEINT) * n - s)
                                  * (CAST(v AS HUGEINT) * n - s))
                              AS DOUBLE))
                    / (CAST(MIN(n) AS DOUBLE) * {Q_SCALE}) * 1e6)
              AS BIGINT) AS d_q
  FROM q JOIN cent USING (label, dim)
  GROUP BY label, vec_id
), diam AS (
  SELECT label,
         2.0 * CAST(SUM(d_q) AS DOUBLE) / COUNT(*) / 1e6 AS diam
  FROM dev GROUP BY label
), maxd AS (
  SELECT MAX(CAST(ROUND(diam * 1e6) AS BIGINT)) AS maxd_q,
         CAST(COUNT(*) AS BIGINT) AS k_labels
  FROM diam
), sep AS (
  SELECT CAST(ROUND(SQRT(CAST(SUM((CAST(ca.s AS HUGEINT) * cb.n
                                   - CAST(cb.s AS HUGEINT) * ca.n)
                                  * (CAST(ca.s AS HUGEINT) * cb.n
                                     - CAST(cb.s AS HUGEINT) * ca.n))
                              AS DOUBLE))
                    / (CAST(MIN(ca.n) AS DOUBLE) * CAST(MIN(cb.n) AS DOUBLE)
                       * {Q_SCALE}) * 1e6) AS BIGINT) AS sep_q
  FROM cent ca JOIN cent cb
    ON ca.dim = cb.dim AND ca.label < cb.label
  GROUP BY ca.label, cb.label
), minsep AS (SELECT MIN(sep_q) AS minsep_q FROM sep)
SELECT k_labels,
       ROUND(CAST(minsep_q AS DOUBLE) / 1e6, 6) AS min_separation,
       ROUND(CAST(maxd_q AS DOUBLE) / 1e6, 6) AS max_diameter,
       ROUND(CAST(minsep_q AS DOUBLE) / CAST(maxd_q AS DOUBLE), 6)
         AS dunn_index
FROM minsep CROSS JOIN maxd
"""


QUERIES = {
    "stat_ansari_bradley": stat_ansari_bradley,
    "ev_transfer_entropy": ev_transfer_entropy,
    "emb_adjusted_rand": emb_adjusted_rand,
    "emb_dunn_centroid": emb_dunn_centroid,
}

ORACLES = {
    "stat_ansari_bradley": _AB_SQL,
    "ev_transfer_entropy": _TE_SQL,
    "emb_adjusted_rand": _ARI_SQL,
    "emb_dunn_centroid": _DUNN_SQL,
}
