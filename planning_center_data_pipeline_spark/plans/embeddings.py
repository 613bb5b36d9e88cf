"""Embedding queries (`emb_`): exact and approximate nearest neighbours,
LSH, clustering, projections and vector statistics.

Components are quantized to integers (`operators.similarity.Q_SCALE`)
before any arithmetic the oracle has to reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import parallelism as P
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.operators.similarity import (
    Q_SCALE,
    cosine_from,
    dot_q,
    norm_sq_q,
    quantized,
)
from planning_center_data_pipeline_spark.sources.tables import load_table


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


# broadcast: the vec_id < 5 query side; the corpus side streams
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    scale path. Deterministic end-to-end (lowest-id centroids, explicit
    tie-breaks), so the whole assign→probe→score→rank pipeline is
    hash-checked against the SQL oracle; recall vs brute force is
    additionally unit-tested."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.ivf_ann_topk(
        e, e.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=4
    ).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


# --- similarity search ------------------------------------------------------

_DIMS = 64

EMB_ANN_IVF_SQL = f"""
WITH allv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
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
  SELECT nid AS neighbor_id, centroid_id AS cell FROM (
    SELECT nid, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY nid ORDER BY cos DESC, centroid_id) rn
    FROM cent_cos
  ) WHERE rn = 1
), probes AS (
  SELECT nid AS query_id, centroid_id AS cell FROM (
    SELECT nid, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY nid ORDER BY cos DESC, centroid_id) rn
    FROM cent_cos WHERE nid < 5
  ) WHERE rn <= 4
), scored AS (
  SELECT d.query_id, d.neighbor_id,
         CAST(d.dot AS DOUBLE)/sqrt(CAST(nq.nsq AS DOUBLE))
           /sqrt(CAST(nn.nsq AS DOUBLE)) AS cosine
  FROM (
    SELECT c.query_id, c.neighbor_id, CAST(SUM(qa.v*na.v) AS BIGINT) AS dot
    FROM (
      SELECT DISTINCT p.query_id, a.neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.neighbor_id <> p.query_id
    ) c
    JOIN allv qa ON qa.vec_id = c.query_id
    JOIN allv na ON na.vec_id = c.neighbor_id AND na.i = qa.i
    GROUP BY 1, 2
  ) d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


# broadcast: the vec_id < 5 query side; the corpus side streams
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-random-projection buckets (the 100 TB
    path). The sha256-derived hyperplane signs are embedded in both the
    Spark plan and the generated oracle SQL (same Python source of
    truth), so bucketing, multi-probe, and ranking are hash-checked
    end-to-end; recall vs brute force is additionally unit-tested."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.lsh_ann_topk(
        e, e.filter(F.col("vec_id") < 5), k=10, n_bits=8, dims=_DIMS
    ).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _lsh_oracle_sql(n_bits: int = 8, dims: int = 64, probe_radius: int = 1) -> str:
    """Oracle for emb_ann_lsh, generated from the same hyperplane-sign
    and probe-mask functions the Spark operator bakes into its plan."""
    hp_rows = ", ".join(
        f"({j}, {i}, {S._hyperplane_sign(j, i)})"
        for j in range(n_bits)
        for i in range(dims)
    )
    masks = ", ".join(f"({m})" for m in S._probe_masks(n_bits, probe_radius))
    return f"""
WITH allv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {dims})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM allv GROUP BY vec_id
), hp(bit, dim, sgn) AS (VALUES {hp_rows}),
masks(m) AS (VALUES {masks}),
proj AS (
  SELECT a.vec_id, h.bit, CAST(SUM(a.v * h.sgn) AS BIGINT) AS p
  FROM allv a JOIN hp h ON h.dim = a.i - 1
  GROUP BY 1, 2
), buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q
  CROSS JOIN masks
  JOIN buckets c ON c.bucket = xor(q.bucket, masks.m)
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
), scored AS (
  SELECT d.query_id, d.neighbor_id,
         CAST(d.dot AS DOUBLE)/sqrt(CAST(nq.nsq AS DOUBLE))
           /sqrt(CAST(nn.nsq AS DOUBLE)) AS cosine
  FROM (
    SELECT c.query_id, c.neighbor_id, CAST(SUM(qa.v*na.v) AS BIGINT) AS dot
    FROM cand c
    JOIN allv qa ON qa.vec_id = c.query_id
    JOIN allv na ON na.vec_id = c.neighbor_id AND na.i = qa.i
    GROUP BY 1, 2
  ) d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


EMB_ANN_LSH_SQL = _lsh_oracle_sql(8, _DIMS, 1)

_N_PROBES = 20  # FIXED panel: bounded at any SF (eval-harness contract)


def _packed(e: DataFrame) -> DataFrame:
    """(vec_id, w0, w1): 64 sign bits (embedding[i] > 0) packed into
    two 32-bit words via posexplode + conditional shift sums — shifts
    stay <= 31 so BIGINT arithmetic never overflows in either
    engine."""
    exploded = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    )
    return exploded.groupBy("vec_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN i < 32 AND v > 0"
                " THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT)"
                " END"
            )
        )
        .cast("bigint")
        .alias("w0"),
        F.sum(
            F.expr(
                "CASE WHEN i >= 32 AND v > 0"
                " THEN shiftleft(CAST(1 AS BIGINT), i - 32)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("w1"),
    )


def emb_bitpack_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors by Hamming distance over the packed
    sign-bit sketches, for the fixed 20-probe panel; ties break to the
    smaller neighbor id.  The probe side broadcasts; distance is
    bit_count(w0 XOR w0') + bit_count(w1 XOR w1') — pure JVM bit ops,
    no floats anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    packed = _packed(e)
    probes = packed.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("w0").alias("p0"),
        F.col("w1").alias("p1"),
    )
    scored = packed.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.bit_count(F.col("w0").bitwiseXOR(F.col("p0")))
            + F.bit_count(F.col("w1").bitwiseXOR(F.col("p1")))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .orderBy("probe_id", "rank")
    )


_PACKED_CTE = """
packed AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN i <= 32 AND v > 0
                  THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT)
           AS w0,
         CAST(SUM(CASE WHEN i > 32 AND v > 0
                  THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT)
           AS w1
  FROM (SELECT vec_id, unnest(generate_series(1, 64)) AS i,
               embedding FROM embeddings) t,
       LATERAL (SELECT t.embedding[t.i] AS v) l
  GROUP BY vec_id
)"""

_HAMMING_SQL = f"""
WITH {_PACKED_CTE},
probes AS (
  SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1 FROM packed
  WHERE vec_id < {_N_PROBES}
), scored AS (
  SELECT probe_id, vec_id AS neighbor_id,
         CAST(bit_count(xor(w0, p0)) + bit_count(xor(w1, p1)) AS BIGINT)
           AS hamming
  FROM packed, probes WHERE vec_id <> probe_id
), ranked AS (
  SELECT probe_id, neighbor_id, hamming,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
              ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, hamming, rank FROM ranked
WHERE rank <= 3 ORDER BY probe_id, rank
"""


# --- Calinski-Harabasz dispersion ratio ------------------------------------------------


def emb_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz index over the embedding labels:
    CH = (B/(k-1)) / (W/(N-k)), W_l = sum_i ||x_i - c_l||^2 within
    label l and B_l = n_l ||c_l - c||^2, from the exact integer
    rollup of `operators.similarity.label_centroids`: per-dim
    quantized sums keep W_l's numerator n_l * ssq_l - sum_d s_ld^2
    and B_l's numerator sum_d (s_ld N - g_d n_l)^2 exact in
    decimal(38,0); each label's dispersion is converted to original
    units and micro-quantized BEFORE the order-free cross-label sums.
    The quantization scale cancels in the B/W ratio.  Scale shape:
    one |E| x 64 explode rollup; everything below is label-bounded
    (10 x 64)."""
    _, cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    glob = cent.groupBy("dim").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("g"),
    )
    # within: W_l = (n_l * ssq_l - sum_d s_ld^2) / n_l, exact numerator
    per_label_w = (
        cent.select(
            "label",
            "n",
            (
                F.col("n").cast("decimal(38,0)") * F.col("ssq")
                - F.col("s").cast("decimal(38,0)") * F.col("s")
            ).alias("wnum"),
        )
        .groupBy("label")
        .agg(F.min("n").alias("n_points"), F.sum("wnum").alias("wnum"))
        .select(
            "label",
            "n_points",
            F.expr(
                "CAST(ROUND(CAST(wnum AS DOUBLE) / CAST(n_points AS DOUBLE)"
                f" / 1e12 * 1e6) AS BIGINT)"
            ).alias("w_q"),
        )
    )
    # between: B_l = sum_d (s_ld * N - g_d * n_l)^2 / (n_l * N^2)
    per_label_b = (
        cent.join(glob, "dim")
        .select(
            "label",
            "n",
            "nn",
            (
                (
                    F.col("s").cast("decimal(38,0)") * F.col("nn")
                    - F.col("g").cast("decimal(38,0)") * F.col("n")
                )
                * (
                    F.col("s").cast("decimal(38,0)") * F.col("nn")
                    - F.col("g").cast("decimal(38,0)") * F.col("n")
                )
            ).alias("bnum"),
        )
        .groupBy("label")
        .agg(
            F.min("n").alias("n"),
            F.min("nn").alias("nn"),
            F.sum("bnum").alias("bnum"),
        )
        .select(
            "label",
            F.expr(
                "CAST(ROUND(CAST(bnum AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)"
                "    * CAST(nn AS DOUBLE))"
                f" / 1e12 * 1e6) AS BIGINT)"
            ).alias("b_q"),
        )
    )
    per_label = per_label_w.join(per_label_b, "label")
    gl = per_label.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w_q").cast("bigint").alias("w_sum"),
        F.sum("b_q").cast("bigint").alias("b_sum"),
        F.sum("n_points").cast("bigint").alias("n_total"),
    ).select("k", "w_sum", "b_sum", "n_total")
    ch_expr = (
        "ROUND((CAST(b_sum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))"
        " / (CAST(w_sum AS DOUBLE)"
        "    / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6)"
    )
    return (
        per_label.crossJoin(F.broadcast(gl))
        .select(
            "label",
            "n_points",
            F.round(F.col("w_q").cast("double") / 1e6, 6).alias("w_within"),
            F.round(F.col("b_q").cast("double") / 1e6, 6).alias("b_between"),
            F.expr(ch_expr).alias("ch_index"),
        )
        .orderBy("label")
    )


_CH_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         SUM(CAST(v AS HUGEINT) * v) AS ssq
  FROM q GROUP BY label, dim
), gdim AS (
  SELECT dim, CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS g
  FROM cent GROUP BY dim
), plw AS (
  SELECT label, MIN(n) AS n_points,
         CAST(ROUND(CAST(SUM(CAST(n AS HUGEINT) * ssq
                             - CAST(s AS HUGEINT) * s) AS DOUBLE)
                    / CAST(MIN(n) AS DOUBLE)
                    / 1e12 * 1e6) AS BIGINT) AS w_q
  FROM cent GROUP BY label
), plb AS (
  SELECT c.label,
         CAST(ROUND(CAST(SUM((CAST(c.s AS HUGEINT) * gdim.nn
                              - CAST(gdim.g AS HUGEINT) * c.n)
                             * (CAST(c.s AS HUGEINT) * gdim.nn
                                - CAST(gdim.g AS HUGEINT) * c.n))
                         AS DOUBLE)
                    / (CAST(MIN(c.n) AS DOUBLE) * CAST(MIN(gdim.nn) AS DOUBLE)
                       * CAST(MIN(gdim.nn) AS DOUBLE))
                    / 1e12 * 1e6) AS BIGINT) AS b_q
  FROM cent c JOIN gdim USING (dim) GROUP BY c.label
), pl AS (
  SELECT plw.label, plw.n_points, plw.w_q, plb.b_q
  FROM plw JOIN plb ON plw.label = plb.label
), gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(w_q) AS BIGINT) AS w_sum,
         CAST(SUM(b_q) AS BIGINT) AS b_sum,
         CAST(SUM(n_points) AS BIGINT) AS n_total
  FROM pl
)
SELECT label, n_points,
       ROUND(CAST(w_q AS DOUBLE) / 1e6, 6) AS w_within,
       ROUND(CAST(b_q AS DOUBLE) / 1e6, 6) AS b_between,
       ROUND((CAST(b_sum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
             / (CAST(w_sum AS DOUBLE)
                / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6)
         AS ch_index
FROM pl CROSS JOIN gl
ORDER BY label
"""


def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector rollup: per-label centroid, flattened to (label, dim, c).
    Exact: integer sums of quantized components / count
    (`operators.similarity.label_centroids`)."""
    _, cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    return cent.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        (F.col("s").cast("double") / F.col("n") / S.Q_SCALE).alias("centroid"),
    ).orderBy("label", "dim")


EMB_CENTROID_SQL = f"""
SELECT label, i - 1 AS dim,
       CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / {S.Q_SCALE} AS centroid
FROM (SELECT label, embedding, unnest(generate_series(1, {_DIMS})) AS i FROM embeddings)
GROUP BY label, i
ORDER BY label, dim
"""


# --- Davies-Bouldin index over the embedding labels ----------------------------------


def emb_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-validity index over embedding labels:
    a_i = mean point-to-own-centroid distance (the silhouette's exact
    quantized form), d_ij = centroid-pair distance,
    r_i = max_{j != i} (a_i + a_j) / d_ij, DB = mean_i r_i.  Per-label
    maxima are micro-quantized before the cross-label mean so the
    final average is an order-free integer sum.  Scale shape: one
    |E| x 64 explode rollup, one point-level join, label^2 x 64
    bounded centroid-pair scan (10 labels in the synthetic data)."""
    q, cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    dev = S.point_centroid_dist_q(q, cent)
    a_side = dev.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("d_q").cast("bigint").alias("d_sum"),
    )
    a_mean = a_side.select(
        "label",
        "n_points",
        (
            F.col("d_sum").cast("double") / F.col("n_points").cast("double")
            / F.lit(1e6)
        ).alias("a_mean"),
    )
    cdist = S.centroid_pair_dist(cent)
    ai = a_mean.select(F.col("label").alias("la"), F.col("a_mean").alias("a_i"))
    aj = a_mean.select(F.col("label").alias("lb"), F.col("a_mean").alias("a_j"))
    rmax = (
        cdist.join(ai, "la")
        .join(aj, "lb")
        .groupBy("la")
        .agg(
            F.max(
                (F.col("a_i") + F.col("a_j")) / F.col("cdist")
            ).alias("r_max")
        )
        .select(
            "la",
            "r_max",
            F.round(F.col("r_max") * 1e6).cast("bigint").alias("r_q"),
        )
    )
    glob = rmax.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("r_q").cast("bigint").alias("rq_sum"),
    )
    return (
        a_mean.join(rmax, F.col("label") == F.col("la"))
        .crossJoin(F.broadcast(glob))
        .select(
            "label",
            "n_points",
            F.round("a_mean", 6).alias("a_mean"),
            F.round("r_max", 6).alias("r_max"),
            F.round(
                F.col("rq_sum").cast("double")
                / F.col("k").cast("double")
                / F.lit(1e6),
                6,
            ).alias("db_index"),
        )
        .orderBy("label")
    )


_DAVIES_BOULDIN_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM q GROUP BY label, dim
), dev AS (
  SELECT q.label, q.vec_id, MIN(c.n) AS n,
         SUM((CAST(q.v AS HUGEINT) * c.n - c.s)
             * (CAST(q.v AS HUGEINT) * c.n - c.s)) AS d2sum
  FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
  GROUP BY q.label, q.vec_id
), a_side AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))
                    / (CAST(n AS DOUBLE) * 1000000) * 1e6) AS BIGINT))
              AS BIGINT) AS d_sum
  FROM dev GROUP BY label
), a_mean AS (
  SELECT label, n_points,
         CAST(d_sum AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6 AS a_mean
  FROM a_side
), cdist AS (
  SELECT ca.label AS la, cb.label AS lb,
         SQRT(CAST(SUM((CAST(ca.s AS HUGEINT) * cb.n
                        - CAST(cb.s AS HUGEINT) * ca.n)
                       * (CAST(ca.s AS HUGEINT) * cb.n
                          - CAST(cb.s AS HUGEINT) * ca.n)) AS DOUBLE))
           / (CAST(MIN(ca.n) AS DOUBLE) * CAST(MIN(cb.n) AS DOUBLE)
              * 1000000) AS cdist
  FROM cent ca JOIN cent cb
    ON ca.dim = cb.dim AND ca.label <> cb.label
  GROUP BY ca.label, cb.label
), rmax AS (
  SELECT c.la,
         MAX((ai.a_mean + aj.a_mean) / c.cdist) AS r_max,
         CAST(ROUND(MAX((ai.a_mean + aj.a_mean) / c.cdist) * 1e6) AS BIGINT)
           AS r_q
  FROM cdist c
  JOIN a_mean ai ON ai.label = c.la
  JOIN a_mean aj ON aj.label = c.lb
  GROUP BY c.la
), gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(r_q) AS BIGINT) AS rq_sum
  FROM rmax
)
SELECT a.label, a.n_points,
       ROUND(a.a_mean, 6) AS a_mean,
       ROUND(r.r_max, 6) AS r_max,
       ROUND(CAST(g.rq_sum AS DOUBLE) / CAST(g.k AS DOUBLE) / 1e6, 6)
         AS db_index
FROM a_mean a JOIN rmax r ON a.label = r.la CROSS JOIN gl g
ORDER BY a.label
"""


# --- truncated-dimension recall (Matryoshka evaluation) ----------------------

_TRUNC_DIMS = 16

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


_FULL_DIMS = 64

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


# --- centroid-linkage Dunn index --------------------------------------------------------


def emb_dunn_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-linkage Dunn index over the embedding labels:
    min_{i != j} d(c_i, c_j) / max_k (2 * a_mean_k), with centroid
    distances and mean point-to-centroid distances from the exact
    quantized kernels of `operators.similarity` (`label_centroids`,
    `point_centroid_dist_q`, `centroid_pair_dist`).  Both
    extrema are micro-quantized before the 1-row ratio, so the
    order of the bounded label scans cannot flip the result.  Higher
    is better (well-separated, compact clusters).  Scale shape: one
    |E| x 64 explode rollup, label^2 x 64 bounded pair scan, 1-row
    output."""
    q, cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    dev = S.point_centroid_dist_q(q, cent)
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
    sep = S.centroid_pair_dist(cent).select(
        F.round(F.col("cdist") * 1e6).cast("bigint").alias("sep_q")
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


# --- dedup threshold sweep ------------------------------------------------------

_SWEEP_THRESHOLDS = (0.4, 0.5, 0.6, 0.7)


def emb_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup calibration: for each cosine threshold in
    {0.4, 0.5, 0.6, 0.7}, the number of within-label embedding pairs
    at or above it and the number of distinct vectors involved — the
    table that turns "pick a threshold" from folklore into a measured
    decision.  Pairs come from the exact blocked-GEMM scorer (one
    int64 matmul per label block, bit-identical to the SQL oracle's
    per-pair quantized dots).

    Plan shape: the pair set is computed ONCE at the loosest threshold
    and fanned out to the 4-row threshold table (broadcast); both
    rollups are per-threshold conditional aggregates.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pairs = S.near_dup_pairs_by_block_pandas(
        e, "label", threshold=min(_SWEEP_THRESHOLDS)
    )
    thrs = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr double"
    )
    hits = pairs.crossJoin(F.broadcast(thrs)).filter(
        F.col("cosine") >= F.col("thr")
    )
    n_pairs = hits.groupBy("thr").agg(F.count(F.lit(1)).alias("np"))
    n_docs = (
        hits.select(
            "thr", F.explode(F.array("id_1", "id_2")).alias("vec_id")
        )
        .groupBy("thr")
        .agg(F.count_distinct("vec_id").alias("nv"))
    )
    # LEFT join from the ladder: a threshold with zero survivors is
    # exactly what the calibration reader needs to see
    return (
        thrs.join(n_pairs, "thr", "left")
        .join(n_docs, "thr", "left")
        .select(
            F.round("thr", 2).alias("thr"),
            F.coalesce("np", F.lit(0)).alias("n_pairs"),
            F.coalesce("nv", F.lit(0)).alias("n_vecs_affected"),
        )
        .orderBy("thr")
    )


_SWEEP_VALUES_SQL = ", ".join(f"({t})" for t in _SWEEP_THRESHOLDS)

EMB_DUP_THRESHOLD_SWEEP_SQL = f"""
WITH ev AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), dots AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         CAST(SUM(a.v*b.v) AS BIGINT) AS dot
  FROM ev a JOIN ev b ON a.i = b.i AND a.label = b.label
                     AND a.vec_id < b.vec_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_1, id_2,
         CAST(dot AS DOUBLE)/sqrt(CAST(n1.nsq AS DOUBLE))
           /sqrt(CAST(n2.nsq AS DOUBLE)) AS cosine
  FROM dots JOIN norms n1 ON n1.vec_id = id_1
            JOIN norms n2 ON n2.vec_id = id_2
), thrs AS (
  SELECT * FROM (VALUES {_SWEEP_VALUES_SQL}) t(thr)
), hits AS (
  SELECT thr, id_1, id_2 FROM pairs CROSS JOIN thrs WHERE cosine >= thr
), np AS (
  SELECT thr, COUNT(*) AS n_pairs FROM hits GROUP BY thr
), nv AS (
  SELECT thr, COUNT(DISTINCT vec_id) AS n_vecs
  FROM (SELECT thr, id_1 AS vec_id FROM hits
        UNION ALL SELECT thr, id_2 FROM hits)
  GROUP BY thr
)
SELECT ROUND(t.thr, 2) AS thr,
       CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(nv.n_vecs, 0) AS BIGINT) AS n_vecs_affected
FROM thrs t
LEFT JOIN np ON np.thr = t.thr
LEFT JOIN nv ON nv.thr = t.thr
ORDER BY thr
"""


def emb_gram_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow twin of emb_gram_matrix: Arrow buffers -> ndarray via
    flatten+reshape, skipping the pandas object-Series hop.  Same
    integer result, same oracle — the pair measures the Arrow-native
    vs pandas conversion cost on an identical plan shape."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        S.gram_matrix_exact_arrow(e, "embedding", dims=_DIMS)
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "gram_q",
        )
        .orderBy("i", "j")
    )


EMB_GRAM_SQL = f"""
WITH ev AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
)
SELECT a.i - 1 AS i, b.i - 1 AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS gram_q
FROM ev a JOIN ev b ON a.vec_id = b.vec_id
GROUP BY 1, 2
ORDER BY i, j
"""


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide Gram matrix (the covariance/PCA building
    block): one int64 matmul per Arrow batch via mapInPandas, partial
    dims x dims matrices summed by a built-in agg.  Communication is
    O(partitions x dims^2), independent of row count — the shape that
    survives 100 TB (see operators/similarity.gram_matrix_exact)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        S.gram_matrix_exact(e, "embedding", dims=_DIMS)
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "gram_q",
        )
        .orderBy("i", "j")
    )


# 2^20, not Q_SCALE: the query and its oracle both quantize with it
_Q_SCALE = 1 << 20


def emb_hamming_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the binary sketch: for each probe, |top-3 by
    Hamming  INTERSECT  top-3 by exact quantized dot| / 3, averaged.
    Ground truth uses the same int-quantized dot products as the
    emb_topk family (exact integers, ties to smaller id), so the
    harness is deterministic in both engines.  The eval panel is the
    bounded probe set — the 100 TB path is the sketch itself."""
    e = load_table(spark, sf_dir, "embeddings")
    ham = emb_bitpack_hamming(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    q = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * _Q_SCALE).cast("bigint"),
        ).alias("qv"),
    )
    probes = q.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pv")
    )
    dots = q.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with("qv", "pv", lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("dot"), "neighbor_id"
    )
    truth = (
        dots.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("probe_id", "neighbor_id")
    )
    hits = ham.join(truth, ["probe_id", "neighbor_id"]).groupBy(
        "probe_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    per_probe = (
        ham.groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_ret"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per_probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("n_hit").cast("bigint").alias("n_hits"),
        F.round(
            F.sum("n_hit").cast("double")
            / (3.0 * F.count(F.lit(1)).cast("double")),
            6,
        ).alias("recall_at3"),
    )


_RECALL_SQL = f"""
WITH {_PACKED_CTE},
hprobes AS (
  SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1 FROM packed
  WHERE vec_id < {_N_PROBES}
), hscored AS (
  SELECT probe_id, vec_id AS neighbor_id,
         bit_count(xor(w0, p0)) + bit_count(xor(w1, p1)) AS hamming
  FROM packed, hprobes WHERE vec_id <> probe_id
), ham AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id
             ORDER BY hamming, neighbor_id) AS rank
    FROM hscored
  ) WHERE rank <= 3
), qv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_Q_SCALE}) AS BIGINT)
           AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), dprobes AS (
  SELECT vec_id AS probe_id, i, v FROM qv
  WHERE vec_id < {_N_PROBES}
), dots AS (
  SELECT dprobes.probe_id, qv.vec_id AS neighbor_id,
         CAST(SUM(qv.v * dprobes.v) AS BIGINT) AS dot
  FROM qv JOIN dprobes USING (i)
  WHERE qv.vec_id <> dprobes.probe_id
  GROUP BY 1, 2
), truth AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id
             ORDER BY dot DESC, neighbor_id) AS rank
    FROM dots
  ) WHERE rank <= 3
), hits AS (
  SELECT ham.probe_id, COUNT(truth.neighbor_id) AS n_hit
  FROM ham LEFT JOIN truth
    ON ham.probe_id = truth.probe_id
   AND ham.neighbor_id = truth.neighbor_id
  GROUP BY ham.probe_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(n_hit) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(n_hit) AS DOUBLE) / (3.0 * COUNT(*)), 6)
         AS recall_at3
FROM hits
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


EMB_HARD_NEGATIVES_SQL = f"""
WITH qv AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings WHERE vec_id < 10)
), cv AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, {_DIMS})) AS i
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


def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-DB-style int8 quantization: per-vector max-abs scale,
    q8 = round(q * 127 / maxabs) over the exact int64 components —
    the compression step before shipping embeddings to an ANN index.
    Three chained projections on purpose (quantized array, then scale,
    then codes): expressions referenced inside higher-order lambdas
    are re-evaluated per element, so each stage materializes first."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    qv = e.select("vec_id", S.quantized(F.col("embedding")).alias("q"))
    scaled = qv.select(
        "vec_id",
        "q",
        F.greatest(
            F.array_max(F.transform(F.col("q"), lambda x: F.abs(x))), F.lit(1)
        ).alias("maxabs"),
    )
    codes = scaled.select(
        "vec_id",
        "maxabs",
        F.posexplode(
            F.transform(
                F.col("q"),
                lambda x: F.round(x * 127.0 / F.col("maxabs")).cast("int"),
            )
        ).alias("dim", "q8"),
    )
    return codes.select(
        "vec_id", F.col("dim").cast("long").alias("dim"), "maxabs", "q8"
    ).orderBy("vec_id", "dim")


EMB_INT8_SQL = f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE)*{S.Q_SCALE}) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id < 200
), m AS (
  SELECT vec_id, q,
         GREATEST(list_max(list_transform(q, x -> abs(x))), 1) AS maxabs
  FROM qv
)
SELECT vec_id, i - 1 AS dim, maxabs,
       CAST(ROUND(q[i] * 127.0 / maxabs) AS INT) AS q8
FROM m CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ds
ORDER BY vec_id, dim
"""

_IVF_CELLS = 8

_PROBES = (1, 2, 4, 8)


def emb_ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@top-1 of IVF coarse search vs n_probe: corpus vectors are
    assigned to their nearest of 8 deterministic coarse centroids (the
    8 lowest-id vectors — reproducible without a k-means job, same
    convention as ivf_ann_topk); each probe query (vec_id % 25 == 0)
    ranks the 8 cells by query-centroid cosine; a HIT at n_probe = p
    means the exact top-1 neighbor's cell is among the query's p
    nearest cells.  Output: (n_probe, n_queries, n_hits, recall_micro),
    monotone in p and exactly 1.0 at p = 8.

    Scale shape: assignment and probe ranking are broadcast
    cross-scores against 8 rows; the exact-top-1 ground truth is
    probes x catalog by nature (fixed-panel evaluation harness — the
    % 25 predicate is the test-corpus stand-in; run once per tuning
    decision, not per query)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", S.quantized(F.col("embedding")).alias("q"))
        .withColumn("nsq", S.norm_sq_q(F.col("q")))
    )
    # r12 (guide §2.5): spread the one-partition scan so the quantize
    # expressions and the exact-top-1 nested-loop scoring run on all
    # cores (four consumers: centroids, inverted file, probes, ground
    # truth — the lazy checkpoint shares ONE quantize pass between
    # them; kept: without it the sf0.1 bench A/B read 1.66 s vs
    # 1.52 s).  Per-row deterministic expressions — results unchanged.
    e = P.cpu_floor(e, "vec_id").localCheckpoint(eager=False)
    cents = (
        e.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("q").alias("cq"),
            F.col("nsq").alias("cn"),
        )
    )
    # inverted file: nearest centroid per vector (cos desc, low id wins)
    assign = (
        e.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    S.cosine_from(
                        S.dot_q(F.col("q"), F.col("cq")),
                        F.col("nsq"),
                        F.col("cn"),
                    ).alias("cos"),
                    (-F.col("centroid_id")).alias("tb"),
                ),
            ).alias("cell")
        )
    )
    probes = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nsq").alias("qnsq"),
    )
    # per-query cell ranking (probe order)
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.col("centroid_id")
    )
    cell_rank = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "centroid_id",
            S.cosine_from(
                S.dot_q(F.col("qq"), F.col("cq")), F.col("qnsq"), F.col("cn")
            ).alias("qcos"),
        )
        .withColumn("pr", F.row_number().over(qw))
        .select("query_id", F.col("centroid_id").alias("cell"), "pr")
    )
    # exact top-1 ground truth (brute force over the catalog)
    scored = e.join(
        F.broadcast(probes), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        S.cosine_from(
            S.dot_q(F.col("qq"), F.col("q")), F.col("qnsq"), F.col("nsq")
        ).alias("cosine"),
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    top1 = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id")
    )
    # probe rank of the top-1 neighbor's cell, swept over n_probe
    hit_rank = (
        top1.join(assign, top1.neighbor_id == assign.vec_id)
        .select("query_id", "cell")
        .join(cell_rank, ["query_id", "cell"])
        .select("query_id", F.col("pr").alias("hit_pr"))
    )
    sweep = hit_rank.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("bigint").alias("n_probe"),
                        (F.col("hit_pr") <= p).cast("int").alias("hit"),
                    )
                    for p in _PROBES
                ]
            )
        ).alias("s")
    ).select("s.n_probe", "s.hit")
    return (
        sweep.groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("hit").cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "recall_micro",
            F.expr("(n_hits * 1000000) DIV n_queries").cast("bigint"),
        )
        .orderBy("n_probe")
    )


def _ivf_sweep_oracle() -> str:
    probes = ", ".join(f"({p})" for p in _PROBES)
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), norms AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), cent_ids AS (
  SELECT vec_id AS centroid_id FROM norms ORDER BY vec_id LIMIT {_IVF_CELLS}
), cc AS MATERIALIZED (  -- vector-to-centroid cosines, reused twice
  SELECT a.vec_id, c.centroid_id,
         CAST(SUM(a.v * b.v) AS DOUBLE)
           / sqrt(CAST(na.nsq AS DOUBLE))
           / sqrt(CAST(nb.nsq AS DOUBLE)) AS cos
  FROM ev a
  JOIN cent_ids c ON TRUE
  JOIN ev b ON b.vec_id = c.centroid_id AND b.i = a.i
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = c.centroid_id
  GROUP BY a.vec_id, c.centroid_id, na.nsq, nb.nsq
), assign AS MATERIALIZED (
  SELECT vec_id, centroid_id AS cell FROM (
    SELECT vec_id, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, centroid_id) AS rn
    FROM cc
  ) WHERE rn = 1
), cell_rank AS MATERIALIZED (
  SELECT vec_id AS query_id, centroid_id AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, centroid_id) AS pr
  FROM cc WHERE vec_id % 25 = 0
), top1 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(SUM(q.v*c.v) AS DOUBLE)
                      / sqrt(CAST(nq.nsq AS DOUBLE))
                      / sqrt(CAST(nc.nsq AS DOUBLE)) DESC,
                      c.vec_id) AS rn
    FROM ev q
    JOIN ev c ON q.i = c.i AND q.vec_id <> c.vec_id
    JOIN norms nq ON nq.vec_id = q.vec_id
    JOIN norms nc ON nc.vec_id = c.vec_id
    WHERE q.vec_id % 25 = 0
    GROUP BY q.vec_id, c.vec_id, nq.nsq, nc.nsq
  ) WHERE rn = 1
), hit_rank AS (
  SELECT t.query_id, cr.pr AS hit_pr
  FROM top1 t
  JOIN assign a ON a.vec_id = t.neighbor_id
  JOIN cell_rank cr ON cr.query_id = t.query_id AND cr.cell = a.cell
), pp(p) AS (VALUES {probes})
SELECT CAST(p AS BIGINT) AS n_probe,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN hit_pr <= p THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((SUM(CASE WHEN hit_pr <= p THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS recall_micro
FROM hit_rank CROSS JOIN pp
GROUP BY p ORDER BY n_probe
"""


_IVF_NPROBE = 2

_PQ_SUBS = 4

_PQ_DIM = 16

_PQ_CODES = 16

_IVFPQ_QUERIES = 4

_IVFPQ_TOPK = 5


def emb_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbours with asymmetric distance
    (ADC) — the composition a billion-vector index actually runs:

    1. A coarse quantizer (8 deterministic centroids = the quantized
       vectors of vec_id < 8) assigns every vector to one cell; a
       query scans only its nprobe=2 nearest cells.
    2. Product quantization (4 subspaces x 16 codes, codebook =
       subvectors of vec_id < 16) compresses each vector to 4 small
       codes; candidate scoring never touches raw vectors — it sums 4
       values from a per-query LOOKUP TABLE (query-subvector ->
       codeword distances, 4 x 16 = 64 ints per query).
    3. Top-5 per query by ADC distance, ties to the smaller vec_id.

    All arithmetic is exact int64 on 1e6-quantized components: the
    argmin/argsort orders are unambiguous and engine-portable.  Plan
    shape: every *codebook-sized* table (cells=8, codewords=64,
    LUT=queriesx64, query-probe map=8 rows) broadcasts; the
    corpus-sized tables (assignments, codes) equi-join on vec_id and
    shuffle only candidate rows (corpus/cells * nprobe per query).
    AQE decides the candidate-side strategy — nothing corpus-sized is
    hint-broadcast.  At 100 TB only step 1's assignment scans the full
    corpus; ADC scoring touches 4-byte codes, the point of PQ.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", S.quantized(F.col("embedding")).alias("v"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    coarse = qv.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cd = qv.join(F.broadcast(coarse)).select(
        "vec_id", "cell", d2(F.col("v"), F.col("cv")).alias("d")
    )
    wa = Window.partitionBy("vec_id").orderBy("d", "cell")
    assign = (
        cd.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )

    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    S.quantized(F.slice("embedding", s * _PQ_DIM + 1, _PQ_DIM))
                    for s in range(_PQ_SUBS)
                ]
            )
        ).alias("s", "sv"),
    )
    cent = subs.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
    )
    wc = Window.partitionBy("vec_id", "s").orderBy("d", "cid")
    codes = (
        subs.join(F.broadcast(cent), "s")
        .select("vec_id", "s", "cid", d2(F.col("sv"), F.col("cv")).alias("d"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"))
    )

    wq = Window.partitionBy("qid").orderBy("d", "cell")
    qprobe = (
        cd.filter(F.col("vec_id") < _IVFPQ_QUERIES)
        .select(F.col("vec_id").alias("qid"), "cell", "d")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "cell")
    )
    qsubs = subs.filter(F.col("vec_id") < _IVFPQ_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cent), "s").select(
        "qid", "s", F.col("cid").alias("code"),
        d2(F.col("qsv"), F.col("cv")).alias("ld"),
    )

    cand = F.broadcast(qprobe).join(assign, "cell").select("qid", "vec_id")
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("ld").alias("adc_d2"))
    )
    wr = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _IVFPQ_TOPK)
        .select("qid", "rk", "vec_id", "adc_d2")
        .orderBy("qid", "rk")
    )


EMB_IVFPQ_ADC_SQL = f"""
WITH cv AS (
  SELECT vec_id, (i-1)//{_PQ_DIM} AS s, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, {_PQ_SUBS * _PQ_DIM})) AS i
        FROM embeddings)
), coarse AS (
  SELECT c.vec_id, ct.cell, SUM((c.v-ct.v)*(c.v-ct.v)) AS d
  FROM cv c JOIN (SELECT vec_id AS cell, i, v FROM cv
                  WHERE vec_id < {_IVF_CELLS}) ct ON ct.i = c.i
  GROUP BY 1, 2
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM coarse) WHERE rn = 1
), cent AS (
  SELECT vec_id AS cid, s, i, v FROM cv WHERE vec_id < {_PQ_CODES}
), dist AS (
  SELECT c.vec_id, c.s, ct.cid, SUM((c.v-ct.v)*(c.v-ct.v)) AS d
  FROM cv c JOIN cent ct ON ct.s = c.s AND ct.i = c.i
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d, cid) AS rn
    FROM dist) WHERE rn = 1
), qprobe AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM coarse WHERE vec_id < {_IVFPQ_QUERIES}
  ) WHERE rn <= {_IVF_NPROBE}
), lut AS (
  SELECT d.vec_id AS qid, d.s, d.cid AS code, d.d AS ld
  FROM dist d WHERE d.vec_id < {_IVFPQ_QUERIES}
), cand AS (
  SELECT p.qid, a.vec_id FROM qprobe p JOIN assign a USING (cell)
), adc AS (
  SELECT c.qid, c.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_d2
  FROM cand c
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN lut l ON l.qid = c.qid AND l.s = k.s AND l.code = k.code
  GROUP BY 1, 2
)
SELECT qid, rk, vec_id, adc_d2 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY adc_d2, vec_id) AS rk
  FROM adc) WHERE rk <= {_IVFPQ_TOPK}
ORDER BY qid, rk
"""


# --- k-means (one Lloyd iteration) ------------------------------------------

def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration over the embeddings (seed =
    16 lowest-id vectors, cosine assignment, exact quantized-mean
    update) — the iterative-training building block, hash-checked
    against the same assign+average in SQL."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_lloyd_step(e, n_centroids=16)


EMB_KMEANS_STEP_SQL = f"""
WITH allv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS i
        FROM embeddings)
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
)
SELECT s.cell, v.i - 1 AS dim,
       CAST(SUM(v.v) AS DOUBLE) / COUNT(*) / {S.Q_SCALE} AS centroid,
       COUNT(*) AS n_members
FROM assign s JOIN allv v ON v.vec_id = s.nid
GROUP BY s.cell, v.i
ORDER BY cell, dim
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

_WIDTHS = (4, 8, 12)
# The prefix-mask signature build below relies on _WIDTHS being sorted
# ascending (_WIDTHS[:-1] masked off the widest column): enforce it so
# a reordered tuple fails loudly instead of silently dropping a width
# (r12 ADVICE).
assert _WIDTHS == tuple(sorted(_WIDTHS)), "_WIDTHS must be ascending"


def emb_lsh_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@top-1 of single-band SRP-LSH vs bucket width: probes are
    the vec_id % 25 == 0 sample; the exact top-1 is the quantized-int
    cosine argmax (ties broken by neighbor id); a width-w HIT means
    probe and its exact top-1 share all w leading sign bits.  Output:
    (n_bits, n_probes, n_hits, recall_micro) — recall falls as width
    grows, quantifying the bucket-precision/recall trade the banded
    variants (emb_ann_lsh, emb_near_dup_lsh) tune around.

    Scale shape: the probe side is broadcast against the streaming
    catalog (the similarity-family asymmetry); signatures are per-row
    expressions; the sweep unpivot is 3 rows per probe.  Cost honesty:
    the ground truth is EXACT top-1, so work is probes x catalog — at
    real scale an evaluation harness pins the probe panel to a fixed
    size (the % 25 predicate here is the test-corpus stand-in, same
    contract as emb_dim_trunc_recall); the sweep is run once per
    tuning decision, not per query."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", S.quantized(F.col("embedding")).alias("q"))
        .select(
            "vec_id",
            "q",
            # signatures over the QUANTIZED vector (the srp convention
            # everywhere in operators/similarity.py, mirrored by the
            # oracle's sign table over the same quantized components).
            # r12: the widths are nested prefixes of ONE hyperplane
            # family, so sig_w == sig_maxw & (2^w - 1) bit-for-bit
            # (bit j of the signature is shiftleft(sign_j, j) for the
            # same hyperplane j at every width) — compute the widest
            # signature once and mask, instead of three independent
            # w x 64-literal expression trees (guide §1.4: the build +
            # eval of those trees, not the shuffle, was the wall).
            S.srp_signature("q", max(_WIDTHS), _DIMS).alias(
                f"sig{max(_WIDTHS)}"
            ),
        )
        .select(
            "vec_id",
            "q",
            *[
                F.col(f"sig{max(_WIDTHS)}")
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias(f"sig{w}")
                for w in _WIDTHS[:-1]
            ],
            f"sig{max(_WIDTHS)}",
        )
        .withColumn("nsq", S.norm_sq_q(F.col("q")))
    )
    # r12 (guide §2.5, §1.4): the single-row-group scan is ONE
    # partition, so the quantize + signature expressions AND the
    # exact-top-1 nested-loop scoring below would serialize on one
    # core.  Both consumers (probe panel, catalog side) sit above the
    # SAME repartition exchange, so ReuseExchange shares one signature
    # computation — no checkpoint needed (localCheckpoint costs ~0.5 s
    # of eager plan-to-RDD work per run here).  Per-row deterministic
    # expressions — results unchanged.
    e = P.cpu_floor(e, "vec_id")
    probes = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nsq").alias("qnsq"),
        *[F.col(f"sig{w}").alias(f"psig{w}") for w in _WIDTHS],
    )
    scored = e.join(
        F.broadcast(probes), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        *[F.col(f"psig{w}") for w in _WIDTHS],
        *[F.col(f"sig{w}") for w in _WIDTHS],
        F.col("vec_id").alias("neighbor_id"),
        (
            S.dot_q(F.col("qq"), F.col("q")).cast("double")
            / F.sqrt(F.col("qnsq").cast("double"))
            / F.sqrt(F.col("nsq").cast("double"))
        ).alias("cosine"),
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    top1 = scored.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") == 1
    )
    sweep = top1.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).cast("bigint").alias("n_bits"),
                        (F.col(f"psig{w}") == F.col(f"sig{w}"))
                        .cast("int")
                        .alias("hit"),
                    )
                    for w in _WIDTHS
                ]
            )
        ).alias("s")
    ).select("s.n_bits", "s.hit")
    return (
        sweep.groupBy("n_bits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum("hit").cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "recall_micro",
            F.expr("(n_hits * 1000000) DIV n_probes").cast("bigint"),
        )
        .orderBy("n_bits")
    )


def _recall_sweep_oracle() -> str:
    widths = ", ".join(f"({w})" for w in _WIDTHS)
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), sgn(bit, dim, sgn) AS (
  VALUES {S.srp_sign_table_sql_rows(max(_WIDTHS), _DIMS)}
), proj AS MATERIALIZED (
  SELECT ev.vec_id, sgn.bit, SUM(ev.v * sgn.sgn) AS p
  FROM ev JOIN sgn ON ev.i - 1 = sgn.dim
  GROUP BY 1, 2
), widths(w) AS (VALUES {widths}),
sig AS MATERIALIZED (
  SELECT vec_id, w,
         SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
           FILTER (WHERE bit < w) AS bucket
  FROM proj CROSS JOIN widths GROUP BY 1, 2
), norms AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), top1 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(SUM(q.v*c.v) AS DOUBLE)
                      / sqrt(CAST(nq.nsq AS DOUBLE))
                      / sqrt(CAST(nc.nsq AS DOUBLE)) DESC,
                      c.vec_id) AS rn
    FROM ev q
    JOIN ev c ON q.i = c.i AND q.vec_id <> c.vec_id
    JOIN norms nq ON nq.vec_id = q.vec_id
    JOIN norms nc ON nc.vec_id = c.vec_id
    WHERE q.vec_id % 25 = 0
    GROUP BY q.vec_id, c.vec_id, nq.nsq, nc.nsq
  ) WHERE rn = 1
)
SELECT CAST(sp.w AS BIGINT) AS n_bits,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN sp.bucket = sn.bucket THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((SUM(CASE WHEN sp.bucket = sn.bucket THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS recall_micro
FROM top1 t
JOIN sig sp ON sp.vec_id = t.query_id
JOIN sig sn ON sn.vec_id = t.neighbor_id AND sn.w = sp.w
GROUP BY sp.w
ORDER BY n_bits
"""


# --- maximum inner product search ----------------------------------------------


def emb_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (MIPS): top-3 catalog vectors by
    UN-normalized dot product for each probe (vec_id % 97 = 0) — the
    recommender scoring mode where magnitude matters (popularity-scaled
    item vectors), distinct from cosine retrieval.  Dots are exact
    int64 over the Q_SCALE-quantized components, so ranking and values
    are bit-portable.

    Scale shape: the probe side is broadcast (bounded by the % 97
    sample contract); the catalog side streams — the same asymmetry
    contract as the kNN family.  For unbounded probe sets the
    norm-augmentation reduction to cosine-ANN (append sqrt(M^2-|x|^2)
    as an extra coordinate) rides the existing IVF/LSH paths."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.quantized(F.col("embedding")).alias("q")
    )
    probes = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.dot_q(F.col("qq"), F.col("q")).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.col("dot").cast("bigint").alias("dot"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def _mips_oracle() -> str:
    return f"""
WITH qv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings WHERE vec_id % 97 = 0)
), cv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), dots AS (
  SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
         CAST(SUM(qv.v * cv.v) AS BIGINT) AS dot
  FROM qv JOIN cv USING (i)
  WHERE qv.vec_id <> cv.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, dot, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, neighbor_id) AS rank
  FROM dots
) WHERE rank <= 3 ORDER BY query_id, rank
"""


def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH banded prefilter + exact integer rescore — the 100 TB
    near-dup shape (no per-block quadratic over raw data; candidate
    generation is a banded bucket equi-join).  Deterministic end-to-end
    (sha256-derived hyperplanes), so the full pipeline hash-matches a
    SQL oracle that mirrors the sign table.  Recall vs the exact path
    is additionally unit-tested."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs_lsh_rescore(
        e, threshold=0.4, n_bands=4, bits_per_band=8, dims=_DIMS
    ).orderBy("id_1", "id_2")


# Oracle for the banded-LSH prefilter + exact rescore: mirrors the
# deterministic sha256 hyperplane sign table (32 global bits = 4 bands
# x 8 bits over 64 dims), the per-band bucket id construction
# (shiftleft of sign bits), the any-band candidate join, and the exact
# quantized rescore — pair-for-pair identical to the Spark plan.
EMB_NEAR_DUP_LSH_SQL = f"""
WITH ev AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), sgn(bit, dim, sgn) AS (
  VALUES {S.srp_sign_table_sql_rows(32, _DIMS)}
), proj AS (
  SELECT ev.vec_id, sgn.bit, SUM(ev.v * sgn.sgn) AS p
  FROM ev JOIN sgn ON ev.i - 1 = sgn.dim
  GROUP BY 1, 2
), sig AS (
  SELECT vec_id, bit // 8 AS band,
         SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << (bit % 8)) ELSE 0 END)
           AS bucket
  FROM proj GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), dots AS (
  SELECT c.id_1, c.id_2, CAST(SUM(a.v*b.v) AS BIGINT) AS dot
  FROM cand c
  JOIN ev a ON a.vec_id = c.id_1
  JOIN ev b ON b.vec_id = c.id_2 AND b.i = a.i
  GROUP BY 1, 2
)
SELECT id_1, id_2,
       CAST(dot AS DOUBLE)/sqrt(CAST(n1.nsq AS DOUBLE))/sqrt(CAST(n2.nsq AS DOUBLE)) AS cosine
FROM dots JOIN norms n1 ON n1.vec_id = id_1 JOIN norms n2 ON n2.vec_id = id_2
WHERE CAST(dot AS DOUBLE)/sqrt(CAST(n1.nsq AS DOUBLE))/sqrt(CAST(n2.nsq AS DOUBLE)) >= 0.4
ORDER BY id_1, id_2
"""


def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-label near-dup pairs — primary path is the
    grouped-numpy block matmul (one int64 GEMM per label block), which
    is bit-identical to the per-pair expression join
    (`S.near_dup_pairs_by_block`, kept as its pytest equality twin) and
    measured ~8x faster at sf0.1.  This is the exact-verification
    query; the scale path over raw (unblocked) corpora is
    `emb_near_dup_lsh` below."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs_by_block_pandas(e, "label", threshold=0.4).orderBy(
        "id_1", "id_2"
    )


EMB_NEAR_DUP_SQL = f"""
WITH ev AS (
  SELECT vec_id, label, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), norms AS (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), dots AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2, CAST(SUM(a.v*b.v) AS BIGINT) AS dot
  FROM ev a JOIN ev b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_1, id_2,
       CAST(dot AS DOUBLE)/sqrt(CAST(n1.nsq AS DOUBLE))/sqrt(CAST(n2.nsq AS DOUBLE)) AS cosine
FROM dots JOIN norms n1 ON n1.vec_id = id_1 JOIN norms n2 ON n2.vec_id = id_2
WHERE CAST(dot AS DOUBLE)/sqrt(CAST(n1.nsq AS DOUBLE))/sqrt(CAST(n2.nsq AS DOUBLE)) >= 0.4
ORDER BY id_1, id_2
"""


# (language-ID evaluation lives in documents_text.doc_lang_confusion — the
# declared x guessed matrix with per-row shares; not duplicated here)


# --- PCA spectrum from the exact Gram matrix --------------------------------

def emb_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigen-spectrum of the embedding second-moment matrix — the
    variance-explained curve behind PCA whitening / dimensionality
    decisions on an embedding corpus.

    100 TB shape: the distributed part is `gram_matrix_exact` (one
    int64 GEMM per Arrow batch, O(partitions x dims^2) communication,
    independent of row count); the eigensolve is dims x dims = 64x64
    on the driver — a fixed microsecond-scale cost at ANY corpus
    size.  NOTE: building this DataFrame runs the Gram job eagerly
    (the spectrum IS driver data); callers that only want the plan
    should use gram_matrix_exact directly.

    Rows-only entry: eigensolves aren't SQL-expressible.  Invariants
    (trace preservation, PSD, descending order) are pytest-checked."""
    import numpy as np

    # kept: the eigensolve needs the 64x64 Gram matrix on the driver
    gram_rows = S.gram_matrix_exact(load_table(spark, sf_dir, "embeddings")).collect()
    dims = 64
    g = np.zeros((dims, dims), dtype=np.float64)
    for r in gram_rows:
        g[r["i"], r["j"]] = r["gram_q"]
    g /= float(S.Q_SCALE) ** 2
    evals = np.linalg.eigvalsh(g)[::-1]  # descending
    total = float(evals.sum())
    rows = []
    cum = 0.0
    for k, ev in enumerate(evals):
        cum += float(ev)
        rows.append(
            (
                k,
                round(float(ev), 9),
                round(float(ev) / total, 9) if total else 0.0,
                round(cum / total, 9) if total else 0.0,
            )
        )
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, var_share double, cum_share double"
    )


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
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
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

_SD_BITS = 8  # <= 2^8 buckets -> the rep side is broadcast-bounded

_SD_THRESHOLD = 0.8


def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup decision table: (vec_id, bucket, rep_id,
    cos_to_rep, keep).  keep = 1 for each bucket representative and for
    members whose cosine to the representative is BELOW the 0.8
    threshold; keep = 0 marks the semantic duplicates a curation
    pipeline would drop.

    Scale shape: signatures are per-row expressions; the bucket
    rollup shrinks to <= 2^{bits} rows, so both the rep election and
    the rep-vector lookup are broadcast joins against bounded sides;
    the only fact-sized shuffle is the signature groupBy.  Recall is
    governed by the LSH width exactly as measured by
    emb_lsh_recall_sweep — the documented tuning companion."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", S.quantized(F.col("embedding")).alias("q"))
        .withColumn("bucket", S.srp_signature("q", _SD_BITS, _DIMS))
        .withColumn("nsq", S.norm_sq_q(F.col("q")))
    )
    # r12 (guide §2.5): spread the one-partition scan so the quantize +
    # signature expressions run on all cores (three consumers: rep
    # election, rep-vector lookup, member scoring — the lazy checkpoint
    # shares ONE signature computation between them; kept: without it
    # the sf0.1 bench A/B read 1.59 s vs 0.74 s).  Per-row
    # deterministic expressions — results unchanged.
    e = P.cpu_floor(e, "vec_id").localCheckpoint(eager=False)
    reps = e.groupBy("bucket").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    rep_vecs = e.select(
        F.col("vec_id").alias("rep_id"),
        F.col("q").alias("rq"),
        F.col("nsq").alias("rnsq"),
    )
    # both joined sides are <= 2^_SD_BITS rows by construction
    scored = (
        e.join(F.broadcast(reps), "bucket")
        .join(F.broadcast(reps.join(rep_vecs, "rep_id")
                          .select("rep_id", "rq", "rnsq")), "rep_id")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("rep_id").cast("bigint").alias("rep_id"),
            "n_members",
            S.cosine_from(
                S.dot_q(F.col("q"), F.col("rq")), F.col("nsq"), F.col("rnsq")
            ).alias("cos_to_rep"),
        )
    )
    return scored.select(
        "vec_id",
        "bucket",
        "rep_id",
        "n_members",
        "cos_to_rep",
        F.when(
            (F.col("vec_id") == F.col("rep_id"))
            | (F.col("cos_to_rep") < _SD_THRESHOLD),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    ).orderBy("vec_id")


def _semantic_dedup_oracle() -> str:
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings)
), sgn(bit, dim, sgn) AS (
  VALUES {S.srp_sign_table_sql_rows(_SD_BITS, _DIMS)}
), proj AS MATERIALIZED (
  SELECT ev.vec_id, sgn.bit, SUM(ev.v * sgn.sgn) AS p
  FROM ev JOIN sgn ON ev.i - 1 = sgn.dim
  GROUP BY 1, 2
), sig AS MATERIALIZED (
  SELECT vec_id,
         SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
           AS bucket
  FROM proj GROUP BY 1
), norms AS MATERIALIZED (
  SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq FROM ev GROUP BY vec_id
), reps AS (
  SELECT bucket, MIN(vec_id) AS rep_id,
         CAST(COUNT(*) AS BIGINT) AS n_members
  FROM sig GROUP BY bucket
), dots AS MATERIALIZED (
  SELECT s.vec_id, r.rep_id, SUM(me.v * re.v) AS dot
  FROM sig s
  JOIN reps r USING (bucket)
  JOIN ev me ON me.vec_id = s.vec_id
  JOIN ev re ON re.vec_id = r.rep_id AND re.i = me.i
  GROUP BY 1, 2
), scored AS (
  SELECT s.vec_id, s.bucket, r.rep_id, r.n_members,
         CAST(d.dot AS DOUBLE)
           / sqrt(CAST(nm.nsq AS DOUBLE))
           / sqrt(CAST(nr.nsq AS DOUBLE)) AS cos_to_rep
  FROM sig s
  JOIN reps r USING (bucket)
  JOIN dots d ON d.vec_id = s.vec_id AND d.rep_id = r.rep_id
  JOIN norms nm ON nm.vec_id = s.vec_id
  JOIN norms nr ON nr.vec_id = r.rep_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(bucket AS BIGINT) AS bucket,
       CAST(rep_id AS BIGINT) AS rep_id,
       n_members, cos_to_rep,
       CAST(CASE WHEN vec_id = rep_id OR cos_to_rep < {_SD_THRESHOLD}
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM scored ORDER BY vec_id
"""


# --- centroid silhouette over the embedding labels ----------------------------------


def emb_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per embedding label: a = mean distance
    of the label's points to their own centroid, b = distance from the
    label's centroid to the NEAREST other centroid, sil = (b - a) /
    max(a, b) — the clustering-quality scan a curation pipeline runs
    over labeled shards.  Components are 1e6-quantized integers, all
    squared-distance sums run exactly in DECIMAL(38,0)/HUGEINT, each
    point's distance is one SQRT over those exact integers quantized
    to micro-units before the per-label mean (order-free integer sum),
    and the centroid-pair scan is label^2 x 64 rows (bounded).  Scale
    shape: one explode rollup (|E| x 64), one point-level join on
    (label, dim), bounded centroid self-join."""
    q, cent = S.label_centroids(load_table(spark, sf_dir, "embeddings"))
    dev = S.point_centroid_dist_q(q, cent)
    a_side = dev.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("d_q").cast("bigint").alias("d_sum"),
    )
    pair = (
        S.centroid_pair_dist(cent)
        .groupBy("la")
        .agg(F.min("cdist").alias("b_dist"))
    )
    return (
        a_side.join(pair, F.col("label") == F.col("la"))
        .select(
            "label",
            "n_points",
            F.round(
                F.expr("CAST(d_sum AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6"),
                6,
            ).alias("a_mean"),
            F.round("b_dist", 6).alias("b_near"),
            F.round(
                F.expr(
                    "(b_dist - CAST(d_sum AS DOUBLE)"
                    " / CAST(n_points AS DOUBLE) / 1e6)"
                    " / GREATEST(b_dist, CAST(d_sum AS DOUBLE)"
                    "            / CAST(n_points AS DOUBLE) / 1e6)"
                ),
                6,
            ).alias("silhouette"),
        )
        .orderBy("label")
    )


_SILHOUETTE_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM q GROUP BY label, dim
), dev AS (
  SELECT q.label, q.vec_id, MIN(c.n) AS n,
         SUM((CAST(q.v AS HUGEINT) * c.n - c.s)
             * (CAST(q.v AS HUGEINT) * c.n - c.s)) AS d2sum
  FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
  GROUP BY q.label, q.vec_id
), dq AS (
  SELECT label,
         CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))
              / (CAST(n AS DOUBLE) * 1000000) * 1e6) AS BIGINT) AS d_q
  FROM dev
), a_side AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(d_q) AS BIGINT) AS d_sum
  FROM dq GROUP BY label
), pair AS (
  SELECT la, MIN(cdist) AS b_dist FROM (
    SELECT ca.label AS la, cb.label AS lb,
           SQRT(CAST(SUM((CAST(ca.s AS HUGEINT) * cb.n
                          - CAST(cb.s AS HUGEINT) * ca.n)
                         * (CAST(ca.s AS HUGEINT) * cb.n
                            - CAST(cb.s AS HUGEINT) * ca.n)) AS DOUBLE))
             / (CAST(MIN(ca.n) AS DOUBLE) * CAST(MIN(cb.n) AS DOUBLE)
                * 1000000) AS cdist
    FROM cent ca JOIN cent cb
      ON ca.dim = cb.dim AND ca.label <> cb.label
    GROUP BY ca.label, cb.label
  ) GROUP BY la
)
SELECT a.label, a.n_points,
       ROUND(CAST(a.d_sum AS DOUBLE) / CAST(a.n_points AS DOUBLE) / 1e6, 6)
         AS a_mean,
       ROUND(p.b_dist, 6) AS b_near,
       ROUND((p.b_dist - CAST(a.d_sum AS DOUBLE)
              / CAST(a.n_points AS DOUBLE) / 1e6)
             / GREATEST(p.b_dist, CAST(a.d_sum AS DOUBLE)
                        / CAST(a.n_points AS DOUBLE) / 1e6), 6) AS silhouette
FROM a_side a JOIN pair p ON a.label = p.la
ORDER BY a.label
"""


# broadcast: the vec_id < 5 query side; the corpus side streams
def emb_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=10).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


EMB_TOPK_SQL = f"""
WITH qv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
        FROM embeddings WHERE vec_id < 5)
), cv AS (
  SELECT vec_id, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, {_DIMS})) AS i
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
         CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq AS DOUBLE)) / sqrt(CAST(nn.nsq AS DOUBLE)) AS cosine
  FROM dots
  JOIN norms nq ON nq.vec_id = query_id
  JOIN norms nn ON nn.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


def emb_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy twin of emb_topk_cosine (int64 matmul per batch,
    float ops in the expression path's exact order) — bit-identical to
    the expression version, checked against the same SQL oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk_pandas(e, e.filter(F.col("vec_id") < 5), k=10).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


QUERIES = {
    "emb_adjusted_rand": emb_adjusted_rand,
    "emb_ann_ivf": emb_ann_ivf,
    "emb_ann_lsh": emb_ann_lsh,
    "emb_bitpack_hamming": emb_bitpack_hamming,
    "emb_calinski_harabasz": emb_calinski_harabasz,
    "emb_centroid_by_label": emb_centroid_by_label,
    "emb_davies_bouldin": emb_davies_bouldin,
    "emb_dim_trunc_recall": emb_dim_trunc_recall,
    "emb_dunn_centroid": emb_dunn_centroid,
    "emb_dup_threshold_sweep": emb_dup_threshold_sweep,
    "emb_gram_arrow": emb_gram_arrow,
    "emb_gram_matrix": emb_gram_matrix,
    "emb_hamming_recall_at3": emb_hamming_recall_at3,
    "emb_hard_negatives": emb_hard_negatives,
    "emb_int8_quantize": emb_int8_quantize,
    "emb_ivf_nprobe_recall_sweep": emb_ivf_nprobe_recall_sweep,
    "emb_ivfpq_adc": emb_ivfpq_adc,
    "emb_kmeans_step": emb_kmeans_step,
    "emb_knn_classify": emb_knn_classify,
    "emb_label_centroid_drift": emb_label_centroid_drift,
    "emb_lsh_recall_sweep": emb_lsh_recall_sweep,
    "emb_mips_topk": emb_mips_topk,
    "emb_near_dup_lsh": emb_near_dup_lsh,
    "emb_near_dup_pairs": emb_near_dup_pairs,
    "emb_pca_variance": emb_pca_variance,
    "emb_pq_codes": emb_pq_codes,
    "emb_semantic_dedup": emb_semantic_dedup,
    "emb_silhouette_centroid": emb_silhouette_centroid,
    "emb_topk_cosine": emb_topk_cosine,
    "emb_topk_pandas": emb_topk_pandas,
}
ORACLES = {
    "emb_adjusted_rand": _ARI_SQL,
    "emb_ann_ivf": EMB_ANN_IVF_SQL,
    "emb_ann_lsh": EMB_ANN_LSH_SQL,
    "emb_bitpack_hamming": _HAMMING_SQL,
    "emb_calinski_harabasz": _CH_SQL,
    "emb_centroid_by_label": EMB_CENTROID_SQL,
    "emb_davies_bouldin": _DAVIES_BOULDIN_SQL,
    "emb_dim_trunc_recall": EMB_DIM_TRUNC_RECALL_SQL,
    "emb_dunn_centroid": _DUNN_SQL,
    "emb_dup_threshold_sweep": EMB_DUP_THRESHOLD_SWEEP_SQL,
    "emb_gram_arrow": EMB_GRAM_SQL,
    "emb_gram_matrix": EMB_GRAM_SQL,
    "emb_hamming_recall_at3": _RECALL_SQL,
    "emb_hard_negatives": EMB_HARD_NEGATIVES_SQL,
    "emb_int8_quantize": EMB_INT8_SQL,
    "emb_ivf_nprobe_recall_sweep": _ivf_sweep_oracle(),
    "emb_ivfpq_adc": EMB_IVFPQ_ADC_SQL,
    "emb_kmeans_step": EMB_KMEANS_STEP_SQL,
    "emb_knn_classify": _knn_classify_sql(),
    "emb_label_centroid_drift": EMB_LABEL_CENTROID_DRIFT_SQL,
    "emb_lsh_recall_sweep": _recall_sweep_oracle(),
    "emb_mips_topk": _mips_oracle(),
    "emb_near_dup_lsh": EMB_NEAR_DUP_LSH_SQL,
    "emb_near_dup_pairs": EMB_NEAR_DUP_SQL,
    "emb_pq_codes": EMB_PQ_CODES_SQL,
    "emb_semantic_dedup": _semantic_dedup_oracle(),
    "emb_silhouette_centroid": _SILHOUETTE_SQL,
    "emb_topk_cosine": EMB_TOPK_SQL,
    "emb_topk_pandas": EMB_TOPK_SQL,
}
