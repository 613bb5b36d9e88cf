"""Round-8 wave 34: IVF tuning harness and inter-rater agreement.

- emb_ivf_nprobe_recall_sweep: the IVF twin of wave 27's LSH sweep —
  recall@top-1 as a function of n_probe (1/2/4/8 of 8 coarse cells),
  measured by the engine itself against the exact quantized-cosine
  top-1.  At n_probe = 8 every cell is probed, so recall is exactly
  1.0 — a built-in self-check the oracle hash covers too.
- stat_cohens_kappa: agreement between two deterministic order
  classifiers (priority-derived vs totalprice-band) beyond chance:
  kappa = (n*diag - sum(row_k*col_k)) / (n^2 - sum(row_k*col_k)) —
  the whole statistic clears to two exact int64 terms and ONE double
  division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import parallelism as P
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64
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
    # them; A/B'd ~equal to the checkpoint-free form, kept for the
    # 4-way fan-out).  Per-row deterministic expressions — results
    # unchanged.
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


# --- Cohen's kappa ---------------------------------------------------------------

# classifier 1: priority tier; classifier 2: totalprice band (dollars)
_KAPPA_PRICE_BANDS = (100_000_00, 250_000_00)  # cents cutoffs


def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic 3-class order labelers:
    priority tier (urgent-high / medium / low) vs totalprice band
    (< $100k / < $250k / rest).  With d = sum of the contingency
    diagonal and e = sum_k row_k * col_k,

        kappa = (n*d - e) / (n*n - e)

    — exact int64 numerator and denominator, one double division; the
    output also carries d, e and n so the oracle pins every
    intermediate.  One groupBy over the fact table; the 3x3 table and
    marginals are constant-size."""
    o = load_table(spark, sf_dir, "orders")
    lo, hi = _KAPPA_PRICE_BANDS
    labeled = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .alias("c1"),
        F.when(F.round(F.col("o_totalprice") * 100) < lo, 0)
        .when(F.round(F.col("o_totalprice") * 100) < hi, 1)
        .otherwise(2)
        .alias("c2"),
    )
    cells = labeled.groupBy("c1", "c2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rows = cells.groupBy("c1").agg(F.sum("cnt").alias("row_n"))
    cols = cells.groupBy("c2").agg(F.sum("cnt").alias("col_n"))
    e = (
        rows.join(cols, rows.c1 == cols.c2)
        .agg(F.sum(F.col("row_n") * F.col("col_n")).cast("bigint").alias("e"))
    )
    nd = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("c1") == F.col("c2"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    return nd.crossJoin(F.broadcast(e)).select(
        "n",
        "d",
        "e",
        (
            (F.col("n") * F.col("d") - F.col("e")).cast("double")
            / (F.col("n") * F.col("n") - F.col("e")).cast("double")
        ).alias("kappa"),
    )


_KAPPA_SQL = f"""
WITH labeled AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
              WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 2 END AS c1,
         CASE WHEN ROUND(o_totalprice * 100) < {_KAPPA_PRICE_BANDS[0]} THEN 0
              WHEN ROUND(o_totalprice * 100) < {_KAPPA_PRICE_BANDS[1]} THEN 1
              ELSE 2 END AS c2
  FROM orders
), cells AS (
  SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS cnt FROM labeled GROUP BY 1, 2
), rc AS (
  SELECT CAST(SUM(r.row_n * c.col_n) AS BIGINT) AS e
  FROM (SELECT c1, SUM(cnt) AS row_n FROM cells GROUP BY c1) r
  JOIN (SELECT c2, SUM(cnt) AS col_n FROM cells GROUP BY c2) c
    ON r.c1 = c.c2
), nd AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c1 = c2 THEN cnt ELSE 0 END) AS BIGINT) AS d
  FROM cells
)
SELECT n, d, e,
       CAST(n * d - e AS DOUBLE) / CAST(n * n - e AS DOUBLE) AS kappa
FROM nd CROSS JOIN rc
"""


QUERIES = {
    "emb_ivf_nprobe_recall_sweep": emb_ivf_nprobe_recall_sweep,
    "stat_cohens_kappa": stat_cohens_kappa,
}

ORACLES = {
    "emb_ivf_nprobe_recall_sweep": _ivf_sweep_oracle(),
    "stat_cohens_kappa": _KAPPA_SQL,
}
