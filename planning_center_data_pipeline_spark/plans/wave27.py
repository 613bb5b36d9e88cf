"""Round-7 wave 27: self-evaluating ANN tuning — SRP-LSH bucket-width
recall sweep.

"Measure, don't guess" applied to the LSH knob itself: for bucket
widths of 4, 8 and 12 sign bits (nested prefixes of ONE deterministic
sha256 hyperplane family), what fraction of probe queries would find
their exact cosine top-1 inside their own bucket?  This is the table
an operator reads before picking bits-per-band for the near-dup /
ANN jobs — produced by the engine itself, hash-checked against the
oracle (the sign table is mirrored into SQL, so both engines compute
the identical buckets AND the identical exact top-1s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import parallelism as P
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64
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


QUERIES = {"emb_lsh_recall_sweep": emb_lsh_recall_sweep}
ORACLES = {"emb_lsh_recall_sweep": _recall_sweep_oracle()}
