"""Round-9 wave 46: binary embedding sketches and regexp extraction.

- emb_bitpack_hamming: embeddings binarized to 64 sign bits packed
  into two 32-bit words (BIGINT-safe shifts), probe-anchored top-3 by
  Hamming distance — the cheap binary prefilter stage every
  billion-vector ANN stack runs before exact rescoring.  XOR +
  bit_count stays entirely in the JVM/engine.
- emb_hamming_recall_at3: self-measured recall@3 of the binary sketch
  against exact quantized-dot top-3 on the same probes — the
  eval-harness twin (same contract as the IVF/SRP recall sweeps).
- fn_regexp_extract_all: regexp_extract_all surface — pull every
  digit run out of the customer name, count/distinct/sum per market
  segment (runs are <= 9 digits so int64 casts stay exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64
_Q_SCALE = 1 << 20  # matches operators/similarity.py quantization
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


def emb_bitpack_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 nearest neighbors by Hamming distance over the packed
    sign-bit sketches, for the fixed 20-probe panel; ties break to the
    smaller neighbor id.  The probe side broadcasts; distance is
    bit_count(w0 XOR w0') + bit_count(w1 XOR w1') — pure JVM bit ops,
    no floats anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    packed = _packed(e).localCheckpoint(eager=False)
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
    ).localCheckpoint(eager=False)
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


def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all surface: every digit run in the customer
    name string, per market segment — match count, distinct values,
    and the exact value sum (runs are <= 4 digits, so int64 is safe).
    Per-row work is one JVM regex pass; one rollup."""
    c = load_table(spark, sf_dir, "customer")
    nums = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.explode(
            F.expr(r"regexp_extract_all(c_name, '[0-9]+', 0)")
        ).alias("s"),
    )
    return (
        nums.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.countDistinct("s").cast("bigint").alias("n_distinct"),
            F.sum(F.col("s").cast("bigint")).cast("bigint").alias("sum_vals"),
        )
        .orderBy("segment")
    )


_REGEXP_SQL = """
WITH nums AS (
  SELECT c_mktsegment AS segment,
         UNNEST(regexp_extract_all(c_name, '[0-9]+')) AS s
  FROM customer
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct,
       CAST(SUM(CAST(s AS BIGINT)) AS BIGINT) AS sum_vals
FROM nums GROUP BY segment ORDER BY segment
"""


QUERIES = {
    "emb_bitpack_hamming": emb_bitpack_hamming,
    "emb_hamming_recall_at3": emb_hamming_recall_at3,
    "fn_regexp_extract_all": fn_regexp_extract_all,
}

ORACLES = {
    "emb_bitpack_hamming": _HAMMING_SQL,
    "emb_hamming_recall_at3": _RECALL_SQL,
    "fn_regexp_extract_all": _REGEXP_SQL,
}
