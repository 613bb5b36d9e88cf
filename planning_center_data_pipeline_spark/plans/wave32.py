"""Round-8 wave 32: semantic deduplication and rank correlation.

- emb_semantic_dedup: SemDeDup-style embedding dedup (Abbas et al.
  2023, arXiv:2303.09540): bucket the corpus with a deterministic
  SRP-LSH signature (the cheap stand-in for the paper's k-means
  clusters), elect the lowest-id member of each bucket as its
  representative, and drop members whose exact quantized cosine to the
  representative clears the similarity threshold.  Every piece —
  sha256 sign table, integer dot products, left-associated double
  cosine — is the portable convention of operators/similarity.py, so
  the full keep/drop decision table hash-matches a pure-SQL oracle.
- stat_kendall_tau_b: Kendall's tau-b between line quantity and price
  band, computed from the CONTINGENCY TABLE (50 x 10 cells), so the
  concordant/discordant pair counts are a bounded cell-pair join —
  never an O(n^2) row join — and ties are handled exactly (tau-b's
  whole point).  Everything is int64 until the final two-sqrt double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators import parallelism as P
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64
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
    # shares ONE signature computation between them; A/B'd vs the
    # checkpoint-free form: 1.23 s vs 1.81 s warm min).  Per-row
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


# --- Kendall tau-b ---------------------------------------------------------------

_TAU_BANDS = 10
_TAU_BAND_CENTS = 1_100_000  # 11,000-dollar price bands -> 10 bands


def stat_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between l_quantity and the extended-price band,
    from the contingency table: C (concordant) and D (discordant) are
    sums of n1*n2 over ordered CELL pairs — a bounded 500x500 join no
    matter how large the fact table — and the tie terms come from the
    marginals, so

        tau_b = (C - D) / sqrt(n0 - Tx) / sqrt(n0 - Ty),  n0 = C(n,2).

    All counts and products are exact int64 (safe past SF 100); only
    the last line is floating point, written identically in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.least(
            F.lit(_TAU_BANDS - 1),
            F.expr(
                f"CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                f" DIV {_TAU_BAND_CENTS}"
            ),
        ).alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("n").alias("n1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("n").alias("n2")
    )
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("x2") > F.col("x1"))
            & (F.col("y2") != F.col("y1")),
        )
        .select(
            F.when(F.col("y2") > F.col("y1"), F.col("n1") * F.col("n2"))
            .otherwise(F.lit(0))
            .alias("c"),
            F.when(F.col("y2") < F.col("y1"), F.col("n1") * F.col("n2"))
            .otherwise(F.lit(0))
            .alias("d"),
        )
        .agg(
            F.sum("c").cast("bigint").alias("concordant"),
            F.sum("d").cast("bigint").alias("discordant"),
        )
    )
    tots = cells.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("t_cell"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(F.sum(F.expr("nx * (nx - 1) DIV 2")).cast("bigint").alias("tx"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(F.sum(F.expr("ny * (ny - 1) DIV 2")).cast("bigint").alias("ty"))
    )
    out = cd.crossJoin(F.broadcast(tots)).crossJoin(
        F.broadcast(tx)
    ).crossJoin(F.broadcast(ty))
    return out.select(
        F.expr("n * (n - 1) DIV 2").cast("bigint").alias("n0"),
        "concordant",
        "discordant",
        "tx",
        "ty",
        F.expr(
            "CAST(concordant - discordant AS DOUBLE)"
            " / SQRT(CAST(n * (n - 1) DIV 2 - tx AS DOUBLE))"
            " / SQRT(CAST(n * (n - 1) DIV 2 - ty AS DOUBLE))"
        ).alias("tau_b"),
    )


_KENDALL_SQL = f"""
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         LEAST({_TAU_BANDS - 1},
               CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 // {_TAU_BAND_CENTS}) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), cd AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
           AS discordant
  FROM cells a JOIN cells b ON b.x > a.x AND b.y <> a.y
), tots AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells
), tx AS (
  SELECT CAST(SUM(nx * (nx - 1) // 2) AS BIGINT) AS tx
  FROM (SELECT SUM(n) AS nx FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(ny * (ny - 1) // 2) AS BIGINT) AS ty
  FROM (SELECT SUM(n) AS ny FROM cells GROUP BY y)
)
SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS n0,
       concordant, discordant, tx, ty,
       CAST(concordant - discordant AS DOUBLE)
         / SQRT(CAST(n * (n - 1) // 2 - tx AS DOUBLE))
         / SQRT(CAST(n * (n - 1) // 2 - ty AS DOUBLE)) AS tau_b
FROM cd CROSS JOIN tots CROSS JOIN tx CROSS JOIN ty
"""


QUERIES = {
    "emb_semantic_dedup": emb_semantic_dedup,
    "stat_kendall_tau_b": stat_kendall_tau_b,
}

ORACLES = {
    "emb_semantic_dedup": _semantic_dedup_oracle(),
    "stat_kendall_tau_b": _KENDALL_SQL,
}
