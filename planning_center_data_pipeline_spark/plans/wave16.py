"""Round-6 wave 16: embedding-dedup threshold calibration and RAG
chunking with overlap.

- emb_dup_threshold_sweep: pair and affected-document counts at a
  ladder of cosine thresholds — the calibration table read before
  anyone picks THE near-dup threshold (reuses the exact blocked-GEMM
  pair machinery of emb_near_dup_pairs; reference for the family:
  operators/similarity.py).
- doc_rag_chunks: overlapping token-window chunking (window 64 tokens,
  stride 48) — the RAG-ingestion splitter; emits per-chunk token
  counts and content fingerprints so downstream chunk-level dedup and
  embedding jobs can key on them.

Both carry full DuckDB oracles (the sweep mirrors the quantized-int64
dot-product SQL already hash-verified for emb_near_dup_pairs; the
chunker mirrors the array-slice SQL of doc_chunk_dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table

_DIMS = 64


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


# --- RAG chunking with overlap ----------------------------------------------------

_RAG_WINDOW = 64
_RAG_STRIDE = 48


def doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking for RAG ingestion: windows of
    64 whitespace tokens at stride 48 (16-token overlap), one row per
    chunk with its token count and sha256 content fingerprint — the
    keys chunk-level dedup and embedding jobs run on.  Chunk starts
    are 0, 48, 96, ... while start < n_tokens, so every token lands in
    at least one chunk and ordering is deterministic.

    Plan shape: per-row tokenize + bounded posexplode behind the
    repartition floor (CPU-dense pre-shuffle work; single-file scan
    lesson); no shuffle at all until the output sort — chunking is
    embarrassingly parallel.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = d.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), r"\s+"
        ).alias("tk"),
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("tk") - 1) / F.lit(_RAG_STRIDE)).cast("int"),
            )
        ).alias("chunk_idx", "s"),
        "tk",
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(
            "tk", F.col("s") * _RAG_STRIDE + 1, _RAG_WINDOW
        ).alias("chunk_tk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk_tk").cast("long").alias("n_tokens"),
        F.sha2(F.concat_ws(" ", "chunk_tk"), 256).alias("chunk_sha"),
    ).orderBy("doc_id", "chunk_idx")


DOC_RAG_CHUNKS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), chunks AS (
  SELECT doc_id, i AS chunk_idx,
         tk[i*{_RAG_STRIDE}+1 : i*{_RAG_STRIDE}+{_RAG_WINDOW}] AS chunk_tk
  FROM (SELECT doc_id, tk,
               unnest(generate_series(
                 0, CAST(floor((len(tk)-1)/{_RAG_STRIDE}.0) AS BIGINT))) AS i
        FROM toks)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk_tk) AS BIGINT) AS n_tokens,
       sha256(array_to_string(chunk_tk, ' ')) AS chunk_sha
FROM chunks ORDER BY doc_id, chunk_idx
"""


QUERIES = {
    "emb_dup_threshold_sweep": emb_dup_threshold_sweep,
    "doc_rag_chunks": doc_rag_chunks,
}

ORACLES = {
    "emb_dup_threshold_sweep": EMB_DUP_THRESHOLD_SWEEP_SQL,
    "doc_rag_chunks": DOC_RAG_CHUNKS_SQL,
}
