"""LLM-data-pipeline extension queries (SURVEY.md §2.10) over the
documents/embeddings fixtures: dedup (exact, n-gram Jaccard,
MinHash-LSH, SimHash), similarity search (brute-force + LSH ANN),
text analysis, and multimodal binary plumbing.

Oracle strategy: everything built from engine-portable primitives
(md5, regex, scaled-int vector math) gets a DuckDB oracle; the
xxhash64-based sketches (MinHash, SimHash) have no DuckDB twin and are
covered by the weaker rows-only check plus unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators import dedup as D
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.multimodal import (
    audio_features,
    extract_features,
    frame_sample,
    media_from_documents,
    resize_thumb,
)
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- exact dedup ------------------------------------------------------------

def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group stats on the exact normalized-content key."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(X.fingerprint(F.col("text")).alias("content_key"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_id")
    )


DOC_EXACT_DEDUP_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_key,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keeper_id
"""


def doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows after exact dedup (deterministic keeper:
    lowest doc_id), unlike dropDuplicates' arbitrary survivor."""
    d = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(d, X.normalize_text(F.col("text")), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


DOC_DEDUP_SURVIVORS_SQL = r"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
           ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
ORDER BY doc_id
"""


# --- text analysis ----------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_m"),
        X.token_count(t).cast("long").alias("n_tokens"),
        F.size(X.bpe_pieces(t)).cast("long").alias("n_bpe_pieces"),
        X.punct_count(t).cast("long").alias("n_punct"),
        X.digit_count(t).cast("long").alias("n_digits"),
    ).orderBy("doc_id")


DOC_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_m,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(lower(text), '([a-z]+|[0-9]+|[^a-z0-9\s])', 1)) AS n_bpe_pieces,
       len(regexp_extract_all(text, '([.,;:!?])', 1)) AS n_punct,
       len(regexp_extract_all(text, '([0-9])', 1)) AS n_digits
FROM documents
ORDER BY doc_id
"""


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", X.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


DOC_QUALITY_SQL = r"""
WITH s AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '([.,;:!?])', 1)) AS DOUBLE) AS n_punct,
         CAST(len(regexp_extract_all(text, '([0-9])', 1)) AS DOUBLE) AS n_digit
  FROM documents
)
SELECT doc_id,
       0.5 * LEAST(n_tok/64.0, 1.0)
       + 0.3 * (CASE WHEN n_chars/GREATEST(n_tok,1.0) >= 3.0
                      AND n_chars/GREATEST(n_tok,1.0) <= 10.0
                     THEN 1.0 ELSE 0.5 END)
       - 0.1 * (n_punct/GREATEST(n_chars,1.0))
       - 0.1 * (n_digit/GREATEST(n_chars,1.0)) AS quality
FROM s
ORDER BY doc_id
"""


def doc_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = X.lang_guess(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        g.alias("lang_guessed"),
        (g == F.col("lang")).alias("is_match"),
    ).orderBy("doc_id")


def _sw_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(X.STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}', 1))"


DOC_LANG_GUESS_SQL = f"""
WITH c AS (
  SELECT doc_id, lang,
         {_sw_sql('en')} AS en, {_sw_sql('es')} AS es,
         {_sw_sql('de')} AS de, {_sw_sql('fr')} AS fr
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN en+es+de+fr = 0 THEN 'und'
       WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       WHEN es >= de AND es >= fr THEN 'es'
       WHEN de >= fr THEN 'de'
       ELSE 'fr' END AS lang_guessed,
  (CASE WHEN en+es+de+fr = 0 THEN 'und'
       WHEN en >= es AND en >= de AND en >= fr THEN 'en'
       WHEN es >= de AND es >= fr THEN 'es'
       WHEN de >= fr THEN 'de'
       ELSE 'fr' END) = lang AS is_match
FROM c
ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", X.fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def doc_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency (the canonical explode→count): top 100
    tokens with deterministic tie-break. One shuffle; partial counts
    map-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
    )


DOC_WORD_FREQ_SQL = r"""
SELECT tok, COUNT(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
) WHERE tok <> ''
GROUP BY tok ORDER BY n DESC, tok LIMIT 100
"""


# --- n-gram Jaccard near-dup (exact, source-blocked) ------------------------

def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # checkpointed: jaccard_pairs scans the shingle table three times
    # (sizes + both self-join sides); without this the tokenize+shingle
    # explode re-runs per scan
    sh = D.shingle_table(
        d, "doc_id", "text", k=3, extra_cols=["source"]
    ).localCheckpoint(eager=False)
    return D.jaccard_pairs(sh, "doc_id", threshold=0.2, block_col="source").orderBy(
        "id_1", "id_2"
    )


DOC_NGRAM_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM (SELECT doc_id, source, tk,
               unnest(generate_series(1, GREATEST(len(tk)-2, 0))) AS i
        FROM toks WHERE len(tk) >= 3)
  UNION
  SELECT DISTINCT doc_id, source, array_to_string(tk, ' ') AS shingle
  FROM toks WHERE len(tk) < 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, n_common, s1.n_sh AS n_1, s2.n_sh AS n_2,
       CAST(n_common AS DOUBLE)/CAST(s1.n_sh + s2.n_sh - n_common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes s1 ON id_1 = s1.doc_id
JOIN sizes s2 ON id_2 = s2.doc_id
WHERE CAST(n_common AS DOUBLE)/CAST(s1.n_sh + s2.n_sh - n_common AS DOUBLE) >= 0.2
ORDER BY id_1, id_2
"""


# --- sketch-based near-dup (native xxhash64 path) ---------------------------
# doc_simhash / doc_simhash_near_dups keep Spark's native xxhash64
# token hash (the production fast path) AND carry full DuckDB oracles
# (round-7 VERDICT item 6): _xxh64_str_stages below re-derives XXH64
# over the token's UTF-8 bytes in SQL with HUGEINT wrap-around
# arithmetic — bit-equal to Spark for any ASCII token under 32 bytes
# (longer/non-ASCII tokens yield NULL, which would fail the hash gate
# LOUDLY; the documents vocabulary is ASCII with max 8-byte tokens).
# doc_minhash_lsh stays rows-only: its hash inputs are multi-arg
# (seed, shingle) string hashes whose 3-word shingles exceed no bound,
# so the >=32-byte stripe loop would need a per-token recursive CTE;
# the fully-oracled twin is doc_minhash_lsh_portable.


def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups(
        d, "doc_id", "text", k=3, n_hashes=32, bands=8, threshold=0.5
    ).orderBy("id_1", "id_2")


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures(d, "doc_id", "text").orderBy("doc_id")


def doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_hamming=3 with 4x16-bit chunk blocking is the pigeonhole-
    exact setting (distance <= 3 forces an identical chunk), so this is
    a complete near-dup scan, not a heuristic — and the tight threshold
    keeps the verified pair set small (the old 16-of-64 setting emitted
    213k mostly-noise pairs at sf0.1 on near-random synthetic text)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(d, "doc_id", "text", max_hamming=3).orderBy(
        "id_1", "id_2"
    )


# --- engine-portable sketches: full-pipeline DuckDB oracles -----------------
# The xxhash64 sketches above are the fast production path; these md5
# variants make every stage (hash family, signatures, band keys,
# verified pairs) reproducible in SQL, so the driver's hash-match gate
# covers the sketch pipeline itself, not just a rows-only count.

_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

# Hash family used by the portable MinHash: hash j comes from md5 seed
# j//2 (prefixed "seed|"), taking hex chars 1-15 for even j and 17-31
# for odd j — two 60-bit hashes per md5 evaluation (see
# operators/dedup._md5_hash60_family).
_MINHASH_FAMILY_CTE = """
hs AS (
  SELECT doc_id, j,
         CAST('0x' || substr(md5(CAST(j // 2 AS VARCHAR) || '|' || shingle),
                             CASE WHEN j % 2 = 0 THEN 1 ELSE 17 END, 15)
              AS BIGINT) AS hv
  FROM sh
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) js
)"""

_SHINGLE_CTE = r"""
toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
  FROM (SELECT doc_id, tk,
               unnest(generate_series(1, GREATEST(len(tk)-2, 0))) AS i
        FROM toks WHERE len(tk) >= 3)
  UNION
  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS shingle
  FROM toks WHERE len(tk) < 3
)"""


def doc_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(d, "doc_id", "text", k=3)
    return D.minhash_signatures_portable(sh, "doc_id", n_hashes=16).orderBy(
        "doc_id", "j"
    )


DOC_MINHASH_PORTABLE_SQL = f"""
WITH {_SHINGLE_CTE}, {_MINHASH_FAMILY_CTE}
SELECT doc_id, j, MIN(hv) AS minhash
FROM hs
GROUP BY doc_id, j
ORDER BY doc_id, j
"""


def doc_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_near_dups_portable(
        d, "doc_id", "text", k=3, n_hashes=16, bands=4, threshold=0.5
    ).orderBy("id_1", "id_2")


DOC_MINHASH_LSH_PORTABLE_SQL = f"""
WITH {_SHINGLE_CTE}, {_MINHASH_FAMILY_CTE}, sigs AS (
  SELECT doc_id, j, MIN(hv) AS minhash
  FROM hs
  GROUP BY doc_id, j
), sig_arr AS (
  SELECT doc_id, list(minhash ORDER BY j) AS sig FROM sigs GROUP BY doc_id
), banded AS (
  SELECT doc_id, b,
         md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_key
  FROM sig_arr
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
), cands AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM banded a JOIN banded b
    ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT id_1, id_2, COUNT(*) AS n_common
  FROM cands
  JOIN sh s1 ON s1.doc_id = id_1
  JOIN sh s2 ON s2.doc_id = id_2 AND s1.shingle = s2.shingle
  GROUP BY id_1, id_2
)
SELECT id_1, id_2,
       CAST(n_common AS DOUBLE)/CAST(z1.n_sh + z2.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes z1 ON z1.doc_id = id_1
JOIN sizes z2 ON z2.doc_id = id_2
WHERE CAST(n_common AS DOUBLE)/CAST(z1.n_sh + z2.n_sh - n_common AS DOUBLE) >= 0.5
ORDER BY id_1, id_2
"""


def doc_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures_portable(d, "doc_id", "text", n_bits=60).orderBy(
        "doc_id"
    )


def _simhash_portable_sql(n_bits: int = 60) -> str:
    h = _H60.format(x="tok")
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    assemble = "\n       + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(n_bits)
    )
    return rf"""
WITH tok AS (
  SELECT doc_id,
         {h} AS h
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
    FROM documents
  )
), bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM tok GROUP BY doc_id
)
SELECT doc_id,
       {assemble} AS simhash
FROM bits
ORDER BY doc_id
"""


DOC_SIMHASH_PORTABLE_SQL = _simhash_portable_sql(60)


_SIMHASH_XXH64_BASE = r"""toku AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id,
           unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
), vocab AS (SELECT DISTINCT tok FROM toku),
{hash_ctes},
bs AS (
  SELECT doc_id, b,
         SUM(CASE WHEN ((hu >> b) % 2) = 1 THEN cnt ELSE -cnt END) AS bsum
  FROM toku JOIN vh USING (tok)
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
  GROUP BY doc_id, b
), sigu AS (
  SELECT doc_id,
         SUM(CASE WHEN bsum > 0 THEN (1::HUGEINT << b)
                  ELSE 0::HUGEINT END) AS su
  FROM bs GROUP BY doc_id
)"""


def _simhash_xxh64_sql() -> str:
    """Oracle for the NATIVE xxhash64 simhash (round-7 VERDICT item 6):
    token hashes from functions/xxh64_sql.str_hash_ctes (bit-equal to
    Spark's xxhash64 for ASCII tokens < 32 bytes — the documents
    vocabulary maxes at 8), weighted +-cnt bit sums, signed-64
    reassembly."""
    from planning_center_data_pipeline_spark.functions.xxh64_sql import (
        str_hash_ctes,
    )

    base = _SIMHASH_XXH64_BASE.format(hash_ctes=str_hash_ctes("vocab"))
    return f"""
WITH {base}
SELECT doc_id,
       CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                 THEN su - 18446744073709551616::HUGEINT
                 ELSE su END AS BIGINT) AS simhash
FROM sigu ORDER BY doc_id
"""


def _simhash_xxh64_pairs_sql() -> str:
    """Oracle for doc_simhash_near_dups: same signature pipeline, then
    the 16-bit chunk block join and Hamming <= 3 filter mirrored on
    the unsigned signatures (xor/bit_count are bit-identical on the
    [0, 2^64) HUGEINT carrier)."""
    from planning_center_data_pipeline_spark.functions.xxh64_sql import (
        str_hash_ctes,
    )

    base = _SIMHASH_XXH64_BASE.format(hash_ctes=str_hash_ctes("vocab"))
    return f"""
WITH {base},
ch AS (
  SELECT doc_id, su, c, (su >> (16 * c)) % 65536 AS chunk
  FROM sigu CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cc
)
SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(bit_count(xor(a.su, b.su)) AS INT) AS hamming
FROM ch a JOIN ch b
  ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.su, b.su)) <= 3
ORDER BY id_1, id_2
"""


# --- similarity search ------------------------------------------------------

_DIMS = 64


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


def emb_near_dup_expr_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair expression-join formulation — the pytest equality twin
    of `emb_near_dup_pairs` (not registered in the bench suite: the
    blocked-GEMM path is the primary; this one re-derives the same rows
    through codegen'd per-pair dot products for cross-validation)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.near_dup_pairs_by_block(e, "label", threshold=0.4).orderBy(
        "id_1", "id_2"
    )


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


# (the former emb_near_dup_pandas twin IS now the primary above; the
# expression formulation survives as emb_near_dup_expr_twin for pytest
# cross-validation, and emb_near_dup_lsh is the banded scale path)


def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector rollup: per-label centroid, flattened to (label, dim, c).
    Exact: integer sums of quantized components / count."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label", F.posexplode(S.quantized(F.col("embedding"))).alias("dim", "v")
    ).withColumn("dim", F.col("dim").cast("long"))
    return (
        q.groupBy("label", "dim")
        .agg(
            (F.sum("v").cast("double") / F.count(F.lit(1)) / S.Q_SCALE).alias(
                "centroid"
            )
        )
        .orderBy("label", "dim")
    )


EMB_CENTROID_SQL = f"""
SELECT label, i - 1 AS dim,
       CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)*{S.Q_SCALE}) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / {S.Q_SCALE} AS centroid
FROM (SELECT label, embedding, unnest(generate_series(1, {_DIMS})) AS i FROM embeddings)
GROUP BY label, i
ORDER BY label, dim
"""


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


# --- multimodal -------------------------------------------------------------

def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: documents -> media table
    (binary payload + meta struct) -> Arrow-batched mapInPandas feature
    extraction (deterministic fake decode)."""
    d = load_table(spark, sf_dir, "documents")
    return extract_features(media_from_documents(d), fake=True).orderBy("media_id")


MM_BINARY_SQL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS content_sha256,
       CAST(list_sum(list_transform(string_split(text, ''), x -> unicode(x))) AS DOUBLE)
         / octet_length(encode(text)) AS fake_brightness
FROM documents
ORDER BY media_id
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame sampling over video-like binary payloads
    (mapInPandas; deterministic byte-slice frames)."""
    d = load_table(spark, sf_dir, "documents")
    return frame_sample(media_from_documents(d), n_frames=4, frame_bytes=256).orderBy(
        "media_id", "frame_idx"
    )


# DuckDB substring() is VARCHAR-only; the fixture text is pure ASCII
# (octet_length == length for every row), so the char slice is the
# byte slice and the sha256 values line up with Spark's byte hashing.
MM_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       i AS frame_idx,
       (i * octet_length(encode(text))) // 4 AS frame_off,
       sha256(substring(text,
                        CAST((i * octet_length(encode(text))) // 4 + 1 AS BIGINT),
                        256)) AS frame_sha256
FROM documents
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) fs
ORDER BY media_id, frame_idx
"""


def mm_resize_thumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free thumbnail "resize" (strided byte downsample to 256
    bytes) via mapInPandas — completes the decode/extract/resize/
    frame-sample multimodal quartet; sha256-identified output keeps it
    SQL-reproducible."""
    d = load_table(spark, sf_dir, "documents")
    return resize_thumb(media_from_documents(d), max_bytes=256).orderBy("media_id")


# ASCII fixture: char positions == byte offsets, so the strided char
# sample mirrors the payload byte slice b[::stride][:256] exactly.
MM_RESIZE_SQL = """
WITH s AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) AS blen,
         GREATEST(octet_length(encode(text)) // 256, 1) AS stride
  FROM documents
), t AS (
  SELECT media_id, stride,
         array_to_string(
           list_transform(
             list_filter(generate_series(0, 255), i -> i * stride < blen),
             i -> substring(text, CAST(i * stride + 1 AS BIGINT), 1)),
           '') AS thumb
  FROM s
)
SELECT media_id, CAST(stride AS BIGINT) AS stride,
       CAST(length(thumb) AS BIGINT) AS thumb_len,
       sha256(thumb) AS thumb_sha256
FROM t ORDER BY media_id
"""


def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform stats (RMS/peak over bytes-as-samples) via Arrow-batched
    mapInPandas; exact integer sum-of-squares keeps rms portable."""
    d = load_table(spark, sf_dir, "documents")
    return audio_features(media_from_documents(d)).orderBy("media_id")


MM_AUDIO_RMS_SQL = """
WITH s AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(text, ''), x -> unicode(x)) AS codes
  FROM documents
)
SELECT media_id,
       CAST(len(codes) AS BIGINT) AS n_samples,
       sqrt(CAST(list_sum(list_transform(codes, x -> x*x)) AS DOUBLE)/len(codes)) AS rms,
       CAST(list_max(codes) AS BIGINT) AS peak
FROM s
ORDER BY media_id
"""


QUERIES = {
    "doc_exact_dedup": doc_exact_dedup,
    "doc_dedup_survivors": doc_dedup_survivors,
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_lang_guess": doc_lang_guess,
    "doc_fingerprint": doc_fingerprint,
    "doc_word_freq": doc_word_freq,
    "doc_ngram_jaccard": doc_ngram_jaccard,
    "doc_minhash_lsh": doc_minhash_lsh,
    "doc_minhash_portable": doc_minhash_portable,
    "doc_minhash_lsh_portable": doc_minhash_lsh_portable,
    "doc_simhash_portable": doc_simhash_portable,
    "doc_simhash": doc_simhash,
    "doc_simhash_near_dups": doc_simhash_near_dups,
    "emb_topk_cosine": emb_topk_cosine,
    "emb_topk_pandas": emb_topk_pandas,
    "emb_near_dup_pairs": emb_near_dup_pairs,
    "emb_near_dup_lsh": emb_near_dup_lsh,
    "emb_centroid_by_label": emb_centroid_by_label,
    "emb_int8_quantize": emb_int8_quantize,
    "emb_ann_lsh": emb_ann_lsh,
    "emb_ann_ivf": emb_ann_ivf,
    "emb_gram_matrix": emb_gram_matrix,
    "emb_gram_arrow": emb_gram_arrow,
    "mm_binary_features": mm_binary_features,
    "mm_frame_sample": mm_frame_sample,
    "mm_resize_thumb": mm_resize_thumb,
    "mm_audio_rms": mm_audio_rms,
}

ORACLES = {
    "doc_exact_dedup": DOC_EXACT_DEDUP_SQL,
    "doc_dedup_survivors": DOC_DEDUP_SURVIVORS_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_lang_guess": DOC_LANG_GUESS_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_word_freq": DOC_WORD_FREQ_SQL,
    "doc_ngram_jaccard": DOC_NGRAM_JACCARD_SQL,
    "doc_minhash_portable": DOC_MINHASH_PORTABLE_SQL,
    "doc_minhash_lsh_portable": DOC_MINHASH_LSH_PORTABLE_SQL,
    "doc_simhash_portable": DOC_SIMHASH_PORTABLE_SQL,
    "doc_simhash": _simhash_xxh64_sql(),
    "doc_simhash_near_dups": _simhash_xxh64_pairs_sql(),
    "emb_topk_cosine": EMB_TOPK_SQL,
    "emb_topk_pandas": EMB_TOPK_SQL,
    "emb_near_dup_pairs": EMB_NEAR_DUP_SQL,
    "emb_near_dup_lsh": EMB_NEAR_DUP_LSH_SQL,
    "emb_centroid_by_label": EMB_CENTROID_SQL,
    "emb_int8_quantize": EMB_INT8_SQL,
    "emb_ann_ivf": EMB_ANN_IVF_SQL,
    "emb_ann_lsh": EMB_ANN_LSH_SQL,
    "emb_gram_matrix": EMB_GRAM_SQL,
    "emb_gram_arrow": EMB_GRAM_SQL,
    "mm_binary_features": MM_BINARY_SQL,
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_resize_thumb": MM_RESIZE_SQL,
    "mm_audio_rms": MM_AUDIO_RMS_SQL,
}
