"""Document text processing (`doc_` and `corpus_` queries that are not
deduplication): tokenization, vocabulary and language statistics,
quality filters, chunking, splits, sampling and corpus mixing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import dedup as D
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.operators.sampling import (
    aes_key_sql,
    weighted_sample,
)
from planning_center_data_pipeline_spark.operators.windows import running_sums
from planning_center_data_pipeline_spark.plans.documents_dedup import _SHINGLE_CTE
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- end-to-end corpus curation ---------------------------------------------

def corpus_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE Catalyst plan: exact dedup
    (min-doc_id survivor per content fingerprint) → quality gate →
    per-source top-N by quality (WindowGroupLimit) → fixed-budget
    shard assignment via a per-source running token sum → shard
    manifest.

    Composition is the point: every stage is an operator the engine
    already exposes (fingerprint/quality/token_count expressions,
    rank-filter top-k, running-sum packing), and chaining them stays
    one job with four shuffles — dedup on the fingerprint, then
    everything else on `source`.  At 100 TB each shuffle keys on
    either high-cardinality hashes or the source dimension; no stage
    funnels the corpus through one task.
    """
    from planning_center_data_pipeline_spark.operators import (
        textstats as X,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        "text",
        X.fingerprint(F.col("text")).alias("fp"),
    )
    w_dup = Window.partitionBy("fp").orderBy("doc_id")
    survivors = (
        fp.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )
    scored = survivors.select(
        "doc_id",
        "source",
        X.quality_score(F.col("text")).alias("quality"),
        X.token_count(F.col("text")).cast("bigint").alias("n_tok"),
    ).filter(F.col("quality") >= 0.5)
    w_src = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    kept = (
        scored.withColumn("rk", F.row_number().over(w_src))
        .filter(F.col("rk") <= 200)
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = kept.withColumn(
        "shard_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w_run), F.lit(0)) / F.lit(2048)
        ).cast("bigint"),
    )
    return (
        packed.groupBy("source", "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("shard_tokens"),
        )
        .orderBy("source", "shard_id")
    )


CORPUS_CURATE_E2E_SQL = r"""
WITH fp AS (
  SELECT doc_id, source, text,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         ROW_NUMBER() OVER (
           PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
           ORDER BY doc_id
         ) AS rn
  FROM documents
), surv AS (
  SELECT doc_id, source, text FROM fp WHERE rn = 1
), q AS (
  SELECT doc_id, source,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
           AS n_tok_d,
         CAST(len(regexp_extract_all(text, '([.,;:!?])', 1)) AS DOUBLE)
           AS n_punct,
         CAST(len(regexp_extract_all(text, '([0-9])', 1)) AS DOUBLE)
           AS n_digit,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok
  FROM surv
), scored AS (
  SELECT doc_id, source, n_tok,
         0.5 * LEAST(n_tok_d/64.0, 1.0)
         + 0.3 * (CASE WHEN n_chars/GREATEST(n_tok_d,1.0) >= 3.0
                        AND n_chars/GREATEST(n_tok_d,1.0) <= 10.0
                       THEN 1.0 ELSE 0.5 END)
         - 0.1 * (n_punct/GREATEST(n_chars,1.0))
         - 0.1 * (n_digit/GREATEST(n_chars,1.0)) AS quality
  FROM q
), kept AS (
  SELECT * FROM (
    SELECT doc_id, source, n_tok, quality,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY quality DESC, doc_id ASC) AS rk
    FROM scored WHERE quality >= 0.5
  ) WHERE rk <= 200
), packed AS (
  SELECT source, n_tok,
         CAST(floor(COALESCE(SUM(n_tok) OVER (
             PARTITION BY source ORDER BY quality DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / 2048.0) AS BIGINT) AS shard_id
  FROM kept
)
SELECT source, shard_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
FROM packed GROUP BY source, shard_id ORDER BY source, shard_id
"""


# --- training-corpus mixing plan --------------------------------------------

def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan targeting a uniform source mix.

    share = source tokens / corpus tokens; rate = min(1, target/share)
    (undersample over-represented sources, keep the rest whole);
    budget = round(rate * tokens).  All ratios derive from exact
    integer token counts with the same operation order on both
    engines, so doubles are bit-identical.  The corpus total is a
    1-row cross join — broadcast, never a shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("tot_tokens")
    rate = F.least(
        F.lit(1.0), (F.lit(1.0) / F.col("n_sources")) / share
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("share"),
            rate.alias("sample_rate"),
            F.round(rate * F.col("n_tokens")).cast("bigint").alias(
                "budget_tokens"
            ),
        )
        .orderBy("source")
    )


CORPUS_MIX_PLAN_SQL = r"""
WITH t AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens, COUNT(*) AS n_sources
  FROM t
)
SELECT source, n_docs, n_tokens,
  CAST(n_tokens AS DOUBLE)/tot_tokens AS share,
  LEAST(1.0, (1.0/n_sources)/(CAST(n_tokens AS DOUBLE)/tot_tokens))
    AS sample_rate,
  CAST(ROUND(LEAST(1.0, (1.0/n_sources)/(CAST(n_tokens AS DOUBLE)/tot_tokens))
             * n_tokens) AS BIGINT) AS budget_tokens
FROM t, tot ORDER BY source
"""


# --- bigram conditional entropy -----------------------------------------------------


def doc_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(w2 | w1) per source over word bigrams
    (consecutive tokens within a document):
    H = -sum c(w1,w2)/N * ln(c(w1,w2) / c(w1.)) — exact integer counts
    into one shared ln expression; low H = formulaic text, high H =
    diverse continuations.  Shape: posexplode + doc-partitioned lead
    window + two rollups."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("pos", "w"),
    ).where(F.col("w") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("w2", F.lead("w").over(wd))
        .where(F.col("w2").isNotNull())
        .groupBy("source", F.col("w").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    left = big.groupBy("source", "w1").agg(F.sum("c").alias("c1"))
    tot = big.groupBy("source").agg(F.sum("c").alias("n"))
    return (
        big.join(left, ["source", "w1"])
        .join(tot, "source")
        .groupBy("source")
        .agg(
            F.first("n").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.col("c").cast("double")
                    / F.col("n").cast("double")
                    * F.log(
                        F.col("c").cast("double") / F.col("c1").cast("double")
                    )
                ),
                6,
            ).alias("h_cond"),
        )
        .orderBy("source")
    )


_BIGRAM_H_SQL = """
WITH arrs AS (
  SELECT source, doc_id,
         string_split_regex(LOWER(text), '[^a-z0-9]+') AS a
  FROM documents
), toks AS (
  SELECT source, doc_id, pos, a[pos] AS w
  FROM (SELECT source, doc_id, a,
               UNNEST(generate_series(1, len(a))) AS pos
        FROM arrs) t
  WHERE a[pos] <> ''
), big AS (
  SELECT source, w1, w2, COUNT(*) AS c FROM (
    SELECT source, w AS w1,
           LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks
  ) b WHERE w2 IS NOT NULL
  GROUP BY source, w1, w2
), lft AS (
  SELECT source, w1, SUM(c) AS c1 FROM big GROUP BY source, w1
), tot AS (
  SELECT source, SUM(c) AS n FROM big GROUP BY source
)
SELECT big.source,
       CAST(MIN(n) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                  * LN(CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE))), 6)
         AS h_cond
FROM big
JOIN lft ON big.source = lft.source AND big.w1 = lft.w1
JOIN tot ON big.source = tot.source
GROUP BY big.source ORDER BY big.source
"""

_BM25_TERMS = ("data", "pipeline", "quality", "model", "training")


# --- BM25 ---------------------------------------------------------------------

# ONE expression string evaluated verbatim by both engines (cols: tf,
# df, dl all BIGINT; n_docs, tot_toks BIGINT): Lucene-style idf,
# k1 = 1.2, b = 0.75, quantized to 1e-9 before the per-doc sum.
_BM25_TERM_MICRO = (
    "CAST(ROUND((LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5))"
    " * (CAST(tf AS DOUBLE) * 2.2)"
    " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *"
    " (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)"
    " / CAST(tot_toks AS DOUBLE)))))"
    " * 1000000000.0) AS BIGINT)"
)


def doc_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 against the fixed query
    ('data', 'pipeline', 'quality', 'model', 'training').

    Shape: one token explode -> (doc, term) tf rollup filtered to the
    5 query terms, df/n/total from two bounded aggregates (1-row and
    5-row broadcasts), per-term score = shared verbatim expression
    quantized to 1e-9, int64 per-doc sum, TakeOrderedAndProject
    top-20."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
        ).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("tot_toks"),
    )  # 1 row
    qt = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    tf = qt.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = qt.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )  # <= 5 rows
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn("term_micro", F.expr(_BM25_TERM_MICRO))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum("term_micro").cast("bigint").alias("bm25_micro"),
        )
        .orderBy(F.desc("bm25_micro"), "doc_id")
        .limit(20)
    )


DOC_BM25_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
  FROM documents
), dlx AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS tot_toks
  FROM dlx
), qt AS (
  SELECT doc_id, tok FROM toks
  WHERE tok IN ({', '.join("'" + t + "'" for t in _BM25_TERMS)})
), tfx AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM qt GROUP BY 1, 2
), dfx AS (
  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM qt GROUP BY 1
), scored AS (
  SELECT tfx.doc_id,
         {_BM25_TERM_MICRO} AS term_micro
  FROM tfx JOIN dfx USING (tok) JOIN dlx ON dlx.doc_id = tfx.doc_id
  CROSS JOIN corpus
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       CAST(SUM(term_micro) AS BIGINT) AS bm25_micro
FROM scored GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id LIMIT 20
"""


# --- BPE merge candidates (tokenizer induction, first iteration) ------------
# The first step of byte-pair-encoding vocabulary training: count
# adjacent symbol pairs inside words, weighted by word frequency, and
# rank merge candidates.  At 100 TB: the word-frequency aggregate
# shrinks the corpus to its vocabulary FIRST (Zipf: ~sqrt-ish of token
# count), so the pair explosion runs over distinct words x their
# length, not over raw tokens; both shuffles key on small domains
# (word, then pair).  Iterating = re-running over the re-segmented
# symbol sequences with the chosen merge applied.

def doc_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = words.select(
        "n_w",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n_w").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(50)
    )


DOC_BPE_MERGE_SQL = r"""
WITH words AS (
  SELECT w, COUNT(*) AS n_w FROM (
    SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE len(w) >= 2 GROUP BY w
), pairs AS (
  SELECT substr(w, i, 2) AS pair, n_w
  FROM (SELECT w, n_w, unnest(generate_series(1, len(w) - 1)) AS i FROM words)
)
SELECT pair, CAST(SUM(n_w) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 50
"""


# --- tokenizer statistics (BPE-ish regex) ------------------------------------
# Pre-tokenization token counting with a GPT-2-style pattern (letter
# runs, digit runs, punctuation runs, each absorbing one leading
# space), restricted to lookahead-free syntax so Java regex (Spark) and
# RE2 (DuckDB) agree.  The doc text is word-soup, so a deterministic
# doc_id-derived suffix adds the digits/punctuation that make BPE and
# whitespace counts diverge.  Pure scan — regexp_count stays inside
# whole-stage codegen.

_BPE_PAT = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"


def doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" v"),
        F.col("doc_id").cast("string"),
        F.lit(".2 #tag-"),
        (F.col("doc_id") % 7).cast("string"),
    )
    return (
        d.select(
            "doc_id",
            F.regexp_count(full_text, F.lit(_BPE_PAT)).cast("long").alias("n_bpe"),
            F.size(F.split(F.trim(full_text), r" +")).cast("long").alias("n_ws"),
        )
        .withColumn(
            "bpe_per_word",
            (F.col("n_bpe") * 1000 / F.col("n_ws")).cast("long"),
        )
        .orderBy("doc_id")
    )


DOC_BPE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' v' || CAST(doc_id AS VARCHAR) || '.2 #tag-'
              || CAST(doc_id % 7 AS VARCHAR) AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(full_text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe,
       CAST(len(string_split_regex(trim(full_text), ' +')) AS BIGINT) AS n_ws,
       CAST(len(regexp_extract_all(full_text, '{_BPE_PAT}')) * 1000
              // len(string_split_regex(trim(full_text), ' +')) AS BIGINT)
         AS bpe_per_word
FROM t
ORDER BY doc_id
"""


# --- count-min sketch (portable) --------------------------------------------

def doc_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (4 md5 hash rows x 64
    buckets), then per-token estimates (min over rows of the bucket
    counters) joined against exact counts.  The sketch build is one
    groupBy over (row, bucket) — mergeable across shards by summing
    counters, which is why CMS is the 100 TB way to approximate heavy
    hitters; the estimate >= exact invariant is visible in the output."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (D.md5_hash60(F.col("tok"), seed=j) % 64).alias("bucket"),
                )
                for j in range(4)
            ]
        )
    )
    cms = (
        toks.select("tok", rows.alias("rb"))
        .select("tok", "rb.j", "rb.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (D.md5_hash60(F.col("tok"), seed=j) % 64).alias("bucket"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("rb"),
    ).select("tok", "exact_n", "rb.j", "rb.bucket")
    return (
        probes.join(cms, ["j", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
        .orderBy("tok")
    )


DOC_CMS_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
  FROM documents
), t AS (
  SELECT tok FROM toks WHERE tok <> ''
), hashed AS (
  SELECT tok, j,
         CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || tok), 1, 15) AS BIGINT) % 64
           AS bucket
  FROM t CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
), cms AS (
  SELECT j, bucket, COUNT(*) AS cnt FROM hashed GROUP BY j, bucket
), exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM t GROUP BY tok
), probes AS (
  SELECT e.tok, e.exact_n, j,
         CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || e.tok), 1, 15) AS BIGINT) % 64
           AS bucket
  FROM exact e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js
)
SELECT p.tok, p.exact_n, MIN(c.cnt) AS cms_n
FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY p.tok, p.exact_n
ORDER BY p.tok
"""


# --- EXACT stratified split --------------------------------------------------
# doc_hash_split gives proportional-in-expectation splits;
# some eval protocols need EXACT per-stratum counts: precisely
# floor(n*0.8) train and floor(n*0.1) val docs per source, remainder
# test.  Deterministic rank by (md5(doc_id), doc_id) within each
# stratum — reproducible under reprocessing like the hash split, but
# count-exact.  One window per stratum (parallel across sources), no
# global sort.

def doc_exact_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    n = Window.partitionBy("source")
    ranked = d.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_src", F.count(F.lit(1)).over(n)
    )
    assigned = ranked.withColumn(
        "split",
        F.when(F.col("rk") <= F.floor(F.col("n_src") * 0.8), "train")
        .when(F.col("rk") <= F.floor(F.col("n_src") * 0.9), "val")
        .otherwise("test"),
    )
    return (
        assigned.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


DOC_EXACT_SPLIT_SQL = """
WITH ranked AS (
  SELECT source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
)
SELECT source,
       CASE WHEN rk <= FLOOR(n_src * 0.8) THEN 'train'
            WHEN rk <= FLOOR(n_src * 0.9) THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM ranked GROUP BY 1, 2 ORDER BY source, split
"""


# --- quality filter funnel ------------------------------------------------------

_F_MIN_CHARS = 150

_F_MIN_WORDS = 30


def doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative survival through a 5-gate quality filter chain, per
    source:

      g1 >= 150 chars                 g2 >= 30 whitespace words
      g3 lexical diversity >= 0.5     g4 language filter (en)
      g5 mean word length <= 5.6      (distinct words / words)

    Each row reports how many documents survive gates 1..k (the
    funnel) and the final keep rate.  Ratio gates compare integer
    cross-products (2*distinct >= words; 10*chars <= 56*words), so
    gate membership is engine-exact — no float thresholds.

    Plan shape: per-row tokenize/distinct behind the bounded
    repartition floor, then ONE shuffle to the per-source rollup of
    conditional counts.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    m = d.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("c"),
        F.size(toks).cast("long").alias("w"),
        F.size(F.array_distinct(toks)).cast("long").alias("dw"),
    )
    g1 = F.col("c") >= _F_MIN_CHARS
    g2 = g1 & (F.col("w") >= _F_MIN_WORDS)
    # distinct/total >= 0.5  <=>  2*dw >= w (integer algebra)
    g3 = g2 & (2 * F.col("dw") >= F.col("w"))
    g4 = g3 & (F.col("lang") == "en")
    # mean word length <= 5.6  <=>  10*c <= 56*w
    g5 = g4 & (10 * F.col("c") <= 56 * F.col("w"))
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(g1.cast("long")).alias("pass_len"),
            F.sum(g2.cast("long")).alias("pass_words"),
            F.sum(g3.cast("long")).alias("pass_diversity"),
            F.sum(g4.cast("long")).alias("pass_lang"),
            F.sum(g5.cast("long")).alias("pass_all"),
        )
        .withColumn(
            "keep_rate",
            F.round(F.col("pass_all").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


DOC_FILTER_FUNNEL_SQL = rf"""
WITH m AS (
  SELECT source, lang,
         CAST(length(text) AS BIGINT) AS c,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
              AS BIGINT) AS w,
         CAST(len(list_distinct(
              regexp_split_to_array(trim(lower(text)), '\s+')))
              AS BIGINT) AS dw
  FROM documents
), gated AS (
  SELECT source,
         CASE WHEN c >= {_F_MIN_CHARS} THEN 1 ELSE 0 END AS g1,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
              THEN 1 ELSE 0 END AS g2,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w THEN 1 ELSE 0 END AS g3,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w AND lang = 'en' THEN 1 ELSE 0 END AS g4,
         CASE WHEN c >= {_F_MIN_CHARS} AND w >= {_F_MIN_WORDS}
                   AND 2*dw >= w AND lang = 'en'
                   AND 10*c <= 56*w THEN 1 ELSE 0 END AS g5
  FROM m
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(g1) AS BIGINT) AS pass_len,
       CAST(SUM(g2) AS BIGINT) AS pass_words,
       CAST(SUM(g3) AS BIGINT) AS pass_diversity,
       CAST(SUM(g4) AS BIGINT) AS pass_lang,
       CAST(SUM(g5) AS BIGINT) AS pass_all,
       ROUND(CAST(SUM(g5) AS DOUBLE) / COUNT(*), 6) AS keep_rate
FROM gated GROUP BY source ORDER BY source
"""


# --- lexical richness ------------------------------------------------------------


def doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary size, hapax-legomena count (words whose
    corpus frequency within the source is exactly 1), and the hapax
    share of the vocabulary — a standard lexical-richness / crawl-rot
    signal.  Shape: split-explode -> (source, word) rollup (one
    shuffle, partial-agg friendly) -> per-source counts (second,
    tiny shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("w"),
    ).where(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") == 1).cast("bigint")).alias("hapax"),
        )
        .select(
            "source",
            F.col("vocab").cast("bigint").alias("vocab"),
            F.col("hapax").cast("bigint").alias("hapax"),
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


_HAPAX_SQL = """
WITH words AS (
  SELECT source, w
  FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t
  WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM wc GROUP BY source ORDER BY source
"""


def doc_hash_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced subsample: 3 docs per source, chosen by
    md5 rank — a reproducible stand-in for per-stratum random sampling
    (same sample on every rerun, any partitioning, any engine).  One
    window per source partition; at 100 TB the rank key is computed in
    the scan and the window only sorts within strata."""
    d = load_table(spark, sf_dir, "documents")
    rk = D.md5_hash60(
        F.concat_ws("|", F.col("source"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy("rk", "doc_id")
    return (
        d.select("doc_id", "source", rk.alias("rk"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= 3)
        .drop("rk")
        .orderBy("source", "sample_rank")
    )


DOC_HASH_SAMPLE_SQL = """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT),
                    doc_id) AS BIGINT) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 3
ORDER BY source, sample_rank
"""


# --- deterministic split / sharding / packing --------------------------------

def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hash (md5 60-bit mod 100: <80 train, <90 val, else test) — the
    standard reproducible corpus split: stable under reprocessing,
    shard-count changes, and engine choice, unlike rand()-based
    sampling."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        d.select("doc_id", "lang", bucket.alias("hash_bucket"))
        .withColumn(
            "split",
            F.when(F.col("hash_bucket") < 80, "train")
            .when(F.col("hash_bucket") < 90, "val")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


DOC_HASH_SPLIT_SQL = """
SELECT doc_id, lang,
       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
         AS hash_bucket,
       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80
            THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
            THEN 'val'
            ELSE 'test' END AS split
FROM documents
ORDER BY doc_id
"""


# --- corpus: leakage-aware k-fold split ---------------------------------------


def doc_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold split keyed on md5 of the document CONTENT (not the id):
    byte-identical duplicates always land in the same fold, so an
    exact dup can never leak from train into eval.  Per (fold, source)
    stats make the balance auditable.  One shuffle on (fold, source);
    the fold key is per-row arithmetic and survives repartitioning,
    backfills, and engine swaps (same split in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    content = F.md5(F.col("text"))
    return (
        d.select(
            (md5_hash60(content, seed="fold") % 5).alias("fold"),
            "source",
            content.alias("h"),
            "n_chars",
        )
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_uniq_texts"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("fold", "source")
    )


DOC_KFOLD_SPLIT_SQL = """
SELECT CAST('0x' || substr(md5('fold|' || md5(text)), 1, 15) AS BIGINT) % 5 AS fold,
       source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_uniq_texts,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
ORDER BY fold, source
"""


# --- pairwise KL divergence --------------------------------------------------------


def doc_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(A || B) over add-one-smoothed source unigram models, exact
    decomposition (see module docstring): only co-occurring words need
    the cross term, so the heavy step is one equi-join of the sparse
    (source, word, count) table with itself on word, aggregated to a
    sources^2-row matrix.  Per-source scalars S, T, N and the global
    vocab V are exact-input double sums; ROUND 6 absorbs association
    order."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    wc = (
        words.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        # kept: without it the sf0.1 bench A/B read 1.00 s vs 0.87 s
        .localCheckpoint(eager=False)
    )
    vocab = wc.select("w").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    scal = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.sum(
            (F.col("c") + 1).cast("double")
            * F.log((F.col("c") + 1).cast("double"))
        ).alias("s_term"),
        F.sum(F.log((F.col("c") + 1).cast("double"))).alias("t_term"),
    )
    # cross term over co-occurring words
    a = wc.select(
        F.col("source").alias("src_a"), "w", F.col("c").alias("ca")
    )
    b = wc.select(
        F.col("source").alias("src_b"), "w", F.col("c").alias("cb")
    )
    x = (
        a.join(b, "w")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.col("ca").cast("double")
                * F.log((F.col("cb") + 1).cast("double"))
            ).alias("x_term")
        )
    )
    sa = scal.select(
        F.col("source").alias("src_a"),
        F.col("n_tok").alias("na"),
        F.col("s_term").alias("sa"),
    )
    sb = scal.select(
        F.col("source").alias("src_b"),
        F.col("n_tok").alias("nb"),
        F.col("t_term").alias("tb"),
    )
    pairs = (
        sa.crossJoin(sb)
        .where(F.col("src_a") != F.col("src_b"))
        .join(x, ["src_a", "src_b"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    return (
        pairs.select(
            "src_a",
            "src_b",
            F.round(
                (
                    F.col("sa")
                    - F.coalesce(F.col("x_term"), F.lit(0.0))
                    - F.col("tb")
                )
                / (F.col("na") + F.col("v")).cast("double")
                + F.log(
                    (F.col("nb") + F.col("v")).cast("double")
                    / (F.col("na") + F.col("v")).cast("double")
                ),
                6,
            ).alias("kl"),
        )
        .orderBy("src_a", "src_b")
    )


_KL_SQL = """
WITH words AS (
  SELECT source, w FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
), vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM wc
), scal AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
         SUM(CAST(c + 1 AS DOUBLE) * LN(CAST(c + 1 AS DOUBLE))) AS s_term,
         SUM(LN(CAST(c + 1 AS DOUBLE))) AS t_term
  FROM wc GROUP BY source
), x AS (
  SELECT a.source AS src_a, b.source AS src_b,
         SUM(CAST(a.c AS DOUBLE) * LN(CAST(b.c + 1 AS DOUBLE))) AS x_term
  FROM wc a JOIN wc b ON a.w = b.w AND a.source <> b.source
  GROUP BY a.source, b.source
)
SELECT sa.source AS src_a, sb.source AS src_b,
       ROUND((sa.s_term - COALESCE(x.x_term, 0.0) - sb.t_term)
               / CAST(sa.n_tok + v.v AS DOUBLE)
             + LN(CAST(sb.n_tok + v.v AS DOUBLE)
                  / CAST(sa.n_tok + v.v AS DOUBLE)), 6) AS kl
FROM scal sa
JOIN scal sb ON sa.source <> sb.source
LEFT JOIN x ON x.src_a = sa.source AND x.src_b = sb.source
CROSS JOIN vocab v
ORDER BY src_a, src_b
"""


# --- language-ID confusion matrix -------------------------------------------

def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = X.lang_guess(F.col("text"))
    cell = d.select("lang", g.alias("lang_guessed")).groupBy(
        "lang", "lang_guessed"
    ).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return (
        cell.withColumn(
            "row_share",
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double"),
        )
        .orderBy("lang", "lang_guessed")
    )


def _sw_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(X.STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}', 1))"


def _lang_confusion_sql() -> str:
    return f"""
WITH c AS (
  SELECT doc_id, lang,
         {_sw_sql('en')} AS en, {_sw_sql('es')} AS es,
         {_sw_sql('de')} AS de, {_sw_sql('fr')} AS fr
  FROM documents
), g AS (
  SELECT lang,
    CASE WHEN en+es+de+fr = 0 THEN 'und'
         WHEN en >= es AND en >= de AND en >= fr THEN 'en'
         WHEN es >= de AND es >= fr THEN 'es'
         WHEN de >= fr THEN 'de'
         ELSE 'fr' END AS lang_guessed
  FROM c
), cell AS (
  SELECT lang, lang_guessed, COUNT(*) AS n_docs
  FROM g GROUP BY lang, lang_guessed
)
SELECT lang, lang_guessed, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS row_share
FROM cell ORDER BY lang, lang_guessed
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


# --- n-gram novelty ----------------------------------------------------------

def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each doc's 3-gram shingles first introduced by that
    doc (global min doc_id over the shingle's occurrences).  High
    novelty = new content; near-zero = paraphrase of earlier docs.
    """
    from planning_center_data_pipeline_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(d, "doc_id", "text", k=3)
    w = Window.partitionBy("shingle")
    marked = sh.withColumn("first_doc", F.min("doc_id").over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_sh").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


DOC_NGRAM_NOVELTY_SQL = f"""
WITH {_SHINGLE_CTE},
marked AS (
  SELECT doc_id, shingle,
         MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
  FROM sh
)
SELECT doc_id, COUNT(*) AS n_sh,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


# --- PII scan / redaction ----------------------------------------------------
# Email/phone detection + redaction counts.  The corpus has no PII, so
# each doc gets a deterministic doc_id-derived contact suffix (added
# identically in both engines) — the operator under test is the regex
# scan/replace, which runs as a pure projection (no shuffle; at 100 TB
# this is the map-only scrub pass before training-data export).

_EMAIL_PAT = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"

_PHONE_PAT = "\\+1-555-[0-9][0-9][0-9][0-9]"


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(full_text, _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(full_text, F.lit(_EMAIL_PAT)).cast("long").alias("n_emails"),
        F.regexp_count(full_text, F.lit(_PHONE_PAT)).cast("long").alias("n_phones"),
        F.length(full_text).cast("long").alias("len_raw"),
        F.length(redacted).cast("long").alias("len_redacted"),
    ).orderBy("doc_id")


DOC_PII_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(full_text, '{_EMAIL_PAT}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(full_text, '{_PHONE_PAT}')) AS BIGINT) AS n_phones,
       CAST(length(full_text) AS BIGINT) AS len_raw,
       CAST(length(regexp_replace(regexp_replace(full_text, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                                  '{_PHONE_PAT}', '<PHONE>', 'g')) AS BIGINT)
         AS len_redacted
FROM t
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


def doc_quality_bins_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-cut-point quality binning — the scan-only production swap
    for doc_quality_deciles' global ntile sort: bin boundaries at
    0.2/0.4/0.6/0.8 turn binning into a pure per-row expression plus
    one partial-aggregated groupBy, no global sort anywhere."""
    d = load_table(spark, sf_dir, "documents")
    q = X.quality_score(F.col("text"))
    bin_ = (
        F.lit(1)
        + (q >= 0.2).cast("int")
        + (q >= 0.4).cast("int")
        + (q >= 0.6).cast("int")
        + (q >= 0.8).cast("int")
    ).cast("long")
    return (
        d.select(bin_.alias("bin"), q.alias("quality"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("q_min"),
            F.max("quality").alias("q_max"),
        )
        .orderBy("bin")
    )


_QUALITY_EXPR_SQL = """
  SELECT doc_id,
         0.5 * LEAST(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)/64.0, 1.0)
         + 0.3 * (CASE WHEN CAST(length(text) AS DOUBLE)/GREATEST(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE),1.0) >= 3.0
                        AND CAST(length(text) AS DOUBLE)/GREATEST(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE),1.0) <= 10.0
                       THEN 1.0 ELSE 0.5 END)
         - 0.1 * (CAST(len(regexp_extract_all(text, '([.,;:!?])', 1)) AS DOUBLE)/GREATEST(CAST(length(text) AS DOUBLE),1.0))
         - 0.1 * (CAST(len(regexp_extract_all(text, '([0-9])', 1)) AS DOUBLE)/GREATEST(CAST(length(text) AS DOUBLE),1.0)) AS quality
  FROM documents
"""

DOC_QUALITY_BINS_FIXED_SQL = f"""
WITH q AS ({_QUALITY_EXPR_SQL})
SELECT CAST(1 + (quality >= 0.2)::INT + (quality >= 0.4)::INT
              + (quality >= 0.6)::INT + (quality >= 0.8)::INT AS BIGINT) AS bin,
       COUNT(*) AS n_docs, MIN(quality) AS q_min, MAX(quality) AS q_max
FROM q
GROUP BY 1
ORDER BY bin
"""


def doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile binning (curriculum/filter thresholds):
    ntile(10) over the full corpus ordered by (quality, doc_id), then
    per-decile stats.  The exact global rank is a running count from
    `operators.windows.running_sums` (no single-partition window), and
    the exact SQL-standard NTILE formula (the first n%10 tiles carry
    one extra row) applies it with the 1-row corpus count.
    Bit-identical to ntile(10) OVER (ORDER BY quality, doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        X.quality_score(F.col("text")).alias("quality"),
        F.lit(1).alias("one"),
    )
    nrow = q.agg(F.count(F.lit(1)).alias("n"))  # 1 row
    ranked = (
        running_sums(q, ["quality", "doc_id"], ["one"])
        .crossJoin(F.broadcast(nrow))
        .withColumnRenamed("cum_one", "rn")
    )
    # exact NTILE(10): with n = q*10 + s, tiles 1..s hold q+1 rows
    # (front-loaded, SQL standard); CASE is lazy so the DIV in the
    # ELSE branch never sees q=0 (when n < 10 every row takes the
    # THEN branch).
    decile = F.expr(
        "CASE WHEN rn <= (n % 10) * (n DIV 10 + 1)"
        "     THEN (rn - 1) DIV (n DIV 10 + 1) + 1"
        "     ELSE (n % 10) + (rn - 1 - (n % 10) * (n DIV 10 + 1))"
        "          DIV (n DIV 10) + 1 END"
    )
    return (
        ranked.withColumn("decile", decile.cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("q_min"),
            F.max("quality").alias("q_max"),
        )
        .orderBy("decile")
    )


DOC_QUALITY_DECILES_SQL = f"""
WITH q AS ({_QUALITY_EXPR_SQL})
SELECT decile, COUNT(*) AS n_docs, MIN(quality) AS q_min, MAX(quality) AS q_max
FROM (
  SELECT doc_id, quality,
         CAST(NTILE(10) OVER (ORDER BY quality, doc_id) AS BIGINT) AS decile
  FROM q
)
GROUP BY decile
ORDER BY decile
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


# --- Flesch-Kincaid readability -------------------------------------------------


def doc_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document from engine-native regex
    counts: words = [a-z]+ runs of the lowercased text, sentences =
    [.!?]+ runs (floored at 1), syllables = vowel-group [aeiouy]+ runs
    (the standard no-dictionary approximation).  grade = 0.39 * w/s +
    11.8 * sy/w - 15.59 as three fixed-order double terms over exact
    integer counts.  Pure per-row expressions — no shuffle at all
    until the final ORDER BY."""
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    out = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.regexp_count(low, F.lit("[a-z]+")).cast("bigint").alias("words"),
        F.greatest(
            F.lit(1),
            F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("bigint"),
        ).alias("sentences"),
        F.regexp_count(low, F.lit("[aeiouy]+")).cast("bigint").alias(
            "syllables"
        ),
    ).filter(F.col("words") > 0)
    return out.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(0.39)
            * (F.col("words").cast("double") / F.col("sentences").cast("double"))
            + F.lit(11.8)
            * (F.col("syllables").cast("double") / F.col("words").cast("double"))
            - F.lit(15.59)
        ).alias("fk_grade"),
    ).orderBy("doc_id")


_READABILITY_SQL = """
WITH c AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS words,
         GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
       + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
       - 15.59 AS fk_grade
FROM c WHERE words > 0 ORDER BY doc_id
"""


# --- repetition / quality signals (Gopher-style) ----------------------------

def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics used in corpus quality filters
    (Gopher/Dolma style): type-token ratio, top-token share, top-bigram
    share, mean token length.  All exact integer counts turned into
    double ratios in a fixed op order."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id", X.tokens(X.normalize_text(F.col("text"))).alias("tk")
    )
    per_tok = (
        tokd.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tok_stats = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_tok_n"),
        F.sum(F.col("cnt") * F.length("tok")).alias("len_sum"),
    )
    bigram_arr = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("tk"), i), F.element_at(F.col("tk"), i + 1)
        ),
    )
    per_bg = (
        tokd.filter(F.size("tk") >= 2)
        .select("doc_id", F.explode(bigram_arr).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bg_stats = per_bg.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"), F.max("cnt").alias("top_bg_n")
    )
    return (
        tok_stats.join(bg_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "distinct_ratio"
            ),
            (F.col("top_tok_n").cast("double") / F.col("n_tokens")).alias(
                "top_token_frac"
            ),
            F.coalesce(
                F.col("top_bg_n").cast("double") / F.col("n_bigrams"), F.lit(0.0)
            ).alias("top_bigram_frac"),
            (F.col("len_sum").cast("double") / F.col("n_tokens")).alias(
                "mean_tok_len"
            ),
        )
        .orderBy("doc_id")
    )


DOC_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
  GROUP BY doc_id, tok
), tok_stats AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(cnt) AS top_tok_n, SUM(cnt * length(tok)) AS len_sum
  FROM per_tok GROUP BY doc_id
), per_bg AS (
  SELECT doc_id, bg, COUNT(*) AS cnt
  FROM (
    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
          FROM toks WHERE len(tk) >= 2)
  ) GROUP BY doc_id, bg
), bg_stats AS (
  SELECT doc_id, SUM(cnt) AS n_bigrams, MAX(cnt) AS top_bg_n
  FROM per_bg GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_tokens,
       CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS distinct_ratio,
       CAST(t.top_tok_n AS DOUBLE) / t.n_tokens AS top_token_frac,
       COALESCE(CAST(b.top_bg_n AS DOUBLE) / b.n_bigrams, 0.0) AS top_bigram_frac,
       CAST(t.len_sum AS DOUBLE) / t.n_tokens AS mean_tok_len
FROM tok_stats t LEFT JOIN bg_stats b USING (doc_id)
ORDER BY t.doc_id
"""


def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training shards: within each source
    (deterministic doc order), docs are laid head-to-tail and cut into
    512-token packs by running-total offset.  One window cumsum plus
    one aggregation — the whole packing plan shuffles each source
    partition once, never serializes through the driver."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(X.tokens(X.normalize_text(F.col("text")))).cast("long").alias(
            "n_tok"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tok").over(w)).withColumn(
        "pack_id", ((F.col("cum") - F.col("n_tok")) / 512).cast("bigint")
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tok_total"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


DOC_SEQ_PACKING_SQL = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS BIGINT)
           AS n_tok
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_total,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# --- token-budget shard manifest (scalable global prefix sum) ---------------

_SHARD_TOKENS = 4096


def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs to fixed-token-budget output shards by global
    cumulative token count in doc_id order — the manifest step before
    writing training shards.

    The cumulative count is `operators.windows.running_sums`, not a
    `SUM() OVER (ORDER BY doc_id)` that funnels the whole corpus
    through one partition."""
    d = load_table(spark, sf_dir, "documents")
    ntok = d.select(
        "doc_id", X.token_count(F.col("text")).cast("long").alias("n_toks")
    )
    cum = F.col("cum_n_toks")
    return (
        running_sums(ntok, ["doc_id"], ["n_toks"])
        .select(
            "doc_id",
            "n_toks",
            cum.alias("cum_toks"),
            F.floor((cum - F.col("n_toks")) / _SHARD_TOKENS).alias("shard_id"),
        )
        .orderBy("doc_id")
    )


DOC_SHARD_MANIFEST_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_toks
  FROM documents
), c AS (
  SELECT doc_id, n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_toks
  FROM t
)
SELECT doc_id, n_toks, cum_toks,
       CAST(FLOOR((cum_toks - n_toks) / {_SHARD_TOKENS}.0) AS BIGINT)
         AS shard_id
FROM c ORDER BY doc_id
"""


# --- stopword language-leakage audit --------------------------------------------


def doc_stopword_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-stopword density per DECLARED language label: docs,
    total whitespace tokens, English stopword hits, hits per 100
    tokens, and the share of documents with >= 1 hit.  High density
    under a non-en label flags mislabeled or code-switched text
    before it skews per-language sampling budgets.  Counts are exact
    integers; two divisions at the end.

    Plan shape: CPU-dense per-row regex behind the bounded
    repartition floor, one shuffle to the |langs|-row rollup.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    hits = X.stopword_hits(F.col("text"), "en").cast("long")
    per = d.select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("toks"),
        hits.alias("hits"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum("hits").alias("en_sw_hits"),
            F.sum((F.col("hits") > 0).cast("long")).alias("docs_with_hit"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "en_sw_hits",
            F.round(
                F.lit(100.0) * F.col("en_sw_hits") / F.col("n_tokens"), 6
            ).alias("hits_per_100tok"),
            F.round(
                F.lit(100.0) * F.col("docs_with_hit") / F.col("n_docs"), 6
            ).alias("docs_with_hit_pct"),
        )
        .orderBy("lang")
    )


def _en_sw_sql() -> str:
    pat = r"\b(" + "|".join(X.STOPWORDS["en"]) + r")\b"
    return f"CAST(len(regexp_extract_all(lower(text), '{pat}', 1)) AS BIGINT)"


DOC_STOPWORD_LEAKAGE_SQL = rf"""
WITH per AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS toks,
         {_en_sw_sql()} AS hits
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(SUM(hits) AS BIGINT) AS en_sw_hits,
       ROUND(100.0 * SUM(hits) / SUM(toks), 6) AS hits_per_100tok,
       ROUND(100.0 * SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS docs_with_hit_pct
FROM per GROUP BY lang ORDER BY lang
"""


# --- deterministic stratified fixed-size sample ------------------------------

def doc_stratified_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank documents
    within each source by md5(text) (a uniform, content-derived,
    engine-portable pseudo-random key) and keep the first 5.

    Unlike Bernoulli sampling (random COUNT per stratum) this yields
    a fixed-size sample, reproducible across runs and engines.  The
    rank filter compiles to WindowGroupLimit, so each map task
    forwards at most k rows per stratum — reservoir-sampling
    economics out of the stock optimizer.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "rn", "doc_id", "n_chars")
        .orderBy("source", "rn")
    )


DOC_STRATIFIED_TOPK_SQL = """
SELECT source, rn, doc_id, n_chars
FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 5 ORDER BY source, rn
"""


# --- term burstiness ---------------------------------------------------------------


def doc_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of per-document counts for the top-50
    corpus terms (by total count, ties broken by term).  Zero-count
    documents are part of the distribution: with D docs, term total
    S = sum(c) and square sum Q = sum(c^2) over docs containing the
    term, VMR = (D*Q - S^2) / (D*S) — exact integers until one final
    double.  Shape: (term, doc) counts -> per-term sums -> top-50 by
    ORDER BY + LIMIT (no global window)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    per_doc = toks.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per_term = per_doc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("qq"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("d"))
    top = (
        per_term.orderBy(F.desc("s"), "w")
        .limit(50)
        .crossJoin(F.broadcast(n_docs))
    )
    return (
        top.select(
            F.col("w").alias("term"),
            F.col("s").alias("total_count"),
            F.round(
                (
                    F.col("d").cast("double") * F.col("qq").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double")
                )
                / (F.col("d").cast("double") * F.col("s").cast("double")),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.desc("total_count"), "term")
    )


_BURSTINESS_SQL = """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), per_doc AS (
  SELECT w, doc_id, COUNT(*) AS c FROM toks GROUP BY w, doc_id
), per_term AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS qq
  FROM per_doc GROUP BY w
), nd AS (
  SELECT COUNT(*) AS d FROM documents
)
SELECT w AS term, s AS total_count,
       ROUND((CAST(d AS DOUBLE) * CAST(qq AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(d AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS vmr
FROM per_term, nd
ORDER BY total_count DESC, term LIMIT 50
"""


# --- TF-IDF -----------------------------------------------------------------

def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by smoothed TF-IDF
    (tf * (ln((1+N)/(1+df)) + 1), sklearn-style smoothing so ubiquitous
    terms keep a nonzero weight).  Two shuffles: (doc, term) counts,
    then term document-frequencies joined back; N arrives via a
    broadcast 1-row aggregate, never a driver-side collect.

    The score is rounded to 9 decimals BEFORE ranking: ln() differs by
    1 ulp between JVM and DuckDB libm for some inputs, and both the
    emitted value and the rank order must be computed from identical
    numbers for the oracle hash to be stable."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("n_docs"))
                        / (F.lit(1.0) + F.col("df"))
                    )
                    + F.lit(1.0)
                ),
                9,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .orderBy("doc_id", "rank")
    )


DOC_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, tf, df,
         round(CAST(tf AS DOUBLE) * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 9) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, df, tfidf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY doc_id, rank
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

_BPE_SQL_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


# --- tokenizer fertility by language and source --------------------------------


def doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-tokenizer fertility by (lang, source): BPE-ish pieces
    per whitespace word and pieces per 100 characters — the signal a
    multilingual training-corpus token budget is planned around
    (high-fertility slices cost more tokens per byte of text).
    Counts are exact integer sums; two divisions at the end.

    Plan shape: CPU-dense per-row regex counting happens before the
    first shuffle, so the scan gets the bounded repartition floor
    (single small parquet files otherwise serialize on one core —
    the shingle_table lesson); then one shuffle to the (lang, source)
    rollup.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    per = d.select(
        "lang",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_words"),
        F.regexp_count(F.lower("text"), F.lit(_BPE_SQL_PAT))
        .cast("long")
        .alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_pieces").alias("pieces"),
            F.sum("n_chars").alias("chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "words",
            "pieces",
            "chars",
            F.round(
                F.col("pieces").cast("double") / F.col("words"), 6
            ).alias("pieces_per_word"),
            F.round(
                F.lit(100.0) * F.col("pieces") / F.col("chars"), 6
            ).alias("pieces_per_100ch"),
        )
        .orderBy("lang", "source")
    )


DOC_TOKENIZER_FERTILITY_SQL = rf"""
WITH per AS (
  SELECT lang, source,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL_PAT}'))
              AS BIGINT) AS n_pieces,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_pieces) AS BIGINT) AS pieces,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       ROUND(CAST(SUM(n_pieces) AS DOUBLE) / SUM(n_words), 6)
         AS pieces_per_word,
       ROUND(100.0 * SUM(n_pieces) / SUM(n_chars), 6) AS pieces_per_100ch
FROM per GROUP BY lang, source ORDER BY lang, source
"""


# --- corpus: deterministic training-order shuffle -------------------------------


def doc_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    (shard, position) from md5 draws on its id — the standard 'shuffle
    once, stream forever' layout for training runs.  Reproducible on
    any cluster size (no RNG state, no global sort: the only shuffle
    is the per-shard window, and shards are uniform by construction).
    Epoch reshuffles would salt the seed."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        d.select(
            "doc_id",
            (md5_hash60(did, seed="shard") % 8).alias("shard"),
            md5_hash60(did, seed="pos").alias("k"),
        )
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
        .orderBy("shard", "position")
    )


DOC_TRAINING_ORDER_SQL = """
WITH keyed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
         CAST('0x' || substr(md5('pos|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS k
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS position
FROM keyed
ORDER BY shard, position
"""


# --- Python UDTF: document chunker -------------------------------------------
# Spark 4's user-defined TABLE function surface: one input row ->
# many output rows, used from SQL as a correlated LATERAL table.
# Deterministic chunking (16-token windows), so the whole UDTF is hash-
# checked against a pure-SQL oracle.  NOTE the scale stance: a Python
# UDTF runs row-at-a-time in the Python worker — fine for control-
# plane-ish fan-outs, but hot-path chunking stays in expressions (see
# doc_chunk_dedup); this query exists to cover (and verify) the API.

_CHUNK_W = 16


def _chunk_udtf_cls():
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no bigint, chunk_text string, n_toks bigint")
    class ChunkDoc:
        def eval(self, text: str):
            toks = (text or "").lower().split()
            for i in range(0, len(toks), _CHUNK_W):
                c = toks[i : i + _CHUNK_W]
                yield (i // _CHUNK_W, " ".join(c), len(c))

    return ChunkDoc


def doc_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("chunk_doc", _chunk_udtf_cls())
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_no, c.chunk_text, c.n_toks
        FROM {documents} d, LATERAL chunk_doc(d.text) c
        ORDER BY d.doc_id, c.chunk_no
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


DOC_UDTF_CHUNKS_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                               ' ') AS tk
  FROM documents
)
SELECT doc_id,
       CAST(g.i AS BIGINT) AS chunk_no,
       array_to_string(tk[g.i*{_CHUNK_W}+1 : g.i*{_CHUNK_W}+{_CHUNK_W}], ' ')
         AS chunk_text,
       CAST(LEAST({_CHUNK_W}, len(tk) - g.i*{_CHUNK_W}) AS BIGINT) AS n_toks
FROM t, LATERAL (
  SELECT unnest(generate_series(0,
    CAST(ceil(len(tk)/{_CHUNK_W}.0) AS INT) - 1)) AS i
) g
ORDER BY doc_id, chunk_no
"""


# --- unigram cross-entropy ----------------------------------------------------

# shared verbatim per-token surprisal in 1e-9 units (cols: cnt_tok,
# tot_toks are BIGINT corpus stats)
_XENT_TOK_MICRO = (
    "CAST(ROUND(-LOG2(CAST(cnt_tok AS DOUBLE) / CAST(tot_toks AS DOUBLE))"
    " * 1000000000.0) AS BIGINT)"
)


def doc_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) under the
    corpus LM — the standard surprisal-based quality filter.

    Shape: one (doc, tok) rollup, a vocab-sized unigram table joined
    back (broadcastable: vocab << corpus), int64 weighted sum of
    1e-9-quantized surprisals, one double division."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
        ).alias("tok"),
    )
    dt = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    uni = dt.groupBy("tok").agg(F.sum("cnt").cast("bigint").alias("cnt_tok"))
    tot = uni.agg(F.sum("cnt_tok").cast("bigint").alias("tot_toks"))  # 1 row
    scored = (
        dt.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(tot))
        .withColumn("tok_micro", F.expr(_XENT_TOK_MICRO))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("dl"),
        F.sum(F.col("cnt") * F.col("tok_micro")).cast("bigint").alias("micro_sum"),
    )
    return per_doc.select(
        "doc_id",
        "dl",
        (
            F.col("micro_sum").cast("double")
            / (F.col("dl").cast("double") * F.lit(1000000000.0))
        ).alias("xent_bits"),
    ).orderBy("doc_id")


DOC_XENT_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tok
  FROM documents
), dt AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
), uni AS (
  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS cnt_tok FROM dt GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt_tok) AS BIGINT) AS tot_toks FROM uni
), scored AS (
  SELECT dt.doc_id, dt.cnt, {_XENT_TOK_MICRO} AS tok_micro
  FROM dt JOIN uni USING (tok) CROSS JOIN tot
), per_doc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS dl,
         CAST(SUM(cnt * tok_micro) AS BIGINT) AS micro_sum
  FROM scored GROUP BY 1
)
SELECT doc_id, dl,
       CAST(micro_sum AS DOUBLE) / (CAST(dl AS DOUBLE) * 1000000000.0)
         AS xent_bits
FROM per_doc ORDER BY doc_id
"""


# --- vocabulary coverage / OOV rate -----------------------------------------
# Tokenizer-eval staple for training pipelines: how much of each
# source's token mass falls outside a fixed top-K vocabulary.  The
# vocab is derived from the corpus itself (top 1000 by count, token
# asc tie-break — deterministic), then broadcast against the token
# stream; per-source rates are exact integer ratios.

def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    # broadcast: the vocab is K rows by construction — this hint stays
    # valid at any corpus size (unlike entity-cardinality tables)
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        )
        .orderBy("source")
    )


DOC_VOCAB_COVERAGE_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok FROM toks GROUP BY tok
  ORDER BY COUNT(*) DESC, tok LIMIT 1000
)
SELECT source,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY source ORDER BY source
"""


# --- weighted reservoir sample ----------------------------------------------

def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """500-document A-ES weighted sample, weight = n_chars: longer
    documents proportionally more likely, sampled without replacement,
    byte-deterministic across engines and partitionings (see
    operators/sampling.py).  At 100 TB this is the 'sample k docs
    proportional to token count' curation primitive: per-row key
    expression + TakeOrderedAndProject, no global sort, no shuffle of
    document text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(d, "doc_id", "n_chars", 500)
        .select("doc_id", F.col("n_chars").alias("w_chars"))
        .orderBy("doc_id")
    )


DOC_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, w_chars FROM (
  SELECT doc_id, n_chars AS w_chars
  FROM documents WHERE n_chars > 0
  ORDER BY {aes_key_sql("doc_id", "n_chars")} DESC, doc_id
  LIMIT 500
) ORDER BY doc_id
"""


def doc_weighted_sample_stratified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source A-ES weighted sample (100 docs per source, weight =
    n_chars): the corpus-mixing primitive — each source keeps its own
    reservoir, so one giant source can't crowd out the rest.  One
    shuffle on source for the windowed top-k; key computation stays
    per-row."""
    from planning_center_data_pipeline_spark.operators.sampling import (
        aes_key,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    w = Window.partitionBy("source").orderBy(
        F.desc("k"), F.asc("doc_id")
    )
    return (
        d.withColumn("k", aes_key(F.col("doc_id"), F.col("n_chars")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("source", "doc_id", F.col("n_chars").alias("w_chars"))
        .orderBy("source", "doc_id")
    )


DOC_WEIGHTED_SAMPLE_STRAT_SQL = f"""
SELECT source, doc_id, w_chars FROM (
  SELECT source, doc_id, n_chars AS w_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {aes_key_sql("doc_id", "n_chars")} DESC, doc_id
         ) AS rn
  FROM documents WHERE n_chars > 0
) WHERE rn <= 100 ORDER BY source, doc_id
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


# --- Yule's K ----------------------------------------------------------------------


def doc_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source: K = 10^4 * (sum_w c_w^2 - N)
    / N^2 over the word-frequency vector — the classic repeat-rate
    measure of lexical concentration (robust to corpus size).  The
    numerator is exact integer; one double division at the end.
    Shape: (source, word) rollup -> per-source integer sums."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("w"),
    ).where(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                10000.0
                * (F.col("sum_c2") - F.col("n_tokens")).cast("double")
                / (
                    F.col("n_tokens").cast("double")
                    * F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )


_YULE_SQL = """
WITH words AS (
  SELECT source, w
  FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       ROUND(10000.0 * CAST(SUM(c * c) - SUM(c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)), 6)
         AS yule_k
FROM wc GROUP BY source ORDER BY source
"""


# --- Zipf rank-frequency diagnostic --------------------------------------------

_ZIPF_TOP = 50


def doc_zipf_rankfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus tokens with their rank x frequency product — the
    Zipf's-law diagnostic (under an ideal s=1 Zipf fit, rank*freq is
    constant), kept in exact integers: no libm log, one division for
    the corpus share.  Rank order is (freq DESC, token ASC) — total
    and portable.

    Plan shape: repartition floor before the CPU-dense tokenize
    (single-file scan lesson), one shuffle to token counts, top-50 via
    TakeOrderedAndProject; the rank window orders 50 rows, and the
    corpus-total divisor is a 1-row aggregate broadcast.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = counts.agg(F.sum("freq").alias("total"))  # 1 row
    top = counts.orderBy(F.desc("freq"), "token").limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("freq"), "token")  # 50 rows by construction
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rank_freq"),
            F.round(F.lit(100.0) * F.col("freq") / F.col("total"), 6).alias(
                "share_pct"
            ),
        )
        .orderBy("rank")
    )


DOC_ZIPF_RANKFREQ_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
  FROM documents
), counts AS (
  SELECT token, COUNT(*) AS freq FROM toks WHERE token <> '' GROUP BY token
), total AS (
  SELECT CAST(SUM(freq) AS BIGINT) AS total FROM counts
), top AS (
  SELECT token, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
  FROM counts ORDER BY freq DESC, token LIMIT {_ZIPF_TOP}
)
SELECT rank, token, freq, rank * freq AS rank_freq,
       ROUND(100.0 * freq / total, 6) AS share_pct
FROM top CROSS JOIN total ORDER BY rank
"""


# --- Zipf-law fit ------------------------------------------------------------

# global window: the rank over the top-100 tokens (post-LIMIT)
def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of ln(freq) vs ln(rank) over the top-100
    corpus tokens — the Zipf diagnostic (natural language ~ -1;
    template/boilerplate corpora drift toward 0).

    ln() values are fixed-pointed to 1e-9 then lifted to
    decimal(38,0) so the x*y / x^2 cross-moments (which overflow
    int64) accumulate exactly; the slope/intercept assemble from the
    exact moments in one fixed double expression, rounded to 9.
    """
    from planning_center_data_pipeline_spark.operators import (
        textstats as X,
    )

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(
                X.tokens(X.normalize_text(F.col("text")))
            ).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
    )
    w = Window.orderBy(F.desc("n"), "tok")
    fp = lambda c: F.round(F.log(c.cast("double")) * F.lit(1e9)).cast(
        "decimal(14,0)"
    )
    terms = freq.select(
        fp(F.row_number().over(w)).alias("x"),
        fp(F.col("n")).alias("y"),
    )
    m = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # Exact decimal sums -> ONE conversion to double each, then a
    # fixed-order double expression (decimal k*sxy products would
    # exceed DuckDB's 38-digit width cap).
    k_d = F.col("k").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d, sxx_d = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (k_d * sxy_d - sx_d * sy_d) / (k_d * sxx_d - sx_d * sx_d)
    xbar = sx_d / 1e9 / k_d
    ybar = sy_d / 1e9 / k_d
    return m.select(
        F.col("k").cast("bigint").alias("n_tokens"),
        F.round(slope, 9).alias("zipf_slope"),
        F.round(ybar - slope * xbar, 9).alias("intercept"),
    )


DOC_ZIPF_SLOPE_SQL = r"""
WITH freq AS (
  SELECT tok, COUNT(*) AS n
  FROM (
    SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
  GROUP BY tok ORDER BY n DESC, tok LIMIT 100
), terms AS (
  SELECT CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok)
                            AS DOUBLE)) * 1e9) AS DECIMAL(14,0)) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1e9) AS DECIMAL(14,0)) AS y
  FROM freq
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS k_d,
         CAST(SUM(x) AS DOUBLE) AS sx_d, CAST(SUM(y) AS DOUBLE) AS sy_d,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy_d,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx_d
  FROM terms
)
SELECT CAST(k_d AS BIGINT) AS n_tokens,
       ROUND((k_d*sxy_d - sx_d*sy_d) / (k_d*sxx_d - sx_d*sx_d), 9)
         AS zipf_slope,
       ROUND(sy_d/1e9/k_d
             - ((k_d*sxy_d - sx_d*sy_d) / (k_d*sxx_d - sx_d*sx_d))
               * sx_d/1e9/k_d, 9) AS intercept
FROM m
"""


QUERIES = {
    "corpus_curate_e2e": corpus_curate_e2e,
    "corpus_mix_plan": corpus_mix_plan,
    "doc_bigram_entropy_rate": doc_bigram_entropy_rate,
    "doc_bm25_scores": doc_bm25_scores,
    "doc_bpe_merge_candidates": doc_bpe_merge_candidates,
    "doc_bpe_token_count": doc_bpe_token_count,
    "doc_cms_token_counts": doc_cms_token_counts,
    "doc_exact_stratified_split": doc_exact_stratified_split,
    "doc_filter_funnel": doc_filter_funnel,
    "doc_hapax_ratio": doc_hapax_ratio,
    "doc_hash_sample_per_source": doc_hash_sample_per_source,
    "doc_hash_split": doc_hash_split,
    "doc_kfold_split": doc_kfold_split,
    "doc_kl_divergence_sources": doc_kl_divergence_sources,
    "doc_lang_confusion": doc_lang_confusion,
    "doc_lang_guess": doc_lang_guess,
    "doc_ngram_novelty": doc_ngram_novelty,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_quality": doc_quality,
    "doc_quality_bins_fixed": doc_quality_bins_fixed,
    "doc_quality_deciles": doc_quality_deciles,
    "doc_rag_chunks": doc_rag_chunks,
    "doc_readability_fk": doc_readability_fk,
    "doc_repetition_signals": doc_repetition_signals,
    "doc_sequence_packing": doc_sequence_packing,
    "doc_shard_manifest": doc_shard_manifest,
    "doc_stopword_leakage": doc_stopword_leakage,
    "doc_stratified_topk_sample": doc_stratified_topk_sample,
    "doc_term_burstiness": doc_term_burstiness,
    "doc_tfidf_top_terms": doc_tfidf_top_terms,
    "doc_token_stats": doc_token_stats,
    "doc_tokenizer_fertility": doc_tokenizer_fertility,
    "doc_training_order": doc_training_order,
    "doc_udtf_chunks": doc_udtf_chunks,
    "doc_unigram_xent": doc_unigram_xent,
    "doc_vocab_coverage": doc_vocab_coverage,
    "doc_weighted_sample": doc_weighted_sample,
    "doc_weighted_sample_stratified": doc_weighted_sample_stratified,
    "doc_word_freq": doc_word_freq,
    "doc_yule_k": doc_yule_k,
    "doc_zipf_rankfreq": doc_zipf_rankfreq,
    "doc_zipf_slope": doc_zipf_slope,
}
ORACLES = {
    "corpus_curate_e2e": CORPUS_CURATE_E2E_SQL,
    "corpus_mix_plan": CORPUS_MIX_PLAN_SQL,
    "doc_bigram_entropy_rate": _BIGRAM_H_SQL,
    "doc_bm25_scores": DOC_BM25_SQL,
    "doc_bpe_merge_candidates": DOC_BPE_MERGE_SQL,
    "doc_bpe_token_count": DOC_BPE_SQL,
    "doc_cms_token_counts": DOC_CMS_SQL,
    "doc_exact_stratified_split": DOC_EXACT_SPLIT_SQL,
    "doc_filter_funnel": DOC_FILTER_FUNNEL_SQL,
    "doc_hapax_ratio": _HAPAX_SQL,
    "doc_hash_sample_per_source": DOC_HASH_SAMPLE_SQL,
    "doc_hash_split": DOC_HASH_SPLIT_SQL,
    "doc_kfold_split": DOC_KFOLD_SPLIT_SQL,
    "doc_kl_divergence_sources": _KL_SQL,
    "doc_lang_confusion": _lang_confusion_sql(),
    "doc_lang_guess": DOC_LANG_GUESS_SQL,
    "doc_ngram_novelty": DOC_NGRAM_NOVELTY_SQL,
    "doc_pii_scrub": DOC_PII_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_quality_bins_fixed": DOC_QUALITY_BINS_FIXED_SQL,
    "doc_quality_deciles": DOC_QUALITY_DECILES_SQL,
    "doc_rag_chunks": DOC_RAG_CHUNKS_SQL,
    "doc_readability_fk": _READABILITY_SQL,
    "doc_repetition_signals": DOC_REPETITION_SQL,
    "doc_sequence_packing": DOC_SEQ_PACKING_SQL,
    "doc_shard_manifest": DOC_SHARD_MANIFEST_SQL,
    "doc_stopword_leakage": DOC_STOPWORD_LEAKAGE_SQL,
    "doc_stratified_topk_sample": DOC_STRATIFIED_TOPK_SQL,
    "doc_term_burstiness": _BURSTINESS_SQL,
    "doc_tfidf_top_terms": DOC_TFIDF_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_tokenizer_fertility": DOC_TOKENIZER_FERTILITY_SQL,
    "doc_training_order": DOC_TRAINING_ORDER_SQL,
    "doc_udtf_chunks": DOC_UDTF_CHUNKS_SQL,
    "doc_unigram_xent": DOC_XENT_SQL,
    "doc_vocab_coverage": DOC_VOCAB_COVERAGE_SQL,
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "doc_weighted_sample_stratified": DOC_WEIGHTED_SAMPLE_STRAT_SQL,
    "doc_word_freq": DOC_WORD_FREQ_SQL,
    "doc_yule_k": _YULE_SQL,
    "doc_zipf_rankfreq": DOC_ZIPF_RANKFREQ_SQL,
    "doc_zipf_slope": DOC_ZIPF_SLOPE_SQL,
}
