"""Round-5 wave: edit-distance near-dup, bag set ops, BPE merge
candidates, vocabulary coverage, entity resolution, Gram-based PCA
spectrum, and WebDataset-style multimodal shard packing.

Same contract as every plan module: QUERIES (Spark builders) and
ORACLES (DuckDB SQL twins, column-aliased identically).  Scale notes
per query docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- edit-distance near-dup (blocked levenshtein) ---------------------------
# Fuzzy-duplicate detection where token/shingle methods are too coarse
# (short strings, OCR noise, templated text).  Levenshtein is O(m*n)
# PER PAIR, so the pair space must be blocked: here on the exact
# 12-char prefix (templated corpora share openings; swap in a
# normalized-key or length-band block for other data).  Both Spark and
# DuckDB implement classic Levenshtein — integer-exact oracle.

def doc_prefix_edit_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs whose 40-char prefixes are within edit distance 8,
    blocked on equal 12-char prefix.  Within-block pairs only — the
    candidate space is SUM(block^2), never corpus^2; block granularity
    is the scale lever exactly as in the GEMM near-dup path.
    Cost model at 100 TB: levenshtein(40,40) is ~1600 int ops/pair,
    JVM codegen — the blocked join dominates, not the distance."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 40).alias("p40"),
        F.substring("text", 1, 12).alias("blk"),
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_1"),
            F.col("b.doc_id").alias("id_2"),
            F.levenshtein(F.col("a.p40"), F.col("b.p40")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 8)
        .orderBy("id_1", "id_2")
    )


DOC_PREFIX_EDIT_SQL = """
WITH d AS (
  SELECT doc_id, substr(text, 1, 40) AS p40, substr(text, 1, 12) AS blk
  FROM documents
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(levenshtein(a.p40, b.p40) AS INT) AS edit_dist
FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.p40, b.p40) <= 8
ORDER BY id_1, id_2
"""


# --- INTERSECT ALL (bag semantics) ------------------------------------------

def set_orders_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection of customer order activity across two years:
    INTERSECT ALL keeps min(multiplicity) copies per key — 'how many
    of a customer's 1995 orders are matched one-for-one by 1996
    orders'.  Spark's intersectAll is a single aggregate-based plan
    (count per side, emit min) — one shuffle per side, no join
    explosion.  Completes the set-op surface next to
    intersect/except/exceptAll."""
    o = load_table(spark, sf_dir, "orders")

    def keys(year: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == year).select("o_custkey")

    return (
        keys(1995)
        .intersectAll(keys(1996))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .orderBy("o_custkey")
    )


SET_INTERSECT_ALL_SQL = """
WITH i AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
)
SELECT o_custkey, COUNT(*) AS n_matched FROM i
GROUP BY o_custkey ORDER BY o_custkey
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


# (language-ID evaluation lives in wave4d.doc_lang_confusion — the
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


# --- entity resolution: blocked fuzzy match + best-match selection ----------
# The record-linkage staple: match a corrupted roster back to the
# clean one.  Shape that scales: candidates come from a BLOCKED
# equi-join on a CORRUPTION-FOLDED canonical key — (nation, last 4
# chars of the name with the known O->0 confusion folded back), the
# same idea as phonetic/q-gram blocking keys in classic ER.  Folding
# makes the true match always share a block, while the suffix keeps
# block sizes bounded by key entropy (|customers| / (25 nations x
# suffix domain)) — LINEAR candidate growth, unlike nation-only
# blocking whose blocks grow with the data (O(n^2/25) pairs at
# scale).  Per-pair edit distance runs in JVM codegen on the RAW
# names; best-match-per-left-row is a rank-1 window that compiles to
# WindowGroupLimit (map-side top-1 before the shuffle).  The
# corruption is deterministic, so the whole pipeline hash-matches SQL.

def cust_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )

    def folded_suffix(name):
        return F.right(F.replace(name, F.lit("O"), F.lit("0")), F.lit(4))

    dirty_name = F.replace(F.col("c_name"), F.lit("0"), F.lit("O"))
    dirty = c.select(
        F.col("c_custkey").alias("dirty_id"),
        dirty_name.alias("dirty_name"),
        F.concat_ws(
            "|", F.col("c_nationkey"), folded_suffix(dirty_name)
        ).alias("blk"),
    )
    clean = c.select(
        F.col("c_custkey").alias("matched_id"),
        F.col("c_name").alias("clean_name"),
        F.concat_ws(
            "|", F.col("c_nationkey"), folded_suffix(F.col("c_name"))
        ).alias("blk"),
    )
    scored = dirty.join(clean, "blk").select(
        "dirty_id",
        "matched_id",
        F.levenshtein("dirty_name", "clean_name").alias("edit_dist"),
    )
    w = Window.partitionBy("dirty_id").orderBy("edit_dist", "matched_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            "matched_id",
            "edit_dist",
            (F.col("matched_id") == F.col("dirty_id")).alias("is_self_match"),
        )
        .orderBy("dirty_id")
    )


CUST_ENTITY_RESOLUTION_SQL = """
WITH dirty AS (
  SELECT c_custkey AS dirty_id, replace(c_name, '0', 'O') AS dirty_name,
         c_nationkey || '|' ||
           right(replace(replace(c_name, '0', 'O'), 'O', '0'), 4) AS blk
  FROM customer
), clean AS (
  SELECT c_custkey AS matched_id, c_name AS clean_name,
         c_nationkey || '|' || right(replace(c_name, 'O', '0'), 4) AS blk
  FROM customer
), scored AS (
  SELECT dirty_id, matched_id,
         CAST(levenshtein(dirty_name, clean_name) AS INT) AS edit_dist
  FROM dirty JOIN clean USING (blk)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id
                               ORDER BY edit_dist, matched_id) AS rn
  FROM scored
)
SELECT dirty_id, matched_id, edit_dist,
       matched_id = dirty_id AS is_self_match
FROM ranked WHERE rn = 1 ORDER BY dirty_id
"""


# --- multimodal shard packing (WebDataset-style) ----------------------------
# Training loaders for image/audio/video corpora read sequential tar
# shards of roughly equal BYTES (WebDataset / tar-archive pattern), so
# the shard plan packs media blobs by byte budget in a deterministic
# global order.  Same scalable two-phase prefix sum as
# doc_shard_manifest (range-partition local cumsums + a <=32-row
# offsets window — no single-partition stage over the data), but
# byte-weighted and aggregated to one row per output shard: the
# driver table a shard-writer job consumes.  Budget here is 64 KB for
# the synthetic corpus; production uses ~1 GB with the same plan.

_SHARD_BYTES = 64_000


def mm_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    sizes = d.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    p = sizes.repartitionByRange(32, "media_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("media_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("local_cum", F.sum("n_bytes").over(w_local))
    totals = local.groupBy("pid").agg(F.sum("n_bytes").alias("p_total"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("pid", "offset")
    return (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum", F.col("local_cum") + F.col("offset"))
        .withColumn(
            "shard_id",
            F.floor((F.col("cum") - F.col("n_bytes")) / F.lit(_SHARD_BYTES)),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("media_id").alias("first_id"),
            F.max("media_id").alias("last_id"),
        )
        .orderBy("shard_id")
    )


MM_SHARD_PLAN_SQL = f"""
WITH s AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), c AS (
  SELECT media_id, n_bytes,
         CAST(SUM(n_bytes) OVER (ORDER BY media_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM s
)
SELECT CAST(FLOOR((cum - n_bytes) / {_SHARD_BYTES}.0) AS BIGINT) AS shard_id,
       COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(media_id) AS first_id,
       MAX(media_id) AS last_id
FROM c GROUP BY 1 ORDER BY shard_id
"""


# --- EXACT stratified split --------------------------------------------------
# doc_hash_split (corpus.py) gives proportional-in-expectation splits;
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


# --- line-position stats (l_linenumber) -------------------------------------
# Completes the schema surface: l_linenumber is the within-order line
# position (composite PK with l_orderkey).  Per-position row counts +
# exact revenue expose order-composition structure (position 1 exists
# for every order; the tail thins with basket size).  Also doubles as
# the composite-PK uniqueness audit input.

def li_lineposition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("decimal(38,0)")
    return (
        li.groupBy(F.col("l_linenumber").cast("long").alias("l_linenumber"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            (F.sum(cents).cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("l_linenumber")
    )


LI_LINEPOSITION_SQL = """
SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS HUGEINT))
            AS DOUBLE) / 100.0 AS revenue
FROM lineitem
GROUP BY 1 ORDER BY l_linenumber
"""


# --- supplier credit-risk exposure (s_acctbal) ------------------------------
# Suppliers in arrears (negative account balance) ranked by open
# revenue exposure: the purchasing-risk screen.  Negative-balance
# suppliers are a small filtered set, but |suppliers| grows with the
# data, so the join carries NO broadcast hint — AQE broadcasts while
# it fits and falls back to shuffle beyond that (plan_audit's
# forced-fact rule applied to an entity dim).

def sup_credit_risk_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("decimal(38,0)")
    exposure = (
        li.join(s.select("s_suppkey", "s_name", "s_acctbal"),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.min("s_acctbal").alias("acctbal"),
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(cents).cast("double") / 100.0).alias("exposure"),
        )
    )
    return exposure.orderBy(F.desc("exposure"), "s_suppkey").limit(25)


SUP_CREDIT_RISK_SQL = """
SELECT s_suppkey, s_name, MIN(s_acctbal) AS acctbal,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS HUGEINT))
            AS DOUBLE) / 100.0 AS exposure
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal < 0
GROUP BY s_suppkey, s_name
ORDER BY exposure DESC, s_suppkey LIMIT 25
"""


QUERIES = {
    "doc_prefix_edit_near_dup": doc_prefix_edit_near_dup,
    "doc_bpe_merge_candidates": doc_bpe_merge_candidates,
    "mm_shard_plan": mm_shard_plan,
    "cust_entity_resolution": cust_entity_resolution,
    "doc_exact_stratified_split": doc_exact_stratified_split,
    "li_lineposition_stats": li_lineposition_stats,
    "sup_credit_risk_exposure": sup_credit_risk_exposure,
    "set_orders_intersect_all": set_orders_intersect_all,
    "doc_vocab_coverage": doc_vocab_coverage,
    "emb_pca_variance": emb_pca_variance,
}

ORACLES = {
    "doc_prefix_edit_near_dup": DOC_PREFIX_EDIT_SQL,
    "doc_bpe_merge_candidates": DOC_BPE_MERGE_SQL,
    "mm_shard_plan": MM_SHARD_PLAN_SQL,
    "cust_entity_resolution": CUST_ENTITY_RESOLUTION_SQL,
    "doc_exact_stratified_split": DOC_EXACT_SPLIT_SQL,
    "li_lineposition_stats": LI_LINEPOSITION_SQL,
    "sup_credit_risk_exposure": SUP_CREDIT_RISK_SQL,
    "set_orders_intersect_all": SET_INTERSECT_ALL_SQL,
    "doc_vocab_coverage": DOC_VOCAB_COVERAGE_SQL,
    # emb_pca_variance: rows-only (no SQL eigensolve)
}
