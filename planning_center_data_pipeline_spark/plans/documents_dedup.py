"""Document deduplication (`doc_` queries that find duplicates): exact
and near-duplicate detection through fingerprints, shingles, MinHash,
SimHash, prefix filtering and content-defined chunks.

Signatures built from md5 and regex get DuckDB oracles; `doc_minhash_lsh`
uses xxhash64, has no DuckDB twin and is rows-only (its `_portable`
twins carry the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import dedup as D
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.joins import gated_broadcast
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- boilerplate prefix detection -----------------------------------------------

_BP_PREFIX_TOKENS = 8


def doc_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: per source, the most common
    leading 8-token prefix, how many documents share it, and its
    share of the source — the cheap first-pass screen before
    near-dedup (a prefix shared by half a source is boilerplate).
    Ties break on the prefix string for determinism.

    Plan shape: prefix extraction is a per-row slice (no explode);
    one shuffle to (source, prefix) counts, one to the per-source
    argmax window; doc totals ride the same rollup — no second scan.
    """
    d = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ",
        F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, _BP_PREFIX_TOKENS),
    )
    per = (
        d.select("source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w_src = Window.partitionBy("source")
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), "prefix"
    )
    return (
        per.withColumn("src_docs", F.sum("n_docs").over(w_src))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("prefix").alias("top_prefix"),
            F.col("n_docs").alias("n_docs"),
            "src_docs",
            F.round(
                F.lit(100.0) * F.col("n_docs") / F.col("src_docs"), 6
            ).alias("share_pct"),
        )
        .orderBy("source")
    )


DOC_BOILERPLATE_PREFIXES_SQL = rf"""
WITH per AS (
  SELECT source,
         array_to_string(
           (regexp_split_to_array(trim(lower(text)), '\s+'))
             [1:{_BP_PREFIX_TOKENS}], ' ') AS prefix,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1, 2
), ranked AS (
  SELECT source, prefix, n_docs,
         SUM(n_docs) OVER (PARTITION BY source) AS src_docs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_docs DESC, prefix) AS rn
  FROM per
)
SELECT source, prefix AS top_prefix,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(src_docs AS BIGINT) AS src_docs,
       ROUND(100.0 * n_docs / src_docs, 6) AS share_pct
FROM ranked WHERE rn = 1 ORDER BY source
"""

_CDC_W = 4  # rolling-hash n-gram width (tokens)

_CDC_MOD = 16  # boundary when h % 16 == 0 -> ~16-token chunks


# --- content-defined chunking -------------------------------------------------

def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source CDC chunk stats: chunks, distinct chunk contents,
    and the duplicate-chunk ratio.

    Shape: token explode with positions (one shuffle on doc), per-doc
    partitioned prefix-sum of boundary flags assigns chunk ids (NO
    global window), chunk re-hash via position-sorted array join, one
    source rollup.  Cost is linear in token count; the 4-gram hash is
    computed once per position."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
        ).alias("pos", "tok"),
    )
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        F.concat_ws(
            " ",
            *[F.lag("tok", _CDC_W - 1 - j).over(wlag) for j in range(_CDC_W)],
        ).alias("gram"),
        F.count(F.lit(1)).over(
            Window.partitionBy("doc_id")
        ).alias("dl"),
    )
    # boundary AFTER position pos when the 4-gram ending here hashes
    # to 0 mod 16 (positions < W-1 have a short gram: no boundary)
    h = D.md5_hash60(F.col("gram"))
    flagged = grams.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        F.when(
            (F.col("pos") >= _CDC_W - 1) & (F.col("pos") < F.col("dl") - 1),
            (F.pmod(h, F.lit(_CDC_MOD)) == 0).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("bdry"),
    )
    wcum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("bdry").over(wcum), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chash"),
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("chash").cast("bigint").alias("n_unique"),
            F.sum("n_toks").cast("bigint").alias("n_toks"),
        )
        .withColumn(
            "dup_ratio",
            F.lit(1.0)
            - F.col("n_unique").cast("double") / F.col("n_chunks").cast("double"),
        )
        .orderBy("source")
    )


DOC_CDC_SQL = rf"""
WITH toks AS MATERIALIZED (
  -- generate_series with a lateral bound must sit in a SELECT list
  -- in DuckDB 1.0 (not in FROM)
  SELECT doc_id, source, i - 1 AS pos, tk[i] AS tok, len(tk) AS dl
  FROM (
    SELECT doc_id, source, tk,
           unnest(generate_series(1, len(tk))) AS i
    FROM (
      SELECT doc_id, source,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
      FROM documents
    )
  )
), grams AS (
  SELECT t.doc_id, t.source, t.pos, t.tok, t.dl,
         CASE WHEN t.pos >= {_CDC_W - 1} AND t.pos < t.dl - 1 THEN
           CASE WHEN ({D.MD5_HASH60_DUCK.format(x="g.gram")}) % {_CDC_MOD} = 0
                THEN 1 ELSE 0 END
         ELSE 0 END AS bdry
  FROM toks t LEFT JOIN (
    SELECT a.doc_id, a.pos,
           string_agg(b.tok, ' ' ORDER BY b.pos) AS gram
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id
     AND b.pos BETWEEN a.pos - {_CDC_W - 1} AND a.pos
    WHERE a.pos >= {_CDC_W - 1}
    GROUP BY a.doc_id, a.pos
  ) g ON g.doc_id = t.doc_id AND g.pos = t.pos
), chunked AS (
  SELECT doc_id, source, pos, tok,
         COALESCE(SUM(bdry) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS chunk_id
  FROM grams
), chunks AS (
  SELECT doc_id, source, chunk_id,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chash,
         CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM chunked GROUP BY 1, 2, 3
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_unique,
       CAST(SUM(n_toks) AS BIGINT) AS n_toks,
       1.0 - CAST(COUNT(DISTINCT chash) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
FROM chunks GROUP BY source ORDER BY source
"""


# --- sub-document (chunk) dedup ---------------------------------------------

def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-style dedup at sub-document granularity: split each
    doc into consecutive 4-token chunks, keep only each chunk's global
    first occurrence (ordered by doc_id, then position), and reassemble
    the surviving text.  One shuffle on the chunk key; the reassembly
    is a per-doc sort inside an aggregate, never a driver loop."""
    d = load_table(spark, sf_dir, "documents")
    tokd = d.select(
        "doc_id", X.tokens(X.normalize_text(F.col("text"))).alias("tk")
    )
    n_chunks = F.ceil(F.size("tk") / F.lit(4)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i * 4 + 1, 4)),
    )
    chunks = tokd.select(
        "doc_id", F.posexplode(chunk_arr).alias("idx", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    flagged = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("idx", "chunk"))
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
            ),
            " ",
        ).alias("__joined"),
    )
    return agg.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(F.col("n_kept") > 0, F.col("__joined")).alias("kept_text"),
    ).orderBy("doc_id")


DOC_CHUNK_DEDUP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), ch AS (
  SELECT doc_id, i AS idx,
         array_to_string(tk[i*4+1 : i*4+4], ' ') AS chunk
  FROM (SELECT doc_id, tk,
               unnest(generate_series(0, CAST(ceil(len(tk)/4.0) AS BIGINT) - 1)) AS i
        FROM toks)
), flagged AS (
  SELECT doc_id, idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
  FROM ch
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       COUNT(*) FILTER (rn = 1) AS n_kept,
       string_agg(chunk, ' ' ORDER BY idx) FILTER (rn = 1) AS kept_text
FROM flagged
GROUP BY doc_id
ORDER BY doc_id
"""


# --- corpus: rare-window exact common-substring pairs ---------------------------


def doc_common_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style cross-document duplication: documents sharing
    at least one EXACT 64-character window (sampled every 16 chars),
    ranked by how many windows they share — catches verbatim copying
    that token-level Jaccard dilutes.

    Scale shape: (doc, window-hash) pairs group on the hash; hashes
    seen in more than 20 documents are dropped before the self-join
    (boilerplate ubiquitous strings would otherwise densify the
    candidate set quadratically — the same df-cap argument as
    doc_jaccard_rare_prefix), so candidate pairs are bounded by
    20 x rare-hash count.  Top-50 by shared-window count with a full
    deterministic tie-break."""
    # parallelism floor: the window substring+md5 explode is CPU-dense
    # per input byte and runs BEFORE any shuffle (see shingle_table)
    d = cpu_floor(
        load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 64),
        "doc_id",
        cap=16,
    )
    w = (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1), F.col("n_chars") - 63, F.lit(16)
                )
            ).alias("p"),
        )
        .select("doc_id", F.md5(F.expr("substring(text, p, 64)")).alias("h"))
        .distinct()
    )
    rare = w.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 20
    )
    wr = w.join(rare.select("h"), "h")
    a = wr.select(F.col("doc_id").alias("doc_a"), "h")
    b = wr.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(50)
    )


DOC_COMMON_SUBSTRING_SQL = """
WITH w AS (
  SELECT DISTINCT doc_id, md5(substr(text, g.p, 64)) AS h
  FROM documents CROSS JOIN generate_series(1, 4096, 16) g(p)
  WHERE n_chars >= 64 AND g.p <= n_chars - 63
), rare AS (
  SELECT h FROM w GROUP BY h HAVING COUNT(*) <= 20
), wr AS (SELECT w.doc_id, w.h FROM w JOIN rare USING (h))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM wr a JOIN wr b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT 50
"""


# --- asymmetric containment ---------------------------------------------------

CONTAIN_DF_CAP = 50  # same ubiquity cap as the exact-Jaccard family

CONTAIN_T_NUM, CONTAIN_T_DEN = 3, 5  # containment >= 0.6, kept rational


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment C(A in B) = |A∩B| / |A| >= 0.6 over rare
    (df <= 50) 3-gram shingles: catches sub-document duplication —
    quotes, excerpts, templated wrappers around a copied core — which
    symmetric Jaccard under-scores when |B| >> |A|.

    Scale shape: identical to the rare-prefix exact-Jaccard join —
    the df cap bounds within-bucket pairs at C(cap,2) per shingle, so
    cost is linear in vocabulary; the threshold test is exact integer
    (n_common * 5 >= n_self * 3), the reported containment one double
    division."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    d = load_table(spark, sf_dir, "documents")
    sh_all = shingle_table(d, "doc_id", "text", k=3)
    # r12 (guide §2.4, the basket-array pattern): ONE groupBy on the
    # shingle collects its doc list (shingle_table emits distinct
    # (doc, shingle) rows, so the list is duplicate-free); the df cap
    # is just an array-size filter on that rollup, and the directed
    # pair fan-out is a map-side double explode bounded at cap^2 per
    # shingle.  The first cut of this round used a COUNT window +
    # self-join here, which re-shuffled and re-sorted the full shingle
    # table three times and measured SLOWER than the round-11 shape
    # (2.9 -> 3.6 s); the array build replaces the window sort, both
    # self-join exchanges, and the separate df rollup with one
    # shuffle.  Both consumers (pairs + sizes) read the rollup; a
    # checkpoint here read slower in the sf0.1 bench A/B (3.35 s with
    # it, 3.22 s without).
    # Memory bound (r12 ADVICE): a hub shingle's full doc list is
    # collected into ONE aggregation buffer before the df cap drops it
    # — fine where df is bounded by corpus construction (as here), but
    # on a corpus where one boilerplate shingle can appear in millions
    # of docs, run an exact/approximate df pre-pass (count rollup or
    # CMS over (shingle) keys only) and semi-join BEFORE the collect so
    # the giant buffer never builds.  Output identical either way; only
    # the buffer bound changes.
    docs_per = (
        sh_all.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") <= CONTAIN_DF_CAP)
        .select("ds")
    )
    sizes = (
        docs_per.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    common = (
        docs_per.select(F.explode("ds").alias("doc_id"), "ds")
        .select("doc_id", F.explode("ds").alias("other_id"))
        .filter(F.col("doc_id") != F.col("other_id"))
        .groupBy("doc_id", "other_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes, "doc_id")
        .filter(
            F.col("n_common") * CONTAIN_T_DEN >= F.col("n") * CONTAIN_T_NUM
        )
        .select(
            "doc_id",
            "other_id",
            "n_common",
            F.col("n").alias("n_self"),
            (
                F.col("n_common").cast("double") / F.col("n").cast("double")
            ).alias("containment"),
        )
        .orderBy("doc_id", "other_id")
    )


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


def _containment_oracle() -> str:
    return f"""
WITH {_SHINGLE_CTE}, rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {CONTAIN_DF_CAP}
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS other_id, COUNT(*) AS n_common
  FROM shr a JOIN shr b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id, other_id, n_common, n AS n_self,
       CAST(n_common AS DOUBLE) / CAST(n AS DOUBLE) AS containment
FROM common JOIN sizes USING (doc_id)
WHERE n_common * {CONTAIN_T_DEN} >= n * {CONTAIN_T_NUM}
ORDER BY doc_id, other_id
"""


# --- cross-source duplicate containment -------------------------------------

def doc_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix at 3-gram granularity: for each
    ordered source pair (a, b), how many of a's distinct shingles
    also appear in b, and the containment |A∩B| / |A|.  The
    cross-source leakage check run before mixing corpora (content of
    b already inside a means double-counting after the mix) —
    shingle-level because whole-document duplicates rarely cross
    source boundaries while phrase reuse does.  r12 (guide §2.4): one
    groupBy on the shingle collects its (bounded, <= |sources|) source
    set; the ordered pairs come from a map-side double explode — the
    former shingle self-join's two exchanges disappear, and the
    deduped (source, shingle) base is materialized once instead of
    re-tokenizing for each of its three consumers.
    """
    from planning_center_data_pipeline_spark.operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    fp = (
        D.shingle_table(d, "source", "text", k=3)
        .select("source", F.col("shingle").alias("fp"))
        .distinct()  # shingle_table dedups per ROW (doc); collapse
        # repeats across a source's documents too
        # kept: three consumers; without it the sf0.1 bench A/B read
        # 1.79 s vs 1.68 s
        .localCheckpoint(eager=False)
    )
    sizes = fp.groupBy("source").agg(F.count("*").alias("n_fp"))
    srcs = fp.groupBy("fp").agg(F.collect_set("source").alias("ss"))
    inter = (
        srcs.select(F.explode("ss").alias("src_a"), F.col("ss"))
        .select("src_a", F.explode("ss").alias("src_b"))
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.col("n_fp").alias("n_a"),
            (
                F.col("n_shared").cast("double")
                / F.col("n_fp").cast("double")
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


DOC_CROSS_SOURCE_DUP_SQL = r"""
WITH toks AS (
  SELECT source,
         regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS tk
  FROM documents
), fp AS (
  SELECT DISTINCT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS fp
  FROM (SELECT source, tk,
               unnest(generate_series(1, GREATEST(len(tk)-2, 0))) AS i
        FROM toks WHERE len(tk) >= 3)
  UNION
  SELECT DISTINCT source, array_to_string(tk, ' ') AS fp
  FROM toks WHERE len(tk) < 3
), sizes AS (
  SELECT source, COUNT(*) AS n_fp FROM fp GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared, s.n_fp AS n_a,
       CAST(n_shared AS DOUBLE)/CAST(s.n_fp AS DOUBLE) AS containment
FROM inter JOIN sizes s ON s.source = src_a
ORDER BY src_a, src_b
"""


# --- eval-set decontamination ----------------------------------------------

def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing 3-gram
    shingles with a held-out eval slice (doc_id % 20 == 0 stands in for
    the benchmark set).  Single pass over the shingle table: a window
    over each shingle's rows marks whether ANY eval doc carries it,
    then one groupBy(doc_id) folds hit and total counts — two shuffles
    total, the corpus is tokenized exactly once (the broadcast-eval-set
    formulation scanned and shingled it twice).  At 100 TB both
    shuffles key on high-cardinality columns (shingle, doc_id), so the
    plan has no small-side or driver bottleneck."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(d, "doc_id", "text", k=3).withColumn(
        "is_eval", (F.col("doc_id") % 20 == 0).cast("int")
    )
    w = Window.partitionBy("shingle")
    flagged = sh.withColumn("in_eval", F.max("is_eval").over(w))
    return (
        flagged.filter(F.col("is_eval") == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum("in_eval").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_sh",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_sh").cast("double")).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


DOC_DECONTAMINATE_SQL = f"""
WITH {_SHINGLE_CTE},
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr GROUP BY doc_id),
hits AS (
  SELECT t.doc_id, COUNT(*) AS hits
  FROM tr t JOIN ev USING (shingle) GROUP BY t.doc_id
)
SELECT s.doc_id, s.n_sh, COALESCE(h.hits, 0) AS n_hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE)/CAST(s.n_sh AS DOUBLE)
         AS contamination
FROM sizes s LEFT JOIN hits h USING (doc_id)
ORDER BY doc_id
"""


# --- dedup savings report --------------------------------------------------------


def doc_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup saves, per source: duplicate documents
    (everything but the min-doc_id survivor of each content
    fingerprint) and the characters they occupy — the report that
    justifies running the dedup pass at all.

    Plan shape: one shuffle on the fingerprint for the survivor
    window, one to the per-source rollup.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.lower(F.col("text"))), 256)
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = (
        d.select("doc_id", "source", F.length("text").alias("n_chars"), fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_dup", (F.col("rn") > 1).cast("long"))
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dups"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.col("is_dup") * F.col("n_chars")).cast("long").alias(
                "dup_chars"
            ),
        )
        .withColumn(
            "savings_pct",
            F.round(
                F.lit(100.0) * F.col("dup_chars") / F.col("total_chars"), 6
            ),
        )
        .orderBy("source")
    )


DOC_DEDUP_SAVINGS_SQL = """
WITH flagged AS (
  SELECT source, length(text) AS n_chars,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY sha256(trim(lower(text))) ORDER BY doc_id)
              > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(is_dup * n_chars) AS BIGINT) AS dup_chars,
       ROUND(100.0 * SUM(is_dup * n_chars) / SUM(n_chars), 6)
         AS savings_pct
FROM flagged GROUP BY source ORDER BY source
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


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup edge graph (iterative min-label propagation with pointer
    jumping — see operators/dedup.connected_components for the 100 TB
    design), every doc labeled with its cluster representative (the
    minimum doc_id reachable) and the cluster size.  The oracle
    replays the same closure with a recursive CTE."""
    d = load_table(spark, sf_dir, "documents")
    edges = D.simhash_near_dups_portable(d, "doc_id", "text", max_hamming=5)
    comp = D.connected_components(
        edges.select("id_1", "id_2"), d.select(F.col("doc_id").alias("node"))
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"), "component", "cluster_size"
        )
        .orderBy("doc_id")
    )


# --- engine-portable sketches: full-pipeline DuckDB oracles -----------------
# The xxhash64 sketches above are the fast production path; these md5
# variants make every stage (hash family, signatures, band keys,
# verified pairs) reproducible in SQL, so the driver's hash-match gate
# covers the sketch pipeline itself, not just a rows-only count.

def _simhash_portable_sql(n_bits: int = 60) -> str:
    h = D.MD5_HASH60_DUCK.format(x="tok")
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


# The portable-simhash SELECT (md5 family, 60-bit) embedded as a CTE by
# the oracles below — one source of truth with doc_simhash_portable.
_SH_CTE = f"sh AS ({_simhash_portable_sql(60)})"

_CHUNKS_CTE = """
ch AS (
  SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS chunk
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs
)"""

_EDGES_CTE = """
cand AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM ch a JOIN ch b
    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
), edges AS (
  SELECT id_1, id_2, hamming FROM cand WHERE hamming <= 5
)"""

DOC_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SH_CTE}, {_CHUNKS_CTE}, {_EDGES_CTE},
e AS (
  SELECT id_1 AS a, id_2 AS b FROM edges
  UNION ALL
  SELECT id_2, id_1 FROM edges
),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM sh
  UNION
  SELECT r.n, e.b FROM reach r JOIN e ON e.a = r.m
),
comp AS (
  SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
)
SELECT c.doc_id, c.component, z.cluster_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component) z
  USING (component)
ORDER BY doc_id
"""


# --- per-source duplicate rate ----------------------------------------------

def doc_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("source", X.fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


DOC_DUP_RATE_SQL = r"""
WITH fp AS (
  SELECT source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM fp GROUP BY source ORDER BY source
"""


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


# --- incremental dedup merge ----------------------------------------------------

_INC_BATCH_MOD = 10

_INC_BATCH_REM = 7


def doc_incremental_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup accounting: documents with
    doc_id % 10 == 7 arrive as the NEW batch; the rest are the
    existing corpus.  Each new document is classified by its exact
    content fingerprint (sha2 over normalized text):

      dup_of_existing  — fingerprint already in the corpus
      dup_within_batch — novel vs the corpus, but a smaller-doc_id
                         batch member has the same fingerprint
      new_unique       — first of its content anywhere

    Per-source counts plus a kept-ratio.  This is the steady-state
    shape of a production dedup pipeline (the full-corpus variants:
    doc_exact_dedup / doc_dedup_survivors).

    Plan shape: fingerprints need one shuffle each side; the corpus
    side collapses to DISTINCT fingerprints before the join (semi-join
    sized by unique content, not by corpus rows); within-batch
    ordering is a window keyed on the fingerprint.  All joins are on
    hash keys — no skew beyond genuine content popularity.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.lower(F.col("text"))), 256).alias("fp")
    batch = d.filter(
        F.col("doc_id") % _INC_BATCH_MOD == _INC_BATCH_REM
    ).select("doc_id", "source", fp)
    corpus_fps = (
        d.filter(F.col("doc_id") % _INC_BATCH_MOD != _INC_BATCH_REM)
        .select(fp)
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    classed = (
        batch.join(corpus_fps, "fp", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "source",
            F.when(F.col("in_corpus").isNotNull(), "dup_of_existing")
            .when(F.col("rn") > 1, "dup_within_batch")
            .otherwise("new_unique")
            .alias("verdict"),
        )
    )
    return (
        classed.groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "verdict")
    )


DOC_INCREMENTAL_DEDUP_MERGE_SQL = f"""
WITH batch AS (
  SELECT doc_id, source, sha256(trim(lower(text))) AS fp
  FROM documents WHERE doc_id % {_INC_BATCH_MOD} = {_INC_BATCH_REM}
), corpus_fps AS (
  SELECT DISTINCT sha256(trim(lower(text))) AS fp
  FROM documents WHERE doc_id % {_INC_BATCH_MOD} <> {_INC_BATCH_REM}
), classed AS (
  SELECT b.source,
         CASE WHEN c.fp IS NOT NULL THEN 'dup_of_existing'
              WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id)
                   > 1 THEN 'dup_within_batch'
              ELSE 'new_unique' END AS verdict
  FROM batch b LEFT JOIN corpus_fps c ON c.fp = b.fp
)
SELECT source, verdict, COUNT(*) AS n_docs
FROM classed GROUP BY 1, 2 ORDER BY source, verdict
"""


# --- prefix-filtered exact Jaccard join (PPJoin-lite) ------------------------

def _jaccard_prefix_core(sh_with_df: DataFrame, t: float) -> DataFrame:
    """Shared PPJoin-style machinery over a (doc_id, shingle, df)
    table: per-doc build (rarity-ordered prefix + lex-sorted payload
    array), prefix self-join with length + positional filters,
    candidate dedup, payload attach, in-row verify.  Returns
    (id_1, id_2, n_common, n_1, n_2, jaccard), then any further columns
    of `sh_with_df`, which must be constant per doc and ride along from
    the id_1 side.  Exact integer filter forms assume t = 0.7.

    r12 restructure (guide §8 "decide with small rows, move big rows
    once", §2.3): the prefix self-join previously CARRIED each doc's
    full lex-sorted shingle array on every prefix-token row — the
    payload crossed the candidate exchange once per prefix token per
    side, and the array_intersect verify ran once per SHARED token
    before pair dedup.  Now the self-join moves only
    (doc_id, n, pos, shingle), candidates are dedup'd FIRST, and the
    two |docs|-sized payload attaches + one verify run per unique
    pair.  Same pair set, same values (verify inputs are identical
    arrays); measured 27.9 -> 5.0 s cold / 4.7 -> 4.0 s warm at
    sf0.1 on the rare-prefix variant.

    r13 (guide §2.4 "remove shuffles outright", §3.1): the r12 shape
    still ran the prefix SELF-JOIN as a sort-merge join (both prefix
    streams shuffled + sorted) and the planner lost the two payload
    attaches to SMJ as well (localCheckpoint erases size estimates, so
    the |docs|-row side was never considered broadcastable) — the r12
    round's one real regression on the prefix_filter twin (2.99 ->
    4.19 s clean).  Candidate generation is now the basket-array
    pattern proven on basket_part_pairs in this suite: ONE groupBy collects
    each prefix shingle's (doc_id, n, pos) occurrence list — bounded
    by construction, df <= JACCARD_DF_SWITCH on the full path and
    <= JACCARD_DF_CAP on the capped/rare path, so a list never exceeds
    100 entries — and pairs come from a map-side double explode with
    the SAME length + positional predicates applied in-row.  The two
    payload attaches carry an explicit broadcast hint: the build side
    is the |docs|-row array table.  A forced broadcast does not degrade
    when that table outgrows the driver: it fails the query.  So the
    hint goes through operators.joins.gated_broadcast (on by default,
    the plan below); switch the gate off at a corpus size where the
    docs table no longer fits, and the attaches fall back to the
    planner's own choice (sort-merge, as localCheckpoint hides the
    size).  Plan: 8 shuffle Exchanges -> 4 (prefix group, candidate
    distinct, final sort x2), payload attaches BroadcastHashJoin."""
    extra = [c for c in sh_with_df.columns if c not in ("doc_id", "shingle", "df")]
    # kept: three consumers; without it doc_jaccard_prefix_filter read
    # 5.04 s vs 4.53 s at sf0.1 (build 0.38 s vs 0.94 s, median of 3)
    docs = sh_with_df.groupBy("doc_id", *extra).agg(
        F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
            "by_rarity"
        ),
        F.sort_array(F.collect_list("shingle")).alias("shs"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=False)
    pref = docs.select(
        "doc_id",
        "n",
        F.posexplode(
            F.slice(
                F.transform(F.col("by_rarity"), lambda s: s["shingle"]),
                1,
                (F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).cast("int"),
            )
        ).alias("pos", "shingle"),
    )
    # isNotNull mirrors the old equi-join's null-key semantics (a null
    # shingle never matched); groupBy would otherwise form a null group
    occ = pref.filter(F.col("shingle").isNotNull()).groupBy("shingle").agg(
        F.collect_list(F.struct("doc_id", "n", "pos")).alias("ds")
    )
    a, b = F.col("a"), F.col("b")
    cand = (
        occ.select(
            F.explode("ds").alias("a"), F.col("ds").alias("ds_b")
        )
        .select("a", F.explode("ds_b").alias("b"))
        .filter(
            (a["doc_id"] < b["doc_id"])
            & (F.least(a["n"], b["n"]) * 10 >= F.greatest(a["n"], b["n"]) * 7)
            & (
                F.least(a["n"] - a["pos"], b["n"] - b["pos"]) * 17
                >= (a["n"] + b["n"]) * 7
            )
        )
        .select(a["doc_id"].alias("id_1"), b["doc_id"].alias("id_2"))
        .distinct()
    )
    d1 = docs.select(
        F.col("doc_id").alias("id_1"),
        F.col("shs").alias("shs_1"),
        F.col("n").alias("n_1"),
        *extra,
    )
    d2 = docs.select(
        F.col("doc_id").alias("id_2"),
        F.col("shs").alias("shs_2"),
        F.col("n").alias("n_2"),
    )
    return (
        cand.join(gated_broadcast(d1), "id_1")
        .join(gated_broadcast(d2), "id_2")
        .select(
            "id_1",
            "id_2",
            F.size(F.array_intersect("shs_1", "shs_2"))
            .cast("long")
            .alias("n_common"),
            "n_1",
            "n_2",
            *extra,
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_1") + F.col("n_2") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= t)
        .select("id_1", "id_2", "n_common", "n_1", "n_2", "jaccard", *extra)
    )


# Auto-switch rule for doc_jaccard_prefix_filter: the full exact join's
# cost is Sum C(df,2), which a handful of ubiquitous template shingles
# dominate.  When the corpus carries any shingle with df above this
# threshold, the exact-over-all-shingles envelope is already
# super-linear — route to the df-capped definition instead.  Both the
# Spark plan and the DuckDB oracle apply the SAME data-driven rule, so
# the hash check covers the switch itself.  Measured: max df 25 at
# sf0.1 (full path) vs 250 at sf1 (capped path).
JACCARD_DF_SWITCH = 100

JACCARD_DF_CAP = 50


def doc_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard >= 0.7 via PREFIX FILTERING (the PPJoin
    family): each document's shingles are ordered by (global document
    frequency, shingle) and only the first |d| - ceil(t*|d|) + 1 — the
    RAREST — participate in candidate generation; any pair with
    Jaccard >= t provably shares a prefix token, so recall is exactly 1
    while the candidate join touches a small, rare-token slice of the
    inverted index instead of every co-occurring pair (the hot, common
    shingles that explode the naive self-join never generate
    candidates).

    This is the EXACT scale path next to the probabilistic MinHash-LSH
    twin: same output as the naive inverted-index join, guaranteed —
    and the oracle PROVES it, computing the naive all-pairs definition
    with no prefix mechanics at all.

    Scale shape (true to the PPJoin paper's index layout): each
    prefix-index row CARRIES its document's lex-sorted shingle array
    and size, so the candidate equi-join on the rare prefix token
    already holds both verify payloads — the whole query is one linear
    chain (df agg -> per-doc build -> prefix self-join -> in-row
    array-intersect verify -> pair dedup) with no join back to a doc
    table and no multi-consumer subtree to re-materialize.  The
    carried-array shuffle is |prefix rows| x |doc| bytes — the prefix
    (~30% of tokens at t=0.7) is the lever.  Returns
    (id_1, id_2, n_common, n_1, n_2, jaccard).

    Cost honesty + AUTO-SWITCH (round-6 verdict item 5): an index-based
    exact join must examine every within-bucket pair, so its cost is
    Sum_over_prefix_tokens C(df, 2) — on a template-heavy corpus that
    grows ~quadratically (measured exponent 1.4-1.6 sf0.1 -> sf1,
    ~2 s -> 53-83 s, even with the length+positional filters).  The
    envelope is intrinsic to recall=1 over ALL shingles, so the plan
    now bounds it: a one-row broadcast flag `capped` says whether any
    shingle's df exceeds JACCARD_DF_SWITCH; then the corpus has
    densified and the df table keeps only df <= JACCARD_DF_CAP
    (ubiquitous template shingles carry no near-dup signal — dropping
    them is the standard stopword-shingle treatment), whose cost is
    linear in vocabulary.  The switch is a plan expression, so no
    driver action reads max(df) while the query is built.
    The DuckDB oracle implements the SAME data-driven rule, so the
    hash check proves the switch; which path ran is visible in the
    constant `path` output column.  Candidate reduction and recall
    are asserted in tests/test_wave6.py; the scale-safe probabilistic
    twin remains doc_minhash_lsh (exponent ~0.6)."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    t = 0.7
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_table(d, "doc_id", "text", k=3)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    capped = F.broadcast(
        dfreq.agg(
            F.coalesce(F.max("df") > JACCARD_DF_SWITCH, F.lit(False)).alias("capped")
        )
    )
    # the flag filters the joined rows, not dfreq: a filtered dfreq
    # estimates larger than sh, and the planner then broadcasts sh
    sh_with_df = (
        sh.join(dfreq, "shingle")
        .crossJoin(capped)
        .filter(~F.col("capped") | (F.col("df") <= JACCARD_DF_CAP))
    )
    # exact integer forms of the PPJoin bounds at t = 0.7 = 7/10 (see
    # _jaccard_prefix_core):
    #   length filter:     jac>=t  =>  min(n)*10 >= max(n)*7
    #   positional filter: all common tokens rank >= this shared token
    #     in BOTH docs (df,shingle global order), so
    #     overlap <= min(n_a-pos_a, n_b-pos_b); and jac>=t requires
    #     overlap*(1+t) >= t*(n_a+n_b)  =>  min_suffix*17 >= 7*(n_a+n_b).
    #     A true pair always survives via its EARLIEST shared token,
    #     where the bound is exact — recall stays 1 (pytest-proven).
    path = F.when(F.col("capped"), F.lit("exact_rare_capped")).otherwise(
        F.lit("exact_full")
    )
    return (
        _jaccard_prefix_core(sh_with_df, t)
        .select("id_1", "id_2", "n_common", "n_1", "n_2", "jaccard", path.alias("path"))
        .orderBy("id_1", "id_2")
    )


def _jaccard_naive_oracle() -> str:
    # The UNOPTIMIZED definition with the SAME data-driven auto-switch
    # as the Spark plan: if any shingle's df exceeds JACCARD_DF_SWITCH
    # the capped (df <= JACCARD_DF_CAP) branch produces rows, else the
    # full branch does — each branch is the naive all-pairs join over
    # its shingle set, no prefix mechanics, so equality with the Spark
    # result proves BOTH the recall=1 claim and the switch decision.
    def branch(src: str, path: str, guard: str) -> str:
        return f"""
  SELECT id_1, id_2, n_common, s1.n AS n_1, s2.n AS n_2,
         CAST(n_common AS DOUBLE)
           / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard,
         '{path}' AS path
  FROM (
    SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
    FROM {src} a JOIN {src} b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) pairs
  JOIN (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id) s1
    ON s1.doc_id = id_1
  JOIN (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id) s2
    ON s2.doc_id = id_2
  WHERE CAST(n_common AS DOUBLE)
          / CAST(s1.n + s2.n - n_common AS DOUBLE) >= 0.7
    AND (SELECT MAX(df) FROM dfq) {guard} {JACCARD_DF_SWITCH}"""

    return f"""
WITH {_SHINGLE_CTE}, dfq AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
), shr AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN dfq USING (shingle) WHERE dfq.df <= {JACCARD_DF_CAP}
)
SELECT * FROM (
{branch("sh", "exact_full", "<=")}
  UNION ALL
{branch("shr", "exact_rare_capped", ">")}
) ORDER BY id_1, id_2
"""


def doc_jaccard_rare_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE exact sibling of doc_jaccard_prefix_filter:
    Jaccard >= 0.7 over RARE shingles only (document frequency <= 50
    — ubiquitous template/boilerplate shingles carry no near-dup
    signal and are what densifies the exact join; dropping them is the
    standard stopword-shingle treatment in production dedup).  The cap
    bounds within-bucket pairs at C(100,2) per shingle, so total cost
    grows with the VOCABULARY (~linear in corpus) instead of
    Sum C(df,2) (~quadratic on template corpora) — the super-linear
    envelope of the full-feature twin turns linear by definition, and
    the oracle mirrors the same capped definition exactly.

    Same candidate machinery (prefix + length + positional filters,
    carried-payload index) on the filtered shingle table."""
    from planning_center_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    t = 0.7
    cap = JACCARD_DF_CAP  # ubiquity threshold: templates exceed it at
    # every sf, doc-specific shingles never do — measured candidates
    # 35k (sf0.1) -> 84k (sf1), sub-linear, vs 2.1M at cap=100
    d = load_table(spark, sf_dir, "documents")
    sh_all = shingle_table(d, "doc_id", "text", k=3)
    dfreq = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= cap)
    )
    # inner join applies the cap
    return _jaccard_prefix_core(sh_all.join(dfreq, "shingle"), t).orderBy(
        "id_1", "id_2"
    )


def _jaccard_rare_oracle() -> str:
    # naive all-pairs over the SAME capped shingle set — again no
    # prefix mechanics, so candidate recall is proven by equality
    return f"""
WITH {_SHINGLE_CTE}, rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50
), shr AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS n_common
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2, n_common, s1.n AS n_1, s2.n AS n_2,
       CAST(n_common AS DOUBLE)
         / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes s1 ON s1.doc_id = id_1
JOIN sizes s2 ON s2.doc_id = id_2
WHERE CAST(n_common AS DOUBLE) / CAST(s1.n + s2.n - n_common AS DOUBLE) >= 0.7
ORDER BY id_1, id_2
"""


# --- LSH recall vs exact Jaccard on a fixed panel ---------------------------------------

_PANEL_MOD = 7

_PANEL_CAP = 3500  # bounded panel at any SF (eval-harness contract)


def doc_lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured recall of the portable MinHash-LSH near-dup
    pipeline (16 hashes, 4 bands of 4, threshold 0.5 — the
    doc_minhash_lsh_portable configuration) against exact shingle
    Jaccard, on the fixed probe panel doc_id % 7 == 0 AND
    doc_id < 3500 (bounded <= 500 docs at any SF).  Ground truth =
    all pairs with exact Jaccard >= 0.5 touching the panel, computed
    by broadcasting the panel's shingles against the corpus shingle
    table; every truth pair survives the LSH pipeline's exact-verify
    step, so recall isolates the BANDING stage — the approximate part.
    Scale shape: one corpus shingle scan joined to a broadcast panel
    (bounded), plus the LSH pipeline itself (banded bucket join, the
    100 TB path)."""
    d = load_table(spark, sf_dir, "documents")
    # one shingle scan shared by the truth side and the LSH pipeline;
    # lazily checkpointed so the four consumers read a materialized
    # table instead of re-running tokenize/shingle/explode each (kept:
    # without it the sf0.1 bench A/B read 6.46 s vs 4.26 s)
    sh = D.shingle_table(d, "doc_id", "text", k=3).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    is_panel = (F.col("doc_id") % _PANEL_MOD == 0) & (
        F.col("doc_id") < _PANEL_CAP
    )
    panel_sh = sh.where(is_panel).select(
        F.col("doc_id").alias("pid"), "shingle"
    )
    common = (
        sh.join(F.broadcast(panel_sh), "shingle")
        .where(F.col("doc_id") != F.col("pid"))
        .groupBy("pid", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    z1 = sizes.select(F.col("doc_id").alias("pid"), F.col("n_sh").alias("n1"))
    z2 = sizes.select(F.col("doc_id"), F.col("n_sh").alias("n2"))
    truth = (
        common.join(F.broadcast(z1), "pid")
        .join(z2, "doc_id")
        .where(
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double")
            >= 0.5
        )
        .select(
            F.least("pid", "doc_id").alias("id_1"),
            F.greatest("pid", "doc_id").alias("id_2"),
        )
        .distinct()
    )
    panel_pair = (
        (F.col("id_1") % _PANEL_MOD == 0) & (F.col("id_1") < _PANEL_CAP)
    ) | ((F.col("id_2") % _PANEL_MOD == 0) & (F.col("id_2") < _PANEL_CAP))
    lsh = D.minhash_near_dups_portable(
        d,
        "doc_id",
        "text",
        k=3,
        n_hashes=16,
        bands=4,
        threshold=0.5,
        shingle_df=sh,
        # only panel-touching candidates can intersect truth, so the
        # exact rescore is restricted to them (mirrored in the oracle)
        pair_predicate=panel_pair,
    ).select("id_1", "id_2")
    caught = truth.join(lsh, ["id_1", "id_2"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_caught")
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_panel = (
        d.where(is_panel)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_panel_docs"))
    )
    return (
        n_panel.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(caught))
        .select(
            "n_panel_docs",
            "n_truth",
            "n_caught",
            F.round(
                F.col("n_caught").cast("double")
                / F.col("n_truth").cast("double"),
                6,
            ).alias("recall"),
        )
    )


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

_LSH_RECALL_SQL = f"""
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
  WHERE (a.doc_id % {_PANEL_MOD} = 0 AND a.doc_id < {_PANEL_CAP})
     OR (b.doc_id % {_PANEL_MOD} = 0 AND b.doc_id < {_PANEL_CAP})
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), lsh AS (
  SELECT id_1, id_2, COUNT(*) AS n_common
  FROM cands
  JOIN sh s1 ON s1.doc_id = id_1
  JOIN sh s2 ON s2.doc_id = id_2 AND s1.shingle = s2.shingle
  GROUP BY id_1, id_2
), lsh_pairs AS (
  SELECT id_1, id_2
  FROM lsh
  JOIN sizes za ON za.doc_id = id_1
  JOIN sizes zb ON zb.doc_id = id_2
  WHERE CAST(n_common AS DOUBLE)
        / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.5
), panel_sh AS (
  SELECT doc_id AS pid, shingle FROM sh
  WHERE doc_id % {_PANEL_MOD} = 0 AND doc_id < {_PANEL_CAP}
), common AS (
  SELECT p.pid, s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh s JOIN panel_sh p ON s.shingle = p.shingle
  WHERE s.doc_id <> p.pid
  GROUP BY p.pid, s.doc_id
), truth AS (
  SELECT DISTINCT LEAST(pid, c.doc_id) AS id_1,
                  GREATEST(pid, c.doc_id) AS id_2
  FROM common c
  JOIN sizes z1 ON z1.doc_id = c.pid
  JOIN sizes z2 ON z2.doc_id = c.doc_id
  WHERE CAST(n_common AS DOUBLE)
        / CAST(z1.n_sh + z2.n_sh - n_common AS DOUBLE) >= 0.5
), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_caught
  FROM truth t JOIN lsh_pairs l
    ON t.id_1 = l.id_1 AND t.id_2 = l.id_2
), np AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_panel_docs FROM documents
  WHERE doc_id % {_PANEL_MOD} = 0 AND doc_id < {_PANEL_CAP}
)
SELECT n_panel_docs, n_truth, n_caught,
       ROUND(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
         AS recall
FROM np CROSS JOIN nt CROSS JOIN nc
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


# --- near-dup graph: edges then connected components ------------------------

def doc_near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-SimHash near-dup pair generation (signature → 15-bit
    chunk blocking → Hamming verify ≤ 5) — the edge list the clustering
    step consumes, hash-checked stage-for-stage against SQL."""
    d = load_table(spark, sf_dir, "documents")
    return (
        D.simhash_near_dups_portable(d, "doc_id", "text", max_hamming=5)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_1", "id_2")
    )


DOC_NEAR_DUP_EDGES_SQL = f"""
WITH {_SH_CTE}, {_CHUNKS_CTE}, {_EDGES_CTE}
SELECT id_1, id_2, CAST(hamming AS BIGINT) AS hamming
FROM edges ORDER BY id_1, id_2
"""


# --- n-gram Jaccard near-dup (exact, source-blocked) ------------------------

def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # checkpointed: jaccard_pairs scans the shingle table three times
    # (sizes + both self-join sides); without this the tokenize+shingle
    # explode re-runs per scan (kept: sf0.1 bench A/Bs without it read
    # 1.65 vs 1.67 s, 2.24 vs 1.80 s and 2.29 vs 2.04 s)
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


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures(d, "doc_id", "text").orderBy("doc_id")


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


def doc_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_signatures_portable(d, "doc_id", "text", n_bits=60).orderBy(
        "doc_id"
    )


DOC_SIMHASH_PORTABLE_SQL = _simhash_portable_sql(60)


QUERIES = {
    "doc_boilerplate_prefixes": doc_boilerplate_prefixes,
    "doc_cdc_chunks": doc_cdc_chunks,
    "doc_chunk_dedup": doc_chunk_dedup,
    "doc_common_substring_pairs": doc_common_substring_pairs,
    "doc_containment_pairs": doc_containment_pairs,
    "doc_cross_source_dup": doc_cross_source_dup,
    "doc_decontaminate": doc_decontaminate,
    "doc_dedup_savings": doc_dedup_savings,
    "doc_dedup_survivors": doc_dedup_survivors,
    "doc_dup_clusters": doc_dup_clusters,
    "doc_dup_rate_by_source": doc_dup_rate_by_source,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_fingerprint": doc_fingerprint,
    "doc_incremental_dedup_merge": doc_incremental_dedup_merge,
    "doc_jaccard_prefix_filter": doc_jaccard_prefix_filter,
    "doc_jaccard_rare_prefix": doc_jaccard_rare_prefix,
    "doc_lsh_recall_vs_exact": doc_lsh_recall_vs_exact,
    "doc_minhash_lsh": doc_minhash_lsh,
    "doc_minhash_lsh_portable": doc_minhash_lsh_portable,
    "doc_minhash_portable": doc_minhash_portable,
    "doc_near_dup_edges": doc_near_dup_edges,
    "doc_ngram_jaccard": doc_ngram_jaccard,
    "doc_prefix_edit_near_dup": doc_prefix_edit_near_dup,
    "doc_simhash": doc_simhash,
    "doc_simhash_near_dups": doc_simhash_near_dups,
    "doc_simhash_portable": doc_simhash_portable,
}
ORACLES = {
    "doc_boilerplate_prefixes": DOC_BOILERPLATE_PREFIXES_SQL,
    "doc_cdc_chunks": DOC_CDC_SQL,
    "doc_chunk_dedup": DOC_CHUNK_DEDUP_SQL,
    "doc_common_substring_pairs": DOC_COMMON_SUBSTRING_SQL,
    "doc_containment_pairs": _containment_oracle(),
    "doc_cross_source_dup": DOC_CROSS_SOURCE_DUP_SQL,
    "doc_decontaminate": DOC_DECONTAMINATE_SQL,
    "doc_dedup_savings": DOC_DEDUP_SAVINGS_SQL,
    "doc_dedup_survivors": DOC_DEDUP_SURVIVORS_SQL,
    "doc_dup_clusters": DOC_DUP_CLUSTERS_SQL,
    "doc_dup_rate_by_source": DOC_DUP_RATE_SQL,
    "doc_exact_dedup": DOC_EXACT_DEDUP_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_incremental_dedup_merge": DOC_INCREMENTAL_DEDUP_MERGE_SQL,
    "doc_jaccard_prefix_filter": _jaccard_naive_oracle(),
    "doc_jaccard_rare_prefix": _jaccard_rare_oracle(),
    "doc_lsh_recall_vs_exact": _LSH_RECALL_SQL,
    "doc_minhash_lsh_portable": DOC_MINHASH_LSH_PORTABLE_SQL,
    "doc_minhash_portable": DOC_MINHASH_PORTABLE_SQL,
    "doc_near_dup_edges": DOC_NEAR_DUP_EDGES_SQL,
    "doc_ngram_jaccard": DOC_NGRAM_JACCARD_SQL,
    "doc_prefix_edit_near_dup": DOC_PREFIX_EDIT_SQL,
    "doc_simhash": _simhash_xxh64_sql(),
    "doc_simhash_near_dups": _simhash_xxh64_pairs_sql(),
    "doc_simhash_portable": DOC_SIMHASH_PORTABLE_SQL,
}
