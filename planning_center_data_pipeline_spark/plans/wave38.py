"""Round-8 wave 38: content-defined chunking, LM-style quality
scoring, one-way ANOVA, and inventory policy.

- doc_cdc_chunks: content-defined chunking (the rolling-hash dedup
  primitive behind rsync/LBFS and training-corpus chunk dedup) at
  TOKEN granularity: a chunk boundary falls after token i when the
  md5-60bit hash of the 4-gram ending at i is ≡ 0 mod 16 (expected
  chunk ~16 tokens).  Boundaries are a pure function of local
  content, so shared passages chunk identically in different
  documents — the per-source duplicate-chunk ratio IS the dedup
  signal.  Everything is md5-portable; chunk content is re-hashed in
  explicit position order on both engines.
- doc_unigram_xent: per-document unigram cross-entropy under the
  corpus LM, -(1/dl) * sum log2 p(tok) — the classic LM quality /
  surprisal filter.  Per-token log2 quantized to 1e-9 BEFORE the
  per-doc weighted sum (order-free int64), ONE double division at
  the end.
- stat_anova_oneway: one-way ANOVA F over order priorities on
  o_totalprice cents.  Group sums exact (cents in int64, squared
  sums in DECIMAL(38,0)/HUGEINT — int64 overflows at SF >= 1); the
  five s_g^2/n_g terms are quantized to 1e-6 before the 5-term sum
  (chi-square trick), so both engines reduce identical integers.
- li_eoq_policy: economic order quantity sqrt(2*D*S/H) for the
  top-20 demand parts — ONE verbatim expression string in both
  engines (IEEE sqrt is correctly rounded), quantized to 1e-6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table

_CDC_W = 4  # rolling-hash n-gram width (tokens)
_CDC_MOD = 16  # boundary when h % 16 == 0 -> ~16-token chunks
_EOQ_S = "100.0"  # fixed order cost (literal, shared verbatim)

_H60_SPARK = "CAST(CONV(SUBSTRING(MD5({x}), 1, 15), 16, 10) AS BIGINT)"
_H60_DUCK = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


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
    h = F.expr(_H60_SPARK.format(x="gram"))
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
           CASE WHEN ({_H60_DUCK.format(x="g.gram")}) % {_CDC_MOD} = 0
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


# --- one-way ANOVA --------------------------------------------------------------

def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the 5 order priorities on order price
    cents.  All group moments exact (sums int64, squared sums
    DECIMAL(38,0)); the five s_g^2/n_g terms quantize to 1e-6 before
    the cross-group sum, so the reduction is order-free; F is a fixed
    double expression over the exact aggregates."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("ss_g"),
    )
    # per-group s_g^2/n_g rounded to whole cents^2 and carried in
    # DECIMAL(38,0): the raw value is ~1e18 at sf0.01 already, so any
    # sub-unit quantization scale would overflow int64 (s_g < 2^53
    # through SF ~100, so the double cast of s_g is exact)
    term = F.expr(
        "CAST(ROUND(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)"
        " / CAST(n_g AS DOUBLE)) AS DECIMAL(38,0))"
    )
    gq = g.select(
        "o_orderpriority", "n_g", "s_g", "ss_g", term.alias("t_units")
    )
    red = gq.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("ss_g").cast("decimal(38,0)").alias("ss"),
        F.sum("t_units").cast("decimal(38,0)").alias("t_sum"),
    )
    fexpr = F.expr(
        "((CAST(t_sum AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(k AS DOUBLE) - 1.0))"
        " / ((CAST(ss AS DOUBLE) - CAST(t_sum AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))"
    )
    return red.select(
        "k",
        "n",
        F.round(fexpr, 6).alias("f_stat"),
    )


STAT_ANOVA_SQL = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(cents) AS BIGINT) AS s_g,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss_g
  FROM o GROUP BY 1
), gq AS (
  SELECT *,
         CAST(ROUND(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                    / CAST(n_g AS DOUBLE)) AS HUGEINT) AS t_units
  FROM g
), red AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS BIGINT) AS s,
         CAST(SUM(ss_g) AS HUGEINT) AS ss,
         CAST(SUM(t_units) AS HUGEINT) AS t_sum
  FROM gq
)
SELECT k, n,
       ROUND(((CAST(t_sum AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1.0))
             / ((CAST(ss AS DOUBLE) - CAST(t_sum AS DOUBLE))
                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
FROM red
"""


# --- economic order quantity ----------------------------------------------------

_EOQ_MICRO = (
    "CAST(ROUND(SQRT(2.0 * CAST(d_qty AS DOUBLE) * " + _EOQ_S
    + " / (CAST(h_micro AS DOUBLE) / 1000000.0)) * 1000000.0) AS BIGINT)"
)


def li_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOQ = sqrt(2*D*S / H) for the top-20 parts by annual (1995)
    demand; H = 20% of the part's mean unit price, kept in exact
    micro-currency by integer cross-multiplication (qty-weighted
    price total DIV 5 per unit).  The sqrt chain is ONE verbatim
    expression (IEEE sqrt is correctly rounded -> bit-equal).

    Shape: one year-filtered part rollup, top-20 via
    TakeOrderedAndProject, scalar math after."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1995)
    per = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("d_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    # H (micro-currency/unit/yr) = 0.2 * rev/qty = rev_cents * 10000
    # DIV (5 * d_qty) ... exact integer micro units, one truncation
    top = (
        per.withColumn(
            "h_micro",
            F.expr("(rev_cents * 10000) DIV (5 * d_qty)").cast("bigint"),
        )
        .orderBy(F.desc("d_qty"), "l_partkey")
        .limit(20)
    )
    return top.select(
        "l_partkey",
        "d_qty",
        "h_micro",
        F.expr(_EOQ_MICRO).alias("eoq_micro"),
    ).orderBy(F.desc("d_qty"), "l_partkey")


LI_EOQ_SQL = f"""
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d_qty,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) = 1995
  GROUP BY 1
), top AS (
  SELECT l_partkey, d_qty,
         CAST((rev_cents * 10000) // (5 * d_qty) AS BIGINT) AS h_micro
  FROM per ORDER BY d_qty DESC, l_partkey LIMIT 20
)
SELECT l_partkey, d_qty, h_micro,
       {_EOQ_MICRO} AS eoq_micro
FROM top ORDER BY d_qty DESC, l_partkey
"""


QUERIES = {
    "doc_cdc_chunks": doc_cdc_chunks,
    "doc_unigram_xent": doc_unigram_xent,
    "stat_anova_oneway": stat_anova_oneway,
    "li_eoq_policy": li_eoq_policy,
}

ORACLES = {
    "doc_cdc_chunks": DOC_CDC_SQL,
    "doc_unigram_xent": DOC_XENT_SQL,
    "stat_anova_oneway": STAT_ANOVA_SQL,
    "li_eoq_policy": LI_EOQ_SQL,
}
