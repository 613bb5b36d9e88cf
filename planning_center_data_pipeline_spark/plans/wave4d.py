"""Round-4 wave, part 4: curation dashboards and concentration
metrics — the monitoring layer over the corpus/revenue operators.

- ``doc_lang_confusion`` — language-ID quality as a confusion matrix
  (declared lang x guessed lang, counts + row share).  The classifier
  is the same stopword-vote expression doc_lang_guess hash-checks;
  this rolls it up into the eval artifact you'd actually watch.
- ``doc_dup_rate_by_source`` — per-source exact-duplicate rate from
  content fingerprints: the first metric any ingestion dashboard
  plots.  COUNT(DISTINCT md5) against COUNT(*) — partial-agg
  friendly both.
- ``cust_nation_gini`` — Gini coefficient of revenue concentration
  within each nation, from the rank formula
  G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending per-customer
  revenue.  Every moment (rank products in decimal(38,0)) is exact;
  one double division at the edge.  Windows partition by nation —
  parallel, and the rank product avoids the O(n^2) pairwise
  |x_i - x_j| definition entirely.
- ``agg_filter_clause`` — SQL-standard FILTER (WHERE ...) aggregates
  (one scan, many conditional aggregates) — the idiom that replaces
  N self-joins in reporting queries.

Later additions: ``sup_acct_benford`` (first-digit fraud screen),
``cust_order_gap_histogram`` (purchase-cadence bands),
``q_null_semantics`` (three-valued-logic showcase),
``doc_cross_source_dup`` (shingle-level cross-source containment —
the pre-mix leakage check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.sources.tables import load_table


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


def _lang_confusion_sql() -> str:
    from planning_center_data_pipeline_spark.plans.extensions import _sw_sql

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


# --- per-nation revenue Gini -------------------------------------------------

def cust_nation_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rc"))
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc("rc"), F.asc("o_custkey")
    )
    ranked = rev.select(
        "c_nationkey",
        F.col("rc").cast("decimal(38,0)").alias("rc"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rc").alias("s"),
        F.sum(F.col("i") * F.col("rc")).alias("si"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0)
        * F.col("si").cast("double")
        / (n_d * F.col("s").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    return agg.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("s").cast("double") / 100.0).alias("revenue"),
        F.round(gini, 9).alias("gini"),
    ).orderBy("c_nationkey")


CUST_NATION_GINI_SQL = """
WITH rev AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rc
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey,
         CAST(rc AS DECIMAL(19,0)) AS rc,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY rc ASC, o_custkey ASC)
              AS DECIMAL(19,0)) AS i
  FROM rev
), agg AS (
  SELECT c_nationkey, COUNT(*) AS n,
         SUM(rc) AS s, SUM(i * rc) AS si
  FROM ranked GROUP BY c_nationkey
)
SELECT c_nationkey,
       CAST(n AS BIGINT) AS n_customers,
       CAST(s AS DOUBLE)/100.0 AS revenue,
       ROUND(2.0 * CAST(si AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0)/CAST(n AS DOUBLE), 9) AS gini
FROM agg ORDER BY c_nationkey
"""


# --- FILTER-clause aggregates ------------------------------------------------

def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, many conditional aggregates via the SQL-standard
    FILTER (WHERE ...) clause — replaces the N-self-joins reporting
    anti-pattern; every branch stays inside one partial-aggregated
    hash aggregate.
    """
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                    FILTER (WHERE year(o_orderdate) >= 1997) AS DOUBLE)
                 / 100.0 AS late_rev
        FROM {orders}
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


AGG_FILTER_CLAUSE_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
            FILTER (WHERE EXTRACT(year FROM o_orderdate) >= 1997)
            AS DOUBLE) / 100.0 AS late_rev
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- Benford first-digit profile --------------------------------------------

def sup_acct_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of customer balances vs
    the Benford expectation ln(1+1/d)/ln(10) — the classic anomaly /
    fabrication screen.  Observed shares are exact integer ratios;
    the expectation is a pure function of the digit (rounded to 9),
    so both engines agree bit-for-bit.
    """
    c = load_table(spark, sf_dir, "customer")
    digit = F.substring(
        F.abs(F.round(F.col("c_acctbal") * 100).cast("bigint")).cast(
            "string"
        ),
        1,
        1,
    ).cast("int")
    obs = (
        c.filter(F.round(F.col("c_acctbal") * 100).cast("bigint") != 0)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("tot"))
    share = F.col("n").cast("double") / F.col("tot").cast("double")
    expected = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double"))
        / F.log(F.lit(10.0)),
        9,
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            share.alias("share"),
            expected.alias("benford_expected"),
            F.round(share - expected, 9).alias("delta"),
        )
        .orderBy("d")
    )


SUP_ACCT_BENFORD_SQL = """
WITH obs AS (
  SELECT CAST(substr(CAST(abs(CAST(ROUND(c_acctbal*100) AS BIGINT))
                          AS VARCHAR), 1, 1) AS INTEGER) AS d,
         COUNT(*) AS n
  FROM customer
  WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) <> 0
  GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM obs)
SELECT d, n,
       CAST(n AS DOUBLE)/CAST(tot AS DOUBLE) AS share,
       ROUND(ln(1.0 + 1.0/CAST(d AS DOUBLE))/ln(10.0), 9)
         AS benford_expected,
       ROUND(CAST(n AS DOUBLE)/CAST(tot AS DOUBLE)
             - ROUND(ln(1.0 + 1.0/CAST(d AS DOUBLE))/ln(10.0), 9), 9)
         AS delta
FROM obs CROSS JOIN tot ORDER BY d
"""


# --- inter-order gap distribution -------------------------------------------

def cust_order_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of day-gaps between a customer's consecutive
    orders, bucketed into retention-relevant bands.  One lag window
    per customer + one tiny groupBy — the purchase-cadence profile
    behind replenishment and churn models.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_days") <= 7, "01_week")
        .when(F.col("gap_days") <= 30, "02_month")
        .when(F.col("gap_days") <= 90, "03_quarter")
        .when(F.col("gap_days") <= 365, "04_year")
        .otherwise("05_longer")
    )
    return (
        gaps.groupBy(bucket.alias("gap_bucket"))
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_days").alias("min_days"),
            F.max("gap_days").alias("max_days"),
        )
        .orderBy("gap_bucket")
    )


CUST_ORDER_GAP_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT CASE WHEN gap_days <= 7 THEN '01_week'
            WHEN gap_days <= 30 THEN '02_month'
            WHEN gap_days <= 90 THEN '03_quarter'
            WHEN gap_days <= 365 THEN '04_year'
            ELSE '05_longer' END AS gap_bucket,
       COUNT(*) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


# --- three-valued-logic showcase --------------------------------------------

def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL NULL semantics in one row: COUNT(*) vs COUNT(col) vs
    COUNT(DISTINCT col), null-safe equality (<=> / IS NOT DISTINCT
    FROM), and the IN / NOT IN asymmetry (a NULL probe satisfies
    neither) — the traps every engine must agree on exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    x = F.when(
        F.col("o_orderkey") % 3 == 0, F.lit(None).cast("bigint")
    ).otherwise(F.col("o_orderkey") % 5)
    d = o.select(x.alias("x"))
    return d.agg(
        F.count("*").alias("n_rows"),
        F.count("x").alias("n_nonnull"),
        F.count_distinct("x").alias("n_distinct"),
        F.sum(F.col("x").eqNullSafe(F.lit(2)).cast("bigint")).alias(
            "n_nullsafe_eq2"
        ),
        F.sum(F.col("x").isin(1, 2).cast("bigint")).alias("n_in_12"),
        F.sum((~F.col("x").isin(1, 2)).cast("bigint")).alias(
            "n_not_in_12"
        ),
    )


Q_NULL_SEMANTICS_SQL = """
WITH d AS (
  SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE o_orderkey % 5 END AS x
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       COUNT(x) AS n_nonnull,
       COUNT(DISTINCT x) AS n_distinct,
       CAST(SUM(CASE WHEN x IS NOT DISTINCT FROM 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq2,
       CAST(SUM(CASE WHEN x IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_12,
       CAST(SUM(CASE WHEN x NOT IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_not_in_12
FROM d
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



# --- content-addressed binary dedup -----------------------------------------

def mm_dedup_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over binary media payloads: group by
    sha256(payload), count physical copies, and account the bytes a
    content-addressed store would save — the storage half of
    multimodal dedup (the perceptual/near-dup half is the SimHash /
    MinHash family on extracted features).  sha2 runs JVM-side over
    the binary column; the rollup is two tiny exact aggregates.
    """
    from planning_center_data_pipeline_spark.operators.multimodal import (
        media_from_documents,
    )

    d = load_table(spark, sf_dir, "documents")
    media = media_from_documents(d)
    g = (
        media.select(
            F.sha2(F.col("payload"), 256).alias("h"),
            F.length(F.col("payload")).alias("bl"),
        )
        .groupBy("h")
        .agg(F.count("*").alias("c"), F.max("bl").alias("bl"))
    )
    return g.agg(
        F.sum("c").cast("bigint").alias("n_media"),
        F.count("*").alias("n_unique"),
        (
            (F.sum("c") - F.count("*")).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_rate"),
        F.sum((F.col("c") - 1) * F.col("bl")).cast("bigint").alias(
            "bytes_saved"
        ),
    )


MM_DEDUP_BY_HASH_SQL = """
WITH h AS (
  -- fixture text is pure ASCII: sha256(VARCHAR) == sha256 of the
  -- utf-8 payload bytes (same convention as MM_BINARY_SQL)
  SELECT sha256(text) AS h,
         octet_length(encode(text)) AS bl
  FROM documents
), g AS (
  SELECT h, COUNT(*) AS c, MAX(bl) AS bl FROM h GROUP BY h
)
SELECT CAST(SUM(c) AS BIGINT) AS n_media,
       COUNT(*) AS n_unique,
       CAST(SUM(c) - COUNT(*) AS DOUBLE)/CAST(SUM(c) AS DOUBLE)
         AS dup_rate,
       CAST(SUM((c - 1) * bl) AS BIGINT) AS bytes_saved
FROM g
"""



# --- supplier-concentration HHI ---------------------------------------------

def sup_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    within each supplier nation — the supply-risk twin of the Gini
    query (HHI ~ 1/n means diversified sourcing; near 1 means one
    dominant supplier).  HHI = sum(share_i^2) = sum(rc_i^2) /
    (sum(rc_i))^2: both moments are exact decimal sums of cent
    integers; ONE double division at the edge, so the result is
    order-free and partition-count invariant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(cents("l_extendedprice")).alias("rc"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.col("rc").cast("decimal(38,0)").alias("rc"))
    )
    agg = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rc").alias("s"),
        F.sum(F.col("rc") * F.col("rc")).alias("s2"),
    )
    hhi = F.col("s2").cast("double") / (
        F.col("s").cast("double") * F.col("s").cast("double")
    )
    return agg.select(
        "n_name",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        (F.col("s").cast("double") / 100.0).alias("revenue"),
        F.round(hhi, 9).alias("hhi"),
    ).orderBy("n_name")


SUP_NATION_HHI_SQL = """
WITH rev AS (
  SELECT n_name,
         CAST(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
                   AS BIGINT) AS DECIMAL(19,0)) AS rc
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
), agg AS (
  SELECT n_name, COUNT(*) AS n_suppliers,
         SUM(rc) AS s, SUM(rc * rc) AS s2
  FROM rev GROUP BY n_name
)
SELECT n_name,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(s AS DOUBLE)/100.0 AS revenue,
       ROUND(CAST(s2 AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9) AS hhi
FROM agg ORDER BY n_name
"""



QUERIES = {
    "doc_lang_confusion": doc_lang_confusion,
    "doc_dup_rate_by_source": doc_dup_rate_by_source,
    "cust_nation_gini": cust_nation_gini,
    "agg_filter_clause": agg_filter_clause,
    "sup_acct_benford": sup_acct_benford,
    "cust_order_gap_histogram": cust_order_gap_histogram,
    "q_null_semantics": q_null_semantics,
    "doc_cross_source_dup": doc_cross_source_dup,
    "mm_dedup_by_hash": mm_dedup_by_hash,
    "sup_nation_hhi": sup_nation_hhi,
}

ORACLES = {
    "doc_lang_confusion": _lang_confusion_sql(),
    "doc_dup_rate_by_source": DOC_DUP_RATE_SQL,
    "cust_nation_gini": CUST_NATION_GINI_SQL,
    "agg_filter_clause": AGG_FILTER_CLAUSE_SQL,
    "sup_acct_benford": SUP_ACCT_BENFORD_SQL,
    "cust_order_gap_histogram": CUST_ORDER_GAP_SQL,
    "q_null_semantics": Q_NULL_SEMANTICS_SQL,
    "doc_cross_source_dup": DOC_CROSS_SOURCE_DUP_SQL,
    "mm_dedup_by_hash": MM_DEDUP_BY_HASH_SQL,
    "sup_nation_hhi": SUP_NATION_HHI_SQL,
}
