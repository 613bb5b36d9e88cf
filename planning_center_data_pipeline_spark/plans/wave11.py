"""Round-6 wave 11: integer-exact PageRank, RFM segmentation,
threshold precision/recall, tokenizer fertility, Zipf rank-frequency,
and ABC / Pareto revenue classification.

- graph_pagerank_parts: 5 unrolled PageRank iterations over the part
  co-purchase graph in PURE INTEGER arithmetic (rank mass in units of
  1e-12, damping as *85 DIV 100), so every iteration is bit-identical
  across engines — the portable answer to "iterative algorithms can't
  have SQL oracles".
- cust_rfm_global_quintiles: the marketing-standard Recency/Frequency/
  Monetary quintile segmentation, scored by value comparison against
  exact percentile cutoffs (no ntile, no global row window).
- ml_threshold_metrics: precision/recall/F1 at the nine global score
  deciles — the threshold-sweep table behind every PR curve.
- doc_tokenizer_fertility: subword fertility (BPE pieces per word,
  pieces per 100 chars) by language and source — the tokenizer-cost
  signal a multilingual corpus budget is planned around.
- doc_zipf_rankfreq: top-50 token rank x frequency products — the
  Zipf-law diagnostic, exact integers (no libm log).
- cust_abc_pareto: A/B/C revenue classes at the 80/95% cumulative
  cuts, per-customer deterministic, using the value-bucketed two-phase
  prefix sum (the ml_auc_rank machinery) instead of one global window.

All six carry full DuckDB oracles on the repo-standard portable
primitives: integer counts/cents, integer division (Spark `DIV` ==
DuckDB `//` on non-negative operands), exact interpolated percentiles,
one ROUND at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.operators.unrolled import unrolled_sql
from planning_center_data_pipeline_spark.sources.tables import load_table

_BPE_SQL_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


# --- integer-exact PageRank over the co-purchase graph -----------------------

_PR_ITERS = 5
_PR_MASS = 1_000_000_000_000  # total rank mass, 1e-12 units
_PR_TOP = 20


def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), 5 unrolled iterations, damping
    0.85 — ENTIRELY in int64 arithmetic:

        r0     = MASS DIV n_nodes
        share  = r DIV deg            (per source, per iteration)
        r'     = (15*base) DIV 100 + (85 * sum(shares in)) DIV 100

    Truncating integer division is deterministic and identical in
    Spark (`DIV`) and DuckDB (`//`) on non-negative operands, so all
    five iterations are bit-exact across engines — no float drift, no
    libm.  Every node has deg >= 1 by construction (it appears in an
    edge), so there is no dangling-mass term.

    Plan shape (r12 rewrite, guide §2.3/§2.4/§3.3): the edge relation
    is built and iterated as an ADJACENCY LIST, two exchanges total —
    collect_set(pk) per order (one shuffle, basket-bounded arrays),
    map-side pair explosion, collect_set(dst) per src (one shuffle,
    dedup inside the aggregate replaces the former pair-distinct
    exchange).  deg = size(dsts) is identical to the former
    count-per-src over distinct pairs.  Each of the 5 iterations then
    joins |V|-row frames only and explodes dsts AFTER the join (guide
    §3.3: join on the un-exploded key), so no fact-sized row set is
    ever re-shuffled inside the loop — the old edge-list form
    re-shuffled all |E| rows every iteration because localCheckpoint
    erases SQL output partitioning.  Adjacency rows stay bounded
    because per-part co-purchase degree does not grow with SF (parts
    scale with SF; a part sits in ~30 baskets of <= 7 items at any
    scale).  Measured 8.2 -> 3.4 s at sf0.1 (32 -> 30 Exchanges, and
    the 5 remaining per-iteration exchanges carry |V| rows, not |E|).
    Output is top-20 via TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("pks"))
    )
    pairs = (
        baskets.select(F.explode("pks").alias("src"), F.col("pks"))
        .select("src", F.explode("pks").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    adj = (
        pairs.groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .select("src", "dsts", F.size("dsts").cast("bigint").alias("deg"))
        .localCheckpoint(eager=False)
    )
    n1 = adj.agg(F.count(F.lit(1)).alias("n_nodes"))  # 1 row
    nodes = (
        adj.select("src", "deg")
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("src").alias("node"),
            "deg",
            F.expr(f"CAST({_PR_MASS} AS BIGINT) DIV n_nodes").alias("base"),
        )
        .localCheckpoint(eager=False)
    )
    ranks = unrolled_sql(
        "SELECT node, base AS r FROM {nodes}",
        "SELECT n.node, "
        "(15 * n.base) DIV 100 + "
        "(85 * coalesce(c.s, CAST(0 AS BIGINT))) DIV 100 AS r "
        "FROM {nodes} n LEFT JOIN ("
        "SELECT cnode, SUM(c) AS s FROM ("
        "SELECT explode(a.dsts) AS cnode, x.r DIV a.deg AS c "
        "FROM {prev} x JOIN {adj} a ON x.node = a.src"
        ") GROUP BY cnode) c ON n.node = c.cnode",
        _PR_ITERS,
        "SELECT node, r FROM {prev}",
        nodes=nodes,
        adj=adj,
    )
    return (
        ranks.orderBy(F.desc("r"), "node")
        .limit(_PR_TOP)
        .select(
            F.col("node").alias("partkey"),
            F.col("r").alias("rank_units"),
            F.round(F.col("r").cast("double") / F.lit(1e10), 6).alias(
                "rank_pct"
            ),
        )
    )


def _pagerank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT nd.node,
         CAST((15 * nd.base) // 100
              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r,
         nd.base
  FROM {prev} nd
  LEFT JOIN (SELECT e.dst, CAST(SUM(p.r // g.deg) AS BIGINT) AS s
             FROM {prev} p
             JOIN deg g ON g.src = p.node
             JOIN e ON e.src = p.node
             GROUP BY e.dst) s ON s.dst = nd.node)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT DISTINCT a.pk AS src, c.pk AS dst
  FROM b a JOIN b c ON c.ok = a.ok AND c.pk <> a.pk
), deg AS (
  SELECT src, COUNT(*) AS deg FROM e GROUP BY src
), n AS (
  SELECT COUNT(*) AS n_nodes FROM deg
), r0 AS (
  SELECT d.src AS node,
         CAST({_PR_MASS} AS BIGINT) // n.n_nodes AS r,
         CAST({_PR_MASS} AS BIGINT) // n.n_nodes AS base
  FROM deg d CROSS JOIN n
),
{chain}
SELECT node AS partkey, r AS rank_units,
       ROUND(CAST(r AS DOUBLE) / 1e10, 6) AS rank_pct
FROM {prev} ORDER BY r DESC, node LIMIT {_PR_TOP}
"""


GRAPH_PAGERANK_PARTS_SQL = _pagerank_sql()


# --- RFM quintile segmentation ------------------------------------------------


def cust_rfm_global_quintiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    relative to the dataset's max order date), Frequency (order
    count), Monetary (lifetime spend), each scored 1-5 against the
    exact quintile cutoffs of the per-customer distribution (score =
    1 + number of cutoffs strictly exceeded; recency inverted so 5 =
    most recent).  Value-comparison banding, not ntile: portable, no
    global row-ordered window, and ties land deterministically.

    Plan shape: one shuffle on custkey for the per-customer rollup;
    the reference date and the three cutoff arrays are two 1-row
    aggregates broadcast back; the segment rollup is <= 125 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("f"),
        F.sum(cents("o_totalprice")).alias("m"),
    )
    ref = per.agg(F.max("last_d").alias("ref_d"))  # 1 row
    base = per.crossJoin(F.broadcast(ref)).select(
        "ck", F.datediff("ref_d", "last_d").alias("r_days"), "f", "m"
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    cuts = base.agg(
        F.percentile("r_days", F.array(*[F.lit(q) for q in qs])).alias("rc"),
        F.percentile("f", F.array(*[F.lit(q) for q in qs])).alias("fc"),
        F.percentile("m", F.array(*[F.lit(q) for q in qs])).alias("mc"),
    )  # 1 row

    def n_above(col: str, arr: str) -> F.Column:
        return sum(
            (F.col(col).cast("double") > F.element_at(arr, i + 1)).cast("int")
            for i in range(4)
        )

    scored = base.crossJoin(F.broadcast(cuts)).select(
        (F.lit(5) - n_above("r_days", "rc")).alias("r_sc"),
        (F.lit(1) + n_above("f", "fc")).alias("f_sc"),
        (F.lit(1) + n_above("m", "mc")).alias("m_sc"),
        "f",
        "m",
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r_sc").cast("string"),
                F.col("f_sc").cast("string"),
                F.col("m_sc").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum("m").cast("double") / F.lit(100.0)).alias("monetary"),
            F.round(
                F.sum("f").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_orders"),
        )
        .orderBy("segment")
    )


CUST_RFM_SEGMENTS_SQL = """
WITH per AS (
  SELECT o_custkey AS ck,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS f,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY 1
), ref AS (
  SELECT MAX(last_d) AS ref_d FROM per
), base AS (
  SELECT ck, date_diff('day', last_d, ref_d) AS r_days, f, m
  FROM per CROSS JOIN ref
), cuts AS (
  SELECT quantile_cont(r_days, [0.2,0.4,0.6,0.8]) AS rc,
         quantile_cont(f,      [0.2,0.4,0.6,0.8]) AS fc,
         quantile_cont(m,      [0.2,0.4,0.6,0.8]) AS mc
  FROM base
), scored AS (
  SELECT 5 - ((CASE WHEN CAST(r_days AS DOUBLE) > rc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[4] THEN 1 ELSE 0 END))
           AS r_sc,
         1 + ((CASE WHEN CAST(f AS DOUBLE) > fc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[4] THEN 1 ELSE 0 END))
           AS f_sc,
         1 + ((CASE WHEN CAST(m AS DOUBLE) > mc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[4] THEN 1 ELSE 0 END))
           AS m_sc,
         f, m
  FROM base CROSS JOIN cuts
)
SELECT CAST(r_sc AS VARCHAR) || CAST(f_sc AS VARCHAR)
         || CAST(m_sc AS VARCHAR) AS segment,
       COUNT(*) AS n_cust,
       CAST(SUM(m) AS DOUBLE) / 100.0 AS monetary,
       ROUND(CAST(SUM(f) AS DOUBLE) / COUNT(*), 6) AS avg_orders
FROM scored GROUP BY 1 ORDER BY segment
"""


# --- precision / recall / F1 at decile thresholds ------------------------------


def ml_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision, recall and F1 at each of the nine global score
    deciles (score = account balance, label = placed an urgent-
    priority order; "predicted positive" = score strictly above the
    cutoff) — the threshold-sweep table a PR curve is drawn from.
    F1 is assembled from exact integer counts as 2*tp/(pred_pos +
    n_pos), one division, rounded once.

    Plan shape: label semi-aggregate (one shuffle on custkey), a
    1-row cutoff aggregate exploded to 9 rows and broadcast; the
    9-way fan-out feeds one conditional aggregation; output is 9 rows.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    buyers = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
        .withColumn("is_buyer", F.lit(1))
    )
    base = (
        c.select(F.col("c_custkey").alias("ck"), cents("c_acctbal").alias("v"))
        .join(buyers, "ck", "left")
        .select("v", F.coalesce("is_buyer", F.lit(0)).alias("pos"))
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = base.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("cut")
    )
    thr = cuts.select(
        F.posexplode("cut").alias("k0", "thr")
    ).select((F.col("k0") + 1).alias("k"), "thr")  # 9 rows
    joined = base.crossJoin(F.broadcast(thr))
    per = joined.groupBy("k", "thr").agg(
        F.sum(
            (F.col("pos") == 1).cast("int")
            * (F.col("v").cast("double") > F.col("thr")).cast("int")
        ).alias("tp"),
        F.sum((F.col("v").cast("double") > F.col("thr")).cast("int")).alias(
            "pred_pos"
        ),
        F.sum("pos").alias("n_pos"),
    )
    return per.select(
        "k",
        F.round("thr", 6).alias("thr"),
        "tp",
        "pred_pos",
        "n_pos",
        F.when(
            F.col("pred_pos") > 0,
            F.round(F.col("tp").cast("double") / F.col("pred_pos"), 6),
        ).alias("prec"),
        F.round(F.col("tp").cast("double") / F.col("n_pos"), 6).alias("rec"),
        F.round(
            F.lit(2.0)
            * F.col("tp").cast("double")
            / (F.col("pred_pos") + F.col("n_pos")),
            6,
        ).alias("f1"),
    ).orderBy("k")


ML_THRESHOLD_METRICS_SQL = """
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN o.ck IS NULL THEN 0 ELSE 1 END AS pos
  FROM customer
  LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
             WHERE o_orderpriority = '1-URGENT') o
         ON o.ck = c_custkey
), cuts AS (
  SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cut
  FROM base
), thr AS (
  SELECT i AS k, cut[i] AS thr
  FROM cuts CROSS JOIN generate_series(1, 9) t(i)
), per AS (
  SELECT k, thr,
         CAST(SUM(CASE WHEN pos = 1 AND CAST(v AS DOUBLE) > thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN CAST(v AS DOUBLE) > thr
                       THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM base CROSS JOIN thr GROUP BY k, thr
)
SELECT k, ROUND(thr, 6) AS thr, tp, pred_pos, n_pos,
       CASE WHEN pred_pos > 0
            THEN ROUND(CAST(tp AS DOUBLE) / pred_pos, 6) END AS prec,
       ROUND(CAST(tp AS DOUBLE) / n_pos, 6) AS rec,
       ROUND(2.0 * CAST(tp AS DOUBLE) / (pred_pos + n_pos), 6) AS f1
FROM per ORDER BY k
"""


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


# --- ABC / Pareto revenue classification ----------------------------------------

_ABC_BUCKETS = 31  # percentile cutoffs -> <=32 value buckets


def cust_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B/C (Pareto) customer classification: customers sorted by
    lifetime revenue descending; class A while the cumulative revenue
    BEFORE the customer is < 80% of total, B before 95%, C after.
    Class membership is per-customer deterministic (revenue DESC,
    custkey ASC breaks ties) and the boundary tests are pure integer
    comparisons (100*cum_before < 80*total), so the 3-row rollup is
    bit-portable.

    Plan shape: one shuffle on custkey for the revenue rollup; the
    global running sum uses the value-bucketed two-phase prefix sum
    (31 percentile cutoffs from a 1-row broadcast aggregate assign
    buckets by VALUE comparison — deterministic under re-execution,
    unlike range-partition sampling; see ml_auc_rank), per-bucket
    windows parallelize, and the only global window runs over the
    <=32-row bucket totals.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(cents("o_totalprice")).alias("v")
    )
    qs = [i / 32.0 for i in range(1, _ABC_BUCKETS + 1)]
    cuts = rev.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row
    n_above = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(_ABC_BUCKETS)
    )
    p = rev.crossJoin(F.broadcast(cuts)).select("ck", "v", n_above.alias("bk"))
    # within-bucket running revenue, descending value order
    w_local = (
        Window.partitionBy("bk")
        .orderBy(F.desc("v"), "ck")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("local_cum", F.sum("v").over(w_local))
    totals = local.groupBy("bk").agg(F.sum("v").alias("b_total"))
    w_off = Window.orderBy(F.desc("bk")).rowsBetween(
        Window.unboundedPreceding, -1
    )  # <=32 rows
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("b_total").over(w_off), F.lit(0))
    ).select("bk", "offset")
    grand = rev.agg(F.sum("v").alias("t"))  # 1 row
    classed = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(grand))
        .select(
            "v",
            (F.col("offset") + F.col("local_cum") - F.col("v")).alias(
                "cum_before"
            ),
            "t",
        )
        .select(
            "v",
            "t",
            F.when(F.col("cum_before") * 100 < F.col("t") * 80, "A")
            .when(F.col("cum_before") * 100 < F.col("t") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum("v").cast("double") / F.lit(100.0)).alias("revenue"),
            F.round(
                F.lit(100.0) * F.sum("v") / F.max("t"), 6
            ).alias("rev_pct"),
        )
        .orderBy("abc_class")
    )


CUST_ABC_PARETO_SQL = """
WITH rev AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), grand AS (
  SELECT CAST(SUM(v) AS BIGINT) AS t FROM rev
), run AS (
  SELECT v,
         CAST(COALESCE(SUM(v) OVER (ORDER BY v DESC, ck
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM rev
), classed AS (
  SELECT v, t,
         CASE WHEN cum_before * 100 < t * 80 THEN 'A'
              WHEN cum_before * 100 < t * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM run CROSS JOIN grand
)
SELECT abc_class, COUNT(*) AS n_cust,
       CAST(SUM(v) AS DOUBLE) / 100.0 AS revenue,
       ROUND(100.0 * SUM(v) / MAX(t), 6) AS rev_pct
FROM classed GROUP BY 1 ORDER BY abc_class
"""


QUERIES = {
    "graph_pagerank_parts": graph_pagerank_parts,
    "cust_rfm_global_quintiles": cust_rfm_global_quintiles,
    "ml_threshold_metrics": ml_threshold_metrics,
    "doc_tokenizer_fertility": doc_tokenizer_fertility,
    "doc_zipf_rankfreq": doc_zipf_rankfreq,
    "cust_abc_pareto": cust_abc_pareto,
}

ORACLES = {
    "graph_pagerank_parts": GRAPH_PAGERANK_PARTS_SQL,
    "cust_rfm_global_quintiles": CUST_RFM_SEGMENTS_SQL,
    "ml_threshold_metrics": ML_THRESHOLD_METRICS_SQL,
    "doc_tokenizer_fertility": DOC_TOKENIZER_FERTILITY_SQL,
    "doc_zipf_rankfreq": DOC_ZIPF_RANKFREQ_SQL,
    "cust_abc_pareto": CUST_ABC_PARETO_SQL,
}
