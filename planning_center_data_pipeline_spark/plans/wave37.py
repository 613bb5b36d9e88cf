"""Round-8 wave 37: sequence funnels, graph components, multiple-
testing control, and IR ranking.

- ev_window_funnel: ClickHouse-style windowFunnel — per user, does a
  view -> click -> purchase chain exist with every later step inside
  24 h of the FIRST step?  Chained existence joins (not fan-out
  windows), distinct users per step.
- graph_components_minlabel: connected components of the co-purchase
  part graph by 5 unrolled min-label-propagation rounds — the pure-
  int64 iterative pattern proven by graph_pagerank_parts (Spark DIV ==
  DuckDB // on non-negative labels), edges repartitioned once and
  lazily checkpointed so the loop never re-shuffles the edge list.
- stat_bh_fdr: Benjamini-Hochberg FDR over 25 per-nation two-sample
  permutation tests (BUILDING segment vs rest on customer balances).
  Permutation labels are md5-derived so both engines draw identical
  permutations; the mean-difference comparison is cross-multiplied in
  DECIMAL(38,0)/HUGEINT (int64 would overflow: cents*counts*counts),
  p-values are exact add-one integers, and the BH step-up threshold
  p_(k) <= k*alpha/m clears to p*m*20 <= k*(B+1) — integers end to
  end, alpha = 1/20.
- doc_bm25_scores: BM25 (k1 = 1.2, b = 0.75) of a fixed 5-term query
  against the documents corpus.  The per-(doc, term) score is ONE
  expression string evaluated verbatim by both engines (the Wilson-CI
  trick) and quantized to 1e-9 BEFORE the per-doc sum, so the <= 5
  double additions become an order-free int64 sum.

Reference parity: the reference repo has no analytics surface
(SURVEY.md §2); these extend the engine families (sequence analytics,
graph, statistics, text/IR) the pipeline needs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.operators.unrolled import unrolled_sql
from planning_center_data_pipeline_spark.sources.tables import load_table

_W_US = 86_400_000_000  # 24 h in microseconds (BIGINT-safe literal)
_LP_ITERS = 5
_BH_PERMS = 200
_BH_ALPHA_INV = 20  # alpha = 1/20
_BM25_TERMS = ("data", "pipeline", "quality", "model", "training")


# --- windowFunnel ------------------------------------------------------------

def ev_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel where the whole chain must fit
    inside 24 h of the anchoring view.  Steps are EXISTS semantics
    (distinct users), built as chained equi-joins on user_id with
    range predicates — per-user fan-out is bounded by per-user
    activity, which does not grow with corpus size.

    Scale shape: three user_id-keyed joins (co-partitioned after the
    first shuffle), distinct rollups, 3-row output."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("tus")
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("tus").alias("vts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("tus").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("tus").alias("pts")
    )
    s1 = v.select("user_id").distinct()
    vc = v.join(c, "user_id").filter(
        (F.col("cts") > F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.lit(_W_US))
    )
    s2 = vc.select("user_id").distinct()
    vcp = vc.join(p, "user_id").filter(
        (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("vts") + F.lit(_W_US))
    )
    s3 = vcp.select("user_id").distinct()

    def cnt(df: DataFrame, step: int) -> DataFrame:
        return df.agg(
            F.lit(step).cast("bigint").alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )

    return cnt(s1, 1).unionAll(cnt(s2, 2)).unionAll(cnt(s3, 3)).orderBy("step")


EV_WINDOW_FUNNEL_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
), v AS (SELECT user_id, tus AS vts FROM e WHERE event_type = 'view'),
c AS (SELECT user_id, tus AS cts FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, tus AS pts FROM e WHERE event_type = 'purchase'),
vc AS (
  SELECT v.user_id, vts, cts FROM v JOIN c ON v.user_id = c.user_id
  WHERE cts > vts AND cts <= vts + CAST({_W_US} AS BIGINT)
), vcp AS (
  SELECT vc.user_id FROM vc JOIN p ON vc.user_id = p.user_id
  WHERE pts > cts AND pts <= vts + CAST({_W_US} AS BIGINT)
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM v
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM vc
  UNION ALL
  SELECT CAST(3 AS BIGINT), CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM vcp
) ORDER BY step
"""


# --- min-label connected components ------------------------------------------

def graph_components_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph (edge = two
    parts in the same order) via {n} rounds of min-label propagation:
    label(v) <- min(label(v), min over neighbors).  Deterministic
    integer arithmetic — both engines converge identically round by
    round, so the round-limited result is exactly comparable even
    where components have diameter > {n}.

    Scale shape (round-10 bipartite form; r12 adjacency rewrite):
    each propagation round runs as two bipartite half-steps over the
    part-order relation (min per order, min per part), which is
    mathematically identical to a co-purchase graph round but LINEAR
    in |lineitem| — the C(basket,2) pair list and its edge-build
    self-join are never materialized.  r12 (guide §2.3/§2.4): the
    relation is held as BOTH adjacency groupings (order -> parts
    array, part -> orders array, each lazily checkpointed once), so a
    round explodes the arrays map-side and shuffles only the two
    partial-aggregated min tables — the former per-round re-shuffles
    of the lineitem-sized rows (localCheckpoint erases SQL output
    partitioning, so the old "co-partitioned" copies re-exchanged
    every round) are gone.  Arrays stay bounded at any SF: basket
    size and orders-per-part do not grow with scale.  Top-20 via
    TakeOrderedAndProject.""".format(
        n=_LP_ITERS
    )
    # Half-step identity: om(o) = min label over parts of o;
    # label'(v) = min om over orders containing v (v's own label flows
    # through its own orders, so least() is implicit, and min over
    # co-order parts == min over graph neighbors).  Node set: parts in
    # >= 1 multi-part order, matching the old edge-derived set.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    by_order = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .where(F.size("parts") >= 2)
        .localCheckpoint(eager=False)
    )
    by_part = (
        by_order.select(F.explode("parts").alias("node"), F.col("l_orderkey"))
        .groupBy("node")
        .agg(F.collect_set("l_orderkey").alias("orders"))
        .localCheckpoint(eager=False)
    )
    labels = unrolled_sql(
        "SELECT node, node AS lbl, orders FROM {by_part}",
        "SELECT n.node, n.lbl, p.orders FROM ("
        "SELECT node, MIN(om) AS lbl FROM ("
        "SELECT m.om, explode(b.parts) AS node FROM ("
        "SELECT l_orderkey, MIN(lbl) AS om FROM ("
        "SELECT lbl, explode(orders) AS l_orderkey FROM {prev}"
        ") GROUP BY l_orderkey"
        ") m JOIN {by_order} b ON b.l_orderkey = m.l_orderkey"
        ") GROUP BY node"
        ") n JOIN {by_part} p ON p.node = n.node",
        _LP_ITERS,
        "SELECT node, lbl FROM {prev}",
        by_order=by_order,
        by_part=by_part,
    )
    return (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy(F.desc("n_parts"), "component")
        .limit(20)
    )


def _components_sql() -> str:
    # Bipartite half-step form, mirroring the plan (see
    # graph_components_minlabel: min-per-order then min-per-part is
    # exactly one co-purchase propagation round, v's own label
    # included via its own orders).  MATERIALIZED: each round is
    # referenced by the next; inlining would re-execute the chain.
    rounds = []
    prev = "l0"
    for i in range(1, _LP_ITERS + 1):
        rounds.append(
            f"l{i} AS MATERIALIZED (\n"
            f"  SELECT li.l_partkey AS node, MIN(o.om) AS lbl\n"
            f"  FROM (\n"
            f"    SELECT li.l_orderkey, MIN(x.lbl) AS om\n"
            f"    FROM li2 li JOIN {prev} x ON x.node = li.l_partkey\n"
            f"    GROUP BY li.l_orderkey\n"
            f"  ) o JOIN li2 li ON li.l_orderkey = o.l_orderkey\n"
            f"  GROUP BY li.l_partkey\n)"
        )
        prev = f"l{i}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
li2 AS MATERIALIZED (
  SELECT l_orderkey, l_partkey FROM li
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM li GROUP BY l_orderkey HAVING COUNT(*) >= 2
  )
), l0 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS node, l_partkey AS lbl FROM li2
),
{','.join(rounds)}
SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM {prev} GROUP BY lbl
ORDER BY n_parts DESC, component LIMIT 20
"""


# --- Benjamini-Hochberg over permutation tests --------------------------------

def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH step-up FDR control over 25 per-nation hypotheses: does the
    BUILDING segment's mean balance differ from the other segments'?

    Per nation, a two-sample permutation test: b = 0 uses the real
    labels, b = 1..{B} relabels each customer by md5(custkey#b) % 2 —
    both engines draw the SAME permutations.  |meanA - meanB| across
    unequal group sizes compares by cross-multiplication
    |sA*nB - sB*nA| * (nAo*nBo)  vs  obs * (nAb*nBb), in
    DECIMAL(38,0): cents(1e9) x n(1e5) x n^2(1e10) overflows int64.
    p_i = 1 + #(T_b >= T_obs) over B+1 (add-one, exact integer).
    BH: sort p ascending (nation tiebreak), reject ranks <= kmax where
    kmax = max k with p*m*{ainv} <= k*(B+1).  The rank window runs
    over the 25-nation grid (bounded spine).""".format(
        B=_BH_PERMS, ainv=_BH_ALPHA_INV
    )
    from pyspark.sql.window import Window

    from planning_center_data_pipeline_spark.operators.parallelism import (
        cpu_floor,
    )

    # cpu_floor (guide §2.5/§4): the permutation crossJoin multiplies
    # this scan by B+1 and computes an md5 per expanded row; on a
    # single-partition small-file scan all of that md5 CPU would run
    # on one core.
    c = cpu_floor(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
            (F.col("c_mktsegment") == "BUILDING").cast("bigint").alias("real_a"),
        ),
        "c_custkey",
    )
    perms = spark.range(0, _BH_PERMS + 1).select(F.col("id").alias("b"))
    lab = c.crossJoin(perms).select(
        "c_nationkey",
        "b",
        "cents",
        F.when(F.col("b") == 0, F.col("real_a"))
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("c_custkey"), F.col("b"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        )
        .alias("g"),
    )
    agg = lab.groupBy("c_nationkey", "b").agg(
        F.sum(F.when(F.col("g") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("g") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.col("g")).cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("g")).cast("bigint").alias("nb"),
    )
    # T cross-comparison in DECIMAL(38,0); degenerate splits (empty
    # side) count as T = 0 (never >= a positive observed T)
    t_num = F.abs(
        F.col("sa").cast("decimal(38,0)") * F.col("nb")
        - F.col("sb").cast("decimal(38,0)") * F.col("na")
    )
    side = agg.select(
        "c_nationkey",
        "b",
        t_num.alias("t"),
        (F.col("na") * F.col("nb")).cast("decimal(38,0)").alias("scale"),
    )
    obs = side.filter(F.col("b") == 0).select(
        "c_nationkey",
        F.col("t").alias("t_obs"),
        F.col("scale").alias("scale_obs"),
    )
    pv = (
        side.filter(F.col("b") > 0)
        .join(obs, "c_nationkey")
        .groupBy("c_nationkey")
        .agg(
            (
                F.lit(1)
                + F.sum(
                    (
                        F.col("t") * F.col("scale_obs")
                        >= F.col("t_obs") * F.col("scale")
                    ).cast("bigint")
                )
            )
            .cast("bigint")
            .alias("p_num")
        )
    )
    w = Window.orderBy("p_num", "c_nationkey")  # 25-row nation grid
    ranked = pv.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    m = 25
    ranked = ranked.withColumn(
        "bh_ok",
        (
            F.col("p_num") * F.lit(m) * F.lit(_BH_ALPHA_INV)
            <= F.col("rnk") * F.lit(_BH_PERMS + 1)
        ).cast("bigint"),
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("bh_ok") == 1, F.col("rnk"))), F.lit(0)
        ).alias("kmax")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "p_num",
            "rnk",
            (F.col("rnk") <= F.col("kmax")).cast("bigint").alias("rejected"),
        )
        .orderBy("rnk")
    )


STAT_BH_FDR_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS real_a
  FROM customer
), perms AS (SELECT unnest(generate_series(0, {_BH_PERMS})) AS b),
lab AS (
  SELECT c_nationkey, b, cents,
         CASE WHEN b = 0 THEN real_a
              ELSE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#'
                                           || CAST(b AS VARCHAR)), 1, 15)
                        AS BIGINT) % 2 END AS g
  FROM c CROSS JOIN perms
), agg AS (
  SELECT c_nationkey, b,
         CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN g = 0 THEN cents ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(g) AS BIGINT) AS na,
         CAST(SUM(1 - g) AS BIGINT) AS nb
  FROM lab GROUP BY 1, 2
), side AS (
  SELECT c_nationkey, b,
         abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) AS t,
         CAST(na AS HUGEINT) * nb AS scale
  FROM agg
), obs AS (
  SELECT c_nationkey, t AS t_obs, scale AS scale_obs FROM side WHERE b = 0
), pv AS (
  SELECT s.c_nationkey,
         CAST(1 + SUM(CASE WHEN s.t * o.scale_obs >= o.t_obs * s.scale
                           THEN 1 ELSE 0 END) AS BIGINT) AS p_num
  FROM side s JOIN obs o ON s.c_nationkey = o.c_nationkey
  WHERE s.b > 0 GROUP BY 1
), ranked AS (
  SELECT c_nationkey, p_num,
         CAST(ROW_NUMBER() OVER (ORDER BY p_num, c_nationkey) AS BIGINT)
           AS rnk
  FROM pv
), km AS (
  SELECT COALESCE(MAX(CASE WHEN p_num * 25 * {_BH_ALPHA_INV}
                                <= rnk * {_BH_PERMS + 1}
                           THEN rnk END), 0) AS kmax
  FROM ranked
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey, p_num, rnk,
       CAST(CASE WHEN rnk <= (SELECT kmax FROM km) THEN 1 ELSE 0 END
            AS BIGINT) AS rejected
FROM ranked ORDER BY rnk
"""


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
    """Top-20 documents by BM25 against the fixed query {terms}.

    Shape: one token explode -> (doc, term) tf rollup filtered to the
    5 query terms, df/n/total from two bounded aggregates (1-row and
    5-row broadcasts), per-term score = shared verbatim expression
    quantized to 1e-9, int64 per-doc sum, TakeOrderedAndProject
    top-20.""".format(terms=_BM25_TERMS)
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


QUERIES = {
    "ev_window_funnel": ev_window_funnel,
    "graph_components_minlabel": graph_components_minlabel,
    "stat_bh_fdr": stat_bh_fdr,
    "doc_bm25_scores": doc_bm25_scores,
}

ORACLES = {
    "ev_window_funnel": EV_WINDOW_FUNNEL_SQL,
    "graph_components_minlabel": _components_sql(),
    "stat_bh_fdr": STAT_BH_FDR_SQL,
    "doc_bm25_scores": DOC_BM25_SQL,
}
