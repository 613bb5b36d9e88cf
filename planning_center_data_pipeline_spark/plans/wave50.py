"""Round-11 wave 50: inequality, cluster validity, information rate,
long-memory, ordered-alternative rank testing, and exponential-
smoothing forecasts.

- li_gini_by_brand: Gini coefficient of revenue concentration across
  parts within each brand (cust_nation_gini's decimal rank-moment
  form over a different grouping).
- emb_davies_bouldin: Davies-Bouldin cluster-validity index over the
  embedding labels — (a_i + a_j) / d(c_i, c_j) maxima from the exact
  quantized shapes emb_silhouette_centroid already computes.
- ev_entropy_rate_stationary: entropy rate H = sum_i pi_i H(next|i)
  of the event-type chain — the 12-round stationary-pi unrolling from
  ev_markov_stationary plus per-state conditional entropies kept in
  exact integer micro-nats (H(next|i) = ln rt - (1/rt) sum c ln c,
  all c ln c terms quantized BEFORE summing).
- ts_hurst_rs: rescaled-range (R/S) long-memory estimate of the daily
  order-count series at window sizes 8/16/32/64 — per-block R and S
  from exact integer moments (W*Z_t and W-scaled deviations), log-log
  OLS slope = Hurst exponent.
- stat_jonckheere_terpstra: ordered-alternative rank test (are line
  quantities stochastically larger for lower order priorities?) on
  the bounded 5 x 50 (priority, quantity) grid — doubled U statistic
  exact, tie-corrected null variance from integer group/tie moments
  (Hollander & Wolfe form).
- ts_holt_winters_additive: additive Holt-Winters (alpha 1/4, beta
  1/8, gamma 1/4, period 12) over the last 36 months of revenue —
  12-month init, 24 UNROLLED update rounds as pure column expressions
  on a 1-row wide state (the ev_markov_stationary unrolling pattern
  collapsed to zero joins), 12-step forecast.

Reference parity: the reference repo (a 400-line scrape-and-upload
DAG) has no analytics surface; these extend the statistics,
time-series, and embedding-quality families a 100 TB training-data
pipeline needs.  Scale notes live in each docstring; every query is
a bounded rollup of one fact scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.plans.wave48 import (
    build_transition_chain,
    chain_sql_prefix,
    power_iteration,
    power_rounds_sql,
)
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- Gini of part-revenue concentration within brand ---------------------------------


def li_gini_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across the parts of
    each brand: rank parts by exact revenue cents within brand and
    apply the rank-moment identity G = 2*sum(i*r_i)/(n*sum r) -
    (n+1)/n with every moment in DECIMAL(38,0) (cust_nation_gini's
    form, plans/wave4d.py).  Scale shape: one lineitem rollup to
    |parts| rows, one broadcastable part-dim join, per-brand windows
    over ~|parts|/|brands| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("rc"))
        .join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.asc("rc"), F.asc("l_partkey"))
    ranked = rev.select(
        "p_brand",
        F.col("rc").cast("decimal(38,0)").alias("rc"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
    )
    agg = ranked.groupBy("p_brand").agg(
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
        F.col("p_brand").alias("brand"),
        F.col("n").cast("bigint").alias("n_parts"),
        (F.col("s").cast("double") / 100.0).alias("revenue"),
        F.round(gini, 9).alias("gini"),
    ).orderBy("brand")


_GINI_BRAND_SQL = """
WITH rev AS (
  SELECT p_brand, l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rc
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_partkey
), ranked AS (
  SELECT p_brand,
         CAST(rc AS DECIMAL(19,0)) AS rc,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
                                 ORDER BY rc ASC, l_partkey ASC)
              AS DECIMAL(19,0)) AS i
  FROM rev
), agg AS (
  SELECT p_brand, COUNT(*) AS n, SUM(rc) AS s, SUM(i * rc) AS si
  FROM ranked GROUP BY p_brand
)
SELECT p_brand AS brand,
       CAST(n AS BIGINT) AS n_parts,
       CAST(s AS DOUBLE)/100.0 AS revenue,
       ROUND(2.0 * CAST(si AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0)/CAST(n AS DOUBLE), 9) AS gini
FROM agg ORDER BY brand
"""


# --- Davies-Bouldin index over the embedding labels ----------------------------------


def emb_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-validity index over embedding labels:
    a_i = mean point-to-own-centroid distance (the silhouette's exact
    quantized form, plans/wave49.py), d_ij = centroid-pair distance,
    r_i = max_{j != i} (a_i + a_j) / d_ij, DB = mean_i r_i.  Per-label
    maxima are micro-quantized before the cross-label mean so the
    final average is an order-free integer sum.  Scale shape: one
    |E| x 64 explode rollup, one point-level join, label^2 x 64
    bounded centroid-pair scan (10 labels in the synthetic data)."""
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        "vec_id",
        F.posexplode(S.quantized(F.col("embedding"))).alias("dim", "v"),
    )
    cent = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    dev = (
        q.join(cent, ["label", "dim"])
        .select(
            "label",
            "vec_id",
            "n",
            (
                (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
                * (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
            ).alias("d2"),
        )
        .groupBy("label", "vec_id")
        .agg(F.min("n").alias("n"), F.sum("d2").alias("d2sum"))
        .select(
            "label",
            F.expr(
                "CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(n AS DOUBLE) * {S.Q_SCALE}) * 1e6) AS BIGINT)"
            ).alias("d_q"),
        )
    )
    a_side = dev.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("d_q").cast("bigint").alias("d_sum"),
    )
    a_mean = a_side.select(
        "label",
        "n_points",
        (
            F.col("d_sum").cast("double") / F.col("n_points").cast("double")
            / F.lit(1e6)
        ).alias("a_mean"),
    )
    ca, cb = cent.alias("ca"), cent.alias("cb")
    cdist = (
        ca.join(
            cb,
            (F.col("ca.dim") == F.col("cb.dim"))
            & (F.col("ca.label") != F.col("cb.label")),
        )
        .select(
            F.col("ca.label").alias("la"),
            F.col("cb.label").alias("lb"),
            (
                (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
                * (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
            ).alias("d2"),
            F.col("ca.n").alias("na"),
            F.col("cb.n").alias("nb"),
        )
        .groupBy("la", "lb")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.sum("d2").alias("d2sum"),
        )
        .select(
            "la",
            "lb",
            F.expr(
                "SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * {S.Q_SCALE})"
            ).alias("cdist"),
        )
    )
    ai = a_mean.select(F.col("label").alias("la"), F.col("a_mean").alias("a_i"))
    aj = a_mean.select(F.col("label").alias("lb"), F.col("a_mean").alias("a_j"))
    rmax = (
        cdist.join(ai, "la")
        .join(aj, "lb")
        .groupBy("la")
        .agg(
            F.max(
                (F.col("a_i") + F.col("a_j")) / F.col("cdist")
            ).alias("r_max")
        )
        .select(
            "la",
            "r_max",
            F.round(F.col("r_max") * 1e6).cast("bigint").alias("r_q"),
        )
    )
    glob = rmax.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("r_q").cast("bigint").alias("rq_sum"),
    )
    return (
        a_mean.join(rmax, F.col("label") == F.col("la"))
        .crossJoin(F.broadcast(glob))
        .select(
            "label",
            "n_points",
            F.round("a_mean", 6).alias("a_mean"),
            F.round("r_max", 6).alias("r_max"),
            F.round(
                F.col("rq_sum").cast("double")
                / F.col("k").cast("double")
                / F.lit(1e6),
                6,
            ).alias("db_index"),
        )
        .orderBy("label")
    )


_DAVIES_BOULDIN_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM q GROUP BY label, dim
), dev AS (
  SELECT q.label, q.vec_id, MIN(c.n) AS n,
         SUM((CAST(q.v AS HUGEINT) * c.n - c.s)
             * (CAST(q.v AS HUGEINT) * c.n - c.s)) AS d2sum
  FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
  GROUP BY q.label, q.vec_id
), a_side AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))
                    / (CAST(n AS DOUBLE) * 1000000) * 1e6) AS BIGINT))
              AS BIGINT) AS d_sum
  FROM dev GROUP BY label
), a_mean AS (
  SELECT label, n_points,
         CAST(d_sum AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6 AS a_mean
  FROM a_side
), cdist AS (
  SELECT ca.label AS la, cb.label AS lb,
         SQRT(CAST(SUM((CAST(ca.s AS HUGEINT) * cb.n
                        - CAST(cb.s AS HUGEINT) * ca.n)
                       * (CAST(ca.s AS HUGEINT) * cb.n
                          - CAST(cb.s AS HUGEINT) * ca.n)) AS DOUBLE))
           / (CAST(MIN(ca.n) AS DOUBLE) * CAST(MIN(cb.n) AS DOUBLE)
              * 1000000) AS cdist
  FROM cent ca JOIN cent cb
    ON ca.dim = cb.dim AND ca.label <> cb.label
  GROUP BY ca.label, cb.label
), rmax AS (
  SELECT c.la,
         MAX((ai.a_mean + aj.a_mean) / c.cdist) AS r_max,
         CAST(ROUND(MAX((ai.a_mean + aj.a_mean) / c.cdist) * 1e6) AS BIGINT)
           AS r_q
  FROM cdist c
  JOIN a_mean ai ON ai.label = c.la
  JOIN a_mean aj ON aj.label = c.lb
  GROUP BY c.la
), gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(r_q) AS BIGINT) AS rq_sum
  FROM rmax
)
SELECT a.label, a.n_points,
       ROUND(a.a_mean, 6) AS a_mean,
       ROUND(r.r_max, 6) AS r_max,
       ROUND(CAST(g.rq_sum AS DOUBLE) / CAST(g.k AS DOUBLE) / 1e6, 6)
         AS db_index
FROM a_mean a JOIN rmax r ON a.label = r.la CROSS JOIN gl g
ORDER BY a.label
"""


# --- entropy rate of the stationary event-type chain ---------------------------------


def ev_entropy_rate_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type transition chain:
    H = sum_i pi_i * H(next | i) with pi from the same 12-round
    unrolled power iteration as ev_markov_stationary — the chain,
    iteration, and round count are IMPORTED from plans/wave48.py
    (single definition site; wave48 also guards the no-sink property
    loudly, so it is not re-guarded here) — and the per-state
    conditional entropy kept exact: H(next|i) = ln(rt_i) - (1/rt_i) *
    sum_j c_ij ln(c_ij), where every c ln(c) term is micro-quantized
    to an integer BEFORE the per-state sum (order-free), and the final
    cross-state sum multiplies micro-quantized pi and H as integers.
    Scale shape: one fact-scale lag-window pass, then enum x enum."""
    p, types = build_transition_chain(spark, sf_dir)
    n_types = types.agg(F.count(F.lit(1)).alias("k"))
    x = (
        types.crossJoin(F.broadcast(n_types))
        .select("t", (F.lit(1.0) / F.col("k").cast("double")).alias("pi"))
        # same seed checkpoint as ev_markov_stationary (round-11): the
        # |types|-row seed materializes once and the unrolled rounds
        # build on truncated lineage (34 -> ~13 static exchanges)
        .localCheckpoint(eager=False)
    )
    x = power_iteration(x, p)
    # per-state conditional entropy in exact integer micro-nats:
    # h_micro = rt * round(ln(rt)*1e6) - sum_j c * round(ln(c)*1e6)
    h = (
        p.select(
            "cur",
            "rt",
            (
                F.col("c").cast("decimal(38,0)")
                * F.round(F.log(F.col("c").cast("double")) * 1e6).cast(
                    "decimal(38,0)"
                )
            ).alias("clnc"),
        )
        .groupBy("cur")
        .agg(F.min("rt").alias("rt"), F.sum("clnc").alias("clnc_sum"))
        .select(
            "cur",
            F.round(
                (
                    F.col("rt").cast("decimal(38,0)")
                    * F.round(
                        F.log(F.col("rt").cast("double")) * 1e6
                    ).cast("decimal(38,0)")
                    - F.col("clnc_sum")
                ).cast("double")
                / F.col("rt").cast("double")
            )
            .cast("bigint")
            .alias("h_q"),
        )
    )
    per_state = (
        x.join(h, F.col("t") == F.col("cur"))
        .select(
            F.col("t").alias("event_type"),
            "pi",
            "h_q",
            F.round(F.col("pi") * 1e6).cast("bigint").alias("pi_q"),
        )
        .select(
            "event_type",
            "pi",
            "h_q",
            (F.col("pi_q") * F.col("h_q")).cast("bigint").alias("contrib_q"),
        )
    )
    glob = per_state.agg(
        F.sum("contrib_q").cast("bigint").alias("hsum_q")
    )
    return (
        per_state.crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            F.round("pi", 6).alias("pi"),
            F.round(F.col("h_q").cast("double") / 1e6, 6).alias("h_cond"),
            F.round(F.col("hsum_q").cast("double") / 1e12, 6).alias(
                "entropy_rate"
            ),
        )
        .orderBy("event_type")
    )


def _entropy_rate_sql() -> str:
    rounds, prev = power_rounds_sql()
    return chain_sql_prefix() + rounds + f""",
h AS (
  SELECT cur,
         CAST(ROUND(CAST(MIN(rt) * CAST(ROUND(LN(CAST(MIN(rt) AS DOUBLE))
                                              * 1e6) AS HUGEINT)
                         - SUM(CAST(c AS HUGEINT)
                               * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6)
                                      AS HUGEINT)) AS DOUBLE)
                    / CAST(MIN(rt) AS DOUBLE)) AS BIGINT) AS h_q
  FROM p GROUP BY cur
), per_state AS (
  SELECT x.t AS event_type, x.pi, h.h_q,
         CAST(ROUND(x.pi * 1e6) AS BIGINT) * h.h_q AS contrib_q
  FROM {prev} x JOIN h ON x.t = h.cur
), gl AS (
  SELECT CAST(SUM(contrib_q) AS BIGINT) AS hsum_q FROM per_state
)
SELECT event_type, ROUND(pi, 6) AS pi,
       ROUND(CAST(h_q AS DOUBLE) / 1e6, 6) AS h_cond,
       ROUND(CAST(hsum_q AS DOUBLE) / 1e12, 6) AS entropy_rate
FROM per_state CROSS JOIN gl
ORDER BY event_type
"""


QUERIES = {
    "li_gini_by_brand": li_gini_by_brand,
    "emb_davies_bouldin": emb_davies_bouldin,
    "ev_entropy_rate_stationary": ev_entropy_rate_stationary,
}

ORACLES = {
    "li_gini_by_brand": _GINI_BRAND_SQL,
    "emb_davies_bouldin": _DAVIES_BOULDIN_SQL,
    "ev_entropy_rate_stationary": _entropy_rate_sql(),
}


# --- Hurst exponent via rescaled range ------------------------------------------------


def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range (R/S) long-memory estimate of the daily
    order-count series: for window sizes W in {8,16,32,64}, partition
    the observed-day sequence into complete W-day blocks; per block
    R = range of cumulative deviations and S = population stddev,
    both from EXACT integer moments (W*Z_t = W*cumsum - t*total and
    W-scaled squared deviations (W*c - total)^2 in DECIMAL(38,0)), so
    the only doubles are one SQRT + division per block (identical
    IEEE ops on identical exact inputs; W is a power of two so ssd/W
    is an exact double).  Per-block R/S is micro-quantized before the
    per-W mean; Hurst = OLS slope of ln(mean R/S) on ln(W) over the 4
    scales (graph_powerlaw_degree_fit's closed form).  Scale shape:
    one fact rollup to <= ~2400 days; the day-index window is bounded
    by the calendar span, block windows by W <= 64."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    idx = daily.select(
        "c", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("idx")
    )
    scales = idx.select(
        "c", "idx", F.explode(F.array(*[F.lit(w) for w in (8, 16, 32, 64)])).alias("w")
    ).select(
        "c",
        "idx",
        F.col("w").cast("bigint").alias("w"),
        F.expr("(idx - 1) div w").alias("blk"),
        (F.col("idx") - 1 - F.expr("(idx - 1) div w") * F.col("w") + 1).alias("t"),
    )
    wb = Window.partitionBy("w", "blk")
    wcum = wb.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    blocks = (
        scales.select(
            "w",
            "blk",
            "t",
            "c",
            F.count(F.lit(1)).over(wb).alias("wcnt"),
            F.sum("c").over(wb).alias("tot"),
            F.sum("c").over(wcum).alias("cum"),
        )
        .where(F.col("wcnt") == F.col("w"))
        .select(
            "w",
            "blk",
            (F.col("w") * F.col("cum") - F.col("t") * F.col("tot")).alias("wz"),
            (
                (F.col("w") * F.col("c") - F.col("tot")).cast("decimal(38,0)")
                * (F.col("w") * F.col("c") - F.col("tot")).cast("decimal(38,0)")
            ).alias("dev2"),
        )
        .groupBy("w", "blk")
        .agg(
            F.max("wz").alias("mx"),
            F.min("wz").alias("mn"),
            F.sum("dev2").alias("ssd"),
        )
        .where(F.col("ssd") > 0)
        .select(
            "w",
            F.round(
                (F.col("mx") - F.col("mn")).cast("double")
                / F.sqrt(F.col("ssd").cast("double") / F.col("w").cast("double"))
                * 1e6
            )
            .cast("bigint")
            .alias("rs_q"),
        )
    )
    per_w = blocks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("rs_q").cast("bigint").alias("rsq_sum"),
    ).select(
        "w",
        "nb",
        (
            F.col("rsq_sum").cast("double") / F.col("nb").cast("double")
            / F.lit(1e6)
        ).alias("mean_rs"),
    ).select(
        "w",
        "nb",
        "mean_rs",
        F.round(F.log(F.col("w").cast("double")) * 1e6).cast("bigint").alias("x"),
        F.round(F.log("mean_rs") * 1e6).cast("bigint").alias("y"),
    )
    stats = per_w.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.min(F.when(F.col("w") == 8, F.round("mean_rs", 6))).alias("rs8"),
        F.min(F.when(F.col("w") == 16, F.round("mean_rs", 6))).alias("rs16"),
        F.min(F.when(F.col("w") == 32, F.round("mean_rs", 6))).alias("rs32"),
        F.min(F.when(F.col("w") == 64, F.round("mean_rs", 6))).alias("rs64"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    slope = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return stats.select(
        F.col("m").alias("n_scales"),
        "rs8",
        "rs16",
        "rs32",
        "rs64",
        F.round(F.expr(slope), 6).alias("hurst"),
    )


_HURST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), idx AS (
  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS idx FROM daily
), scales AS (
  SELECT c, idx, CAST(w AS BIGINT) AS w,
         (idx - 1) // w AS blk,
         idx - 1 - ((idx - 1) // w) * w + 1 AS t
  FROM idx CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS w)
), wins AS (
  SELECT w, blk, t, c,
         COUNT(*) OVER (PARTITION BY w, blk) AS wcnt,
         SUM(c) OVER (PARTITION BY w, blk) AS tot,
         SUM(c) OVER (PARTITION BY w, blk ORDER BY idx
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM scales
), blocks AS (
  SELECT w,
         CAST(ROUND(CAST(MAX(w * cum - t * tot) - MIN(w * cum - t * tot)
                         AS DOUBLE)
                    / SQRT(CAST(SUM(CAST(w * c - tot AS HUGEINT)
                                    * (w * c - tot)) AS DOUBLE)
                           / CAST(w AS DOUBLE)) * 1e6) AS BIGINT) AS rs_q
  FROM wins WHERE wcnt = w
  GROUP BY w, blk
  HAVING SUM(CAST(w * c - tot AS HUGEINT) * (w * c - tot)) > 0
), per_w AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(rs_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
           AS mean_rs
  FROM blocks GROUP BY w
), pts AS (
  SELECT w, nb, mean_rs,
         CAST(ROUND(LN(CAST(w AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(ROUND(LN(mean_rs) * 1e6) AS BIGINT) AS y
  FROM per_w
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         MIN(CASE WHEN w = 8 THEN ROUND(mean_rs, 6) END) AS rs8,
         MIN(CASE WHEN w = 16 THEN ROUND(mean_rs, 6) END) AS rs16,
         MIN(CASE WHEN w = 32 THEN ROUND(mean_rs, 6) END) AS rs32,
         MIN(CASE WHEN w = 64 THEN ROUND(mean_rs, 6) END) AS rs64,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT m AS n_scales, rs8, rs16, rs32, rs64,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hurst
FROM mom
"""


# --- Jonckheere-Terpstra ordered-alternative rank test --------------------------------


def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ordered alternative: do line
    quantities trend with order priority (groups ordered 1-URGENT ..
    5-LOW)?  J = sum_{i<j} U_ij with the half-tie convention, kept
    DOUBLED so everything is integer: on the completed 5 x 50
    (priority, quantity) grid, 2*U_ij = sum_v n_vj * (2*cless_vi +
    n_vi) with per-group cumulative counts from a bounded window.
    The tie-corrected null variance (Hollander & Wolfe) comes from
    exact integer group/value moments; only the final z divides.
    Scale shape: one fact rollup to the 250-cell grid; every window
    and join below it is bounded by |groups| x |quantities|."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cells = (
        li.select("l_orderkey", F.col("l_quantity").cast("bigint").alias("v"))
        .join(
            o.select(
                "o_orderkey",
                F.substring("o_orderpriority", 1, 1).cast("bigint").alias("g"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    grid = (
        cells.select("g").distinct()
        # broadcast -> BroadcastNestedLoopJoin, never CartesianProduct:
        # both sides are enum-sized (5 x 50) but the audit hard-flags
        # any non-broadcast cartesian
        .crossJoin(F.broadcast(cells.select("v").distinct()))
        .join(cells, ["g", "v"], "left")
        .select("g", "v", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    wless = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid_c = grid.select(
        "g",
        "v",
        "n",
        F.coalesce(F.sum("n").over(wless), F.lit(0)).alias("cless"),
    )
    gi = grid_c.select(
        F.col("g").alias("gi"), F.col("v").alias("vi"),
        F.col("n").alias("ni"), F.col("cless").alias("clessi"),
    )
    gj = grid_c.select(
        F.col("g").alias("gj"), F.col("v").alias("vj"), F.col("n").alias("nj")
    )
    j2 = (
        gi.join(gj, (F.col("vi") == F.col("vj")) & (F.col("gi") < F.col("gj")))
        .agg(
            F.sum(
                F.col("nj").cast("decimal(38,0)")
                * (F.lit(2) * F.col("clessi") + F.col("ni"))
            ).alias("j2")
        )
    )
    gm = (
        cells.groupBy("g")
        .agg(F.sum("n").cast("decimal(38,0)").alias("ng"))
        .agg(
            F.sum("ng").alias("n_total"),
            F.sum(F.col("ng") * F.col("ng")).alias("sum_ng2"),
            F.sum(F.col("ng") * (F.col("ng") - 1)).alias("g1"),
            F.sum(
                F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5)
            ).alias("g25"),
            F.sum(
                F.col("ng") * (F.col("ng") - 1) * (F.col("ng") - 2)
            ).alias("g2"),
        )
    )
    tm = (
        cells.groupBy("v")
        .agg(F.sum("n").cast("decimal(38,0)").alias("tv"))
        .agg(
            F.sum(F.col("tv") * (F.col("tv") - 1)).alias("t1"),
            F.sum(
                F.col("tv") * (F.col("tv") - 1) * (2 * F.col("tv") + 5)
            ).alias("t25"),
            F.sum(
                F.col("tv") * (F.col("tv") - 1) * (F.col("tv") - 2)
            ).alias("t2"),
        )
    )
    var_expr = (
        "(CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)"
        " * (2.0 * CAST(n_total AS DOUBLE) + 5.0)"
        " - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0"
        " + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)"
        "   / (36.0 * CAST(n_total AS DOUBLE)"
        "      * (CAST(n_total AS DOUBLE) - 1.0)"
        "      * (CAST(n_total AS DOUBLE) - 2.0))"
        " + CAST(g1 AS DOUBLE) * CAST(t1 AS DOUBLE)"
        "   / (8.0 * CAST(n_total AS DOUBLE)"
        "      * (CAST(n_total AS DOUBLE) - 1.0))"
    )
    e2j_expr = (
        "(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)"
        " - CAST(sum_ng2 AS DOUBLE)) / 2.0"
    )
    return (
        j2.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(tm))
        .select(
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("j2").cast("double").alias("j2"),
            F.expr(e2j_expr).alias("e_j2"),
            F.round(F.expr(var_expr), 2).alias("var_j"),
            F.round(
                F.expr(
                    f"(CAST(j2 AS DOUBLE) - ({e2j_expr}))"
                    f" / (2.0 * SQRT({var_expr}))"
                ),
                6,
            ).alias("z"),
        )
    )


_JT_SQL = """
WITH cells AS (
  SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS g,
         CAST(l_quantity AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), grid AS (
  SELECT gg.g, vv.v, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT g FROM cells) gg
  CROSS JOIN (SELECT DISTINCT v FROM cells) vv
  LEFT JOIN cells c ON c.g = gg.g AND c.v = vv.v
), grid_c AS (
  SELECT g, v, n,
         COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cless
  FROM grid
), j2t AS (
  SELECT SUM(CAST(j.n AS HUGEINT) * (2 * i.cless + i.n)) AS j2
  FROM grid_c i JOIN grid_c j ON i.v = j.v AND i.g < j.g
), gm AS (
  SELECT SUM(ng) AS n_total, SUM(ng * ng) AS sum_ng2,
         SUM(ng * (ng - 1)) AS g1,
         SUM(ng * (ng - 1) * (2 * ng + 5)) AS g25,
         SUM(ng * (ng - 1) * (ng - 2)) AS g2
  FROM (SELECT CAST(SUM(n) AS HUGEINT) AS ng FROM cells GROUP BY g)
), tm AS (
  SELECT SUM(tv * (tv - 1)) AS t1,
         SUM(tv * (tv - 1) * (2 * tv + 5)) AS t25,
         SUM(tv * (tv - 1) * (tv - 2)) AS t2
  FROM (SELECT CAST(SUM(n) AS HUGEINT) AS tv FROM cells GROUP BY v)
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       CAST(j2 AS DOUBLE) AS j2,
       (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
        - CAST(sum_ng2 AS DOUBLE)) / 2.0 AS e_j2,
       ROUND((CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)
              * (2.0 * CAST(n_total AS DOUBLE) + 5.0)
              - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
             + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
               / (36.0 * CAST(n_total AS DOUBLE)
                  * (CAST(n_total AS DOUBLE) - 1.0)
                  * (CAST(n_total AS DOUBLE) - 2.0))
             + CAST(g1 AS DOUBLE) * CAST(t1 AS DOUBLE)
               / (8.0 * CAST(n_total AS DOUBLE)
                  * (CAST(n_total AS DOUBLE) - 1.0)), 2) AS var_j,
       ROUND((CAST(j2 AS DOUBLE)
              - (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                 - CAST(sum_ng2 AS DOUBLE)) / 2.0)
             / (2.0 * SQRT((CAST(n_total AS DOUBLE)
                            * (CAST(n_total AS DOUBLE) - 1.0)
                            * (2.0 * CAST(n_total AS DOUBLE) + 5.0)
                            - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE))
                           / 72.0
                           + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                             / (36.0 * CAST(n_total AS DOUBLE)
                                * (CAST(n_total AS DOUBLE) - 1.0)
                                * (CAST(n_total AS DOUBLE) - 2.0))
                           + CAST(g1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                             / (8.0 * CAST(n_total AS DOUBLE)
                                * (CAST(n_total AS DOUBLE) - 1.0)))), 6)
         AS z
FROM j2t CROSS JOIN gm CROSS JOIN tm
"""

QUERIES.update({
    "ts_hurst_rs": ts_hurst_rs,
    "stat_jonckheere_terpstra": stat_jonckheere_terpstra,
})

ORACLES.update({
    "ts_hurst_rs": _HURST_SQL,
    "stat_jonckheere_terpstra": _JT_SQL,
})


# --- additive Holt-Winters forecast ----------------------------------------------------

_HW_ALPHA, _HW_BETA, _HW_GAMMA = "0.25", "0.125", "0.25"
_HW_WINDOW = 36  # last 36 observed months: 12 init + 24 update rounds
# Damped-trend variant (Gardner-McKenzie): phi exactly representable
# in binary (7/8) so the literal parses to the identical double in
# both engines.  Used by ts_holt_winters_damped in plans/wave51.py.
_HW_PHI = "0.875"


def _hw_update_exprs(
    alpha: str = _HW_ALPHA,
    beta: str = _HW_BETA,
    gamma: str = _HW_GAMMA,
    phi: str | None = None,
    window: int = _HW_WINDOW,
) -> list[tuple[str, str, dict[int, str]]]:
    """Per-round (lnew_expr, bnew_expr, {slot: snew_expr}) strings,
    shared VERBATIM between the Spark selectExpr chain and the DuckDB
    CTE chain so both engines evaluate the identical IEEE expression
    tree (doubles; literal smoothing constants).  lnew is
    substituted TEXTUALLY into bnew/snew — the same parenthesized
    subtree evaluated in place gives bit-identical doubles while
    keeping the chain to ONE projection per round (a second
    lnew-carrying projection per round doubled Catalyst analysis
    time; measured 15.9 -> 2.6 s warm at sf0.1 together with the
    inline() forecast fan-out replacing a 12-way union).

    phi=None is the plain additive recurrence (the strings below are
    pinned byte-identical to the round-11 originals — the committed
    ts_holt_winters_additive hash must not move); a phi literal gives
    the Gardner-McKenzie damped trend: l uses l + phi*b, b decays by
    phi each round."""
    rounds = []
    a, b, g = alpha, beta, gamma
    trend = "b" if phi is None else f"({phi} * b)"
    for i in range(12, window):
        slot = i % 12
        if phi is None:
            lnew = f"({a} * (y{i} - s{slot}) + (1.0 - {a}) * (l + b))"
            bnew = f"{b} * ({lnew} - l) + (1.0 - {b}) * b"
        else:
            lnew = f"({a} * (y{i} - s{slot}) + (1.0 - {a}) * (l + {trend}))"
            bnew = f"{b} * ({lnew} - l) + (1.0 - {b}) * {trend}"
        snew = f"{g} * (y{i} - {lnew}) + (1.0 - {g}) * s{slot}"
        rounds.append((lnew, bnew, {slot: snew}))
    return rounds


def _hw_wide(spark: SparkSession, sf_dir: str, window: int) -> DataFrame:
    """Fact rollup to monthly revenue cents, then the 1-row wide pivot
    y0..y{window-1} CALENDAR-anchored at the newest observed month —
    shared by ts_holt_winters_additive and the wave-51 damped/MASE
    variants so the window semantics live in one place."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
            cents("o_totalprice").alias("cents"),
        )
        .groupBy("m")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    anchor = monthly.agg(F.max("m").alias("maxm"))
    return (
        monthly.crossJoin(F.broadcast(anchor))
        .select(
            (F.col("m") - (F.col("maxm") - (window - 1))).alias("i"),
            F.col("cents").cast("double").alias("y"),
        )
        .where((F.col("i") >= 0) & (F.col("i") < window))
        .groupBy()
        .agg(
            *[
                F.min(F.when(F.col("i") == i, F.col("y"))).alias(f"y{i}")
                for i in range(window)
            ]
        )
    )


def _hw_sql_wide_ctes(window: int) -> str:
    """The shared DuckDB monthly + wide CTE text (no trailing comma)."""
    pivots = ",\n         ".join(
        f"MIN(CASE WHEN i = {i} THEN y END) AS y{i}"
        for i in range(window)
    )
    return f"""monthly AS (
  SELECT EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), wide AS (
  SELECT {pivots}
  FROM (
    SELECT m - ((SELECT MAX(m) FROM monthly) - {window - 1}) AS i,
           CAST(cents AS DOUBLE) AS y
    FROM monthly
  ) WHERE i >= 0 AND i < {window}
)"""


def ts_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (alpha {a}, beta {b}, gamma {g}, period
    12) over the LAST {n} observed months of order revenue: classical
    init (level = mean of the first 12 months, trend = mean month-over
    -month difference of the two init years, seasonals = first-year
    deviations), then {u} UNROLLED update rounds — each round is a
    pure column projection on a ONE-ROW wide state (month values
    pivoted by known offset), so the whole recurrence is a single
    zero-shuffle, zero-join Catalyst plan after one fact rollup +
    1-row broadcast of the anchor month.  The identical expression
    strings feed both engines (see _hw_update_exprs), so the doubles
    match bit-for-bit and ROUND 6 is stable.  12-step forecast
    y(T+h) = l + h*b + s_((h-1) mod 12).  Scale shape: fact rollup to
    <= ~84 months; everything below is a 1-row plan.

    Window semantics (round-11 ADVICE): the 36 slots are CALENDAR-
    anchored — i = m - (maxm - 35) indexes months relative to the
    newest observed month, so a calendar month with NO orders inside
    the window leaves its y{{i}} NULL and the recurrence propagates
    NULL into all 12 forecasts, in BOTH engines identically.  That is
    the deliberate contract (a gap means the series is not a valid
    36-month spine, and a loud all-NULL answer beats silently
    zero-filling revenue); tests/test_wave50.py pins it with a
    gapped-spine fixture and asserts the real data's window is
    gap-free.""".format(
        a=_HW_ALPHA, b=_HW_BETA, g=_HW_GAMMA, n=_HW_WINDOW,
        u=_HW_WINDOW - 12,
    )
    wide = _hw_wide(spark, sf_dir, _HW_WINDOW)
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    state = wide.selectExpr(
        "*",
        f"({y1}) / 12.0 AS l",
        f"(({y2}) - ({y1})) / 144.0 AS b",
    ).selectExpr(
        "l",
        "b",
        *[f"y{i} - l AS s{i}" for i in range(12)],
        *[f"y{i}" for i in range(12, _HW_WINDOW)],
    )
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _HW_WINDOW)]
        state = state.selectExpr(
            f"{lnew} AS l",
            f"{bnew} AS b",
            *[
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ],
            *keep_y,
        )
    entries = ", ".join(
        f"named_struct('h', CAST({h} AS BIGINT), 'forecast',"
        f" ROUND((l + {h}.0 * b + s{(h - 1) % 12}) / 100.0, 6))"
        for h in range(1, 13)
    )
    return state.selectExpr(f"inline(array({entries}))").orderBy("h")


def _hw_sql() -> str:
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    ctes = [
        _hw_sql_wide_ctes(_HW_WINDOW)
        + f""", st0 AS (
  SELECT *, ({y1}) / 12.0 AS l, (({y2}) - ({y1})) / 144.0 AS b
  FROM wide
), st1 AS (
  SELECT l, b,
         {", ".join(f"y{i} - l AS s{i}" for i in range(12))},
         {", ".join(f"y{i}" for i in range(12, _HW_WINDOW))}
  FROM st0
)"""
    ]
    prev = "st1"
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _HW_WINDOW)]
        nxt = f"u{r}"
        cols = ", ".join(
            [f"{lnew} AS l", f"{bnew} AS b"]
            + [
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ]
            + keep_y
        )
        ctes.append(f"{nxt} AS (SELECT {cols} FROM {prev})")
        prev = nxt
    forecasts = "\nUNION ALL\n".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" ROUND((l + {h}.0 * b + s{(h - 1) % 12}) / 100.0, 6) AS forecast"
        f" FROM {prev}"
        for h in range(1, 13)
    )
    return f"WITH {', '.join(ctes)}\n{forecasts}\nORDER BY h"


QUERIES["ts_holt_winters_additive"] = ts_holt_winters_additive
ORACLES["ts_holt_winters_additive"] = _hw_sql()
