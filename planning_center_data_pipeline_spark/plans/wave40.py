"""Round-8 wave 40: inventory service levels, inequality curves, and
two classic tests.

- li_newsvendor_quantile: the newsvendor critical-fractile stock
  level per part — smallest monthly demand q with rank >=
  ceil(0.8 * n) over the part's demand history (cu/(cu+co) = 0.8).
  Exact order statistic (rank definition, no interpolation), window
  partitioned BY PART — embarrassingly parallel.
- cust_lorenz_deciles: the Lorenz curve at decile resolution —
  cumulative revenue share of customers ordered poorest-first.
  Customer ranks come from the value-bucketed two-phase prefix sum
  (31 percentile cuts, <=32-row offset window — the stat_mann_whitney
  shape); decile shares are integer cross-multiplied cents.
- stat_g_test: the log-likelihood-ratio independence test (G-test)
  over the same brand x size contingency the chi-square query uses:
  G = 2 * sum O*ln(O*N/(rowtot*coltot)); per-cell terms quantized to
  1e-9 before the grid sum (order-free int64).
- ord_runs_test: Wald-Wolfowitz runs test on daily revenue vs the
  median day — run count from LAG over the bounded day spine, exact
  integer n1/n2/runs, z from one fixed double expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table

_NV_FRACTILE_NUM = 4  # 0.8 = 4/5
_NV_FRACTILE_DEN = 5


# --- newsvendor ---------------------------------------------------------------

def li_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part (top-20 by total demand): the 0.8-fractile of monthly
    demand — smallest q with #(demand <= q) * 5 >= 4 * n_months
    (integer cross-multiplication, no float quantile).  Output also
    carries the months observed and total demand."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey",
        (
            (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
        ).cast("bigint").alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    w = Window.partitionBy("l_partkey").orderBy("q", "m")
    wn = Window.partitionBy("l_partkey")
    ranked = pm.select(
        "l_partkey",
        "q",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_m"),
        F.sum("q").over(wn).cast("bigint").alias("d_total"),
    )
    picked = (
        ranked.filter(
            F.col("rk") * _NV_FRACTILE_DEN
            >= F.lit(_NV_FRACTILE_NUM) * F.col("n_m")
        )
        .groupBy("l_partkey")
        .agg(
            F.min("q").cast("bigint").alias("stock_level"),
            F.max("n_m").cast("bigint").alias("n_months"),
            F.max("d_total").cast("bigint").alias("d_total"),
        )
    )
    return picked.orderBy(F.desc("d_total"), "l_partkey").limit(20)


LI_NEWSVENDOR_SQL = f"""
WITH pm AS (
  SELECT l_partkey,
         CAST((EXTRACT(year FROM l_shipdate) - 1992) * 12
              + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT l_partkey, q,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY q, m)
              AS BIGINT) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n_m,
         CAST(SUM(q) OVER (PARTITION BY l_partkey) AS BIGINT) AS d_total
  FROM pm
), picked AS (
  SELECT l_partkey,
         CAST(MIN(q) AS BIGINT) AS stock_level,
         CAST(MAX(n_m) AS BIGINT) AS n_months,
         CAST(MAX(d_total) AS BIGINT) AS d_total
  FROM ranked
  WHERE rk * {_NV_FRACTILE_DEN} >= {_NV_FRACTILE_NUM} * n_m
  GROUP BY 1
)
SELECT * FROM picked ORDER BY d_total DESC, l_partkey LIMIT 20
"""


# --- Lorenz curve --------------------------------------------------------------

def cust_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue at decile resolution: for
    each decile d (poorest 10d% of customers by revenue), the
    cumulative share of total revenue in ppm (exact integer cross-
    multiplication: share_ppm = cum_cents*1e6 DIV total_cents).

    Customer ranks and cumulative sums come from the 31-percentile-
    cut two-phase prefix sum — no customer-cardinality global
    window."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    qs = [i / 32.0 for i in range(1, 32)]
    g = per.groupBy("cents").agg(F.count(F.lit(1)).alias("nv"))
    vcuts = g.agg(
        F.percentile("cents", F.array(*[F.lit(x) for x in qs]), F.col("nv"))
        .alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("cents").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(31)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "cents", "nv", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("cum_n_local", F.sum("nv").over(w_local)).withColumn(
        "cum_c_local", F.sum(F.col("cents") * F.col("nv")).over(w_local)
    )
    totals = local.groupBy("bk").agg(
        F.sum("nv").alias("t_n"),
        F.sum(F.col("cents") * F.col("nv")).alias("t_c"),
    )
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bk",
        F.coalesce(F.sum("t_n").over(w_off), F.lit(0)).alias("off_n"),
        F.coalesce(F.sum("t_c").over(w_off), F.lit(0)).alias("off_c"),
    )
    grand = totals.agg(
        F.sum("t_n").cast("bigint").alias("n_cust"),
        F.sum("t_c").cast("bigint").alias("tot_cents"),
    )  # 1 row
    ranked = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(grand))
        .select(
            "cents",
            "nv",
            (F.col("cum_n_local") + F.col("off_n")).alias("cum_n"),
            (F.col("cum_c_local") + F.col("off_c")).alias("cum_c"),
            "n_cust",
            "tot_cents",
        )
    )
    # decile d covers ranks <= ceil(d*n/10); the boundary VALUE group
    # may straddle deciles — take, per decile, the largest cum at or
    # under the cutoff plus the partial value group's contribution.
    # Simpler exact formulation: cum share at rank r = ceil(d*n/10):
    # cum_c_at_r = cum_c_before_group + (r - cum_n_before) * cents.
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    # ceil(d*n/10) via (x+9) DIV 10 — non-negative only, where Spark
    # DIV (truncate) and DuckDB // (floor) agree; the negated-floor
    # form would diverge between the engines
    dd = deciles.crossJoin(F.broadcast(grand)).select(
        "decile",
        F.expr("CAST((decile * n_cust + 9) DIV 10 AS BIGINT)").alias("r_cut"),
    )
    # broadcast the 10-row decile side; the value-ranked relation is
    # customer-cardinality and streams
    j = ranked.join(
        F.broadcast(dd),
        (F.col("cum_n") - F.col("nv") < F.col("r_cut"))
        & (F.col("r_cut") <= F.col("cum_n")),
    )
    # the ppm numerator is price-scale-cents x 1e6 — ~2.3e19 at sf1,
    # past int64 (caught by the mandatory /tmp/sf1 probe, round 9);
    # DECIMAL(38,0) here == HUGEINT in the oracle, and DIV on decimals
    # truncates exactly like DuckDB // on non-negatives (both verified)
    return (
        j.select(
            "decile",
            (
                (
                    F.col("cum_c").cast("decimal(38,0)")
                    - (F.col("cum_n") - F.col("r_cut"))
                    * F.col("cents").cast("decimal(38,0)")
                )
                * F.lit(1_000_000)
            ).alias("cum_ppm_num"),
            "tot_cents",
        )
        .select(
            "decile",
            F.expr("CAST(cum_ppm_num DIV tot_cents AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("decile")
    )


CUST_LORENZ_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), ranked AS MATERIALIZED (
  SELECT cents,
         CAST(COUNT(*) AS BIGINT) AS nv,
         CAST(SUM(COUNT(*)) OVER (ORDER BY cents) AS BIGINT) AS cum_n,
         CAST(SUM(SUM(cents)) OVER (ORDER BY cents) AS BIGINT) AS cum_c
  FROM per GROUP BY cents
), grand AS (
  SELECT MAX(cum_n) AS n_cust, MAX(cum_c) AS tot_cents FROM ranked
)
SELECT d.decile,
       -- HUGEINT mirrors Spark's DECIMAL(38,0): the ppm numerator
       -- overflows int64 past ~sf0.4
       CAST(((CAST(r.cum_c AS HUGEINT)
              - (r.cum_n - d.r_cut) * CAST(r.cents AS HUGEINT)) * 1000000)
            // g.tot_cents AS BIGINT) AS share_ppm
FROM (
  SELECT decile, (decile * (SELECT n_cust FROM grand) + 9) // 10 AS r_cut
  FROM (SELECT unnest(generate_series(1, 10)) AS decile)
) d
JOIN ranked r ON r.cum_n - r.nv < d.r_cut AND d.r_cut <= r.cum_n
CROSS JOIN grand g
ORDER BY d.decile
"""


# --- G-test --------------------------------------------------------------------

_GT_SIZES = tuple(range(1, 11))


def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test of independence over brand x size on part: G = 2 * sum
    O * ln(O*N / (row_tot * col_tot)).  Cell terms quantized to 1e-9
    then summed as int64 (grid is brand x size, bounded); zero cells
    contribute zero by the O*ln(O..) limit."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(*_GT_SIZES))
    cells = p.groupBy("p_brand", "p_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows_ = cells.groupBy("p_brand").agg(F.sum("o").cast("bigint").alias("rt"))
    cols_ = cells.groupBy("p_size").agg(F.sum("o").cast("bigint").alias("ct"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))  # 1 row
    term = F.expr(
        "CAST(ROUND(CAST(o AS DOUBLE)"
        " * LN(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
        "      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))"
        " * 1000000000.0) AS BIGINT)"
    )
    terms = (
        cells.join(F.broadcast(rows_), "p_brand")
        .join(F.broadcast(cols_), "p_size")
        .crossJoin(F.broadcast(n))
        .withColumn("t_micro", term)
    )
    red = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("t_micro").cast("bigint").alias("t_sum"),
    )
    return red.select(
        "n_cells",
        F.round(
            F.lit(2.0) * F.col("t_sum").cast("double") / F.lit(1e9), 6
        ).alias("g_stat"),
    )


STAT_G_TEST_SQL = f"""
WITH p AS (
  SELECT p_brand, p_size FROM part
  WHERE p_size IN ({', '.join(str(s) for s in _GT_SIZES)})
), cells AS (
  SELECT p_brand, p_size, CAST(COUNT(*) AS BIGINT) AS o
  FROM p GROUP BY 1, 2
), rt AS (SELECT p_brand, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
ct AS (SELECT p_size, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT CAST(ROUND(CAST(o AS DOUBLE)
              * LN(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                   / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
              * 1000000000.0) AS BIGINT) AS t_micro
  FROM cells JOIN rt USING (p_brand) JOIN ct USING (p_size) CROSS JOIN nn
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(2.0 * CAST(SUM(t_micro) AS DOUBLE) / 1e9, 6) AS g_stat
FROM terms
"""


# --- runs test ------------------------------------------------------------------

def ord_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily order revenue vs the median
    day: above/below labels over the day spine, runs counted by LAG,
    z from the exact integer (n1, n2, runs).  Median-day revenue =
    the value at rank ceil(n/2) (deterministic, day tiebreak); days
    AT the median are excluded (the classical dichotomy).  All
    windows run over the bounded day spine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    wv = Window.orderBy("rev", "day")
    wn = Window.partitionBy(F.lit(1))
    med = (
        daily.select(
            "rev",
            F.row_number().over(wv).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n_days"),
        )
        .filter(F.col("rk") * 2 == F.col("n_days") + (F.col("n_days") % 2))
        .select(F.col("rev").alias("med_rev"))
    )  # 1 row: rank ceil(n/2)
    lab = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("med_rev"))
        .select(
            "day", (F.col("rev") > F.col("med_rev")).cast("bigint").alias("hi")
        )
    )
    wd = Window.orderBy("day")
    runs = lab.select(
        "hi",
        (
            F.col("hi") != F.coalesce(F.lag("hi").over(wd), F.lit(-1))
        ).cast("bigint").alias("new_run"),
    )
    red = runs.agg(
        F.sum("hi").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("hi")).cast("bigint").alias("n2"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    z = F.expr(
        "ROUND((CAST(n_runs AS DOUBLE)"
        " - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        "    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))"
        " / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        "        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        "           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
        "        / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
        "           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
        "           * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))), 6)"
    )
    return red.select("n1", "n2", "n_runs", z.alias("z"))


ORD_RUNS_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
), med AS (
  SELECT rev AS med_rev FROM (
    SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, day) AS rk,
           COUNT(*) OVER () AS n_days
    FROM daily
  ) WHERE rk * 2 = n_days + (n_days % 2)
), lab AS (
  SELECT day, CASE WHEN rev > (SELECT med_rev FROM med) THEN 1 ELSE 0 END
           AS hi
  FROM daily WHERE rev <> (SELECT med_rev FROM med)
), runs AS (
  SELECT hi,
         CASE WHEN hi <> COALESCE(LAG(hi) OVER (ORDER BY day), -1)
              THEN 1 ELSE 0 END AS new_run
  FROM lab
), red AS (
  SELECT CAST(SUM(hi) AS BIGINT) AS n1,
         CAST(SUM(1 - hi) AS BIGINT) AS n2,
         CAST(SUM(new_run) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n1, n2, n_runs,
       ROUND((CAST(n_runs AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
             / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                    / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))), 6)
         AS z
FROM red
"""


QUERIES = {
    "li_newsvendor_quantile": li_newsvendor_quantile,
    "cust_lorenz_deciles": cust_lorenz_deciles,
    "stat_g_test": stat_g_test,
    "ord_runs_test": ord_runs_test,
}

ORACLES = {
    "li_newsvendor_quantile": LI_NEWSVENDOR_SQL,
    "cust_lorenz_deciles": CUST_LORENZ_SQL,
    "stat_g_test": STAT_G_TEST_SQL,
    "ord_runs_test": ORD_RUNS_SQL,
}
