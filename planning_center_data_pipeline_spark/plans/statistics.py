"""Statistical tests and estimators (`stat_`) and rank-agreement
measures (`rank_`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, sql_cents
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- Kendall's coefficient of concordance -------------------------------------------


def rank_kendall_w_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W: do the order years (judges) agree on how they rank
    the 25 nations (subjects) by yearly revenue?  The nation x year
    grid is completed with 0-revenue cells (bounded 25 x |years|
    cross join), DOUBLED midranks keep everything integer
    (r2 = 2*RANK + t - 1 via per-year windows), and
    W = 3 * S4 / (k^2 (n^3 - n) - k * sum T_j) with the standard tie
    correction T_j = sum (t^3 - t) — exact rationals end to end,
    one ROUND 6 at the finish.  Scale shape: fact rollup to the
    bounded grid; windows partitioned per year over 25 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("nk", "yr")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    years = rev.select(F.col("yr").alias("year")).distinct()
    grid = (
        n.select(F.col("n_nationkey").alias("nk2"))
        .crossJoin(F.broadcast(years))
        .join(
            rev,
            (F.col("nk2") == F.col("nk")) & (F.col("year") == F.col("yr")),
            "left",
        )
        .select(
            F.col("nk2").alias("nation_key"),
            "year",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    wy = Window.partitionBy("year").orderBy("cents")
    wt = Window.partitionBy("year", "cents")
    ranked = grid.select(
        "nation_key",
        "year",
        (
            2 * F.rank().over(wy) + F.count(F.lit(1)).over(wt) - 1
        ).alias("r2"),
        (
            F.count(F.lit(1)).over(wt)
            * F.count(F.lit(1)).over(wt)
            * F.count(F.lit(1)).over(wt)
            - F.count(F.lit(1)).over(wt)
        ).alias("tcube"),
    )
    sums = ranked.groupBy("nation_key").agg(
        F.sum("r2").cast("bigint").alias("r2sum"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    # sum of (t^3 - t): each tie group of size t contributes t times
    # the value (t^3 - t), so divide by t == take per-group once via
    # distinct on (year, cents, tcube, t); simpler exact route: sum
    # tcube over ALL rows counts each group t times -> divide by t is
    # wrong per-row; instead sum (t^2 - 1) per row == sum_groups t*(t^2-1)
    # == sum_groups (t^3 - t).  (t from the same window.)
    ties = grid.select(
        (
            F.count(F.lit(1)).over(wt) * F.count(F.lit(1)).over(wt) - 1
        ).alias("t2m1")
    ).agg(F.sum("t2m1").cast("bigint").alias("tsum"))
    # Mean doubled midrank per year is (n_subjects + 1), DERIVED from
    # the grid's own nation cardinality (round-10 ADVICE: a literal 26
    # would go silently wrong in both engines if nation count changed).
    nsub = grid.select("nation_key").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nsub")
    )
    stats = (
        sums.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nsub))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
            F.min("k").alias("k_years"),
            F.min("tsum").alias("tsum"),
            F.sum(
                (
                    F.col("r2sum") - F.col("k") * (F.col("nsub") + 1)
                ).cast("decimal(38,0)")
                * (F.col("r2sum") - F.col("k") * (F.col("nsub") + 1))
            ).alias("s4"),
        )
    )
    w_expr = (
        "3 * CAST(s4 AS DOUBLE)"
        " / (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)"
        "    * (CAST(n_subjects AS DOUBLE) * CAST(n_subjects AS DOUBLE)"
        "       * CAST(n_subjects AS DOUBLE) - CAST(n_subjects AS DOUBLE))"
        "    - CAST(k_years AS DOUBLE) * CAST(tsum AS DOUBLE))"
    )
    return stats.select(
        "n_subjects",
        "k_years",
        F.col("s4").cast("double").alias("s4_d"),
        F.round(F.expr(w_expr), 6).alias("kendall_w"),
    )


_KENDALL_W_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, EXTRACT(year FROM o_orderdate) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), years AS (SELECT DISTINCT yr FROM rev),
grid AS (
  SELECT n.n_nationkey AS nation_key, y.yr AS year,
         COALESCE(r.cents, 0) AS cents
  FROM nation n CROSS JOIN years y
  LEFT JOIN rev r ON r.nk = n.n_nationkey AND r.yr = y.yr
), ranked AS (
  SELECT nation_key, year,
         2 * RANK() OVER (PARTITION BY year ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY year, cents) - 1 AS r2
  FROM grid
), sums AS (
  SELECT nation_key, CAST(SUM(r2) AS BIGINT) AS r2sum,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM ranked GROUP BY nation_key
), ties AS (
  SELECT CAST(SUM(t * t - 1) AS BIGINT) AS tsum
  FROM (
    SELECT COUNT(*) OVER (PARTITION BY year, cents) AS t FROM grid
  )
), nsub AS (
  SELECT CAST(COUNT(DISTINCT nation_key) AS BIGINT) AS nsub FROM grid
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
         MIN(k) AS k_years, MIN(tsum) AS tsum,
         SUM(CAST(r2sum - k * (nsub + 1) AS HUGEINT)
             * (r2sum - k * (nsub + 1))) AS s4
  FROM sums CROSS JOIN ties CROSS JOIN nsub
)
SELECT n_subjects, k_years, CAST(s4 AS DOUBLE) AS s4_d,
       ROUND(3 * CAST(s4 AS DOUBLE)
             / (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                * (CAST(n_subjects AS DOUBLE) * CAST(n_subjects AS DOUBLE)
                   * CAST(n_subjects AS DOUBLE)
                   - CAST(n_subjects AS DOUBLE))
                - CAST(k_years AS DOUBLE) * CAST(tsum AS DOUBLE)), 6)
         AS kendall_w
FROM stats
"""


# --- rank-biased overlap ------------------------------------------------------

_RBO_P = 0.9

_RBO_DEPTH = 20

_RBO_LCM = 232792560  # LCM(1..20): clears every 1/d to an integer


# p^(d-1) as integer micro literals — no cross-engine POWER() reliance
_RBO_W = [round(1_000_000 * _RBO_P ** (d - 1)) for d in range(1, _RBO_DEPTH + 1)]


def rank_rbo_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    top-20 revenue parts of 1994 and 1995 — 'how much did the
    bestseller list actually change?'.  RBO@20 with p = 0.9:

        rbo = (1 - p) * sum_{d=1..20} p^(d-1) * |A_d  intersect  B_d| / d

    All summands are cleared to exact int64 (p-powers as micro-integer
    literals, 1/d through LCM(1..20)); one double division at the end.
    Scale: two year-filtered aggregates (shuffle on partkey), then
    everything is a 20x20 literal-depth computation."""
    li = load_table(spark, sf_dir, "lineitem")

    def topk(year: int, rcol: str) -> DataFrame:
        rev = (
            li.filter(F.year("l_shipdate") == year)
            .groupBy("l_partkey")
            .agg(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("rev")
            )
        )
        # top-k first (TakeOrderedAndProject — parallel partial top-k
        # per partition), THEN rank: the global window only ever sees
        # <= _RBO_DEPTH rows instead of the whole part catalog.
        top = rev.orderBy(F.desc("rev"), "l_partkey").limit(_RBO_DEPTH)
        w = Window.orderBy(F.desc("rev"), "l_partkey")  # <= 20 rows
        return top.withColumn(rcol, F.row_number().over(w)).select(
            "l_partkey", rcol
        )

    both = topk(1994, "ra").join(topk(1995, "rb"), "l_partkey")
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    overlap = (
        depths.join(
            both,
            (both.ra <= depths.d) & (both.rb <= depths.d),
            "left",
        )
        .groupBy("d")
        .agg(F.count("l_partkey").cast("bigint").alias("overlap"))
    )
    wexpr = F.element_at(
        F.array(*[F.lit(x) for x in _RBO_W]), F.col("d").cast("int")
    )
    # LCM(1..20) divides evenly by every d, so the integer division is
    # exact — same as DuckDB's `//`
    scored = overlap.withColumn("w", wexpr).select(
        "d",
        "overlap",
        F.expr(f"CAST(w * overlap * {_RBO_LCM} DIV d AS BIGINT)").alias(
            "term_scaled"
        ),
    )
    w2 = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return scored.select(
        F.col("d").cast("bigint").alias("d"),
        "overlap",
        "term_scaled",
        (
            F.sum("term_scaled").over(w2).cast("double")
            * (1.0 - _RBO_P)
            / (1_000_000.0 * _RBO_LCM)
        ).alias("rbo_at_d"),
    ).orderBy("d")


_RBO_W_SQL = ", ".join(str(x) for x in _RBO_W)

_RBO_SQL = f"""
WITH ra AS (
  SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS ra
  FROM (SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1994
        GROUP BY 1)
  QUALIFY ra <= {_RBO_DEPTH}
), rb AS (
  SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rb
  FROM (SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1995
        GROUP BY 1)
  QUALIFY rb <= {_RBO_DEPTH}
), ab AS (
  SELECT ra.l_partkey, ra, rb FROM ra JOIN rb USING (l_partkey)
), depths AS (
  SELECT unnest(generate_series(1, {_RBO_DEPTH})) AS d
), ov AS (
  SELECT d, CAST(COUNT(b.l_partkey) AS BIGINT) AS overlap
  FROM depths LEFT JOIN ab b ON b.ra <= d AND b.rb <= d
  GROUP BY d
), scored AS (
  SELECT d, overlap,
         CAST(([{_RBO_W_SQL}])[CAST(d AS INT)] * overlap
              * {_RBO_LCM} // d AS BIGINT) AS term_scaled
  FROM ov
)
SELECT CAST(d AS BIGINT) AS d, overlap, term_scaled,
       CAST(SUM(term_scaled) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) * {1.0 - _RBO_P} / {1_000_000.0 * _RBO_LCM}
         AS rbo_at_d
FROM scored ORDER BY d
"""


# --- A/B conversion z-test ---------------------------------------------------

def stat_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split users into arms A/B, compare purchase conversion.

    Arm = first md5 nibble of the user id string (portable across
    engines, stable across runs — what a real experiment assignment
    needs).  "Converted" = at least 14 purchase events (splits this
    population; every user has SOME purchase, so >=1 would be
    degenerate).  n/conv are exact counts; the pooled two-proportion
    z statistic is assembled from them in one fixed expression order,
    so the doubles are bit-identical; try_divide guards the
    degenerate all-or-nothing pool.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("n_purch")
        )
        .select(
            F.when(
                F.substring(
                    F.md5(F.col("user_id").cast("string")), 1, 1
                ).isin(*"01234567"),
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
            (F.col("n_purch") >= 14).cast("bigint").alias("converted"),
        )
    )
    j = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    a = j.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    b = j.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    out = a.crossJoin(F.broadcast(b))
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return out.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        z.alias("z_score"),
    )


STAT_AB_CONVERSION_SQL = """
WITH per_user AS (
  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
), j AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM per_user GROUP BY arm
), a AS (SELECT n_users AS n_a, n_conv AS conv_a FROM j WHERE arm = 'A'),
b AS (SELECT n_users AS n_b, n_conv AS conv_b FROM j WHERE arm = 'B')
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE)/n_a AS rate_a,
       CAST(conv_b AS DOUBLE)/n_b AS rate_b,
       (CAST(conv_a AS DOUBLE)/n_a - CAST(conv_b AS DOUBLE)/n_b)
       / NULLIF(sqrt( (CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE)/(n_a + n_b))
               * (1.0/n_a + 1.0/n_b) ), 0.0) AS z_score
FROM a CROSS JOIN b
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

_AB_SEG_A = "BUILDING"

_AB_SEG_B = "MACHINERY"


# --- Ansari-Bradley scale test ----------------------------------------------------------


def stat_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley test on account balances (BUILDING vs MACHINERY,
    the stat_mann_whitney samples): scores rank inward from both ends,
    so W small/large means sample A is more/less dispersed.  Doubled
    midranks r2 = 2*RANK + t - 1 keep everything integer; the doubled
    score is s2 = LEAST(r2, 2*(N+1) - r2); W2 = sum of A's s2.  The
    null moments are the EXACT finite-population sampling moments of
    the realized score multiset (ties exact by construction):
    E[W2] = m*S1/N and Var[W2] = m*n*(N*S2 - S1^2) / (N^2 (N-1)) with
    S1 = sum s2, S2 = sum s2^2 (decimal-exact).  Scale shape: the
    stat_kruskal_wallis TWO-PHASE idiom — facts reduce in one
    partial-agg shuffle to the per-VALUE tie-group rollup (bounded by
    the cents domain, <= ~1.1M rows, constant w.r.t. fact growth),
    the midrank prefix sum runs over that rollup, then a 1-row
    moment reduce."""
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_AB_SEG_A, _AB_SEG_B)
    ).select(
        (F.col("c_mktsegment") == _AB_SEG_A).cast("bigint").alias("is_a"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
    )
    gl = base.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    vals = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("is_a").cast("bigint").alias("cnt_a"),
    )
    wprev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    scored = (
        vals.crossJoin(F.broadcast(gl))
        .select(
            "cnt",
            "cnt_a",
            "nn",
            (
                2 * (F.coalesce(F.sum("cnt").over(wprev), F.lit(0)) + 1)
                + F.col("cnt")
                - 1
            ).cast("bigint").alias("r2"),
        )
        .select(
            "cnt",
            "cnt_a",
            "nn",
            F.least(
                F.col("r2"), 2 * (F.col("nn") + 1) - F.col("r2")
            ).alias("s2"),
        )
    )
    stats = scored.agg(
        F.min("nn").alias("nn"),
        F.sum("cnt_a").cast("bigint").alias("m"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("n"),
        F.sum(F.col("cnt_a") * F.col("s2")).cast("bigint").alias("w2"),
        F.sum(F.col("cnt") * F.col("s2")).cast("bigint").alias("s1"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("s2") * F.col("s2")
        ).alias("ssq"),
    )
    z_expr = (
        "(CAST(w2 AS DOUBLE) - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(nn AS DOUBLE))"
        " / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)"
        "        * (CAST(nn AS DOUBLE) * CAST(ssq AS DOUBLE)"
        "           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        "        / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)"
        "           * (CAST(nn AS DOUBLE) - 1.0)))"
    )
    return stats.select(
        F.col("m").alias("n_a"),
        F.col("n").alias("n_b"),
        "w2",
        F.round(
            F.col("m").cast("double") * F.col("s1").cast("double")
            / F.col("nn").cast("double"),
            6,
        ).alias("e_w2"),
        F.round(F.expr(z_expr), 6).alias("z"),
    )


_AB_SQL = f"""
WITH base AS (
  SELECT CAST(c_mktsegment = '{_AB_SEG_A}' AS BIGINT) AS is_a,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
  WHERE c_mktsegment IN ('{_AB_SEG_A}', '{_AB_SEG_B}')
), gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM base),
vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(is_a) AS BIGINT) AS cnt_a
  FROM base GROUP BY v
), scored AS (
  SELECT cnt, cnt_a, nn,
         LEAST(r2, 2 * (nn + 1) - r2) AS s2
  FROM (
    SELECT cnt, cnt_a, nn,
           CAST(2 * (COALESCE(SUM(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + 1)
                + cnt - 1 AS BIGINT) AS r2
    FROM vals CROSS JOIN gl
  )
), stats AS (
  SELECT MIN(nn) AS nn,
         CAST(SUM(cnt_a) AS BIGINT) AS m,
         CAST(SUM(cnt - cnt_a) AS BIGINT) AS n,
         CAST(SUM(cnt_a * s2) AS BIGINT) AS w2,
         CAST(SUM(cnt * s2) AS BIGINT) AS s1,
         SUM(CAST(cnt AS HUGEINT) * s2 * s2) AS ssq
  FROM scored
)
SELECT m AS n_a, n AS n_b, w2,
       ROUND(CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE), 6)
         AS e_w2,
       ROUND((CAST(w2 AS DOUBLE) - CAST(m AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(nn AS DOUBLE))
             / SQRT(CAST(m AS DOUBLE) * CAST(n AS DOUBLE)
                    * (CAST(nn AS DOUBLE) * CAST(ssq AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - 1.0))), 6) AS z
FROM stats
"""


# --- Bartlett variance-homogeneity test ---------------------------------------------


def stat_bartlett_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity for l_quantity across
    the l_returnflag groups.  Group moments (n, sum, sum-of-squares)
    are exact integers (DECIMAL(38,0) products — n*ss overflows int64
    at sf10); every cross-group SUM runs over integers QUANTIZED from
    one shared double expression per group (micro-unit rounding), so
    the 3-way association order can never flip a bit.  The statistic
    B = ((N-k) ln s2_p - sum (n_g-1) ln s2_g) / C with the standard
    small-sample correction C.  Scale shape: one fact rollup to a
    3-row grid; everything after is constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
        )
    )
    # shared per-group expressions over exact integers, quantized to
    # micro-units so the 3-row sums are order-free integer sums
    per = g.select(
        "n",
        # (n-1) * s2_g  == (n*ss - s*s)/n, in micro-units
        F.expr(
            "CAST(ROUND((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " / CAST(n AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("t_q"),
        # (n-1) * ln(s2_g), micro-units
        F.expr(
            "CAST(ROUND((CAST(n AS DOUBLE) - 1)"
            " * LN((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
            "       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            "      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))"
            " * 1e6) AS BIGINT)"
        ).alias("u_q"),
        # 1/(n-1), femto-units
        F.expr("CAST(ROUND(1e15 / (CAST(n AS DOUBLE) - 1)) AS BIGINT)").alias(
            "inv_q"
        ),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("t_q").cast("bigint").alias("tsum"),
        F.sum("u_q").cast("bigint").alias("usum"),
        F.sum("inv_q").cast("bigint").alias("invsum"),
    )
    b = (
        "((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))"
        " * LN(CAST(tsum AS DOUBLE) / 1e6"
        "      / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
        " - CAST(usum AS DOUBLE) / 1e6)"
        " / (1 + (CAST(invsum AS DOUBLE) / 1e15"
        "         - 1 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
        "        / (3 * (CAST(k AS DOUBLE) - 1)))"
    )
    return tot.select(
        "k", F.col("nn").alias("n"), F.round(F.expr(b), 6).alias("bartlett_b")
    )


_BARTLETT_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS HUGEINT)) AS s,
         SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS ss
  FROM lineitem GROUP BY l_returnflag
), per AS (
  SELECT n,
         CAST(ROUND((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS t_q,
         CAST(ROUND((CAST(n AS DOUBLE) - 1)
              * LN((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
              * 1e6) AS BIGINT) AS u_q,
         CAST(ROUND(1e15 / (CAST(n AS DOUBLE) - 1)) AS BIGINT) AS inv_q
  FROM g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(t_q) AS BIGINT) AS tsum,
         CAST(SUM(u_q) AS BIGINT) AS usum,
         CAST(SUM(inv_q) AS BIGINT) AS invsum
  FROM per
)
SELECT k, nn AS n,
       ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
              * LN(CAST(tsum AS DOUBLE) / 1e6
                   / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
              - CAST(usum AS DOUBLE) / 1e6)
             / (1 + (CAST(invsum AS DOUBLE) / 1e15
                     - 1 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
                    / (3 * (CAST(k AS DOUBLE) - 1))), 6) AS bartlett_b
FROM tot
"""

_BH_PERMS = 200

_BH_ALPHA_INV = 20  # alpha = 1/20


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


# --- statistics: deterministic Poisson bootstrap CI ----------------------------

# floor(CDF_Poisson(1)(k) * 2^60) for k = 0..4: fixed integer cutoffs,
# identical literals on both engines — the draw is u >= cutoff sums, no
# float comparison anywhere.
_POIS_CUTS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)

_B = 32  # bootstrap replicas


def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 90% CI for mean order value — the
    single-pass, streamable bootstrap (each row draws an independent
    Poisson(1) replication count per replica; no resampling shuffle,
    no global state).  Determinism: the Poisson draw inverts fixed
    integer CDF cutoffs against a md5-60 uniform per (row, replica),
    so every engine and partitioning produces the SAME 32 replica
    means; the CI is the 2nd-lowest/2nd-highest replica mean.
    Replica means are exact int ratios; floats appear only in the
    final division.  Scale: the explode is a flat 32x map-side
    fan-out feeding one 32-group aggregate — no skew, no collect."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cts")
    )
    # Parallelism floor (same wall as operators/dedup.shingle_table):
    # the 32x md5 draw stream is CPU-dense per input row and parquet
    # cannot split below a row group — a single-file orders table
    # scans as ONE partition and serializes all 32N draws (measured
    # 4.8s -> 1.4s warm at sf0.1 with the floor; a no-op at real scale).
    o = cpu_floor(o, "o_orderkey", cap=16)
    u = md5_hash60(
        F.concat(
            F.col("o_orderkey").cast("string"), F.lit("#"), F.col("b").cast("string")
        )
    )
    k = sum(
        (u >= F.lit(c)).cast("int") for c in _POIS_CUTS
    )
    replicas = (
        o.select(
            "o_orderkey",
            "cts",
            F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        )
        .select("b", "cts", k.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cts")).cast("double")
                / F.sum("w")
            ).alias("mean_cents")
        )
    )
    w = Window.orderBy("mean_cents", "b")
    ranked = replicas.withColumn("rk", F.row_number().over(w))
    return (
        ranked.agg(
            F.max(F.when(F.col("rk") == 2, F.col("mean_cents"))).alias("ci_lo"),
            F.max(F.when(F.col("rk") == _B - 1, F.col("mean_cents"))).alias(
                "ci_hi"
            ),
        )
    )


_POIS_K_SQL = " + ".join(
    f"CASE WHEN u >= {c} THEN 1 ELSE 0 END" for c in _POIS_CUTS
)

STAT_BOOTSTRAP_CI_SQL = f"""
WITH drawn AS (
  SELECT g.b,
         {sql_cents("o_totalprice")} AS cts,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(g.b AS VARCHAR)), 1, 15) AS BIGINT) AS u
  FROM orders, generate_series(0, {_B - 1}) g(b)
), replicas AS (
  SELECT b,
         CAST(SUM(({_POIS_K_SQL}) * cts) AS DOUBLE)
           / CAST(SUM({_POIS_K_SQL}) AS BIGINT) AS mean_cents
  FROM drawn GROUP BY b
), ranked AS (
  SELECT mean_cents,
         ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk
  FROM replicas
)
SELECT MAX(CASE WHEN rk = 2 THEN mean_cents END) AS ci_lo,
       MAX(CASE WHEN rk = {_B - 1} THEN mean_cents END) AS ci_hi
FROM ranked
"""


# --- Brown-Forsythe --------------------------------------------------------------

_BF_GROUPS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test for equality of
    totalprice spread across the five order priorities:

        Z_ij = |x_ij - median_i|  (exact ints: cents vs the exact
        cumulative-count lower median)
        F = [(N - k) / (k - 1)] * SSB / SSW

    SSB and SSW are assembled from per-group integer triples
    (n_i, S_i = sum Z, Q_i = sum Z^2).  The five triples are picked
    into ONE row by single-match conditional sums (each WHEN matches
    exactly one group row — no float-sum reassociation anywhere), and
    the final F is a literal-ordered double expression shared with the
    oracle.  Shape: two fact shuffles (per-(group, cents) rollup and
    the Z aggregate), everything after is 5 rows."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    per_val = o.groupBy("g", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    win = Window.partitionBy("g").orderBy("c")
    tot = Window.partitionBy("g")
    med = (
        per_val.select(
            "g",
            "c",
            F.sum("w").over(win).alias("cumw"),
            F.sum("w").over(tot).alias("W"),
        )
        .filter(F.col("cumw") * 2 >= F.col("W"))
        .groupBy("g")
        .agg(F.min("c").alias("med"))
    )
    z = o.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("c") - F.col("med")).alias("z")
    )
    # z*z fits int64 per row (<2^52) but its SUM does not at SF >= 1:
    # accumulate in DECIMAL(38,0) (== DuckDB's automatic HUGEINT sum),
    # consumed only as a double in the ssw expression
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,0)")).alias("q"),
    )
    # pick the 5 triples into one row: each conditional sum matches
    # exactly one group row, so no reassociation can occur
    pick = grp.agg(
        *[
            F.sum(F.when(F.col("g") == gname, F.col(col))).alias(f"{col}{i}")
            for i, gname in enumerate(_BF_GROUPS)
            for col in ("n", "s", "q")
        ]
    )
    k = len(_BF_GROUPS)
    mean_terms = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(k))
    n_terms = " + ".join(f"n{i}" for i in range(k))
    ssb = " + ".join(
        f"CAST(n{i} AS DOUBLE) * (CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        f" - zbar) * (CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) - zbar)"
        for i in range(k)
    )
    ssw = " + ".join(
        f"(CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
        f" / CAST(n{i} AS DOUBLE))"
        for i in range(k)
    )
    return (
        pick.withColumn("N", F.expr(f"CAST({n_terms} AS BIGINT)"))
        .withColumn("zbar", F.expr(f"({mean_terms}) / CAST(N AS DOUBLE)"))
        .withColumn("ssb", F.expr(ssb))
        .withColumn("ssw", F.expr(ssw))
        .select(
            "N",
            F.lit(k).cast("bigint").alias("k"),
            "ssb",
            "ssw",
            F.expr(
                f"(CAST(N - {k} AS DOUBLE) / {float(k - 1)}) * ssb / ssw"
            ).alias("f_stat"),
        )
    )


def _bf_oracle() -> str:
    k = len(_BF_GROUPS)
    picks = ", ".join(
        f"SUM(CASE WHEN g = '{gname}' THEN {col} END) AS {col}{i}"
        for i, gname in enumerate(_BF_GROUPS)
        for col in ("n", "s", "q")
    )
    mean_terms = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(k))
    n_terms = " + ".join(f"n{i}" for i in range(k))
    ssb = " + ".join(
        f"CAST(n{i} AS DOUBLE) * (CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        f" - zbar) * (CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) - zbar)"
        for i in range(k)
    )
    ssw = " + ".join(
        f"(CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
        f" / CAST(n{i} AS DOUBLE))"
        for i in range(k)
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), per_val AS (
  SELECT g, c, CAST(COUNT(*) AS BIGINT) AS w FROM o GROUP BY 1, 2
), med AS (
  SELECT g, MIN(c) AS med FROM (
    SELECT g, c,
           SUM(w) OVER (PARTITION BY g ORDER BY c) AS cumw,
           SUM(w) OVER (PARTITION BY g) AS W
    FROM per_val
  ) WHERE cumw * 2 >= W GROUP BY g
), z AS (
  SELECT o.g, ABS(o.c - med.med) AS z FROM o JOIN med USING (g)
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS s,
         SUM(z * z) AS q  -- HUGEINT: the z^2 sum exceeds int64 at SF >= 1
  FROM z GROUP BY g
), pick AS (
  SELECT {picks} FROM grp
), terms AS (
  SELECT *, CAST({n_terms} AS BIGINT) AS N,
         ({mean_terms}) / CAST({n_terms} AS DOUBLE) AS zbar
  FROM pick
), agg AS (
  SELECT N, {ssb} AS ssb, {ssw} AS ssw FROM terms
)
SELECT N, CAST({k} AS BIGINT) AS k, ssb, ssw,
       (CAST(N - {k} AS DOUBLE) / {float(k - 1)}) * ssb / ssw AS f_stat
FROM agg
"""


# --- chi-square independence -------------------------------------------------

def stat_chi2_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for p_brand x p_size independence.

    chi2 = n * (sum over cells of obs^2/(row_tot*col_tot)) - n.  The
    per-cell ratio is rounded into 1e-12 fixed point BIGINTs before
    the global sum, so the reduction is exact-integer and order-free;
    marginals ride 1-row/broadcast joins.  A float chi2 summed in
    shuffle order would differ in the last bits run to run.
    """
    p = load_table(spark, sf_dir, "part")
    obs = p.groupBy("p_brand", "p_size").agg(
        F.count("*").alias("o")
    )
    row_t = obs.groupBy("p_brand").agg(F.sum("o").cast("bigint").alias("rt"))
    col_t = obs.groupBy("p_size").agg(
        F.sum("o").cast("bigint").alias("ct")
    )
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        obs.join(F.broadcast(row_t), "p_brand")
        .join(F.broadcast(col_t), "p_size")
        .select(
            F.round(
                F.col("o").cast("double")
                * F.col("o").cast("double")
                / (F.col("rt") * F.col("ct"))
                * F.lit(1e12)
            ).cast("bigint").alias("contrib_fp")
        )
        .agg(F.sum("contrib_fp").cast("bigint").alias("s_fp"))
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "n",
            (
                F.col("n").cast("double")
                * (F.col("s_fp").cast("double") / 1e12)
                - F.col("n").cast("double")
            ).alias("chi2"),
        )
    )


STAT_CHI2_SQL = """
WITH obs AS (
  SELECT p_brand, p_size, COUNT(*) AS o
  FROM part GROUP BY p_brand, p_size
), row_t AS (
  SELECT p_brand, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY p_brand
), col_t AS (
  SELECT p_size, CAST(SUM(o) AS BIGINT) AS ct
  FROM obs GROUP BY p_size
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
), cells AS (
  SELECT CAST(SUM(CAST(ROUND(
           CAST(o AS DOUBLE)*CAST(o AS DOUBLE)/(rt*ct)*1e12
         ) AS BIGINT)) AS BIGINT) AS s_fp
  FROM obs
  JOIN row_t USING (p_brand)
  JOIN col_t USING (p_size)
)
SELECT n,
       CAST(n AS DOUBLE) * (CAST(s_fp AS DOUBLE)/1e12) - CAST(n AS DOUBLE)
         AS chi2
FROM cells CROSS JOIN tot
"""


# --- Cochran's Q -------------------------------------------------------------------

_CQ_YEARS = (1995, 1996, 1997)


def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k = 3 related binary treatments (ordered in
    year y?) with every customer a subject:
    Q = (k-1) * [k * sum_j G_j^2 - T^2] / [k * T - sum_i L_i^2]
    where G_j = positives per year, L_i = positives per customer,
    T = total positives.  All sums exact int64 (L_i <= 3 so L^2 <= 9);
    one fact rollup on (custkey, year) -> per-customer and per-year
    rollups."""
    o = load_table(spark, sf_dir, "orders")
    flags = (
        o.where(F.year("o_orderdate").isin(*_CQ_YEARS))
        .select(
            F.col("o_custkey").alias("ck"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .distinct()
    )
    per_cust = flags.groupBy("ck").agg(
        F.count(F.lit(1)).cast("bigint").alias("l")
    )
    per_year = flags.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("g")
    )
    k = float(len(_CQ_YEARS))
    gsums = per_year.agg(
        F.sum("g").cast("bigint").alias("t"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("g2"),
    )
    lsums = per_cust.agg(
        F.sum(F.col("l") * F.col("l")).cast("bigint").alias("l2"),
    )
    return (
        gsums.crossJoin(F.broadcast(lsums))
        .select(
            F.col("t").alias("n_positives"),
            F.round(
                (k - 1.0)
                * (
                    k * F.col("g2").cast("double")
                    - F.col("t").cast("double") * F.col("t").cast("double")
                )
                / (
                    k * F.col("t").cast("double")
                    - F.col("l2").cast("double")
                ),
                6,
            ).alias("q_stat"),
        )
    )


_COCHRAN_SQL = f"""
WITH flags AS (
  SELECT DISTINCT o_custkey AS ck,
         CAST(YEAR(o_orderdate) AS BIGINT) AS yr
  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996, 1997)
), per_cust AS (
  SELECT ck, CAST(COUNT(*) AS BIGINT) AS l FROM flags GROUP BY ck
), per_year AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS g FROM flags GROUP BY yr
), gsums AS (
  SELECT CAST(SUM(g) AS BIGINT) AS t,
         CAST(SUM(g * g) AS BIGINT) AS g2
  FROM per_year
), lsums AS (
  SELECT CAST(SUM(l * l) AS BIGINT) AS l2 FROM per_cust
)
SELECT t AS n_positives,
       ROUND(2.0 * (3.0 * CAST(g2 AS DOUBLE)
                    - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
             / (3.0 * CAST(t AS DOUBLE) - CAST(l2 AS DOUBLE)), 6) AS q_stat
FROM gsums, lsums
"""


# --- Cohen's kappa ---------------------------------------------------------------

# classifier 1: priority tier; classifier 2: totalprice band (dollars)
_KAPPA_PRICE_BANDS = (100_000_00, 250_000_00)  # cents cutoffs


def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic 3-class order labelers:
    priority tier (urgent-high / medium / low) vs totalprice band
    (< $100k / < $250k / rest).  With d = sum of the contingency
    diagonal and e = sum_k row_k * col_k,

        kappa = (n*d - e) / (n*n - e)

    — exact int64 numerator and denominator, one double division; the
    output also carries d, e and n so the oracle pins every
    intermediate.  One groupBy over the fact table; the 3x3 table and
    marginals are constant-size."""
    o = load_table(spark, sf_dir, "orders")
    lo, hi = _KAPPA_PRICE_BANDS
    labeled = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .alias("c1"),
        F.when(F.round(F.col("o_totalprice") * 100) < lo, 0)
        .when(F.round(F.col("o_totalprice") * 100) < hi, 1)
        .otherwise(2)
        .alias("c2"),
    )
    cells = labeled.groupBy("c1", "c2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rows = cells.groupBy("c1").agg(F.sum("cnt").alias("row_n"))
    cols = cells.groupBy("c2").agg(F.sum("cnt").alias("col_n"))
    e = (
        rows.join(cols, rows.c1 == cols.c2)
        .agg(F.sum(F.col("row_n") * F.col("col_n")).cast("bigint").alias("e"))
    )
    nd = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("c1") == F.col("c2"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    return nd.crossJoin(F.broadcast(e)).select(
        "n",
        "d",
        "e",
        (
            (F.col("n") * F.col("d") - F.col("e")).cast("double")
            / (F.col("n") * F.col("n") - F.col("e")).cast("double")
        ).alias("kappa"),
    )


_KAPPA_SQL = f"""
WITH labeled AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
              WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 2 END AS c1,
         CASE WHEN ROUND(o_totalprice * 100) < {_KAPPA_PRICE_BANDS[0]} THEN 0
              WHEN ROUND(o_totalprice * 100) < {_KAPPA_PRICE_BANDS[1]} THEN 1
              ELSE 2 END AS c2
  FROM orders
), cells AS (
  SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS cnt FROM labeled GROUP BY 1, 2
), rc AS (
  SELECT CAST(SUM(r.row_n * c.col_n) AS BIGINT) AS e
  FROM (SELECT c1, SUM(cnt) AS row_n FROM cells GROUP BY c1) r
  JOIN (SELECT c2, SUM(cnt) AS col_n FROM cells GROUP BY c2) c
    ON r.c1 = c.c2
), nd AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c1 = c2 THEN cnt ELSE 0 END) AS BIGINT) AS d
  FROM cells
)
SELECT n, d, e,
       CAST(n * d - e AS DOUBLE) / CAST(n * n - e AS DOUBLE) AS kappa
FROM nd CROSS JOIN rc
"""


# --- discrete Cramer-von Mises ------------------------------------------------------


def stat_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete two-sample Cramer-von Mises statistic comparing the
    l_quantity distribution of returned (flag 'R') vs non-returned
    lines: T = n*m/(n+m)^2 * sum_x pooled(x) * (F_n(x) - G_m(x))^2
    over the pooled 50-value ECDF.  Integer-cleared: the sum's
    numerator sum_x pooled(x) * (m*cumA(x) - n*cumB(x))^2 lives in
    HUGEINT; the final scaling is one shared double expression.
    One fact shuffle (the (side, q) rollup); the ECDF runs over <= 50
    rows."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        (F.col("l_returnflag") == "R").cast("int").alias("ret"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("c"))
    per_q = cells.groupBy("q").agg(
        F.sum(F.when(F.col("ret") == 1, F.col("c")).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("ret") == 0, F.col("c")).otherwise(0)).alias("b"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_q.select(
        "q",
        (F.col("a") + F.col("b")).alias("pooled"),
        F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    )
    totals = cum.agg(
        F.max("cum_a").cast("decimal(38,0)").alias("n"),
        F.max("cum_b").cast("decimal(38,0)").alias("m"),
    )
    num = (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "n",
            "m",
            (
                F.col("pooled").cast("decimal(38,0)")
                * (
                    F.col("m") * F.col("cum_a").cast("decimal(38,0)")
                    - F.col("n") * F.col("cum_b").cast("decimal(38,0)")
                )
                * (
                    F.col("m") * F.col("cum_a").cast("decimal(38,0)")
                    - F.col("n") * F.col("cum_b").cast("decimal(38,0)")
                )
            ).alias("term"),
        )
        .groupBy("n", "m")
        .agg(F.sum("term").alias("num"))
    )
    return num.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("m").cast("bigint").alias("m"),
        F.round(
            F.col("num").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("m").cast("double")
                * (F.col("n").cast("double") + F.col("m").cast("double"))
                * (F.col("n").cast("double") + F.col("m").cast("double"))
            ),
            6,
        ).alias("t_stat"),
    )


_CVM_SQL = """
WITH cells AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q,
         SUM(CASE WHEN ret = 1 THEN c ELSE 0 END) AS a,
         SUM(CASE WHEN ret = 0 THEN c ELSE 0 END) AS b
  FROM cells GROUP BY q
), cum AS (
  SELECT q, a + b AS pooled,
         SUM(a) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(b) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_q
), tot AS (
  SELECT CAST(MAX(cum_a) AS HUGEINT) AS n,
         CAST(MAX(cum_b) AS HUGEINT) AS m
  FROM cum
), num AS (
  SELECT tot.n, tot.m,
         SUM(CAST(pooled AS HUGEINT)
             * (tot.m * CAST(cum_a AS HUGEINT)
                - tot.n * CAST(cum_b AS HUGEINT))
             * (tot.m * CAST(cum_a AS HUGEINT)
                - tot.n * CAST(cum_b AS HUGEINT))) AS num
  FROM cum, tot GROUP BY tot.n, tot.m
)
SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))
                * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6) AS t_stat
FROM num
"""


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


# --- Grubbs-style max studentized deviation -----------------------------------------


def stat_grubbs_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs outlier statistic per nation on customer balances:
    G = max|x_i - mean| / s.  All moments are exact integers (cents,
    cents^2 in DECIMAL(38,0) — cents^2 * n would overflow int64 at
    scale), the max deviation is the exact integer max|x*n - S|, and G
    is ONE shared double expression over (maxdev, n, s, ss).  Scale
    shape: one fact rollup per nation; 25-row grid after.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = (
        c.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
        )
    )
    moments = cents.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    g = (
        "CAST(maxdev AS DOUBLE) / (CAST(n AS DOUBLE)"
        " * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))"
    )
    return (
        cents.join(F.broadcast(moments), "nation")
        .groupBy("nation")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("ss").alias("ss"),
            F.max(
                F.abs(
                    F.col("x").cast("decimal(38,0)") * F.col("n") - F.col("s")
                )
            ).alias("maxdev"),
        )
        .select(
            "nation",
            "n",
            F.col("maxdev").cast("double").alias("maxdev_d"),
            F.round(F.expr(g), 6).alias("grubbs_g"),
        )
        .orderBy("nation")
    )


_GRUBBS_SQL = """
WITH cents AS (
  SELECT n.n_name AS nation,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), moments AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ss
  FROM cents GROUP BY nation
), dev AS (
  SELECT c.nation, MIN(m.n) AS n, MIN(m.s) AS s, MIN(m.ss) AS ss,
         MAX(ABS(CAST(c.x AS HUGEINT) * m.n - m.s)) AS maxdev
  FROM cents c JOIN moments m ON c.nation = m.nation
  GROUP BY c.nation
)
SELECT nation, n,
       CAST(maxdev AS DOUBLE) AS maxdev_d,
       ROUND(CAST(maxdev AS DOUBLE) / (CAST(n AS DOUBLE)
             * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), 6)
         AS grubbs_g
FROM dev ORDER BY nation
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


# --- Kendall tau-b ---------------------------------------------------------------

_TAU_BANDS = 10

_TAU_BAND_CENTS = 1_100_000  # 11,000-dollar price bands -> 10 bands


def stat_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between l_quantity and the extended-price band,
    from the contingency table: C (concordant) and D (discordant) are
    sums of n1*n2 over ordered CELL pairs — a bounded 500x500 join no
    matter how large the fact table — and the tie terms come from the
    marginals, so

        tau_b = (C - D) / sqrt(n0 - Tx) / sqrt(n0 - Ty),  n0 = C(n,2).

    All counts and products are exact int64 (safe past SF 100); only
    the last line is floating point, written identically in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.least(
            F.lit(_TAU_BANDS - 1),
            F.expr(
                f"CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                f" DIV {_TAU_BAND_CENTS}"
            ),
        ).alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("n").alias("n1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("n").alias("n2")
    )
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("x2") > F.col("x1"))
            & (F.col("y2") != F.col("y1")),
        )
        .select(
            F.when(F.col("y2") > F.col("y1"), F.col("n1") * F.col("n2"))
            .otherwise(F.lit(0))
            .alias("c"),
            F.when(F.col("y2") < F.col("y1"), F.col("n1") * F.col("n2"))
            .otherwise(F.lit(0))
            .alias("d"),
        )
        .agg(
            F.sum("c").cast("bigint").alias("concordant"),
            F.sum("d").cast("bigint").alias("discordant"),
        )
    )
    tots = cells.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("t_cell"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(F.sum(F.expr("nx * (nx - 1) DIV 2")).cast("bigint").alias("tx"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(F.sum(F.expr("ny * (ny - 1) DIV 2")).cast("bigint").alias("ty"))
    )
    out = cd.crossJoin(F.broadcast(tots)).crossJoin(
        F.broadcast(tx)
    ).crossJoin(F.broadcast(ty))
    return out.select(
        F.expr("n * (n - 1) DIV 2").cast("bigint").alias("n0"),
        "concordant",
        "discordant",
        "tx",
        "ty",
        F.expr(
            "CAST(concordant - discordant AS DOUBLE)"
            " / SQRT(CAST(n * (n - 1) DIV 2 - tx AS DOUBLE))"
            " / SQRT(CAST(n * (n - 1) DIV 2 - ty AS DOUBLE))"
        ).alias("tau_b"),
    )


_KENDALL_SQL = f"""
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         LEAST({_TAU_BANDS - 1},
               CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 // {_TAU_BAND_CENTS}) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), cd AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
           AS discordant
  FROM cells a JOIN cells b ON b.x > a.x AND b.y <> a.y
), tots AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells
), tx AS (
  SELECT CAST(SUM(nx * (nx - 1) // 2) AS BIGINT) AS tx
  FROM (SELECT SUM(n) AS nx FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(ny * (ny - 1) // 2) AS BIGINT) AS ty
  FROM (SELECT SUM(n) AS ny FROM cells GROUP BY y)
)
SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS n0,
       concordant, discordant, tx, ty,
       CAST(concordant - discordant AS DOUBLE)
         / SQRT(CAST(n * (n - 1) // 2 - tx AS DOUBLE))
         / SQRT(CAST(n * (n - 1) // 2 - ty AS DOUBLE)) AS tau_b
FROM cd CROSS JOIN tots CROSS JOIN tx CROSS JOIN ty
"""


# --- Kruskal-Wallis without a global rank window --------------------------------


def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H for l_quantity across the three l_returnflag
    groups, tie-corrected.  l_quantity takes 50 integer values, so the
    midrank of value q is a closed form over the 50-row per-value
    rollup: midrank(q) = cnt_less(q) + (cnt_eq(q) + 1) / 2.  Doubled
    midranks (r2 = 2*cnt_less + cnt_eq + 1) stay integer; per-group
    doubled rank sums R2_g come from joining the 50-row rank table back
    to the 150-cell (flag, quantity) rollup — every fact-sized
    structure reduces in ONE partial-aggregated shuffle, and the rank
    arithmetic happens on <=50 rows.

    H = [12 / (N(N+1)) * sum_g (R2_g/2)^2 / n_g - 3(N+1)] / C with
    C = 1 - sum_t (t^3 - t) / (N^3 - N); R2_g^2 needs 128-bit math
    (DECIMAL(38,0) here, HUGEINT in the oracle).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("n_fq"))

    per_q = (
        cells.groupBy("q")
        .agg(F.sum("n_fq").alias("t"))
        .withColumn(
            "cnt_less",
            F.coalesce(
                F.sum("t").over(
                    Window.orderBy("q").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("r2", 2 * F.col("cnt_less") + F.col("t") + 1)
    )

    joined = cells.join(F.broadcast(per_q.select("q", "r2")), "q")
    grp = joined.groupBy("flag").agg(
        F.sum("n_fq").alias("n_g"),
        F.sum(
            (F.col("n_fq") * F.col("r2")).cast("decimal(38,0)")
        ).alias("r2_g"),
    )

    totals = per_q.agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                "decimal(38,0)"
            )
        ).alias("ties"),
    )

    out = (
        grp.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n").alias("n"),
            F.first("ties").alias("ties"),
            F.sum(
                (F.col("r2_g") * F.col("r2_g")).cast("decimal(38,0)")
                / (F.lit(4).cast("decimal(38,0)") * F.col("n_g"))
            ).alias("srq"),
        )
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (
                    F.lit(12.0)
                    / (
                        F.col("n").cast("double")
                        * (F.col("n").cast("double") + 1.0)
                    )
                    * F.col("srq").cast("double")
                    - 3.0 * (F.col("n").cast("double") + 1.0)
                )
                / (
                    F.lit(1.0)
                    - F.col("ties").cast("double")
                    / (
                        F.col("n").cast("double")
                        * F.col("n").cast("double")
                        * F.col("n").cast("double")
                        - F.col("n").cast("double")
                    )
                ),
                6,
            ).alias("h_stat"),
        )
    )
    return out


_KRUSKAL_SQL = """
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) AS n_fq
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q, SUM(n_fq) AS t,
         COALESCE(SUM(SUM(n_fq)) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cnt_less
  FROM cells GROUP BY q
), ranked AS (
  SELECT q, t, 2 * cnt_less + t + 1 AS r2 FROM per_q
), grp AS (
  SELECT flag, SUM(n_fq) AS n_g,
         SUM(CAST(n_fq AS HUGEINT) * (SELECT r2 FROM ranked r
                                      WHERE r.q = cells.q)) AS r2_g
  FROM cells GROUP BY flag
), tot AS (
  SELECT SUM(t) AS n,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
  FROM ranked
)
SELECT CAST(tot.n AS BIGINT) AS n,
       ROUND(
         (12.0 / (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 1.0))
            * (SELECT SUM(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                          / (4.0 * CAST(n_g AS DOUBLE))) FROM grp)
          - 3.0 * (CAST(tot.n AS DOUBLE) + 1.0))
         / (1.0 - CAST(tot.ties AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                     * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE))),
         6) AS h_stat
FROM tot
"""


# --- two-sample Kolmogorov-Smirnov ----------------------------------------------

_KS_SEG_A = "AUTOMOBILE"

_KS_SEG_B = "HOUSEHOLD"

_KS_BUCKETS = 31


def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D: are AUTOMOBILE and
    HOUSEHOLD customers' balance distributions different?

        D = max over values v of |ECDF_A(v) - ECDF_B(v)|
          = max |cumA(v) * n2 - cumB(v) * n1| / (n1 * n2)

    The numerator is an exact integer, so the argmax (and its
    tie-break on the smaller v) is engine-portable; the single
    division happens once, at the end.

    Plan shape: per-value rollup (one shuffle), the value-bucketed
    two-phase prefix sum (31 percentile cutoffs from a 1-row
    broadcast; the only global window runs over the <=32-row bucket
    totals), then TakeOrderedAndProject for the argmax row.
    """
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B)
    ).select(
        cents("c_acctbal").alias("v"),
        (F.col("c_mktsegment") == _KS_SEG_A).cast("long").alias("in_a"),
    )
    g = base.groupBy("v").agg(
        F.sum("in_a").alias("ca"),
        F.sum(F.lit(1) - F.col("in_a")).alias("cb"),
    )
    qs = [i / 32.0 for i in range(1, _KS_BUCKETS + 1)]
    vcuts = g.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(_KS_BUCKETS)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "v", "ca", "cb", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("la", F.sum("ca").over(w_local)).withColumn(
        "lb", F.sum("cb").over(w_local)
    )
    totals = local.groupBy("bk").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bk",
        F.coalesce(F.sum("ta").over(w_off), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("tb").over(w_off), F.lit(0)).alias("ob"),
    )
    n1n2 = base.agg(
        F.sum("in_a").alias("n1"),
        F.sum(F.lit(1) - F.col("in_a")).alias("n2"),
    )  # 1 row
    cum = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(n1n2))
        .select(
            "v",
            "n1",
            "n2",
            F.abs(
                (F.col("la") + F.col("oa")) * F.col("n2")
                - (F.col("lb") + F.col("ob")) * F.col("n1")
            ).alias("num"),
        )
    )
    return (
        cum.orderBy(F.desc("num"), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            F.col("v").alias("at_v_cents"),
            F.round(
                F.col("num").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("d_stat"),
        )
    )


STAT_KS_TWO_SAMPLE_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM customer
  WHERE c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
), g AS (
  SELECT v, CAST(SUM(in_a) AS BIGINT) AS ca,
         CAST(SUM(1 - in_a) AS BIGINT) AS cb
  FROM base GROUP BY v
), n AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
         CAST(SUM(1 - in_a) AS BIGINT) AS n2
  FROM base
), cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cumb
  FROM g
)
SELECT n1, n2, v AS at_v_cents,
       ROUND(CAST(abs(cuma * n2 - cumb * n1) AS DOUBLE)
             / CAST(n1 * n2 AS DOUBLE), 6) AS d_stat
FROM cum CROSS JOIN n
ORDER BY abs(cuma * n2 - cumb * n1) DESC, v LIMIT 1
"""


# --- tie-corrected Mann-Whitney U test -------------------------------------------

_MW_SEG_A = "BUILDING"

_MW_SEG_B = "MACHINERY"

_MW_BUCKETS = 31


def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U test: do BUILDING and MACHINERY
    customers have different account-balance distributions?

        2*R_A = sum over tie groups of  na * (2*start + cnt + 1)
        2*U   = 2*R_A - na_tot*(na_tot + 1)          (exact integers)
        z     = (U - n1*n2/2) / sqrt(n1*n2/12 * ((n+1) - T/(n*(n-1))))

    with tie term T = sum(cnt^3 - cnt).  Everything through 2U and T
    is exact int64; z is one fixed IEEE expression tree evaluated
    identically in both engines.  p_superior = U/(n1*n2) is the
    common-language effect size (the AUC between the groups).

    Plan shape: identical to ml_auc_rank — per-value rollup (one
    shuffle), 31 VALUE-deterministic percentile buckets from a 1-row
    broadcast, per-bucket running counts, one global window over the
    <=32-row bucket totals, then a 1-row reduce.
    """
    c = load_table(spark, sf_dir, "customer")
    base = c.filter(
        F.col("c_mktsegment").isin(_MW_SEG_A, _MW_SEG_B)
    ).select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("v"),
        (F.col("c_mktsegment") == _MW_SEG_A).cast("long").alias("in_a"),
    )
    g = base.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_a").alias("na")
    )
    qs = [i / 32.0 for i in range(1, _MW_BUCKETS + 1)]
    vcuts = g.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("vcut")
    )  # 1 row
    n_below = sum(
        (F.col("v").cast("double") > F.element_at("vcut", i + 1)).cast("int")
        for i in range(_MW_BUCKETS)
    )
    p = g.crossJoin(F.broadcast(vcuts)).select(
        "v", "cnt", "na", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("local_cum", F.sum("cnt").over(w_local))
    totals = local.groupBy("bk").agg(F.sum("cnt").alias("p_total"))
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("bk", "offset")
    ranked = local.join(F.broadcast(offsets), "bk").withColumn(
        "start", F.col("local_cum") + F.col("offset") - F.col("cnt")
    )
    red = ranked.agg(
        F.sum("na").alias("n1"),
        F.sum(F.col("cnt") - F.col("na")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("na") * (F.lit(2) * F.col("start") + F.col("cnt") + F.lit(1))
        ).alias("r2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_t"),
    )
    u2 = F.col("r2a") - F.col("n1") * (F.col("n1") + F.lit(1))  # 2*U, exact
    uu = u2.cast("double") / F.lit(2.0)
    mu = (F.col("n1") * F.col("n2")).cast("double") / F.lit(2.0)
    sigma2 = (
        (F.col("n1") * F.col("n2")).cast("double")
        / F.lit(12.0)
        * (
            (F.col("n") + F.lit(1)).cast("double")
            - F.col("tie_t").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - F.lit(1)).cast("double"))
        )
    )
    return red.select(
        "n1",
        "n2",
        F.round(uu, 6).alias("u_stat"),
        F.round((uu - mu) / F.sqrt(sigma2), 6).alias("z"),
        F.round(
            u2.cast("double")
            / (F.lit(2.0) * (F.col("n1") * F.col("n2")).cast("double")),
            6,
        ).alias("p_superior"),
    )


STAT_MANN_WHITNEY_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(c_acctbal*100) AS BIGINT) AS v,
         CASE WHEN c_mktsegment = '{_MW_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM customer
  WHERE c_mktsegment IN ('{_MW_SEG_A}', '{_MW_SEG_B}')
), g AS (
  SELECT v, COUNT(*) AS cnt, CAST(SUM(in_a) AS BIGINT) AS na
  FROM base GROUP BY v
), ranked AS (
  SELECT cnt, na,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM g
), red AS (
  SELECT CAST(SUM(na) AS BIGINT) AS n1,
         CAST(SUM(cnt - na) AS BIGINT) AS n2,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(na * (2*start + cnt + 1)) AS BIGINT) AS r2a,
         CAST(SUM(cnt*cnt*cnt - cnt) AS BIGINT) AS tie_t
  FROM ranked
)
SELECT n1, n2,
       ROUND(CAST(r2a - n1*(n1+1) AS DOUBLE) / CAST(2 AS DOUBLE), 6)
         AS u_stat,
       ROUND((CAST(r2a - n1*(n1+1) AS DOUBLE) / CAST(2 AS DOUBLE)
              - CAST(n1*n2 AS DOUBLE) / CAST(2 AS DOUBLE))
             / sqrt(CAST(n1*n2 AS DOUBLE) / CAST(12 AS DOUBLE)
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(tie_t AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))),
             6) AS z,
       ROUND(CAST(r2a - n1*(n1+1) AS DOUBLE)
             / (CAST(2 AS DOUBLE) * CAST(n1*n2 AS DOUBLE)), 6) AS p_superior
FROM red
"""


# --- Mood's median test ------------------------------------------------------------


def stat_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test for l_quantity across the return flags: the
    grand median comes from the 50-row per-quantity rollup (lowest q
    with cumulative count >= N/2, i.e. the lower median), each group
    splits into <=median vs >median (exact counts), and the 2xK
    chi-square sums (obs - exp)^2 / exp with exp from the margins.
    One fact shuffle (the (flag, q) rollup); everything after is <=50
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("n_fq"))

    per_q = (
        cells.groupBy("q")
        .agg(F.sum("n_fq").alias("t"))
        .withColumn(
            "cum",
            F.sum("t").over(
                Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    tot = per_q.agg(F.sum("t").alias("n_total"))
    med = (
        per_q.crossJoin(F.broadcast(tot))
        .where(2 * F.col("cum") >= F.col("n_total"))
        .agg(F.min("q").alias("med_q"))
    )
    grp = (
        cells.crossJoin(F.broadcast(med))
        .groupBy("flag")
        .agg(
            F.sum(F.when(F.col("q") <= F.col("med_q"), F.col("n_fq")).otherwise(0))
            .alias("n_le"),
            F.sum(F.when(F.col("q") > F.col("med_q"), F.col("n_fq")).otherwise(0))
            .alias("n_gt"),
            F.first("med_q").alias("med_q"),
        )
    )
    tot2 = grp.agg(
        F.sum("n_le").alias("tle"),
        F.sum("n_gt").alias("tgt"),
        F.first("med_q").alias("med_q"),
    )
    chi = (
        grp.crossJoin(F.broadcast(tot2.select("tle", "tgt")))
        .select(
            "flag",
            "n_le",
            "n_gt",
            "med_q",
            (
                F.pow(
                    F.col("n_le").cast("double")
                    - (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tle")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double"),
                    2,
                )
                / (
                    (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tle")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double")
                )
                + F.pow(
                    F.col("n_gt").cast("double")
                    - (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tgt")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double"),
                    2,
                )
                / (
                    (
                        (F.col("n_le") + F.col("n_gt"))
                        * F.col("tgt")
                    ).cast("double")
                    / (F.col("tle") + F.col("tgt")).cast("double")
                )
            ).alias("chi_term"),
        )
    )
    return (
        chi.agg(
            F.first("med_q").cast("bigint").alias("med_q"),
            F.round(F.sum("chi_term"), 6).alias("chi2_stat"),
        )
    )


_MOOD_SQL = """
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) AS n_fq
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q, SUM(n_fq) AS t,
         SUM(SUM(n_fq)) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum
  FROM cells GROUP BY q
), med AS (
  SELECT MIN(q) AS med_q FROM per_q
  WHERE 2 * cum >= (SELECT SUM(t) FROM per_q)
), grp AS (
  SELECT flag,
         SUM(CASE WHEN q <= (SELECT med_q FROM med) THEN n_fq ELSE 0 END)
           AS n_le,
         SUM(CASE WHEN q > (SELECT med_q FROM med) THEN n_fq ELSE 0 END)
           AS n_gt
  FROM cells GROUP BY flag
), tot AS (
  SELECT SUM(n_le) AS tle, SUM(n_gt) AS tgt FROM grp
)
SELECT (SELECT CAST(med_q AS BIGINT) FROM med) AS med_q,
       ROUND(SUM(
         POW(CAST(n_le AS DOUBLE)
             - CAST((n_le + n_gt) * tle AS DOUBLE)
               / CAST(tle + tgt AS DOUBLE), 2)
         / (CAST((n_le + n_gt) * tle AS DOUBLE) / CAST(tle + tgt AS DOUBLE))
         + POW(CAST(n_gt AS DOUBLE)
               - CAST((n_le + n_gt) * tgt AS DOUBLE)
                 / CAST(tle + tgt AS DOUBLE), 2)
         / (CAST((n_le + n_gt) * tgt AS DOUBLE) / CAST(tle + tgt AS DOUBLE))
       ), 6) AS chi2_stat
FROM grp, tot
"""


# --- Page's L trend test ---------------------------------------------------------------


def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-alternative test: does yearly revenue trend
    monotonically across the order years, consistently over the 25
    nations?  Subjects = nations, ordered treatments = years (j = 1
    oldest).  The nation x year grid is completed with 0-revenue
    cells (the rank_kendall_w_nations grid,
    transposed: ranks run WITHIN each nation across years), DOUBLED
    midranks keep L exact (L2 = sum j * r2 = 2L), and the classical
    no-ties null moments (Hollander & Wolfe: E[L] = n k (k+1)^2 / 4,
    Var[L] = n k^2 (k+1)(k^2-1) / 144) give the large-sample z.  The
    within-nation tie moment sum(t^2 - 1) is reported so a tied grid
    (which biases the no-ties variance) is visible in the result.
    Scale shape: one fact rollup to the bounded 25 x |years| grid;
    windows partitioned per nation over |years| rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("nk", "yr")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    years = rev.select(F.col("yr").alias("year")).distinct().select(
        "year",
        F.rank().over(Window.orderBy("year")).cast("bigint").alias("j"),
    )
    grid = (
        n.select(F.col("n_nationkey").alias("nation_key"))
        .crossJoin(F.broadcast(years))
        .join(
            rev,
            (F.col("nation_key") == F.col("nk")) & (F.col("year") == F.col("yr")),
            "left",
        )
        .select(
            "nation_key",
            "year",
            "j",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    wn = Window.partitionBy("nation_key").orderBy("cents")
    wt = Window.partitionBy("nation_key", "cents")
    ranked = grid.select(
        "nation_key",
        "j",
        (
            2 * F.rank().over(wn) + F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias("r2"),
        (
            F.count(F.lit(1)).over(wt) * F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias("t2m1"),
    )
    nsub = grid.select("nation_key").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects")
    )
    kyr = years.agg(F.count(F.lit(1)).cast("bigint").alias("k_years"))
    stats = (
        ranked.agg(
            F.sum(F.col("j") * F.col("r2")).cast("bigint").alias("l2"),
            F.sum("t2m1").cast("bigint").alias("tsum"),
        )
        .crossJoin(F.broadcast(nsub))
        .crossJoin(F.broadcast(kyr))
    )
    z_expr = (
        "(CAST(l2 AS DOUBLE)"
        " - CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1)"
        "        AS DOUBLE) / 2.0)"
        " / (2.0 * SQRT(CAST(n_subjects AS DOUBLE)"
        "       * CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)"
        "       * (CAST(k_years AS DOUBLE) + 1.0)"
        "       * (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE) - 1.0)"
        "       / 144.0))"
    )
    return stats.select(
        "n_subjects",
        "k_years",
        "l2",
        (
            F.col("n_subjects") * F.col("k_years")
            * (F.col("k_years") + 1) * (F.col("k_years") + 1)
            / F.lit(2)
        ).cast("bigint").alias("e_l2"),
        "tsum",
        F.round(F.expr(z_expr), 6).alias("z"),
    )


_PAGE_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, EXTRACT(year FROM o_orderdate) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), years AS (
  SELECT yr AS year, CAST(RANK() OVER (ORDER BY yr) AS BIGINT) AS j
  FROM (SELECT DISTINCT yr FROM rev)
), grid AS (
  SELECT n.n_nationkey AS nation_key, y.year, y.j,
         COALESCE(r.cents, 0) AS cents
  FROM nation n CROSS JOIN years y
  LEFT JOIN rev r ON r.nk = n.n_nationkey AND r.yr = y.year
), ranked AS (
  SELECT nation_key, j,
         CAST(2 * RANK() OVER (PARTITION BY nation_key ORDER BY cents)
              + COUNT(*) OVER (PARTITION BY nation_key, cents) - 1
              AS BIGINT) AS r2,
         CAST(COUNT(*) OVER (PARTITION BY nation_key, cents)
              * COUNT(*) OVER (PARTITION BY nation_key, cents) - 1
              AS BIGINT) AS t2m1
  FROM grid
), nsub AS (
  SELECT CAST(COUNT(DISTINCT nation_key) AS BIGINT) AS n_subjects
  FROM grid
), kyr AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_years FROM years),
stats AS (
  SELECT CAST(SUM(j * r2) AS BIGINT) AS l2,
         CAST(SUM(t2m1) AS BIGINT) AS tsum
  FROM ranked
)
SELECT n_subjects, k_years, l2,
       CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1) / 2
            AS BIGINT) AS e_l2,
       tsum,
       ROUND((CAST(l2 AS DOUBLE)
              - CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1)
                     AS DOUBLE) / 2.0)
             / (2.0 * SQRT(CAST(n_subjects AS DOUBLE)
                   * CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                   * (CAST(k_years AS DOUBLE) + 1.0)
                   * (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                      - 1.0)
                   / 144.0)), 6) AS z
FROM stats CROSS JOIN nsub CROSS JOIN kyr
"""


# --- permutation test ---------------------------------------------------------

_N_PERMS = 200


def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the difference in mean order value between
    high priorities (1-URGENT / 2-HIGH) and the rest, on a
    deterministic 1% panel (orderkey % 101 = 0).  Both engines draw
    the SAME 200 permutations because the shuffled label of row r in
    permutation p is md5(orderkey || '#' || p) % 2 — 'measure, don't
    guess' applied to the null distribution itself.  p_value uses the
    add-one rule (Phipson & Smyth 2010).

    Every mean is a double division of exact integer sums; the
    permutation cross join is panel_rows x 200 — linear in SF with a
    fixed constant, one shuffle on the permutation id."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.pmod("o_orderkey", F.lit(101)) == 0
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
        .alias("hi"),
    )
    obs = o.agg(
        (
            F.sum(F.when(F.col("hi") == 1, F.col("c"))).cast("double")
            / F.sum("hi").cast("double")
            - F.sum(F.when(F.col("hi") == 0, F.col("c"))).cast("double")
            / F.sum(F.lit(1) - F.col("hi")).cast("double")
        ).alias("obs_diff")
    )
    perms = spark.range(_N_PERMS).select(F.col("id").alias("p"))
    lab = o.crossJoin(perms).select(
        "p",
        "c",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("o_orderkey"), F.col("p"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("g"),
    )
    null_diffs = lab.groupBy("p").agg(
        (
            F.sum(F.when(F.col("g") == 1, F.col("c"))).cast("double")
            / F.sum("g").cast("double")
            - F.sum(F.when(F.col("g") == 0, F.col("c"))).cast("double")
            / F.sum(F.lit(1) - F.col("g")).cast("double")
        ).alias("diff")
    )
    joined = null_diffs.crossJoin(F.broadcast(obs))
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_perms"),
        F.max(F.abs("obs_diff")).alias("obs_abs_diff"),
        F.sum(
            (F.abs(F.col("diff")) >= F.abs(F.col("obs_diff"))).cast("bigint")
        ).cast("bigint").alias("n_extreme"),
    ).select(
        "n_perms",
        "obs_abs_diff",
        "n_extreme",
        (
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("n_perms") + 1).cast("double")
        ).alias("p_value"),
    )


_PERM_TEST_SQL = f"""
WITH panel AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
           AS hi
  FROM orders WHERE o_orderkey % 101 = 0
), obs AS (
  SELECT CAST(SUM(CASE WHEN hi = 1 THEN c END) AS DOUBLE)
           / CAST(SUM(hi) AS DOUBLE)
         - CAST(SUM(CASE WHEN hi = 0 THEN c END) AS DOUBLE)
           / CAST(SUM(1 - hi) AS DOUBLE) AS obs_diff
  FROM panel
), perms AS (
  SELECT unnest(generate_series(0, {_N_PERMS - 1})) AS p
), lab AS (
  SELECT p, c,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#'
                                 || CAST(p AS VARCHAR)), 1, 15) AS BIGINT) % 2
           AS g
  FROM panel CROSS JOIN perms
), null_diffs AS (
  SELECT p,
         CAST(SUM(CASE WHEN g = 1 THEN c END) AS DOUBLE)
           / CAST(SUM(g) AS DOUBLE)
         - CAST(SUM(CASE WHEN g = 0 THEN c END) AS DOUBLE)
           / CAST(SUM(1 - g) AS DOUBLE) AS diff
  FROM lab GROUP BY p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
       MAX(ABS(obs_diff)) AS obs_abs_diff,
       CAST(SUM(CASE WHEN ABS(diff) >= ABS(obs_diff) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
       CAST(SUM(CASE WHEN ABS(diff) >= ABS(obs_diff) THEN 1 ELSE 0 END) + 1
            AS DOUBLE) / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value
FROM null_diffs CROSS JOIN obs
"""


# --- Spearman rank correlation ----------------------------------------------------


def stat_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount per
    returnflag, with PROPER tie handling (average ranks) — rho =
    Pearson over the rank vectors.

    Exactness engineering: average ranks are fractional (x.5) on even
    tie groups, so ranks are carried as 2x-SCALED INTEGERS — and
    because both columns are LOW-CARDINALITY (50 quantities, 11
    discounts), the average rank of value v is computable from counts
    alone: r2(v) = 2*(#rows < v) + #rows(= v).  So instead of a rank
    window over the whole fact table (3 returnflag partitions = 3
    tasks = serialized at scale), the plan aggregates tiny per-value
    count tables (cumsum over <=50 rows each), joins them onto the
    (flag, quantity, discount) JOINT distribution (<=550 cells per
    flag), and weights the moments by cell count — every shuffle is on
    value-count tables, never a fact-wide sort (the Mann-Whitney
    bucketed-rank pattern).  Moment sums run in DECIMAL(38,0) (Spark,
    exact any-order) / HUGEINT (DuckDB); both cast the identical exact
    integer to DOUBLE before the one final rho formula."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("q"),
        F.col("l_discount").alias("d"),
    )

    def rank_table(col: str, alias: str) -> DataFrame:
        cnt = li.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).alias("c")
        )
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cnt.select(
            "l_returnflag",
            col,
            (2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c"))
            .cast("bigint")
            .alias(alias),
        )

    joint = li.groupBy("l_returnflag", "q", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    rx_t = rank_table("q", "rx")
    ry_t = rank_table("d", "ry")
    cells = joint.join(rx_t, ["l_returnflag", "q"]).join(
        ry_t, ["l_returnflag", "d"]
    )
    dec = "decimal(38,0)"
    cd = F.col("cnt").cast(dec)
    m = cells.groupBy("l_returnflag").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(cd * F.col("rx")).alias("sx"),
        F.sum(cd * F.col("ry")).alias("sy"),
        F.sum(cd * F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(cd * F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(cd * F.col("ry") * F.col("ry")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return (
        m.select(
            F.col("l_returnflag").alias("returnflag"),
            "n",
            (num / den).alias("spearman_rho"),
        )
        .orderBy("returnflag")
    )


STAT_SPEARMAN_SQL = """
WITH qc AS (
  SELECT l_returnflag, l_quantity AS q, COUNT(*) AS c FROM lineitem
  GROUP BY 1, 2
), rxt AS (
  SELECT l_returnflag, q,
         2 * COALESCE(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c
           AS rx
  FROM qc
), dc AS (
  SELECT l_returnflag, l_discount AS d, COUNT(*) AS c FROM lineitem
  GROUP BY 1, 2
), ryt AS (
  SELECT l_returnflag, d,
         2 * COALESCE(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c
           AS ry
  FROM dc
), joint AS (
  SELECT l_returnflag, l_quantity AS q, l_discount AS d, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
), cells AS (
  SELECT j.l_returnflag, CAST(j.cnt AS HUGEINT) AS cnt, rx, ry
  FROM joint j
  JOIN rxt USING (l_returnflag, q)
  JOIN ryt USING (l_returnflag, d)
), m AS (
  SELECT l_returnflag AS returnflag,
         CAST(SUM(cnt) AS BIGINT) AS n,
         SUM(cnt * rx) AS sx, SUM(cnt * ry) AS sy,
         SUM(cnt * rx * ry) AS sxy,
         SUM(cnt * rx * rx) AS sxx, SUM(cnt * ry * ry) AS syy
  FROM cells GROUP BY 1
)
SELECT returnflag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS spearman_rho
FROM m ORDER BY returnflag
"""


# --- trimmed mean ------------------------------------------------------------


def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-95% trimmed mean of extended price by return flag: exact
    interpolated percentile cutoffs over integer cents (identical
    IEEE interpolation in any engine), then an integer sum over the
    surviving rows — one rounding at the very end.

    Plan shape: cutoffs come from a 3-row aggregate that broadcasts
    back onto the fact scan (aggregate-shrunk, so the broadcast is
    size-safe by construction); the second pass filters and sums
    map-side.  Two scans beat sorting every group at 100 TB.

    Parallelism floor (r12, guide §2.5): both passes stack directly on
    the scan; a single-row-group input runs the exact-percentile
    buffer AND the filtered sum on ONE core.  cpu_floor spreads them
    across the box; a no-op at real scale (percentile/sum are
    order-free, results unchanged).
    """
    li = cpu_floor(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    c = cents("l_extendedprice")
    cut = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.percentile(c, F.lit(0.05)).alias("lo"),
        F.percentile(c, F.lit(0.95)).alias("hi"),
    )
    return (
        li.select(F.col("l_returnflag").alias("rf"), c.alias("v"))
        .join(F.broadcast(cut), "rf")
        .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("rf")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)) / 100.0, 6
            ).alias("trimmed_mean"),
        )
        .orderBy("rf")
    )


STAT_TRIMMED_MEAN_SQL = """
WITH v AS (
  SELECT l_returnflag AS rf,
         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v
  FROM lineitem
), cut AS (
  SELECT rf, quantile_cont(v, 0.05) AS lo, quantile_cont(v, 0.95) AS hi
  FROM v GROUP BY rf
)
SELECT v.rf, COUNT(*) AS n_kept,
       ROUND(CAST(SUM(v.v) AS DOUBLE) / COUNT(*) / 100.0, 6)
         AS trimmed_mean
FROM v JOIN cut ON cut.rf = v.rf
WHERE v.v >= cut.lo AND v.v <= cut.hi
GROUP BY v.rf ORDER BY v.rf
"""


# --- Welch's t-test -------------------------------------------------------------

_WT_SEG_A = "BUILDING"

_WT_SEG_B = "FURNITURE"


def stat_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test: BUILDING vs FURNITURE account balances.

        t  = (m1 - m2) / sqrt(v1/n1 + v2/n2)
        df = (v1/n1 + v2/n2)^2
             / ((v1/n1)^2/(n1-1) + (v2/n2)^2/(n2-1))

    Sums are exact (cents in int64, squared cents in decimal(38,0) —
    cents^2 overflows int64 around 1e7 rows of large balances), so
    both engines start from IDENTICAL integers; the t/df assembly is
    one fixed IEEE expression tree evaluated the same way in both.

    Plan shape: a single conditional-aggregate pass over the filtered
    scan — one 1-row reduce, no joins, no windows.
    """
    c = load_table(spark, sf_dir, "customer")
    v = cents("c_acctbal")
    in_a = (F.col("c_mktsegment") == _WT_SEG_A).cast("long")
    in_b = (F.col("c_mktsegment") == _WT_SEG_B).cast("long")
    red = c.filter(F.col("c_mktsegment").isin(_WT_SEG_A, _WT_SEG_B)).agg(
        F.sum(in_a).alias("n1"),
        F.sum(in_b).alias("n2"),
        F.sum(in_a * v).alias("s1"),
        F.sum(in_b * v).alias("s2"),
        F.sum(in_a * (v * v).cast("decimal(38,0)")).alias("ss1"),
        F.sum(in_b * (v * v).cast("decimal(38,0)")).alias("ss2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1
    m2 = F.col("s2").cast("double") / n2
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n1
    ) / (n1 - F.lit(1.0))
    v2 = (
        F.col("ss2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / n2
    ) / (n2 - F.lit(1.0))
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - F.lit(1.0))
        + (v2 / n2) * (v2 / n2) / (n2 - F.lit(1.0))
    )
    return red.select(
        "n1",
        "n2",
        F.round(m1 / F.lit(100.0), 6).alias("mean_a"),
        F.round(m2 / F.lit(100.0), 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
    )


STAT_WELCH_T_SQL = f"""
WITH red AS (
  SELECT
    CAST(SUM(CASE WHEN c_mktsegment = '{_WT_SEG_A}' THEN 1 ELSE 0 END)
         AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN c_mktsegment = '{_WT_SEG_B}' THEN 1 ELSE 0 END)
         AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN c_mktsegment = '{_WT_SEG_A}'
                  THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS s1,
    CAST(SUM(CASE WHEN c_mktsegment = '{_WT_SEG_B}'
                  THEN CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END)
         AS BIGINT) AS s2,
    SUM(CASE WHEN c_mktsegment = '{_WT_SEG_A}'
             THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
                  * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS ss1,
    SUM(CASE WHEN c_mktsegment = '{_WT_SEG_B}'
             THEN CAST(ROUND(c_acctbal*100) AS BIGINT)
                  * CAST(ROUND(c_acctbal*100) AS BIGINT) ELSE 0 END) AS ss2
  FROM customer
  WHERE c_mktsegment IN ('{_WT_SEG_A}', '{_WT_SEG_B}')
)
SELECT n1, n2,
  ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0, 6) AS mean_a,
  ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0, 6) AS mean_b,
  ROUND(
    (CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
     - CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
    / sqrt(
       ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
           /CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
         / CAST(n1 AS DOUBLE)
       + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
           /CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
         / CAST(n2 AS DOUBLE)), 6) AS t_stat,
  ROUND(
    (((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
          /CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
        / CAST(n1 AS DOUBLE)
     + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
          /CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
        / CAST(n2 AS DOUBLE))
    * (((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
          /CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
        / CAST(n1 AS DOUBLE)
       + ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
          /CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
        / CAST(n2 AS DOUBLE))
    / (
      (((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
          /CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
        / CAST(n1 AS DOUBLE))
      * (((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
          /CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
        / CAST(n1 AS DOUBLE))
      / (CAST(n1 AS DOUBLE) - 1.0)
      + (((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
          /CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
        / CAST(n2 AS DOUBLE))
      * (((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)
          /CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
        / CAST(n2 AS DOUBLE))
      / (CAST(n2 AS DOUBLE) - 1.0)
    ), 6) AS welch_df
FROM red
"""


# --- Wilson score interval ------------------------------------------------------

_Z = repr(1.96)  # '1.96': both strtods round to the same double

_Z2 = repr(1.96 * 1.96)  # the PRODUCT double, not the '3.8416' literal


# One expression text, two engines: every operator lands in the same
# order on the same doubles, and IEEE-754 +-*/sqrt are correctly
# rounded, so low/high match bit-for-bit.
_WILSON_EXPRS = {
    "p_hat": "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)",
    "wilson_low": (
        f"((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {_Z2} / (2.0 * n)"
        f" - {_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / n"
        f" + {_Z2} / (4.0 * n * n))) / (1.0 + {_Z2} / n)"
    ),
    "wilson_high": (
        f"((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {_Z2} / (2.0 * n)"
        f" + {_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / n"
        f" + {_Z2} / (4.0 * n * n))) / (1.0 + {_Z2} / n)"
    ),
}


def stat_wilson_ci_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the line-return rate per brand —
    the interval estimate that stays inside [0, 1] where the normal
    approximation doesn't.  The entire interval formula is a SINGLE
    expression string shared verbatim with the DuckDB oracle (z and
    z^2 injected as repr'd doubles), making the float path bit-equal
    by construction.  One broadcast dim join + one group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    counts = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("bigint"))
            .cast("bigint")
            .alias("x"),
        )
    )
    return counts.select(
        "p_brand",
        "n",
        "x",
        F.expr(_WILSON_EXPRS["p_hat"]).alias("p_hat"),
        F.expr(_WILSON_EXPRS["wilson_low"]).alias("wilson_low"),
        F.expr(_WILSON_EXPRS["wilson_high"]).alias("wilson_high"),
    ).orderBy("p_brand")


_WILSON_SQL = f"""
WITH counts AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS x
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, x,
       {_WILSON_EXPRS["p_hat"]} AS p_hat,
       {_WILSON_EXPRS["wilson_low"]} AS wilson_low,
       {_WILSON_EXPRS["wilson_high"]} AS wilson_high
FROM counts ORDER BY p_brand
"""


QUERIES = {
    "rank_kendall_w_nations": rank_kendall_w_nations,
    "rank_rbo_topk": rank_rbo_topk,
    "stat_ab_conversion": stat_ab_conversion,
    "stat_anova_oneway": stat_anova_oneway,
    "stat_ansari_bradley": stat_ansari_bradley,
    "stat_bartlett_qty": stat_bartlett_qty,
    "stat_bh_fdr": stat_bh_fdr,
    "stat_bootstrap_ci": stat_bootstrap_ci,
    "stat_brown_forsythe": stat_brown_forsythe,
    "stat_chi2_brand_size": stat_chi2_brand_size,
    "stat_cochran_q": stat_cochran_q,
    "stat_cohens_kappa": stat_cohens_kappa,
    "stat_cvm_two_sample": stat_cvm_two_sample,
    "stat_friedman": stat_friedman,
    "stat_g_test": stat_g_test,
    "stat_grubbs_max": stat_grubbs_max,
    "stat_jonckheere_terpstra": stat_jonckheere_terpstra,
    "stat_kendall_tau_b": stat_kendall_tau_b,
    "stat_kruskal_wallis": stat_kruskal_wallis,
    "stat_ks_two_sample": stat_ks_two_sample,
    "stat_mann_whitney": stat_mann_whitney,
    "stat_mood_median": stat_mood_median,
    "stat_page_trend": stat_page_trend,
    "stat_permutation_test": stat_permutation_test,
    "stat_spearman_rank": stat_spearman_rank,
    "stat_trimmed_mean": stat_trimmed_mean,
    "stat_welch_t": stat_welch_t,
    "stat_wilson_ci_returns": stat_wilson_ci_returns,
}
ORACLES = {
    "rank_kendall_w_nations": _KENDALL_W_SQL,
    "rank_rbo_topk": _RBO_SQL,
    "stat_ab_conversion": STAT_AB_CONVERSION_SQL,
    "stat_anova_oneway": STAT_ANOVA_SQL,
    "stat_ansari_bradley": _AB_SQL,
    "stat_bartlett_qty": _BARTLETT_SQL,
    "stat_bh_fdr": STAT_BH_FDR_SQL,
    "stat_bootstrap_ci": STAT_BOOTSTRAP_CI_SQL,
    "stat_brown_forsythe": _bf_oracle(),
    "stat_chi2_brand_size": STAT_CHI2_SQL,
    "stat_cochran_q": _COCHRAN_SQL,
    "stat_cohens_kappa": _KAPPA_SQL,
    "stat_cvm_two_sample": _CVM_SQL,
    "stat_friedman": _FRIEDMAN_SQL,
    "stat_g_test": STAT_G_TEST_SQL,
    "stat_grubbs_max": _GRUBBS_SQL,
    "stat_jonckheere_terpstra": _JT_SQL,
    "stat_kendall_tau_b": _KENDALL_SQL,
    "stat_kruskal_wallis": _KRUSKAL_SQL,
    "stat_ks_two_sample": STAT_KS_TWO_SAMPLE_SQL,
    "stat_mann_whitney": STAT_MANN_WHITNEY_SQL,
    "stat_mood_median": _MOOD_SQL,
    "stat_page_trend": _PAGE_SQL,
    "stat_permutation_test": _PERM_TEST_SQL,
    "stat_spearman_rank": STAT_SPEARMAN_SQL,
    "stat_trimmed_mean": STAT_TRIMMED_MEAN_SQL,
    "stat_welch_t": STAT_WELCH_T_SQL,
    "stat_wilson_ci_returns": _WILSON_SQL,
}
