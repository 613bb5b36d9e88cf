"""Round-8 wave 35: rolling regression, correlated scalar subqueries,
and a robust variance-homogeneity test.

- ts_rolling_ols_slope: 30-day rolling OLS trend of daily revenue as
  ONE window pass — x is re-centered to the window start (x in
  [0, 29]), so Sx/Sxx are literals and the rolling Sxy comes from two
  windowed integer sums, no per-window re-scan and no big-magnitude
  cancellation.
- sql_scalar_subquery_orders: correlated scalar subqueries in the
  SELECT list (max line price + line count per order) — one SQL string
  through both engines; Catalyst decorrelates to joins.
- stat_brown_forsythe: the median-based Levene test for variance
  homogeneity across order priorities — group medians by exact
  cumulative-count selection, |x - med| deviations stay integer, and
  the 5-group F statistic is assembled from per-group integer
  (n, S, Q) triples picked into ONE row by single-match conditional
  sums, so every double op has a fixed literal order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table

_W = 30  # rolling window days
_SX = sum(range(_W))  # 435
_SXX = sum(i * i for i in range(_W))  # 8555
_DEN = _W * _SXX - _SX * _SX  # n*Sxx - Sx^2, a literal


def ts_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS slope of daily revenue (cents/day).  With x
    re-centered to the window start, slope_t =
    (n*Sxy_c - Sx*Sy) / (n*Sxx - Sx^2) where Sx, Sxx and the
    denominator are LITERALS and

        Sxy_c = sum(d*y over window) - (t - 29) * sum(y over window)

    — two windowed int64 sums and the current day, nothing re-scanned
    per window and no astronomic intermediate (x fits in [0, 29]).
    Only full windows are emitted.  The day spine is densified so a
    zero-revenue day is a real 0 in the regression.  Calendar-bounded
    window: one groupBy + one sort-once window regardless of fact
    size."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.orderBy("day").rowsBetween(-(_W - 1), 0)
    rolled = dense.select(
        "day",
        F.count(F.lit(1)).over(w).alias("nw"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("day") * F.col("y")).over(w).cast("bigint").alias("sdy"),
    ).filter(F.col("nw") == _W)
    return rolled.select(
        "day",
        "sy",
        (F.col("sdy") - (F.col("day") - (_W - 1)) * F.col("sy"))
        .cast("bigint")
        .alias("sxy_c"),
    ).select(
        "day",
        "sy",
        "sxy_c",
        (
            (
                F.lit(float(_W)) * F.col("sxy_c").cast("double")
                - F.lit(float(_SX)) * F.col("sy").cast("double")
            )
            / F.lit(float(_DEN))
        ).alias("slope_cents_per_day"),
    ).orderBy("day")


_ROLLING_OLS_SQL = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), dense AS (
  SELECT s.day, COALESCE(d.y, 0) AS y
  FROM (SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
                                      (SELECT MAX(day) FROM daily))) AS day) s
  LEFT JOIN daily d USING (day)
), rolled AS (
  SELECT day,
         COUNT(*) OVER win AS nw,
         CAST(SUM(y) OVER win AS BIGINT) AS sy,
         CAST(SUM(day * y) OVER win AS BIGINT) AS sdy
  FROM dense
  WINDOW win AS (ORDER BY day ROWS BETWEEN {_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, sy,
       CAST(sdy - (day - {_W - 1}) * sy AS BIGINT) AS sxy_c,
       ({float(_W)} * CAST(sdy - (day - {_W - 1}) * sy AS DOUBLE)
        - {float(_SX)} * CAST(sy AS DOUBLE)) / {float(_DEN)}
         AS slope_cents_per_day
FROM rolled WHERE nw = {_W} ORDER BY day
"""


# --- correlated scalar subqueries --------------------------------------------------

# `{orders}`/`{lineitem}` are bound to DataFrames on the Spark side and
# to the view names in the oracle, so no session-global view is rebound.
_SCALAR_SUBQ_TEXT = """
SELECT o_orderkey AS orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS order_cents,
       (SELECT CAST(MAX(ROUND(l_extendedprice * 100)) AS BIGINT)
        FROM {lineitem} WHERE l_orderkey = o_orderkey) AS max_line_cents,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM {lineitem} WHERE l_orderkey = o_orderkey) AS n_lines
FROM {orders}
WHERE o_orderkey % 199 = 0
ORDER BY orderkey
"""
_SCALAR_SUBQ_SQL = _SCALAR_SUBQ_TEXT.format(orders="orders", lineitem="lineitem")


def sql_scalar_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries in the SELECT list — the classic
    'lookup aggregate per row' SQL surface.  Catalyst decorrelates both
    subqueries into aggregated left joins (no per-row execution), so
    the 100 TB plan is two shuffles, not N+1 probes; DuckDB runs the
    identical text."""
    return spark.sql(
        _SCALAR_SUBQ_TEXT,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


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


QUERIES = {
    "ts_rolling_ols_slope": ts_rolling_ols_slope,
    "sql_scalar_subquery_orders": sql_scalar_subquery_orders,
    "stat_brown_forsythe": stat_brown_forsythe,
}

ORACLES = {
    "ts_rolling_ols_slope": _ROLLING_OLS_SQL,
    "sql_scalar_subquery_orders": _SCALAR_SUBQ_SQL,
    "stat_brown_forsythe": _bf_oracle(),
}
