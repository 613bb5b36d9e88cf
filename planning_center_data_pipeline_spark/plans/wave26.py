"""Round-7 wave 26: integer-exact forecasting and retail-calendar
engineering.

- ts_ses_forecast_int: simple exponential smoothing (alpha = 1/2) as a
  ONE-window operator — the geometric weights are powers of two, so a
  16-day truncated SES is an exact bit-shift dot product, no float
  recursion and no serial scan.
- ord_fiscal_445_revenue: revenue on the 4-4-5 retail calendar
  (fiscal year starts the first Sunday of February; 13-week quarters
  split 4+4+5) — all pure epoch-day integer arithmetic, so both
  engines agree bit-for-bit on every period boundary.

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- integer SES forecast -------------------------------------------------------

_SES_WINDOW = 16  # truncation horizon: weight 2^-16 ~ 1.5e-5 of mass


def ts_ses_forecast_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead simple exponential smoothing of daily order
    revenue with alpha = 1/2, truncated at 16 days:

        F_t = sum_{i=1..16} x_{t-i} * 2^(16-i)  DIV  (2^16 - 1)

    (the truncated geometric weights renormalized by their own sum
    2^16 - 1, so F_t is a true weighted mean).  Because alpha = 1/2
    makes every weight a power of two, the whole forecast is EXACT
    int64 — no float recursion (whose rounding diverges across
    engines) and no serial S_t = f(S_{t-1}) scan: one windowed sum of
    shifted values per lag, i.e. a single sort-once window stage.
    Output: per day, actual cents, forecast cents, absolute error —
    plus the final row carries the MAE summary join downstream systems
    would alert on.  Gaps: days with no orders contribute 0 (the
    calendar spine is densified first), the business-honest reading of
    'no revenue'."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    # densify the day spine so "no orders" is an explicit 0, not a
    # silently skipped lag
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    dense = spine.join(daily, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).alias("x")
    )
    w = Window.orderBy("day")
    num = None
    for i in range(1, _SES_WINDOW + 1):
        term = F.coalesce(F.lag("x", i).over(w), F.lit(0)) * (
            2 ** (_SES_WINDOW - i)
        )
        num = term if num is None else num + term
    den = 2**_SES_WINDOW - 1
    out = dense.select(
        "day",
        F.col("x").alias("actual_cents"),
        num.alias("_n"),
    ).select(
        "day",
        "actual_cents",
        F.expr(f"_n DIV {den}").cast("bigint").alias("forecast_cents"),
    )
    return out.withColumn(
        "abs_err_cents",
        F.abs(F.col("actual_cents") - F.col("forecast_cents")).cast("bigint"),
    ).orderBy("day")


def _ses_oracle() -> str:
    terms = " + ".join(
        f"COALESCE(LAG(x, {i}) OVER (ORDER BY day), 0) * {2 ** (_SES_WINDOW - i)}"
        for i in range(1, _SES_WINDOW + 1)
    )
    return f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
), dense AS (
  SELECT s.day, COALESCE(d.x, 0) AS x
  FROM (SELECT unnest(generate_series((SELECT MIN(day) FROM daily),
                                      (SELECT MAX(day) FROM daily))) AS day) s
  LEFT JOIN daily d USING (day)
), f AS (
  SELECT day, x AS actual_cents,
         ({terms}) // {2 ** _SES_WINDOW - 1} AS forecast_cents
  FROM dense
)
SELECT day, actual_cents, CAST(forecast_cents AS BIGINT) AS forecast_cents,
       CAST(ABS(actual_cents - forecast_cents) AS BIGINT) AS abs_err_cents
FROM f ORDER BY day
"""


# --- 4-4-5 fiscal calendar -------------------------------------------------------


def _fy_start_expr(year_col: str) -> str:
    """Epoch day of the first Sunday of February of the given calendar
    year, as a SQL fragment portable to Spark and DuckDB: epoch day 0
    (1970-01-01) was a Thursday, so (d + 4) % 7 maps to 0=Sunday."""
    feb1 = f"datediff(make_date({year_col}, 2, 1), DATE '1970-01-01')"
    return f"({feb1} + (7 - (({feb1} + 4) % 7)) % 7)"


def ord_fiscal_445_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue on the retail 4-4-5 calendar: fiscal year FY(N) starts
    the first Sunday of February of calendar year N; each quarter is
    13 weeks split into periods of 4, 4 and 5 weeks (weeks past 52 —
    the occasional 53-week year — stay in period 12).  Every boundary
    is pure epoch-day integer arithmetic ((d+4)%7 maps 0=Sunday since
    1970-01-01 was a Thursday), so the engines agree bit-for-bit —
    the calendar logic naive month(date) grouping can't express.
    Scan + one agg; the period math is per-row expressions."""
    y = "CAST(EXTRACT(year FROM o_orderdate) AS INT)"
    d = "datediff(to_date(o_orderdate), DATE '1970-01-01')"
    start_y = _fy_start_expr(y)
    start_prev = _fy_start_expr(f"({y} - 1)")
    return spark.sql(
        f"""
        WITH tagged AS (
          SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN {d} >= {start_y} THEN {y} ELSE {y} - 1 END
                   AS fy,
                 CASE WHEN {d} >= {start_y} THEN {d} - {start_y}
                      ELSE {d} - {start_prev} END AS doffs
          FROM {{orders}}
        ), weeks AS (
          SELECT cents, fy,
                 LEAST(CAST(doffs / 7 AS INT), 52) AS wk
          FROM tagged
        ), periods AS (
          SELECT cents, fy,
                 CAST(wk / 13 AS INT) * 3
                 + CASE WHEN wk % 13 < 4 THEN 1
                        WHEN wk % 13 < 8 THEN 2 ELSE 3 END AS period
          FROM weeks
        )
        SELECT CAST(fy AS BIGINT) AS fiscal_year,
               CAST(period AS BIGINT) AS period,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM periods
        GROUP BY 1, 2 ORDER BY fiscal_year, period
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


def _fiscal_oracle() -> str:
    y = "CAST(EXTRACT(year FROM o_orderdate) AS INT)"
    d = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
    feb1 = lambda yy: f"date_diff('day', DATE '1970-01-01', make_date({yy}, 2, 1))"  # noqa: E731
    start = lambda yy: f"({feb1(yy)} + (7 - (({feb1(yy)} + 4) % 7)) % 7)"  # noqa: E731
    return f"""
WITH tagged AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN {d} >= {start(y)} THEN {y} ELSE {y} - 1 END AS fy,
         CASE WHEN {d} >= {start(y)} THEN {d} - {start(y)}
              ELSE {d} - {start(f"({y} - 1)")} END AS doffs
  FROM orders
), weeks AS (
  SELECT cents, fy, LEAST(doffs // 7, 52) AS wk FROM tagged
), periods AS (
  SELECT cents, fy,
         (wk // 13) * 3
         + CASE WHEN wk % 13 < 4 THEN 1
                WHEN wk % 13 < 8 THEN 2 ELSE 3 END AS period
  FROM weeks
)
SELECT CAST(fy AS BIGINT) AS fiscal_year,
       CAST(period AS BIGINT) AS period,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM periods GROUP BY 1, 2 ORDER BY fiscal_year, period
"""


QUERIES = {
    "ts_ses_forecast_int": ts_ses_forecast_int,
    "ord_fiscal_445_revenue": ord_fiscal_445_revenue,
}

ORACLES = {
    "ts_ses_forecast_int": _ses_oracle(),
    "ord_fiscal_445_revenue": _fiscal_oracle(),
}
