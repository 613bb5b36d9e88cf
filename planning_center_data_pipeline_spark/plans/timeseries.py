"""Time-series queries: `ts_` (resampling, smoothing, forecasting,
change points), `surv_` (survival curves) and `rolling_` (rolling
windows)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, sql_cents
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- rolling distinct users (bitmap partials + window union) ----------------
# Distinct users over a trailing 7-day window, per day — the DAU/WAU
# shape.  COUNT(DISTINCT) per sliding window recounts every raw row 7
# times; instead build ONE exact bitmap per (day, bucket) (linear in
# the data, mergeable across ingestion batches), then EXPLODE each
# daily partial to the 7 target days it contributes to and merge with
# an equi-keyed groupBy — no nested-loop range join anywhere.  The
# broadcast semi-join against the day spine drops target days with no
# events of their own.  At 100 TB the per-day bitmap table is KBs per
# day — the rolling union runs on aggregate state, never raw events.

def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").withColumn("tus", epoch_us("ts"))
    daily = (
        e.withColumn("day", F.expr("tus DIV 86400000000"))
        .groupBy("day", F.bitmap_bucket_number("user_id").alias("bkt"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bmp"))
    )
    days = daily.select("day").distinct()
    contrib = daily.select(
        F.explode(F.sequence("day", F.col("day") + 6)).alias("day"), "bkt", "bmp"
    )
    windowed = contrib.join(F.broadcast(days), "day", "left_semi")
    per_bucket = windowed.groupBy("day", "bkt").agg(
        F.bitmap_count(F.bitmap_or_agg("bmp")).alias("cnt")
    )
    return (
        per_bucket.groupBy("day")
        .agg(F.sum("cnt").cast("bigint").alias("users_7d"))
        .orderBy("day")
    )


ROLLING_DISTINCT_7D_SQL = """
WITH d AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM d)
SELECT days.day AS day,
       CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS users_7d
FROM days JOIN d ON d.day <= days.day AND d.day > days.day - 7
GROUP BY days.day ORDER BY days.day
"""


# --- survival analysis: Nelson-Aalen cumulative hazard -----------------------


def surv_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer-churn hazard curve (Nelson-Aalen estimator).

    Subject = customer; duration = days between first and last order;
    event (churn) = last order more than 90 days before the dataset's
    end, else right-censored.  At each event time t: n_risk = subjects
    with duration >= t, d_events = churns at t, hazard = d/n.  The
    per-step hazard quantizes to an INTEGER (ppm) before the prefix
    sum, so the cumulative hazard is an exact integer aggregate —
    order-free and engine-portable (why we ship Nelson-Aalen rather
    than the multiplicative Kaplan-Meier: sums of pre-quantized ints
    are associative; products of doubles are not).

    Plan shape: one shuffle to the per-customer span, one tiny
    per-(nation, duration) agg, windows partitioned BY NATION (25
    parallel curves; rows per window bounded by the calendar span, not
    the subject count).  The 1-row dataset-end aggregate broadcasts.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    end = o.agg(F.max("o_orderdate").alias("maxd"))  # 1 row
    span = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            "o_custkey",
            F.datediff("last_d", "first_d").alias("dur"),
            (
                F.col("last_d") < F.col("maxd") - F.expr("INTERVAL 90 DAYS")
            ).cast("int").alias("event"),
        )
    )
    per_t = (
        span.join(c, span.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("dur").alias("dur_days"))
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("event").alias("d_events"),
        )
    )
    w_risk = (
        Window.partitionBy("nation")
        .orderBy(F.desc("dur_days"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_cum = (
        Window.partitionBy("nation")
        .orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_t.withColumn("n_risk", F.sum("m").over(w_risk))
        .withColumn(
            "hazard_ppm",
            F.round(
                F.lit(1_000_000) * F.col("d_events") / F.col("n_risk")
            ).cast("bigint"),
        )
        .withColumn("cum_hazard_ppm", F.sum("hazard_ppm").over(w_cum))
        .filter(F.col("d_events") > 0)
        .select("nation", "dur_days", "n_risk", "d_events", "cum_hazard_ppm")
        .orderBy("nation", "dur_days")
    )


SURV_HAZARD_CURVE_SQL = """
WITH ends AS (
  SELECT MAX(o_orderdate) AS maxd FROM orders
), span AS (
  SELECT o_custkey,
         date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS dur,
         CASE WHEN MAX(o_orderdate) <
                   (SELECT maxd FROM ends) - INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS event
  FROM orders GROUP BY 1
), per_t AS (
  SELECT n.n_name AS nation, s.dur AS dur_days,
         COUNT(*) AS m, CAST(SUM(s.event) AS BIGINT) AS d_events
  FROM span s
  JOIN customer c ON c.c_custkey = s.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), curve AS (
  SELECT nation, dur_days, d_events,
         CAST(SUM(m) OVER (PARTITION BY nation ORDER BY dur_days DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM per_t
), stepped AS (
  SELECT *, CAST(ROUND(1000000.0 * d_events / n_risk) AS BIGINT)
              AS hazard_ppm
  FROM curve
)
SELECT nation, dur_days, n_risk, d_events,
       CAST(SUM(hazard_ppm) OVER (PARTITION BY nation ORDER BY dur_days
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT)
         AS cum_hazard_ppm
FROM stepped
WHERE d_events > 0
ORDER BY nation, dur_days
"""


# --- daily-revenue autocorrelation ----------------------------------------------

_ACF_LAGS = (1, 7, 14)


def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily shipped revenue at lags 1, 7 and 14:

        r_k = sum((x_t - m)(x_{t+k} - m)) / sum((x_t - m)^2)

    expanded so every data-dependent sum is EXACT — Sxy_k (decimal
    cross-products over the k-shifted self-join), the head/tail sums
    and the global sum/ssq — and the mean-centering happens once, in
    a fixed IEEE expression evaluated identically by both engines.

    Plan shape: one shuffle to the calendar-bounded daily rollup;
    each lag is an equi-join of that ~2.5k-row table with itself
    (date + k days); the global moments are a 1-row broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(cents("l_extendedprice")).alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("ssq"),
    )  # 1 row
    outs = []
    for k in _ACF_LAGS:
        j = (
            daily.alias("a")
            .join(
                daily.alias("b"),
                F.date_add(F.col("a.d"), k) == F.col("b.d"),
            )
            .agg(
                F.lit(k).alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(dec(F.col("a.x")) * dec(F.col("b.x"))).alias("sxy"),
                F.sum(F.col("a.x")).alias("sh"),
                F.sum(F.col("b.x")).alias("st"),
            )
        )
        outs.append(j)
    lagged = outs[0]
    for o in outs[1:]:
        lagged = lagged.unionByName(o)
    n = F.col("n").cast("double")
    mu = F.col("s").cast("double") / n
    num = (
        F.col("sxy").cast("double")
        - mu * F.col("sh").cast("double")
        - mu * F.col("st").cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    )
    den = F.col("ssq").cast("double") - n * mu * mu
    return (
        lagged.crossJoin(F.broadcast(tot))
        .select(
            "lag",
            "n_pairs",
            F.round(num / den, 6).alias("acf"),
        )
        .orderBy("lag")
    )


_ACF_LAG_PARTS = "\nUNION ALL\n".join(
    f"""
SELECT {k} AS lag, COUNT(*) AS n_pairs,
       SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy,
       CAST(SUM(a.x) AS BIGINT) AS sh,
       CAST(SUM(b.x) AS BIGINT) AS st
FROM daily a JOIN daily b ON b.d = a.d + INTERVAL {k} DAY"""
    for k in _ACF_LAGS
)

TS_AUTOCORRELATION_SQL = f"""
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS x
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ssq
  FROM daily
), lagged AS (
{_ACF_LAG_PARTS}
)
SELECT lag, n_pairs,
       ROUND(
         (CAST(sxy AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sh AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(st AS DOUBLE)
          + CAST(n_pairs AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         / (CAST(ssq AS DOUBLE)
            - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS acf
FROM lagged CROSS JOIN tot ORDER BY lag
"""


# --- single change-point on the daily revenue series ------------------------------


def ts_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection (binary-segmentation step 1) on
    the daily shipped-revenue series: the split day k maximizing the
    between-segment sum of squares

        score(k) = S_L^2/k + S_R^2/(n-k) - S^2/n

    where S_L/S_R are exact integer prefix/suffix cent sums.  The
    squares are taken in DOUBLE (they overflow int64 at scale; IEEE
    multiplication is deterministic), and both engines evaluate the
    identical expression tree, so the argmax ordering is portable
    (day tie-break).  Output: the split day, segment means, and the
    mean shift.

    Plan shape: one shuffle to the calendar-bounded (~2.5k-row) daily
    rollup; prefix sums and the argmax all run over that tiny
    relation (1-row totals broadcast).
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(cents("l_extendedprice")).alias("rev")
    )
    tot = daily.agg(
        F.sum("rev").alias("s_all"), F.count(F.lit(1)).alias("n_all")
    )  # 1 row
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        daily.withColumn("s_l", F.sum("rev").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n_all"))  # right segment non-empty
    )
    sl = F.col("s_l").cast("double")
    sr = (F.col("s_all") - F.col("s_l")).cast("double")
    k = F.col("k").cast("double")
    nr = (F.col("n_all") - F.col("k")).cast("double")
    score = (
        sl * sl / k
        + sr * sr / nr
        - F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_all").cast("double")
    )
    return (
        pre.select(
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.col("k").alias("n_days_left"),
            (F.col("n_all") - F.col("k")).alias("n_days_right"),
            F.round(sl / k / F.lit(100.0), 6).alias("mean_left"),
            F.round(sr / nr / F.lit(100.0), 6).alias("mean_right"),
            F.round((sr / nr - sl / k) / F.lit(100.0), 6).alias("shift"),
            score.alias("__score"),
        )
        .orderBy(F.desc("__score"), "split_day")
        .limit(1)
        .drop("__score")
    )


TS_CHANGEPOINT_DAILY_SQL = """
WITH daily AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev) AS BIGINT) AS s_all, COUNT(*) AS n_all FROM daily
), pre AS (
  SELECT d,
         CAST(SUM(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS s_l,
         CAST(COUNT(*) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS k,
         s_all, n_all
  FROM daily CROSS JOIN tot
  QUALIFY k < n_all
)
SELECT strftime(d, '%Y-%m-%d') AS split_day,
       k AS n_days_left,
       n_all - k AS n_days_right,
       ROUND(CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE) / 100.0, 6)
         AS mean_left,
       ROUND(CAST(s_all - s_l AS DOUBLE) / CAST(n_all - k AS DOUBLE)
             / 100.0, 6) AS mean_right,
       ROUND((CAST(s_all - s_l AS DOUBLE) / CAST(n_all - k AS DOUBLE)
              - CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE)) / 100.0, 6)
         AS shift
FROM pre
ORDER BY (CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / CAST(k AS DOUBLE)
          + CAST(s_all - s_l AS DOUBLE) * CAST(s_all - s_l AS DOUBLE)
            / CAST(n_all - k AS DOUBLE)
          - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
            / CAST(n_all AS DOUBLE)) DESC, split_day
LIMIT 1
"""


# --- time series: exact integer EWMA ------------------------------------------


def ts_ewma_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted recent spend per customer: the last 8
    orders weighted 128,64,...,1 (alpha = 1/2 truncated at 8 lags),
    all in scaled int64 — the weighted sum is exact and
    order-independent, so partial aggregation at any parallelism
    reproduces the oracle bit-for-bit.  The float appears exactly
    once, in the final num/den division (IEEE-deterministic for a
    given int pair).  One shuffle for the per-customer window."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    weight = F.expr("shiftleft(CAST(1 AS BIGINT), 8 - rn)")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .withColumn("wt", weight)
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(
            F.sum(cents("o_totalprice") * F.col("wt")).alias("ewma_num"),
            F.sum("wt").alias("ewma_den"),
        )
        .withColumn(
            "ewma_cents",
            F.col("ewma_num").cast("double") / F.col("ewma_den"),
        )
        .orderBy("cust_key")
    )


TS_EWMA_SPEND_SQL = f"""
WITH ranked AS (
  SELECT o_custkey,
         {sql_cents("o_totalprice")} AS cts,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
)
SELECT o_custkey AS cust_key,
       CAST(SUM(cts * (CAST(1 AS BIGINT) << (8 - rn))) AS BIGINT) AS ewma_num,
       CAST(SUM(CAST(1 AS BIGINT) << (8 - rn)) AS BIGINT) AS ewma_den,
       CAST(SUM(cts * (CAST(1 AS BIGINT) << (8 - rn))) AS DOUBLE)
         / CAST(SUM(CAST(1 AS BIGINT) << (8 - rn)) AS BIGINT) AS ewma_cents
FROM ranked WHERE rn <= 8
GROUP BY o_custkey
ORDER BY cust_key
"""


# --- time-series gap fill ----------------------------------------------------
# Densify sparse per-user daily spend against a calendar spine and
# forward-fill the last observation (the classic prepare-for-training
# resample).  The spine is generated, not stored: sequence() + explode
# is O(|users| * |days|) rows but zero extra scans.  One shuffle on
# user_id for the window; the left join broadcasts nothing (spine and
# observations are co-partitioned by the join key after the shuffle).

def ts_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    users = e.filter(F.col("user_id") % 20 == 0).select("user_id").distinct()
    # attach the 30-element date array to each user and explode: a pure
    # projection (generate), not a cross join — no BroadcastNestedLoop
    # in the plan, and it scales as O(|users|) rows with zero shuffle
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    obs = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("day_cents"))
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(
                F.last("day_cents", ignorenulls=True).over(w), F.lit(0)
            ).alias("filled_cents"),
            F.col("day_cents").isNotNull().alias("observed"),
        )
        .orderBy("user_id", "day")
    )


TS_GAP_FILL_SQL = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0
), days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
  GROUP BY 1, 2
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
       COALESCE(last_value(o.day_cents IGNORE NULLS)
                  OVER (PARTITION BY s.user_id ORDER BY s.day
                        ROWS UNBOUNDED PRECEDING), 0) AS filled_cents,
       o.day_cents IS NOT NULL AS observed
FROM (SELECT u.user_id, d.day FROM users u CROSS JOIN days d) s
LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
ORDER BY s.user_id, day
"""


# --- additive Holt-Winters forecast ----------------------------------------------------

_HW_ALPHA, _HW_BETA, _HW_GAMMA = "0.25", "0.125", "0.25"

_HW_WINDOW = 36  # last 36 observed months: 12 init + 24 update rounds


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
    shared by ts_holt_winters_additive and the damped/MASE
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


def ts_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (alpha 0.25, beta 0.125, gamma 0.25, period
    12) over the LAST 36 observed months of order revenue: classical
    init (level = mean of the first 12 months, trend = mean month-over
    -month difference of the two init years, seasonals = first-year
    deviations), then 24 UNROLLED update rounds — each round is a
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
    the window leaves its y{i} NULL and the recurrence propagates
    NULL into all 12 forecasts, in BOTH engines identically.  That is
    the deliberate contract (a gap means the series is not a valid
    36-month spine, and a loud all-NULL answer beats silently
    zero-filling revenue); tests/test_wave50.py pins it with a
    gapped-spine fixture and asserts the real data's window is
    gap-free."""
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


# Damped-trend variant (Gardner-McKenzie): phi exactly representable
# in binary (7/8) so the literal parses to the identical double in
# both engines.  Used by ts_holt_winters_damped.
_HW_PHI = "0.875"


# --- damped-trend Holt-Winters --------------------------------------------------------


def _damp_sums() -> list[str]:
    """repr literals of phi + phi^2 + ... + phi^h for h = 1..12; both
    engines parse the identical shortest-roundtrip decimal to the
    identical double, so the forecast expression trees match
    bit-for-bit."""
    phi = float(_HW_PHI)
    out, p, s = [], 1.0, 0.0
    for _ in range(12):
        p *= phi
        s += p
        out.append(repr(s))
    return out


def ts_holt_winters_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-trend additive Holt-Winters (Gardner-McKenzie; alpha
    1/4, beta 1/8, gamma 1/4, phi 7/8, period 12) over the same
    calendar-anchored 36-month revenue window as
    ts_holt_winters_additive (shared _hw_wide
    scaffold, shared gap semantics: a missing month NULLs all
    forecasts in both engines).  The recurrence damps the trend
    (l uses l + phi*b, b decays by phi — see _hw_update_exprs
    phi branch), and the h-step forecast is
    y(T+h) = l + (phi + ... + phi^h) * b + s_((h-1) mod 12).
    Scale shape: fact rollup to <= ~84 months; 1-row plan below."""
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
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs(phi=_HW_PHI)):
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
    dsums = _damp_sums()
    entries = ", ".join(
        f"named_struct('h', CAST({h} AS BIGINT), 'forecast',"
        f" ROUND((l + {dsums[h - 1]} * b + s{(h - 1) % 12}) / 100.0, 6))"
        for h in range(1, 13)
    )
    return state.selectExpr(f"inline(array({entries}))").orderBy("h")


def _hw_damped_sql() -> str:
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
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs(phi=_HW_PHI)):
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
    dsums = _damp_sums()
    forecasts = "\nUNION ALL\n".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" ROUND((l + {dsums[h - 1]} * b + s{(h - 1) % 12}) / 100.0, 6)"
        f" AS forecast"
        f" FROM {prev}"
        for h in range(1, 13)
    )
    return f"WITH {', '.join(ctes)}\n{forecasts}\nORDER BY h"


# --- Holt-Winters holdout MASE ---------------------------------------------------------

_MASE_WINDOW = 48  # 36 training months + 12 held-out months


def _mase_fc(h: int) -> str:
    return f"l + {h}.0 * b + s{(h - 1) % 12}"


def _mase_expr() -> str:
    """The global MASE as ONE expression string over the final 1-row
    state (identical text in every output row and in both engines):
    mean |holdout error| / in-sample seasonal-naive MAE (den)."""
    errs = " + ".join(
        f"ABS(y{35 + h} - ({_mase_fc(h)}))" for h in range(1, 13)
    )
    return f"ROUND((({errs}) / 12.0) / den, 6)"


def ts_holt_winters_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout forecast-accuracy audit of the additive Holt-Winters
    model: fit on the 36 months [T-47, T-12] (identical init + update
    expressions to ts_holt_winters_additive — _hw_update_exprs
    defaults), forecast h = 1..12 against the OBSERVED last 12
    months, and report each error plus Hyndman's MASE = mean |err| /
    mean_{t=13..36} |y_t - y_{t-12}| (the training window's seasonal
    naive MAE, carried through the unrolled rounds as the 1-row `den`
    column).  MASE < 1 means the model beats the seasonal naive on
    held-out data.  Scale shape: fact rollup to <= ~84 months; 1-row
    plan below; same calendar-anchored NULL-on-gap semantics as the
    other HW queries."""
    wide = _hw_wide(spark, sf_dir, _MASE_WINDOW)
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    den = (
        "("
        + " + ".join(f"ABS(y{i} - y{i - 12})" for i in range(12, 36))
        + ") / 24.0"
    )
    state = wide.selectExpr(
        "*",
        f"({y1}) / 12.0 AS l",
        f"(({y2}) - ({y1})) / 144.0 AS b",
        f"{den} AS den",
    ).selectExpr(
        "l",
        "b",
        "den",
        *[f"y{i} - l AS s{i}" for i in range(12)],
        *[f"y{i}" for i in range(12, _MASE_WINDOW)],
    )
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _MASE_WINDOW)]
        state = state.selectExpr(
            f"{lnew} AS l",
            f"{bnew} AS b",
            "den",
            *[
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ],
            *keep_y,
        )
    mase = _mase_expr()
    entries = ", ".join(
        f"named_struct('h', CAST({h} AS BIGINT),"
        f" 'forecast', ROUND(({_mase_fc(h)}) / 100.0, 6),"
        f" 'observed', ROUND(y{35 + h} / 100.0, 6),"
        f" 'abs_err', ROUND(ABS(y{35 + h} - ({_mase_fc(h)})) / 100.0, 6),"
        f" 'mase', {mase})"
        for h in range(1, 13)
    )
    return state.selectExpr(f"inline(array({entries}))").orderBy("h")


def _hw_mase_sql() -> str:
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    den = (
        "("
        + " + ".join(f"ABS(y{i} - y{i - 12})" for i in range(12, 36))
        + ") / 24.0"
    )
    ctes = [
        _hw_sql_wide_ctes(_MASE_WINDOW)
        + f""", st0 AS (
  SELECT *, ({y1}) / 12.0 AS l, (({y2}) - ({y1})) / 144.0 AS b,
         {den} AS den
  FROM wide
), st1 AS (
  SELECT l, b, den,
         {", ".join(f"y{i} - l AS s{i}" for i in range(12))},
         {", ".join(f"y{i}" for i in range(12, _MASE_WINDOW))}
  FROM st0
)"""
    ]
    prev = "st1"
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _MASE_WINDOW)]
        nxt = f"u{r}"
        cols = ", ".join(
            [f"{lnew} AS l", f"{bnew} AS b", "den"]
            + [
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ]
            + keep_y
        )
        ctes.append(f"{nxt} AS (SELECT {cols} FROM {prev})")
        prev = nxt
    mase = _mase_expr()
    forecasts = "\nUNION ALL\n".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" ROUND(({_mase_fc(h)}) / 100.0, 6) AS forecast,"
        f" ROUND(y{35 + h} / 100.0, 6) AS observed,"
        f" ROUND(ABS(y{35 + h} - ({_mase_fc(h)})) / 100.0, 6) AS abs_err,"
        f" {mase} AS mase"
        f" FROM {prev}"
        for h in range(1, 13)
    )
    return f"WITH {', '.join(ctes)}\n{forecasts}\nORDER BY h"


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


def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the gap-filled daily spine: missing
    days get prev + (next-prev) * elapsed/gap between the surrounding
    observations (nearest-known at the edges, 0 when a user has no
    observations).  Same single shuffle on user_id as the gap fill —
    the backward and forward scans are two frames over one window
    ordering, so Spark evaluates both in one pass per partition."""
    e = load_table(spark, sf_dir, "events")
    users = e.filter(F.col("user_id") % 20 == 0).select("user_id").distinct()
    spine = users.select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    obs = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("day_cents"))
    )
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    g = spine.join(obs, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("day_cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = (
        F.when(F.col("prev_d").isNull() & F.col("next_d").isNull(), F.lit(0.0))
        .when(F.col("prev_d").isNull(), F.col("next_c").cast("double"))
        .when(F.col("next_d").isNull(), F.col("prev_c").cast("double"))
        .otherwise(
            F.col("prev_c").cast("double")
            + (F.col("next_c") - F.col("prev_c")).cast("double")
            * (
                F.datediff(F.col("day"), F.col("prev_d")).cast("double")
                / F.greatest(
                    F.datediff(F.col("next_d"), F.col("prev_d")), F.lit(1)
                ).cast("double")
            )
        )
    )
    return g.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        interp.alias("interp_cents"),
        F.col("day_cents").isNotNull().alias("observed"),
    ).orderBy("user_id", "day")


TS_INTERPOLATE_SQL = """
WITH users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0
), days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
), obs AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE event_type = 'purchase' AND user_id % 20 = 0
  GROUP BY 1, 2
), f AS (
  SELECT s.user_id, s.day, o.day_cents,
         last_value(o.day_cents IGNORE NULLS) OVER wpast AS prev_c,
         last_value(CASE WHEN o.day_cents IS NOT NULL THEN s.day END
                    IGNORE NULLS) OVER wpast AS prev_d,
         first_value(o.day_cents IGNORE NULLS) OVER wfut AS next_c,
         first_value(CASE WHEN o.day_cents IS NOT NULL THEN s.day END
                     IGNORE NULLS) OVER wfut AS next_d
  FROM (SELECT u.user_id, d.day FROM users u CROSS JOIN days d) s
  LEFT JOIN obs o ON o.user_id = s.user_id AND o.day = s.day
  WINDOW wpast AS (PARTITION BY s.user_id ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING),
         wfut AS (PARTITION BY s.user_id ORDER BY s.day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CASE WHEN prev_d IS NULL AND next_d IS NULL THEN 0.0
            WHEN prev_d IS NULL THEN CAST(next_c AS DOUBLE)
            WHEN next_d IS NULL THEN CAST(prev_c AS DOUBLE)
            ELSE CAST(prev_c AS DOUBLE) + CAST(next_c - prev_c AS DOUBLE) *
                 (CAST(date_diff('day', prev_d, day) AS DOUBLE) /
                  CAST(GREATEST(date_diff('day', prev_d, next_d), 1) AS DOUBLE))
       END AS interp_cents,
       day_cents IS NOT NULL AS observed
FROM f
ORDER BY user_id, day
"""


# --- sweep-line: interval union length --------------------------------------
# Total covered wall-clock per user after merging overlapping 10-minute
# activity intervals (gaps-and-islands).  prev_max_end over an ordered
# window detects island starts; covered time = Σ per-island
# (max_end - min_start).  Exact int64 microseconds end to end.

_COVER_US = 600 * 1_000_000


def ts_interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(_COVER_US)).alias("e"),
        "event_id",
    )
    ordering = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        ordering.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(ordering.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("span_us").cast("bigint").alias("covered_us"),
            F.count("*").cast("bigint").alias("n_islands"),
        )
        .orderBy("user_id")
    )


TS_INTERVAL_UNION_SQL = f"""
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + {_COVER_US} AS e, event_id
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER w IS NULL
                OR s > MAX(e) OVER w THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT user_id, island, MAX(e) - MIN(s) AS span_us
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(SUM(span_us) AS BIGINT) AS covered_us,
       CAST(COUNT(*) AS BIGINT) AS n_islands
FROM spans GROUP BY user_id ORDER BY user_id
"""


# --- Ljung-Box ---------------------------------------------------------------------

_LB_LAGS = 10


def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily order-revenue series:
    Q = n(n+2) sum_{k=1..10} r_k^2 / (n-k).  Autocorrelations are
    integer-cleared — with y_t = n*x_t - S (exact DECIMAL), r_k =
    sum_t y_t*y_{t-k} / sum_t y_t^2 — so both engines divide identical
    128-bit quantities.  The lag products run over the CALENDAR-sized
    day spine."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    y = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (F.col("n") * F.col("x") - F.col("s")).alias("y"),
    )
    w = Window.orderBy("day")
    lagged = y.select(
        "day",
        "n",
        "y",
        *[
            F.lag("y", k).over(w).alias(f"y{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    sums = lagged.agg(
        F.first("n").alias("n"),
        F.sum(F.col("y") * F.col("y")).alias("d"),
        *[
            F.sum(F.col("y") * F.col(f"y{k}")).alias(f"num{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    q = None
    for k in range(1, _LB_LAGS + 1):
        rk = F.col(f"num{k}").cast("double") / F.col("d").cast("double")
        term = rk * rk / (F.col("n").cast("double") - k)
        q = term if q is None else q + term
    return sums.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            F.col("n").cast("double")
            * (F.col("n").cast("double") + 2.0)
            * q,
            6,
        ).alias("q_stat"),
    )


def _lb_sql() -> str:
    lag_cols = ",\n         ".join(
        f"LAG(y, {k}) OVER (ORDER BY day) AS y{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    nums = ",\n         ".join(
        f"SUM(y * y{k}) AS num{k}" for k in range(1, _LB_LAGS + 1)
    )
    qterms = " + ".join(
        f"(CAST(num{k} AS DOUBLE) / CAST(d AS DOUBLE))"
        f" * (CAST(num{k} AS DOUBLE) / CAST(d AS DOUBLE))"
        f" / (CAST(n AS DOUBLE) - {k})"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS x
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s FROM daily
), y AS (
  SELECT day, tot.n, tot.n * x - tot.s AS y FROM daily, tot
), lagged AS (
  SELECT day, n, y,
         {lag_cols}
  FROM y
), sums AS (
  SELECT MIN(n) AS n, SUM(y * y) AS d,
         {nums}
  FROM lagged
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
             * ({qterms}), 6) AS q_stat
FROM sums
"""


# --- max drawdown -------------------------------------------------------------


def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of the daily order-revenue series: peak_t =
    max(revenue_0..t), drawdown_t = peak_t - revenue_t (cents, exact
    int), dd_frac = drawdown / peak (one double division).  Output is
    the 25 deepest drawdown days — the 'how bad did it get, and when'
    risk query every treasury dashboard runs.

    The series is CALENDAR-sized (one row per order day), so the
    window is bounded regardless of fact size; one groupBy + one
    sort-once window."""
    o = load_table(spark, sf_dir, "orders")
    # day as ISO STRING: DuckDB DATE arrives in pandas as datetime64
    # and would stringify with a T00:00:00 suffix the hash rejects
    daily = o.groupBy(
        F.to_date("o_orderdate").cast("string").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "cents",
        F.max("cents").over(w).alias("peak_cents"),
    ).select(
        "day",
        "cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("cents")).cast("bigint").alias("dd_cents"),
        (
            (F.col("peak_cents") - F.col("cents")).cast("double")
            / F.col("peak_cents").cast("double")
        ).alias("dd_frac"),
    )
    return dd.orderBy(F.desc("dd_cents"), "day").limit(25)


_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), dd AS (
  SELECT day, cents,
         MAX(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak_cents
  FROM daily
)
SELECT day, cents, CAST(peak_cents AS BIGINT) AS peak_cents,
       CAST(peak_cents - cents AS BIGINT) AS dd_cents,
       CAST(peak_cents - cents AS DOUBLE) / CAST(peak_cents AS DOUBLE)
         AS dd_frac
FROM dd ORDER BY dd_cents DESC, day LIMIT 25
"""


# --- monthly seasonal index ---------------------------------------------------


def ts_monthly_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal index over order revenue:
    index(month) = month revenue * 12 / total revenue, in integer
    micro-units (1e6 = exactly seasonal-neutral).  One agg + one
    window over 12 rows — scan-bound at any scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            F.month("o_orderdate").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").cast("bigint").alias("month_cents"))
    )
    total = Window.partitionBy()
    return (
        monthly.withColumn(
            "total_cents", F.sum("month_cents").over(total).cast("bigint")
        )
        .select(
            F.col("month").cast("long").alias("month"),
            "month_cents",
            # NOT (m*12*1e6) DIV t: that int64 product overflows at sf1
            # (total cents ~2e13).  double(m)/double(t)*12e6 is exact
            # int->double (< 2^53) followed by two correctly-rounded
            # IEEE ops + floor — bit-identical on both engines, no
            # overflow at any sf.
            F.floor(
                F.col("month_cents").cast("double")
                / F.col("total_cents").cast("double")
                * 12e6
            )
            .cast("bigint")
            .alias("index_micro"),
        )
        .orderBy("month")
    )


TS_MONTHLY_SEASONAL_SQL = """
WITH monthly AS (
  SELECT EXTRACT(month FROM o_orderdate) AS month,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS month_cents
  FROM orders GROUP BY 1
)
SELECT CAST(month AS BIGINT) AS month, month_cents,
       CAST(FLOOR(CAST(month_cents AS DOUBLE)
                  / CAST((SELECT SUM(month_cents) FROM monthly) AS DOUBLE)
                  * 12e6) AS BIGINT) AS index_micro
FROM monthly ORDER BY month
"""


# --- regression: group-wise OLS trend ------------------------------------------


def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS revenue trend (cents/month), EXACT: the four
    moment sums (n, Sx, Sy, Sxy, Sxx) are integers — x is the month
    index, y the monthly revenue in cents — so the normal-equation
    slope/intercept are single double divisions of exact int64
    numerators.  This is the scalable shape for grouped regression:
    built-in regr_slope would float-sum in partial-aggregation order
    (nondeterministic across partitionings); integer moments make the
    answer partitioning-invariant.  Two shuffles: monthly rollup, then
    the per-nation moment aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - F.lit(1990)) * 12
                + F.month("o_orderdate")
                - 1
            ).alias("x"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("y"))
    )
    agg = monthly.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / den
    )
    intercept = (
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
        / den
    )
    return agg.select(
        "nation_key",
        F.col("n").alias("n_months"),
        slope.alias("slope_cents"),
        intercept.alias("intercept_cents"),
    ).orderBy("nation_key")


TS_OLS_TREND_SQL = f"""
WITH monthly AS (
  SELECT c.c_nationkey,
         (EXTRACT(YEAR FROM o_orderdate) - 1990) * 12
           + EXTRACT(MONTH FROM o_orderdate) - 1 AS x,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), m AS (
  SELECT c_nationkey AS nation_key,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy,
         CAST(SUM(x*x) AS BIGINT) AS sxx
  FROM monthly GROUP BY 1
)
SELECT nation_key, n AS n_months,
       CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx) AS slope_cents,
       CAST(sy*sxx - sx*sxy AS DOUBLE) / (n*sxx - sx*sx) AS intercept_cents
FROM m ORDER BY nation_key
"""


# --- time series: exact rolling median ----------------------------------------


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling median of daily revenue per order priority, exact:
    the frame is collected per row (bounded: <= 7 int64 values), sorted,
    and the median assembled as the midpoint of the two central
    elements — which is bit-identical to DuckDB's interpolating median
    on integers (the midpoint of two int64s is exact in double).
    Windows partition by priority so the series parallelize; the only
    unbounded shuffle is the daily pre-aggregation."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(F.sum(cents("o_totalprice")).alias("x"))
    frame = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    # CAST ... AS DOUBLE, not "/ 2.0": Spark parses the 2.0 literal as
    # DECIMAL(2,1) and the whole expression would silently become
    # decimal (different stringification than the oracle's DOUBLE)
    med = F.expr(
        "CAST(element_at(xs, CAST((size(xs)+1)/2 AS INT))"
        " + element_at(xs, CAST(size(xs)/2 AS INT) + 1) AS DOUBLE) / 2"
    )
    return (
        daily.withColumn("xs", F.sort_array(F.collect_list("x").over(frame)))
        .select(
            "priority",
            F.col("d").cast("string").alias("day"),
            med.alias("med_cents"),
        )
        .orderBy("priority", "day")
    )


TS_ROLLING_MEDIAN_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS d,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
)
SELECT priority, CAST(d AS VARCHAR) AS day,
       CAST(MEDIAN(x) OVER (PARTITION BY priority ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS med_cents
FROM daily
ORDER BY priority, day
"""

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


# --- seasonal-median decomposition -------------------------------------------


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition of monthly revenue: seasonal component =
    the across-years MEDIAN of that calendar month's totals, residual
    = actual - seasonal.  Medians live in 2x-cent integers (the
    even-count midpoint average is then exact — ev_mad_outliers'
    trick), so seasonal and residual are exact to the half-cent.

    Plan: monthly rollup (one shuffle), a 12-group median over the
    tiny monthly table, broadcast back.  Calendar-bounded windows
    only.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(cents("o_totalprice")).alias("tc"))
    moy = monthly.withColumn("moy", F.substring("month", 6, 2))
    med = moy.groupBy("moy").agg(
        F.round(F.lit(2.0) * F.percentile("tc", F.lit(0.5)))
        .cast("bigint")
        .alias("med2")
    )
    return (
        moy.join(F.broadcast(med), "moy")
        .select(
            "month",
            (F.col("tc").cast("double") / 100.0).alias("revenue"),
            (F.col("med2").cast("double") / 200.0).alias("seasonal"),
            (
                (F.lit(2) * F.col("tc") - F.col("med2")).cast("double") / 200.0
            ).alias("residual"),
        )
        .orderBy("month")
    )


TS_SEASONAL_DECOMPOSE_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS tc
  FROM orders GROUP BY 1
), med AS (
  SELECT substr(month, 6, 2) AS moy,
         CAST(ROUND(2.0 * quantile_cont(tc, 0.5)) AS BIGINT) AS med2
  FROM monthly GROUP BY 1
)
SELECT m.month,
       CAST(m.tc AS DOUBLE)/100.0 AS revenue,
       CAST(d.med2 AS DOUBLE)/200.0 AS seasonal,
       CAST(2*m.tc - d.med2 AS DOUBLE)/200.0 AS residual
FROM monthly m JOIN med d ON d.moy = substr(m.month, 6, 2)
ORDER BY m.month
"""


# --- seasonal-naive forecast error ------------------------------------------

def ts_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAPE of forecast(month m) = actual(m - 12), grouped by year.

    The lag is an equi self-join on the month index (mi = mi - 12) —
    robust to missing months, unlike a LAG window over present rows.
    Per-month APE is fixed-pointed to 1e-9 before the average so the
    per-year reduction is an exact integer sum.
    """
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).cast(
        "long"
    )
    monthly = o.groupBy(mi.alias("mi")).agg(
        F.sum(cents("o_totalprice")).alias("rc")
    )
    fc = monthly.select(
        (F.col("mi") + 12).alias("mi"), F.col("rc").alias("fc")
    )
    joined = monthly.join(fc, "mi").select(
        F.floor((F.col("mi") - 1) / 12).cast("long").alias("yr"),
        F.round(
            F.abs(F.col("rc") - F.col("fc")).cast("double")
            / F.col("rc").cast("double")
            * F.lit(1e9)
        ).cast("bigint").alias("ape_fp"),
    )
    return (
        joined.groupBy("yr")
        .agg(
            F.count("*").alias("n_months"),
            (
                F.sum("ape_fp").cast("double")
                / F.count("*")
                / F.lit(1e9)
            ).alias("mape"),
        )
        .orderBy("yr")
    )


TS_SEASONAL_NAIVE_MAPE_SQL = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rc
  FROM orders GROUP BY 1
), joined AS (
  SELECT CAST(floor((a.mi - 1)/12) AS BIGINT) AS yr,
         CAST(ROUND(CAST(abs(a.rc - f.rc) AS DOUBLE)
                    / CAST(a.rc AS DOUBLE) * 1e9) AS BIGINT) AS ape_fp
  FROM monthly a JOIN monthly f ON a.mi = f.mi + 12
)
SELECT yr, COUNT(*) AS n_months,
       CAST(SUM(ape_fp) AS DOUBLE)/COUNT(*)/1e9 AS mape
FROM joined GROUP BY yr ORDER BY yr
"""


# --- integer SES forecast -------------------------------------------------------

_SES_WINDOW = 16  # truncation horizon: weight 2^-16 ~ 1.5e-5 of mass


# global windows run over the dense order-day spine, one row per calendar day
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


# --- spectral peaks over the daily order series -------------------------------------


def ts_spectral_peaks_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style single-bin DFT power of the daily order-count
    series at fixed candidate periods (7 / 30 / 91 days) — the
    seasonality screen a forecasting pipeline runs before fitting.
    Days are indexed from the global min date; ABSENT days contribute
    exactly 0 to every bin, so no spine is needed.  Per-day terms
    c * cos(2 pi t / p) are quantized to micro-units (cos/sin agree
    bit-for-bit across engines on identical doubles; measured), so the
    cross-day sums are order-free integer sums; power is one double
    expression over the two exact sums.  Scale shape: one fact rollup
    to <= ~2400 days, broadcast 1-row min-date, 3-row output."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    indexed = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"), "c"
    )
    periods = spark.range(1).select(
        F.explode(F.array(F.lit(7), F.lit(30), F.lit(91))).alias("p")
    )
    terms = indexed.crossJoin(F.broadcast(periods)).select(
        "p",
        F.expr(
            "CAST(ROUND(CAST(c AS DOUBLE)"
            " * COS(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("aq"),
        F.expr(
            "CAST(ROUND(CAST(c AS DOUBLE)"
            " * SIN(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("bq"),
    )
    return (
        terms.groupBy("p")
        .agg(
            F.sum("aq").cast("bigint").alias("a_sum"),
            F.sum("bq").cast("bigint").alias("b_sum"),
        )
        .select(
            F.col("p").cast("bigint").alias("period_days"),
            "a_sum",
            "b_sum",
            F.round(
                F.expr(
                    "(CAST(a_sum AS DOUBLE) * CAST(a_sum AS DOUBLE)"
                    " + CAST(b_sum AS DOUBLE) * CAST(b_sum AS DOUBLE))"
                    " / 1e12"
                ),
                3,
            ).alias("power"),
        )
        .orderBy("period_days")
    )


_SPECTRAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), d0 AS (SELECT MIN(d) AS d0 FROM daily),
indexed AS (
  SELECT CAST(DATEDIFF('day', d0, d) AS BIGINT) AS t, c
  FROM daily CROSS JOIN d0
), periods AS (SELECT UNNEST([7, 30, 91]) AS p),
terms AS (
  SELECT p,
         CAST(ROUND(CAST(c AS DOUBLE)
              * COS(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS aq,
         CAST(ROUND(CAST(c AS DOUBLE)
              * SIN(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS bq
  FROM indexed CROSS JOIN periods
)
SELECT CAST(p AS BIGINT) AS period_days,
       CAST(SUM(aq) AS BIGINT) AS a_sum,
       CAST(SUM(bq) AS BIGINT) AS b_sum,
       ROUND((CAST(SUM(aq) AS DOUBLE) * CAST(SUM(aq) AS DOUBLE)
              + CAST(SUM(bq) AS DOUBLE) * CAST(SUM(bq) AS DOUBLE))
             / 1e12, 3) AS power
FROM terms GROUP BY p ORDER BY period_days
"""


# --- Theil-Sen robust slope ---------------------------------------------------


def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the revenue trend per customer nation:
    monthly revenue cents y_m over month index m, slope = median over
    all pairs m1 < m2 of (y2 - y1) / (m2 - m1).  The median is robust
    to outlier months OLS (ts_ols_trend) is not.

    Exactness: each pairwise slope is ONE double division of exact
    int64s (bit-identical across engines); the median is the
    lower-median row selected by row_number over (slope, m1, m2) — a
    deterministic total order.  Scale: the pair join is per-nation over
    the MONTHLY series, so its size is nations * C(#months, 2) — a
    calendar constant (~84 months -> ~3.5k pairs/nation) independent of
    fact-table size; everything fact-sized is one groupBy."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # customer is fact-scaled (15M rows at SF100) — no broadcast hint,
    # let AQE pick; nation (25 rows) broadcasts unconditionally
    monthly = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate") - 1
            ).cast("bigint").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    a = monthly.select("n_name", F.col("m").alias("m1"), F.col("y").alias("y1"))
    b = monthly.select("n_name", F.col("m").alias("m2"), F.col("y").alias("y2"))
    pairs = a.join(b, "n_name").filter(F.col("m1") < F.col("m2")).select(
        "n_name",
        "m1",
        "m2",
        (
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("m2") - F.col("m1")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("n_name").orderBy("slope", "m1", "m2")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("n_name"))
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
        .select(
            "n_name",
            F.col("cnt").cast("bigint").alias("n_pairs"),
            F.col("slope").alias("ts_slope_cents_per_month"),
        )
        .orderBy("n_name")
    )


_THEIL_SEN_SQL = """
WITH monthly AS (
  SELECT n_name,
         CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.n_name, a.m AS m1, b.m AS m2,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.m < b.m
), ranked AS (
  SELECT n_name, slope,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY slope, m1, m2) AS rn,
         COUNT(*) OVER (PARTITION BY n_name) AS cnt
  FROM pairs
)
SELECT n_name, CAST(cnt AS BIGINT) AS n_pairs,
       slope AS ts_slope_cents_per_month
FROM ranked WHERE rn = (cnt + 1) // 2
ORDER BY n_name
"""


# --- weighted-moving-average crossover --------------------------------------------

_WMA_FAST, _WMA_SLOW = 7, 28


# global windows: lag terms over the day spine
def ts_wma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular-weight moving-average crossover signal on daily
    revenue: WMA_k(d) = sum_{i=0..k-1} (k-i) * x_{d-i} / (k(k+1)/2).
    The fast(7) > slow(28) comparison cross-multiplies the two integer
    weighted sums (fast_sum * W_slow vs slow_sum * W_fast), so signals
    and crossover counts are exact.  Output: per-year days, days fast
    above, crossovers (sign changes day-over-day)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents")
    )

    def wma_sum(k: int):
        # sum of (k - offset) * x over the last k rows, via k lag terms
        w = Window.orderBy("day")
        terms = [
            (F.lit(k - i).cast("decimal(38,0)") * F.lag("cents", i).over(w))
            for i in range(k)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    wf = int(_WMA_FAST * (_WMA_FAST + 1) / 2)
    ws = int(_WMA_SLOW * (_WMA_SLOW + 1) / 2)
    sig = (
        daily.select(
            "day",
            wma_sum(_WMA_FAST).alias("fsum"),
            wma_sum(_WMA_SLOW).alias("ssum"),
        )
        .where(F.col("ssum").isNotNull())
        .select(
            "day",
            (
                F.col("fsum") * F.lit(ws).cast("decimal(38,0)")
                > F.col("ssum") * F.lit(wf).cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("fast_above"),
        )
    )
    w2 = Window.orderBy("day")
    sig2 = sig.select(
        "day",
        "fast_above",
        (F.col("fast_above") != F.lag("fast_above").over(w2))
        .cast("bigint")
        .alias("crossed"),
    ).where(F.col("crossed").isNotNull())
    return (
        sig2.groupBy(F.year("day").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("fast_above").cast("bigint").alias("n_fast_above"),
            F.sum("crossed").cast("bigint").alias("n_crossovers"),
        )
        .orderBy("yr")
    )


def _wma_terms_sql(k: int) -> str:
    return " + ".join(
        f"({k - i} * LAG(cents, {i}) OVER (ORDER BY day))" for i in range(k)
    )


_WMA_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS cents
  FROM orders GROUP BY 1
), sums AS (
  SELECT day,
         {_wma_terms_sql(_WMA_FAST)} AS fsum,
         {_wma_terms_sql(_WMA_SLOW)} AS ssum
  FROM daily
), sig AS (
  SELECT day,
         CASE WHEN fsum * {int(_WMA_SLOW * (_WMA_SLOW + 1) / 2)}
                   > ssum * {int(_WMA_FAST * (_WMA_FAST + 1) / 2)}
              THEN 1 ELSE 0 END AS fast_above
  FROM sums WHERE ssum IS NOT NULL
), sig2 AS (
  SELECT day, fast_above,
         CAST(fast_above <> LAG(fast_above) OVER (ORDER BY day) AS INT)
           AS crossed
  FROM sig
)
SELECT CAST(YEAR(day) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(fast_above) AS BIGINT) AS n_fast_above,
       CAST(SUM(crossed) AS BIGINT) AS n_crossovers
FROM sig2 WHERE crossed IS NOT NULL GROUP BY 1 ORDER BY yr
"""


# --- period-over-period growth -----------------------------------------------


def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth
    — the dashboard staple.  Revenue is an exact integer cents sum;
    the growth ratios divide two exact integers as doubles (identical
    operands -> identical IEEE result in any engine), rounded to 6dp.

    The lag window is global but runs over ONE ROW PER MONTH — its
    cardinality is the calendar, not the data; the heavy work (the
    monthly rollup) shuffles normally beforehand.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(cents("o_totalprice")).alias("tc"))
    w = Window.orderBy("month")
    prev_m = F.lag("tc", 1).over(w)
    prev_y = F.lag("tc", 12).over(w)

    def growth(cur, prev):
        return F.round(
            F.lit(100.0) * (cur - prev) / prev.cast("double"), 6
        )

    return monthly.select(
        "month",
        (F.col("tc").cast("double") / 100.0).alias("revenue"),
        growth(F.col("tc"), prev_m).alias("mom_pct"),
        growth(F.col("tc"), prev_y).alias("yoy_pct"),
    ).orderBy("month")


TS_YOY_GROWTH_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS tc
  FROM orders GROUP BY 1
)
SELECT month,
       CAST(tc AS DOUBLE)/100.0 AS revenue,
       ROUND(100.0 * (tc - LAG(tc, 1) OVER (ORDER BY month))
             / CAST(LAG(tc, 1) OVER (ORDER BY month) AS DOUBLE), 6)
         AS mom_pct,
       ROUND(100.0 * (tc - LAG(tc, 12) OVER (ORDER BY month))
             / CAST(LAG(tc, 12) OVER (ORDER BY month) AS DOUBLE), 6)
         AS yoy_pct
FROM monthly ORDER BY month
"""


QUERIES = {
    "rolling_distinct_users_7d": rolling_distinct_users_7d,
    "surv_hazard_curve": surv_hazard_curve,
    "ts_autocorrelation": ts_autocorrelation,
    "ts_changepoint_daily": ts_changepoint_daily,
    "ts_ewma_spend": ts_ewma_spend,
    "ts_gap_fill_daily": ts_gap_fill_daily,
    "ts_holt_winters_additive": ts_holt_winters_additive,
    "ts_holt_winters_damped": ts_holt_winters_damped,
    "ts_holt_winters_mase": ts_holt_winters_mase,
    "ts_hurst_rs": ts_hurst_rs,
    "ts_interpolate_linear": ts_interpolate_linear,
    "ts_interval_union_length": ts_interval_union_length,
    "ts_ljung_box": ts_ljung_box,
    "ts_max_drawdown": ts_max_drawdown,
    "ts_monthly_seasonal_index": ts_monthly_seasonal_index,
    "ts_ols_trend": ts_ols_trend,
    "ts_rolling_median": ts_rolling_median,
    "ts_rolling_ols_slope": ts_rolling_ols_slope,
    "ts_seasonal_decompose": ts_seasonal_decompose,
    "ts_seasonal_naive_mape": ts_seasonal_naive_mape,
    "ts_ses_forecast_int": ts_ses_forecast_int,
    "ts_spectral_peaks_daily": ts_spectral_peaks_daily,
    "ts_theil_sen_slope": ts_theil_sen_slope,
    "ts_wma_crossover": ts_wma_crossover,
    "ts_yoy_growth": ts_yoy_growth,
}
ORACLES = {
    "rolling_distinct_users_7d": ROLLING_DISTINCT_7D_SQL,
    "surv_hazard_curve": SURV_HAZARD_CURVE_SQL,
    "ts_autocorrelation": TS_AUTOCORRELATION_SQL,
    "ts_changepoint_daily": TS_CHANGEPOINT_DAILY_SQL,
    "ts_ewma_spend": TS_EWMA_SPEND_SQL,
    "ts_gap_fill_daily": TS_GAP_FILL_SQL,
    "ts_holt_winters_additive": _hw_sql(),
    "ts_holt_winters_damped": _hw_damped_sql(),
    "ts_holt_winters_mase": _hw_mase_sql(),
    "ts_hurst_rs": _HURST_SQL,
    "ts_interpolate_linear": TS_INTERPOLATE_SQL,
    "ts_interval_union_length": TS_INTERVAL_UNION_SQL,
    "ts_ljung_box": _lb_sql(),
    "ts_max_drawdown": _DRAWDOWN_SQL,
    "ts_monthly_seasonal_index": TS_MONTHLY_SEASONAL_SQL,
    "ts_ols_trend": TS_OLS_TREND_SQL,
    "ts_rolling_median": TS_ROLLING_MEDIAN_SQL,
    "ts_rolling_ols_slope": _ROLLING_OLS_SQL,
    "ts_seasonal_decompose": TS_SEASONAL_DECOMPOSE_SQL,
    "ts_seasonal_naive_mape": TS_SEASONAL_NAIVE_MAPE_SQL,
    "ts_ses_forecast_int": _ses_oracle(),
    "ts_spectral_peaks_daily": _SPECTRAL_SQL,
    "ts_theil_sen_slope": _THEIL_SEN_SQL,
    "ts_wma_crossover": _WMA_SQL,
    "ts_yoy_growth": TS_YOY_GROWTH_SQL,
}
