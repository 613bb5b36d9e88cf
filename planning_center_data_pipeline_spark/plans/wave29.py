"""Round-8 wave 29: wire-format execution, robust statistics, and
financial/privacy audits.

- ev_avro_roundtrip_agg: events encoded to REAL Avro binary (the
  pure-Python codec in functions/serde.py, wire-verified against the
  JVM Avro library in tests) and decoded back inside the plan — the
  oracle is plain SQL because a correct codec is an identity; any wire
  corruption breaks the hash.
- ts_theil_sen_slope: Theil-Sen robust trend (median of pairwise
  slopes) per nation on the monthly revenue series — the pair space is
  bounded by the CALENDAR (#months^2), not the fact table, so the
  self-join is safe at any SF.
- li_weighted_median_price: quantity-weighted median unit price per
  brand via the cumulative-weight selection rule on pre-aggregated
  distinct values (deterministic under ties by construction).
- ts_max_drawdown: running-peak drawdown of the daily-revenue series —
  prefix-extremum windows, integer cents end-to-end.
- ord_duplicate_invoices: same-customer near-duplicate order pairs
  (totalprice within 1%, 90 days apart) — the self-join is keyed on
  custkey, and TPC-H's constant orders-per-customer makes the pair
  count linear in SF.
- stat_permutation_test: a 200-draw randomization test on a
  deterministic 1%-of-orders panel; permutation labels are md5-derived
  so both engines draw the SAME permutations.
- rank_rbo_topk: rank-biased overlap (Webber et al., TOIS 2010)
  between consecutive years' top-20 revenue parts, with p=0.9 weights
  as integer-micro literals and the 1/d rationals cleared through
  LCM(1..20) so the sum is exact int64.
- priv_t_closeness: t-closeness (ordered EMD between each nation's
  account-balance-band distribution and the global one) with the EMD
  numerators cleared to integers — |cq*N - cp*n_g| — so only the final
  normalization is a double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- Avro round-trip as a query ----------------------------------------------


def ev_avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-shaped serde executed in-plan: a deterministic ~1% slice of
    events is encoded to Avro binary and decoded back (pure-Python
    codec, Arrow-batched mapInPandas both ways), then aggregated per
    event type over EVERY field — ids, timestamps (max epoch-us),
    values (micro-quantized sum), and props lengths — so a single
    corrupted byte anywhere in the wire format flips the hash.  The
    oracle is the same aggregate straight off the table: serde must be
    an identity.

    Scale shape: the filter reaches the scan, the codec is a linear
    per-row map (no shuffle), and the aggregate is 5 groups."""
    from planning_center_data_pipeline_spark.functions.serde import (
        decode_events_avro_py,
        encode_events_avro_py,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.pmod("event_id", F.lit(97)) == 0)
    back = decode_events_avro_py(encode_events_avro_py(ev))
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_eid"),
            F.max("event_id").cast("bigint").alias("max_eid"),
            F.max(epoch_us("ts")).cast("bigint").alias("max_tus"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_micros"),
            F.sum(F.length("props")).cast("bigint").alias("sum_props_len"),
        )
        .orderBy("event_type")
    )


_AVRO_ROUNDTRIP_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(event_id) AS BIGINT) AS min_eid,
       CAST(MAX(event_id) AS BIGINT) AS max_eid,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_tus,
       CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_value_micros,
       CAST(SUM(LENGTH(props)) AS BIGINT) AS sum_props_len
FROM events WHERE event_id % 97 = 0
GROUP BY event_type ORDER BY event_type
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


# --- weighted median ----------------------------------------------------------


def li_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per part brand: the
    smallest price value v whose cumulative quantity weight reaches
    half the brand total (2 * cumw >= W — the textbook weighted lower
    median).  Weights are pre-aggregated per DISTINCT (brand, cents)
    so the cumulative sum is over a deterministic total order — no
    tie-ordering ambiguity survives to the selection.

    Scale: one shuffle to (brand, cents), one bounded window per brand
    over distinct price points."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per_val = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    )
    win = Window.partitionBy("p_brand").orderBy("cents")
    tot = Window.partitionBy("p_brand")
    cum = per_val.select(
        "p_brand",
        "cents",
        F.sum("w").over(win).alias("cumw"),
        F.sum("w").over(tot).alias("W"),
    )
    return (
        cum.filter(F.col("cumw") * 2 >= F.col("W"))
        .groupBy("p_brand")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.max("W").cast("bigint").alias("total_qty"),
        )
        .orderBy("p_brand")
    )


_WMEDIAN_SQL = """
WITH per_val AS (
  SELECT p_brand, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), cum AS (
  SELECT p_brand, cents,
         SUM(w) OVER (PARTITION BY p_brand ORDER BY cents) AS cumw,
         SUM(w) OVER (PARTITION BY p_brand) AS W
  FROM per_val
)
SELECT p_brand, CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
       CAST(MAX(W) AS BIGINT) AS total_qty
FROM cum WHERE cumw * 2 >= W
GROUP BY p_brand ORDER BY p_brand
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


# --- duplicate-invoice audit --------------------------------------------------


def ord_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Billing-audit pairs: two orders of the SAME customer whose totals
    agree within 1% and whose dates are within 90 days — the classic
    double-billing / split-invoice screen.  The self-join key is
    custkey and TPC-H keeps orders-per-customer constant, so the pair
    space is C(k,2) per customer — linear in SF, no blow-up.  The 1%
    tolerance is integer-exact: |c1-c2| * 100 <= min(c1,c2)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select("k", F.col("id").alias("id1"), F.col("c").alias("c1"),
                 F.col("d").alias("d1"))
    b = o.select("k", F.col("id").alias("id2"), F.col("c").alias("c2"),
                 F.col("d").alias("d2"))
    return (
        a.join(b, "k")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("c1") - F.col("c2")) * 100
               <= F.least("c1", "c2"))
            & (F.abs(F.datediff("d1", "d2")) <= 90)
        )
        .select(
            F.col("k").cast("bigint").alias("custkey"),
            F.col("id1").cast("bigint").alias("orderkey_1"),
            F.col("id2").cast("bigint").alias("orderkey_2"),
            F.col("c1").cast("bigint").alias("cents_1"),
            F.col("c2").cast("bigint").alias("cents_2"),
            F.abs(F.datediff("d1", "d2")).cast("bigint").alias("days_apart"),
        )
        .orderBy("custkey", "orderkey_1", "orderkey_2")
    )


_DUP_INVOICE_SQL = """
WITH o AS (
  SELECT o_custkey AS k, o_orderkey AS id,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
         CAST(o_orderdate AS DATE) AS d
  FROM orders
)
SELECT CAST(a.k AS BIGINT) AS custkey,
       CAST(a.id AS BIGINT) AS orderkey_1,
       CAST(b.id AS BIGINT) AS orderkey_2,
       CAST(a.c AS BIGINT) AS cents_1,
       CAST(b.c AS BIGINT) AS cents_2,
       CAST(ABS(date_diff('day', b.d, a.d)) AS BIGINT) AS days_apart
FROM o a JOIN o b ON a.k = b.k AND a.id < b.id
WHERE ABS(a.c - b.c) * 100 <= LEAST(a.c, b.c)
  AND ABS(date_diff('day', a.d, b.d)) <= 90
ORDER BY custkey, orderkey_1, orderkey_2
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


# --- t-closeness --------------------------------------------------------------

_TC_BANDS = 10  # fixed acctbal bands: floor((cents + 100000) / 110000) in 0..9


def priv_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness of the customer table with nation as the
    quasi-identifier group and the account-balance band (10 fixed
    1100-dollar bands over [-1000, 10000)) as the ordered sensitive
    attribute: t = EMD(group dist, global dist) computed by the
    ordered-attribute formula (Li, Li & Venkatasubramanian, ICDE 2007)
    = sum_i |cumQ_i - cumP_i| / (m - 1).

    Exactness: |cq_i/n_g - cp_i/N| is cleared to the integer
    |cq_i * N - cp_i * n_g|; the sum of those is exact int64 (safe to
    ~SF 1000: n_g * N * m < 2^63), and only the final normalization
    divides.  One groupBy + a bands-sized window — no joins against
    fact tables."""
    c = load_table(spark, sf_dir, "customer")
    band = F.least(
        F.lit(_TC_BANDS - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.round(F.col("c_acctbal") * 100).cast("bigint") + 100_000)
                / 110_000
            ).cast("int"),
        ),
    )
    cells = c.groupBy(F.col("c_nationkey").alias("nk"), band.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # densify bands so cumulative distributions line up
    nations = cells.select("nk").distinct()
    spine = nations.crossJoin(
        F.broadcast(spark.range(_TC_BANDS).select(F.col("id").alias("b")))
    )
    dense = spine.join(cells, ["nk", "b"], "left").select(
        "nk", "b", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    wq = Window.partitionBy("nk").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    glob = dense.groupBy("b").agg(F.sum("cnt").alias("gcnt")).select(
        "b", F.sum("gcnt").over(wg).alias("cp")
    )
    cum = (
        dense.select("nk", "b", F.sum("cnt").over(wq).alias("cq"))
        .join(F.broadcast(glob), "b")
    )
    n_g = Window.partitionBy("nk")
    tot = c.count()  # single scalar: N
    scored = cum.withColumn("ng", F.max("cq").over(n_g)).filter(
        F.col("b") < _TC_BANDS - 1  # last cum term is always 0
    ).select(
        "nk",
        "ng",
        F.abs(F.col("cq") * tot - F.col("cp") * F.col("ng")).alias("num"),
    )
    return (
        scored.groupBy("nk")
        .agg(
            F.max("ng").cast("bigint").alias("n_group"),
            F.sum("num").cast("bigint").alias("num_sum"),
        )
        .select(
            F.col("nk").cast("bigint").alias("nationkey"),
            "n_group",
            (
                F.col("num_sum").cast("double")
                / (
                    F.col("n_group").cast("double")
                    * float(tot)
                    * float(_TC_BANDS - 1)
                )
            ).alias("t_closeness"),
        )
        .orderBy("nationkey")
    )


_TCLOSE_SQL = f"""
WITH banded AS (
  SELECT c_nationkey AS nk,
         LEAST({_TC_BANDS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000)
                      / 110000) AS INT))) AS b
  FROM customer
), cells AS (
  SELECT nk, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM banded GROUP BY 1, 2
), spine AS (
  SELECT nk, d.b
  FROM (SELECT DISTINCT nk FROM cells)
  CROSS JOIN (SELECT unnest(generate_series(0, {_TC_BANDS - 1})) AS b) d
), dense AS (
  SELECT s.nk, s.b, COALESCE(c.cnt, 0) AS cnt
  FROM spine s LEFT JOIN cells c ON s.nk = c.nk AND s.b = c.b
), cum AS (
  SELECT nk, b,
         SUM(cnt) OVER (PARTITION BY nk ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS cq
  FROM dense
), gcum AS (
  SELECT b, SUM(cq) AS cp FROM cum GROUP BY b
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM customer
), scored AS (
  SELECT nk,
         MAX(cq) OVER (PARTITION BY nk) AS ng,
         ABS(cq * (SELECT N FROM tot) - cp * MAX(cq) OVER (PARTITION BY nk))
           AS num,
         b
  FROM cum JOIN gcum USING (b)
)
SELECT CAST(nk AS BIGINT) AS nationkey,
       CAST(MAX(ng) AS BIGINT) AS n_group,
       CAST(SUM(CASE WHEN b < {_TC_BANDS - 1} THEN num ELSE 0 END) AS DOUBLE)
         / (CAST(MAX(ng) AS DOUBLE) * CAST((SELECT N FROM tot) AS DOUBLE)
            * {float(_TC_BANDS - 1)}) AS t_closeness
FROM scored GROUP BY nk ORDER BY nationkey
"""


QUERIES = {
    "ev_avro_roundtrip_agg": ev_avro_roundtrip_agg,
    "ts_theil_sen_slope": ts_theil_sen_slope,
    "li_weighted_median_price": li_weighted_median_price,
    "ts_max_drawdown": ts_max_drawdown,
    "ord_duplicate_invoices": ord_duplicate_invoices,
    "stat_permutation_test": stat_permutation_test,
    "rank_rbo_topk": rank_rbo_topk,
    "priv_t_closeness": priv_t_closeness,
}

ORACLES = {
    "ev_avro_roundtrip_agg": _AVRO_ROUNDTRIP_SQL,
    "ts_theil_sen_slope": _THEIL_SEN_SQL,
    "li_weighted_median_price": _WMEDIAN_SQL,
    "ts_max_drawdown": _DRAWDOWN_SQL,
    "ord_duplicate_invoices": _DUP_INVOICE_SQL,
    "stat_permutation_test": _PERM_TEST_SQL,
    "rank_rbo_topk": _RBO_SQL,
    "priv_t_closeness": _TCLOSE_SQL,
}
