"""Round-7 wave 24: sequence-pattern matching, ISO-week calendar
correctness, and tie-aware Spearman rank correlation.

- ev_path_regex_funnel: MATCH_RECOGNIZE stand-in — per-user event
  streams rendered as ordered type-strings, funnel occurrences counted
  by regex (non-overlapping, leftmost), histogrammed.  Spark has no
  MATCH_RECOGNIZE; the string-render + regexp_extract_all composition
  is the engine's sequential-pattern operator.
- ord_iso_week_revenue: revenue on the ISO week calendar — the
  year-boundary weeks (Jan 1 landing in week 52/53 of the PREVIOUS ISO
  year) are exactly where naive year(date)+weekofyear(date) grouping
  corrupts weekly reporting.
- stat_spearman_rank: Spearman rho with proper average-rank ties,
  kept exact via 2x-scaled integer ranks and DECIMAL/HUGEINT moment
  sums (int64 per-row products, arbitrary-precision sums, one final
  double formula) — bit-portable at any sf.

All three carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- sequence-pattern funnel ----------------------------------------------------

# view+ click* purchase — "browsed, maybe clicked, then bought"
_PATH_PATTERN = "v+c*p"
_TYPE_CHAR = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}


def ev_path_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel without MATCH_RECOGNIZE: each user's
    stream becomes a type-character string in (ts, event_id) order and
    the funnel `v+c*p` is counted as non-overlapping leftmost regex
    matches — the composition that stands in for SQL row-pattern
    matching on engines that lack it (identical greedy-leftmost
    semantics in Java regex and RE2 for patterns without
    backtracking ambiguity).  Output: users histogrammed by match
    count.

    Scale shape: one shuffle to group per user; the per-user string is
    bounded by the user's event count (session-scale, not corpus-
    scale); the histogram agg is 10s of rows.  For multi-TB streams
    the same render runs per (user, day) to bound string length."""
    ev = load_table(spark, sf_dir, "events")
    ch = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _TYPE_CHAR.items() for x in kv]
        ),
        F.col("event_type"),
    )
    per_user = (
        ev.select("user_id", "ts", "event_id", ch.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "ch"))
                    ),
                    lambda x: x["ch"],
                ),
                "",
            ).alias("path")
        )
        .select(
            "user_id",
            F.size(
                F.regexp_extract_all("path", F.lit(_PATH_PATTERN), F.lit(0))
            )
            .cast("bigint")
            .alias("n_funnels"),
        )
    )
    return (
        per_user.groupBy("n_funnels")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("n_funnels")
    )


EV_PATH_REGEX_SQL = f"""
WITH chars AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              ELSE 'e' END AS ch
  FROM events
), paths AS (
  SELECT user_id,
         string_agg(ch, '' ORDER BY ts, event_id) AS path
  FROM chars GROUP BY user_id
), counted AS (
  SELECT user_id,
         CAST(len(regexp_extract_all(path, '{_PATH_PATTERN}')) AS BIGINT)
           AS n_funnels
  FROM paths
)
SELECT n_funnels, CAST(COUNT(*) AS BIGINT) AS n_users
FROM counted GROUP BY n_funnels ORDER BY n_funnels
"""


# --- ISO week revenue -----------------------------------------------------------


def ord_iso_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue on the ISO 8601 week calendar: grouping key is
    (YEAROFWEEK, weekofyear) so the days around Jan 1 land in week
    52/53 of the PREVIOUS iso year instead of a phantom week 1 — the
    calendar-correctness detail naive year(d) grouping gets wrong at
    every year boundary.  Exact cents; scan + one agg."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.select(
            F.expr("extract(YEAROFWEEK FROM to_date(o_orderdate))")
            .cast("bigint")
            .alias("iso_year"),
            F.weekofyear(d).cast("bigint").alias("iso_week"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("iso_year", "iso_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("iso_year", "iso_week")
    )


ORD_ISO_WEEK_SQL = """
SELECT CAST(date_part('isoyear', CAST(o_orderdate AS DATE)) AS BIGINT)
         AS iso_year,
       CAST(date_part('week', CAST(o_orderdate AS DATE)) AS BIGINT)
         AS iso_week,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders GROUP BY 1, 2 ORDER BY iso_year, iso_week
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


QUERIES = {
    "ev_path_regex_funnel": ev_path_regex_funnel,
    "ord_iso_week_revenue": ord_iso_week_revenue,
    "stat_spearman_rank": stat_spearman_rank,
}

ORACLES = {
    "ev_path_regex_funnel": EV_PATH_REGEX_SQL,
    "ord_iso_week_revenue": ORD_ISO_WEEK_SQL,
    "stat_spearman_rank": STAT_SPEARMAN_SQL,
}
