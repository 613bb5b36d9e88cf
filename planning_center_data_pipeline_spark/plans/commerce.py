"""Order, customer and supplier analytics over the TPC-H tables.

Prefixes: `cust_` (customers), `li_` (line items), `ord_` (orders),
`sup_` (suppliers), `geo_`, `jw_` (Jaro-Winkler matching), `er_`
(entity resolution) and `pareto_` (skylines).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.windows import running_sums
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- ABC / Pareto revenue classification ----------------------------------------

def cust_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B/C (Pareto) customer classification: customers sorted by
    lifetime revenue descending; class A while the cumulative revenue
    BEFORE the customer is < 80% of total, B before 95%, C after.
    Class membership is per-customer deterministic (revenue DESC,
    custkey ASC breaks ties) and the boundary tests are pure integer
    comparisons (100*cum_before < 80*total), so the 3-row rollup is
    bit-portable.

    Plan shape: one shuffle on custkey for the revenue rollup, then
    `operators.windows.running_sums` on the negated revenue.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(cents("o_totalprice")).alias("v")
    )
    grand = rev.agg(F.sum("v").alias("t"))  # 1 row
    cum_before = F.col("cum_v") - F.col("v")
    classed = (
        running_sums(rev.withColumn("nv", -F.col("v")), ["nv", "ck"], ["v"])
        .crossJoin(F.broadcast(grand))
        .select(
            "v",
            "t",
            F.when(cum_before * 100 < F.col("t") * 80, "A")
            .when(cum_before * 100 < F.col("t") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum("v").cast("double") / F.lit(100.0)).alias("revenue"),
            F.round(
                F.lit(100.0) * F.sum("v") / F.max("t"), 6
            ).alias("rev_pct"),
        )
        .orderBy("abc_class")
    )


CUST_ABC_PARETO_SQL = """
WITH rev AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1
), grand AS (
  SELECT CAST(SUM(v) AS BIGINT) AS t FROM rev
), run AS (
  SELECT v,
         CAST(COALESCE(SUM(v) OVER (ORDER BY v DESC, ck
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM rev
), classed AS (
  SELECT v, t,
         CASE WHEN cum_before * 100 < t * 80 THEN 'A'
              WHEN cum_before * 100 < t * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM run CROSS JOIN grand
)
SELECT abc_class, COUNT(*) AS n_cust,
       CAST(SUM(v) AS DOUBLE) / 100.0 AS revenue,
       ROUND(100.0 * SUM(v) / MAX(t), 6) AS rev_pct
FROM classed GROUP BY 1 ORDER BY abc_class
"""


# --- basket diversity -----------------------------------------------------------


def cust_basket_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective number of brands per customer (inverse Simpson index
    over brand spend): eff = S^2 / sum(s_i^2), where s_i is the spend
    in brand i and S the total — 25 brands bought 4%-each scores 25,
    one dominant brand scores ~1.  Squares stay in int64 (per-customer
    spend is SF-invariant in TPC-H); the index is computed in doubles
    from exact integers.  Shape: lineitem-orders join (the one big
    shuffle), brand rollup, customer rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    spend = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p.select("p_partkey", "p_brand")),
              li.l_partkey == p.p_partkey)
        .groupBy("o_custkey", "p_brand")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    return (
        spend.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brands"),
            F.sum("s").cast("bigint").alias("total_cents"),
            F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ssq"),
        )
        .select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            "n_brands",
            "total_cents",
            (
                F.col("total_cents").cast("double")
                * F.col("total_cents").cast("double")
                / F.col("ssq").cast("double")
            ).alias("eff_brands"),
        )
        .orderBy("custkey")
    )


_BASKET_DIV_SQL = """
WITH spend AS (
  SELECT o_custkey, p_brand,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(s) AS BIGINT) AS total_cents,
       CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE)
         / CAST(SUM(s * s) AS DOUBLE) AS eff_brands
FROM spend GROUP BY o_custkey ORDER BY custkey
"""


# --- per-customer brand-mix entropy -------------------------------------------------


def cust_category_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-customer brand-mix entropy by nation: how diversified
    is each customer's purchasing across part brands?  Per-customer
    H = ln n - (sum c ln c)/n is assembled from INTEGER micro-nats
    (each c ln c term and ln n quantized to 1e6 from exact integer
    counts, per-customer value floored by DIV after a GREATEST(0)
    clamp — Spark DIV truncates toward zero while DuckDB // floors,
    so the clamp keeps them identical), making every cross-row sum
    order-free.  Scale shape: two fact rollups (cust x brand, then
    cust), broadcast nation dim; the entropy grid is |customer|-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cb = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            p.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("o_custkey").alias("ck"), "p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_cust = (
        cb.select(
            "ck",
            "c",
            F.expr(
                "CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))"
                " * 1e6) AS BIGINT)"
            ).alias("t_q"),
        )
        .groupBy("ck")
        .agg(
            F.sum("c").cast("bigint").alias("n_items"),
            F.sum("t_q").cast("bigint").alias("t_sum"),
        )
        .select(
            "ck",
            F.expr(
                "GREATEST(n_items"
                " * CAST(ROUND(LN(CAST(n_items AS DOUBLE)) * 1e6) AS BIGINT)"
                " - t_sum, CAST(0 AS BIGINT)) DIV n_items"
            ).alias("h_q"),
        )
    )
    return (
        per_cust.join(
            c.select("c_custkey", "c_nationkey"),
            F.col("ck") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("h_q").cast("bigint").alias("h_sum"),
        )
        .select(
            "nation",
            "n_customers",
            F.round(
                F.expr(
                    "CAST(h_sum AS DOUBLE) / CAST(n_customers AS DOUBLE)"
                    " / 1e6"
                ),
                6,
            ).alias("mean_brand_entropy"),
        )
        .orderBy("nation")
    )


_CUST_ENTROPY_SQL = """
WITH cb AS (
  SELECT o.o_custkey AS ck, p.p_brand, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), per_cust AS (
  SELECT ck,
         GREATEST(SUM(c)
                  * CAST(ROUND(LN(CAST(SUM(c) AS DOUBLE)) * 1e6) AS BIGINT)
                  - SUM(CAST(ROUND(CAST(c AS DOUBLE)
                        * LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)),
                  CAST(0 AS BIGINT)) // SUM(c) AS h_q
  FROM cb GROUP BY ck
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(h_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6)
         AS mean_brand_entropy
FROM per_cust pc
JOIN customer c ON pc.ck = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY nation
"""


# --- cohort LTV matrix -------------------------------------------------------

def cust_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (first-order cohort month, months since first order).

    Cohort assignment is one groupBy(custkey) min; the matrix is one
    groupBy over the orders scan joined to it.  At 100 TB both
    shuffles key on custkey / (cohort, offset) — no windows, no
    skew-prone keys (cohort cardinality = #months).
    """
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).cast(
        "long"
    )
    orders = o.select(
        "o_custkey",
        mi.alias("mi"),
        cents("o_totalprice").alias("pc"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("mi").alias("first_mi"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            F.col("first_mi").alias("cohort_mi"),
            (F.col("mi") - F.col("first_mi")).alias("months_since"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
            (F.sum("pc").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("cohort_mi", "months_since")
    )


CUST_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate)*12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mi,
         CAST(ROUND(o_totalprice*100) AS BIGINT) AS pc
  FROM orders
), first AS (
  SELECT o_custkey, MIN(mi) AS first_mi FROM o GROUP BY o_custkey
)
SELECT first_mi AS cohort_mi, mi - first_mi AS months_since,
       COUNT(DISTINCT o.o_custkey) AS n_active,
       COUNT(*) AS n_orders,
       CAST(SUM(pc) AS DOUBLE)/100.0 AS revenue
FROM o JOIN first ON o.o_custkey = first.o_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- period-over-period decile migration ------------------------------------------


def cust_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-decile migration matrix: customers' spend decile in the
    FIRST half of the order horizon vs the SECOND half (halves split
    at start + span DIV 2 — integer day arithmetic), for customers
    active in both.  Deciles come from exact percentile cutoffs of
    each period's per-customer spend (value comparison, 10 = top
    spenders).  The <=100-cell matrix is the rank-migration /
    loyalty-Sankey table.

    Plan shape: one shuffle on custkey for the per-period rollup; the
    midpoint and the two cutoff arrays are 1-row broadcasts; the
    matrix rollup is <=100 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )  # 1 row
    per = (
        o.crossJoin(F.broadcast(span))
        .select(
            F.col("o_custkey").alias("ck"),
            cents("o_totalprice").alias("m"),
            (
                F.datediff(F.to_date("o_orderdate"), F.col("d0"))
                < F.expr("datediff(d1, d0) DIV 2")
            ).alias("in_p1"),
        )
        .groupBy("ck")
        .agg(
            F.sum(F.when(F.col("in_p1"), F.col("m"))).alias("m1"),
            F.sum(F.when(~F.col("in_p1"), F.col("m"))).alias("m2"),
        )
        .filter(F.col("m1").isNotNull() & F.col("m2").isNotNull())
    )
    qs = [i / 10.0 for i in range(1, 10)]
    cuts = per.agg(
        F.percentile("m1", F.array(*[F.lit(q) for q in qs])).alias("c1"),
        F.percentile("m2", F.array(*[F.lit(q) for q in qs])).alias("c2"),
    )  # 1 row

    def decile(col: str, arr: str) -> F.Column:
        return F.lit(1) + sum(
            (F.col(col).cast("double") > F.element_at(arr, i + 1)).cast("int")
            for i in range(9)
        )

    return (
        per.crossJoin(F.broadcast(cuts))
        .select(
            decile("m1", "c1").alias("decile_p1"),
            decile("m2", "c2").alias("decile_p2"),
        )
        .groupBy("decile_p1", "decile_p2")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .orderBy("decile_p1", "decile_p2")
    )


_D_CASES_1 = "\n".join(
    f"           + (CASE WHEN CAST(m1 AS DOUBLE) > c1[{i}] THEN 1 ELSE 0 END)"
    for i in range(1, 10)
)

_D_CASES_2 = "\n".join(
    f"           + (CASE WHEN CAST(m2 AS DOUBLE) > c2[{i}] THEN 1 ELSE 0 END)"
    for i in range(1, 10)
)

CUST_DECILE_MIGRATION_SQL = f"""
WITH span AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
         MAX(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), per AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CASE WHEN date_diff('day', d0, CAST(o_orderdate AS DATE))
                            < date_diff('day', d0, d1) // 2
                       THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END)
              AS BIGINT) AS m1,
         CAST(SUM(CASE WHEN date_diff('day', d0, CAST(o_orderdate AS DATE))
                            >= date_diff('day', d0, d1) // 2
                       THEN CAST(ROUND(o_totalprice*100) AS BIGINT) END)
              AS BIGINT) AS m2
  FROM orders CROSS JOIN span
  GROUP BY 1
  HAVING m1 IS NOT NULL AND m2 IS NOT NULL
), cuts AS (
  SELECT quantile_cont(m1, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c1,
         quantile_cont(m2, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c2
  FROM per
), scored AS (
  SELECT 1
{_D_CASES_1} AS decile_p1,
         1
{_D_CASES_2} AS decile_p2
  FROM per CROSS JOIN cuts
)
SELECT decile_p1, decile_p2, COUNT(*) AS n_cust
FROM scored GROUP BY 1, 2 ORDER BY decile_p1, decile_p2
"""


# --- entity resolution: blocked fuzzy match + best-match selection ----------
# The record-linkage staple: match a corrupted roster back to the
# clean one.  Shape that scales: candidates come from a BLOCKED
# equi-join on a CORRUPTION-FOLDED canonical key — (nation, last 4
# chars of the name with the known O->0 confusion folded back), the
# same idea as phonetic/q-gram blocking keys in classic ER.  Folding
# makes the true match always share a block, while the suffix keeps
# block sizes bounded by key entropy (|customers| / (25 nations x
# suffix domain)) — LINEAR candidate growth, unlike nation-only
# blocking whose blocks grow with the data (O(n^2/25) pairs at
# scale).  Per-pair edit distance runs in JVM codegen on the RAW
# names; best-match-per-left-row is a rank-1 window that compiles to
# WindowGroupLimit (map-side top-1 before the shuffle).  The
# corruption is deterministic, so the whole pipeline hash-matches SQL.

def cust_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )

    def folded_suffix(name):
        return F.right(F.replace(name, F.lit("O"), F.lit("0")), F.lit(4))

    dirty_name = F.replace(F.col("c_name"), F.lit("0"), F.lit("O"))
    dirty = c.select(
        F.col("c_custkey").alias("dirty_id"),
        dirty_name.alias("dirty_name"),
        F.concat_ws(
            "|", F.col("c_nationkey"), folded_suffix(dirty_name)
        ).alias("blk"),
    )
    clean = c.select(
        F.col("c_custkey").alias("matched_id"),
        F.col("c_name").alias("clean_name"),
        F.concat_ws(
            "|", F.col("c_nationkey"), folded_suffix(F.col("c_name"))
        ).alias("blk"),
    )
    scored = dirty.join(clean, "blk").select(
        "dirty_id",
        "matched_id",
        F.levenshtein("dirty_name", "clean_name").alias("edit_dist"),
    )
    w = Window.partitionBy("dirty_id").orderBy("edit_dist", "matched_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_id",
            "matched_id",
            "edit_dist",
            (F.col("matched_id") == F.col("dirty_id")).alias("is_self_match"),
        )
        .orderBy("dirty_id")
    )


CUST_ENTITY_RESOLUTION_SQL = """
WITH dirty AS (
  SELECT c_custkey AS dirty_id, replace(c_name, '0', 'O') AS dirty_name,
         c_nationkey || '|' ||
           right(replace(replace(c_name, '0', 'O'), 'O', '0'), 4) AS blk
  FROM customer
), clean AS (
  SELECT c_custkey AS matched_id, c_name AS clean_name,
         c_nationkey || '|' || right(replace(c_name, 'O', '0'), 4) AS blk
  FROM customer
), scored AS (
  SELECT dirty_id, matched_id,
         CAST(levenshtein(dirty_name, clean_name) AS INT) AS edit_dist
  FROM dirty JOIN clean USING (blk)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id
                               ORDER BY edit_dist, matched_id) AS rn
  FROM scored
)
SELECT dirty_id, matched_id, edit_dist,
       matched_id = dirty_id AS is_self_match
FROM ranked WHERE rn = 1 ORDER BY dirty_id
"""


# --- Lorenz curve --------------------------------------------------------------

def cust_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue at decile resolution: for
    each decile d (poorest 10d% of customers by revenue), the
    cumulative share of total revenue in ppm (exact integer cross-
    multiplication: share_ppm = cum_cents*1e6 DIV total_cents).

    Customer ranks and cumulative sums come from
    `operators.windows.running_sums` over the revenue values — no
    customer-cardinality global window."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    g = (
        per.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("nv"))
        .withColumn("c", F.col("cents") * F.col("nv"))
    )
    grand = g.agg(
        F.sum("nv").cast("bigint").alias("n_cust"),
        F.sum("c").cast("bigint").alias("tot_cents"),
    )  # 1 row
    ranked = (
        running_sums(g, ["cents"], ["nv", "c"])
        .crossJoin(F.broadcast(grand))
        .select(
            "cents",
            "nv",
            F.col("cum_nv").alias("cum_n"),
            "cum_c",
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


# --- per-nation revenue Gini -------------------------------------------------

def cust_nation_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("rc"))
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc("rc"), F.asc("o_custkey")
    )
    ranked = rev.select(
        "c_nationkey",
        F.col("rc").cast("decimal(38,0)").alias("rc"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
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
        "c_nationkey",
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("s").cast("double") / 100.0).alias("revenue"),
        F.round(gini, 9).alias("gini"),
    ).orderBy("c_nationkey")


CUST_NATION_GINI_SQL = """
WITH rev AS (
  SELECT c_nationkey, o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rc
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey,
         CAST(rc AS DECIMAL(19,0)) AS rc,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY rc ASC, o_custkey ASC)
              AS DECIMAL(19,0)) AS i
  FROM rev
), agg AS (
  SELECT c_nationkey, COUNT(*) AS n,
         SUM(rc) AS s, SUM(i * rc) AS si
  FROM ranked GROUP BY c_nationkey
)
SELECT c_nationkey,
       CAST(n AS BIGINT) AS n_customers,
       CAST(s AS DOUBLE)/100.0 AS revenue,
       ROUND(2.0 * CAST(si AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0)/CAST(n AS DOUBLE), 9) AS gini
FROM agg ORDER BY c_nationkey
"""


# --- inter-order gap distribution -------------------------------------------

def cust_order_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of day-gaps between a customer's consecutive
    orders, bucketed into retention-relevant bands.  One lag window
    per customer + one tiny groupBy — the purchase-cadence profile
    behind replenishment and churn models.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    bucket = (
        F.when(F.col("gap_days") <= 7, "01_week")
        .when(F.col("gap_days") <= 30, "02_month")
        .when(F.col("gap_days") <= 90, "03_quarter")
        .when(F.col("gap_days") <= 365, "04_year")
        .otherwise("05_longer")
    )
    return (
        gaps.groupBy(bucket.alias("gap_bucket"))
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_days").alias("min_days"),
            F.max("gap_days").alias("max_days"),
        )
        .orderBy("gap_bucket")
    )


CUST_ORDER_GAP_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT CASE WHEN gap_days <= 7 THEN '01_week'
            WHEN gap_days <= 30 THEN '02_month'
            WHEN gap_days <= 90 THEN '03_quarter'
            WHEN gap_days <= 365 THEN '04_year'
            ELSE '05_longer' END AS gap_bucket,
       COUNT(*) AS n_gaps,
       CAST(MIN(gap_days) AS BIGINT) AS min_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


# --- point-in-time training features -------------------------------------------


def cust_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature assembly for a next-order model: for every
    order of the sampled customers (custkey % 19 = 0), features use
    ONLY strictly-earlier orders of the same customer — prior order
    count, prior spend, days since previous — and the label is days
    until the NEXT order (null on the last).  The window frame
    (UNBOUNDED PRECEDING .. 1 PRECEDING over (date, key)) IS the
    point-in-time contract: no aggregate can see the current or any
    future row, the standard temporal-leakage guard for training-set
    builds.  One shuffle on custkey."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 19 == 0)
    ordw = Window.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    past = ordw.rowsBetween(Window.unboundedPreceding, -1)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.count(F.lit(1)).over(past).cast("bigint").alias("n_prior"),
            F.coalesce(F.sum("cents").over(past), F.lit(0))
            .cast("bigint")
            .alias("prior_spend_cents"),
            F.datediff(
                F.col("order_date"),
                F.lag("order_date").over(
                    Window.partitionBy("o_custkey").orderBy(
                        "order_date", "o_orderkey"
                    )
                ),
            )
            .cast("bigint")
            .alias("days_since_prev"),
            F.datediff(
                F.lead("order_date").over(
                    Window.partitionBy("o_custkey").orderBy(
                        "order_date", "o_orderkey"
                    )
                ),
                F.col("order_date"),
            )
            .cast("bigint")
            .alias("label_days_to_next"),
        )
        .orderBy("custkey", "orderkey")
    )


CUST_PIT_FEATURES_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey % 19 = 0
)
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(COUNT(*) OVER past AS BIGINT) AS n_prior,
       CAST(COALESCE(SUM(cents) OVER past, 0) AS BIGINT)
         AS prior_spend_cents,
       CAST(date_diff('day',
              LAG(order_date) OVER (PARTITION BY o_custkey
                                    ORDER BY order_date, o_orderkey),
              order_date) AS BIGINT) AS days_since_prev,
       CAST(date_diff('day', order_date,
              LEAD(order_date) OVER (PARTITION BY o_custkey
                                     ORDER BY order_date, o_orderkey))
            AS BIGINT) AS label_days_to_next
FROM o
WINDOW past AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
ORDER BY custkey, orderkey
"""


# --- RFM quintile segmentation ------------------------------------------------


def cust_rfm_global_quintiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    relative to the dataset's max order date), Frequency (order
    count), Monetary (lifetime spend), each scored 1-5 against the
    exact quintile cutoffs of the per-customer distribution (score =
    1 + number of cutoffs strictly exceeded; recency inverted so 5 =
    most recent).  Value-comparison banding, not ntile: portable, no
    global row-ordered window, and ties land deterministically.

    Plan shape: one shuffle on custkey for the per-customer rollup;
    the reference date and the three cutoff arrays are two 1-row
    aggregates broadcast back; the segment rollup is <= 125 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("f"),
        F.sum(cents("o_totalprice")).alias("m"),
    )
    ref = per.agg(F.max("last_d").alias("ref_d"))  # 1 row
    base = per.crossJoin(F.broadcast(ref)).select(
        "ck", F.datediff("ref_d", "last_d").alias("r_days"), "f", "m"
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    cuts = base.agg(
        F.percentile("r_days", F.array(*[F.lit(q) for q in qs])).alias("rc"),
        F.percentile("f", F.array(*[F.lit(q) for q in qs])).alias("fc"),
        F.percentile("m", F.array(*[F.lit(q) for q in qs])).alias("mc"),
    )  # 1 row

    def n_above(col: str, arr: str) -> F.Column:
        return sum(
            (F.col(col).cast("double") > F.element_at(arr, i + 1)).cast("int")
            for i in range(4)
        )

    scored = base.crossJoin(F.broadcast(cuts)).select(
        (F.lit(5) - n_above("r_days", "rc")).alias("r_sc"),
        (F.lit(1) + n_above("f", "fc")).alias("f_sc"),
        (F.lit(1) + n_above("m", "mc")).alias("m_sc"),
        "f",
        "m",
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r_sc").cast("string"),
                F.col("f_sc").cast("string"),
                F.col("m_sc").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            (F.sum("m").cast("double") / F.lit(100.0)).alias("monetary"),
            F.round(
                F.sum("f").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_orders"),
        )
        .orderBy("segment")
    )


CUST_RFM_GLOBAL_QUINTILES_SQL = """
WITH per AS (
  SELECT o_custkey AS ck,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS f,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS m
  FROM orders GROUP BY 1
), ref AS (
  SELECT MAX(last_d) AS ref_d FROM per
), base AS (
  SELECT ck, date_diff('day', last_d, ref_d) AS r_days, f, m
  FROM per CROSS JOIN ref
), cuts AS (
  SELECT quantile_cont(r_days, [0.2,0.4,0.6,0.8]) AS rc,
         quantile_cont(f,      [0.2,0.4,0.6,0.8]) AS fc,
         quantile_cont(m,      [0.2,0.4,0.6,0.8]) AS mc
  FROM base
), scored AS (
  SELECT 5 - ((CASE WHEN CAST(r_days AS DOUBLE) > rc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(r_days AS DOUBLE) > rc[4] THEN 1 ELSE 0 END))
           AS r_sc,
         1 + ((CASE WHEN CAST(f AS DOUBLE) > fc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(f AS DOUBLE) > fc[4] THEN 1 ELSE 0 END))
           AS f_sc,
         1 + ((CASE WHEN CAST(m AS DOUBLE) > mc[1] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[2] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[3] THEN 1 ELSE 0 END) +
              (CASE WHEN CAST(m AS DOUBLE) > mc[4] THEN 1 ELSE 0 END))
           AS m_sc,
         f, m
  FROM base CROSS JOIN cuts
)
SELECT CAST(r_sc AS VARCHAR) || CAST(f_sc AS VARCHAR)
         || CAST(m_sc AS VARCHAR) AS segment,
       COUNT(*) AS n_cust,
       CAST(SUM(m) AS DOUBLE) / 100.0 AS monetary,
       ROUND(CAST(SUM(f) AS DOUBLE) / COUNT(*), 6) AS avg_orders
FROM scored GROUP BY 1 ORDER BY segment
"""


# --- RFM segmentation (per-nation quartiles) --------------------------------

def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quartile segments, scored within
    each nation.

    ntile is partitioned by nation — a global ntile would funnel
    every row through one task; per-nation windows parallelize and
    are usually what marketing wants anyway (scores comparable within
    a market).  Every ordering carries a custkey tie-break so bucket
    assignment is deterministic.  Monetary sums use cent integers.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = (
        o.groupBy("o_custkey")
        .agg(
            (
                F.max(
                    F.year("o_orderdate") * F.lit(12)
                    + F.month("o_orderdate")
                )
            ).cast("long").alias("last_mi"),
            F.count("*").alias("freq"),
            F.sum(cents).alias("monetary_c"),
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    def q(order_cols):
        return F.ntile(4).over(
            Window.partitionBy("n_name").orderBy(*order_cols)
        )
    scored = base.select(
        "n_name",
        "o_custkey",
        q([F.desc("last_mi"), F.asc("o_custkey")]).alias("r_q"),
        q([F.desc("freq"), F.asc("o_custkey")]).alias("f_q"),
        q([F.desc("monetary_c"), F.asc("o_custkey")]).alias("m_q"),
    )
    return (
        scored.groupBy("n_name", "r_q", "f_q", "m_q")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name", "r_q", "f_q", "m_q")
    )


CUST_RFM_SEGMENTS_SQL = """
WITH base AS (
  SELECT n_name, o_custkey,
         CAST(MAX(EXTRACT(year FROM o_orderdate)*12
                  + EXTRACT(month FROM o_orderdate)) AS BIGINT) AS last_mi,
         COUNT(*) AS freq,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS monetary_c
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_custkey
), scored AS (
  SELECT n_name, o_custkey,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY last_mi DESC, o_custkey ASC) AS r_q,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY freq DESC, o_custkey ASC) AS f_q,
    NTILE(4) OVER (PARTITION BY n_name
                   ORDER BY monetary_c DESC, o_custkey ASC) AS m_q
  FROM base
)
SELECT n_name, r_q, f_q, m_q, COUNT(*) AS n_customers
FROM scored GROUP BY n_name, r_q, f_q, m_q
ORDER BY n_name, r_q, f_q, m_q
"""


# --- Kaplan-Meier ------------------------------------------------------------------

_KM_GRID = tuple(range(30, 361, 30))


def cust_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of "time to second order" (days between a
    customer's first and second order; single-order customers censor
    at horizon - first_order).  Per event-day d: deaths d_i, censored
    c_i; risk set n_i = total - cumulative(deaths + censored before
    d).  S(t) = exp(sum over event days <= t of ln(1 - d_i/n_i)),
    evaluated on the 30..360-day grid — the ln/exp runs over exact
    integer counts via ONE shared expression, and the cumulative
    window is bounded by the calendar span."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).groupBy("o_custkey").agg(
        F.min("d").alias("d1"),
        F.get(F.sort_array(F.collect_list("d")), 1).alias("d2"),
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    base = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        ).otherwise(F.datediff("h", "d1")).cast("bigint").alias("t"),
        F.col("d2").isNotNull().cast("int").alias("event"),
    )
    per_day = base.groupBy("t").agg(
        F.sum("event").cast("bigint").alias("deaths"),
        F.sum(1 - F.col("event")).cast("bigint").alias("censored"),
    )
    n_tot = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_day.crossJoin(F.broadcast(n_tot)).select(
        "t",
        "deaths",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("deaths") + F.col("censored")).over(w), F.lit(0)
            )
        ).alias("at_risk"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # a day where the whole risk set dies sends S to exactly 0 — keep
    # that out of the logarithm and flag it instead
    surv = risk.where(F.col("deaths") > 0).select(
        "t",
        F.sum(
            F.when(
                F.col("deaths") < F.col("at_risk"),
                F.log(
                    F.lit(1.0)
                    - F.col("deaths").cast("double")
                    / F.col("at_risk").cast("double")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(wcum)
        .alias("lnS"),
        F.max((F.col("deaths") == F.col("at_risk")).cast("int"))
        .over(wcum)
        .alias("dead"),
    )
    grid = F.array(*[F.lit(g) for g in _KM_GRID])
    gdf = (
        surv.crossJoin(
            F.broadcast(
                surv.sparkSession.range(1)
                .select(F.explode(grid).alias("g"))
            )
        )
        .where(F.col("t") <= F.col("g"))
        .groupBy("g")
        .agg(
            F.max_by("lnS", "t").alias("lnS"),
            F.max_by("dead", "t").alias("dead"),
        )
    )
    return gdf.select(
        F.col("g").cast("bigint").alias("t_days"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnS"), 6))
        .alias("survival"),
    ).orderBy("t_days")


_KM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d1,
         (list_sort(list(CAST(o_orderdate AS DATE))))[2] AS d2
  FROM orders GROUP BY o_custkey
), horizon AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders
), base AS (
  SELECT CASE WHEN d2 IS NOT NULL
              THEN CAST(datediff('day', d1, d2) AS BIGINT)
              ELSE CAST(datediff('day', d1, h) AS BIGINT) END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM per_cust, horizon
), per_day AS (
  SELECT t, CAST(SUM(event) AS BIGINT) AS deaths,
         CAST(SUM(1 - event) AS BIGINT) AS censored
  FROM base GROUP BY t
), n_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base
), risk AS (
  SELECT t, deaths,
         n - COALESCE(SUM(deaths + censored) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM per_day, n_tot
), surv AS (
  SELECT t,
         SUM(CASE WHEN deaths < at_risk
             THEN LN(1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
             ELSE 0.0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnS,
         MAX(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
  FROM risk WHERE deaths > 0
), grid AS (
  SELECT UNNEST([{", ".join(str(g) for g in _KM_GRID)}]) AS g
)
SELECT CAST(g AS BIGINT) AS t_days,
       CASE WHEN MAX_BY(dead, t) = 1 THEN 0.0
            ELSE ROUND(EXP(MAX_BY(lnS, t)), 6) END AS survival
FROM surv JOIN grid ON surv.t <= grid.g
GROUP BY g ORDER BY t_days
"""


# --- fuzzy entity resolution -------------------------------------------------
# Record-linkage shape: block (nation), generate within-block pairs,
# score with edit distance, keep near-matches.  Blocking bounds the
# pair space exactly like the dedup wing's LSH buckets — never a full
# cross join.  The subset filter keeps the demo small; at scale the
# blocking key IS the partitioner.

def er_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 25 == 0)
        .select("c_custkey", "c_nationkey", "c_name")
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_1"),
            F.col("b.c_custkey").alias("key_2"),
            F.col("a.c_nationkey").alias("nationkey"),
            F.levenshtein("a.c_name", "b.c_name").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 2)
        .orderBy("key_1", "key_2")
    )


ER_FUZZY_SQL = """
SELECT a.c_custkey AS key_1, b.c_custkey AS key_2,
       a.c_nationkey AS nationkey,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey % 25 = 0 AND b.c_custkey % 25 = 0
  AND levenshtein(a.c_name, b.c_name) <= 2
ORDER BY key_1, key_2
"""


# --- spatial: grid-bucketed exact radius join --------------------------------

_GEO_R = 2500  # radius; also the grid cell edge, so 3x3 cells cover it

_GEO_SPAN = 1_000_000  # coordinate domain [0, 1e6)


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic point per customer: x/y are independent
    md5-60 draws over [0, 1e6) — portable to the oracle verbatim."""
    key = F.col("c_custkey").cast("string")
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (md5_hash60(key, seed="x") % _GEO_SPAN).alias("x"),
        (md5_hash60(key, seed="y") % _GEO_SPAN).alias("y"),
    )


def geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within Euclidean distance R, found by a grid
    join — the canonical distributed spatial join.

    Plan shape: each point lands in ONE build cell (cell = coords DIV
    R); the probe side fans out to its 3x3 cell neighborhood (bounded
    9x row inflation), the join is a plain equi-join on (cx, cy), and
    the exact integer distance predicate prunes the candidates.  An
    unordered pair meets exactly once per direction, so `a.k < b.k`
    keeps exactly one row — no dedup pass.  At 100 TB this shuffles on
    cell ids (uniform by construction here; salt a hot cell if the
    real data clusters), and candidate count scales with local density
    times N, never N^2.  Distance math is int64 throughout: exact, no
    trig/libm parity risk (why we ship a planar grid join rather than
    a haversine variant).
    """
    pts = _geo_points(spark, sf_dir)
    build = pts.select(
        F.col("k").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x DIV {_GEO_R}").alias("cx"),
        F.expr(f"y DIV {_GEO_R}").alias("cy"),
    )
    probe = (
        pts.select(
            "k",
            "x",
            "y",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
        )
        .select(
            "k",
            "x",
            "y",
            "dx",
            F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
        )
        .select(
            F.col("k").alias("ka"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.expr(f"x DIV {_GEO_R}") + F.col("dx")).alias("cx"),
            (F.expr(f"y DIV {_GEO_R}") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["cx", "cy"])
        .filter((F.col("ka") < F.col("kb")) & (d2 <= F.lit(_GEO_R * _GEO_R)))
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            d2.alias("dist2"),
        )
        .orderBy("key_a", "key_b")
    )


def _geo_pts_sql() -> str:
    h = "CAST('0x' || substr(md5({seed} || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT)"
    return f"""
  SELECT c_custkey AS k,
         {h.format(seed="'x|'")} % {_GEO_SPAN} AS x,
         {h.format(seed="'y|'")} % {_GEO_SPAN} AS y
  FROM customer"""


GEO_RADIUS_PAIRS_SQL = f"""
WITH pts AS ({_geo_pts_sql()})
SELECT a.k AS key_a, b.k AS key_b,
       (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
FROM pts a JOIN pts b
  ON b.x BETWEEN a.x - {_GEO_R} AND a.x + {_GEO_R}
 AND b.y BETWEEN a.y - {_GEO_R} AND a.y + {_GEO_R}
 AND a.k < b.k
 AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {_GEO_R * _GEO_R}
ORDER BY key_a, key_b
"""


# --- Jaro-Winkler best match -------------------------------------------------

def jw_best_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: for each probe part (1-in-97 by key),
    the best Jaro-Winkler match among OTHER parts in the same
    (noun, brand) block — the classic blocked fuzzy-dedup lookup.

    Plan shape: block equi-join against the broadcast probe set bounds
    the candidate pairs (never a cross product over the catalog); the
    JW kernel runs as a vectorized pandas UDF over candidate pairs in
    exact integer arithmetic (functions/fuzzy.py), so the argmax and
    the reported micro-score hash-match DuckDB's native
    jaro_winkler_similarity.  Deterministic tie-break: (jw desc,
    candidate key asc)."""
    from planning_center_data_pipeline_spark.functions.fuzzy import (
        jw_micro_pairs,
    )

    @F.pandas_udf("long")
    def jw_q(a: pd.Series, b: pd.Series, blk: pd.Series) -> pd.Series:
        # blk = the blocking key each pair came from; the kernel raises
        # on unblocked input or a degenerate block (misuse guard).
        return pd.Series(jw_micro_pairs(a, b, block=blk), dtype="int64")

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
        "p_brand",
    )
    probes = parts.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("probe_key"),
        F.col("p_name").alias("probe_name"),
        F.col("noun").alias("p_noun"),
        F.col("p_brand").alias("p_pbrand"),
    )
    cand = parts.join(
        F.broadcast(probes),
        (F.col("noun") == F.col("p_noun"))
        & (F.col("p_brand") == F.col("p_pbrand"))
        & (F.col("p_partkey") != F.col("probe_key")),
    ).select(
        "probe_key",
        F.col("p_partkey").alias("cand_key"),
        jw_q(
            F.col("probe_name"),
            F.col("p_name"),
            F.concat_ws("|", F.col("p_noun"), F.col("p_pbrand")),
        ).alias("jw_micro"),
    )
    w = Window.partitionBy("probe_key").orderBy(
        F.desc("jw_micro"), F.asc("cand_key")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_key", F.col("cand_key").alias("best_match"), "jw_micro")
        .orderBy("probe_key")
    )


JW_BEST_MATCH_SQL = """
WITH parts AS (
  SELECT p_partkey, p_name, split_part(p_name, ' ', 2) AS noun, p_brand
  FROM part
), cand AS (
  SELECT pr.p_partkey AS probe_key, c.p_partkey AS cand_key,
         CAST(ROUND(jaro_winkler_similarity(pr.p_name, c.p_name) * 1000000)
              AS BIGINT) AS jw_micro
  FROM parts pr
  JOIN parts c
    ON c.noun = pr.noun AND c.p_brand = pr.p_brand
   AND c.p_partkey <> pr.p_partkey
  WHERE pr.p_partkey % 97 = 0
)
SELECT probe_key, cand_key AS best_match, jw_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
                               ORDER BY jw_micro DESC, cand_key) AS rn
  FROM cand
) WHERE rn = 1 ORDER BY probe_key
"""


# global window: running_sums' bucket offsets, <= 32 rows
def li_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC x XYZ part classification:

    - ABC on revenue: parts ranked by revenue desc (partkey tiebreak);
      A = cumulative share <= 80%, B = <= 95%, C = rest — the cutoff
      tests are integer cross-multiplications (cum*5 <= tot*4,
      cum*20 <= tot*19), no float cumshare.
    - XYZ on demand variability over the GLOBAL month span M (missing
      months are genuine zero demand — intermittent-demand CV runs
      high, so the cutoffs sit at CV^2 <= 3 (X) and <= 4 (Y)): the
      tests clear to integers, M*sumsq <= 4*sum^2 and <= 5*sum^2.

    Everything until the 9-row output is exact int64 (per-part sums are
    SF-invariant in TPC-H, so no overflow at scale).  Shape: one
    (part, month) rollup, one part rollup, the revenue rank from
    `operators.windows.running_sums` on the negated revenue, 9-cell
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    mexp = (
        (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
    ).cast("bigint")
    pm = li.groupBy("l_partkey", mexp.alias("m")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    )
    # r13 (guide §5 "one materialization", §2.1 fewer stages): the
    # month span's min/max over the (part, month) groups equals the
    # min/max of the same month expression over the lineitem ROWS (a
    # group's key value is a row value), so span skips the pm rollup —
    # a partial-aggregated scan instead of re-running the widest
    # shuffle for a broadcast build.
    span = li.agg((F.max(mexp) - F.min(mexp) + 1).cast("bigint").alias("M"))
    per_part = pm.groupBy("l_partkey").agg(
        F.sum("rev").cast("bigint").alias("rev"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
    )
    # r13: checkpoint the part-level relation ONCE — previously every
    # broadcast build (cuts, offsets, grand total) re-derived the full
    # lineitem -> pm -> per_part lineage, running the widest shuffles
    # 4-5x per query (84 Exchange nodes in the printed plan).
    neg = (
        per_part.crossJoin(F.broadcast(span))
        .withColumn("nrev", -F.col("rev"))
        # kept: without it the sf0.1 bench A/B read 3.15 s vs 2.82 s
        .localCheckpoint(eager=False)
    )
    tot_row = neg.agg(F.sum("rev").cast("bigint").alias("tot"))  # 1 row
    # per-part revenues are near-distinct, so the buckets come from the
    # $1k-quantized revenue (nrev DIV 100000) to bound the percentile
    # buffer; the quantization is monotone, so the rank stays exact.
    ranked = (
        running_sums(
            neg,
            ["nrev", "l_partkey"],
            ["rev"],
            bucket_value="nrev DIV 100000",
        )
        .crossJoin(F.broadcast(tot_row))
        .select(
            "l_partkey",
            "rev",
            "sq",
            "sqq",
            "M",
            F.col("cum_rev").alias("cum"),
            "tot",
        )
    )
    classed = ranked.select(
        F.when(F.col("cum") * 5 <= F.col("tot") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("tot") * 19, "B")
        .otherwise("C")
        .alias("abc"),
        # CV^2 <= 3  <=>  M*sqq <= 4*sq^2 ; CV^2 <= 4 <=> M*sqq <= 5*sq^2
        F.when(
            F.col("M") * F.col("sqq") <= F.col("sq") * F.col("sq") * 4, "X"
        )
        .when(F.col("M") * F.col("sqq") <= F.col("sq") * F.col("sq") * 5, "Y")
        .otherwise("Z")
        .alias("xyz"),
        "rev",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("abc", "xyz")
    )


_ABC_XYZ_SQL = """
WITH pm AS (
  SELECT l_partkey,
         CAST((EXTRACT(year FROM l_shipdate) - 1992) * 12
              + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM lineitem GROUP BY 1, 2
), span AS (
  SELECT CAST(MAX(m) - MIN(m) + 1 AS BIGINT) AS M FROM pm
), per_part AS (
  SELECT l_partkey,
         CAST(SUM(rev) AS BIGINT) AS rev,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sqq
  FROM pm GROUP BY 1
), ranked AS (
  SELECT l_partkey, rev, sq, sqq, (SELECT M FROM span) AS M,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS tot
  FROM per_part
), classed AS (
  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
              WHEN cum * 20 <= tot * 19 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN M * sqq <= sq * sq * 4 THEN 'X'
              WHEN M * sqq <= sq * sq * 5 THEN 'Y'
              ELSE 'Z' END AS xyz,
         rev
  FROM ranked
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents
FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
"""


# --- integer-exact Bollinger bands ------------------------------------------------

_BOLL_N = 20  # rolling window, days


def li_bollinger_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-day Bollinger-band outliers on the daily order-revenue
    series, decided WITHOUT floats: day d is an outlier when
    (n*x_d - S)^2 > 4 * n * (n*Q - S^2) / n = 4*(n*Q - S^2), where S
    and Q are the window's sum and sum-of-squares in cents — the
    cross-multiplied form of |x - mean| > 2*stddev.  All terms live in
    DECIMAL(38,0)/HUGEINT (cents^2 overflows int64 past sf0.4).
    Output: per-year total days, outlier days, and the rate.

    The rolling window runs over the CALENDAR-sized daily series
    (bounded ~2400 rows regardless of fact size); facts reduce in one
    partial-agg groupBy first."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-(_BOLL_N - 1), 0)
    banded = daily.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("q"),
    ).where(F.col("n") == _BOLL_N)
    lhs = (F.col("n") * F.col("cents") - F.col("s"))
    flagged = banded.select(
        "day",
        (
            (lhs * lhs).cast("decimal(38,0)")
            > (
                F.lit(4).cast("decimal(38,0)")
                * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
            ).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("outlier"),
    )
    return (
        flagged.groupBy(F.year("day").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("outlier").cast("bigint").alias("n_outliers"),
        )
        .select(
            "yr",
            "n_days",
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double")
                / F.col("n_days").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("yr")
    )


_BOLL_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
           AS cents
  FROM orders GROUP BY 1
), banded AS (
  SELECT day, cents,
         CAST(COUNT(*) OVER w AS HUGEINT) AS n,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS q
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_BOLL_N - 1} PRECEDING
               AND CURRENT ROW)
), flagged AS (
  SELECT day,
         CASE WHEN (n * cents - s) * (n * cents - s)
                   > 4 * (n * q - s * s)
              THEN 1 ELSE 0 END AS outlier
  FROM banded WHERE n = {_BOLL_N}
)
SELECT CAST(YEAR(day) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(outlier) AS BIGINT) AS n_outliers,
       ROUND(CAST(SUM(outlier) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS outlier_rate
FROM flagged GROUP BY 1 ORDER BY yr
"""


# --- discount elasticity by brand (closed-form OLS) ------------------------------


def li_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of quantity on discount: slope (units of quantity
    per percentage point of discount) and R^2, via the closed-form
    normal equations on exact integer sums:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        R^2   = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    x = discount in integer percent (0..10), y = quantity (integral in
    TPC-H) — every S-term is an exact int64 sum, so the only IEEE ops
    are the final divisions.

    Plan shape: lineitem joined to the part dimension (broadcast-able
    by AQE), one shuffle to the ~25-row brand rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = F.round(F.col("l_discount") * 100).cast("bigint")
    y = F.col("l_quantity").cast("bigint")
    per = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("brand"), x.alias("x"), y.alias("y"))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    # the S-terms stay exact int64 (bounded by n * 500 per row-term up
    # to ~sf100); the n*Sxy-style PRODUCTS are squared/multiplied in
    # DOUBLE — (n*Sxy)^2 would overflow int64 at scale, and IEEE
    # multiplication is just as deterministic
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return per.select(
        "brand",
        "n",
        F.round(cov_n / var_x, 6).alias("slope"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    ).orderBy("brand")


LI_DISCOUNT_ELASTICITY_SQL = """
WITH per AS (
  SELECT p.p_brand AS brand,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)
                  * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sxx,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS syy,
         CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
)
SELECT brand, n,
       ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
       ROUND((CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
             / (CAST(n*sxx - sx*sx AS DOUBLE)
                * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS r2
FROM per ORDER BY brand
"""

_EOQ_S = "100.0"  # fixed order cost (literal, shared verbatim)


# --- economic order quantity ----------------------------------------------------

_EOQ_MICRO = (
    "CAST(ROUND(SQRT(2.0 * CAST(d_qty AS DOUBLE) * " + _EOQ_S
    + " / (CAST(h_micro AS DOUBLE) / 1000000.0)) * 1000000.0) AS BIGINT)"
)


def li_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOQ = sqrt(2*D*S / H) for the top-20 parts by annual (1995)
    demand; H = 20% of the part's mean unit price, kept in exact
    micro-currency by integer cross-multiplication (qty-weighted
    price total DIV 5 per unit).  The sqrt chain is ONE verbatim
    expression (IEEE sqrt is correctly rounded -> bit-equal).

    Shape: one year-filtered part rollup, top-20 via
    TakeOrderedAndProject, scalar math after."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1995)
    per = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("d_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents"),
    )
    # H (micro-currency/unit/yr) = 0.2 * rev/qty = rev_cents * 10000
    # DIV (5 * d_qty) ... exact integer micro units, one truncation
    top = (
        per.withColumn(
            "h_micro",
            F.expr("(rev_cents * 10000) DIV (5 * d_qty)").cast("bigint"),
        )
        .orderBy(F.desc("d_qty"), "l_partkey")
        .limit(20)
    )
    return top.select(
        "l_partkey",
        "d_qty",
        "h_micro",
        F.expr(_EOQ_MICRO).alias("eoq_micro"),
    ).orderBy(F.desc("d_qty"), "l_partkey")


LI_EOQ_SQL = f"""
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d_qty,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem
  WHERE EXTRACT(year FROM l_shipdate) = 1995
  GROUP BY 1
), top AS (
  SELECT l_partkey, d_qty,
         CAST((rev_cents * 10000) // (5 * d_qty) AS BIGINT) AS h_micro
  FROM per ORDER BY d_qty DESC, l_partkey LIMIT 20
)
SELECT l_partkey, d_qty, h_micro,
       {_EOQ_MICRO} AS eoq_micro
FROM top ORDER BY d_qty DESC, l_partkey
"""


# --- Gini of part-revenue concentration within brand ---------------------------------


def li_gini_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across the parts of
    each brand: rank parts by exact revenue cents within brand and
    apply the rank-moment identity G = 2*sum(i*r_i)/(n*sum r) -
    (n+1)/n with every moment in DECIMAL(38,0) (cust_nation_gini's
    form).  Scale shape: one lineitem rollup to
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


# --- line-position stats (l_linenumber) -------------------------------------
# Completes the schema surface: l_linenumber is the within-order line
# position (composite PK with l_orderkey).  Per-position row counts +
# exact revenue expose order-composition structure (position 1 exists
# for every order; the tail thins with basket size).  Also doubles as
# the composite-PK uniqueness audit input.

def li_lineposition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("decimal(38,0)")
    return (
        li.groupBy(F.col("l_linenumber").cast("long").alias("l_linenumber"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            (F.sum(cents).cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("l_linenumber")
    )


LI_LINEPOSITION_SQL = """
SELECT CAST(l_linenumber AS BIGINT) AS l_linenumber,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS HUGEINT))
            AS DOUBLE) / 100.0 AS revenue
FROM lineitem
GROUP BY 1 ORDER BY l_linenumber
"""


# --- revenue waterfall ----------------------------------------------------------


def li_margin_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gross -> discount -> net revenue waterfall per order year.
    Discount amounts are exact in 1e-4-dollar units (cents x integer
    discount percent), so the waterfall reconciles to the cent at any
    parallelism: net = gross - discount by construction.

    Plan shape: one fact scan, one shuffle to the |years|-row rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    gross_c = cents("l_extendedprice")
    disc_pct = F.round(F.col("l_discount") * 100).cast("bigint")
    per = li.groupBy(F.year("l_shipdate").alias("year")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(gross_c).alias("gross_c"),
        F.sum(gross_c * disc_pct).alias("disc_4"),  # 1e-4 dollars
    )
    return per.select(
        "year",
        "n_items",
        (F.col("gross_c").cast("double") / F.lit(100.0)).alias("gross"),
        (F.col("disc_4").cast("double") / F.lit(10000.0)).alias("discount"),
        (
            (F.col("gross_c") * 100 - F.col("disc_4")).cast("double")
            / F.lit(10000.0)
        ).alias("net"),
    ).orderBy("year")


LI_MARGIN_WATERFALL_SQL = """
WITH per AS (
  SELECT EXTRACT(year FROM l_shipdate) AS year,
         COUNT(*) AS n_items,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS gross_c,
         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                  * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT)
           AS disc_4
  FROM lineitem GROUP BY 1
)
SELECT year, n_items,
       CAST(gross_c AS DOUBLE) / 100.0 AS gross,
       CAST(disc_4 AS DOUBLE) / 10000.0 AS discount,
       CAST(gross_c * 100 - disc_4 AS DOUBLE) / 10000.0 AS net
FROM per ORDER BY year
"""

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


# --- on-time-in-full ------------------------------------------------------------


_OTIF_SLA_DAYS = 75


def li_otif_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTIF service level: an order counts as on-time-in-full when
    EVERY line shipped within the 75-day SLA of the order date (this
    dataset carries shipdate; receipt/commit variants are the same
    shape).  Monthly n_orders, n_otif, and the rate (one double
    division of exact counts).  Shape: line-level bool -> per-order
    min (one shuffle on orderkey, partial-agg friendly) -> month
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.min(
                (
                    F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
                    <= _OTIF_SLA_DAYS
                ).cast("int")
            ).alias("otif")
        )
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("otif").cast("bigint").alias("n_otif"),
        )
        .select(
            "yr",
            "mo",
            "n_orders",
            "n_otif",
            (
                F.col("n_otif").cast("double") / F.col("n_orders").cast("double")
            ).alias("otif_rate"),
        )
        .orderBy("yr", "mo")
    )


_OTIF_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey,
         MIN(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE))
                       <= {_OTIF_SLA_DAYS}
                  THEN 1 ELSE 0 END) AS otif
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
)
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(otif) AS BIGINT) AS n_otif,
       CAST(SUM(otif) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS otif_rate
FROM orders JOIN per_order ON o_orderkey = l_orderkey
GROUP BY 1, 2 ORDER BY yr, mo
"""


def li_price_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (part, ISO year+week of ship date): min/max effective unit
    price (net of discount, micro-cents per unit, exact integer
    `net_cents * 1e6 DIV qty`) over weeks with >= 3 sales, keeping
    only weeks where the max strictly exceeds the min — the top-100
    dispersion offenders, ordered by dispersion ratio (one double
    division) with deterministic tiebreaks.

    Scale shape: one shuffle on (part, week) + TakeOrderedAndProject
    for the top-100; no joins."""
    li = load_table(spark, sf_dir, "lineitem")
    d = F.to_date("l_shipdate")
    rows = li.select(
        F.col("l_partkey").alias("partkey"),
        F.expr("extract(YEAROFWEEK FROM to_date(l_shipdate))")
        .cast("bigint")
        .alias("iso_year"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        F.expr(
            "(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            " * 1000000) DIV CAST(l_quantity AS BIGINT)"
        ).alias("unit_micro"),
    )
    agg = (
        rows.groupBy("partkey", "iso_year", "iso_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sales"),
            F.min("unit_micro").cast("bigint").alias("min_unit_micro"),
            F.max("unit_micro").cast("bigint").alias("max_unit_micro"),
        )
        .filter(
            (F.col("n_sales") >= 3)
            & (F.col("max_unit_micro") > F.col("min_unit_micro"))
        )
        .withColumn(
            "dispersion",
            F.col("max_unit_micro").cast("double")
            / F.col("min_unit_micro").cast("double"),
        )
    )
    return agg.orderBy(
        F.desc("dispersion"),
        F.asc("partkey"),
        F.asc("iso_year"),
        F.asc("iso_week"),
    ).limit(100)


LI_PRICE_CONSISTENCY_SQL = """
WITH rows_ AS (
  SELECT l_partkey AS partkey,
         CAST(date_part('isoyear', CAST(l_shipdate AS DATE)) AS BIGINT)
           AS iso_year,
         CAST(date_part('week', CAST(l_shipdate AS DATE)) AS BIGINT)
           AS iso_week,
         (CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          * 1000000) // CAST(l_quantity AS BIGINT) AS unit_micro
  FROM lineitem
), agg AS (
  SELECT partkey, iso_year, iso_week,
         CAST(COUNT(*) AS BIGINT) AS n_sales,
         CAST(MIN(unit_micro) AS BIGINT) AS min_unit_micro,
         CAST(MAX(unit_micro) AS BIGINT) AS max_unit_micro
  FROM rows_ GROUP BY 1, 2, 3
)
SELECT partkey, iso_year, iso_week, n_sales, min_unit_micro, max_unit_micro,
       CAST(max_unit_micro AS DOUBLE) / CAST(min_unit_micro AS DOUBLE)
         AS dispersion
FROM agg
WHERE n_sales >= 3 AND max_unit_micro > min_unit_micro
ORDER BY dispersion DESC, partkey, iso_year, iso_week
LIMIT 100
"""


# --- price indices ---------------------------------------------------------------

_BASE_YEAR = 1995


def li_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices of the part catalog
    per ship year vs the 1995 base:

        L_t = sum_i p_t,i * q_0,i / sum_i p_0,i * q_0,i
        P_t = sum_i p_t,i * q_t,i / sum_i p_0,i * q_t,i
        F_t = sqrt(L_t * P_t)

    over parts traded in BOTH years (the matched sample every index
    office uses).  p is the integer micro-dollar unit price — one
    truncating division (Spark DIV == DuckDB // on non-negatives) of
    exact cents*10000 by exact quantity — and the four weight sums
    ride DECIMAL(38,0) (DuckDB: HUGEINT) because price*quantity sums
    overflow int64 by SF 100.  Shape: one (part, year) rollup, a
    self-join on partkey against the base year (dimension-bounded),
    a year rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    py = (
        li.groupBy(
            "l_partkey", F.year("l_shipdate").cast("bigint").alias("yr")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        )
        .select(
            "l_partkey",
            "yr",
            "q",
            F.expr("(cents * 10000) DIV q").cast("bigint").alias("p_micro"),
        )
    )
    base = py.filter(F.col("yr") == _BASE_YEAR).select(
        "l_partkey",
        F.col("p_micro").alias("p0"),
        F.col("q").alias("q0"),
    )
    joined = py.filter(F.col("yr") != _BASE_YEAR).join(base, "l_partkey")
    dec = "decimal(38,0)"
    sums = joined.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("p_micro") * F.col("q0")).cast(dec)).alias("l_num"),
        F.sum((F.col("p0") * F.col("q0")).cast(dec)).alias("l_den"),
        F.sum((F.col("p_micro") * F.col("q")).cast(dec)).alias("p_num"),
        F.sum((F.col("p0") * F.col("q")).cast(dec)).alias("p_den"),
    )
    return sums.select(
        "yr",
        "n_parts",
        F.expr("CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)").alias(
            "laspeyres"
        ),
        F.expr("CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)").alias(
            "paasche"
        ),
        F.expr(
            "SQRT((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))"
            " * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)))"
        ).alias("fisher"),
    ).orderBy("yr")


_FISHER_SQL = f"""
WITH py AS (
  SELECT l_partkey, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST((CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) * 10000)
              // SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS p_micro
  FROM lineitem GROUP BY 1, 2
), base AS (
  SELECT l_partkey, p_micro AS p0, q AS q0 FROM py WHERE yr = {_BASE_YEAR}
), joined AS (
  SELECT py.yr, py.p_micro, py.q, base.p0, base.q0
  FROM py JOIN base USING (l_partkey)
  WHERE py.yr <> {_BASE_YEAR}
), sums AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(p_micro * q0) AS l_num, SUM(p0 * q0) AS l_den,
         SUM(p_micro * q) AS p_num, SUM(p0 * q) AS p_den
  FROM joined GROUP BY yr
)
SELECT yr, n_parts,
       CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) AS laspeyres,
       CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS paasche,
       SQRT((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
            * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))) AS fisher
FROM sums ORDER BY yr
"""


# --- price-volume-mix decomposition ---------------------------------------------

_PVM_Y0 = 1996

_PVM_Y1 = 1997


def li_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price-volume decomposition of year-over-year revenue
    change per brand (1996 -> 1997):

        volume_effect = (Q1 - Q0) * p0        p_y = R_y / Q_y
        price_effect  = Q1 * (p1 - p0)

    so volume + price == R1 - R0 identically.  Q and R are exact
    integer sums; the p terms are single divisions in a fixed IEEE
    tree.  The table every revenue review starts from.

    Plan shape: one filtered fact scan, one shuffle to the
    (brand, year) rollup, conditional pivot to one row per brand.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    per = (
        li.filter(F.year("l_shipdate").isin(_PVM_Y0, _PVM_Y1))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == _PVM_Y0, F.col("l_quantity"))
                .otherwise(0.0)
                .cast("bigint")
            ).alias("q0"),
            F.sum(
                F.when(F.year("l_shipdate") == _PVM_Y1, F.col("l_quantity"))
                .otherwise(0.0)
                .cast("bigint")
            ).alias("q1"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == _PVM_Y0,
                    cents("l_extendedprice"),
                ).otherwise(0)
            ).alias("r0"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == _PVM_Y1,
                    cents("l_extendedprice"),
                ).otherwise(0)
            ).alias("r1"),
        )
        .filter((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    p0 = F.col("r0").cast("double") / F.col("q0").cast("double")
    p1 = F.col("r1").cast("double") / F.col("q1").cast("double")
    return per.select(
        "brand",
        "q0",
        "q1",
        (F.col("r0").cast("double") / F.lit(100.0)).alias("rev0"),
        (F.col("r1").cast("double") / F.lit(100.0)).alias("rev1"),
        F.round(
            (F.col("q1") - F.col("q0")).cast("double") * p0 / F.lit(100.0), 6
        ).alias("volume_effect"),
        F.round(
            F.col("q1").cast("double") * (p1 - p0) / F.lit(100.0), 6
        ).alias("price_effect"),
    ).orderBy("brand")


LI_PRICE_VOLUME_MIX_SQL = f"""
WITH per AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y0}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y1}
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y0}
                       THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r0,
         CAST(SUM(CASE WHEN EXTRACT(year FROM l_shipdate) = {_PVM_Y1}
                       THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r1
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE EXTRACT(year FROM l_shipdate) IN ({_PVM_Y0}, {_PVM_Y1})
  GROUP BY 1
  HAVING q0 > 0 AND q1 > 0
)
SELECT brand, q0, q1,
       CAST(r0 AS DOUBLE) / 100.0 AS rev0,
       CAST(r1 AS DOUBLE) / 100.0 AS rev1,
       ROUND(CAST(q1 - q0 AS DOUBLE)
             * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) / 100.0, 6)
         AS volume_effect,
       ROUND(CAST(q1 AS DOUBLE)
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
                - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) / 100.0, 6)
         AS price_effect
FROM per ORDER BY brand
"""


# --- SCD2 point-in-time join -------------------------------------------------

def li_scd2_pit_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every shipped lineitem attributed to the
    priority REGIME its customer was in on the ship date (the SCD2
    intervals of scd2_customer_priority), then exact revenue per
    (regime, ship year).

    The PIT join is an EQUI-join on custkey with the interval
    containment as a join residual — never a range cross join: the
    SCD2 side has a handful of intervals per customer, so the residual
    filters a few rows per probe.  At warehouse scale this is the
    standard fact-to-dimension-history attach (bitemporal lookup), and
    it composes with the same broadcast/SMJ machinery as any equi-join.
    Exact money: scale-4 fixed-point revenue (functions/exact.py)."""
    from planning_center_data_pipeline_spark.functions.exact import (
        cents,
        money_sum,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = o.withColumn("prev_prio", F.lag("o_orderpriority").over(w)).filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    scd2 = ch.withColumn("valid_to", F.lead("o_orderdate").over(w)).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        "valid_to",
    )
    fact = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
        "l_orderkey",
    ).select(
        F.col("o_custkey").alias("custkey"),
        "l_shipdate",
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "rev_s4"
        ),
    )
    pit = fact.join(
        scd2,
        (fact["custkey"] == scd2["custkey"])
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (F.col("l_shipdate") < F.col("valid_to"))
        ),
    )
    return (
        pit.groupBy(
            "priority", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_sum(F.col("rev_s4"), scale=4).alias("revenue"),
        )
        .orderBy("priority", "ship_year")
    )


LI_SCD2_PIT_SQL = """
WITH ch AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), scd2 AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS valid_from,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority
), fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate,
         CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT)) AS rev_s4
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT s.priority,
       CAST(EXTRACT(year FROM f.l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_items,
       CAST(SUM(f.rev_s4) AS DOUBLE)/10000.0 AS revenue
FROM fact f
JOIN scd2 s
  ON s.custkey = f.custkey
 AND f.l_shipdate >= s.valid_from
 AND (s.valid_to IS NULL OR f.l_shipdate < s.valid_to)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- order->ship SLA percentiles ---------------------------------------------


def li_ship_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag SLA by order priority: p50/p90/p99 of the
    integer day lag (exact interpolated percentiles) plus the share
    shipped within 30 days.  One fact-fact equi-join on the order key,
    one groupBy — the canonical SLA dashboard at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.datediff("l_shipdate", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"), lag.alias("lag_d")
    )
    pct = F.percentile("lag_d", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.element_at(pct, 1).alias("p50_days"),
            F.element_at(pct, 2).alias("p90_days"),
            F.element_at(pct, 3).alias("p99_days"),
            F.round(
                F.sum((F.col("lag_d") <= 30).cast("bigint")).cast("double")
                / F.count(F.lit(1))
                * 100.0,
                6,
            ).alias("within_30d_pct"),
        )
        .orderBy("priority")
    )


LI_SHIP_SLA_PERCENTILES_SQL = """
WITH j AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority, COUNT(*) AS n_lines,
       quantile_cont(lag_d, 0.5) AS p50_days,
       quantile_cont(lag_d, 0.9) AS p90_days,
       quantile_cont(lag_d, 0.99) AS p99_days,
       ROUND(CAST(SUM(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 100.0, 6) AS within_30d_pct
FROM j GROUP BY priority ORDER BY priority
"""


# --- Theil T index -----------------------------------------------------------------


def li_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer lifetime revenue per nation: T =
    (1/n) * sum_i (x_i / mu) * ln(x_i / mu) over customers with
    revenue > 0.  Per-customer revenue and the nation mean are exact
    integer cents; each customer's term is the SHARED double
    expression (x/mu) * LN(x/mu) over those exact inputs, so both
    engines sum identical doubles (ROUND 6 absorbs association
    order).  Shape: order rollup on custkey, nation rollup, broadcast
    mean join back."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "cents")
    )
    means = rev.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    terms = rev.join(F.broadcast(means), "nation").select(
        "nation",
        "n_cust",
        "total_cents",
        F.expr(
            "(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)"
            " / CAST(total_cents AS DOUBLE))"
            " * LN(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)"
            " / CAST(total_cents AS DOUBLE))"
        ).alias("term"),
    )
    return (
        terms.groupBy("nation")
        .agg(
            F.first("n_cust").alias("n_cust"),
            F.round(F.sum("term") / F.first("n_cust"), 6).alias("theil_t"),
        )
        .orderBy("nation")
    )


_THEIL_SQL = """
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY o.o_custkey, n.n_name
), means AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM rev GROUP BY nation
), terms AS (
  SELECT rev.nation, n_cust,
         (CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)
          / CAST(total_cents AS DOUBLE))
         * LN(CAST(cents AS DOUBLE) * CAST(n_cust AS DOUBLE)
           / CAST(total_cents AS DOUBLE)) AS term
  FROM rev JOIN means ON rev.nation = means.nation
)
SELECT nation, CAST(MIN(n_cust) AS BIGINT) AS n_cust,
       ROUND(SUM(term) / MIN(n_cust), 6) AS theil_t
FROM terms GROUP BY nation ORDER BY nation
"""


# --- VWAP --------------------------------------------------------------------------


def li_vwap_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average unit price per ship month: VWAP =
    sum(qty * unit_micro_price) / sum(qty) with unit prices in exact
    integer micro-units (extendedprice is qty * unitprice in TPC-H, so
    unit_micro = round(extprice / qty * 1e6) reconstructs exactly).
    One partial-agg rollup; one double division."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        F.month("l_shipdate").cast("bigint").alias("mo"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(
            F.col("l_extendedprice") / F.col("l_quantity") * 1000000
        )
        .cast("bigint")
        .alias("unit_micro"),
    )
    return (
        base.groupBy("yr", "mo")
        .agg(
            F.sum("qty").cast("bigint").alias("volume"),
            F.sum(F.col("qty") * F.col("unit_micro"))
            .cast("decimal(38,0)")
            .alias("pv"),
        )
        .select(
            "yr",
            "mo",
            "volume",
            F.round(
                F.col("pv").cast("double")
                / F.col("volume").cast("double")
                / 1000000.0,
                6,
            ).alias("vwap"),
        )
        .orderBy("yr", "mo")
    )


_VWAP_SQL = """
WITH base AS (
  SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
         CAST(MONTH(l_shipdate) AS BIGINT) AS mo,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice / l_quantity * 1000000) AS BIGINT)
           AS unit_micro
  FROM lineitem
)
SELECT yr, mo,
       CAST(SUM(qty) AS BIGINT) AS volume,
       ROUND(CAST(SUM(CAST(qty AS HUGEINT) * unit_micro) AS DOUBLE)
             / CAST(SUM(qty) AS DOUBLE) / 1000000.0, 6) AS vwap
FROM base GROUP BY yr, mo ORDER BY yr, mo
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


# --- key-space density audit ----------------------------------------------------

_KEY_BUCKET = 4096


def ord_keyspace_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key audit over the (deliberately sparse) TPC-H orderkey
    space WITHOUT a global sort: bucket keys by orderkey DIV 4096,
    count present keys per bucket, and histogram the per-bucket
    density.  Detects sequence holes / allocation anomalies at any
    scale with two partial-agg shuffles — the scale-safe shape for a
    job a naive LAG-over-everything window would serialize onto one
    partition."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(F.expr(f"o_orderkey DIV {_KEY_BUCKET}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("present"))
    )
    return (
        per_bucket.groupBy("present")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.min("bucket").cast("bigint").alias("first_bucket"),
            F.max("bucket").cast("bigint").alias("last_bucket"),
        )
        .select(
            "present",
            "n_buckets",
            "first_bucket",
            "last_bucket",
            (F.col("present").cast("double") / float(_KEY_BUCKET)).alias(
                "density"
            ),
        )
        .orderBy("present")
    )


_KEYSPACE_SQL = f"""
WITH per_bucket AS (
  SELECT o_orderkey // {_KEY_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS present
  FROM orders GROUP BY 1
)
SELECT present,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MIN(bucket) AS BIGINT) AS first_bucket,
       CAST(MAX(bucket) AS BIGINT) AS last_bucket,
       CAST(present AS DOUBLE) / {float(_KEY_BUCKET)} AS density
FROM per_bucket GROUP BY present ORDER BY present
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


# --- seasonal Mann-Kendall ---------------------------------------------------------


def ord_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall on monthly revenue: within each
    month-of-year stratum, S_m = sum over year pairs i<j of
    sign(x_j - x_i) (exact integer over cents), Var_m = n(n-1)(2n+5)/18
    with the tie term zero when all cents differ (asserted by using
    exact cents — ties are possible and handled).  S = sum S_m,
    Var = sum Var_m, z = (S -+ 1)/sqrt(Var) with the standard
    continuity correction.  The stratum series is CALENDAR-sized
    (<= ~7 years), so the pair join is bounded by the calendar."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = monthly.select(
        F.col("mo"), F.col("yr").alias("yi"), F.col("cents").alias("xi")
    )
    b = monthly.select(
        F.col("mo").alias("mo2"),
        F.col("yr").alias("yj"),
        F.col("cents").alias("xj"),
    )
    pairs = a.join(
        b, (F.col("mo") == F.col("mo2")) & (F.col("yi") < F.col("yj"))
    )
    s_m = pairs.groupBy("mo").agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("bigint")).alias("s"),
    )
    # tie-corrected variance per stratum from the per-value tie counts
    ties = (
        monthly.groupBy("mo", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("mo")
        .agg(
            F.sum("t").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
        .select(
            "mo",
            (
                (
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                )
                / 18.0
            ).alias("var_m"),
        )
    )
    tot = (
        s_m.join(ties, "mo")
        .agg(
            F.sum("s").cast("bigint").alias("s_total"),
            F.sum("var_m").alias("var_total"),
        )
    )
    return tot.select(
        "s_total",
        F.round("var_total", 6).alias("var_total"),
        F.round(
            F.when(
                F.col("s_total") > 0,
                (F.col("s_total").cast("double") - 1.0)
                / F.sqrt(F.col("var_total")),
            )
            .when(
                F.col("s_total") < 0,
                (F.col("s_total").cast("double") + 1.0)
                / F.sqrt(F.col("var_total")),
            )
            .otherwise(F.lit(0.0)),
            6,
        ).alias("z"),
    )


_MK_SQL = """
WITH monthly AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), pairs AS (
  SELECT a.mo, SIGN(b.cents - a.cents) AS sg
  FROM monthly a JOIN monthly b ON a.mo = b.mo AND a.yr < b.yr
), s_m AS (
  SELECT mo, CAST(SUM(sg) AS BIGINT) AS s FROM pairs GROUP BY mo
), ties AS (
  SELECT mo,
         ((SUM(t) * (SUM(t) - 1) * (2 * SUM(t) + 5)
           - SUM(t * (t - 1) * (2 * t + 5))) / 18.0) AS var_m
  FROM (SELECT mo, cents, COUNT(*) AS t FROM monthly GROUP BY mo, cents) c
  GROUP BY mo
), tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS s_total, SUM(var_m) AS var_total
  FROM s_m JOIN ties USING (mo)
)
SELECT s_total,
       ROUND(var_total, 6) AS var_total,
       ROUND(CASE
         WHEN s_total > 0
           THEN (CAST(s_total AS DOUBLE) - 1.0) / SQRT(var_total)
         WHEN s_total < 0
           THEN (CAST(s_total AS DOUBLE) + 1.0) / SQRT(var_total)
         ELSE 0.0 END, 6) AS z
FROM tot
"""


# --- MASE of the seasonal-naive monthly forecast ------------------------------------


def ord_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Absolute Scaled Error of the 12-month seasonal-naive
    forecast on monthly revenue: MASE = mean|y_m - y_{m-12}| /
    mean|y_m - y_{m-1}|.  Revenue is exact integer cents; both error
    sums and counts stay integers (lags over the observed-month
    sequence, gaps guarded by requiring the exact predecessor index),
    so the only double is the final ratio.  Scale shape: fact rollup
    to <= ~84 months, then one bounded global window (month spine).
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
                "m"
            ),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("m")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = Window.orderBy("m")
    lagged = monthly.select(
        "m",
        "cents",
        F.lag("m", 1).over(w).alias("m1"),
        F.lag("cents", 1).over(w).alias("c1"),
        F.lag("m", 12).over(w).alias("m12"),
        F.lag("cents", 12).over(w).alias("c12"),
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(
            F.when(F.col("m1") == F.col("m") - 1, F.abs(F.col("cents") - F.col("c1")))
        )
        .cast("bigint")
        .alias("naive_abs_err"),
        F.sum(F.when(F.col("m1") == F.col("m") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_naive"),
        F.sum(
            F.when(
                F.col("m12") == F.col("m") - 12,
                F.abs(F.col("cents") - F.col("c12")),
            )
        )
        .cast("bigint")
        .alias("seasonal_abs_err"),
        F.sum(F.when(F.col("m12") == F.col("m") - 12, 1).otherwise(0))
        .cast("bigint")
        .alias("n_seasonal"),
    ).select(
        "n_months",
        "seasonal_abs_err",
        "n_seasonal",
        "naive_abs_err",
        "n_naive",
        F.round(
            (F.col("seasonal_abs_err").cast("double") / F.col("n_seasonal"))
            / (F.col("naive_abs_err").cast("double") / F.col("n_naive")),
            6,
        ).alias("mase"),
    )


_MASE_SQL = """
WITH monthly AS (
  SELECT EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT m, cents,
         LAG(m, 1) OVER (ORDER BY m) AS m1,
         LAG(cents, 1) OVER (ORDER BY m) AS c1,
         LAG(m, 12) OVER (ORDER BY m) AS m12,
         LAG(cents, 12) OVER (ORDER BY m) AS c12
  FROM monthly
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(SUM(CASE WHEN m12 = m - 12 THEN ABS(cents - c12) END) AS BIGINT)
         AS seasonal_abs_err,
       CAST(SUM(CASE WHEN m12 = m - 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seasonal,
       CAST(SUM(CASE WHEN m1 = m - 1 THEN ABS(cents - c1) END) AS BIGINT)
         AS naive_abs_err,
       CAST(SUM(CASE WHEN m1 = m - 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_naive,
       ROUND((CAST(SUM(CASE WHEN m12 = m - 12 THEN ABS(cents - c12) END)
                   AS DOUBLE)
              / SUM(CASE WHEN m12 = m - 12 THEN 1 ELSE 0 END))
             / (CAST(SUM(CASE WHEN m1 = m - 1 THEN ABS(cents - c1) END)
                     AS DOUBLE)
                / SUM(CASE WHEN m1 = m - 1 THEN 1 ELSE 0 END)), 6) AS mase
FROM lagged
"""


# --- daily open-order backlog ---------------------------------------------------


def ord_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily backlog of in-flight orders: an order is open from its
    order date through the day its LAST lineitem ships.  Opens and
    closes become +1/-1 deltas on a per-day rollup; the backlog is the
    running sum.  Orders with no lineitems are excluded (they never
    close).

    Plan shape: one shuffle on orderkey for the last-ship rollup and
    join, one shuffle to the per-day delta rollup (|days| ~ 2.5k rows
    regardless of data size — the calendar is bounded by TIME, not by
    row count), then one window over that bounded rollup.  Scales in
    the fact scans only.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max(F.to_date("l_shipdate")).alias("ship_d")
    )
    spans = o.select(
        F.col("o_orderkey").alias("ok"), F.to_date("o_orderdate").alias("open_d")
    ).join(last_ship, "ok")
    opens = spans.groupBy(F.col("open_d").alias("d")).agg(
        F.count(F.lit(1)).alias("n_opened"), F.lit(0).cast("long").alias("n_closed")
    )
    closes = spans.groupBy(F.date_add("ship_d", 1).alias("d")).agg(
        F.lit(0).cast("long").alias("n_opened"), F.count(F.lit(1)).alias("n_closed")
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("d")
        .agg(
            F.sum("n_opened").alias("n_opened"),
            F.sum("n_closed").alias("n_closed"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "backlog", F.sum(F.col("n_opened") - F.col("n_closed")).over(w)
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_opened",
            "n_closed",
            "backlog",
        )
        .orderBy("day")
    )


ORD_OPEN_BACKLOG_DAILY_SQL = """
WITH spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_d,
         ls.ship_d
  FROM orders o
  JOIN (SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS ship_d
        FROM lineitem GROUP BY 1) ls ON ls.l_orderkey = o.o_orderkey
), daily AS (
  SELECT d, SUM(n_opened) AS n_opened, SUM(n_closed) AS n_closed
  FROM (
    SELECT open_d AS d, COUNT(*) AS n_opened, 0 AS n_closed
    FROM spans GROUP BY 1
    UNION ALL
    SELECT ship_d + INTERVAL 1 DAY, 0, COUNT(*) FROM spans GROUP BY 1
  ) GROUP BY d
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(n_opened AS BIGINT) AS n_opened,
       CAST(n_closed AS BIGINT) AS n_closed,
       CAST(SUM(n_opened - n_closed) OVER (ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
FROM daily ORDER BY day
"""


# --- queue wait via prefix-extremum closed form -----------------------------------


def ord_queue_wait_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-server queue backlog per order priority: orders arrive at
    a_i = epoch day of o_orderdate (FIFO within priority, tie-broken by
    orderkey) and each takes one day of service.  The completion
    recursion c_i = max(a_i, c_{i-1}) + 1 looks inherently serial, but
    substituting b_j = a_j - j gives the closed form
    c_i = i + 1 + max_{j<=i} b_j — so the whole discrete-event
    simulation is ONE window running-max (the prefix-extremum trick,
    cf. the CUSUM plan), fully parallel per priority class.  Output:
    per-priority backlog summary (n, max wait, mean wait) — a capacity
    stress metric (waits grow when arrival rate exceeds 1/day).
    Exactness: waits are pure int64; the mean is one double division."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("a"),
        "o_orderkey",
    )
    w = Window.partitionBy("priority").orderBy("a", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    waits = (
        o.withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("b", F.col("a") - F.col("i"))
        .withColumn("runmax_b", F.max("b").over(wrun))
        # wait = c_i - a_i - 1 = i + runmax(b) - a  (>= 0 by construction)
        .withColumn("wait", F.col("i") + F.col("runmax_b") - F.col("a"))
    )
    return (
        waits.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.max("wait").cast("bigint").alias("max_wait_days"),
            F.sum("wait").cast("bigint").alias("total_wait_days"),
        )
        .withColumn(
            "mean_wait_days",
            F.col("total_wait_days").cast("double")
            / F.col("n_orders").cast("double"),
        )
        .orderBy("priority")
    )


ORD_QUEUE_WAIT_SQL = """
WITH o AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS a,
         o_orderkey
  FROM orders
), numbered AS (
  SELECT priority, a, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY a, o_orderkey) AS i
  FROM o
), w AS (
  SELECT priority, a, i,
         MAX(a - i) OVER (PARTITION BY priority ORDER BY a, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmax_b
  FROM numbered
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(i + runmax_b - a) AS BIGINT) AS max_wait_days,
       CAST(SUM(i + runmax_b - a) AS BIGINT) AS total_wait_days,
       CAST(SUM(i + runmax_b - a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_wait_days
FROM w GROUP BY priority ORDER BY priority
"""


# --- reorder-interval distribution ----------------------------------------------


def ord_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repurchase cycle: days between a customer's consecutive
    orders — count, mean (exact integer sum / count), and exact
    interpolated p50/p90, overall and per order-priority regime of
    the LATER order (does urgency correlate with cadence?).

    Plan shape: one shuffle on custkey for the lag window; gap rows
    then roll up to <=6 groups; percentiles are per-group exact.
    Per-customer windows parallelize at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_d"),
        )
        .filter(F.col("prev_d").isNotNull())
        .select(
            "priority",
            F.datediff(F.to_date("o_orderdate"), F.col("prev_d")).alias(
                "gap_days"
            ),
        )
    )
    return (
        gaps.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_days"),
            F.round(F.percentile("gap_days", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("gap_days", F.lit(0.9)), 6).alias("p90"),
        )
        .orderBy("priority")
    )


ORD_REORDER_INTERVALS_SQL = """
WITH gaps AS (
  SELECT o_orderpriority AS priority,
         date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT priority, COUNT(*) AS n_gaps,
       ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_days,
       ROUND(quantile_cont(gap_days, 0.5), 6) AS p50,
       ROUND(quantile_cont(gap_days, 0.9), 6) AS p90
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY priority ORDER BY priority
"""


# --- revenue bridge -------------------------------------------------------------


def ord_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue bridge: each (customer, month) revenue
    is compared with the SAME customer's previous calendar month via a
    sparse full-outer self-join on (custkey, month_index) — no dense
    customer x month spine, so the plan scales with rows that HAVE
    revenue, not with customers x months.  Per month:

      new_cents          revenue from customers with none the month
                         before (first appearance or reactivation),
      expansion_cents    growth of customers who grew,
      contraction_cents  shrinkage of customers who shrank (<= 0),
      churned_cents      -(previous revenue) of customers gone (<= 0),

    and by construction new + expansion + contraction + churned =
    month_total - prev_month_total to the cent — the reconciliation
    the bridge exists to guarantee (pinned in pytest).  Exact integer
    cents end-to-end; one agg + one self-join keyed on (custkey,
    month)."""
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_custkey", "m")
        .agg(F.sum("cents").cast("bigint").alias("rev"))
    )
    cur = rev.select("o_custkey", "m", F.col("rev").alias("cur_rev"))
    prv = rev.select(
        "o_custkey", (F.col("m") + 1).alias("m"), F.col("rev").alias("prev_rev")
    )
    j = cur.join(prv, ["o_custkey", "m"], "full_outer").select(
        "m",
        F.coalesce("cur_rev", F.lit(0)).alias("c"),
        F.coalesce("prev_rev", F.lit(0)).alias("p"),
    )
    return (
        j.groupBy("m")
        .agg(
            F.sum(F.when(F.col("p") == 0, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(
                F.when(
                    (F.col("p") > 0) & (F.col("c") > F.col("p")),
                    F.col("c") - F.col("p"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("expansion_cents"),
            F.sum(
                F.when(
                    (F.col("p") > 0)
                    & (F.col("c") > 0)
                    & (F.col("c") < F.col("p")),
                    F.col("c") - F.col("p"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("contraction_cents"),
            F.sum(F.when(F.col("c") == 0, -F.col("p")).otherwise(0))
            .cast("bigint")
            .alias("churned_cents"),
            F.sum(F.col("c") - F.col("p")).cast("bigint").alias("net_cents"),
        )
        .select(
            F.col("m").alias("month_idx"),
            "new_cents",
            "expansion_cents",
            "contraction_cents",
            "churned_cents",
            "net_cents",
        )
        .orderBy("month_idx")
    )


ORD_REVENUE_BRIDGE_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1, 2
), j AS (
  SELECT COALESCE(cur.m, prv.m + 1) AS m,
         COALESCE(cur.rev, 0) AS c,
         COALESCE(prv.rev, 0) AS p
  FROM rev cur
  FULL OUTER JOIN rev prv
    ON cur.o_custkey = prv.o_custkey AND cur.m = prv.m + 1
)
SELECT m AS month_idx,
       CAST(SUM(CASE WHEN p = 0 THEN c ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(SUM(CASE WHEN p > 0 AND c > p THEN c - p ELSE 0 END) AS BIGINT)
         AS expansion_cents,
       CAST(SUM(CASE WHEN p > 0 AND c > 0 AND c < p THEN c - p ELSE 0 END)
            AS BIGINT) AS contraction_cents,
       CAST(SUM(CASE WHEN c = 0 THEN -p ELSE 0 END) AS BIGINT)
         AS churned_cents,
       CAST(SUM(c - p) AS BIGINT) AS net_cents
FROM j GROUP BY m ORDER BY month_idx
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


# --- 2-D skyline (Pareto front) ---------------------------------------------
# Orders no other order dominates: higher total price AND more recent
# date.  The naive dominance test is a quadratic self-join; in 2-D the
# skyline falls out of a sort: scan by price descending and keep the
# rows that strictly raise the running date maximum.  Distributed as
# skyline-of-skylines — skyline(S) = skyline(∪ skyline(bucket_i)) —
# so the expensive pass is a PARTITIONED window over hash buckets
# (each bucket prunes its dominated rows in parallel) and only the
# few survivors reach the single-partition global scan.  Ties on
# price are ordered date-descending so an equal-price-earlier-date
# row never survives; duplicate (price, date) pairs keep the smallest
# orderkey via a dedup rank.

_SKYLINE_BUCKETS = 64


def _skyline_scan(df: DataFrame, part_cols: list[str]) -> DataFrame:
    """Keep rows that strictly raise the running date max within a
    price-descending scan (optionally per partition column)."""
    scan = (
        Window.partitionBy(*part_cols)
        .orderBy(F.desc("o_totalprice"), F.desc("odus"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_best = F.max("odus").over(scan)
    return df.withColumn("prev_best", prev_best).filter(
        F.col("prev_best").isNull() | (F.col("odus") > F.col("prev_best"))
    ).drop("prev_best")


# global window: only bucket-skyline survivors, expected O(B*log n) rows
def pareto_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("odus", epoch_us("o_orderdate"))
        .select("o_orderkey", "o_totalprice", "odus")
    )
    dedup = Window.partitionBy("o_totalprice", "odus").orderBy("o_orderkey")
    uniq = o.withColumn("dr", F.row_number().over(dedup)).filter(F.col("dr") == 1)
    bucketed = uniq.withColumn(
        "bkt", F.pmod(F.hash("o_orderkey"), F.lit(_SKYLINE_BUCKETS))
    )
    local = _skyline_scan(bucketed, ["bkt"])  # parallel prune, drops ~all rows
    global_sky = _skyline_scan(local, [])  # tiny survivor set, one partition
    return global_sky.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("odus").alias("order_day_us"),
    ).orderBy("o_orderkey")


PARETO_SKYLINE_SQL = """
WITH pts AS (
  SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS odus
  FROM orders
),
uniq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_totalprice, odus
                               ORDER BY o_orderkey) AS dr
  FROM pts
),
scanned AS (
  SELECT o_orderkey, o_totalprice, odus,
         MAX(odus) OVER (ORDER BY o_totalprice DESC, odus DESC, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_best
  FROM uniq WHERE dr = 1
)
SELECT o_orderkey, o_totalprice AS price, odus AS order_day_us
FROM scanned
WHERE prev_best IS NULL OR odus > prev_best
ORDER BY o_orderkey
"""


# --- Benford first-digit profile --------------------------------------------

def sup_acct_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of customer balances vs
    the Benford expectation ln(1+1/d)/ln(10) — the classic anomaly /
    fabrication screen.  Observed shares are exact integer ratios;
    the expectation is a pure function of the digit (rounded to 9),
    so both engines agree bit-for-bit.
    """
    c = load_table(spark, sf_dir, "customer")
    digit = F.substring(
        F.abs(F.round(F.col("c_acctbal") * 100).cast("bigint")).cast(
            "string"
        ),
        1,
        1,
    ).cast("int")
    obs = (
        c.filter(F.round(F.col("c_acctbal") * 100).cast("bigint") != 0)
        .select(digit.alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("n"))
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("tot"))
    share = F.col("n").cast("double") / F.col("tot").cast("double")
    expected = F.round(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double"))
        / F.log(F.lit(10.0)),
        9,
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            share.alias("share"),
            expected.alias("benford_expected"),
            F.round(share - expected, 9).alias("delta"),
        )
        .orderBy("d")
    )


SUP_ACCT_BENFORD_SQL = """
WITH obs AS (
  SELECT CAST(substr(CAST(abs(CAST(ROUND(c_acctbal*100) AS BIGINT))
                          AS VARCHAR), 1, 1) AS INTEGER) AS d,
         COUNT(*) AS n
  FROM customer
  WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) <> 0
  GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM obs)
SELECT d, n,
       CAST(n AS DOUBLE)/CAST(tot AS DOUBLE) AS share,
       ROUND(ln(1.0 + 1.0/CAST(d AS DOUBLE))/ln(10.0), 9)
         AS benford_expected,
       ROUND(CAST(n AS DOUBLE)/CAST(tot AS DOUBLE)
             - ROUND(ln(1.0 + 1.0/CAST(d AS DOUBLE))/ln(10.0), 9), 9)
         AS delta
FROM obs CROSS JOIN tot ORDER BY d
"""


# --- CR4 supplier concentration -----------------------------------------------------


def sup_cr4_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-firm concentration ratio per supplier nation: the share of
    the nation's lineitem volume handled by its 4 busiest suppliers,
    in exact parts-per-million — integer round-half-up
    (t4*2000000 + tot) DIV (2*tot), no doubles anywhere (Spark DIV ==
    DuckDB // on non-negative ints).  Ranking ties break on suppkey.
    Scale shape: one fact rollup on suppkey, then nation-partitioned
    window over the supplier dimension (bounded by |supplier|).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_sup = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ranked = (
        per_sup.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), "s_suppkey", "cnt")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(
                    F.desc("cnt"), "s_suppkey"
                )
            ),
        )
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("cnt").cast("bigint").alias("total_items"),
            F.sum(F.when(F.col("rk") <= 4, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("top4_items"),
        )
        .select(
            "nation",
            "n_suppliers",
            "total_items",
            "top4_items",
            F.expr(
                "CAST((top4_items * 2000000 + total_items)"
                " DIV (2 * total_items) AS BIGINT)"
            ).alias("cr4_ppm"),
        )
        .orderBy("nation")
    )


_CR4_SQL = """
WITH per_sup AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT n.n_name AS nation, s.s_suppkey, p.cnt,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY p.cnt DESC, s.s_suppkey) AS rk
  FROM per_sup p
  JOIN supplier s ON p.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(cnt) AS BIGINT) AS total_items,
       CAST(SUM(CASE WHEN rk <= 4 THEN cnt ELSE 0 END) AS BIGINT)
         AS top4_items,
       CAST((SUM(CASE WHEN rk <= 4 THEN cnt ELSE 0 END) * 2000000
             + SUM(cnt)) // (2 * SUM(cnt)) AS BIGINT) AS cr4_ppm
FROM ranked GROUP BY nation ORDER BY nation
"""


# --- supplier credit-risk exposure (s_acctbal) ------------------------------
# Suppliers in arrears (negative account balance) ranked by open
# revenue exposure: the purchasing-risk screen.  Negative-balance
# suppliers are a small filtered set, but |suppliers| grows with the
# data, so the join carries NO broadcast hint — AQE broadcasts while
# it fits and falls back to shuffle beyond that (the forced-fact rule
# of planshape's `fact_broadcasts`, applied to an entity dim).

def sup_credit_risk_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("decimal(38,0)")
    exposure = (
        li.join(s.select("s_suppkey", "s_name", "s_acctbal"),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.min("s_acctbal").alias("acctbal"),
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(cents).cast("double") / 100.0).alias("exposure"),
        )
    )
    return exposure.orderBy(F.desc("exposure"), "s_suppkey").limit(25)


SUP_CREDIT_RISK_SQL = """
SELECT s_suppkey, s_name, MIN(s_acctbal) AS acctbal,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS HUGEINT))
            AS DOUBLE) / 100.0 AS exposure
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal < 0
GROUP BY s_suppkey, s_name
ORDER BY exposure DESC, s_suppkey LIMIT 25
"""


# --- Kraljic matrix ----------------------------------------------------------------


def sup_kraljic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kraljic-style supplier 2x2: spend (total extendedprice cents
    routed through the supplier) x criticality (distinct parts
    supplied).  Quadrant cuts at the exact global means, decided by
    integer cross-multiplication (spend_s * n_sup vs total_spend,
    parts_s * n_sup vs total_parts).  Output: per-quadrant supplier
    count, spend share."""
    li = load_table(spark, sf_dir, "lineitem")
    per_sup = li.groupBy(F.col("l_suppkey").alias("s")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("decimal(38,0)")
        .alias("spend"),
        F.countDistinct("l_partkey").cast("decimal(38,0)").alias("n_parts"),
    )
    tot = per_sup.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_sup"),
        F.sum("spend").alias("tot_spend"),
        F.sum("n_parts").alias("tot_parts"),
    )
    labeled = per_sup.crossJoin(F.broadcast(tot)).select(
        "spend",
        F.concat(
            F.when(
                F.col("spend") * F.col("n_sup") >= F.col("tot_spend"),
                F.lit("high-spend/"),
            ).otherwise(F.lit("low-spend/")),
            F.when(
                F.col("n_parts") * F.col("n_sup") >= F.col("tot_parts"),
                F.lit("high-variety"),
            ).otherwise(F.lit("low-variety")),
        ).alias("quadrant"),
        F.col("tot_spend"),
    )
    return (
        labeled.groupBy("quadrant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(
                F.sum("spend").cast("double")
                / F.first("tot_spend").cast("double"),
                6,
            ).alias("spend_share"),
        )
        .orderBy("quadrant")
    )


_KRALJIC_SQL = """
WITH per_sup AS (
  SELECT l_suppkey AS s,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
           AS spend,
         CAST(COUNT(DISTINCT l_partkey) AS HUGEINT) AS n_parts
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n_sup,
         SUM(spend) AS tot_spend,
         SUM(n_parts) AS tot_parts
  FROM per_sup
), labeled AS (
  SELECT spend,
         (CASE WHEN spend * n_sup >= tot_spend
               THEN 'high-spend/' ELSE 'low-spend/' END)
         || (CASE WHEN n_parts * n_sup >= tot_parts
                  THEN 'high-variety' ELSE 'low-variety' END) AS quadrant,
         tot_spend
  FROM per_sup, tot
)
SELECT quadrant,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(spend) AS DOUBLE) / CAST(MIN(tot_spend) AS DOUBLE), 6)
         AS spend_share
FROM labeled GROUP BY quadrant ORDER BY quadrant
"""


# --- grouped OLS lead-time trend -------------------------------------------------


def sup_lead_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier OLS slope of shipping lead time (ship date - order
    date, days) against order date (epoch days): a positive slope =
    the supplier is getting slower.  Grouped regression from exact
    int64 moments (n, Sx, Sy, Sxy, Sxx); the final
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) is computed in DOUBLE — the
    moments convert exactly (< 2^53) and IEEE mult/sub/div are
    correctly rounded, so both engines produce identical bits.
    One shuffle on suppkey.  Sampled suppliers (% 13 = 0) keep the
    output bounded; degenerate groups (n < 2 or zero variance) drop."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 13 == 0)
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("y"),
    )
    m = j.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    den = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return (
        m.filter((F.col("n") >= 2) & (den != 0.0))
        .select(
            "suppkey",
            "n",
            (num / den).alias("slope_days_per_day"),
            (F.col("sy").cast("double") / F.col("n").cast("double")).alias(
                "mean_lead_days"
            ),
        )
        .orderBy("suppkey")
    )


SUP_LEAD_TIME_TREND_SQL = """
WITH j AS (
  SELECT l_suppkey AS suppkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
           AS y
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey % 13 = 0
), m AS (
  SELECT suppkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM j GROUP BY suppkey
)
SELECT suppkey, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_days_per_day,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lead_days
FROM m
WHERE n >= 2
  AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
ORDER BY suppkey
"""


# --- supplier-concentration HHI ---------------------------------------------

def sup_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration
    within each supplier nation — the supply-risk twin of the Gini
    query (HHI ~ 1/n means diversified sourcing; near 1 means one
    dominant supplier).  HHI = sum(share_i^2) = sum(rc_i^2) /
    (sum(rc_i))^2: both moments are exact decimal sums of cent
    integers; ONE double division at the edge, so the result is
    order-free and partition-count invariant.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(cents("l_extendedprice")).alias("rc"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.col("rc").cast("decimal(38,0)").alias("rc"))
    )
    agg = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rc").alias("s"),
        F.sum(F.col("rc") * F.col("rc")).alias("s2"),
    )
    hhi = F.col("s2").cast("double") / (
        F.col("s").cast("double") * F.col("s").cast("double")
    )
    return agg.select(
        "n_name",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        (F.col("s").cast("double") / 100.0).alias("revenue"),
        F.round(hhi, 9).alias("hhi"),
    ).orderBy("n_name")


SUP_NATION_HHI_SQL = """
WITH rev AS (
  SELECT n_name,
         CAST(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
                   AS BIGINT) AS DECIMAL(19,0)) AS rc
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
), agg AS (
  SELECT n_name, COUNT(*) AS n_suppliers,
         SUM(rc) AS s, SUM(rc * rc) AS s2
  FROM rev GROUP BY n_name
)
SELECT n_name,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(s AS DOUBLE)/100.0 AS revenue,
       ROUND(CAST(s2 AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 9) AS hhi
FROM agg ORDER BY n_name
"""


# --- supplier-concentration HHI per part ----------------------------------------

_HHI_TOP = 25


def sup_part_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index for the 25
    highest-volume parts: with q_s = units shipped by supplier s,

        HHI = sum_s(q_s^2) / (sum_s q_s)^2     in (0, 1]

    1.0 = single-sourced, 1/n = perfectly split.  TPC-H quantities are
    integral, so both numerator and denominator are exact int64 sums;
    ONE division at the end keeps it bit-portable.

    Plan shape: two hash rollups — (part, supplier) then part — i.e.
    two key shuffles on fact-table keys; top-25 via
    TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    per_p = per_ps.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").alias("total_qty"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    return (
        per_p.orderBy(F.desc("total_qty"), "pk")
        .limit(_HHI_TOP)
        .select(
            F.col("pk").alias("partkey"),
            "n_suppliers",
            "total_qty",
            F.round(
                F.col("sq").cast("double")
                / (F.col("total_qty") * F.col("total_qty")).cast("double"),
                6,
            ).alias("hhi"),
        )
        .orderBy(F.desc("total_qty"), "partkey")
    )


SUP_PART_HHI_SQL = f"""
WITH per_ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), per_p AS (
  SELECT pk, COUNT(*) AS n_suppliers,
         CAST(SUM(q) AS BIGINT) AS total_qty,
         CAST(SUM(q * q) AS BIGINT) AS sq
  FROM per_ps GROUP BY pk
)
SELECT pk AS partkey, n_suppliers, total_qty,
       ROUND(CAST(sq AS DOUBLE) / CAST(total_qty * total_qty AS DOUBLE), 6)
         AS hhi
FROM per_p ORDER BY total_qty DESC, pk LIMIT {_HHI_TOP}
"""


QUERIES = {
    "cust_abc_pareto": cust_abc_pareto,
    "cust_basket_diversity": cust_basket_diversity,
    "cust_category_entropy": cust_category_entropy,
    "cust_cohort_ltv": cust_cohort_ltv,
    "cust_decile_migration": cust_decile_migration,
    "cust_entity_resolution": cust_entity_resolution,
    "cust_lorenz_deciles": cust_lorenz_deciles,
    "cust_nation_gini": cust_nation_gini,
    "cust_order_gap_histogram": cust_order_gap_histogram,
    "cust_pit_training_features": cust_pit_training_features,
    "cust_rfm_global_quintiles": cust_rfm_global_quintiles,
    "cust_rfm_segments": cust_rfm_segments,
    "cust_survival_km": cust_survival_km,
    "er_fuzzy_name_match": er_fuzzy_name_match,
    "geo_radius_pairs": geo_radius_pairs,
    "jw_best_match_parts": jw_best_match_parts,
    "li_abc_xyz_matrix": li_abc_xyz_matrix,
    "li_bollinger_outliers": li_bollinger_outliers,
    "li_discount_elasticity": li_discount_elasticity,
    "li_eoq_policy": li_eoq_policy,
    "li_gini_by_brand": li_gini_by_brand,
    "li_lineposition_stats": li_lineposition_stats,
    "li_margin_waterfall": li_margin_waterfall,
    "li_newsvendor_quantile": li_newsvendor_quantile,
    "li_otif_by_month": li_otif_by_month,
    "li_price_consistency_audit": li_price_consistency_audit,
    "li_price_index_fisher": li_price_index_fisher,
    "li_price_volume_mix": li_price_volume_mix,
    "li_scd2_pit_revenue": li_scd2_pit_revenue,
    "li_ship_sla_percentiles": li_ship_sla_percentiles,
    "li_theil_index": li_theil_index,
    "li_vwap_by_month": li_vwap_by_month,
    "li_weighted_median_price": li_weighted_median_price,
    "ord_duplicate_invoices": ord_duplicate_invoices,
    "ord_fiscal_445_revenue": ord_fiscal_445_revenue,
    "ord_iso_week_revenue": ord_iso_week_revenue,
    "ord_keyspace_density": ord_keyspace_density,
    "ord_little_law": ord_little_law,
    "ord_mann_kendall_trend": ord_mann_kendall_trend,
    "ord_mase_seasonal": ord_mase_seasonal,
    "ord_open_backlog_daily": ord_open_backlog_daily,
    "ord_queue_wait_closed_form": ord_queue_wait_closed_form,
    "ord_reorder_intervals": ord_reorder_intervals,
    "ord_revenue_bridge": ord_revenue_bridge,
    "ord_runs_test": ord_runs_test,
    "pareto_orders_skyline": pareto_orders_skyline,
    "sup_acct_benford": sup_acct_benford,
    "sup_cr4_concentration": sup_cr4_concentration,
    "sup_credit_risk_exposure": sup_credit_risk_exposure,
    "sup_kraljic_matrix": sup_kraljic_matrix,
    "sup_lead_time_trend": sup_lead_time_trend,
    "sup_nation_hhi": sup_nation_hhi,
    "sup_part_hhi": sup_part_hhi,
}
ORACLES = {
    "cust_abc_pareto": CUST_ABC_PARETO_SQL,
    "cust_basket_diversity": _BASKET_DIV_SQL,
    "cust_category_entropy": _CUST_ENTROPY_SQL,
    "cust_cohort_ltv": CUST_COHORT_LTV_SQL,
    "cust_decile_migration": CUST_DECILE_MIGRATION_SQL,
    "cust_entity_resolution": CUST_ENTITY_RESOLUTION_SQL,
    "cust_lorenz_deciles": CUST_LORENZ_SQL,
    "cust_nation_gini": CUST_NATION_GINI_SQL,
    "cust_order_gap_histogram": CUST_ORDER_GAP_SQL,
    "cust_pit_training_features": CUST_PIT_FEATURES_SQL,
    "cust_rfm_global_quintiles": CUST_RFM_GLOBAL_QUINTILES_SQL,
    "cust_rfm_segments": CUST_RFM_SEGMENTS_SQL,
    "cust_survival_km": _KM_SQL,
    "er_fuzzy_name_match": ER_FUZZY_SQL,
    "geo_radius_pairs": GEO_RADIUS_PAIRS_SQL,
    "jw_best_match_parts": JW_BEST_MATCH_SQL,
    "li_abc_xyz_matrix": _ABC_XYZ_SQL,
    "li_bollinger_outliers": _BOLL_SQL,
    "li_discount_elasticity": LI_DISCOUNT_ELASTICITY_SQL,
    "li_eoq_policy": LI_EOQ_SQL,
    "li_gini_by_brand": _GINI_BRAND_SQL,
    "li_lineposition_stats": LI_LINEPOSITION_SQL,
    "li_margin_waterfall": LI_MARGIN_WATERFALL_SQL,
    "li_newsvendor_quantile": LI_NEWSVENDOR_SQL,
    "li_otif_by_month": _OTIF_SQL,
    "li_price_consistency_audit": LI_PRICE_CONSISTENCY_SQL,
    "li_price_index_fisher": _FISHER_SQL,
    "li_price_volume_mix": LI_PRICE_VOLUME_MIX_SQL,
    "li_scd2_pit_revenue": LI_SCD2_PIT_SQL,
    "li_ship_sla_percentiles": LI_SHIP_SLA_PERCENTILES_SQL,
    "li_theil_index": _THEIL_SQL,
    "li_vwap_by_month": _VWAP_SQL,
    "li_weighted_median_price": _WMEDIAN_SQL,
    "ord_duplicate_invoices": _DUP_INVOICE_SQL,
    "ord_fiscal_445_revenue": _fiscal_oracle(),
    "ord_iso_week_revenue": ORD_ISO_WEEK_SQL,
    "ord_keyspace_density": _KEYSPACE_SQL,
    "ord_little_law": _LITTLE_SQL,
    "ord_mann_kendall_trend": _MK_SQL,
    "ord_mase_seasonal": _MASE_SQL,
    "ord_open_backlog_daily": ORD_OPEN_BACKLOG_DAILY_SQL,
    "ord_queue_wait_closed_form": ORD_QUEUE_WAIT_SQL,
    "ord_reorder_intervals": ORD_REORDER_INTERVALS_SQL,
    "ord_revenue_bridge": ORD_REVENUE_BRIDGE_SQL,
    "ord_runs_test": ORD_RUNS_SQL,
    "pareto_orders_skyline": PARETO_SKYLINE_SQL,
    "sup_acct_benford": SUP_ACCT_BENFORD_SQL,
    "sup_cr4_concentration": _CR4_SQL,
    "sup_credit_risk_exposure": SUP_CREDIT_RISK_SQL,
    "sup_kraljic_matrix": _KRALJIC_SQL,
    "sup_lead_time_trend": SUP_LEAD_TIME_TREND_SQL,
    "sup_nation_hhi": SUP_NATION_HHI_SQL,
    "sup_part_hhi": SUP_PART_HHI_SQL,
}
