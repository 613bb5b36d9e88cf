"""Round-6 wave 17: Welch's t-test, revenue waterfall, l-diversity
privacy audit, and a join-key skew report.

- stat_welch_t: Welch's unequal-variance t-test between two customer
  segments' balances, with the Welch-Satterthwaite degrees of
  freedom.  Moments come from exact integer / decimal(38,0) sums
  (order-independent at any parallelism); t and df are one fixed IEEE
  expression tree each.
- li_margin_waterfall: the gross -> discount -> net revenue waterfall
  per order year — every finance dashboard's first chart; all exact
  scaled-integer sums (discount amounts in 1e-4-dollar units).
- priv_l_diversity: the companion audit to priv_k_anonymity — how
  DIVERSE is the sensitive attribute inside each quasi-identifier
  class (distinct-sensitive-value histogram, classes below l=3
  flagged).
- data_skew_report: per join-key column, cardinality, the heaviest
  key's share, and the max/avg skew factor — the table you read
  BEFORE deciding which joins need salting at 100 TB.

All four carry full DuckDB oracles on the repo-standard portable
primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.sources.tables import load_table


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


# --- l-diversity audit ----------------------------------------------------------

_LDIV_MIN = 3


def priv_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion to priv_k_anonymity: within
    each quasi-identifier class (nation, balance band), how many
    DISTINCT values does the sensitive attribute (market segment)
    take?  A class can be large (k-anonymous) yet expose everyone's
    segment if l = 1.  Output: histogram of l with class and member
    counts, plus the below-l=3 flag per row.

    Plan shape: one shuffle to the (QI, sensitive) rollup, one to the
    QI class, one to the <=5-row histogram.
    """
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "(CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) DIV 100000"
        ).alias("band"),
        F.col("c_mktsegment").alias("seg"),
    )
    classes = (
        qi.groupBy("nat", "band")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.count_distinct("seg").alias("l"),
        )
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_members"),
        )
        .withColumn("below_min_l", F.col("l") < _LDIV_MIN)
        .orderBy("l")
    )


PRIV_L_DIVERSITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey AS nat,
         (CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) // 100000
           AS band,
         COUNT(*) AS class_size,
         COUNT(DISTINCT c_mktsegment) AS l
  FROM customer GROUP BY 1, 2
)
SELECT l, COUNT(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_members,
       l < {_LDIV_MIN} AS below_min_l
FROM classes GROUP BY l ORDER BY l
"""


# --- join-key skew report -------------------------------------------------------


def data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the four fact-table key columns a
    100 TB plan shuffles on: distinct keys, rows, the heaviest key's
    row share, and the max/avg skew factor.  Skew factor >> 1 on a
    join key is the signal to salt (or let AQE skew-join) BEFORE the
    job ships.  The heaviest key is reported deterministically
    (count desc, key asc).

    Plan shape: one rollup + one 1-row reduce per key column, unioned
    — four independent scan pipelines, each one shuffle.
    """
    specs = [
        ("lineitem.l_partkey", load_table(spark, sf_dir, "lineitem"), "l_partkey"),
        ("lineitem.l_suppkey", load_table(spark, sf_dir, "lineitem"), "l_suppkey"),
        ("orders.o_custkey", load_table(spark, sf_dir, "orders"), "o_custkey"),
        ("events.user_id", load_table(spark, sf_dir, "events"), "user_id"),
    ]
    outs = []
    for label, df, col in specs:
        per = df.groupBy(F.col(col).cast("long").alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        outs.append(
            per.agg(
                F.lit(label).alias("key_col"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").alias("n_rows"),
                # composite order encoded as ONE integer (cnt*1e10 - k):
                # struct keys don't bind in DuckDB's arg_max, scalars do
                F.max_by(
                    "k", F.col("cnt") * F.lit(10_000_000_000) - F.col("k")
                ).alias("top_key"),
                F.max("cnt").alias("top_cnt"),
                F.round(
                    F.max("cnt")
                    / (F.sum("cnt").cast("double") / F.count(F.lit(1))),
                    6,
                ).alias("skew_factor"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("key_col")


_SKEW_PARTS = "\nUNION ALL\n".join(
    f"""
SELECT '{label}' AS key_col,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       arg_max(k, cnt * 10000000000 - k) AS top_key,
       CAST(MAX(cnt) AS BIGINT) AS top_cnt,
       ROUND(MAX(cnt) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 6)
         AS skew_factor
FROM (SELECT CAST({col} AS BIGINT) AS k, COUNT(*) AS cnt
      FROM {table} GROUP BY 1)"""
    for label, table, col in [
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
        ("events.user_id", "events", "user_id"),
    ]
)

DATA_SKEW_REPORT_SQL = f"""
SELECT * FROM (
{_SKEW_PARTS}
) ORDER BY key_col
"""


QUERIES = {
    "stat_welch_t": stat_welch_t,
    "li_margin_waterfall": li_margin_waterfall,
    "priv_l_diversity": priv_l_diversity,
    "data_skew_report": data_skew_report,
}

ORACLES = {
    "stat_welch_t": STAT_WELCH_T_SQL,
    "li_margin_waterfall": LI_MARGIN_WATERFALL_SQL,
    "priv_l_diversity": PRIV_L_DIVERSITY_SQL,
    "data_skew_report": DATA_SKEW_REPORT_SQL,
}
