"""Round-6 wave 20: referential-integrity audit and boxplot
five-number summaries.

- rel_integrity_audit: orphan-key counts for every fact->dimension
  relationship in the schema — the FK audit an ingestion gate runs
  before anything joins (an orphan rate > 0 silently deletes rows
  from every inner join downstream).
- ev_type_value_boxplot: the five-number summary (+ IQR whiskers and
  outlier counts) of event values per type — the boxplot table behind
  the standard distribution-at-a-glance panel.

Both carry full DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- referential integrity audit --------------------------------------------------


def rel_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over the four fact->dimension relationships:
    child rows whose key has no parent (left anti-join), with the
    orphan rate.  All four checks are independent anti-join reduces —
    a 100 TB audit is four scans, no wide state.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    rels = [
        (
            "lineitem.l_orderkey -> orders",
            li.select(F.col("l_orderkey").alias("k")),
            o.select(F.col("o_orderkey").alias("k")),
        ),
        (
            "lineitem.l_partkey -> part",
            li.select(F.col("l_partkey").alias("k")),
            p.select(F.col("p_partkey").alias("k")),
        ),
        (
            "lineitem.l_suppkey -> supplier",
            li.select(F.col("l_suppkey").cast("long").alias("k")),
            s.select(F.col("s_suppkey").alias("k")),
        ),
        (
            "orders.o_custkey -> customer",
            o.select(F.col("o_custkey").alias("k")),
            c.select(F.col("c_custkey").alias("k")),
        ),
    ]
    outs = []
    for label, child, parent in rels:
        flagged = child.join(
            parent.distinct().withColumn("__hit", F.lit(1)), "k", "left"
        )
        outs.append(
            flagged.agg(
                F.lit(label).alias("relation"),
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.col("__hit").isNull().cast("long")).alias(
                    "n_orphans"
                ),
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out.withColumn(
        "orphan_pct",
        F.round(F.lit(100.0) * F.col("n_orphans") / F.col("n_child"), 6),
    ).orderBy("relation")


REL_INTEGRITY_AUDIT_SQL = """
SELECT relation, n_child, n_orphans,
       ROUND(100.0 * n_orphans / n_child, 6) AS orphan_pct
FROM (
  SELECT 'lineitem.l_orderkey -> orders' AS relation,
         COUNT(*) AS n_child,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphans
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
         ON o.o_orderkey = l.l_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey -> part', COUNT(*),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
         ON p.p_partkey = l.l_partkey
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier', COUNT(*),
         CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
         ON s.s_suppkey = CAST(l.l_suppkey AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey -> customer', COUNT(*),
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders o2
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
         ON c.c_custkey = o2.o_custkey
) ORDER BY relation
"""


# --- per-type value boxplot --------------------------------------------------------


def ev_type_value_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot statistics of event value per event type: min / q1 /
    median / q3 / max (exact interpolated percentiles over integer
    cents) plus the count outside the 1.5*IQR whiskers — the
    distribution-at-a-glance panel.  The whisker comparison happens
    against derived doubles computed identically in both engines.

    Plan shape: one shuffle to the per-type rollup for the quantiles;
    the outlier count re-aggregates against the broadcast per-type
    fences (dimension-bounded join).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    qs = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("v").cast("double") / F.lit(100.0)).alias("vmin"),
        F.round(F.percentile("v", F.lit(0.25)) / F.lit(100.0), 6).alias("q1"),
        F.round(F.percentile("v", F.lit(0.5)) / F.lit(100.0), 6).alias(
            "median"
        ),
        F.round(F.percentile("v", F.lit(0.75)) / F.lit(100.0), 6).alias("q3"),
        (F.max("v").cast("double") / F.lit(100.0)).alias("vmax"),
        F.percentile("v", F.lit(0.25)).alias("__q1c"),
        F.percentile("v", F.lit(0.75)).alias("__q3c"),
    )
    fenced = base.join(F.broadcast(qs.select("event_type", "__q1c", "__q3c")), "event_type")
    iqr = F.col("__q3c") - F.col("__q1c")
    out_cnt = (
        fenced.filter(
            (F.col("v").cast("double") < F.col("__q1c") - F.lit(1.5) * iqr)
            | (F.col("v").cast("double") > F.col("__q3c") + F.lit(1.5) * iqr)
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        qs.join(out_cnt, "event_type", "left")
        .select(
            "event_type",
            "n",
            "vmin",
            "q1",
            "median",
            "q3",
            "vmax",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


EV_TYPE_VALUE_BOXPLOT_SQL = """
WITH base AS (
  SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), qs AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(MIN(v) AS DOUBLE) / 100.0 AS vmin,
         ROUND(quantile_cont(v, 0.25) / 100.0, 6) AS q1,
         ROUND(quantile_cont(v, 0.5) / 100.0, 6) AS median,
         ROUND(quantile_cont(v, 0.75) / 100.0, 6) AS q3,
         CAST(MAX(v) AS DOUBLE) / 100.0 AS vmax,
         quantile_cont(v, 0.25) AS q1c,
         quantile_cont(v, 0.75) AS q3c
  FROM base GROUP BY event_type
), oc AS (
  SELECT b.event_type, COUNT(*) AS n_outliers
  FROM base b JOIN qs ON qs.event_type = b.event_type
  WHERE CAST(b.v AS DOUBLE) < qs.q1c - 1.5 * (qs.q3c - qs.q1c)
     OR CAST(b.v AS DOUBLE) > qs.q3c + 1.5 * (qs.q3c - qs.q1c)
  GROUP BY 1
)
SELECT qs.event_type AS event_type, n, vmin, q1, median, q3, vmax,
       CAST(COALESCE(oc.n_outliers, 0) AS BIGINT) AS n_outliers
FROM qs LEFT JOIN oc ON oc.event_type = qs.event_type
ORDER BY qs.event_type
"""


QUERIES = {
    "rel_integrity_audit": rel_integrity_audit,
    "ev_type_value_boxplot": ev_type_value_boxplot,
}

ORACLES = {
    "rel_integrity_audit": REL_INTEGRITY_AUDIT_SQL,
    "ev_type_value_boxplot": EV_TYPE_VALUE_BOXPLOT_SQL,
}
