"""Round-8 wave 33: inventory classification and modern SQL surface.

- li_abc_xyz_matrix: the ABC (revenue concentration) x XYZ (demand
  variability) classification grid every inventory planner keeps —
  ABC cutoffs via integer cross-multiplication of the cumulative
  revenue share (cum*5<=tot*4 is 80% with no floats), XYZ via the
  integer CV^2 test M*sumsq vs sum^2 over the month-densified demand
  series.  9-cell output.
- sql_group_by_all: GROUP BY ALL / ORDER BY ALL — the modern SQL
  shorthand both Spark 4 and DuckDB resolve from the SELECT list;
  the whole query is ONE SQL string passed to both engines verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


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
    (part, month) rollup, one part rollup, one ~part-count window for
    the revenue rank, 9-cell aggregate."""
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
    # Global revenue cumsum WITHOUT a part-cardinality single-partition
    # window (round-7 VERDICT item 5): 31 VALUE-deterministic
    # percentile cuts on the negated revenue (1-row broadcast; value
    # buckets, not repartitionByRange+pid — the range sampler reseeds
    # per execution) split parts into buckets ordered by rev DESC, sum
    # locally per bucket, then shift by the preceding buckets' totals
    # — the only global-ordered stage is the <=32-row offset window.
    # The grand total comes from a 1-row broadcast aggregate instead
    # of SUM() OVER ().
    # r13: checkpoint the part-level relation ONCE — previously every
    # broadcast build (vcuts, offsets, tot_row) re-derived the full
    # lineitem -> pm -> per_part lineage, running the widest shuffles
    # 4-5x per query (84 Exchange nodes in the printed plan).
    neg = (
        per_part.crossJoin(F.broadcast(span))
        .withColumn("nrev", -F.col("rev"))
        .localCheckpoint(eager=False)
    )
    qs = [i / 32.0 for i in range(1, 32)]
    # cuts from the $1k-quantized revenue rollup (nrev DIV 100000):
    # per-part revenues are near-distinct, so the rollup must quantize
    # to bound the percentile buffer; bucketing on a monotone function
    # of nrev keeps the global rank exact (ties share a bucket).
    qv = neg.groupBy(F.expr("nrev DIV 100000").alias("v")).agg(
        F.count(F.lit(1)).alias("freq")
    )
    vcuts = qv.agg(
        F.percentile("v", F.array(*[F.lit(x) for x in qs]), F.col("freq"))
        .alias("vcut")
    )  # 1 row
    # r13 (guide §1.4/§7.3 — plan size): bucket = count of cuts below
    # the value, as ONE array filter over the 31-cut vector instead of
    # a 31-term sum of element_at comparisons — the same integer per
    # row (element order in vcut is ascending but count is order-free),
    # a 62x smaller expression tree to analyze/codegen.
    n_below = F.expr(
        "size(filter(vcut, x -> CAST(nrev DIV 100000 AS DOUBLE) > x))"
    ).cast("int")
    p = neg.crossJoin(F.broadcast(vcuts)).select(
        "l_partkey", "rev", "sq", "sqq", "M", "nrev", n_below.alias("bk")
    )
    w_local = (
        Window.partitionBy("bk")
        .orderBy("nrev", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = p.withColumn("cum_local", F.sum("rev").over(w_local))
    # r13: bucket totals come straight from p (the window adds columns,
    # never changes rev), so the cum_local window executes exactly once
    # — in the final join — instead of once per totals consumer.
    totals = p.groupBy("bk").agg(F.sum("rev").alias("p_total"))
    w_off = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("bk", "offset")
    # grand total = sum of the <=32 bucket totals (reuses the totals
    # rollup instead of re-aggregating the part-cardinality relation)
    tot_row = totals.agg(F.sum("p_total").cast("bigint").alias("tot"))  # 1 row
    ranked = (
        local.join(F.broadcast(offsets), "bk")
        .crossJoin(F.broadcast(tot_row))
        .select(
            "l_partkey",
            "rev",
            "sq",
            "sqq",
            "M",
            (F.col("cum_local") + F.col("offset")).alias("cum"),
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


# --- GROUP BY ALL / ORDER BY ALL -------------------------------------------------

# ONE SQL text, two engines: the modern resolve-from-SELECT-list
# shorthand.  Columns and aggregates aliased once, shared verbatim;
# `{orders}` is bound to a DataFrame on the Spark side and to the view
# name in the oracle, so no session-global view is rebound.
_GROUP_BY_ALL_TEXT = """
SELECT o_orderpriority AS priority,
       o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM {orders}
GROUP BY ALL
ORDER BY ALL
"""
_GROUP_BY_ALL_SQL = _GROUP_BY_ALL_TEXT.format(orders="orders")


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL, the exact oracle text run through
    Spark SQL — surface parity demonstrated by sharing one string."""
    return spark.sql(_GROUP_BY_ALL_TEXT, orders=load_table(spark, sf_dir, "orders"))


QUERIES = {
    "li_abc_xyz_matrix": li_abc_xyz_matrix,
    "sql_group_by_all": sql_group_by_all,
}

ORACLES = {
    "li_abc_xyz_matrix": _ABC_XYZ_SQL,
    "sql_group_by_all": _GROUP_BY_ALL_SQL,
}
