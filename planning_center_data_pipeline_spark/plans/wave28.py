"""Round-7 wave 28: price-consistency audit (pricing governance).

Same part, same ISO week, different effective unit price — the
dispersion table a pricing-governance team reviews for leakage and
unauthorized discounting.  Exact integer unit prices (micro-cents per
unit), double only for the final dispersion ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.sources.tables import load_table


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


QUERIES = {"li_price_consistency_audit": li_price_consistency_audit}
ORACLES = {"li_price_consistency_audit": LI_PRICE_CONSISTENCY_SQL}
