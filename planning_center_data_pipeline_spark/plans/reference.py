"""Reference-pipeline semantics (SURVEY.md §2) re-expressed over the
driver test tables so the DuckDB oracle can check them.

Mapping (FIXTURES.md §B): `customer` stands in for people, `orders`
for the per-person detail tables (primary-attach J2/J3 shape), `nation`
for lists (count-validation J4), `region` for the csv_fmt mapping (J5).
The PCO-domain shapes themselves are unit-tested in
tests/test_pipeline.py over synthetic fixtures; these queries prove the
same operators against the oracle.

Reference provenance for each semantic is cited in the operator
library (operators/joins.py, operators/windows.py, functions/derive.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.derive import (
    calc_age,
    stringify_grade,
)
from planning_center_data_pipeline_spark.operators.joins import (
    attach_primary,
    validate_counts,
)
from planning_center_data_pipeline_spark.operators.windows import range_copy
from planning_center_data_pipeline_spark.sources.tables import load_table

AS_OF = "1997-06-15"


# --- ref_presentation: F1+F2+F3 + J2-shape primary attach -------------------
# Person presentation projection (Person.py:8-14 / csv_operations.py:10)
# with customer as "people": birthdate := first order date, primary
# contact := priority of the highest-value order, grade := nationkey%13
# (exercises the falsy-0 quirk for nationkey 0 and 13).

def ref_presentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    birth = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("birth_ts"))
    base = (
        c.join(birth, c.c_custkey == birth.o_custkey, "left")
        .drop("o_custkey")
        .withColumn("birthdate", F.col("birth_ts").cast("date"))
    )
    base = attach_primary(
        base,
        o.withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey",
        "o_orderpriority",
        "primary_contact",
        primary_col="__none__",
        order_by=[F.desc("o_totalprice"), F.desc("o_orderkey")],
    )
    return base.select(
        F.col("c_custkey").alias("person_id"),
        F.col("c_name").alias("name"),
        F.col("primary_contact"),
        stringify_grade(F.col("c_nationkey") % 13).alias("grade"),
        calc_age(F.col("birthdate"), F.to_date(F.lit(AS_OF))).alias("age"),
    ).orderBy("person_id")


REF_PRESENTATION_SQL = f"""
WITH birth AS (
  SELECT o_custkey, CAST(MIN(o_orderdate) AS DATE) AS birthdate
  FROM orders GROUP BY o_custkey
), prim AS (
  SELECT o_custkey, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT
  c_custkey AS person_id,
  c_name AS name,
  COALESCE(p.o_orderpriority, '') AS primary_contact,
  CASE WHEN (c_nationkey % 13) <> 0
       THEN 'Grade ' || CAST(c_nationkey % 13 AS VARCHAR) ELSE '' END AS grade,
  CASE WHEN b.birthdate IS NOT NULL THEN CAST(
      EXTRACT(year FROM DATE '{AS_OF}') - EXTRACT(year FROM b.birthdate)
      - CASE WHEN (EXTRACT(month FROM DATE '{AS_OF}'), EXTRACT(day FROM DATE '{AS_OF}'))
                  < (EXTRACT(month FROM b.birthdate), EXTRACT(day FROM b.birthdate))
             THEN 1 ELSE 0 END AS VARCHAR) || ' years'
       ELSE '' END AS age
FROM customer c
LEFT JOIN birth b ON c.c_custkey = b.o_custkey
LEFT JOIN (SELECT * FROM prim WHERE rn = 1) p ON c.c_custkey = p.o_custkey
ORDER BY person_id
"""


# --- ref_count_validation: A1 + J4 ------------------------------------------
# Per-"list" counts (customers per nation) reconciled against a derived
# expected table with deliberate mismatches (nationkey%7==0 off by one)
# and absences (nationkey>=20 missing -> invalid), matching the
# reference's unmatched-name -> False behavior (webscraper.py:96).

def ref_count_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    actual = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("actual_count"))
    )
    expected = (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("c_nationkey") < 20)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select(
            "n_name",
            (
                F.col("cnt")
                + F.when(F.col("c_nationkey") % 7 == 0, 1).otherwise(0)
            ).alias("expected_count"),
        )
    )
    return validate_counts(actual, expected, key="n_name").orderBy("n_name")


REF_COUNT_VALIDATION_SQL = """
WITH actual AS (
  SELECT n_name, n_nationkey, COUNT(*) AS actual_count
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, n_nationkey
), expected AS (
  SELECT n_name,
         COUNT(*) + CASE WHEN c_nationkey % 7 = 0 THEN 1 ELSE 0 END AS expected_count
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_nationkey < 20
  GROUP BY n_name, c_nationkey
)
SELECT a.n_name AS n_name, a.actual_count,
       e.expected_count,
       COALESCE(a.actual_count = e.expected_count, FALSE) AS valid
FROM actual a LEFT JOIN expected e ON a.n_name = e.n_name
ORDER BY n_name
"""


# --- ref_semijoin_rename: J5 ------------------------------------------------
# Keep only rows whose key appears in a small mapping and attach the
# mapped output name (csv_operations.py:17-19: lists absent from
# CSV_fmt.json are silently dropped).

def ref_semijoin_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    mapping = (
        r.filter(F.col("r_regionkey") < 3)
        .select("r_regionkey", F.lower(F.col("r_name")).alias("csv_name"))
    )
    return (
        n.join(F.broadcast(mapping), n.n_regionkey == mapping.r_regionkey)
        .select("n_name", "csv_name")
        .orderBy("n_name")
    )


REF_SEMIJOIN_RENAME_SQL = """
SELECT n_name, LOWER(r_name) AS csv_name
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE r_regionkey < 3
ORDER BY n_name
"""


# --- ref_range_copy: W1 + P5 ------------------------------------------------
# Positional slice rows 3..500 of the first 5 columns under an explicit
# total order — the sheet copyPaste (google_sheets.py:76-87).

# global window: reference lists are ~500 rows by their data contract
def ref_range_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return range_copy(
        o,
        order_by=[F.col("o_orderkey")],
        start_row=3,
        end_row=500,
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
        ],
    )


REF_RANGE_COPY_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders
) WHERE rn BETWEEN 3 AND 500
"""


QUERIES = {
    "ref_presentation": ref_presentation,
    "ref_count_validation": ref_count_validation,
    "ref_semijoin_rename": ref_semijoin_rename,
    "ref_range_copy": ref_range_copy,
}

ORACLES = {
    "ref_presentation": REF_PRESENTATION_SQL,
    "ref_count_validation": REF_COUNT_VALIDATION_SQL,
    "ref_semijoin_rename": REF_SEMIJOIN_RENAME_SQL,
    "ref_range_copy": REF_RANGE_COPY_SQL,
}
