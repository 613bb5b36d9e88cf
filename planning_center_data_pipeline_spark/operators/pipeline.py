"""The reference pipeline end-to-end, Spark-first (SURVEY.md §3 E2/E3).

Reference dataflow (planning_center_dag.py:52-60):
  scrape_validate -> pull_data -> make_csv -> upload_to_s3 / sheets

Engine dataflow — one lazy Catalyst plan instead of five Celery tasks
round-tripping through Postgres XCom:
  raw tables (lists, list_results, people, emails, phones)
    -> filter lists (P1) -> membership join (J1)
    -> primary email/phone attach (J2/J3)
    -> derive age/grade presentation columns (F1-F3)
    -> per-list counts (A1) + validation vs expected (J4)
    -> csv_fmt semi-join rename (J5) -> partitioned CSV sink (K1/K2)

The N+1 per-person HTTP fan-out (planning_center.py:33-43, 3 serial
round-trips per member) becomes two broadcast-able joins; at 100 TB
the same plan holds: people/emails/phones shuffle-join on person_id
(or co-locate via bucketing on person_id at write time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.derive import (
    calc_age,
    null_to_empty,
    stringify_grade,
)
from planning_center_data_pipeline_spark.operators.joins import (
    attach_primary,
    semi_join_rename,
    validate_counts,
)
from planning_center_data_pipeline_spark.operators.sinks import write_partitioned

PRESENTATION_COLUMNS = [
    "name",
    "primary_email",
    "primary_phone_number",
    "grade",
    "age",
]


def filter_lists(lists: DataFrame, needle: str = "Youth") -> DataFrame:
    """P1: substring filter on list names (planning_center.py:20). The
    same predicate gates the scrape side (webscraper.py:74-75) — one
    shared function so both sides can't drift."""
    return lists.filter(F.col("list_name").contains(needle))


def members_of(lists: DataFrame, list_results: DataFrame, people: DataFrame) -> DataFrame:
    """J1: membership edges joined to person documents — replaces the
    per-member point fetch (planning_center.py:33-35). `lists` is tiny
    (broadcast); people join shuffles on person_id."""
    return (
        list_results.join(F.broadcast(lists.select("list_id", "list_name")), "list_id")
        .join(people, "person_id")
    )


def build_people_presentation(
    lists: DataFrame,
    list_results: DataFrame,
    people: DataFrame,
    emails: DataFrame,
    phones: DataFrame,
    as_of: str,
    list_filter: str = "Youth",
) -> DataFrame:
    """Full extract+derive path: returns one DataFrame keyed by
    (person_list, person_id) with the 5 presentation columns of
    Person (dags/classes/Person.py:8-14), stringified per the
    reference's conventions and an explicit as_of date for
    reproducibility."""
    base = members_of(filter_lists(lists, list_filter), list_results, people)
    base = attach_primary(
        base, emails, "person_id", "address", "primary_email",
        order_by=[F.col("address")],
    )
    base = attach_primary(
        base, phones, "person_id", "national", "primary_phone_number",
        order_by=[F.col("national")],
    )
    as_of_col = F.to_date(F.lit(as_of))
    return base.select(
        "person_id",
        F.col("list_name").alias("person_list"),
        null_to_empty(F.col("name")).alias("name"),
        "primary_email",
        "primary_phone_number",
        stringify_grade(F.col("grade")).alias("grade"),
        calc_age(F.to_date(F.col("birthdate")), as_of_col).alias("age"),
    )


def list_counts(presentation: DataFrame) -> DataFrame:
    """A1: per-list membership counts (len(people_list[name]),
    planning_center.py:50). Partial aggregation map-side, one shuffle
    on person_list."""
    return presentation.groupBy(F.col("person_list").alias("list_name")).agg(
        F.count(F.lit(1)).alias("actual_count")
    )


def validate_pipeline(presentation: DataFrame, expected_counts: DataFrame) -> DataFrame:
    """J4 applied to the pipeline output."""
    return validate_counts(list_counts(presentation), expected_counts)


def render_csv_outputs(
    presentation: DataFrame,
    csv_fmt: DataFrame,
    out_dir: str,
) -> None:
    """J5 + K1/K2: keep only mapped lists, write one CSV per csv_name
    with the exact 5-column header/field order
    (csv_operations.py:10,20-24; s3_operations.py:11 key layout
    CSVs/{csv_name}.csv).

    Local/test sink writes `{out_dir}/csv_name=<name>/part-*.csv`; at
    scale the same `partitionBy` writes one S3 prefix per list
    (`s3a://bucket/CSVs/`), parallel across lists.  Rows are sorted by
    name within each file: the reference preserves arrival order (W2),
    which Spark does not guarantee — an explicit stable key replaces it
    (divergence documented in SURVEY.md §2.6).
    """
    mapped = semi_join_rename(
        presentation.withColumnRenamed("person_list", "list_name"),
        csv_fmt,
        "list_name",
        "csv_name",
    )
    write_partitioned(
        mapped.select("csv_name", *PRESENTATION_COLUMNS),
        out_dir,
        ["csv_name"],
        fmt="csv",
        sort_within=["name"],
    )
