"""Golden tests for the reference scalar semantics (SURVEY.md §5):
age edge cases (birthday today/tomorrow, Feb-29, null), grade falsy-0
quirk, null->'' convention."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.functions.derive import (
    calc_age,
    null_to_empty,
    stringify_grade,
)

Q = queries()


def _ages(spark, rows, as_of):
    df = spark.createDataFrame(rows, "birthdate string")
    return [
        r[0]
        for r in df.select(
            calc_age(F.to_date("birthdate"), F.to_date(F.lit(as_of)))
        ).collect()
    ]


def test_calc_age_basic(spark):
    # as_of 2024-06-15: born 2000-06-15 -> exactly 24 (birthday today);
    # born 2000-06-16 -> 23 (birthday tomorrow); born 2000-06-14 -> 24.
    out = _ages(
        spark,
        [("2000-06-15",), ("2000-06-16",), ("2000-06-14",), (None,)],
        "2024-06-15",
    )
    assert out == ["24 years", "23 years", "24 years", ""]


def test_calc_age_feb29(spark):
    # Reference tuple-compare semantics: (2,29) > (2,28) -> birthday
    # "not yet reached" on Feb 28 of a non-leap year; reached on Mar 1.
    out = _ages(spark, [("2000-02-29",), ("2000-02-29",)], "2025-02-28")
    assert out == ["24 years", "24 years"]
    out = _ages(spark, [("2000-02-29",)], "2025-03-01")
    assert out == ["25 years"]
    # On a leap year, Feb 29 birthday counts on the day itself.
    out = _ages(spark, [("2000-02-29",)], "2024-02-29")
    assert out == ["24 years"]


def test_stringify_grade_quirk(spark):
    df = spark.createDataFrame([(5,), (0,), (None,), (13,)], "grade int")
    out = [r[0] for r in df.select(stringify_grade(F.col("grade"))).collect()]
    # grade 0 -> '' (reference falsy-0 quirk, planning_center.py:81-82)
    assert out == ["Grade 5", "", "", "Grade 13"]


def test_null_to_empty(spark):
    df = spark.createDataFrame([("a@b.c",), (None,)], "email string")
    out = [r[0] for r in df.select(null_to_empty(F.col("email"))).collect()]
    assert out == ["a@b.c", ""]


def test_kll_rank_error(spark, sf_dir):
    """KLL sketch quantiles must sit within the documented rank-error
    bound (~1.7% at default k) of the exact percentiles."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    vals = sorted(r["value"] for r in e.select("value").collect())
    approx = Q["agg_kll_value_quantiles"](spark, sf_dir).collect()
    # pool all event types' values per type for exact comparison
    by_type = {}
    for r in e.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for row in approx:
        xs = sorted(by_type[row["event_type"]])
        n = len(xs)
        for q, col in [(0.25, "q25"), (0.5, "q50"), (0.75, "q75")]:
            got = row[col]
            # rank of the sketch answer in the exact data
            import bisect

            rank = bisect.bisect_left(xs, got) / n
            assert abs(rank - q) < 0.05, (row["event_type"], q, got, rank)
