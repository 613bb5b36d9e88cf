"""Join operators re-expressing the reference's implicit joins
(SURVEY.md §2.4 J1-J5) as explicit, scale-aware Spark plans.

The reference does these as per-row API calls and dict probes inside a
driver loop (the N+1 anti-pattern, /root/reference/dags/tasks/
planning_center.py:33-43); here each is one declarative join that
Catalyst can broadcast / reorder / push filters through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def attach_primary(
    base: DataFrame,
    detail: DataFrame,
    key: str,
    value_col: str,
    out_col: str,
    primary_col: str = "primary",
    order_by: list[Column] | None = None,
) -> DataFrame:
    """J2/J3: left-attach exactly one "primary" detail row per key,
    missing -> '' (the reference's empty-string null convention,
    planning_center.py:63-70).

    When `primary_col` exists we trust it but still dedupe to one row
    per key (row_number) — the reference implicitly takes data[0].
    `order_by` makes that deterministic.  Scale: the window shuffles the
    *detail* table once on `key`; the subsequent equi-join reuses that
    hash partitioning. The base table is never widened.
    """
    d = detail
    if primary_col in d.columns:
        d = d.filter(F.col(primary_col))
    order = order_by or [F.col(value_col)]
    w = Window.partitionBy(key).orderBy(*order)
    one = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key, F.col(value_col).alias(out_col))
    )
    joined = base.join(one, key, "left")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))


def validate_counts(
    actual: DataFrame,
    expected: DataFrame,
    key: str = "list_name",
    actual_col: str = "actual_count",
    expected_col: str = "expected_count",
) -> DataFrame:
    """J4: reconcile computed counts against an external oracle
    (webscraper.py:88-96). A key present in `actual` but absent from
    `expected` is invalid (reference returns False for unmatched names,
    :96). Output is a data product, not a log line:
    (key, actual_count, expected_count, valid).

    Scale: `expected` is tiny (scraped UI badges) — broadcast it."""
    return (
        actual.join(F.broadcast(expected), key, "left")
        .withColumn(
            "valid",
            F.coalesce(F.col(actual_col) == F.col(expected_col), F.lit(False)),
        )
        .select(key, actual_col, expected_col, "valid")
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual skew salting: the skewed side's hot keys
    are split across `n_salts` sub-partitions (salt derived
    deterministically from `salt_src`, any roughly-unique column), and
    the other side is replicated once per salt.  Result is identical to
    `skewed.join(other, key, how)`; the shuffle for a hot key now lands
    on n_salts reducers instead of one.

    AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers most
    cases at runtime; this operator is for the planned-ahead variant —
    e.g. a known always-hot tenant id — or engines/paths where AQE
    can't split (stream-static joins).
    """
    salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)).cast("int")
    )
    replicated = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return salted.join(replicated, [key, "__salt"], how).drop("__salt")


def semi_join_rename(
    df: DataFrame,
    mapping: DataFrame,
    key: str,
    mapped_col: str,
) -> DataFrame:
    """J5: keep rows whose key is in `mapping` and attach the mapped
    output name (csv_operations.py:17-19 — lists absent from
    CSV_fmt.json are silently dropped). Inner join to a broadcast
    mapping = semi-join + attach in one operator."""
    return df.join(F.broadcast(mapping), key, "inner").withColumnRenamed(
        mapped_col, mapped_col
    )


def gated_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast-hint `df` unless spark.planning_center.broadcastVocabulary
    is "false".  A forced broadcast does not degrade when its side
    outgrows the driver, it fails the query; this one switch lets every
    explicit hint in the plans fall back to the planner's own join
    choice at that scale without a code edit."""
    gate = df.sparkSession.conf.get(
        "spark.planning_center.broadcastVocabulary", "true"
    )
    return F.broadcast(df) if gate == "true" else df
