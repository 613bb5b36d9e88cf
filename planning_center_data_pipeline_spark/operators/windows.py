"""Window/sort/limit operators (SURVEY.md §2.6).

The reference's only window-shaped behavior is the Sheets range copy
(google_sheets.py:64-94): skip header rows, take a bounded slice, in
positional order. DataFrames have no positional order, so the engine
makes ordering explicit via a sort key.  `running_sums` is the one
global prefix sum the query plans share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_copy(
    df: DataFrame,
    order_by: list[Column | str],
    start_row: int,
    end_row: int,
    columns: list[str],
) -> DataFrame:
    """W1+P5: positional slice [start_row, end_row] (1-indexed,
    inclusive) of the first N columns, under an explicit total order —
    the engine equivalent of the sheet copyPaste of rows 2-500, cols
    A-E (google_sheets.py:76-87).

    Scale note: a global row_number needs a total order; Spark computes
    it with a single-partition window, fine for bounded presentation
    slices (<= thousands of rows) which is this operator's contract.
    For unbounded offset/limit at scale use key-range predicates
    instead (filter on the sort key), which stays fully parallel.
    """
    w = Window.orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") >= start_row) & (F.col("__rn") <= end_row))
        .select(*columns)
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-K per group — rank within each group and keep k rows.
    Shuffles once on the group key; per-group sort only (no global
    sort), so it scales to arbitrary group counts."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


_CUTS = 31  # percentile cuts -> at most 32 value buckets
# their quantiles as SQL double literals, one parse instead of a JVM
# call per literal at every build
_QUANTILES = ", ".join(f"{(i + 1) / (_CUTS + 1)}D" for i in range(_CUTS))


def running_sums(
    df: DataFrame,
    order: list[str],
    sums: list[str],
    bucket_value: str | None = None,
) -> DataFrame:
    """`df` plus `cum_<c>` for each column `c` of `sums`: the inclusive
    running sum of `c` over the ascending global order of the `order`
    columns (a rows frame, so rows tied on `order` still get distinct
    running sums; make `order` a total order when that matters).  A
    caller that needs descending order passes a negated key.

    Algorithm, a two-phase prefix sum with no single-partition window
    over the data:
    - 31 percentile cuts of `bucket_value` (a SQL expression over
      `df`'s columns; default: the first `order` column) are a 1-row
      aggregate, broadcast back;
    - a row's bucket is the number of cuts below its value,
      `size(filter(cuts, x -> value > x))`, so buckets follow the
      global order and rows tied on the value share a bucket;
    - each bucket runs its own running window;
    - the bucket totals are summed from the frame before that window,
      so the window runs once, and an exclusive running window over
      the <= 32 totals gives each bucket its offset;
    - the offsets join back as a broadcast.

    `bucket_value` must be a non-decreasing function of the order: the
    first `order` column or a quantization of it, such as `x DIV 1000`.
    The exact percentile buffer holds one entry per distinct value, and
    a quantized key bounds it.

    Determinism: a row's bucket depends only on its value and on the
    cuts, an exact percentile over the data, so the offsets subtree and
    the stream side agree on every row however often Catalyst executes
    the shared subtree.  A range-partition prefix sum
    (`repartitionByRange` plus `spark_partition_id()`) lacks this: the
    range sampler draws its boundaries again on each execution, and the
    result is right only while Catalyst reuses one range exchange for
    both sides.

    Plan shape: four shuffles, of which only the running window's (on
    the bucket) moves every row; the 1-row cuts aggregate and the
    bucket totals are partial aggregates, and the offsets window sees
    <= 32 rows on one partition.  Two broadcasts: the cuts row and the
    offsets."""
    value = bucket_value or f"`{order[0]}`"
    cuts = df.agg(F.expr(f"percentile({value}, array({_QUANTILES})) AS _cuts"))
    # a null value (and every value when the cuts are null) takes
    # bucket 0, first, as nulls sort first in ascending order
    n_below = f"size(filter(_cuts, x -> CAST({value} AS DOUBLE) > x))"
    bucket = F.expr(f"coalesce({n_below}, 0) AS _bk")
    bucketed = df.crossJoin(F.broadcast(cuts)).select(*df.columns, bucket)
    totals = bucketed.groupBy("_bk").agg(*[F.sum(c).alias(c) for c in sums])
    before = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bk",
        *[F.coalesce(F.sum(c).over(before), F.lit(0)).alias(f"_off_{c}") for c in sums],
    )
    upto = (
        Window.partitionBy("_bk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return bucketed.join(F.broadcast(offsets), "_bk").select(
        *df.columns,
        *[(F.sum(c).over(upto) + F.col(f"_off_{c}")).alias(f"cum_{c}") for c in sums],
    )
