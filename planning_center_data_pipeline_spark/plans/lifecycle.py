"""Table-lifecycle queries: `cdc_` and `scd2_` (change capture and slowly
changing dimensions), `inc_` (incremental merges), `bloom_` (Bloom-filter
pruning), `compaction_` and `zorder_` (file layout) and `hist_`
(histograms)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- bloom-filter join pruning ----------------------------------------------
# Explicit pre-shuffle pruning (operators/prune.py): a 32 KiB bitmap
# built from the negative-balance customers filters the orders scan
# down to probable matches BEFORE any join shuffle.  Deterministic
# (xxhash64 positions) but with no DuckDB twin — rows-only check here;
# the superset/no-false-negative invariants are pytest-verified.

def bloom_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from planning_center_data_pipeline_spark.operators.prune import bloom_prune

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    pruned = bloom_prune(o, c, "o_custkey", "c_custkey")
    exact = o.join(
        c.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    )
    return pruned.agg(F.count(F.lit(1)).alias("n_bloom_pass")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
    ).crossJoin(o.agg(F.count(F.lit(1)).alias("n_total")))


def _xxh64_bloom_sql() -> str:
    """DuckDB oracle for bloom_prune_orders (round-7 VERDICT item 6:
    oracle-ize the bitmap query).  Spark's bloom positions come from
    xxhash64(seed_int, key_long) — FIXED-WIDTH inputs, so XXH64
    collapses to a closed-form arithmetic chain (no byte loop); this
    re-derives the identical signed-64 hash in DuckDB with HUGEINT
    wrap-around macros, so the oracle reproduces the exact bitmap —
    including its false positives — and the driver hash-gates the
    whole prune, not just a row count.  The int-path seed constants
    hashInt(seed, 42) are folded here at generation time; only the
    long path runs in SQL.  Pinned bit-equal to Spark's xxhash64 on
    both int and long paths in tests/test_xxh64_sql.py."""
    from planning_center_data_pipeline_spark.functions.xxh64_sql import (
        M64,
        P1,
        P2,
        P3,
        P4,
        P5,
        T,
        hash_int,
        mul64,
        rotl_sql,
    )
    from planning_center_data_pipeline_spark.operators.prune import (
        DEFAULT_BITS,
        DEFAULT_K,
    )

    p1, p2, p3, p4, p5, m64, t = P1, P2, P3, P4, P5, M64, T
    seeds = [hash_int(s, 42) for s in range(DEFAULT_K)]
    seed_rows = ",".join(f"({s}::HUGEINT)" for s in seeds)
    return f"""
WITH dk AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal < 0
  UNION
  SELECT DISTINCT o_custkey FROM orders
), ks AS (
  SELECT k, ((k::HUGEINT % {t}) + {t}) % {t} AS u, ss
  FROM dk CROSS JOIN (VALUES {seed_rows}) s(ss)
), s1 AS (
  SELECT k, ss, (ss + {(p5 + 8) & m64}::HUGEINT) % {t} AS h0,
         {mul64('u', p2)} AS t1
  FROM ks
), s2 AS (
  SELECT *, xor(h0, {mul64(rotl_sql('t1', 31), p1)}) AS h1 FROM s1
), s3 AS (
  SELECT *, ({mul64(rotl_sql('h1', 27), p1)} + {p4}::HUGEINT) % {t} AS h2
  FROM s2
), s4 AS (
  SELECT *, {mul64("xor(h2, (h2 >> 33))", p2)} AS f2 FROM s3
), s5 AS (
  SELECT *, {mul64("xor(f2, (f2 >> 29))", p3)} AS f4 FROM s4
), pos AS (
  SELECT k, xor(f4, (f4 >> 32)) % {DEFAULT_BITS} AS p FROM s5
), bset AS (
  SELECT DISTINCT p FROM pos
  WHERE k IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
), okpass AS (
  SELECT k FROM pos GROUP BY k
  HAVING SUM(CASE WHEN p IN (SELECT p FROM bset) THEN 1 ELSE 0 END)
         = {DEFAULT_K}
)
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM okpass))
    AS n_bloom_pass,
  (SELECT COUNT(*) FROM orders
   WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0))
    AS n_exact,
  (SELECT COUNT(*) FROM orders) AS n_total
"""


# --- CDC apply / SCD1 merge --------------------------------------------------
# The batch MERGE INTO pattern: a base snapshot (state as of a cutoff)
# plus a changelog of upserts/deletes keyed by (user, seq) collapses to
# final state with ONE window pass per side and ONE full-outer join on
# the key — no driver loop, no per-row lookups.  At 100 TB the join
# shuffles on user_id only; with both sides bucketed by user_id it is
# shuffle-free.  Deletes drop the key; late rows for unseen keys insert.

_CUTOFF = "2024-01-15 00:00:00"


def cdc_scd1_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .withColumn("tus", epoch_us("ts"))
        .withColumn("val_cents", F.coalesce(cents("value"), F.lit(0)))
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp_ntz")
    w = Window.partitionBy("user_id").orderBy(F.desc("tus"), F.desc("event_id"))

    base = (
        e.filter(F.col("ts") < cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("val_cents").alias("base_cents"))
    )
    chg = (
        e.filter(F.col("ts") >= cutoff)
        .withColumn("op", F.when(F.col("event_type") == "error", "D").otherwise("U"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "op", F.col("val_cents").alias("chg_cents"))
    )
    merged = base.join(chg, "user_id", "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") == "U"))
        .select(
            "user_id",
            F.coalesce("chg_cents", "base_cents").alias("final_cents"),
            F.when(F.col("op").isNull(), "carried")
            .when(F.col("base_cents").isNull(), "inserted")
            .otherwise("updated")
            .alias("src"),
        )
        .orderBy("user_id")
    )


CDC_SCD1_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         COALESCE(CAST(ROUND(value*100) AS BIGINT), 0) AS val_cents
  FROM events
), base AS (
  SELECT user_id, val_cents AS base_cents
  FROM (SELECT user_id, val_cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts < TIMESTAMP '{_CUTOFF}')
  WHERE rn = 1
), chg AS (
  SELECT user_id, op, val_cents AS chg_cents
  FROM (SELECT user_id, val_cents,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE ts >= TIMESTAMP '{_CUTOFF}')
  WHERE rn = 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       COALESCE(c.chg_cents, b.base_cents) AS final_cents,
       CASE WHEN c.op IS NULL THEN 'carried'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS src
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
WHERE c.op IS NULL OR c.op = 'U'
ORDER BY user_id
"""


# --- compaction / file-layout planner ----------------------------------------
# The small-files problem at 100 TB: partitioned tables accumulate
# per-partition row counts that imply too many (or too few) files for
# the target file size.  This plans the rewrite: per partition, actual
# rows vs target files (ceil(rows/target)), plus a skew ratio against
# the mean partition size — the inputs to a repartition(n) compaction
# job and to AQE-style skew diagnosis.  Scan-only: one aggregate, one
# broadcast of the 1-row global mean.

_TARGET_ROWS_PER_FILE = 50_000


def compaction_plan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    parts = o.groupBy(
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    mean = parts.agg(F.avg("n_rows").alias("mean_rows"))
    return (
        parts.crossJoin(F.broadcast(mean))
        .select(
            "o_orderstatus",
            "month",
            "n_rows",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_rows") / _TARGET_ROWS_PER_FILE),
            ).cast("long").alias("target_files"),
            F.round(F.col("n_rows") / F.col("mean_rows"), 6).alias("skew_ratio"),
        )
        .orderBy("o_orderstatus", "month")
    )


COMPACTION_PLAN_SQL = f"""
WITH parts AS (
  SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS month,
         COUNT(*) AS n_rows
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, month, n_rows,
       GREATEST(1, CAST(ceil(CAST(n_rows AS DOUBLE) / {_TARGET_ROWS_PER_FILE})
                        AS BIGINT)) AS target_files,
       ROUND(CAST(n_rows AS DOUBLE) / (SELECT AVG(n_rows) FROM parts), 6)
         AS skew_ratio
FROM parts
ORDER BY o_orderstatus, month
"""


# --- exact fixed-width histogram --------------------------------------------
# Histogram of order totals with fixed cut points, computed entirely in
# scaled-int cents: bucket = clamp(cents // width, 0, 19).  Scan-only
# (single aggregation, no sort until the final 20-row orderBy) — the
# 100 TB-safe alternative to ntile(), which needs a global sort.

_HIST_WIDTH_CENTS = 2_500_000  # $25,000 per bucket

_HIST_BUCKETS = 20


def hist_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.greatest(
            F.floor(cents("o_totalprice") / _HIST_WIDTH_CENTS), F.lit(0)
        ),
        F.lit(_HIST_BUCKETS - 1),
    ).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(cents("o_totalprice")).alias("min_cents"),
            F.max(cents("o_totalprice")).alias("max_cents"),
        )
        .orderBy("bucket")
    )


HIST_ORDERS_SQL = f"""
SELECT LEAST(GREATEST(CAST(ROUND(o_totalprice*100) AS BIGINT)
                        // {_HIST_WIDTH_CENTS}, 0), {_HIST_BUCKETS - 1}) AS bucket,
       COUNT(*) AS n_orders,
       MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS min_cents,
       MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS max_cents
FROM orders
GROUP BY 1
ORDER BY bucket
"""


# --- incremental aggregate-state merge ---------------------------------------
# The incremental-view-maintenance pattern at 100 TB: nightly partials
# (day, sum, count — cheap, append-only) merge into period rollups
# without rescanning history, because integer sums and counts are
# associative/commutative mergeable state.  The query materializes the
# daily partials and derives the monthly rollup FROM THE PARTIALS; the
# oracle aggregates the base table directly — hash equality proves the
# two-level merge is exactly the one-level aggregate (which is also why
# the engine's money math uses scaled ints: float partials would drift
# by summation order).

def inc_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(
            F.sum(cents("value")).alias("day_cents"),
            F.count(F.lit(1)).alias("day_n"),
        )
    )
    return (
        daily.groupBy("month")
        .agg(
            F.sum("day_cents").alias("total_cents"),
            F.sum("day_n").alias("n_purchases"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .withColumn(
            "avg_cents",
            (F.col("total_cents") / F.col("n_purchases")).cast("long"),
        )
        .orderBy("month")
    )


INC_MERGE_SQL = """
SELECT strftime(ts, '%Y-%m') AS month,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_cents,
       COUNT(*) AS n_purchases,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) // COUNT(*) AS BIGINT)
         AS avg_cents
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY month
"""


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an event log: per
    customer, collapse the order stream into validity intervals of
    o_orderpriority — a row per change, with valid_from/valid_to and a
    current flag.  Two windows over the same (custkey, date, key)
    partitioning (change detection via lag on the full stream, then
    lead over the surviving change rows), so the data shuffles once
    and both windows run in the same sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ch = o.withColumn(
        "prev_prio", F.lag("o_orderpriority").over(w)
    ).filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    return (
        ch.withColumn("valid_to", F.lead("o_orderdate").over(w))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("custkey", "valid_from", "priority")
    )


SCD2_SQL = """
WITH ch AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev_prio
  FROM orders
), changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM ch
  WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
)
SELECT o_custkey AS custkey,
       o_orderpriority AS priority,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
FROM changes
ORDER BY custkey, valid_from, priority
"""


# --- z-order (Morton) layout manifest ---------------------------------------
# Interleave 8 bits of two filter dimensions (customer bucket, order
# day bucket) into a 16-bit Morton code, lay rows out in z order in
# fixed-size "files", and emit the per-file min/max manifest for both
# dims.  Under a linear layout a filter on the SECOND dim prunes
# nothing; under z order both dims stay range-clustered, so min/max
# stats skip most files for either predicate — this manifest is
# exactly what parquet row-group stats + partition pruning consume.
#
# The bit interleave is pure integer arithmetic ((x div 2^i) mod 2 —
# no engine-specific shift operators) so the DuckDB oracle runs the
# byte-identical formula.  File numbers come from a prefix sum over
# the <= 65536-row zcode rollup (see the comment in the function), so
# no stage sorts or ranks the fact rows on one task.

_ROWS_PER_FILE = 1000


def _morton16(bx: str, by: str) -> str:
    """SQL expression string interleaving 8 bits of bx (odd positions)
    and by (even positions) — portable across Spark and DuckDB."""
    terms = []
    for i in range(8):
        terms.append(f"(({bx} % {2 ** (i + 1)}) DIV {2 ** i}) * {2 ** (2 * i + 1)}")
        terms.append(f"(({by} % {2 ** (i + 1)}) DIV {2 ** i}) * {2 ** (2 * i)}")
    return " + ".join(terms)


# global window: prefix sum over the zcode rollup, <= 65536 rows (16-bit codes)
def zorder_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("odus", epoch_us("o_orderdate"))
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 256).alias("bx"),
            F.expr("(odus DIV 86400000000) % 256").alias("by"),
        )
    )
    z = o.withColumn("zcode", F.expr(_morton16("bx", "by")))
    # The manifest is computable WITHOUT ranking the fact rows at all:
    # bx and by are functionally determined by zcode (the code IS the
    # bit interleave), and within a zcode the z-order tie-break
    # (o_orderkey) cannot change any file's min/max/count.  So the
    # fact table contributes exactly ONE map-side-combinable groupBy —
    # the <=65536-row zcode frequency rollup — and everything after
    # runs on the rollup: an exclusive prefix sum over zcode gives
    # each code's global rank range [off, off+freq), and a sequence()
    # explode splits each range across the fixed-size file boundaries
    # it touches (a code spans at most freq/ROWS_PER_FILE + 1 files,
    # so explode output is <= 65536 + n_files rows — the manifest's
    # own output cardinality).  The only global-ordered stage is the
    # prefix-sum window over the rollup, bounded by the 16-bit code
    # space, never by fact rows.  The repartition before the explode
    # spreads the fan-out so a 100 TB manifest (n_files = N/1000) is
    # not materialized on the window's single task.
    zfreq = z.groupBy("zcode", "bx", "by").agg(F.count(F.lit(1)).alias("freq"))
    w_code = Window.orderBy("zcode").rowsBetween(Window.unboundedPreceding, -1)
    off = zfreq.withColumn(
        "off", F.coalesce(F.sum("freq").over(w_code), F.lit(0))
    ).repartition(32, "zcode")
    spans = off.withColumn(
        "file_id",
        F.explode(
            F.sequence(
                F.expr(f"off DIV {_ROWS_PER_FILE}"),
                F.expr(f"(off + freq - 1) DIV {_ROWS_PER_FILE}"),
            )
        ),
    )
    in_file = F.least(
        F.col("off") + F.col("freq"), (F.col("file_id") + 1) * _ROWS_PER_FILE
    ) - F.greatest(F.col("off"), F.col("file_id") * _ROWS_PER_FILE)
    return (
        spans.withColumn("rows_in_file", in_file)
        .groupBy("file_id")
        .agg(
            F.min("bx").cast("bigint").alias("min_bx"),
            F.max("bx").cast("bigint").alias("max_bx"),
            F.min("by").cast("bigint").alias("min_by"),
            F.max("by").cast("bigint").alias("max_by"),
            F.sum("rows_in_file").cast("bigint").alias("n_rows"),
        )
        .orderBy("file_id")
    )


def _zorder_sql() -> str:
    # DuckDB: integer division is //; DIV is not an operator there.
    morton = _morton16("bx", "by").replace(" DIV ", " // ")
    return f"""
WITH dims AS (
  SELECT o_orderkey,
         o_custkey % 256 AS bx,
         (epoch_us(o_orderdate) // 86400000000) % 256 AS by
  FROM orders
),
z AS (
  SELECT o_orderkey, bx, by, {morton} AS zcode FROM dims
),
numbered AS (
  SELECT bx, by,
         (ROW_NUMBER() OVER (ORDER BY zcode, o_orderkey) - 1) // {_ROWS_PER_FILE}
           AS file_id
  FROM z
)
SELECT file_id,
       CAST(MIN(bx) AS BIGINT) AS min_bx, CAST(MAX(bx) AS BIGINT) AS max_bx,
       CAST(MIN(by) AS BIGINT) AS min_by, CAST(MAX(by) AS BIGINT) AS max_by,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM numbered GROUP BY file_id ORDER BY file_id
"""


QUERIES = {
    "bloom_prune_orders": bloom_prune_orders,
    "cdc_scd1_apply": cdc_scd1_apply,
    "compaction_plan_orders": compaction_plan_orders,
    "hist_order_totals": hist_order_totals,
    "inc_merge_rollup": inc_merge_rollup,
    "scd2_customer_priority": scd2_customer_priority,
    "zorder_file_manifest": zorder_file_manifest,
}
ORACLES = {
    "bloom_prune_orders": _xxh64_bloom_sql(),
    "cdc_scd1_apply": CDC_SCD1_SQL,
    "compaction_plan_orders": COMPACTION_PLAN_SQL,
    "hist_order_totals": HIST_ORDERS_SQL,
    "inc_merge_rollup": INC_MERGE_SQL,
    "scd2_customer_priority": SCD2_SQL,
    "zorder_file_manifest": _zorder_sql(),
}
