"""Data-governance queries: `priv_` (k-anonymity, l-diversity,
t-closeness, differential privacy), `gdpr_` (purge audits), `dq_`
(data-quality rules), `data_` (profiling, skew and diff reports) and
`rel_` (referential integrity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents, sql_cents
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- correlation matrix ---------------------------------------------------------

_CORR_COLS = ("qty", "cents", "disc_bps", "tax_bps")


def data_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson r over four lineitem measures from ONE scan:
    per-column sums in int64, cross/squared products in DECIMAL(38,0)
    (cents^2 x rows passes int64 only through SF ~0.3), then each of
    the 6 pair correlations is a fixed double expression over exact
    aggregates, rounded to 1e-9."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("disc_bps"),
        F.round(F.col("l_tax") * 10000).cast("bigint").alias("tax_bps"),
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(c).cast("bigint").alias(f"s_{c}"))
    pairs = [
        (x, _CORR_COLS[j])
        for i, x in enumerate(_CORR_COLS)
        for j in range(i, len(_CORR_COLS))
    ]
    for x, y in pairs:
        aggs.append(
            F.sum(F.col(x).cast("decimal(38,0)") * F.col(y))
            .cast("decimal(38,0)")
            .alias(f"p_{x}_{y}")
        )
    m = li.agg(*aggs)  # 1 row
    # ONE aggregate feeds all 6 pairs (explode, not a 6-way union of
    # selects that would each re-scan the fact in the static plan)
    structs = []
    for x, y in pairs:
        if x == y:
            continue
        r = F.expr(
            f"ROUND((CAST(n AS DOUBLE) * CAST(p_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / (SQRT(CAST(n AS DOUBLE) * CAST(p_{x}_{x} AS DOUBLE)"
            f"          - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f"    * SQRT(CAST(n AS DOUBLE) * CAST(p_{y}_{y} AS DOUBLE)"
            f"           - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 9)"
        )
        structs.append(
            F.struct(
                F.lit(x).alias("col_x"), F.lit(y).alias("col_y"), r.alias("r")
            )
        )
    return (
        m.select(F.explode(F.array(*structs)).alias("e"))
        .select("e.col_x", "e.col_y", "e.r")
        .orderBy("col_x", "col_y")
    )


def _corr_sql() -> str:
    pairs = [
        (x, _CORR_COLS[j])
        for i, x in enumerate(_CORR_COLS)
        for j in range(i, len(_CORR_COLS))
    ]
    prods = ",\n         ".join(
        f"CAST(SUM(CAST({x} AS HUGEINT) * {y}) AS HUGEINT) AS p_{x}_{y}"
        for x, y in pairs
    )
    sums = ",\n         ".join(
        f"CAST(SUM({c}) AS BIGINT) AS s_{c}" for c in _CORR_COLS
    )
    sel = []
    for x, y in pairs:
        if x == y:
            continue
        sel.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y,"
            f" ROUND((CAST(n AS DOUBLE) * CAST(p_{x}_{y} AS DOUBLE)"
            f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
            f" / (SQRT(CAST(n AS DOUBLE) * CAST(p_{x}_{x} AS DOUBLE)"
            f"          - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE))"
            f"    * SQRT(CAST(n AS DOUBLE) * CAST(p_{y}_{y} AS DOUBLE)"
            f"           - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 9)"
            f" AS r FROM m"
        )
    union = "\nUNION ALL\n".join(sel)
    return f"""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(ROUND(l_discount * 10000) AS BIGINT) AS disc_bps,
         CAST(ROUND(l_tax * 10000) AS BIGINT) AS tax_bps
  FROM lineitem
), m AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sums},
         {prods}
  FROM li
)
{union}
ORDER BY col_x, col_y
"""


# --- data ops: snapshot diff report --------------------------------------------


def data_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table diff — the verification step of any backfill or
    migration: classify every order key as unchanged / changed /
    removed / added between the current snapshot and a simulated next
    one (derived deterministically: keys %101==0 deleted, %13==0
    repriced +1 cent, 100 fresh keys appended past max).

    Plan shape: ONE full-outer join on the key, per-row classification,
    a 4-group aggregate.  Value comparison is on exact cents — at
    100 TB this is the shape you run before swapping a table pointer;
    sample keys ride along (min per class) so a human can spot-check
    without a second scan."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cts")
    )
    mx = o.agg(F.max("o_orderkey").alias("mxk"))
    modified = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .withColumn(
            "cts",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("cts") + 1
            ).otherwise(F.col("cts")),
        )
    )
    added = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("i"), "mxk"
        )
        .select(
            (F.col("mxk") + F.col("i")).alias("o_orderkey"),
            (F.col("i") * 100).cast("bigint").alias("cts"),
        )
    )
    new = modified.unionAll(added)
    j = o.select(
        F.col("o_orderkey").alias("k"), F.col("cts").alias("old_cts")
    ).join(
        new.select(F.col("o_orderkey").alias("k"), F.col("cts").alias("new_cts")),
        "k",
        "full_outer",
    )
    cls = (
        F.when(F.col("old_cts").isNull(), F.lit("added"))
        .when(F.col("new_cts").isNull(), F.lit("removed"))
        .when(F.col("old_cts") != F.col("new_cts"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(cls.alias("change"), "k")
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("sample_key"),
        )
        .orderBy("change")
    )


DATA_DIFF_REPORT_SQL = f"""
WITH o AS (
  SELECT o_orderkey, {sql_cents("o_totalprice")} AS cts FROM orders
),
mx AS (SELECT MAX(o_orderkey) AS mxk FROM o),
nxt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN cts + 1 ELSE cts END AS cts
  FROM o WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT mx.mxk + g.i, CAST(g.i * 100 AS BIGINT)
  FROM mx, generate_series(1, 100) g(i)
),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         a.cts AS old_cts, b.cts AS new_cts
  FROM o a FULL OUTER JOIN nxt b ON a.o_orderkey = b.o_orderkey
)
SELECT CASE WHEN old_cts IS NULL THEN 'added'
            WHEN new_cts IS NULL THEN 'removed'
            WHEN old_cts <> new_cts THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*) AS n_rows,
       MIN(k) AS sample_key
FROM j GROUP BY 1 ORDER BY change
"""


# --- single-pass data profiler ---------------------------------------------------


def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profile of the orders table — rows, nulls,
    exact distinct count, and portable min/max representations
    (numerics as scaled-integer strings, dates as ISO days, strings
    raw) — computed in ONE scan: a single wide aggregate row unpivoted
    to one row per column.  This is the shape a 100 TB profiler must
    have; six per-column scans would read the table six times.

    Parallelism floor (r12, guide §2.5): the six count_distincts
    rewrite to an Expand(x7) + SortAggregate over 7-column keys; on a
    single-row-group scan that sort of 7x|rows| wide rows serialized
    on ONE core.  cpu_floor spreads the expand+partial-sort across the
    box; a no-op at real scale where the scan splits on its own.
    """
    o = cpu_floor(load_table(spark, sf_dir, "orders"), "o_orderkey")
    cents_tp = F.round(F.col("o_totalprice") * 100).cast("bigint")
    day = F.date_format("o_orderdate", "yyyy-MM-dd")
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        # o_orderkey
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("k_null"),
        F.count_distinct("o_orderkey").alias("k_dist"),
        F.min("o_orderkey").cast("string").alias("k_min"),
        F.max("o_orderkey").cast("string").alias("k_max"),
        # o_custkey
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("c_null"),
        F.count_distinct("o_custkey").alias("c_dist"),
        F.min("o_custkey").cast("string").alias("c_min"),
        F.max("o_custkey").cast("string").alias("c_max"),
        # o_orderstatus
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("s_null"),
        F.count_distinct("o_orderstatus").alias("s_dist"),
        F.min("o_orderstatus").alias("s_min"),
        F.max("o_orderstatus").alias("s_max"),
        # o_totalprice (cents representation)
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("t_null"),
        F.count_distinct(cents_tp).alias("t_dist"),
        F.min(cents_tp).cast("string").alias("t_min"),
        F.max(cents_tp).cast("string").alias("t_max"),
        # o_orderdate (ISO day)
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("d_null"),
        F.count_distinct(day).alias("d_dist"),
        F.min(day).alias("d_min"),
        F.max(day).alias("d_max"),
        # o_orderpriority
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias("p_null"),
        F.count_distinct("o_orderpriority").alias("p_dist"),
        F.min("o_orderpriority").alias("p_min"),
        F.max("o_orderpriority").alias("p_max"),
    )
    stacked = wide.select(
        "n",
        F.expr(
            "stack(6,"
            " 'o_orderkey', k_null, k_dist, k_min, k_max,"
            " 'o_custkey', c_null, c_dist, c_min, c_max,"
            " 'o_orderstatus', s_null, s_dist, s_min, s_max,"
            " 'o_totalprice_cents', t_null, t_dist, t_min, t_max,"
            " 'o_orderdate', d_null, d_dist, d_min, d_max,"
            " 'o_orderpriority', p_null, p_dist, p_min, p_max"
            ") AS (col_name, n_null, n_distinct, min_repr, max_repr)"
        ),
    )
    return stacked.select(
        "col_name", "n", "n_null", "n_distinct", "min_repr", "max_repr"
    ).orderBy("col_name")


DATA_PROFILE_ORDERS_SQL = """
WITH wide AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS k_null,
    COUNT(DISTINCT o_orderkey) AS k_dist,
    CAST(MIN(o_orderkey) AS VARCHAR) AS k_min,
    CAST(MAX(o_orderkey) AS VARCHAR) AS k_max,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS c_null,
    COUNT(DISTINCT o_custkey) AS c_dist,
    CAST(MIN(o_custkey) AS VARCHAR) AS c_min,
    CAST(MAX(o_custkey) AS VARCHAR) AS c_max,
    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS s_null,
    COUNT(DISTINCT o_orderstatus) AS s_dist,
    MIN(o_orderstatus) AS s_min,
    MAX(o_orderstatus) AS s_max,
    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS t_null,
    COUNT(DISTINCT CAST(ROUND(o_totalprice*100) AS BIGINT)) AS t_dist,
    CAST(MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS VARCHAR) AS t_min,
    CAST(MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS VARCHAR) AS t_max,
    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS d_null,
    COUNT(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS d_dist,
    MIN(strftime(o_orderdate, '%Y-%m-%d')) AS d_min,
    MAX(strftime(o_orderdate, '%Y-%m-%d')) AS d_max,
    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS p_null,
    COUNT(DISTINCT o_orderpriority) AS p_dist,
    MIN(o_orderpriority) AS p_min,
    MAX(o_orderpriority) AS p_max
  FROM orders
)
SELECT col_name, n, n_null, n_distinct, min_repr, max_repr FROM (
  SELECT 'o_orderkey' AS col_name, n, k_null AS n_null,
         k_dist AS n_distinct, k_min AS min_repr, k_max AS max_repr
  FROM wide
  UNION ALL SELECT 'o_custkey', n, c_null, c_dist, c_min, c_max FROM wide
  UNION ALL SELECT 'o_orderstatus', n, s_null, s_dist, s_min, s_max
  FROM wide
  UNION ALL SELECT 'o_totalprice_cents', n, t_null, t_dist, t_min, t_max
  FROM wide
  UNION ALL SELECT 'o_orderdate', n, d_null, d_dist, d_min, d_max FROM wide
  UNION ALL SELECT 'o_orderpriority', n, p_null, p_dist, p_min, p_max
  FROM wide
) ORDER BY col_name
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


# --- data-quality audit ------------------------------------------------------
# The reference validates one invariant (scraped count == API count,
# dags/tasks/webscraper.py:88-96).  This generalizes that into a
# constraint-audit report: row counts, PK uniqueness, null checks, FK
# orphans, and domain-range violations, emitted as DATA (a report the
# pipeline can gate on) rather than log lines.  Each check is a scan or
# an anti-join; Catalyst prunes each scan to the checked columns only.

def dq_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def one(table: str, check: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(table).alias("table_name"),
            F.lit(check).alias("check_name"),
            F.col("metric").cast("long"),
        )

    checks = [
        one("orders", "row_count", orders.agg(F.count(F.lit(1)).alias("metric"))),
        one(
            "orders",
            "null_custkey",
            orders.agg(
                F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("metric")
            ),
        ),
        one(
            "orders",
            "dup_pk",
            orders.agg(
                (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("metric")
            ),
        ),
        one(
            "orders",
            "orphan_custkey",
            orders.join(customer, orders["o_custkey"] == customer["c_custkey"],
                        "left_anti").agg(F.count(F.lit(1)).alias("metric")),
        ),
        one("customer", "row_count", customer.agg(F.count(F.lit(1)).alias("metric"))),
        one(
            "lineitem",
            "orphan_orderkey",
            lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"],
                          "left_anti").agg(F.count(F.lit(1)).alias("metric")),
        ),
        one(
            "lineitem",
            "bad_discount",
            lineitem.agg(
                F.count(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    )
                ).alias("metric")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("table_name", "check_name")


DQ_AUDIT_SQL = """
SELECT * FROM (
  SELECT 'orders' AS table_name, 'row_count' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS metric FROM orders
  UNION ALL
  SELECT 'orders', 'null_custkey',
         CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'dup_pk',
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'orphan_custkey', CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'customer', 'row_count', CAST(COUNT(*) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'lineitem', 'orphan_orderkey', CAST(COUNT(*) AS BIGINT)
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'lineitem', 'bad_discount',
         CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT)
  FROM lineitem
)
ORDER BY table_name, check_name
"""


# --- compliance: GDPR delete propagation --------------------------------------


def gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: given a deletion list
    (customers with custkey % 97 == 0, event users with user_id % 97
    == 0), report per table how many rows the purge removes vs keeps —
    the verification artifact a deletion job must emit before the
    actual rewrite.

    Plan shape: each count pair is one scan with a conditional
    aggregate; the lineitem cascade (delete follows orders of deleted
    customers) is a semi-join-shaped LEFT join against the deleted
    orderkeys, which AQE broadcasts when the delete list is small (the
    normal case).  Nothing collects; the audit is a 4-row union of
    1-row aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def _audit(df: DataFrame, cond, tbl: str) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("rows_purged"),
            F.sum(F.when(cond, 0).otherwise(1)).alias("rows_kept"),
        )

    del_cust = F.col("c_custkey") % 97 == 0
    del_ord = F.col("o_custkey") % 97 == 0
    purged_orders = orders.filter(del_ord).select("o_orderkey")
    li_marked = li.join(
        purged_orders.withColumn("purged", F.lit(1)),
        li.l_orderkey == purged_orders.o_orderkey,
        "left",
    )
    return (
        _audit(cust, del_cust, "customer")
        .unionAll(_audit(orders, del_ord, "orders"))
        .unionAll(_audit(li_marked, F.col("purged") == 1, "lineitem"))
        .unionAll(_audit(ev, F.col("user_id") % 97 == 0, "events"))
        .orderBy("tbl")
    )


GDPR_PURGE_AUDIT_SQL = """
SELECT tbl, rows_purged, rows_kept FROM (
  SELECT 'customer' AS tbl,
         CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rows_purged,
         CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS rows_kept
  FROM customer
  UNION ALL
  SELECT 'orders',
         CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem',
         CAST(SUM(CASE WHEN d THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN d THEN 0 ELSE 1 END) AS BIGINT)
  FROM (SELECT EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey
                         AND o.o_custkey % 97 = 0) AS d
        FROM lineitem l)
  UNION ALL
  SELECT 'events',
         CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT)
  FROM events
) ORDER BY tbl
"""


# --- deterministic-seed Laplace release ------------------------------------------

# Inverse-CDF Laplace noise with scale b = sensitivity/epsilon = 2.
# `u` must be a (0,1) uniform; the WHOLE expression is shared verbatim
# with the oracle so every IEEE op matches bit-for-bit.
_DP_NOISE_EXPR = (
    "ROUND(-2.0 * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)))"
)


def priv_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private style release of per-nation customer
    counts: Laplace(b = 1/0.5 = 2) noise via inverse CDF over a
    deterministic uniform seeded from md5(nation || '#dpseed') — the
    md5->uniform->inverse-CDF chain is the real mechanism shape; only
    the seed source would change in production (secure RNG), and both
    engines compute the identical release bit-for-bit.

    Shape: one customer rollup (partial-agg friendly), 25-row noise
    arithmetic after a broadcast nation join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    counts = (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    # 13 hex chars -> 52 bits: exactly representable in a double
    seeded = counts.select(
        F.col("n_name").alias("nation"),
        "true_count",
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.col("n_name"), F.lit("#dpseed"))), 1, 13),
                    16,
                    10,
                ).cast("bigint")
                .cast("double")
                + 0.5
            )
            / F.lit(float(1 << 52))
        ).alias("u"),
    )
    return (
        seeded.select(
            "nation",
            "true_count",
            F.expr(_DP_NOISE_EXPR).cast("bigint").alias("noise"),
        )
        .select(
            "nation",
            "true_count",
            "noise",
            (F.col("true_count") + F.col("noise")).cast("bigint").alias(
                "released"
            ),
        )
        .orderBy("nation")
    )


_DP_SQL = f"""
WITH counts AS (
  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), seeded AS (
  SELECT nation, true_count,
         (CAST(CAST('0x' || substr(md5(nation || '#dpseed'), 1, 13)
                    AS BIGINT) AS DOUBLE) + 0.5) / {float(1 << 52)!r} AS u
  FROM counts
)
SELECT nation, true_count,
       CAST({_DP_NOISE_EXPR} AS BIGINT) AS noise,
       CAST(true_count + CAST({_DP_NOISE_EXPR} AS BIGINT) AS BIGINT)
         AS released
FROM seeded ORDER BY nation
"""

_K_MIN = 5


# (level, band size in cents; None = attribute suppressed)
_LADDER = ((0, 1), (1, 10_000), (2, 100_000), (3, None))


def priv_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ladder over the quasi-identifier (nation, market
    segment, acctbal@level): per generalization level, the number of
    equivalence groups, the minimum group size (the k actually
    achieved), and the number of customers living in groups smaller
    than k = 5 (who would need suppression).  Monotone by
    construction: coarser levels can only merge groups.

    Shape: one groupBy per level over the customer table (4 bounded
    aggregates), then a 4-row summary — no joins."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    outs = []
    for level, band in _LADDER:
        qi = (
            F.lit(0).cast("bigint")
            if band is None
            else F.expr(f"(cents + 100000) DIV {band}").cast("bigint")
        )
        groups = c.groupBy(
            "c_nationkey", "c_mktsegment", qi.alias("qi")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
        outs.append(
            groups.agg(
                F.lit(level).cast("bigint").alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.min("sz").cast("bigint").alias("min_k"),
                F.sum(
                    F.when(F.col("sz") < _K_MIN, F.col("sz")).otherwise(0)
                )
                .cast("bigint")
                .alias("n_suppressed"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("level")


def _ladder_oracle() -> str:
    parts = []
    for level, band in _LADDER:
        qi = "CAST(0 AS BIGINT)" if band is None else f"(cents + 100000) // {band}"
        parts.append(f"""
SELECT CAST({level} AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(sz) AS BIGINT) AS min_k,
       CAST(SUM(CASE WHEN sz < {_K_MIN} THEN sz ELSE 0 END) AS BIGINT)
         AS n_suppressed
FROM (
  SELECT c_nationkey, c_mktsegment, {qi} AS qi,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM (SELECT c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer)
  GROUP BY 1, 2, 3
)""")
    return " UNION ALL ".join(parts) + " ORDER BY level"


# --- k-anonymity class-size audit --------------------------------------------

_KANON_K = 5


def priv_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account-balance band): the size histogram of
    equivalence classes, flagging classes smaller than k=5 — exactly
    the table a privacy review reads to decide whether a column set
    can be released.

    The balance band is an integer 1000-unit bucket over cents,
    shifted positive first so truncating division is sign-safe
    (Spark DIV and DuckDB // both truncate toward zero).

    Plan shape: two cheap groupBys (classes, then class sizes) — the
    first shuffles on the QI tuple, the second on an integer; nothing
    is collected and no window spans the whole table, so the audit
    runs unchanged over a 100 TB membership table.
    """
    c = load_table(spark, sf_dir, "customer")
    classes = (
        c.select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                f"(CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) DIV 100000"
            ).alias("band"),
        )
        .groupBy("nat", "seg", "band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return (
        classes.groupBy("class_size")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_people"),
        )
        .withColumn(
            "at_risk", (F.col("class_size") < _KANON_K).cast("int")
        )
        .orderBy("class_size")
    )


PRIV_K_ANONYMITY_SQL = f"""
WITH classes AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         (CAST(ROUND(c_acctbal*100) AS BIGINT) + 10000000) // 100000 AS band,
         COUNT(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT class_size, COUNT(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_people,
       CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END AS at_risk
FROM classes GROUP BY class_size ORDER BY class_size
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


# --- t-closeness --------------------------------------------------------------

_TC_BANDS = 10  # fixed acctbal bands: floor((cents + 100000) / 110000) in 0..9


def priv_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness of the customer table with nation as the
    quasi-identifier group and the account-balance band (10 fixed
    1100-dollar bands over [-1000, 10000)) as the ordered sensitive
    attribute: t = EMD(group dist, global dist) computed by the
    ordered-attribute formula (Li, Li & Venkatasubramanian, ICDE 2007)
    = sum_i |cumQ_i - cumP_i| / (m - 1).

    Exactness: |cq_i/n_g - cp_i/N| is cleared to the integer
    |cq_i * N - cp_i * n_g|; the sum of those is exact int64 (safe to
    ~SF 1000: n_g * N * m < 2^63), and only the final normalization
    divides.  One groupBy + a bands-sized window — no joins against
    fact tables."""
    c = load_table(spark, sf_dir, "customer")
    band = F.least(
        F.lit(_TC_BANDS - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.round(F.col("c_acctbal") * 100).cast("bigint") + 100_000)
                / 110_000
            ).cast("int"),
        ),
    )
    cells = c.groupBy(F.col("c_nationkey").alias("nk"), band.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # densify bands so cumulative distributions line up
    nations = cells.select("nk").distinct()
    spine = nations.crossJoin(
        F.broadcast(spark.range(_TC_BANDS).select(F.col("id").alias("b")))
    )
    dense = spine.join(cells, ["nk", "b"], "left").select(
        "nk", "b", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    wq = Window.partitionBy("nk").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    glob = dense.groupBy("b").agg(F.sum("cnt").alias("gcnt")).select(
        "b", F.sum("gcnt").over(wg).alias("cp")
    )
    n_all = c.agg(F.count(F.lit(1)).alias("n_all"))  # 1 row: N
    cum = (
        dense.select("nk", "b", F.sum("cnt").over(wq).alias("cq"))
        .join(F.broadcast(glob), "b")
        .crossJoin(F.broadcast(n_all))
    )
    n_g = Window.partitionBy("nk")
    scored = cum.withColumn("ng", F.max("cq").over(n_g)).filter(
        F.col("b") < _TC_BANDS - 1  # last cum term is always 0
    ).select(
        "nk",
        "n_all",
        "ng",
        F.abs(F.col("cq") * F.col("n_all") - F.col("cp") * F.col("ng")).alias("num"),
    )
    return (
        scored.groupBy("nk", "n_all")
        .agg(
            F.max("ng").cast("bigint").alias("n_group"),
            F.sum("num").cast("bigint").alias("num_sum"),
        )
        .select(
            F.col("nk").cast("bigint").alias("nationkey"),
            "n_group",
            (
                F.col("num_sum").cast("double")
                / (
                    F.col("n_group").cast("double")
                    * F.col("n_all").cast("double")
                    * float(_TC_BANDS - 1)
                )
            ).alias("t_closeness"),
        )
        .orderBy("nationkey")
    )


_TCLOSE_SQL = f"""
WITH banded AS (
  SELECT c_nationkey AS nk,
         LEAST({_TC_BANDS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000)
                      / 110000) AS INT))) AS b
  FROM customer
), cells AS (
  SELECT nk, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM banded GROUP BY 1, 2
), spine AS (
  SELECT nk, d.b
  FROM (SELECT DISTINCT nk FROM cells)
  CROSS JOIN (SELECT unnest(generate_series(0, {_TC_BANDS - 1})) AS b) d
), dense AS (
  SELECT s.nk, s.b, COALESCE(c.cnt, 0) AS cnt
  FROM spine s LEFT JOIN cells c ON s.nk = c.nk AND s.b = c.b
), cum AS (
  SELECT nk, b,
         SUM(cnt) OVER (PARTITION BY nk ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS cq
  FROM dense
), gcum AS (
  SELECT b, SUM(cq) AS cp FROM cum GROUP BY b
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM customer
), scored AS (
  SELECT nk,
         MAX(cq) OVER (PARTITION BY nk) AS ng,
         ABS(cq * (SELECT N FROM tot) - cp * MAX(cq) OVER (PARTITION BY nk))
           AS num,
         b
  FROM cum JOIN gcum USING (b)
)
SELECT CAST(nk AS BIGINT) AS nationkey,
       CAST(MAX(ng) AS BIGINT) AS n_group,
       CAST(SUM(CASE WHEN b < {_TC_BANDS - 1} THEN num ELSE 0 END) AS DOUBLE)
         / (CAST(MAX(ng) AS DOUBLE) * CAST((SELECT N FROM tot) AS DOUBLE)
            * {float(_TC_BANDS - 1)}) AS t_closeness
FROM scored GROUP BY nk ORDER BY nationkey
"""


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


QUERIES = {
    "data_corr_matrix": data_corr_matrix,
    "data_diff_report": data_diff_report,
    "data_profile_orders": data_profile_orders,
    "data_skew_report": data_skew_report,
    "dq_audit_report": dq_audit_report,
    "gdpr_purge_audit": gdpr_purge_audit,
    "priv_dp_noisy_counts": priv_dp_noisy_counts,
    "priv_generalization_ladder": priv_generalization_ladder,
    "priv_k_anonymity": priv_k_anonymity,
    "priv_l_diversity": priv_l_diversity,
    "priv_t_closeness": priv_t_closeness,
    "rel_integrity_audit": rel_integrity_audit,
}
ORACLES = {
    "data_corr_matrix": _corr_sql(),
    "data_diff_report": DATA_DIFF_REPORT_SQL,
    "data_profile_orders": DATA_PROFILE_ORDERS_SQL,
    "data_skew_report": DATA_SKEW_REPORT_SQL,
    "dq_audit_report": DQ_AUDIT_SQL,
    "gdpr_purge_audit": GDPR_PURGE_AUDIT_SQL,
    "priv_dp_noisy_counts": _DP_SQL,
    "priv_generalization_ladder": _ladder_oracle(),
    "priv_k_anonymity": PRIV_K_ANONYMITY_SQL,
    "priv_l_diversity": PRIV_L_DIVERSITY_SQL,
    "priv_t_closeness": _TCLOSE_SQL,
    "rel_integrity_audit": REL_INTEGRITY_AUDIT_SQL,
}
