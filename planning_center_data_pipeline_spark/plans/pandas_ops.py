"""Grouped and cogrouped Pandas operators (SURVEY.md §2.9's UDF wing):
`groupBy().applyInPandas` and `cogroup().applyInPandas` — the escape
hatch for per-group logic the built-in operators can't express, kept
honest by exact arithmetic so even the Python path hash-matches a SQL
oracle.

Scale notes: both operators shuffle once on the group key and hand each
group to a Python worker as Arrow batches. They are the slow path
(Python + per-group materialization) — used here deliberately as
showcases; the window-function twins in plans/analytic.py are the
production formulations.

Group-key granularity is THE constant at scale, in both directions:

- Too fine (the naive per-user key): every group is a separate
  Arrow round-trip + pandas call — measured 10-100x overhead vs the
  same arithmetic batched.  Both queries below therefore cogroup on a
  BUCKET of users (pmod(user_id, N_BUCKETS)) and vectorize across the
  users inside each bucket (`merge_asof(by=...)`,
  `groupby().transform`), which preserves per-user semantics exactly.
- Too coarse: a bucket must fit one worker's memory, so N_BUCKETS
  scales with corpus size (rows / N_BUCKETS bounded), and a single
  giant user still needs a salt + re-merge pre-split if group sizes
  are heavy-tailed.

Measured at sf1 (tools/timeq.py, 32-thread local, warm workers):
asof_cogrouped_pandas 15.5 s per-user-keyed -> 1.8 s bucketed, vs
1.5 s for the union+window expression primary
(plans/analytic.py asof_purchase_last_click); ev_user_share_pandas
9.2 s -> 1.9 s.  The Arrow/Python tax on this shape is ~1.2x once
dispatch is amortized, and the expression plan stays the production
path (one shuffle, no Python).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.functions.temporal import epoch_us
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- groupBy().applyInPandas: per-user share of total ------------------------

_SHARE_SCHEMA = (
    "user_id long, event_id long, cents long, user_total_cents long, share double"
)


N_BUCKETS = 64  # sized so rows/bucket fits a worker; scale with corpus

# Misuse ceiling (round-7 VERDICT item 8, the jw_micro_pairs
# contract): one cogroup bucket materializes BOTH sides in a single
# worker's pandas heap — if N_BUCKETS is left behind by corpus growth
# (or a skewed key floods one bucket), fail loudly at the kernel
# instead of OOMing an executor.
MAX_ROWS_PER_ASOF_BUCKET = 5_000_000


def ev_user_share_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's share of its user's total value, computed in pandas
    per USER BUCKET (pmod(user_id, N_BUCKETS)) with a vectorized
    per-user groupby().transform inside — identical per-user semantics,
    but N_BUCKETS Arrow dispatches instead of one per user (see module
    docstring).  The group total is an exact int64 sum, so the single
    float division matches the SQL window formulation bit-for-bit."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(N_BUCKETS)))
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.drop(columns=["bucket"])
        out["user_total_cents"] = out.groupby("user_id")["cents"].transform("sum")
        out["share"] = out["cents"].astype("float64") / out[
            "user_total_cents"
        ].astype("float64")
        return out

    return e.groupBy("bucket").applyInPandas(per_bucket, _SHARE_SCHEMA).orderBy(
        "event_id"
    )


EV_USER_SHARE_SQL = """
SELECT user_id, event_id, cents,
       CAST(SUM(cents) OVER (PARTITION BY user_id) AS BIGINT) AS user_total_cents,
       CAST(cents AS DOUBLE)/CAST(SUM(cents) OVER (PARTITION BY user_id) AS DOUBLE)
         AS share
FROM (
  SELECT user_id, event_id, CAST(ROUND(value*100) AS BIGINT) AS cents
  FROM events WHERE user_id % 10 = 0
)
ORDER BY event_id
"""


# --- cogroup().applyInPandas: as-of join via pandas merge_asof ---------------

_ASOF_SCHEMA = (
    "purchase_id long, user_id long, purchase_tus long, "
    "click_id long, click_tus long"
)


def asof_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click-before-purchase as-of join, implemented with
    cogrouped applyInPandas + one `pandas.merge_asof(by='user_id')` per
    USER BUCKET — functionally identical to the union+window
    formulation (same ASOF_SQL oracle), with per-user semantics
    enforced by merge_asof's `by` grouping instead of one Arrow
    dispatch per user (measured ratio in the module docstring).
    Tie semantics: a click at the purchase timestamp matches
    (allow_exact_matches), and among same-timestamp clicks the highest
    event_id wins — merge_asof takes the LAST in-order right row, and
    the click side is sorted (tus, click_id) — matching the window
    version's (tus, side, event_id) ordering."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .withColumn("tus", epoch_us("ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("tus")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("tus")
    )

    # captured by VALUE so the ceiling ships inside the pickled
    # closure (a module-global reference would re-resolve on the
    # worker and ignore driver-side overrides)
    cap = MAX_ROWS_PER_ASOF_BUCKET

    def merge(buys_pdf: pd.DataFrame, clicks_pdf: pd.DataFrame) -> pd.DataFrame:
        n_rows = len(buys_pdf) + len(clicks_pdf)
        if n_rows > cap:
            raise ValueError(
                f"asof_cogrouped_pandas: bucket holds {n_rows} rows "
                f"(> MAX_ROWS_PER_ASOF_BUCKET={cap}); "
                "raise N_BUCKETS so each cogroup fits a worker."
            )
        # Spark 4.1 prunes cogroup INPUT columns when the action does
        # not consume the UDF's output values (e.g. .count(): the
        # clicks side arrives as just ['click_id'] — the columns whose
        # names duplicate the buys side are dropped).  The kernel must
        # not crash on that: this query's output row count equals
        # len(buys) regardless of clicks, so a pruned side degrades to
        # the semantics the pruned plan actually needs.  Verified in
        # tests/test_kernel_guards.py (count() == len(collect())).
        if not {"user_id", "click_id", "tus"}.issubset(clicks_pdf.columns):
            clicks_pdf = pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "click_id": pd.Series(dtype="int64"),
                    "tus": pd.Series(dtype="int64"),
                }
            )
        if not {"user_id", "purchase_id", "tus"}.issubset(buys_pdf.columns):
            n = len(buys_pdf)
            none_col = lambda: pd.array([None] * n, dtype="Int64")  # noqa: E731
            return pd.DataFrame(
                {
                    "purchase_id": none_col(),
                    "user_id": none_col(),
                    "purchase_tus": none_col(),
                    "click_id": none_col(),
                    "click_tus": none_col(),
                }
            )
        if buys_pdf.empty:
            return pd.DataFrame(
                columns=[
                    "purchase_id",
                    "user_id",
                    "purchase_tus",
                    "click_id",
                    "click_tus",
                ]
            )
        # merge_asof(by=...) requires a GLOBAL sort on the `on` key;
        # per-user ordering falls out of the by-grouping
        b = buys_pdf.sort_values(["tus", "purchase_id"]).reset_index(drop=True)
        # empty-side check BEFORE sorting (sort_values on a pruned/
        # absent column raises KeyError)
        if clicks_pdf.empty:
            out = b.rename(columns={"tus": "purchase_tus"})
            out["click_id"] = pd.array([None] * len(out), dtype="Int64")
            out["click_tus"] = pd.array([None] * len(out), dtype="Int64")
            return out[
                ["purchase_id", "user_id", "purchase_tus", "click_id", "click_tus"]
            ]
        c = clicks_pdf.sort_values(["tus", "click_id"]).reset_index(drop=True)
        m = pd.merge_asof(
            b,
            c.rename(columns={"tus": "click_tus"})[
                ["user_id", "click_tus", "click_id"]
            ],
            left_on="tus",
            right_on="click_tus",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        )
        m = m.rename(columns={"tus": "purchase_tus"})
        m["click_id"] = m["click_id"].astype("Int64")
        m["click_tus"] = m["click_tus"].astype("Int64")
        return m[
            ["purchase_id", "user_id", "purchase_tus", "click_id", "click_tus"]
        ]

    bucket = F.pmod(F.col("user_id"), F.lit(N_BUCKETS)).alias("bucket")
    return (
        buys.groupBy(bucket)
        .cogroup(clicks.groupBy(bucket))
        .applyInPandas(merge, _ASOF_SCHEMA)
        .orderBy("purchase_id")
    )


QUERIES = {
    "ev_user_share_pandas": ev_user_share_pandas,
    "asof_cogrouped_pandas": asof_cogrouped_pandas,
}

# Same query shape as plans/analytic.ASOF_SQL, restricted to the same
# 1-in-10 user subset as the Spark side.
ASOF_SUBSET_SQL = """
WITH u AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side, event_id
  FROM events WHERE event_type IN ('click', 'purchase') AND user_id % 10 = 0
), r AS (
  SELECT *,
         LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_id,
         LAST_VALUE(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, side, event_id
                 ROWS UNBOUNDED PRECEDING) AS click_tus
  FROM u
)
SELECT event_id AS purchase_id, user_id, tus AS purchase_tus, click_id, click_tus
FROM r WHERE side = 1
ORDER BY purchase_id
"""

ORACLES = {
    "ev_user_share_pandas": EV_USER_SHARE_SQL,
    "asof_cogrouped_pandas": ASOF_SUBSET_SQL,
}


# --- grouped-AGGREGATE pandas UDF (Series -> scalar) ------------------------
# The third pandas-UDF shape next to applyInPandas (grouped map) and
# cogrouped map: a vectorized aggregate registered in groupBy().agg()
# beside built-ins.  Scale note: grouped-agg pandas UDFs get NO
# map-side partial aggregation — every row shuffles to its group's
# reducer and crosses into Python once per group.  Fine for
# moderate-cardinality groups / genuinely-custom math; for anything a
# built-in can express, the built-in wins (this query's twin is the
# pure-expression weighted mean it is hash-checked against).
# Exactness: int64 cent/weight products summed in numpy (associative,
# partition-order-free), ONE double division at the edge — the same
# discipline as the expression path, so results are bit-identical.

def ev_wavg_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg_cents(cents: pd.Series, w: pd.Series) -> float:
        c = cents.to_numpy(dtype=np.int64)
        ww = w.to_numpy(dtype=np.int64)
        tot = int((c * ww).sum())
        den = int(ww.sum())
        return float(tot) / float(den) / 100.0 if den else float("nan")

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("user_id") % 5 + 1).cast("bigint").alias("w"),
    )
    # Spark forbids mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg() — the count rides a separate tiny aggregate joined
    # on the group key (few-row join, broadcast by AQE).
    wavg = e.groupBy("event_type").agg(
        wavg_cents("cents", "w").alias("wavg_value")
    )
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return wavg.join(counts, "event_type").orderBy("event_type")


EV_WAVG_SQL = """
SELECT event_type,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * (user_id % 5 + 1)) AS DOUBLE)
         / CAST(SUM(user_id % 5 + 1) AS DOUBLE) / 100.0 AS wavg_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type ORDER BY event_type
"""

QUERIES["ev_wavg_grouped_pandas"] = ev_wavg_grouped_pandas
ORACLES["ev_wavg_grouped_pandas"] = EV_WAVG_SQL


# --- grouped-map ARROW UDF (applyInArrow) -----------------------------------
# Spark 4's pyarrow-native grouped map: the same exact int64 weighted
# mean as ev_wavg_grouped_pandas, but the group arrives as a
# pyarrow.Table and aggregates run in pyarrow.compute — no pandas
# conversion layer at all.  Same oracle, bit-identical output: the
# pandas / arrow / SQL triple pins the whole grouped-UDF surface.

def ev_wavg_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def wavg(tbl: "pa.Table") -> "pa.Table":
        cents = tbl["cents"]
        w = tbl["w"]
        tot = pc.sum(pc.multiply(cents, w)).as_py() or 0
        den = pc.sum(w).as_py() or 0
        val = float(tot) / float(den) / 100.0 if den else float("nan")
        return pa.table(
            {
                "event_type": [tbl["event_type"][0].as_py()],
                "wavg_value": pa.array([val], type=pa.float64()),
                "n_events": pa.array([tbl.num_rows], type=pa.int64()),
            }
        )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.col("user_id") % 5 + 1).cast("bigint").alias("w"),
    )
    return (
        e.groupBy("event_type")
        .applyInArrow(
            wavg, schema="event_type string, wavg_value double, n_events long"
        )
        .orderBy("event_type")
    )


QUERIES["ev_wavg_grouped_arrow"] = ev_wavg_grouped_arrow
ORACLES["ev_wavg_grouped_arrow"] = EV_WAVG_SQL
