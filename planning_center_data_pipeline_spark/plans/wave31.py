"""Round-8 wave 31: codec-in-plan for images, supply-chain service
levels, interval estimates, and key-space auditing.

- mm_png_roundtrip_agg: every document's md5 hex is rendered into a
  REAL 4x8 grayscale PNG (stdlib codec, per-doc filter type cycling
  through all five), decoded back, and checked against the oracle via
  pixel sums + sha256 — the image twin of ev_avro_roundtrip_agg.
- li_otif_by_month: order-level on-time-in-full (every line shipped
  within the 75-day SLA of the order date) per order month.
- stat_wilson_ci_returns: Wilson 95% score interval for the return
  rate per brand — the EXACT SAME expression text runs in both engines
  (z and z^2 injected as repr'd double literals), so every IEEE op
  matches bit-for-bit, sqrt included.
- ord_keyspace_density: per-4096-key-bucket missing-key audit over the
  deliberately sparse TPC-H orderkey space, rolled into a histogram —
  gap detection WITHOUT a global sort (the bucket rollup is one
  shuffle; no fact-sized single-partition window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- PNG round-trip as a query --------------------------------------------------


def mm_png_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-codec plumbing executed in-plan: md5(doc_id) hex (32 ASCII
    chars) becomes a 4x8 grayscale pixel grid, encoded to a real PNG
    (filter type doc_id % 5 — all five row filters exercised across the
    corpus), decoded back, and reduced to pixel_sum + sha256 of the
    decoded bytes.  The oracle recomputes both straight from the hex
    string (sum of 32 ord()s; sha256 of the text), so the query only
    hashes green if encode -> IDAT -> unfilter -> pixels is an exact
    identity on every row.

    Scale shape: per-row Arrow-batched map (no shuffle); output is one
    row per document."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_png,
    )

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )

    def run(batches):
        import hashlib

        import numpy as np

        for pdf in batches:
            sums, shas = [], []
            for doc_id, h in zip(pdf["doc_id"], pdf["h"]):
                px = np.frombuffer(h.encode("ascii"), dtype=np.uint8).reshape(
                    4, 8
                )
                png = encode_png(px, filter_type=int(doc_id) % 5)
                back = decode_media(png, "image/png")["pixels"][:, :, 0]
                assert back.shape == (4, 8)
                sums.append(int(back.astype(np.int64).sum()))
                shas.append(hashlib.sha256(back.tobytes()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pixel_sum": sums, "px_sha": shas}
            )

    return d.mapInPandas(
        run, "doc_id bigint, pixel_sum bigint, px_sha string"
    ).orderBy("doc_id")


_PNG_ORD_TERMS = " + ".join(f"ord(substr(h, {i}, 1))" for i in range(1, 33))

_PNG_ROUNDTRIP_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id,
       CAST({_PNG_ORD_TERMS} AS BIGINT) AS pixel_sum,
       sha256(h) AS px_sha
FROM d ORDER BY doc_id
"""


# --- on-time-in-full ------------------------------------------------------------


_OTIF_SLA_DAYS = 75


def li_otif_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTIF service level: an order counts as on-time-in-full when
    EVERY line shipped within the 75-day SLA of the order date (this
    dataset carries shipdate; receipt/commit variants are the same
    shape).  Monthly n_orders, n_otif, and the rate (one double
    division of exact counts).  Shape: line-level bool -> per-order
    min (one shuffle on orderkey, partial-agg friendly) -> month
    rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = (
        li.join(o.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.min(
                (
                    F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
                    <= _OTIF_SLA_DAYS
                ).cast("int")
            ).alias("otif")
        )
    )
    return (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("otif").cast("bigint").alias("n_otif"),
        )
        .select(
            "yr",
            "mo",
            "n_orders",
            "n_otif",
            (
                F.col("n_otif").cast("double") / F.col("n_orders").cast("double")
            ).alias("otif_rate"),
        )
        .orderBy("yr", "mo")
    )


_OTIF_SQL = f"""
WITH per_order AS (
  SELECT l_orderkey,
         MIN(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE))
                       <= {_OTIF_SLA_DAYS}
                  THEN 1 ELSE 0 END) AS otif
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey
)
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(otif) AS BIGINT) AS n_otif,
       CAST(SUM(otif) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS otif_rate
FROM orders JOIN per_order ON o_orderkey = l_orderkey
GROUP BY 1, 2 ORDER BY yr, mo
"""


# --- Wilson score interval ------------------------------------------------------

_Z = repr(1.96)  # '1.96': both strtods round to the same double
_Z2 = repr(1.96 * 1.96)  # the PRODUCT double, not the '3.8416' literal

# One expression text, two engines: every operator lands in the same
# order on the same doubles, and IEEE-754 +-*/sqrt are correctly
# rounded, so low/high match bit-for-bit.
_WILSON_EXPRS = {
    "p_hat": "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)",
    "wilson_low": (
        f"((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {_Z2} / (2.0 * n)"
        f" - {_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / n"
        f" + {_Z2} / (4.0 * n * n))) / (1.0 + {_Z2} / n)"
    ),
    "wilson_high": (
        f"((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) + {_Z2} / (2.0 * n)"
        f" + {_Z} * SQRT((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
        f" * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / n"
        f" + {_Z2} / (4.0 * n * n))) / (1.0 + {_Z2} / n)"
    ),
}


def stat_wilson_ci_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the line-return rate per brand —
    the interval estimate that stays inside [0, 1] where the normal
    approximation doesn't.  The entire interval formula is a SINGLE
    expression string shared verbatim with the DuckDB oracle (z and
    z^2 injected as repr'd doubles), making the float path bit-equal
    by construction.  One broadcast dim join + one group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    counts = (
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("l_returnflag") == "R").cast("bigint"))
            .cast("bigint")
            .alias("x"),
        )
    )
    return counts.select(
        "p_brand",
        "n",
        "x",
        F.expr(_WILSON_EXPRS["p_hat"]).alias("p_hat"),
        F.expr(_WILSON_EXPRS["wilson_low"]).alias("wilson_low"),
        F.expr(_WILSON_EXPRS["wilson_high"]).alias("wilson_high"),
    ).orderBy("p_brand")


_WILSON_SQL = f"""
WITH counts AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS x
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, x,
       {_WILSON_EXPRS["p_hat"]} AS p_hat,
       {_WILSON_EXPRS["wilson_low"]} AS wilson_low,
       {_WILSON_EXPRS["wilson_high"]} AS wilson_high
FROM counts ORDER BY p_brand
"""


# --- key-space density audit ----------------------------------------------------

_KEY_BUCKET = 4096


def ord_keyspace_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key audit over the (deliberately sparse) TPC-H orderkey
    space WITHOUT a global sort: bucket keys by orderkey DIV 4096,
    count present keys per bucket, and histogram the per-bucket
    density.  Detects sequence holes / allocation anomalies at any
    scale with two partial-agg shuffles — the scale-safe shape for a
    job a naive LAG-over-everything window would serialize onto one
    partition."""
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(F.expr(f"o_orderkey DIV {_KEY_BUCKET}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("present"))
    )
    return (
        per_bucket.groupBy("present")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.min("bucket").cast("bigint").alias("first_bucket"),
            F.max("bucket").cast("bigint").alias("last_bucket"),
        )
        .select(
            "present",
            "n_buckets",
            "first_bucket",
            "last_bucket",
            (F.col("present").cast("double") / float(_KEY_BUCKET)).alias(
                "density"
            ),
        )
        .orderBy("present")
    )


_KEYSPACE_SQL = f"""
WITH per_bucket AS (
  SELECT o_orderkey // {_KEY_BUCKET} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS present
  FROM orders GROUP BY 1
)
SELECT present,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MIN(bucket) AS BIGINT) AS first_bucket,
       CAST(MAX(bucket) AS BIGINT) AS last_bucket,
       CAST(present AS DOUBLE) / {float(_KEY_BUCKET)} AS density
FROM per_bucket GROUP BY present ORDER BY present
"""


QUERIES = {
    "mm_png_roundtrip_agg": mm_png_roundtrip_agg,
    "li_otif_by_month": li_otif_by_month,
    "stat_wilson_ci_returns": stat_wilson_ci_returns,
    "ord_keyspace_density": ord_keyspace_density,
}

ORACLES = {
    "mm_png_roundtrip_agg": _PNG_ROUNDTRIP_SQL,
    "li_otif_by_month": _OTIF_SQL,
    "stat_wilson_ci_returns": _WILSON_SQL,
    "ord_keyspace_density": _KEYSPACE_SQL,
}
