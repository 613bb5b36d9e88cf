"""Round-9 wave 41: JPEG codec-in-plan, rank statistics without global
windows, lexical richness, and confusion-matrix metrics.

- mm_jpeg_roundtrip_agg: md5(doc_id) drives four flat 8x8 blocks of a
  16x16 grayscale image that is encoded to a REAL baseline JPEG
  (Annex K tables, quality 50) and decoded back in-plan; flat even
  pixel values survive DCT -> quantize -> Huffman -> decode exactly, so
  the oracle recomputes both aggregates closed-form from the hex chars.
- stat_kruskal_wallis: H statistic (with tie correction) for
  l_quantity across the three return flags.  l_quantity has 50
  distinct integer values, so midranks come from a 50-row value
  rollup broadcast back — NO fact-sized global rank window; rank sums
  stay exact in DECIMAL(38,0)/HUGEINT.
- doc_hapax_ratio: per-source vocabulary size, hapax count (words seen
  exactly once in that source), and hapax share — the classic lexical
  richness signal for corpus quality monitoring.
- ml_mcc_confusion: per-year Matthews correlation of the cheap
  urgency heuristic (totalprice > 150k) against the actual
  urgent/high priority label, integer cross-products in DECIMAL(38,0)
  with one final sqrt.

Reference parity: the reference pipeline (JarrodWade/
planning-center-data-pipeline, dags/pco_pipeline.py) has no analytics
surface; these extend the engine's corpus/stats families under the
same oracle discipline as waves 29-40.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


# --- JPEG round-trip as a query -------------------------------------------------

# Position-weight sums per 8x8 block of the 16x16 image (row-major
# weight = 16*y + x + 1): blocks at (0,0), (0,8), (8,0), (8,8).
_JPEG_BLOCK_W = (3872, 4384, 12064, 12576)


def mm_jpeg_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG codec plumbing executed in-plan: md5(doc_id) hex chars 1-8
    become four EVEN gray levels v_k = (ord(c_{2k-1}) * ord(c_{2k}))
    % 128 * 2, laid out as four flat 8x8 blocks of a 16x16 image,
    encoded to a real baseline JPEG (standard Annex K quant + Huffman
    tables, quality 50) and decoded back.  Flat blocks of even value
    round-trip EXACTLY (DC = 8*(v-128) quantized by 16 is lossless for
    even v; all AC vanish), so pixel_sum = 64*sum(v_k) and the
    position-weighted sum pins the block LAYOUT (DC prediction order,
    zigzag, scan direction) — any codec error breaks the hash.

    Scale shape: per-row Arrow-batched map; one row per document.  The
    codec is CPU-dense per row, so the input is lifted to the
    cpu_floor (guide §2.5/§4): a single-file scan would otherwise run
    every codec invocation on one core."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_jpeg_gray,
    )
    from planning_center_data_pipeline_spark.operators.parallelism import (
        cpu_floor,
    )

    # Floor capped at 16 (r12): each partition of an Arrow-Python map
    # costs a Python worker spawn when the pool has gone idle (Spark
    # reaps idle workers between bench passes) — A/B'd idle-cold at
    # sf0.1: floor 32 cold 4.8 s vs floor 8-16 cold 2.5-2.9 s, warm
    # within noise.  16 ways still clears the ~2 s serial codec wall.
    d = cpu_floor(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        ),
        "doc_id",
        cap=16,
    )

    def run(batches):
        import numpy as np

        for pdf in batches:
            sums, wsums = [], []
            for h in pdf["h"]:
                v = [
                    (ord(h[2 * k]) * ord(h[2 * k + 1])) % 128 * 2
                    for k in range(4)
                ]
                img = np.empty((16, 16), dtype=np.uint8)
                img[:8, :8] = v[0]
                img[:8, 8:] = v[1]
                img[8:, :8] = v[2]
                img[8:, 8:] = v[3]
                back = decode_media(
                    encode_jpeg_gray(img, quality=50), "image/jpeg"
                )["pixels"][:, :, 0]
                assert back.shape == (16, 16)
                flat = back.astype(np.int64).ravel()
                sums.append(int(flat.sum()))
                wsums.append(int((flat * (np.arange(256) + 1)).sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pixel_sum": sums, "px_weighted": wsums}
            )

    return d.mapInPandas(
        run, "doc_id bigint, pixel_sum bigint, px_weighted bigint"
    ).orderBy("doc_id")


def _jpeg_v(k: int) -> str:
    c1, c2 = 2 * k + 1, 2 * k + 2
    return (
        f"(ord(substr(h, {c1}, 1)) * ord(substr(h, {c2}, 1))) % 128 * 2"
    )


_JPEG_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), v AS (
  SELECT doc_id,
         {_jpeg_v(0)} AS v1, {_jpeg_v(1)} AS v2,
         {_jpeg_v(2)} AS v3, {_jpeg_v(3)} AS v4
  FROM d
)
SELECT doc_id,
       CAST(64 * (v1 + v2 + v3 + v4) AS BIGINT) AS pixel_sum,
       CAST({_JPEG_BLOCK_W[0]} * v1 + {_JPEG_BLOCK_W[1]} * v2
            + {_JPEG_BLOCK_W[2]} * v3 + {_JPEG_BLOCK_W[3]} * v4 AS BIGINT)
         AS px_weighted
FROM v ORDER BY doc_id
"""


# --- Kruskal-Wallis without a global rank window --------------------------------


def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H for l_quantity across the three l_returnflag
    groups, tie-corrected.  l_quantity takes 50 integer values, so the
    midrank of value q is a closed form over the 50-row per-value
    rollup: midrank(q) = cnt_less(q) + (cnt_eq(q) + 1) / 2.  Doubled
    midranks (r2 = 2*cnt_less + cnt_eq + 1) stay integer; per-group
    doubled rank sums R2_g come from joining the 50-row rank table back
    to the 150-cell (flag, quantity) rollup — every fact-sized
    structure reduces in ONE partial-aggregated shuffle, and the rank
    arithmetic happens on <=50 rows.

    H = [12 / (N(N+1)) * sum_g (R2_g/2)^2 / n_g - 3(N+1)] / C with
    C = 1 - sum_t (t^3 - t) / (N^3 - N); R2_g^2 needs 128-bit math
    (DECIMAL(38,0) here, HUGEINT in the oracle).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
    ).agg(F.count(F.lit(1)).alias("n_fq"))

    per_q = (
        cells.groupBy("q")
        .agg(F.sum("n_fq").alias("t"))
        .withColumn(
            "cnt_less",
            F.coalesce(
                F.sum("t").over(
                    Window.orderBy("q").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("r2", 2 * F.col("cnt_less") + F.col("t") + 1)
    )

    joined = cells.join(F.broadcast(per_q.select("q", "r2")), "q")
    grp = joined.groupBy("flag").agg(
        F.sum("n_fq").alias("n_g"),
        F.sum(
            (F.col("n_fq") * F.col("r2")).cast("decimal(38,0)")
        ).alias("r2_g"),
    )

    totals = per_q.agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum(
            (F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast(
                "decimal(38,0)"
            )
        ).alias("ties"),
    )

    out = (
        grp.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n").alias("n"),
            F.first("ties").alias("ties"),
            F.sum(
                (F.col("r2_g") * F.col("r2_g")).cast("decimal(38,0)")
                / (F.lit(4).cast("decimal(38,0)") * F.col("n_g"))
            ).alias("srq"),
        )
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (
                    F.lit(12.0)
                    / (
                        F.col("n").cast("double")
                        * (F.col("n").cast("double") + 1.0)
                    )
                    * F.col("srq").cast("double")
                    - 3.0 * (F.col("n").cast("double") + 1.0)
                )
                / (
                    F.lit(1.0)
                    - F.col("ties").cast("double")
                    / (
                        F.col("n").cast("double")
                        * F.col("n").cast("double")
                        * F.col("n").cast("double")
                        - F.col("n").cast("double")
                    )
                ),
                6,
            ).alias("h_stat"),
        )
    )
    return out


_KRUSKAL_SQL = """
WITH cells AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) AS n_fq
  FROM lineitem GROUP BY 1, 2
), per_q AS (
  SELECT q, SUM(n_fq) AS t,
         COALESCE(SUM(SUM(n_fq)) OVER (ORDER BY q
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cnt_less
  FROM cells GROUP BY q
), ranked AS (
  SELECT q, t, 2 * cnt_less + t + 1 AS r2 FROM per_q
), grp AS (
  SELECT flag, SUM(n_fq) AS n_g,
         SUM(CAST(n_fq AS HUGEINT) * (SELECT r2 FROM ranked r
                                      WHERE r.q = cells.q)) AS r2_g
  FROM cells GROUP BY flag
), tot AS (
  SELECT SUM(t) AS n,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
  FROM ranked
)
SELECT CAST(tot.n AS BIGINT) AS n,
       ROUND(
         (12.0 / (CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 1.0))
            * (SELECT SUM(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                          / (4.0 * CAST(n_g AS DOUBLE))) FROM grp)
          - 3.0 * (CAST(tot.n AS DOUBLE) + 1.0))
         / (1.0 - CAST(tot.ties AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)
                     * CAST(tot.n AS DOUBLE) - CAST(tot.n AS DOUBLE))),
         6) AS h_stat
FROM tot
"""


# --- lexical richness ------------------------------------------------------------


def doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary size, hapax-legomena count (words whose
    corpus frequency within the source is exactly 1), and the hapax
    share of the vocabulary — a standard lexical-richness / crawl-rot
    signal.  Shape: split-explode -> (source, word) rollup (one
    shuffle, partial-agg friendly) -> per-source counts (second,
    tiny shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("w"),
    ).where(F.col("w") != "")
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") == 1).cast("bigint")).alias("hapax"),
        )
        .select(
            "source",
            F.col("vocab").cast("bigint").alias("vocab"),
            F.col("hapax").cast("bigint").alias("hapax"),
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


_HAPAX_SQL = """
WITH words AS (
  SELECT source, w
  FROM (
    SELECT source,
           UNNEST(string_split_regex(LOWER(text), '[^a-z0-9]+')) AS w
    FROM documents
  ) t
  WHERE w <> ''
), wc AS (
  SELECT source, w, COUNT(*) AS c FROM words GROUP BY source, w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM wc GROUP BY source ORDER BY source
"""


# --- Matthews correlation --------------------------------------------------------

_MCC_PRICE_CUT = 150000.0


def ml_mcc_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order-year Matthews correlation coefficient of the cheap
    screening heuristic `o_totalprice > 150000` against the true
    urgent/high-priority label.  The four confusion counts come from
    ONE scan (conditional sums); MCC's numerator and the four marginal
    products run in DECIMAL(38,0) (HUGEINT in DuckDB) before the single
    double sqrt, so both engines round the identical quantity."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast(
            "bigint"
        ).alias("y"),
        (F.col("o_totalprice") > _MCC_PRICE_CUT).cast("bigint").alias("p"),
    )
    cm = lab.groupBy("yr").agg(
        F.sum(F.col("y") * F.col("p")).cast("decimal(38,0)").alias("tp"),
        F.sum((1 - F.col("y")) * (1 - F.col("p")))
        .cast("decimal(38,0)")
        .alias("tn"),
        F.sum((1 - F.col("y")) * F.col("p"))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum(F.col("y") * (1 - F.col("p"))).cast("decimal(38,0)").alias("fn"),
    )
    return (
        cm.select(
            "yr",
            F.col("tp").cast("bigint").alias("tp"),
            F.col("tn").cast("bigint").alias("tn"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.round(
                (
                    (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn"))
                    .cast("double")
                )
                / F.sqrt(
                    (
                        (F.col("tp") + F.col("fp"))
                        * (F.col("tp") + F.col("fn"))
                        * (F.col("tn") + F.col("fp"))
                        * (F.col("tn") + F.col("fn"))
                    ).cast("double")
                ),
                6,
            ).alias("mcc"),
        )
        .orderBy("yr")
    )


_MCC_SQL = f"""
WITH lab AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         CASE WHEN o_totalprice > {_MCC_PRICE_CUT!r} THEN 1 ELSE 0 END AS p
  FROM orders
), cm AS (
  SELECT yr,
         CAST(SUM(y * p) AS HUGEINT) AS tp,
         CAST(SUM((1 - y) * (1 - p)) AS HUGEINT) AS tn,
         CAST(SUM((1 - y) * p) AS HUGEINT) AS fp,
         CAST(SUM(y * (1 - p)) AS HUGEINT) AS fn
  FROM lab GROUP BY yr
)
SELECT yr,
       CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
             / SQRT(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                         AS DOUBLE)), 6) AS mcc
FROM cm ORDER BY yr
"""


QUERIES = {
    "mm_jpeg_roundtrip_agg": mm_jpeg_roundtrip_agg,
    "stat_kruskal_wallis": stat_kruskal_wallis,
    "doc_hapax_ratio": doc_hapax_ratio,
    "ml_mcc_confusion": ml_mcc_confusion,
}

ORACLES = {
    "mm_jpeg_roundtrip_agg": _JPEG_SQL,
    "stat_kruskal_wallis": _KRUSKAL_SQL,
    "doc_hapax_ratio": _HAPAX_SQL,
    "ml_mcc_confusion": _MCC_SQL,
}
