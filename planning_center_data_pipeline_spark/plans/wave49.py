"""Round-10 wave 49: color JPEG in-plan, drift/concordance/variance
statistics, forecasting accuracy, spectral screening, and clustering
quality.

- mm_jpeg_color_roundtrip_agg: the 3-component 4:2:0 YCbCr JPEG path
  (encode_jpeg_color + the decoder's color branch) executed in-plan.
  Two images per document: (a) a flat COLOR card (r, g, b) from
  md5(doc_id) pushed through the full chroma pipeline with a banded
  max-error check (flat color at quality 50 measures <= 3; band 6 —
  any codec break blows the band), and (b) a gray-in-RGB card whose
  round-trip is EXACT (Cb/Cr are flat 128 because the BT.601 row sums
  are exactly 0.5, so every chroma coefficient quantizes to zero and
  the Y path is the flat-block closed form), giving a data-dependent
  value (768 * v4) both engines derive independently.
- ml_psi_priority_shift: Population Stability Index (model-monitoring
  drift) over the order-priority mix, pre/post-1998.
- sup_cr4_concentration: four-firm concentration ratio per nation in
  exact integer ppm (no doubles anywhere).
- ord_mase_seasonal: MASE of the 12-month seasonal-naive forecast —
  integer error sums, one final double ratio.
- stat_grubbs_max: max studentized deviation per nation, moments in
  DECIMAL(38,0)/HUGEINT.
- stat_bartlett_qty: Bartlett variance-homogeneity with the
  small-sample correction; micro-quantized cross-group sums.
- rank_kendall_w_nations: Kendall's W over the completed nation x year
  revenue grid, doubled midranks + tie correction, integers end to
  end.
- ts_spectral_peaks_daily: single-bin DFT power at 7/30/91-day periods
  (cos/sin agree bit-for-bit across engines; micro-quantized terms).
- cust_category_entropy: mean per-customer brand-mix entropy by
  nation, integer micro-nats with a DIV/floor-safe clamp.
- graph_powerlaw_degree_fit: log-log OLS over the co-purchase degree
  histogram, moments in DECIMAL(38,0)/HUGEINT.
- emb_silhouette_centroid: centroid silhouette per embedding label —
  exact quantized squared-distance sums, bounded centroid-pair scan.

Reference parity: the reference repo has no analytics or media
surface (SURVEY.md §2); these extend the multimodal, statistics,
forecasting, graph, and embedding-quality families the 100 TB
training-data pipeline needs (most real-corpus JPEGs are color
4:2:0; PSI/silhouette/MASE are everyday curation and monitoring
metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.sources.tables import load_table


def mm_jpeg_color_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color JPEG codec plumbing executed in-plan: md5(doc_id) hex
    chars 1-8 become four EVEN values v_k = (ord(c_{2k-1}) *
    ord(c_{2k})) % 128 * 2.  Card A is a flat (v1, v2, v3) RGB 16x16
    encoded 4:2:0 quality 50 and decoded back — ok_color pins the max
    channel error inside the measured band (<= 6; DC-only chroma
    quantization error, see wave module docstring).  Card B is flat
    gray R = G = B = v4, which round-trips EXACTLY through the color
    pipeline, so gray_sum = 16*16*3*v4 comes from REAL decoded pixels
    on the Spark side and from the closed form in the oracle.

    Scale shape: per-row Arrow-batched map; one row per document.  The
    codec is ~1 ms/row of pure Python CPU, so the input is lifted to
    the cpu_floor (guide §2.5/§4): a single-file scan would otherwise
    run every codec invocation on one core."""
    import pandas as pd

    from planning_center_data_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_jpeg_color,
    )
    from planning_center_data_pipeline_spark.operators.parallelism import (
        cpu_floor,
    )

    # Floor capped at 16 (r12): idle-cold Python worker spawns scale
    # with partitions — A/B'd cold at sf0.1: floor 32 7.7 s vs floor
    # 16 3.6 s, warm within noise (see wave41's gray twin).
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
            oks, sums = [], []
            for h in pdf["h"]:
                v = [
                    (ord(h[2 * k]) * ord(h[2 * k + 1])) % 128 * 2
                    for k in range(4)
                ]
                card = np.empty((16, 16, 3), dtype=np.uint8)
                card[..., 0], card[..., 1], card[..., 2] = v[0], v[1], v[2]
                back = decode_media(
                    encode_jpeg_color(card, quality=50), "image/jpeg"
                )["pixels"]
                assert back.shape == (16, 16, 3)
                err = int(
                    np.abs(back.astype(np.int64) - card.astype(np.int64)).max()
                )
                oks.append(1 if err <= 6 else 0)
                gray = np.full((16, 16, 3), v[3], dtype=np.uint8)
                gback = decode_media(
                    encode_jpeg_color(gray, quality=50), "image/jpeg"
                )["pixels"]
                sums.append(int(gback.astype(np.int64).sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "ok_color": oks, "gray_sum": sums}
            )

    return d.mapInPandas(
        run, "doc_id bigint, ok_color int, gray_sum bigint"
    ).orderBy("doc_id")


def _v(k: int) -> str:
    c1, c2 = 2 * k + 1, 2 * k + 2
    return f"(ord(substr(h, {c1}, 1)) * ord(substr(h, {c2}, 1))) % 128 * 2"


_COLOR_SQL = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id,
       CAST(1 AS INT) AS ok_color,
       CAST(16 * 16 * 3 * ({_v(3)}) AS BIGINT) AS gray_sum
FROM d ORDER BY doc_id
"""




# --- PSI: population stability of order-priority mix --------------------------------


def ml_psi_priority_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-priority mix between
    the pre-1998 baseline and the 1998+ window (orders span 1995-2001) — the standard model-
    monitoring drift metric over a 5-bucket categorical.  Counts are
    exact integers; each bucket's term is ONE shared double expression
    (p - q) * LN(p * nb / (q * na)) over those integers, so both
    engines evaluate identical doubles (ROUND 6 absorbs nothing more
    than representation).  Scale shape: one fact rollup on
    (era, priority), 10-row grid after.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") >= 1998).cast("int").alias("era"),
        )
        .groupBy("priority", "era")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = counts.where(F.col("era") == 0).select(
        "priority", F.col("c").alias("ca")
    )
    b = counts.where(F.col("era") == 1).select(
        F.col("priority").alias("pb"), F.col("c").alias("cb")
    )
    tot = a.join(b, F.col("priority") == F.col("pb")).select(
        "priority", "ca", "cb"
    )
    totals = tot.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    term = (
        "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))"
        " * LN((CAST(ca AS DOUBLE) * CAST(nb AS DOUBLE))"
        " / (CAST(cb AS DOUBLE) * CAST(na AS DOUBLE)))"
    )
    return (
        tot.crossJoin(F.broadcast(totals))
        .select(
            "priority",
            "ca",
            "cb",
            F.round(F.expr(term), 6).alias("psi_term"),
        )
        .orderBy("priority")
    )


_PSI_SQL = """
WITH counts AS (
  SELECT o_orderpriority AS priority,
         CAST(CASE WHEN EXTRACT(year FROM o_orderdate) >= 1998
              THEN 1 ELSE 0 END AS INT) AS era,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), tot AS (
  SELECT a.priority, a.c AS ca, b.c AS cb
  FROM counts a JOIN counts b
    ON a.priority = b.priority AND a.era = 0 AND b.era = 1
), totals AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM tot
)
SELECT priority, ca, cb,
       ROUND((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             * LN((CAST(ca AS DOUBLE) * CAST(nb AS DOUBLE))
               / (CAST(cb AS DOUBLE) * CAST(na AS DOUBLE))), 6)
         AS psi_term
FROM tot CROSS JOIN totals
ORDER BY priority
"""


# --- CR4 supplier concentration -----------------------------------------------------


def sup_cr4_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-firm concentration ratio per supplier nation: the share of
    the nation's lineitem volume handled by its 4 busiest suppliers,
    in exact parts-per-million — integer round-half-up
    (t4*2000000 + tot) DIV (2*tot), no doubles anywhere (Spark DIV ==
    DuckDB // on non-negative ints).  Ranking ties break on suppkey.
    Scale shape: one fact rollup on suppkey, then nation-partitioned
    window over the supplier dimension (bounded by |supplier|).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_sup = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    ranked = (
        per_sup.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), "s_suppkey", "cnt")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(
                    F.desc("cnt"), "s_suppkey"
                )
            ),
        )
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("cnt").cast("bigint").alias("total_items"),
            F.sum(F.when(F.col("rk") <= 4, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("top4_items"),
        )
        .select(
            "nation",
            "n_suppliers",
            "total_items",
            "top4_items",
            F.expr(
                "CAST((top4_items * 2000000 + total_items)"
                " DIV (2 * total_items) AS BIGINT)"
            ).alias("cr4_ppm"),
        )
        .orderBy("nation")
    )


_CR4_SQL = """
WITH per_sup AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT n.n_name AS nation, s.s_suppkey, p.cnt,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY p.cnt DESC, s.s_suppkey) AS rk
  FROM per_sup p
  JOIN supplier s ON p.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(cnt) AS BIGINT) AS total_items,
       CAST(SUM(CASE WHEN rk <= 4 THEN cnt ELSE 0 END) AS BIGINT)
         AS top4_items,
       CAST((SUM(CASE WHEN rk <= 4 THEN cnt ELSE 0 END) * 2000000
             + SUM(cnt)) // (2 * SUM(cnt)) AS BIGINT) AS cr4_ppm
FROM ranked GROUP BY nation ORDER BY nation
"""


# --- MASE of the seasonal-naive monthly forecast ------------------------------------


def ord_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Absolute Scaled Error of the 12-month seasonal-naive
    forecast on monthly revenue: MASE = mean|y_m - y_{m-12}| /
    mean|y_m - y_{m-1}|.  Revenue is exact integer cents; both error
    sums and counts stay integers (lags over the observed-month
    sequence, gaps guarded by requiring the exact predecessor index),
    so the only double is the final ratio.  Scale shape: fact rollup
    to <= ~84 months, then one bounded global window (month spine).
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
                "m"
            ),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("m")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = Window.orderBy("m")
    lagged = monthly.select(
        "m",
        "cents",
        F.lag("m", 1).over(w).alias("m1"),
        F.lag("cents", 1).over(w).alias("c1"),
        F.lag("m", 12).over(w).alias("m12"),
        F.lag("cents", 12).over(w).alias("c12"),
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(
            F.when(F.col("m1") == F.col("m") - 1, F.abs(F.col("cents") - F.col("c1")))
        )
        .cast("bigint")
        .alias("naive_abs_err"),
        F.sum(F.when(F.col("m1") == F.col("m") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_naive"),
        F.sum(
            F.when(
                F.col("m12") == F.col("m") - 12,
                F.abs(F.col("cents") - F.col("c12")),
            )
        )
        .cast("bigint")
        .alias("seasonal_abs_err"),
        F.sum(F.when(F.col("m12") == F.col("m") - 12, 1).otherwise(0))
        .cast("bigint")
        .alias("n_seasonal"),
    ).select(
        "n_months",
        "seasonal_abs_err",
        "n_seasonal",
        "naive_abs_err",
        "n_naive",
        F.round(
            (F.col("seasonal_abs_err").cast("double") / F.col("n_seasonal"))
            / (F.col("naive_abs_err").cast("double") / F.col("n_naive")),
            6,
        ).alias("mase"),
    )


_MASE_SQL = """
WITH monthly AS (
  SELECT EXTRACT(year FROM o_orderdate) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), lagged AS (
  SELECT m, cents,
         LAG(m, 1) OVER (ORDER BY m) AS m1,
         LAG(cents, 1) OVER (ORDER BY m) AS c1,
         LAG(m, 12) OVER (ORDER BY m) AS m12,
         LAG(cents, 12) OVER (ORDER BY m) AS c12
  FROM monthly
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(SUM(CASE WHEN m12 = m - 12 THEN ABS(cents - c12) END) AS BIGINT)
         AS seasonal_abs_err,
       CAST(SUM(CASE WHEN m12 = m - 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seasonal,
       CAST(SUM(CASE WHEN m1 = m - 1 THEN ABS(cents - c1) END) AS BIGINT)
         AS naive_abs_err,
       CAST(SUM(CASE WHEN m1 = m - 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_naive,
       ROUND((CAST(SUM(CASE WHEN m12 = m - 12 THEN ABS(cents - c12) END)
                   AS DOUBLE)
              / SUM(CASE WHEN m12 = m - 12 THEN 1 ELSE 0 END))
             / (CAST(SUM(CASE WHEN m1 = m - 1 THEN ABS(cents - c1) END)
                     AS DOUBLE)
                / SUM(CASE WHEN m1 = m - 1 THEN 1 ELSE 0 END)), 6) AS mase
FROM lagged
"""


# --- Grubbs-style max studentized deviation -----------------------------------------


def stat_grubbs_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs outlier statistic per nation on customer balances:
    G = max|x_i - mean| / s.  All moments are exact integers (cents,
    cents^2 in DECIMAL(38,0) — cents^2 * n would overflow int64 at
    scale), the max deviation is the exact integer max|x*n - S|, and G
    is ONE shared double expression over (maxdev, n, s, ss).  Scale
    shape: one fact rollup per nation; 25-row grid after.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cents = (
        c.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("x"),
        )
    )
    moments = cents.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    g = (
        "CAST(maxdev AS DOUBLE) / (CAST(n AS DOUBLE)"
        " * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))))"
    )
    return (
        cents.join(F.broadcast(moments), "nation")
        .groupBy("nation")
        .agg(
            F.first("n").alias("n"),
            F.first("s").alias("s"),
            F.first("ss").alias("ss"),
            F.max(
                F.abs(
                    F.col("x").cast("decimal(38,0)") * F.col("n") - F.col("s")
                )
            ).alias("maxdev"),
        )
        .select(
            "nation",
            "n",
            F.col("maxdev").cast("double").alias("maxdev_d"),
            F.round(F.expr(g), 6).alias("grubbs_g"),
        )
        .orderBy("nation")
    )


_GRUBBS_SQL = """
WITH cents AS (
  SELECT n.n_name AS nation,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), moments AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS s,
         SUM(CAST(x AS HUGEINT) * x) AS ss
  FROM cents GROUP BY nation
), dev AS (
  SELECT c.nation, MIN(m.n) AS n, MIN(m.s) AS s, MIN(m.ss) AS ss,
         MAX(ABS(CAST(c.x AS HUGEINT) * m.n - m.s)) AS maxdev
  FROM cents c JOIN moments m ON c.nation = m.nation
  GROUP BY c.nation
)
SELECT nation, n,
       CAST(maxdev AS DOUBLE) AS maxdev_d,
       ROUND(CAST(maxdev AS DOUBLE) / (CAST(n AS DOUBLE)
             * SQRT((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))), 6)
         AS grubbs_g
FROM dev ORDER BY nation
"""





# --- Bartlett variance-homogeneity test ---------------------------------------------


def stat_bartlett_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity for l_quantity across
    the l_returnflag groups.  Group moments (n, sum, sum-of-squares)
    are exact integers (DECIMAL(38,0) products — n*ss overflows int64
    at sf10); every cross-group SUM runs over integers QUANTIZED from
    one shared double expression per group (micro-unit rounding), so
    the 3-way association order can never flip a bit.  The statistic
    B = ((N-k) ln s2_p - sum (n_g-1) ln s2_g) / C with the standard
    small-sample correction C.  Scale shape: one fact rollup to a
    3-row grid; everything after is constant-size."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
        )
    )
    # shared per-group expressions over exact integers, quantized to
    # micro-units so the 3-row sums are order-free integer sums
    per = g.select(
        "n",
        # (n-1) * s2_g  == (n*ss - s*s)/n, in micro-units
        F.expr(
            "CAST(ROUND((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " / CAST(n AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("t_q"),
        # (n-1) * ln(s2_g), micro-units
        F.expr(
            "CAST(ROUND((CAST(n AS DOUBLE) - 1)"
            " * LN((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
            "       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            "      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))"
            " * 1e6) AS BIGINT)"
        ).alias("u_q"),
        # 1/(n-1), femto-units
        F.expr("CAST(ROUND(1e15 / (CAST(n AS DOUBLE) - 1)) AS BIGINT)").alias(
            "inv_q"
        ),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("t_q").cast("bigint").alias("tsum"),
        F.sum("u_q").cast("bigint").alias("usum"),
        F.sum("inv_q").cast("bigint").alias("invsum"),
    )
    b = (
        "((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))"
        " * LN(CAST(tsum AS DOUBLE) / 1e6"
        "      / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
        " - CAST(usum AS DOUBLE) / 1e6)"
        " / (1 + (CAST(invsum AS DOUBLE) / 1e15"
        "         - 1 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))"
        "        / (3 * (CAST(k AS DOUBLE) - 1)))"
    )
    return tot.select(
        "k", F.col("nn").alias("n"), F.round(F.expr(b), 6).alias("bartlett_b")
    )


_BARTLETT_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_quantity AS HUGEINT)) AS s,
         SUM(CAST(l_quantity AS HUGEINT) * CAST(l_quantity AS BIGINT)) AS ss
  FROM lineitem GROUP BY l_returnflag
), per AS (
  SELECT n,
         CAST(ROUND((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS t_q,
         CAST(ROUND((CAST(n AS DOUBLE) - 1)
              * LN((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
              * 1e6) AS BIGINT) AS u_q,
         CAST(ROUND(1e15 / (CAST(n AS DOUBLE) - 1)) AS BIGINT) AS inv_q
  FROM g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(t_q) AS BIGINT) AS tsum,
         CAST(SUM(u_q) AS BIGINT) AS usum,
         CAST(SUM(inv_q) AS BIGINT) AS invsum
  FROM per
)
SELECT k, nn AS n,
       ROUND(((CAST(nn AS DOUBLE) - CAST(k AS DOUBLE))
              * LN(CAST(tsum AS DOUBLE) / 1e6
                   / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
              - CAST(usum AS DOUBLE) / 1e6)
             / (1 + (CAST(invsum AS DOUBLE) / 1e15
                     - 1 / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)))
                    / (3 * (CAST(k AS DOUBLE) - 1))), 6) AS bartlett_b
FROM tot
"""


# --- Kendall's coefficient of concordance -------------------------------------------


def rank_kendall_w_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W: do the order years (judges) agree on how they rank
    the 25 nations (subjects) by yearly revenue?  The nation x year
    grid is completed with 0-revenue cells (bounded 25 x |years|
    cross join), DOUBLED midranks keep everything integer
    (r2 = 2*RANK + t - 1 via per-year windows), and
    W = 3 * S4 / (k^2 (n^3 - n) - k * sum T_j) with the standard tie
    correction T_j = sum (t^3 - t) — exact rationals end to end,
    one ROUND 6 at the finish.  Scale shape: fact rollup to the
    bounded grid; windows partitioned per year over 25 rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").alias("yr"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("nk", "yr")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    years = rev.select(F.col("yr").alias("year")).distinct()
    grid = (
        n.select(F.col("n_nationkey").alias("nk2"))
        .crossJoin(F.broadcast(years))
        .join(
            rev,
            (F.col("nk2") == F.col("nk")) & (F.col("year") == F.col("yr")),
            "left",
        )
        .select(
            F.col("nk2").alias("nation_key"),
            "year",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    wy = Window.partitionBy("year").orderBy("cents")
    wt = Window.partitionBy("year", "cents")
    ranked = grid.select(
        "nation_key",
        "year",
        (
            2 * F.rank().over(wy) + F.count(F.lit(1)).over(wt) - 1
        ).alias("r2"),
        (
            F.count(F.lit(1)).over(wt)
            * F.count(F.lit(1)).over(wt)
            * F.count(F.lit(1)).over(wt)
            - F.count(F.lit(1)).over(wt)
        ).alias("tcube"),
    )
    sums = ranked.groupBy("nation_key").agg(
        F.sum("r2").cast("bigint").alias("r2sum"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    # sum of (t^3 - t): each tie group of size t contributes t times
    # the value (t^3 - t), so divide by t == take per-group once via
    # distinct on (year, cents, tcube, t); simpler exact route: sum
    # tcube over ALL rows counts each group t times -> divide by t is
    # wrong per-row; instead sum (t^2 - 1) per row == sum_groups t*(t^2-1)
    # == sum_groups (t^3 - t).  (t from the same window.)
    ties = grid.select(
        (
            F.count(F.lit(1)).over(wt) * F.count(F.lit(1)).over(wt) - 1
        ).alias("t2m1")
    ).agg(F.sum("t2m1").cast("bigint").alias("tsum"))
    # Mean doubled midrank per year is (n_subjects + 1), DERIVED from
    # the grid's own nation cardinality (round-10 ADVICE: a literal 26
    # would go silently wrong in both engines if nation count changed).
    nsub = grid.select("nation_key").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nsub")
    )
    stats = (
        sums.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nsub))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
            F.min("k").alias("k_years"),
            F.min("tsum").alias("tsum"),
            F.sum(
                (
                    F.col("r2sum") - F.col("k") * (F.col("nsub") + 1)
                ).cast("decimal(38,0)")
                * (F.col("r2sum") - F.col("k") * (F.col("nsub") + 1))
            ).alias("s4"),
        )
    )
    w_expr = (
        "3 * CAST(s4 AS DOUBLE)"
        " / (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)"
        "    * (CAST(n_subjects AS DOUBLE) * CAST(n_subjects AS DOUBLE)"
        "       * CAST(n_subjects AS DOUBLE) - CAST(n_subjects AS DOUBLE))"
        "    - CAST(k_years AS DOUBLE) * CAST(tsum AS DOUBLE))"
    )
    return stats.select(
        "n_subjects",
        "k_years",
        F.col("s4").cast("double").alias("s4_d"),
        F.round(F.expr(w_expr), 6).alias("kendall_w"),
    )


_KENDALL_W_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, EXTRACT(year FROM o_orderdate) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), years AS (SELECT DISTINCT yr FROM rev),
grid AS (
  SELECT n.n_nationkey AS nation_key, y.yr AS year,
         COALESCE(r.cents, 0) AS cents
  FROM nation n CROSS JOIN years y
  LEFT JOIN rev r ON r.nk = n.n_nationkey AND r.yr = y.yr
), ranked AS (
  SELECT nation_key, year,
         2 * RANK() OVER (PARTITION BY year ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY year, cents) - 1 AS r2
  FROM grid
), sums AS (
  SELECT nation_key, CAST(SUM(r2) AS BIGINT) AS r2sum,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM ranked GROUP BY nation_key
), ties AS (
  SELECT CAST(SUM(t * t - 1) AS BIGINT) AS tsum
  FROM (
    SELECT COUNT(*) OVER (PARTITION BY year, cents) AS t FROM grid
  )
), nsub AS (
  SELECT CAST(COUNT(DISTINCT nation_key) AS BIGINT) AS nsub FROM grid
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
         MIN(k) AS k_years, MIN(tsum) AS tsum,
         SUM(CAST(r2sum - k * (nsub + 1) AS HUGEINT)
             * (r2sum - k * (nsub + 1))) AS s4
  FROM sums CROSS JOIN ties CROSS JOIN nsub
)
SELECT n_subjects, k_years, CAST(s4 AS DOUBLE) AS s4_d,
       ROUND(3 * CAST(s4 AS DOUBLE)
             / (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                * (CAST(n_subjects AS DOUBLE) * CAST(n_subjects AS DOUBLE)
                   * CAST(n_subjects AS DOUBLE)
                   - CAST(n_subjects AS DOUBLE))
                - CAST(k_years AS DOUBLE) * CAST(tsum AS DOUBLE)), 6)
         AS kendall_w
FROM stats
"""



# --- spectral peaks over the daily order series -------------------------------------


def ts_spectral_peaks_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style single-bin DFT power of the daily order-count
    series at fixed candidate periods (7 / 30 / 91 days) — the
    seasonality screen a forecasting pipeline runs before fitting.
    Days are indexed from the global min date; ABSENT days contribute
    exactly 0 to every bin, so no spine is needed.  Per-day terms
    c * cos(2 pi t / p) are quantized to micro-units (cos/sin agree
    bit-for-bit across engines on identical doubles; measured), so the
    cross-day sums are order-free integer sums; power is one double
    expression over the two exact sums.  Scale shape: one fact rollup
    to <= ~2400 days, broadcast 1-row min-date, 3-row output."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    indexed = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"), "c"
    )
    periods = spark.range(1).select(
        F.explode(F.array(F.lit(7), F.lit(30), F.lit(91))).alias("p")
    )
    terms = indexed.crossJoin(F.broadcast(periods)).select(
        "p",
        F.expr(
            "CAST(ROUND(CAST(c AS DOUBLE)"
            " * COS(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("aq"),
        F.expr(
            "CAST(ROUND(CAST(c AS DOUBLE)"
            " * SIN(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))"
            " * 1e6) AS BIGINT)"
        ).alias("bq"),
    )
    return (
        terms.groupBy("p")
        .agg(
            F.sum("aq").cast("bigint").alias("a_sum"),
            F.sum("bq").cast("bigint").alias("b_sum"),
        )
        .select(
            F.col("p").cast("bigint").alias("period_days"),
            "a_sum",
            "b_sum",
            F.round(
                F.expr(
                    "(CAST(a_sum AS DOUBLE) * CAST(a_sum AS DOUBLE)"
                    " + CAST(b_sum AS DOUBLE) * CAST(b_sum AS DOUBLE))"
                    " / 1e12"
                ),
                3,
            ).alias("power"),
        )
        .orderBy("period_days")
    )


_SPECTRAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), d0 AS (SELECT MIN(d) AS d0 FROM daily),
indexed AS (
  SELECT CAST(DATEDIFF('day', d0, d) AS BIGINT) AS t, c
  FROM daily CROSS JOIN d0
), periods AS (SELECT UNNEST([7, 30, 91]) AS p),
terms AS (
  SELECT p,
         CAST(ROUND(CAST(c AS DOUBLE)
              * COS(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS aq,
         CAST(ROUND(CAST(c AS DOUBLE)
              * SIN(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS bq
  FROM indexed CROSS JOIN periods
)
SELECT CAST(p AS BIGINT) AS period_days,
       CAST(SUM(aq) AS BIGINT) AS a_sum,
       CAST(SUM(bq) AS BIGINT) AS b_sum,
       ROUND((CAST(SUM(aq) AS DOUBLE) * CAST(SUM(aq) AS DOUBLE)
              + CAST(SUM(bq) AS DOUBLE) * CAST(SUM(bq) AS DOUBLE))
             / 1e12, 3) AS power
FROM terms GROUP BY p ORDER BY period_days
"""


# --- per-customer brand-mix entropy -------------------------------------------------


def cust_category_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-customer brand-mix entropy by nation: how diversified
    is each customer's purchasing across part brands?  Per-customer
    H = ln n - (sum c ln c)/n is assembled from INTEGER micro-nats
    (each c ln c term and ln n quantized to 1e6 from exact integer
    counts, per-customer value floored by DIV after a GREATEST(0)
    clamp — Spark DIV truncates toward zero while DuckDB // floors,
    so the clamp keeps them identical), making every cross-row sum
    order-free.  Scale shape: two fact rollups (cust x brand, then
    cust), broadcast nation dim; the entropy grid is |customer|-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cb = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            p.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("o_custkey").alias("ck"), "p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    per_cust = (
        cb.select(
            "ck",
            "c",
            F.expr(
                "CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))"
                " * 1e6) AS BIGINT)"
            ).alias("t_q"),
        )
        .groupBy("ck")
        .agg(
            F.sum("c").cast("bigint").alias("n_items"),
            F.sum("t_q").cast("bigint").alias("t_sum"),
        )
        .select(
            "ck",
            F.expr(
                "GREATEST(n_items"
                " * CAST(ROUND(LN(CAST(n_items AS DOUBLE)) * 1e6) AS BIGINT)"
                " - t_sum, CAST(0 AS BIGINT)) DIV n_items"
            ).alias("h_q"),
        )
    )
    return (
        per_cust.join(
            c.select("c_custkey", "c_nationkey"),
            F.col("ck") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("h_q").cast("bigint").alias("h_sum"),
        )
        .select(
            "nation",
            "n_customers",
            F.round(
                F.expr(
                    "CAST(h_sum AS DOUBLE) / CAST(n_customers AS DOUBLE)"
                    " / 1e6"
                ),
                6,
            ).alias("mean_brand_entropy"),
        )
        .orderBy("nation")
    )


_CUST_ENTROPY_SQL = """
WITH cb AS (
  SELECT o.o_custkey AS ck, p.p_brand, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), per_cust AS (
  SELECT ck,
         GREATEST(SUM(c)
                  * CAST(ROUND(LN(CAST(SUM(c) AS DOUBLE)) * 1e6) AS BIGINT)
                  - SUM(CAST(ROUND(CAST(c AS DOUBLE)
                        * LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)),
                  CAST(0 AS BIGINT)) // SUM(c) AS h_q
  FROM cb GROUP BY ck
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(h_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6)
         AS mean_brand_entropy
FROM per_cust pc
JOIN customer c ON pc.ck = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY nation
"""


# --- power-law fit of the co-purchase degree distribution ---------------------------


def graph_powerlaw_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS fit of the co-purchase degree distribution: is
    ln(count of parts with degree d) ~ alpha + beta * ln(d)?  Degree =
    number of DISTINCT co-order partners (pair expansion bounded by
    C(basket, 2) per order — linear in |orders| at fixed basket size).
    The histogram is small (distinct degree values), (x, y) =
    (ln d, ln cnt) are micro-quantized integers, and the OLS moment
    sums run in DECIMAL(38,0)/HUGEINT (x*y products overflow int64),
    so slope/intercept are shared double expressions over exact
    integers.  Scale shape: adjacency edge build (collect_set per
    order + map-side pair explosion + distinct — wave43's shared
    helper, r12 guide §2.4: same rows as the former basket self-join
    minus its three exchanges) + two rollups; the fit runs on the
    bounded histogram."""
    from planning_center_data_pipeline_spark.plans.wave43 import (
        _copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    half = _copurchase_edges(li)
    deg = (
        half.select("u")
        .unionAll(half.select(F.col("v").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    hist = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    pts = hist.select(
        F.expr("CAST(ROUND(LN(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT)").alias(
            "x"
        ),
        F.expr("CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)").alias(
            "y"
        ),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    slope = (
        "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    return mom.select(
        F.col("m").alias("n_points"),
        F.round(F.expr(slope), 6).alias("slope"),
        F.round(
            F.expr(
                f"(CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
                " / CAST(m AS DOUBLE) / 1e6"
            ),
            6,
        ).alias("intercept"),
    )


_POWERLAW_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
half AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u FROM half UNION ALL SELECT v AS u FROM half
  ) GROUP BY u
), hist AS (
  SELECT deg, CAST(COUNT(*) AS BIGINT) AS cnt FROM deg GROUP BY deg
), pts AS (
  SELECT CAST(ROUND(LN(CAST(deg AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM hist
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT m AS n_points,
       ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - ((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE))
             / CAST(m AS DOUBLE) / 1e6, 6) AS intercept
FROM mom
"""


# --- centroid silhouette over the embedding labels ----------------------------------


def emb_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per embedding label: a = mean distance
    of the label's points to their own centroid, b = distance from the
    label's centroid to the NEAREST other centroid, sil = (b - a) /
    max(a, b) — the clustering-quality scan a curation pipeline runs
    over labeled shards.  Components are 1e6-quantized integers, all
    squared-distance sums run exactly in DECIMAL(38,0)/HUGEINT, each
    point's distance is one SQRT over those exact integers quantized
    to micro-units before the per-label mean (order-free integer sum),
    and the centroid-pair scan is label^2 x 64 rows (bounded).  Scale
    shape: one explode rollup (|E| x 64), one point-level join on
    (label, dim), bounded centroid self-join."""
    e = load_table(spark, sf_dir, "embeddings")
    from planning_center_data_pipeline_spark.operators import similarity as S

    q = e.select(
        "label",
        "vec_id",
        F.posexplode(S.quantized(F.col("embedding"))).alias("dim", "v"),
    )
    cent = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    # per-point exact squared deviation sum: sum_d (v*n - s)^2
    dev = (
        q.join(cent, ["label", "dim"])
        .select(
            "label",
            "vec_id",
            "n",
            (
                (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
                * (F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("s"))
            ).alias("d2"),
        )
        .groupBy("label", "vec_id")
        .agg(
            F.min("n").alias("n"),
            F.sum("d2").alias("d2sum"),
        )
        .select(
            "label",
            F.expr(
                "CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(n AS DOUBLE) * {S.Q_SCALE}) * 1e6) AS BIGINT)"
            ).alias("d_q"),
        )
    )
    a_side = dev.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("d_q").cast("bigint").alias("d_sum"),
    )
    ca, cb2 = cent.alias("ca"), cent.alias("cb")
    pair = (
        ca.join(
            cb2,
            (F.col("ca.dim") == F.col("cb.dim"))
            & (F.col("ca.label") != F.col("cb.label")),
        )
        .select(
            F.col("ca.label").alias("la"),
            F.col("cb.label").alias("lb"),
            (
                (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
                * (
                    F.col("ca.s").cast("decimal(38,0)") * F.col("cb.n")
                    - F.col("cb.s").cast("decimal(38,0)") * F.col("ca.n")
                )
            ).alias("d2"),
            F.col("ca.n").alias("na"),
            F.col("cb.n").alias("nb"),
        )
        .groupBy("la", "lb")
        .agg(
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
            F.sum("d2").alias("d2sum"),
        )
        .select(
            "la",
            F.expr(
                "SQRT(CAST(d2sum AS DOUBLE))"
                f" / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * {S.Q_SCALE})"
            ).alias("cdist"),
        )
        .groupBy("la")
        .agg(F.min("cdist").alias("b_dist"))
    )
    return (
        a_side.join(pair, F.col("label") == F.col("la"))
        .select(
            "label",
            "n_points",
            F.round(
                F.expr("CAST(d_sum AS DOUBLE) / CAST(n_points AS DOUBLE) / 1e6"),
                6,
            ).alias("a_mean"),
            F.round("b_dist", 6).alias("b_near"),
            F.round(
                F.expr(
                    "(b_dist - CAST(d_sum AS DOUBLE)"
                    " / CAST(n_points AS DOUBLE) / 1e6)"
                    " / GREATEST(b_dist, CAST(d_sum AS DOUBLE)"
                    "            / CAST(n_points AS DOUBLE) / 1e6)"
                ),
                6,
            ).alias("silhouette"),
        )
        .orderBy("label")
    )

_SILHOUETTE_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM q GROUP BY label, dim
), dev AS (
  SELECT q.label, q.vec_id, MIN(c.n) AS n,
         SUM((CAST(q.v AS HUGEINT) * c.n - c.s)
             * (CAST(q.v AS HUGEINT) * c.n - c.s)) AS d2sum
  FROM q JOIN cent c ON q.label = c.label AND q.dim = c.dim
  GROUP BY q.label, q.vec_id
), dq AS (
  SELECT label,
         CAST(ROUND(SQRT(CAST(d2sum AS DOUBLE))
              / (CAST(n AS DOUBLE) * 1000000) * 1e6) AS BIGINT) AS d_q
  FROM dev
), a_side AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(d_q) AS BIGINT) AS d_sum
  FROM dq GROUP BY label
), pair AS (
  SELECT la, MIN(cdist) AS b_dist FROM (
    SELECT ca.label AS la, cb.label AS lb,
           SQRT(CAST(SUM((CAST(ca.s AS HUGEINT) * cb.n
                          - CAST(cb.s AS HUGEINT) * ca.n)
                         * (CAST(ca.s AS HUGEINT) * cb.n
                            - CAST(cb.s AS HUGEINT) * ca.n)) AS DOUBLE))
             / (CAST(MIN(ca.n) AS DOUBLE) * CAST(MIN(cb.n) AS DOUBLE)
                * 1000000) AS cdist
    FROM cent ca JOIN cent cb
      ON ca.dim = cb.dim AND ca.label <> cb.label
    GROUP BY ca.label, cb.label
  ) GROUP BY la
)
SELECT a.label, a.n_points,
       ROUND(CAST(a.d_sum AS DOUBLE) / CAST(a.n_points AS DOUBLE) / 1e6, 6)
         AS a_mean,
       ROUND(p.b_dist, 6) AS b_near,
       ROUND((p.b_dist - CAST(a.d_sum AS DOUBLE)
              / CAST(a.n_points AS DOUBLE) / 1e6)
             / GREATEST(p.b_dist, CAST(a.d_sum AS DOUBLE)
                        / CAST(a.n_points AS DOUBLE) / 1e6), 6) AS silhouette
FROM a_side a JOIN pair p ON a.label = p.la
ORDER BY a.label
"""

QUERIES = {
    "mm_jpeg_color_roundtrip_agg": mm_jpeg_color_roundtrip_agg,
    "ts_spectral_peaks_daily": ts_spectral_peaks_daily,
    "cust_category_entropy": cust_category_entropy,
    "graph_powerlaw_degree_fit": graph_powerlaw_degree_fit,
    "emb_silhouette_centroid": emb_silhouette_centroid,
    "stat_bartlett_qty": stat_bartlett_qty,
    "rank_kendall_w_nations": rank_kendall_w_nations,
    "ml_psi_priority_shift": ml_psi_priority_shift,
    "sup_cr4_concentration": sup_cr4_concentration,
    "ord_mase_seasonal": ord_mase_seasonal,
    "stat_grubbs_max": stat_grubbs_max,
}

ORACLES = {
    "mm_jpeg_color_roundtrip_agg": _COLOR_SQL,
    "ts_spectral_peaks_daily": _SPECTRAL_SQL,
    "cust_category_entropy": _CUST_ENTROPY_SQL,
    "graph_powerlaw_degree_fit": _POWERLAW_SQL,
    "emb_silhouette_centroid": _SILHOUETTE_SQL,
    "stat_bartlett_qty": _BARTLETT_SQL,
    "rank_kendall_w_nations": _KENDALL_W_SQL,
    "ml_psi_priority_shift": _PSI_SQL,
    "sup_cr4_concentration": _CR4_SQL,
    "ord_mase_seasonal": _MASE_SQL,
    "stat_grubbs_max": _GRUBBS_SQL,
}
