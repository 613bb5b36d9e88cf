"""Round-12 wave 51: damped-trend and holdout-scored exponential
smoothing, ordered-trend rank testing, cluster-validity dispersion
ratio, spectral flatness of the event stream, and a self-measured
recall harness for the text LSH pipeline.

- ts_holt_winters_damped: Gardner-McKenzie damped-trend additive
  Holt-Winters (phi 7/8) over the same calendar-anchored 36-month
  window as ts_holt_winters_additive — the l/b recurrences damp the
  trend by phi each round and the h-step forecast uses the partial
  geometric sum phi + ... + phi^h (emitted as exact repr literals so
  both engines parse identical doubles).
- ts_holt_winters_mase: forecast-accuracy audit — fit the additive
  model on months [T-47, T-12], forecast the held-out last 12 months,
  and scale the errors by the in-sample seasonal-naive MAE
  (Hyndman's MASE).  Same 1-row wide-state unrolling, window 48.
- stat_page_trend: Page's L ordered-alternative test (does nation
  revenue trend UP across the order years?) on the same completed
  nation x year grid as rank_kendall_w_nations — doubled midranks
  within each nation keep L exact; classical no-ties null moments
  E[L] = n k (k+1)^2 / 4, Var[L] = n k^2 (k+1)(k^2-1) / 144
  (Hollander & Wolfe; the tie moment is reported alongside so a
  tied grid is visible in the output).
- emb_calinski_harabasz: between/within dispersion ratio
  CH = (B/(k-1)) / (W/(N-k)) over the embedding labels, from the
  same exact integer centroid shapes as emb_davies_bouldin —
  per-label W_l and B_l numerators stay decimal-exact and are
  micro-quantized per label before the order-free global sums.
- ev_spectral_entropy: normalized spectral entropy of the daily
  event-count series over single-bin DFT powers at periods 2..64
  days (the ts_spectral_peaks_daily machinery) — per-bin powers are
  exact integers built from micro-quantized cos/sin terms, and the
  entropy is assembled in integer micro-nats (ln terms quantized
  before the order-free sums).
- doc_lsh_recall_vs_exact: self-measured recall of the PORTABLE
  MinHash-LSH near-dup pipeline against exact shingle Jaccard on a
  fixed bounded probe panel (doc_id % 7 == 0 AND doc_id < 3500) —
  the text twin of the emb_* recall harnesses (plans/wave46.py).
  Truth pairs >= the LSH threshold always survive the pipeline's
  exact-verify step, so recall measures the banding, which is the
  approximate stage.

Reference parity: the reference repo (a 400-line scrape-and-upload
DAG, see SURVEY.md) has no analytics surface; these extend the
forecasting, rank-statistics, cluster-quality, and dedup-evaluation
families a 100 TB training-data pipeline needs.  Scale notes live in
each docstring; every query is a bounded rollup of one fact scan
(the LSH recall adds one panel-broadcast shingle join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.operators import dedup as D
from planning_center_data_pipeline_spark.plans.extensions import (
    _MINHASH_FAMILY_CTE,
    _SHINGLE_CTE,
)
from planning_center_data_pipeline_spark.plans.wave50 import (
    _HW_PHI,
    _HW_WINDOW,
    _hw_sql_wide_ctes,
    _hw_update_exprs,
    _hw_wide,
)
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- damped-trend Holt-Winters --------------------------------------------------------


def _damp_sums() -> list[str]:
    """repr literals of phi + phi^2 + ... + phi^h for h = 1..12; both
    engines parse the identical shortest-roundtrip decimal to the
    identical double, so the forecast expression trees match
    bit-for-bit."""
    phi = float(_HW_PHI)
    out, p, s = [], 1.0, 0.0
    for _ in range(12):
        p *= phi
        s += p
        out.append(repr(s))
    return out


def ts_holt_winters_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-trend additive Holt-Winters (Gardner-McKenzie; alpha
    1/4, beta 1/8, gamma 1/4, phi 7/8, period 12) over the same
    calendar-anchored 36-month revenue window as
    ts_holt_winters_additive (plans/wave50.py — shared _hw_wide
    scaffold, shared gap semantics: a missing month NULLs all
    forecasts in both engines).  The recurrence damps the trend
    (l uses l + phi*b, b decays by phi — see _hw_update_exprs
    phi branch), and the h-step forecast is
    y(T+h) = l + (phi + ... + phi^h) * b + s_((h-1) mod 12).
    Scale shape: fact rollup to <= ~84 months; 1-row plan below."""
    wide = _hw_wide(spark, sf_dir, _HW_WINDOW)
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    state = wide.selectExpr(
        "*",
        f"({y1}) / 12.0 AS l",
        f"(({y2}) - ({y1})) / 144.0 AS b",
    ).selectExpr(
        "l",
        "b",
        *[f"y{i} - l AS s{i}" for i in range(12)],
        *[f"y{i}" for i in range(12, _HW_WINDOW)],
    )
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs(phi=_HW_PHI)):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _HW_WINDOW)]
        state = state.selectExpr(
            f"{lnew} AS l",
            f"{bnew} AS b",
            *[
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ],
            *keep_y,
        )
    dsums = _damp_sums()
    entries = ", ".join(
        f"named_struct('h', CAST({h} AS BIGINT), 'forecast',"
        f" ROUND((l + {dsums[h - 1]} * b + s{(h - 1) % 12}) / 100.0, 6))"
        for h in range(1, 13)
    )
    return state.selectExpr(f"inline(array({entries}))").orderBy("h")


def _hw_damped_sql() -> str:
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    ctes = [
        _hw_sql_wide_ctes(_HW_WINDOW)
        + f""", st0 AS (
  SELECT *, ({y1}) / 12.0 AS l, (({y2}) - ({y1})) / 144.0 AS b
  FROM wide
), st1 AS (
  SELECT l, b,
         {", ".join(f"y{i} - l AS s{i}" for i in range(12))},
         {", ".join(f"y{i}" for i in range(12, _HW_WINDOW))}
  FROM st0
)"""
    ]
    prev = "st1"
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs(phi=_HW_PHI)):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _HW_WINDOW)]
        nxt = f"u{r}"
        cols = ", ".join(
            [f"{lnew} AS l", f"{bnew} AS b"]
            + [
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ]
            + keep_y
        )
        ctes.append(f"{nxt} AS (SELECT {cols} FROM {prev})")
        prev = nxt
    dsums = _damp_sums()
    forecasts = "\nUNION ALL\n".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" ROUND((l + {dsums[h - 1]} * b + s{(h - 1) % 12}) / 100.0, 6)"
        f" AS forecast"
        f" FROM {prev}"
        for h in range(1, 13)
    )
    return f"WITH {', '.join(ctes)}\n{forecasts}\nORDER BY h"


# --- Holt-Winters holdout MASE ---------------------------------------------------------

_MASE_WINDOW = 48  # 36 training months + 12 held-out months


def _mase_fc(h: int) -> str:
    return f"l + {h}.0 * b + s{(h - 1) % 12}"


def _mase_expr() -> str:
    """The global MASE as ONE expression string over the final 1-row
    state (identical text in every output row and in both engines):
    mean |holdout error| / in-sample seasonal-naive MAE (den)."""
    errs = " + ".join(
        f"ABS(y{35 + h} - ({_mase_fc(h)}))" for h in range(1, 13)
    )
    return f"ROUND((({errs}) / 12.0) / den, 6)"


def ts_holt_winters_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout forecast-accuracy audit of the additive Holt-Winters
    model: fit on the 36 months [T-47, T-12] (identical init + update
    expressions to ts_holt_winters_additive — _hw_update_exprs
    defaults), forecast h = 1..12 against the OBSERVED last 12
    months, and report each error plus Hyndman's MASE = mean |err| /
    mean_{t=13..36} |y_t - y_{t-12}| (the training window's seasonal
    naive MAE, carried through the unrolled rounds as the 1-row `den`
    column).  MASE < 1 means the model beats the seasonal naive on
    held-out data.  Scale shape: fact rollup to <= ~84 months; 1-row
    plan below; same calendar-anchored NULL-on-gap semantics as the
    other HW queries."""
    wide = _hw_wide(spark, sf_dir, _MASE_WINDOW)
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    den = (
        "("
        + " + ".join(f"ABS(y{i} - y{i - 12})" for i in range(12, 36))
        + ") / 24.0"
    )
    state = wide.selectExpr(
        "*",
        f"({y1}) / 12.0 AS l",
        f"(({y2}) - ({y1})) / 144.0 AS b",
        f"{den} AS den",
    ).selectExpr(
        "l",
        "b",
        "den",
        *[f"y{i} - l AS s{i}" for i in range(12)],
        *[f"y{i}" for i in range(12, _MASE_WINDOW)],
    )
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _MASE_WINDOW)]
        state = state.selectExpr(
            f"{lnew} AS l",
            f"{bnew} AS b",
            "den",
            *[
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ],
            *keep_y,
        )
    mase = _mase_expr()
    entries = ", ".join(
        f"named_struct('h', CAST({h} AS BIGINT),"
        f" 'forecast', ROUND(({_mase_fc(h)}) / 100.0, 6),"
        f" 'observed', ROUND(y{35 + h} / 100.0, 6),"
        f" 'abs_err', ROUND(ABS(y{35 + h} - ({_mase_fc(h)})) / 100.0, 6),"
        f" 'mase', {mase})"
        for h in range(1, 13)
    )
    return state.selectExpr(f"inline(array({entries}))").orderBy("h")


def _hw_mase_sql() -> str:
    y1 = " + ".join(f"y{i}" for i in range(12))
    y2 = " + ".join(f"y{i}" for i in range(12, 24))
    den = (
        "("
        + " + ".join(f"ABS(y{i} - y{i - 12})" for i in range(12, 36))
        + ") / 24.0"
    )
    ctes = [
        _hw_sql_wide_ctes(_MASE_WINDOW)
        + f""", st0 AS (
  SELECT *, ({y1}) / 12.0 AS l, (({y2}) - ({y1})) / 144.0 AS b,
         {den} AS den
  FROM wide
), st1 AS (
  SELECT l, b, den,
         {", ".join(f"y{i} - l AS s{i}" for i in range(12))},
         {", ".join(f"y{i}" for i in range(12, _MASE_WINDOW))}
  FROM st0
)"""
    ]
    prev = "st1"
    for r, (lnew, bnew, snews) in enumerate(_hw_update_exprs()):
        i = 12 + r
        keep_y = [f"y{j}" for j in range(i + 1, _MASE_WINDOW)]
        nxt = f"u{r}"
        cols = ", ".join(
            [f"{lnew} AS l", f"{bnew} AS b", "den"]
            + [
                f"{snews[s]} AS s{s}" if s in snews else f"s{s}"
                for s in range(12)
            ]
            + keep_y
        )
        ctes.append(f"{nxt} AS (SELECT {cols} FROM {prev})")
        prev = nxt
    mase = _mase_expr()
    forecasts = "\nUNION ALL\n".join(
        f"SELECT CAST({h} AS BIGINT) AS h,"
        f" ROUND(({_mase_fc(h)}) / 100.0, 6) AS forecast,"
        f" ROUND(y{35 + h} / 100.0, 6) AS observed,"
        f" ROUND(ABS(y{35 + h} - ({_mase_fc(h)})) / 100.0, 6) AS abs_err,"
        f" {mase} AS mase"
        f" FROM {prev}"
        for h in range(1, 13)
    )
    return f"WITH {', '.join(ctes)}\n{forecasts}\nORDER BY h"


# --- Page's L trend test ---------------------------------------------------------------


def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-alternative test: does yearly revenue trend
    monotonically across the order years, consistently over the 25
    nations?  Subjects = nations, ordered treatments = years (j = 1
    oldest).  The nation x year grid is completed with 0-revenue
    cells (the rank_kendall_w_nations grid, plans/wave49.py,
    transposed: ranks run WITHIN each nation across years), DOUBLED
    midranks keep L exact (L2 = sum j * r2 = 2L), and the classical
    no-ties null moments (Hollander & Wolfe: E[L] = n k (k+1)^2 / 4,
    Var[L] = n k^2 (k+1)(k^2-1) / 144) give the large-sample z.  The
    within-nation tie moment sum(t^2 - 1) is reported so a tied grid
    (which biases the no-ties variance) is visible in the result.
    Scale shape: one fact rollup to the bounded 25 x |years| grid;
    windows partitioned per nation over |years| rows."""
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
    years = rev.select(F.col("yr").alias("year")).distinct().select(
        "year",
        F.rank().over(Window.orderBy("year")).cast("bigint").alias("j"),
    )
    grid = (
        n.select(F.col("n_nationkey").alias("nation_key"))
        .crossJoin(F.broadcast(years))
        .join(
            rev,
            (F.col("nation_key") == F.col("nk")) & (F.col("year") == F.col("yr")),
            "left",
        )
        .select(
            "nation_key",
            "year",
            "j",
            F.coalesce("cents", F.lit(0)).alias("cents"),
        )
    )
    wn = Window.partitionBy("nation_key").orderBy("cents")
    wt = Window.partitionBy("nation_key", "cents")
    ranked = grid.select(
        "nation_key",
        "j",
        (
            2 * F.rank().over(wn) + F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias("r2"),
        (
            F.count(F.lit(1)).over(wt) * F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias("t2m1"),
    )
    nsub = grid.select("nation_key").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects")
    )
    kyr = years.agg(F.count(F.lit(1)).cast("bigint").alias("k_years"))
    stats = (
        ranked.agg(
            F.sum(F.col("j") * F.col("r2")).cast("bigint").alias("l2"),
            F.sum("t2m1").cast("bigint").alias("tsum"),
        )
        .crossJoin(F.broadcast(nsub))
        .crossJoin(F.broadcast(kyr))
    )
    z_expr = (
        "(CAST(l2 AS DOUBLE)"
        " - CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1)"
        "        AS DOUBLE) / 2.0)"
        " / (2.0 * SQRT(CAST(n_subjects AS DOUBLE)"
        "       * CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)"
        "       * (CAST(k_years AS DOUBLE) + 1.0)"
        "       * (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE) - 1.0)"
        "       / 144.0))"
    )
    return stats.select(
        "n_subjects",
        "k_years",
        "l2",
        (
            F.col("n_subjects") * F.col("k_years")
            * (F.col("k_years") + 1) * (F.col("k_years") + 1)
            / F.lit(2)
        ).cast("bigint").alias("e_l2"),
        "tsum",
        F.round(F.expr(z_expr), 6).alias("z"),
    )


_PAGE_SQL = """
WITH rev AS (
  SELECT c.c_nationkey AS nk, EXTRACT(year FROM o_orderdate) AS yr,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), years AS (
  SELECT yr AS year, CAST(RANK() OVER (ORDER BY yr) AS BIGINT) AS j
  FROM (SELECT DISTINCT yr FROM rev)
), grid AS (
  SELECT n.n_nationkey AS nation_key, y.year, y.j,
         COALESCE(r.cents, 0) AS cents
  FROM nation n CROSS JOIN years y
  LEFT JOIN rev r ON r.nk = n.n_nationkey AND r.yr = y.year
), ranked AS (
  SELECT nation_key, j,
         CAST(2 * RANK() OVER (PARTITION BY nation_key ORDER BY cents)
              + COUNT(*) OVER (PARTITION BY nation_key, cents) - 1
              AS BIGINT) AS r2,
         CAST(COUNT(*) OVER (PARTITION BY nation_key, cents)
              * COUNT(*) OVER (PARTITION BY nation_key, cents) - 1
              AS BIGINT) AS t2m1
  FROM grid
), nsub AS (
  SELECT CAST(COUNT(DISTINCT nation_key) AS BIGINT) AS n_subjects
  FROM grid
), kyr AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_years FROM years),
stats AS (
  SELECT CAST(SUM(j * r2) AS BIGINT) AS l2,
         CAST(SUM(t2m1) AS BIGINT) AS tsum
  FROM ranked
)
SELECT n_subjects, k_years, l2,
       CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1) / 2
            AS BIGINT) AS e_l2,
       tsum,
       ROUND((CAST(l2 AS DOUBLE)
              - CAST(n_subjects * k_years * (k_years + 1) * (k_years + 1)
                     AS DOUBLE) / 2.0)
             / (2.0 * SQRT(CAST(n_subjects AS DOUBLE)
                   * CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                   * (CAST(k_years AS DOUBLE) + 1.0)
                   * (CAST(k_years AS DOUBLE) * CAST(k_years AS DOUBLE)
                      - 1.0)
                   / 144.0)), 6) AS z
FROM stats CROSS JOIN nsub CROSS JOIN kyr
"""


# --- Calinski-Harabasz dispersion ratio ------------------------------------------------


def emb_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz index over the embedding labels:
    CH = (B/(k-1)) / (W/(N-k)), W_l = sum_i ||x_i - c_l||^2 within
    label l and B_l = n_l ||c_l - c||^2, from the exact integer
    centroid shapes of emb_davies_bouldin (plans/wave50.py): per-dim
    quantized sums keep W_l's numerator n_l * ssq_l - sum_d s_ld^2
    and B_l's numerator sum_d (s_ld N - g_d n_l)^2 exact in
    decimal(38,0); each label's dispersion is converted to original
    units and micro-quantized BEFORE the order-free cross-label sums.
    The quantization scale cancels in the B/W ratio.  Scale shape:
    one |E| x 64 explode rollup; everything below is label-bounded
    (10 x 64)."""
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        "vec_id",
        F.posexplode(S.quantized(F.col("embedding"))).alias("dim", "v"),
    )
    cent = q.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("v")
        ).alias("ssq"),
    )
    glob = cent.groupBy("dim").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s").cast("bigint").alias("g"),
    )
    # within: W_l = (n_l * ssq_l - sum_d s_ld^2) / n_l, exact numerator
    per_label_w = (
        cent.select(
            "label",
            "n",
            (
                F.col("n").cast("decimal(38,0)") * F.col("ssq")
                - F.col("s").cast("decimal(38,0)") * F.col("s")
            ).alias("wnum"),
        )
        .groupBy("label")
        .agg(F.min("n").alias("n_points"), F.sum("wnum").alias("wnum"))
        .select(
            "label",
            "n_points",
            F.expr(
                "CAST(ROUND(CAST(wnum AS DOUBLE) / CAST(n_points AS DOUBLE)"
                f" / 1e12 * 1e6) AS BIGINT)"
            ).alias("w_q"),
        )
    )
    # between: B_l = sum_d (s_ld * N - g_d * n_l)^2 / (n_l * N^2)
    per_label_b = (
        cent.join(glob, "dim")
        .select(
            "label",
            "n",
            "nn",
            (
                (
                    F.col("s").cast("decimal(38,0)") * F.col("nn")
                    - F.col("g").cast("decimal(38,0)") * F.col("n")
                )
                * (
                    F.col("s").cast("decimal(38,0)") * F.col("nn")
                    - F.col("g").cast("decimal(38,0)") * F.col("n")
                )
            ).alias("bnum"),
        )
        .groupBy("label")
        .agg(
            F.min("n").alias("n"),
            F.min("nn").alias("nn"),
            F.sum("bnum").alias("bnum"),
        )
        .select(
            "label",
            F.expr(
                "CAST(ROUND(CAST(bnum AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE)"
                "    * CAST(nn AS DOUBLE))"
                f" / 1e12 * 1e6) AS BIGINT)"
            ).alias("b_q"),
        )
    )
    per_label = per_label_w.join(per_label_b, "label")
    gl = per_label.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w_q").cast("bigint").alias("w_sum"),
        F.sum("b_q").cast("bigint").alias("b_sum"),
        F.sum("n_points").cast("bigint").alias("n_total"),
    ).select("k", "w_sum", "b_sum", "n_total")
    ch_expr = (
        "ROUND((CAST(b_sum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))"
        " / (CAST(w_sum AS DOUBLE)"
        "    / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6)"
    )
    return (
        per_label.crossJoin(F.broadcast(gl))
        .select(
            "label",
            "n_points",
            F.round(F.col("w_q").cast("double") / 1e6, 6).alias("w_within"),
            F.round(F.col("b_q").cast("double") / 1e6, 6).alias("b_between"),
            F.expr(ch_expr).alias("ch_index"),
        )
        .orderBy("label")
    )


_CH_SQL = """
WITH q AS (
  SELECT label, vec_id, i - 1 AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM (SELECT label, vec_id, embedding,
               unnest(generate_series(1, 64)) AS i FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         SUM(CAST(v AS HUGEINT) * v) AS ssq
  FROM q GROUP BY label, dim
), gdim AS (
  SELECT dim, CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS g
  FROM cent GROUP BY dim
), plw AS (
  SELECT label, MIN(n) AS n_points,
         CAST(ROUND(CAST(SUM(CAST(n AS HUGEINT) * ssq
                             - CAST(s AS HUGEINT) * s) AS DOUBLE)
                    / CAST(MIN(n) AS DOUBLE)
                    / 1e12 * 1e6) AS BIGINT) AS w_q
  FROM cent GROUP BY label
), plb AS (
  SELECT c.label,
         CAST(ROUND(CAST(SUM((CAST(c.s AS HUGEINT) * gdim.nn
                              - CAST(gdim.g AS HUGEINT) * c.n)
                             * (CAST(c.s AS HUGEINT) * gdim.nn
                                - CAST(gdim.g AS HUGEINT) * c.n))
                         AS DOUBLE)
                    / (CAST(MIN(c.n) AS DOUBLE) * CAST(MIN(gdim.nn) AS DOUBLE)
                       * CAST(MIN(gdim.nn) AS DOUBLE))
                    / 1e12 * 1e6) AS BIGINT) AS b_q
  FROM cent c JOIN gdim USING (dim) GROUP BY c.label
), pl AS (
  SELECT plw.label, plw.n_points, plw.w_q, plb.b_q
  FROM plw JOIN plb ON plw.label = plb.label
), gl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(w_q) AS BIGINT) AS w_sum,
         CAST(SUM(b_q) AS BIGINT) AS b_sum,
         CAST(SUM(n_points) AS BIGINT) AS n_total
  FROM pl
)
SELECT label, n_points,
       ROUND(CAST(w_q AS DOUBLE) / 1e6, 6) AS w_within,
       ROUND(CAST(b_q AS DOUBLE) / 1e6, 6) AS b_between,
       ROUND((CAST(b_sum AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
             / (CAST(w_sum AS DOUBLE)
                / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))), 6)
         AS ch_index
FROM pl CROSS JOIN gl
ORDER BY label
"""


# --- spectral entropy of the daily event series ----------------------------------------


def ev_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of the daily event-count series:
    single-bin DFT powers P_p at periods p = 2..64 days (the
    ts_spectral_peaks_daily machinery, plans/wave49.py — per-day
    cos/sin terms micro-quantized so the cross-day sums are order-free
    integers), then H = -(sum_p q_p ln q_p) with q_p = P_p / S
    assembled in integer micro-nats: H = (S*lnq(S) - sum P*lnq(P))/S
    with every ln term quantized to 1e6 BEFORE the order-free sums
    (the cust_category_entropy idiom).  spectral_entropy = H /
    ln(n_bins) in [0, 1] — near 1 is white (flat spectrum), near 0 is
    a dominant period.  Scale shape: one fact rollup to <= ~2400
    days, 63-row bounded bin grid, 1-row output."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.to_date("ts").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    d0 = daily.agg(F.min("d").alias("d0"))
    indexed = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"), "c"
    )
    periods = spark.range(1).select(
        F.explode(F.sequence(F.lit(2), F.lit(64))).alias("p")
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
    power = (
        terms.groupBy("p")
        .agg(
            F.sum("aq").cast("bigint").alias("a_sum"),
            F.sum("bq").cast("bigint").alias("b_sum"),
        )
        .select(
            "p",
            (
                F.col("a_sum").cast("decimal(38,0)") * F.col("a_sum")
                + F.col("b_sum").cast("decimal(38,0)") * F.col("b_sum")
            ).alias("pw"),
        )
    )
    nz = power.where(F.col("pw") > 0).select(
        "pw",
        (
            F.col("pw")
            * F.expr("CAST(ROUND(LN(CAST(pw AS DOUBLE)) * 1e6) AS BIGINT)")
        ).alias("plnp"),
    )
    agg = nz.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.sum("pw").alias("s"),
        F.sum("plnp").alias("plnp_sum"),
    )
    n_bins = power.agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"))
    h_expr = (
        "ROUND((CAST(s AS DOUBLE)"
        " * CAST(ROUND(LN(CAST(s AS DOUBLE)) * 1e6) AS BIGINT)"
        " - CAST(plnp_sum AS DOUBLE)) / CAST(s AS DOUBLE)) / 1e6"
    )
    return (
        agg.crossJoin(F.broadcast(n_bins))
        .select(
            "n_bins",
            "n_nonzero",
            F.round(F.expr(h_expr), 6).alias("entropy_nats"),
            F.round(
                F.expr(h_expr) / F.expr("LN(CAST(n_bins AS DOUBLE))"), 6
            ).alias("spectral_entropy"),
        )
    )


_SPECTRAL_ENTROPY_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), d0 AS (SELECT MIN(d) AS d0 FROM daily),
indexed AS (
  SELECT CAST(DATEDIFF('day', d0, d) AS BIGINT) AS t, c
  FROM daily CROSS JOIN d0
), periods AS (SELECT unnest(generate_series(2, 64)) AS p),
terms AS (
  SELECT p,
         CAST(ROUND(CAST(c AS DOUBLE)
              * COS(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS aq,
         CAST(ROUND(CAST(c AS DOUBLE)
              * SIN(2 * PI() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE))
              * 1e6) AS BIGINT) AS bq
  FROM indexed CROSS JOIN periods
), power AS (
  SELECT p,
         CAST(SUM(aq) AS HUGEINT) * CAST(SUM(aq) AS HUGEINT)
           + CAST(SUM(bq) AS HUGEINT) * CAST(SUM(bq) AS HUGEINT) AS pw
  FROM terms GROUP BY p
), nz AS (
  SELECT pw,
         pw * CAST(ROUND(LN(CAST(pw AS DOUBLE)) * 1e6) AS HUGEINT) AS plnp
  FROM power WHERE pw > 0
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nonzero, SUM(pw) AS s,
         SUM(plnp) AS plnp_sum
  FROM nz
), nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bins FROM power)
SELECT n_bins, n_nonzero,
       ROUND(ROUND((CAST(s AS DOUBLE)
                    * CAST(ROUND(LN(CAST(s AS DOUBLE)) * 1e6) AS BIGINT)
                    - CAST(plnp_sum AS DOUBLE)) / CAST(s AS DOUBLE))
             / 1e6, 6) AS entropy_nats,
       ROUND(ROUND((CAST(s AS DOUBLE)
                    * CAST(ROUND(LN(CAST(s AS DOUBLE)) * 1e6) AS BIGINT)
                    - CAST(plnp_sum AS DOUBLE)) / CAST(s AS DOUBLE))
             / 1e6 / LN(CAST(n_bins AS DOUBLE)), 6) AS spectral_entropy
FROM agg CROSS JOIN nb
"""


# --- LSH recall vs exact Jaccard on a fixed panel ---------------------------------------

_PANEL_MOD = 7
_PANEL_CAP = 3500  # bounded panel at any SF (eval-harness contract)


def doc_lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measured recall of the portable MinHash-LSH near-dup
    pipeline (16 hashes, 4 bands of 4, threshold 0.5 — the
    doc_minhash_lsh_portable configuration) against exact shingle
    Jaccard, on the fixed probe panel doc_id % {m} == 0 AND
    doc_id < {cap} (bounded <= {sz} docs at any SF).  Ground truth =
    all pairs with exact Jaccard >= 0.5 touching the panel, computed
    by broadcasting the panel's shingles against the corpus shingle
    table; every truth pair survives the LSH pipeline's exact-verify
    step, so recall isolates the BANDING stage — the approximate part.
    Scale shape: one corpus shingle scan joined to a broadcast panel
    (bounded), plus the LSH pipeline itself (banded bucket join, the
    100 TB path).""".format(m=_PANEL_MOD, cap=_PANEL_CAP,
                            sz=_PANEL_CAP // _PANEL_MOD)
    d = load_table(spark, sf_dir, "documents")
    # one shingle scan shared by the truth side and the LSH pipeline;
    # lazily checkpointed so the four consumers read a materialized
    # table instead of re-running tokenize/shingle/explode each
    sh = D.shingle_table(d, "doc_id", "text", k=3).localCheckpoint(
        eager=False
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    is_panel = (F.col("doc_id") % _PANEL_MOD == 0) & (
        F.col("doc_id") < _PANEL_CAP
    )
    panel_sh = sh.where(is_panel).select(
        F.col("doc_id").alias("pid"), "shingle"
    )
    common = (
        sh.join(F.broadcast(panel_sh), "shingle")
        .where(F.col("doc_id") != F.col("pid"))
        .groupBy("pid", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    z1 = sizes.select(F.col("doc_id").alias("pid"), F.col("n_sh").alias("n1"))
    z2 = sizes.select(F.col("doc_id"), F.col("n_sh").alias("n2"))
    truth = (
        common.join(F.broadcast(z1), "pid")
        .join(z2, "doc_id")
        .where(
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double")
            >= 0.5
        )
        .select(
            F.least("pid", "doc_id").alias("id_1"),
            F.greatest("pid", "doc_id").alias("id_2"),
        )
        .distinct()
    )
    panel_pair = (
        (F.col("id_1") % _PANEL_MOD == 0) & (F.col("id_1") < _PANEL_CAP)
    ) | ((F.col("id_2") % _PANEL_MOD == 0) & (F.col("id_2") < _PANEL_CAP))
    lsh = D.minhash_near_dups_portable(
        d,
        "doc_id",
        "text",
        k=3,
        n_hashes=16,
        bands=4,
        threshold=0.5,
        shingle_df=sh,
        # only panel-touching candidates can intersect truth, so the
        # exact rescore is restricted to them (mirrored in the oracle)
        pair_predicate=panel_pair,
    ).select("id_1", "id_2")
    caught = truth.join(lsh, ["id_1", "id_2"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_caught")
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_panel = (
        d.where(is_panel)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_panel_docs"))
    )
    return (
        n_panel.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(caught))
        .select(
            "n_panel_docs",
            "n_truth",
            "n_caught",
            F.round(
                F.col("n_caught").cast("double")
                / F.col("n_truth").cast("double"),
                6,
            ).alias("recall"),
        )
    )


_LSH_RECALL_SQL = f"""
WITH {_SHINGLE_CTE}, {_MINHASH_FAMILY_CTE}, sigs AS (
  SELECT doc_id, j, MIN(hv) AS minhash
  FROM hs
  GROUP BY doc_id, j
), sig_arr AS (
  SELECT doc_id, list(minhash ORDER BY j) AS sig FROM sigs GROUP BY doc_id
), banded AS (
  SELECT doc_id, b,
         md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_key
  FROM sig_arr
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
), cands AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM banded a JOIN banded b
    ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE (a.doc_id % {_PANEL_MOD} = 0 AND a.doc_id < {_PANEL_CAP})
     OR (b.doc_id % {_PANEL_MOD} = 0 AND b.doc_id < {_PANEL_CAP})
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), lsh AS (
  SELECT id_1, id_2, COUNT(*) AS n_common
  FROM cands
  JOIN sh s1 ON s1.doc_id = id_1
  JOIN sh s2 ON s2.doc_id = id_2 AND s1.shingle = s2.shingle
  GROUP BY id_1, id_2
), lsh_pairs AS (
  SELECT id_1, id_2
  FROM lsh
  JOIN sizes za ON za.doc_id = id_1
  JOIN sizes zb ON zb.doc_id = id_2
  WHERE CAST(n_common AS DOUBLE)
        / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) >= 0.5
), panel_sh AS (
  SELECT doc_id AS pid, shingle FROM sh
  WHERE doc_id % {_PANEL_MOD} = 0 AND doc_id < {_PANEL_CAP}
), common AS (
  SELECT p.pid, s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh s JOIN panel_sh p ON s.shingle = p.shingle
  WHERE s.doc_id <> p.pid
  GROUP BY p.pid, s.doc_id
), truth AS (
  SELECT DISTINCT LEAST(pid, c.doc_id) AS id_1,
                  GREATEST(pid, c.doc_id) AS id_2
  FROM common c
  JOIN sizes z1 ON z1.doc_id = c.pid
  JOIN sizes z2 ON z2.doc_id = c.doc_id
  WHERE CAST(n_common AS DOUBLE)
        / CAST(z1.n_sh + z2.n_sh - n_common AS DOUBLE) >= 0.5
), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_caught
  FROM truth t JOIN lsh_pairs l
    ON t.id_1 = l.id_1 AND t.id_2 = l.id_2
), np AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_panel_docs FROM documents
  WHERE doc_id % {_PANEL_MOD} = 0 AND doc_id < {_PANEL_CAP}
)
SELECT n_panel_docs, n_truth, n_caught,
       ROUND(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
         AS recall
FROM np CROSS JOIN nt CROSS JOIN nc
"""


QUERIES = {
    "ts_holt_winters_damped": ts_holt_winters_damped,
    "ts_holt_winters_mase": ts_holt_winters_mase,
    "stat_page_trend": stat_page_trend,
    "emb_calinski_harabasz": emb_calinski_harabasz,
    "ev_spectral_entropy": ev_spectral_entropy,
    "doc_lsh_recall_vs_exact": doc_lsh_recall_vs_exact,
}

ORACLES = {
    "ts_holt_winters_damped": _hw_damped_sql(),
    "ts_holt_winters_mase": _hw_mase_sql(),
    "stat_page_trend": _PAGE_SQL,
    "emb_calinski_harabasz": _CH_SQL,
    "ev_spectral_entropy": _SPECTRAL_ENTROPY_SQL,
    "doc_lsh_recall_vs_exact": _LSH_RECALL_SQL,
}
