"""Round-6 wave 8: sketch-verified heavy hitters, weighted negative
sampling, survival analysis, IVF-PQ ANN, and calendar analytics that
were still absent from the operator inventory.

- freq_heavy_hitters: the two-pass Misra-Gries pattern — a bounded-
  memory mergeable sketch proposes candidates, an exact recount
  verifies them, so the OUTPUT is exact regardless of partitioning.
- rec_negative_sampling: popularity-weighted sampling WITH replacement
  via inverse-CDF over exact integer cumulative weights (the word2vec
  negative-sampling data op; the A-ES reservoir in wave6 is the
  without-replacement sibling).
- emb_ivfpq_adc: the real ANN-at-scale composition — IVF coarse
  quantizer restricts the scan to nprobe cells, PQ asymmetric-distance
  lookup tables score candidates without touching raw vectors.
- surv_hazard_curve: Nelson-Aalen cumulative hazard (the
  additive-exact sibling of Kaplan-Meier: hazard increments quantize
  to ppm integers BEFORE the prefix sum, so the curve is order-free).
- ts_yoy_growth / ts_seasonal_decompose: period-over-period growth and
  seasonal-median decomposition on exact integer cents.
- fn_collation_group: Spark 4 collation surface (UNICODE_CI grouping).

All seven carry full DuckDB oracles built from the repo-standard
portable primitives (md5-60 hashing, scaled-int64 money, integer
quantization before any aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from planning_center_data_pipeline_spark.functions.exact import cents
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.operators.dedup import md5_hash60
from planning_center_data_pipeline_spark.operators.parallelism import cpu_floor
from planning_center_data_pipeline_spark.sources.tables import load_table


# --- two-pass Misra-Gries exact heavy hitters --------------------------------

_MG_K = 199  # counters per partition sketch; threshold = N/(K+1)


def freq_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens with frequency > N/200) via
    the two-pass Misra-Gries pattern.

    Pass 1 runs a WEIGHTED Misra-Gries sketch per partition
    (mapInPandas, O(K) memory): any token with partition count
    > n_p/(K+1) must survive its partition's sketch, and a token with
    global count > N/(K+1) must exceed that bar in at least one
    partition (weighted pigeonhole) — so the union of per-partition
    survivors is a guaranteed SUPERSET of the true heavy hitters.
    Pass 2 recounts ONLY the candidates exactly (broadcast semi-join,
    then one small groupBy) and applies the integer threshold
    cnt*(K+1) > N.  The candidate set depends on partitioning; the
    OUTPUT does not — it is exactly the set of true heavy hitters.

    Scale: pass 1 never shuffles (map-side sketch, <= K rows out per
    partition); pass 2's groupBy touches only candidate tokens
    (<= K * partitions keys).  This is the groupBy-free answer to
    "top tokens over 100 TB of text" — the full-vocabulary shuffle of
    doc_word_freq never happens.  Tokenization is re-scanned in pass
    2: two cheap scans beat one shuffle of the full token stream.
    """
    d = cpu_floor(load_table(spark, sf_dir, "documents"), "doc_id", cap=16)
    toks = d.select(
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")

    def mg_sketch(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, w in pdf["tok"].value_counts().items():
                w = int(w)
                if tok in counters:
                    counters[tok] += w
                elif len(counters) < _MG_K:
                    counters[tok] = w
                else:
                    # weighted MG decrement: subtract dec from all K
                    # counters AND the incoming weight; every decrement
                    # round removes (K+1)*dec mass, so total per-token
                    # error <= n_p/(K+1).
                    m = min(counters.values())
                    dec = m if w > m else w
                    for key in list(counters):
                        nv = counters[key] - dec
                        if nv:
                            counters[key] = nv
                        else:
                            del counters[key]
                    if w > dec:
                        counters[tok] = w - dec
        yield pd.DataFrame({"tok": list(counters.keys())})

    cands = toks.mapInPandas(mg_sketch, "tok string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))  # 1-row total
        .filter(F.col("cnt") * (_MG_K + 1) > F.col("n_total"))
        .select("tok", "cnt")
        .orderBy(F.desc("cnt"), "tok")
    )


FREQ_HEAVY_HITTERS_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
), nonempty AS (
  SELECT tok FROM toks WHERE tok <> ''
), tot AS (
  SELECT COUNT(*) AS n_total FROM nonempty
)
SELECT tok, COUNT(*) AS cnt
FROM nonempty
GROUP BY tok
HAVING COUNT(*) * 200 > (SELECT n_total FROM tot)
ORDER BY cnt DESC, tok
"""


# --- popularity-weighted negative sampling (with replacement) ----------------

_NEG_DRAWS = 20_000
_NEG_BUCKET = 1_024


def rec_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-weighted negative sampling WITH replacement: 20k
    deterministic md5 draws land in exact integer cumulative-weight
    intervals (inverse-CDF), one interval per part, weight = purchase
    count.  The word2vec/recsys negative-sampling table, reproducible
    bit-for-bit in any engine.

    Plan shape: cumulative weights come from the two-phase prefix sum
    (range-partition on item, per-partition running sums, tiny offsets
    table broadcast back — no single-partition window over the items).
    The draw->interval lookup is a BUCKETED range join: each interval
    covers its span's buckets (explode bounded by W/B + n_items total
    rows), draws hash to one bucket, and the join is a plain equi-join
    on bucket plus an exact containment filter.  Never a cartesian:
    at 100 TB this shuffles on bucket id, and the output is one row
    per SAMPLED item (<= min(draws, items)).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("wt")
    )
    p = w.repartitionByRange(32, "item").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid").orderBy("item").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    local = p.withColumn("local_cum", F.sum("wt").over(w_local))
    totals = local.groupBy("pid").agg(F.sum("wt").alias("p_total"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "offset", F.coalesce(F.sum("p_total").over(w_off), F.lit(0))
    ).select("pid", "offset")
    cum = (
        local.join(F.broadcast(offsets), "pid")
        .withColumn("cum_end", F.col("local_cum") + F.col("offset"))
        .select("item", "wt", (F.col("cum_end") - F.col("wt")).alias("s"),
                F.col("cum_end").alias("e"))
    )
    grand = cum.agg(F.sum("wt").alias("w_total"))  # 1 row
    intervals = cum.select(
        "item", "wt", "s", "e",
        F.explode(
            F.sequence(
                F.expr(f"s DIV {_NEG_BUCKET}"),
                F.expr(f"(e - 1) DIV {_NEG_BUCKET}"),
            )
        ).alias("bucket"),
    )
    draws = (
        spark.range(_NEG_DRAWS)
        .crossJoin(F.broadcast(grand))
        .select(
            (
                md5_hash60(F.concat(F.lit("neg|"), F.col("id").cast("string")))
                % F.col("w_total")
            ).alias("d")
        )
        .select("d", F.expr(f"d DIV {_NEG_BUCKET}").alias("bucket"))
    )
    return (
        draws.join(intervals, "bucket")
        .filter((F.col("d") >= F.col("s")) & (F.col("d") < F.col("e")))
        .groupBy("item", "wt")
        .agg(F.count(F.lit(1)).alias("n_draws"))
        .orderBy("item")
    )


REC_NEGATIVE_SAMPLING_SQL = f"""
WITH w AS (
  SELECT l_partkey AS item, COUNT(*) AS wt FROM lineitem GROUP BY 1
), cum AS (
  SELECT item, wt,
         SUM(wt) OVER (ORDER BY item) - wt AS s,
         SUM(wt) OVER (ORDER BY item) AS e
  FROM w
), tot AS (
  SELECT SUM(wt) AS w_total FROM w
), draws AS (
  SELECT CAST('0x' || substr(md5('neg|' || CAST(i AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT w_total FROM tot) AS d
  FROM generate_series(0, {_NEG_DRAWS - 1}) t(i)
)
SELECT c.item, c.wt, COUNT(*) AS n_draws
FROM draws dr JOIN cum c ON dr.d >= c.s AND dr.d < c.e
GROUP BY 1, 2
ORDER BY item
"""


# --- IVF-PQ asymmetric-distance ANN search -----------------------------------

_IVF_CELLS = 8
_IVF_NPROBE = 2
_PQ_SUBS = 4
_PQ_DIM = 16
_PQ_CODES = 16
_IVFPQ_QUERIES = 4
_IVFPQ_TOPK = 5


def emb_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbours with asymmetric distance
    (ADC) — the composition a billion-vector index actually runs:

    1. A coarse quantizer (8 deterministic centroids = the quantized
       vectors of vec_id < 8) assigns every vector to one cell; a
       query scans only its nprobe=2 nearest cells.
    2. Product quantization (4 subspaces x 16 codes, codebook =
       subvectors of vec_id < 16) compresses each vector to 4 small
       codes; candidate scoring never touches raw vectors — it sums 4
       values from a per-query LOOKUP TABLE (query-subvector ->
       codeword distances, 4 x 16 = 64 ints per query).
    3. Top-5 per query by ADC distance, ties to the smaller vec_id.

    All arithmetic is exact int64 on 1e6-quantized components: the
    argmin/argsort orders are unambiguous and engine-portable.  Plan
    shape: every *codebook-sized* table (cells=8, codewords=64,
    LUT=queriesx64, query-probe map=8 rows) broadcasts; the
    corpus-sized tables (assignments, codes) equi-join on vec_id and
    shuffle only candidate rows (corpus/cells * nprobe per query).
    AQE decides the candidate-side strategy — nothing corpus-sized is
    hint-broadcast.  At 100 TB only step 1's assignment scans the full
    corpus; ADC scoring touches 4-byte codes, the point of PQ.
    """
    from planning_center_data_pipeline_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", S.quantized(F.col("embedding")).alias("v"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    coarse = qv.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    cd = qv.join(F.broadcast(coarse)).select(
        "vec_id", "cell", d2(F.col("v"), F.col("cv")).alias("d")
    )
    wa = Window.partitionBy("vec_id").orderBy("d", "cell")
    assign = (
        cd.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )

    subs = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    S.quantized(F.slice("embedding", s * _PQ_DIM + 1, _PQ_DIM))
                    for s in range(_PQ_SUBS)
                ]
            )
        ).alias("s", "sv"),
    )
    cent = subs.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").alias("cid"), "s", F.col("sv").alias("cv")
    )
    wc = Window.partitionBy("vec_id", "s").orderBy("d", "cid")
    codes = (
        subs.join(F.broadcast(cent), "s")
        .select("vec_id", "s", "cid", d2(F.col("sv"), F.col("cv")).alias("d"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"))
    )

    wq = Window.partitionBy("qid").orderBy("d", "cell")
    qprobe = (
        cd.filter(F.col("vec_id") < _IVFPQ_QUERIES)
        .select(F.col("vec_id").alias("qid"), "cell", "d")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "cell")
    )
    qsubs = subs.filter(F.col("vec_id") < _IVFPQ_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", F.col("sv").alias("qsv")
    )
    lut = qsubs.join(F.broadcast(cent), "s").select(
        "qid", "s", F.col("cid").alias("code"),
        d2(F.col("qsv"), F.col("cv")).alias("ld"),
    )

    cand = F.broadcast(qprobe).join(assign, "cell").select("qid", "vec_id")
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("ld").alias("adc_d2"))
    )
    wr = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _IVFPQ_TOPK)
        .select("qid", "rk", "vec_id", "adc_d2")
        .orderBy("qid", "rk")
    )


EMB_IVFPQ_ADC_SQL = f"""
WITH cv AS (
  SELECT vec_id, (i-1)//{_PQ_DIM} AS s, i,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT) AS v
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, {_PQ_SUBS * _PQ_DIM})) AS i
        FROM embeddings)
), coarse AS (
  SELECT c.vec_id, ct.cell, SUM((c.v-ct.v)*(c.v-ct.v)) AS d
  FROM cv c JOIN (SELECT vec_id AS cell, i, v FROM cv
                  WHERE vec_id < {_IVF_CELLS}) ct ON ct.i = c.i
  GROUP BY 1, 2
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM coarse) WHERE rn = 1
), cent AS (
  SELECT vec_id AS cid, s, i, v FROM cv WHERE vec_id < {_PQ_CODES}
), dist AS (
  SELECT c.vec_id, c.s, ct.cid, SUM((c.v-ct.v)*(c.v-ct.v)) AS d
  FROM cv c JOIN cent ct ON ct.s = c.s AND ct.i = c.i
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d, cid) AS rn
    FROM dist) WHERE rn = 1
), qprobe AS (
  SELECT qid, cell FROM (
    SELECT vec_id AS qid, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM coarse WHERE vec_id < {_IVFPQ_QUERIES}
  ) WHERE rn <= {_IVF_NPROBE}
), lut AS (
  SELECT d.vec_id AS qid, d.s, d.cid AS code, d.d AS ld
  FROM dist d WHERE d.vec_id < {_IVFPQ_QUERIES}
), cand AS (
  SELECT p.qid, a.vec_id FROM qprobe p JOIN assign a USING (cell)
), adc AS (
  SELECT c.qid, c.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_d2
  FROM cand c
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN lut l ON l.qid = c.qid AND l.s = k.s AND l.code = k.code
  GROUP BY 1, 2
)
SELECT qid, rk, vec_id, adc_d2 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY adc_d2, vec_id) AS rk
  FROM adc) WHERE rk <= {_IVFPQ_TOPK}
ORDER BY qid, rk
"""


# --- survival analysis: Nelson-Aalen cumulative hazard -----------------------


def surv_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer-churn hazard curve (Nelson-Aalen estimator).

    Subject = customer; duration = days between first and last order;
    event (churn) = last order more than 90 days before the dataset's
    end, else right-censored.  At each event time t: n_risk = subjects
    with duration >= t, d_events = churns at t, hazard = d/n.  The
    per-step hazard quantizes to an INTEGER (ppm) before the prefix
    sum, so the cumulative hazard is an exact integer aggregate —
    order-free and engine-portable (why we ship Nelson-Aalen rather
    than the multiplicative Kaplan-Meier: sums of pre-quantized ints
    are associative; products of doubles are not).

    Plan shape: one shuffle to the per-customer span, one tiny
    per-(nation, duration) agg, windows partitioned BY NATION (25
    parallel curves; rows per window bounded by the calendar span, not
    the subject count).  The 1-row dataset-end aggregate broadcasts.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    end = o.agg(F.max("o_orderdate").alias("maxd"))  # 1 row
    span = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            "o_custkey",
            F.datediff("last_d", "first_d").alias("dur"),
            (
                F.col("last_d") < F.col("maxd") - F.expr("INTERVAL 90 DAYS")
            ).cast("int").alias("event"),
        )
    )
    per_t = (
        span.join(c, span.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("dur").alias("dur_days"))
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("event").alias("d_events"),
        )
    )
    w_risk = (
        Window.partitionBy("nation")
        .orderBy(F.desc("dur_days"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_cum = (
        Window.partitionBy("nation")
        .orderBy("dur_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_t.withColumn("n_risk", F.sum("m").over(w_risk))
        .withColumn(
            "hazard_ppm",
            F.round(
                F.lit(1_000_000) * F.col("d_events") / F.col("n_risk")
            ).cast("bigint"),
        )
        .withColumn("cum_hazard_ppm", F.sum("hazard_ppm").over(w_cum))
        .filter(F.col("d_events") > 0)
        .select("nation", "dur_days", "n_risk", "d_events", "cum_hazard_ppm")
        .orderBy("nation", "dur_days")
    )


SURV_HAZARD_CURVE_SQL = """
WITH ends AS (
  SELECT MAX(o_orderdate) AS maxd FROM orders
), span AS (
  SELECT o_custkey,
         date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS dur,
         CASE WHEN MAX(o_orderdate) <
                   (SELECT maxd FROM ends) - INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS event
  FROM orders GROUP BY 1
), per_t AS (
  SELECT n.n_name AS nation, s.dur AS dur_days,
         COUNT(*) AS m, CAST(SUM(s.event) AS BIGINT) AS d_events
  FROM span s
  JOIN customer c ON c.c_custkey = s.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), curve AS (
  SELECT nation, dur_days, d_events,
         CAST(SUM(m) OVER (PARTITION BY nation ORDER BY dur_days DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM per_t
), stepped AS (
  SELECT *, CAST(ROUND(1000000.0 * d_events / n_risk) AS BIGINT)
              AS hazard_ppm
  FROM curve
)
SELECT nation, dur_days, n_risk, d_events,
       CAST(SUM(hazard_ppm) OVER (PARTITION BY nation ORDER BY dur_days
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT)
         AS cum_hazard_ppm
FROM stepped
WHERE d_events > 0
ORDER BY nation, dur_days
"""


# --- period-over-period growth -----------------------------------------------


def ts_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth
    — the dashboard staple.  Revenue is an exact integer cents sum;
    the growth ratios divide two exact integers as doubles (identical
    operands -> identical IEEE result in any engine), rounded to 6dp.

    The lag window is global but runs over ONE ROW PER MONTH — its
    cardinality is the calendar, not the data; the heavy work (the
    monthly rollup) shuffles normally beforehand.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(cents("o_totalprice")).alias("tc"))
    w = Window.orderBy("month")
    prev_m = F.lag("tc", 1).over(w)
    prev_y = F.lag("tc", 12).over(w)

    def growth(cur, prev):
        return F.round(
            F.lit(100.0) * (cur - prev) / prev.cast("double"), 6
        )

    return monthly.select(
        "month",
        (F.col("tc").cast("double") / 100.0).alias("revenue"),
        growth(F.col("tc"), prev_m).alias("mom_pct"),
        growth(F.col("tc"), prev_y).alias("yoy_pct"),
    ).orderBy("month")


TS_YOY_GROWTH_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS tc
  FROM orders GROUP BY 1
)
SELECT month,
       CAST(tc AS DOUBLE)/100.0 AS revenue,
       ROUND(100.0 * (tc - LAG(tc, 1) OVER (ORDER BY month))
             / CAST(LAG(tc, 1) OVER (ORDER BY month) AS DOUBLE), 6)
         AS mom_pct,
       ROUND(100.0 * (tc - LAG(tc, 12) OVER (ORDER BY month))
             / CAST(LAG(tc, 12) OVER (ORDER BY month) AS DOUBLE), 6)
         AS yoy_pct
FROM monthly ORDER BY month
"""


# --- seasonal-median decomposition -------------------------------------------


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition of monthly revenue: seasonal component =
    the across-years MEDIAN of that calendar month's totals, residual
    = actual - seasonal.  Medians live in 2x-cent integers (the
    even-count midpoint average is then exact — ev_mad_outliers'
    trick), so seasonal and residual are exact to the half-cent.

    Plan: monthly rollup (one shuffle), a 12-group median over the
    tiny monthly table, broadcast back.  Calendar-bounded windows
    only.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.sum(cents("o_totalprice")).alias("tc"))
    moy = monthly.withColumn("moy", F.substring("month", 6, 2))
    med = moy.groupBy("moy").agg(
        F.round(F.lit(2.0) * F.percentile("tc", F.lit(0.5)))
        .cast("bigint")
        .alias("med2")
    )
    return (
        moy.join(F.broadcast(med), "moy")
        .select(
            "month",
            (F.col("tc").cast("double") / 100.0).alias("revenue"),
            (F.col("med2").cast("double") / 200.0).alias("seasonal"),
            (
                (F.lit(2) * F.col("tc") - F.col("med2")).cast("double") / 200.0
            ).alias("residual"),
        )
        .orderBy("month")
    )


TS_SEASONAL_DECOMPOSE_SQL = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS tc
  FROM orders GROUP BY 1
), med AS (
  SELECT substr(month, 6, 2) AS moy,
         CAST(ROUND(2.0 * quantile_cont(tc, 0.5)) AS BIGINT) AS med2
  FROM monthly GROUP BY 1
)
SELECT m.month,
       CAST(m.tc AS DOUBLE)/100.0 AS revenue,
       CAST(d.med2 AS DOUBLE)/200.0 AS seasonal,
       CAST(2*m.tc - d.med2 AS DOUBLE)/200.0 AS residual
FROM monthly m JOIN med d ON d.moy = substr(m.month, 6, 2)
ORDER BY m.month
"""


# --- Spark 4 collation surface -----------------------------------------------


def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATE UNICODE_CI — the
    engine-level answer to dirty categorical columns (no lower() in
    every predicate; the collation IS the comparison semantics).

    The input deliberately case-mangles p_type per row (md5 parity
    picks upper or lower), the groupBy keys on the COLLATED column,
    and the output key re-canonicalizes via lower(max(...)) — binary
    max over the group is deterministic, and lower() of any member is
    the same string.  The oracle groups by lower(), which UNICODE_CI
    coincides with on ASCII data.
    """
    p = load_table(spark, sf_dir, "part")
    mangled = p.select(
        F.when(
            md5_hash60(F.col("p_partkey").cast("string"), seed=7) % 2 == 0,
            F.upper("p_type"),
        )
        .otherwise(F.lower("p_type"))
        .alias("seg")
    )
    return (
        mangled.groupBy(F.collate("seg", "UNICODE_CI").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("seg").alias("mx"))
        .select(F.lower("mx").alias("ptype_ci"), "n")
        .orderBy("ptype_ci")
    )


FN_COLLATION_GROUP_SQL = """
WITH mangled AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('7|' || CAST(p_partkey AS VARCHAR)),
                        1, 15) AS BIGINT) % 2 = 0
              THEN upper(p_type) ELSE lower(p_type) END AS seg
  FROM part
)
SELECT lower(seg) AS ptype_ci, COUNT(*) AS n
FROM mangled GROUP BY 1 ORDER BY ptype_ci
"""


QUERIES = {
    "freq_heavy_hitters": freq_heavy_hitters,
    "rec_negative_sampling": rec_negative_sampling,
    "emb_ivfpq_adc": emb_ivfpq_adc,
    "surv_hazard_curve": surv_hazard_curve,
    "ts_yoy_growth": ts_yoy_growth,
    "ts_seasonal_decompose": ts_seasonal_decompose,
    "fn_collation_group": fn_collation_group,
}

ORACLES = {
    "freq_heavy_hitters": FREQ_HEAVY_HITTERS_SQL,
    "rec_negative_sampling": REC_NEGATIVE_SAMPLING_SQL,
    "emb_ivfpq_adc": EMB_IVFPQ_ADC_SQL,
    "surv_hazard_curve": SURV_HAZARD_CURVE_SQL,
    "ts_yoy_growth": TS_YOY_GROWTH_SQL,
    "ts_seasonal_decompose": TS_SEASONAL_DECOMPOSE_SQL,
    "fn_collation_group": FN_COLLATION_GROUP_SQL,
}
