"""Round-8 wave 36: anonymization tuning and price-index economics.

- priv_generalization_ladder: the k-anonymity / utility trade-off
  table — the SAME quasi-identifier at four generalization levels of
  the account balance (exact cents -> $100 bands -> $1000 bands ->
  suppressed), reporting group counts, the worst-case k, and how many
  customers would need suppression at k < 5.  This is the table an
  anonymization pipeline reads to pick its generalization level
  (companion to priv_k_anonymity / priv_l_diversity / priv_t_closeness).
- li_price_index_fisher: Laspeyres, Paasche and Fisher price indices
  per ship year against the 1995 base — integer micro unit prices
  (one truncating division, identical in both engines), DECIMAL(38,0)
  / HUGEINT revenue-weight sums (int64 would overflow at SF >= 100),
  and fixed-order double divisions at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from planning_center_data_pipeline_spark.sources.tables import load_table

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


# --- price indices ---------------------------------------------------------------

_BASE_YEAR = 1995


def li_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices of the part catalog
    per ship year vs the 1995 base:

        L_t = sum_i p_t,i * q_0,i / sum_i p_0,i * q_0,i
        P_t = sum_i p_t,i * q_t,i / sum_i p_0,i * q_t,i
        F_t = sqrt(L_t * P_t)

    over parts traded in BOTH years (the matched sample every index
    office uses).  p is the integer micro-dollar unit price — one
    truncating division (Spark DIV == DuckDB // on non-negatives) of
    exact cents*10000 by exact quantity — and the four weight sums
    ride DECIMAL(38,0) (DuckDB: HUGEINT) because price*quantity sums
    overflow int64 by SF 100.  Shape: one (part, year) rollup, a
    self-join on partkey against the base year (dimension-bounded),
    a year rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    py = (
        li.groupBy(
            "l_partkey", F.year("l_shipdate").cast("bigint").alias("yr")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
        )
        .select(
            "l_partkey",
            "yr",
            "q",
            F.expr("(cents * 10000) DIV q").cast("bigint").alias("p_micro"),
        )
    )
    base = py.filter(F.col("yr") == _BASE_YEAR).select(
        "l_partkey",
        F.col("p_micro").alias("p0"),
        F.col("q").alias("q0"),
    )
    joined = py.filter(F.col("yr") != _BASE_YEAR).join(base, "l_partkey")
    dec = "decimal(38,0)"
    sums = joined.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum((F.col("p_micro") * F.col("q0")).cast(dec)).alias("l_num"),
        F.sum((F.col("p0") * F.col("q0")).cast(dec)).alias("l_den"),
        F.sum((F.col("p_micro") * F.col("q")).cast(dec)).alias("p_num"),
        F.sum((F.col("p0") * F.col("q")).cast(dec)).alias("p_den"),
    )
    return sums.select(
        "yr",
        "n_parts",
        F.expr("CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE)").alias(
            "laspeyres"
        ),
        F.expr("CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)").alias(
            "paasche"
        ),
        F.expr(
            "SQRT((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))"
            " * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)))"
        ).alias("fisher"),
    ).orderBy("yr")


_FISHER_SQL = f"""
WITH py AS (
  SELECT l_partkey, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST((CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) * 10000)
              // SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS p_micro
  FROM lineitem GROUP BY 1, 2
), base AS (
  SELECT l_partkey, p_micro AS p0, q AS q0 FROM py WHERE yr = {_BASE_YEAR}
), joined AS (
  SELECT py.yr, py.p_micro, py.q, base.p0, base.q0
  FROM py JOIN base USING (l_partkey)
  WHERE py.yr <> {_BASE_YEAR}
), sums AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM(p_micro * q0) AS l_num, SUM(p0 * q0) AS l_den,
         SUM(p_micro * q) AS p_num, SUM(p0 * q) AS p_den
  FROM joined GROUP BY yr
)
SELECT yr, n_parts,
       CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE) AS laspeyres,
       CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE) AS paasche,
       SQRT((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
            * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))) AS fisher
FROM sums ORDER BY yr
"""


QUERIES = {
    "priv_generalization_ladder": priv_generalization_ladder,
    "li_price_index_fisher": li_price_index_fisher,
}

ORACLES = {
    "priv_generalization_ladder": _ladder_oracle(),
    "li_price_index_fisher": _FISHER_SQL,
}
