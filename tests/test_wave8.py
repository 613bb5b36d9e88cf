"""Wave-8 semantic invariants (oracle parity is covered by the DuckDB
crosscheck; these prove the algorithmic claims independently):

- Misra-Gries heavy hitters EXACTLY equal the brute-force frequency
  threshold set (the sketch is a pruning superset, not an approximation),
  and the guarantee survives an adversarially small sketch width;
- negative sampling conserves draw count and only ever samples items
  whose weight interval is non-empty;
- IVF-PQ ADC scores candidates only from probed cells, and each
  query's ranking is consistent with its lookup-table sums;
- the Nelson-Aalen curve is monotone with a correctly shrinking
  risk set;
- the seasonal decomposition reconstructs revenue exactly
  (seasonal + residual == revenue to the half-cent).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.operators import textstats as X
from planning_center_data_pipeline_spark.plans import (
    embeddings,
    graph,
    sql_surface,
)
from planning_center_data_pipeline_spark.sources.tables import load_table

Q = queries()

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def _exact_heavy_hitters(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(X.tokens(X.normalize_text(F.col("text")))).alias("tok")
    ).filter(F.col("tok") != "")
    total = toks.count()
    return {
        (r.tok, r.cnt)
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * (sql_surface._MG_K + 1) > total)
        .collect()
    }


def test_heavy_hitters_equal_brute_force(spark):
    got = {
        (r.tok, r.cnt)
        for r in Q["freq_heavy_hitters"](spark, SF_SMALL).collect()
    }
    assert got == _exact_heavy_hitters(spark, SF_SMALL) and got


def test_heavy_hitters_survive_tiny_sketch(spark, monkeypatch):
    """K=7 makes the per-partition sketch aggressively lossy; the
    two-pass output must STILL be the exact > N/8 set (pigeonhole)."""
    monkeypatch.setattr(sql_surface, "_MG_K", 7)
    got = {
        (r.tok, r.cnt)
        for r in Q["freq_heavy_hitters"](spark, SF_SMOKE).collect()
    }
    assert got == _exact_heavy_hitters(spark, SF_SMOKE)


def test_negative_sampling_conserves_draws(spark):
    rows = Q["rec_negative_sampling"](spark, SF_SMOKE).collect()
    assert sum(r.n_draws for r in rows) == graph._NEG_DRAWS
    assert all(r.wt > 0 and r.n_draws > 0 for r in rows)
    assert len({r.item for r in rows}) == len(rows)


def test_ivfpq_topk_shape_and_order(spark):
    rows = Q["emb_ivfpq_adc"](spark, SF_SMALL).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r)
    assert set(per_q) == set(range(embeddings._IVFPQ_QUERIES))
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, embeddings._IVFPQ_TOPK + 1))
        d = [r.adc_d2 for r in rs]
        assert d == sorted(d)


def test_ivfpq_candidates_only_from_probed_cells(spark):
    """Every reported neighbour must live in one of its query's
    nprobe cells — the locality contract that makes IVF sub-scan."""
    from pyspark.sql.window import Window

    e = load_table(spark, SF_SMALL, "embeddings")
    from planning_center_data_pipeline_spark.operators import similarity as S

    qv = e.select("vec_id", S.quantized(F.col("embedding")).alias("v"))
    coarse = qv.filter(F.col("vec_id") < embeddings._IVF_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cd = qv.join(F.broadcast(coarse)).select("vec_id", "cell", d2.alias("d"))
    w = Window.partitionBy("vec_id").orderBy("d", "cell")
    ranked = cd.withColumn("rn", F.row_number().over(w))
    assign = {
        r.vec_id: r.cell for r in ranked.filter(F.col("rn") == 1).collect()
    }
    probes = {}
    for r in (
        ranked.filter(
            (F.col("vec_id") < embeddings._IVFPQ_QUERIES)
            & (F.col("rn") <= embeddings._IVF_NPROBE)
        ).collect()
    ):
        probes.setdefault(r.vec_id, set()).add(r.cell)
    for r in Q["emb_ivfpq_adc"](spark, SF_SMALL).collect():
        assert assign[r.vec_id] in probes[r.qid]


def test_hazard_curve_monotone(spark):
    rows = Q["surv_hazard_curve"](spark, SF_SMALL).collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.nation, []).append(r)
    assert len(by_nation) > 1
    for rs in by_nation.values():
        rs.sort(key=lambda r: r.dur_days)
        cum = [r.cum_hazard_ppm for r in rs]
        risk = [r.n_risk for r in rs]
        assert cum == sorted(cum)
        assert risk == sorted(risk, reverse=True)
        assert all(r.d_events <= r.n_risk for r in rs)


def test_seasonal_decompose_reconstructs(spark):
    for r in Q["ts_seasonal_decompose"](spark, SF_SMOKE).collect():
        assert abs((r.seasonal + r.residual) - r.revenue) < 1e-6


def test_collation_groups_merge_case(spark):
    p = load_table(spark, SF_SMOKE, "part")
    rows = Q["fn_collation_group"](spark, SF_SMOKE).collect()
    assert sum(r.n for r in rows) == p.count()
    keys = [r.ptype_ci for r in rows]
    assert keys == sorted(keys) and all(k == k.lower() for k in keys)
