"""Misuse guards for the Pandas kernels (round-7 VERDICT item 8):
every Python/numpy kernel that could be handed unbounded work must
raise, not OOM.  jw_micro_pairs established the contract
(tests/test_wave6.py); these pin the same behavior on the blocked-GEMM
scorer, the within-block matmul, and the cogrouped as-of bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.operators import similarity as S

Q = queries()

SF = "/root/testdata/sf0.001"


def _vecs(spark, n):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7 + 1).cast("float"),
                (F.col("id") % 5 + 1).cast("float"),
            ).alias("embedding"),
        )
    )


def test_gemm_scorer_rejects_unbounded_query_side(spark, monkeypatch):
    """The driver-collected probe side over the ceiling must raise
    BEFORE broadcasting a giant matrix (LIMIT+1 bounds the collect)."""
    monkeypatch.setattr(S, "MAX_BROADCAST_QUERIES", 8)
    corpus = _vecs(spark, 50)
    with pytest.raises(ValueError, match="MAX_BROADCAST_QUERIES"):
        S.brute_force_topk_pandas(corpus, _vecs(spark, 9), k=3)
    # at the ceiling it runs
    out = S.brute_force_topk_pandas(corpus, _vecs(spark, 8), k=3)
    assert out.count() > 0


def test_block_matmul_rejects_degenerate_block(spark, monkeypatch):
    """A single blocking key holding more vectors than the n^2 ceiling
    is a disguised cross product: the kernel itself must raise."""
    monkeypatch.setattr(S, "MAX_VECS_PER_BLOCK", 16)
    flooded = _vecs(spark, 17).withColumn("blk", F.lit(0))
    with pytest.raises(Exception, match="MAX_VECS_PER_BLOCK"):
        S.near_dup_pairs_by_block_pandas(
            flooded, "blk", threshold=0.0
        ).count()
    ok = _vecs(spark, 16).withColumn("blk", F.lit(0))
    assert (
        S.near_dup_pairs_by_block_pandas(ok, "blk", threshold=-1.0).count()
        == 16 * 15 // 2
    )


def test_asof_bucket_rejects_flooded_cogroup(spark, monkeypatch):
    """A cogroup bucket beyond the pandas-heap ceiling must fail
    loudly with the remediation (raise N_BUCKETS), not OOM a worker."""
    from planning_center_data_pipeline_spark.plans import events

    monkeypatch.setattr(events, "MAX_ROWS_PER_ASOF_BUCKET", 10)
    with pytest.raises(Exception, match="MAX_ROWS_PER_ASOF_BUCKET"):
        Q["asof_cogrouped_pandas"](spark, SF).count()
    monkeypatch.setattr(events, "MAX_ROWS_PER_ASOF_BUCKET", 5_000_000)
    rows = Q["asof_cogrouped_pandas"](spark, SF).collect()
    assert len(rows) > 0
    # Spark 4.1 prunes cogroup input columns under .count() (the
    # clicks side arrives without its duplicate-named columns); the
    # kernel degrades instead of crashing, and the row count — which
    # depends only on the buys side — must match the full collect.
    assert Q["asof_cogrouped_pandas"](spark, SF).count() == len(rows)
