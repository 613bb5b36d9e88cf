"""Semantics tests for the scale-pattern wave: Gram matrix (both UDF
transports vs a driver-side numpy reference), two-phase prefix sum vs
the naive global window, decontamination invariants, linear
interpolation boundary behavior, and the recursive-CTE tree walk.

These complement the DuckDB oracle hash checks with first-principles
assertions — the oracle proves engine parity, these prove the math.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.operators import similarity as S
from planning_center_data_pipeline_spark.plans.documents_text import (
    _SHARD_TOKENS,
)
from planning_center_data_pipeline_spark.sources.tables import load_table

Q = queries()


def _gram_reference(spark, sf_dir):
    """Driver-side numpy reference: same quantization, one matmul."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select(S.quantized(F.col("embedding")).alias("qv"))
        .collect()
    )
    q = np.array([r.qv for r in rows], dtype=np.int64)
    return q.T @ q


@pytest.mark.parametrize("op", ["pandas", "arrow"])
def test_gram_matrix_matches_numpy(spark, sf_dir, op):
    e = load_table(spark, sf_dir, "embeddings")
    fn = S.gram_matrix_exact if op == "pandas" else S.gram_matrix_exact_arrow
    got = {(r.i, r.j): r.gram_q for r in fn(e, "embedding", 64).collect()}
    ref = _gram_reference(spark, sf_dir)
    assert len(got) == 64 * 64
    for (i, j), v in got.items():
        assert v == ref[i, j], (i, j)


def test_gram_matrix_partitioning_invariant(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    one = {
        (r.i, r.j): r.gram_q
        for r in S.gram_matrix_exact_arrow(e.coalesce(1), "embedding", 64).collect()
    }
    many = {
        (r.i, r.j): r.gram_q
        for r in S.gram_matrix_exact_arrow(
            e.repartition(16), "embedding", 64
        ).collect()
    }
    assert one == many


def test_shard_manifest_matches_naive_global_window(spark, sf_dir):
    out = Q["doc_shard_manifest"](spark, sf_dir).collect()
    # naive single-partition global running sum over the same token counts
    naive = {}
    run = 0
    for r in sorted(out, key=lambda r: r.doc_id):
        run += r.n_toks
        naive[r.doc_id] = run
    for r in out:
        assert r.cum_toks == naive[r.doc_id]
        assert r.shard_id == (r.cum_toks - r.n_toks) // _SHARD_TOKENS


def test_shard_manifest_shard_budget(spark, sf_dir):
    out = Q["doc_shard_manifest"](spark, sf_dir).collect()
    # a shard never starts unless the previous one consumed its budget:
    # shard k's first doc has exclusive-cum in [k*B, (k+1)*B)
    first_by_shard = {}
    for r in sorted(out, key=lambda r: r.doc_id):
        first_by_shard.setdefault(r.shard_id, r)
    for k, r in first_by_shard.items():
        excl = r.cum_toks - r.n_toks
        assert k * _SHARD_TOKENS <= excl < (k + 1) * _SHARD_TOKENS


def test_decontaminate_excludes_eval_and_bounds_ratio(spark, sf_dir):
    out = Q["doc_decontaminate"](spark, sf_dir).collect()
    assert out, "expected train docs"
    for r in out:
        assert r.doc_id % 20 != 0, "eval docs must not appear"
        assert 0 <= r.n_hits <= r.n_sh
        assert abs(r.contamination - r.n_hits / r.n_sh) < 1e-12


def test_decontaminate_flags_planted_duplicate(spark, sf_dir):
    """A train doc that IS an eval doc's text must be 100% contaminated."""
    d = load_table(spark, sf_dir, "documents")
    eval_row = d.filter(F.col("doc_id") % 20 == 0).orderBy("doc_id").limit(1)
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    # fresh id above the table's range, non-multiple of 20 → train side
    new_id = max_id + 21
    if new_id % 20 == 0:
        new_id += 1
    planted = eval_row.select(
        F.lit(new_id).cast("long").alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    from planning_center_data_pipeline_spark.plans import documents_dedup

    def fake_t(spark_, sf_dir_, name):
        assert name == "documents"
        return d.unionByName(planted)

    orig = documents_dedup.load_table
    documents_dedup.load_table = fake_t
    try:
        out = {r.doc_id: r for r in Q["doc_decontaminate"](spark, sf_dir).collect()}
    finally:
        documents_dedup.load_table = orig
    assert out[new_id].contamination == 1.0


def test_interpolation_boundary_semantics(spark, sf_dir):
    rows = Q["ts_interpolate_linear"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.day)):
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for days in by_user.values():
        obs_idx = [i for i, r in enumerate(days) if r.observed]
        if not obs_idx:
            assert all(r.interp_cents == 0.0 for r in days)
            continue
        lo, hi = obs_idx[0], obs_idx[-1]
        # edges clamp to nearest observation
        for i in range(lo):
            assert days[i].interp_cents == days[lo].interp_cents
        for i in range(hi + 1, len(days)):
            assert days[i].interp_cents == days[hi].interp_cents
        # interior points lie within the surrounding observed values
        for a, b in zip(obs_idx, obs_idx[1:]):
            low = min(days[a].interp_cents, days[b].interp_cents)
            high = max(days[a].interp_cents, days[b].interp_cents)
            for i in range(a + 1, b):
                assert low - 1e-9 <= days[i].interp_cents <= high + 1e-9


def test_recursive_tree_depth_is_digit_count(spark, sf_dir):
    for r in Q["sql_recursive_tree"](spark, sf_dir).collect():
        expected_depth = len(str(r.doc_id)) if r.doc_id > 0 else 0
        assert r.depth_to_root == expected_depth
        # chain_sum: doc_id + doc_id//10 + ... + 0
        s, n = 0, r.doc_id
        while True:
            s += n
            if n == 0:
                break
            n //= 10
        assert r.chain_sum == s


def test_forced_fact_broadcast_detector(spark, sf_dir):
    """The plan_audit detector must fire on a broadcast hint placed
    directly on a fact table (the round-4 triangle-count bug class)
    and stay silent when the broadcast side shrinks through an
    aggregate first."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import forced_fact_broadcasts

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    bad = o.join(
        F.broadcast(e.select(F.col("user_id").alias("o_custkey"))),
        "o_custkey",
    )
    assert forced_fact_broadcasts(bad) == 1

    good = o.join(
        F.broadcast(
            e.groupBy(F.col("user_id").alias("o_custkey")).agg(
                F.count(F.lit(1)).alias("n")
            )
        ),
        "o_custkey",
    )
    assert forced_fact_broadcasts(good) == 0


def test_sorted_layout_enables_file_skipping(spark, sf_dir, tmp_path):
    """Data-skipping evidence: a month-partitioned layout lets a date
    predicate prune whole partition DIRECTORIES at plan time — the
    executed scan's numFiles metric counts only the surviving
    partition's files.  (Parquet min/max additionally skips row groups
    inside files at read time; the directory level is what the scan
    metrics expose.)  This is the layout argument behind the
    compaction/zorder planners at 100 TB: clustering turns predicates
    into skipped IO."""
    import glob

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    laid = str(tmp_path / "orders_by_month")
    o.repartition("month").write.partitionBy("month").parquet(laid)
    n_files = len(glob.glob(f"{laid}/month=*/part-*.parquet"))
    months = glob.glob(f"{laid}/month=*")
    assert len(months) > 3

    t = spark.read.parquet(laid)
    one_month = sorted(m.split("=")[-1] for m in months)[0]
    narrow = t.filter(F.col("month") == one_month)
    narrow.collect()

    def find_scan(node):
        if "Scan" in node.nodeName():
            return node
        ch = node.children()
        for i in range(ch.size()):
            got = find_scan(ch.apply(i))
            if got is not None:
                return got
        return None

    s = find_scan(narrow._jdf.queryExecution().executedPlan())
    assert s is not None
    files_read = None
    it = s.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() == "numFiles":
            files_read = kv._2().value()
    assert files_read is not None
    expect = len(glob.glob(f"{laid}/month={one_month}/part-*.parquet"))
    assert files_read == expect < n_files, (files_read, expect, n_files)


def test_knn_classify_plan_has_no_joins(spark, sf_dir):
    """emb_knn_classify's GEMM scorer carries labels through the
    scorer and prunes candidates per batch — the plan must contain NO
    join at all (the old shape was a crossJoin scorer plus a label
    re-scan join), and only candidate rows reach the top-k window."""
    plan = Q["emb_knn_classify"](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
