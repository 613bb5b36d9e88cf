"""Wave-4 semantics and plan-shape tests.

The DuckDB oracle crosscheck proves engine parity; these prove the
plan properties the 100 TB story depends on:

- the rank<=k filters actually compile to WindowGroupLimit (map-side
  per-group top-k before the shuffle), not a full window sort;
- gaps-islands runs on a single data shuffle (the explicit custkey
  repartition) plus only the final presentation sort;
- the salted two-level aggregate equals the plain one-level groupBy;
- the mixing plan's budgets respect the uniform target cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "fn", [Q["win_topn_group_limit"], Q["doc_stratified_topk_sample"]]
)
def test_rank_filter_compiles_to_window_group_limit(spark, fn):
    plan = _formatted_plan(fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def _count_plan_nodes(jplan, name_fragment: str) -> int:
    """Count physical-plan nodes whose nodeName contains the fragment,
    by walking the JVM plan TREE (robust to formatting/AQE print-style
    changes, unlike substring counts over explain output)."""
    n = 1 if name_fragment in jplan.nodeName() else 0
    children = jplan.children()
    for i in range(children.size()):
        n += _count_plan_nodes(children.apply(i), name_fragment)
    return n


def test_gaps_islands_single_data_shuffle(spark):
    # One hash-partitioning exchange (custkey — every window/groupBy
    # reuses that clustering) plus one range exchange for the final
    # orderBy; a third shuffle means a grouping failed to reuse the
    # custkey clustering.  Counted by walking the physical plan tree,
    # not by substring-matching formatted output.
    df = Q["win_gaps_islands"](spark, SF_DIR)
    jplan = df._jdf.queryExecution().executedPlan()
    assert _count_plan_nodes(jplan, "ShuffleExchange") <= 2


def test_salted_agg_equals_plain_groupby(spark):
    salted = Q["agg_salted_skew"](spark, SF_DIR).collect()
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cents = F.round(F.col("value") * 100).cast("bigint")
    plain = {
        r.event_type: (r.n, r.s)
        for r in e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("s"),
        )
        .collect()
    }
    assert len(salted) == len(plain)
    for row in salted:
        n, s = plain[row.event_type]
        assert row.n_events == n and row.sum_value == s


def test_mix_plan_budget_caps_at_uniform_target(spark):
    rows = Q["corpus_mix_plan"](spark, SF_DIR).collect()
    tot = sum(r.n_tokens for r in rows)
    target = tot / len(rows)
    for r in rows:
        assert 0.0 < r.sample_rate <= 1.0
        # budget never exceeds the uniform per-source share (+1 for
        # rounding) and undersampled sources keep everything.
        assert r.budget_tokens <= int(target) + 1
        if r.n_tokens <= target:
            assert r.budget_tokens == r.n_tokens


def test_gaps_islands_invariants(spark):
    for r in Q["win_gaps_islands"](spark, SF_DIR).collect():
        assert r.max_run <= r.active_months
        assert r.n_islands >= 1
        assert r.active_months >= r.n_islands  # each island >= 1 month


def test_observation_metrics_piggyback(spark, sf_dir):
    """df.observe(Observation, ...) computes DQ metrics as a
    side-effect of the SAME job that produces the data — no second
    scan.  This is the in-flight monitoring hook a production writer
    wraps around every batch."""
    from pyspark.sql import Observation

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "nonpositive_price"
        ),
        F.max("o_orderdate").alias("max_date"),
    )
    n = observed.count()
    got = obs.get
    assert got["rows"] == n
    assert got["nonpositive_price"] == 0
    assert got["max_date"] is not None


def test_metadata_file_provenance(spark, sf_dir, tmp_path):
    """The _metadata hidden column carries file provenance through the
    scan — the lineage/debugging primitive for multi-file datasets
    (which file contributed this row, how fresh is it)."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id long, part int"
    )
    path = str(tmp_path / "parts")
    df.write.partitionBy("part").parquet(path)
    back = spark.read.parquet(path).select(
        "id",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("sz"),
    )
    rows = back.collect()
    assert len(rows) == 30
    assert all(r.fp.startswith("file:") and r.sz > 0 for r in rows)
    # per-file row counts derived from provenance alone
    per_file = back.groupBy("fp").count().collect()
    assert sum(r["count"] for r in per_file) == 30


def test_curate_e2e_shard_budget_and_composition(spark):
    """corpus_curate_e2e invariants: per-source shard ids are dense
    from 0; every shard except a source's last stays within budget +
    one document (the running-sum assignment can overshoot by at most
    the doc that crosses the boundary); all docs survive curation
    stages consistently (n_docs > 0 for every emitted shard)."""
    rows = Q["corpus_curate_e2e"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_src = {}
    for r in rows:
        assert r.n_docs > 0 and r.shard_tokens > 0
        by_src.setdefault(r.source, []).append(r)
    for src, shards in by_src.items():
        ids = sorted(s.shard_id for s in shards)
        assert ids == list(range(len(ids))), src  # dense from 0
