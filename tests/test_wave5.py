"""First-principles tests for plans/wave5.py (oracle hash checks run
separately via tools/crosscheck.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.plans import multimodal

Q = queries()

SF_DIR = "/root/testdata/sf0.001"


def test_edit_near_dup_symmetric_and_bounded(spark):
    """Known strings: distance computed on 40-char prefixes, blocked
    by 12-char prefix — same block + small edit => found, different
    block => never compared."""
    rows = [
        (1, "aaaabbbbccccdddd eeee ffff gggg hhhh iiii"),
        (2, "aaaabbbbccccdddd eeee ffff gggg hhhh jjjj"),  # same block, close
        (3, "zzzzbbbbccccdddd eeee ffff gggg hhhh iiii"),  # different block
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    import types

    # run the plan body against a fake loader by writing a parquet dir
    got = None
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        d.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("s")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            f"{td}/documents.parquet"
        )
        got = {
            (r.id_1, r.id_2): r.edit_dist
            for r in Q["doc_prefix_edit_near_dup"](spark, td).collect()
        }
    # 40-char prefix keeps only "iii"/"jjj" of the last token
    assert (1, 2) in got and got[(1, 2)] == 3
    assert all(3 not in pair for pair in got)


def test_intersect_all_bag_semantics(spark, tmp_path):
    """Multiplicity = min(count per side), per key — the defining
    INTERSECT ALL property, checked on a constructed orders table."""
    rows = [
        # custkey 1: three 1995 orders, one 1996 -> n_matched 1
        (1, "1995-03-01"), (1, "1995-05-01"), (1, "1995-07-01"), (1, "1996-01-01"),
        # custkey 2: one 1995, two 1996 -> n_matched 1
        (2, "1995-04-01"), (2, "1996-02-01"), (2, "1996-03-01"),
        # custkey 3: 1996 only -> absent
        (3, "1996-09-01"),
    ]
    o = spark.createDataFrame(rows, "o_custkey long, d string").select(
        "o_custkey", F.col("d").cast("date").alias("o_orderdate")
    )
    o.write.parquet(f"{tmp_path}/orders.parquet")
    got = {
        r.o_custkey: r.n_matched
        for r in Q["set_orders_intersect_all"](spark, str(tmp_path)).collect()
    }
    assert got == {1: 1, 2: 1}


def test_vocab_coverage_rates(spark, sf_dir):
    rows = Q["doc_vocab_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert abs(r.oov_rate - r.n_oov / r.n_tokens) < 1e-15
    # the synthetic vocab is tiny (<1000 distinct tokens), so OOV = 0
    # at sf0.001; the rate math still has to hold exactly
    total_distinct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
        .count()
    )
    if total_distinct <= 1000:
        assert all(r.n_oov == 0 for r in rows)


def test_lang_confusion_totals_match_docs(spark, sf_dir):
    """The confusion matrix (wave4d) must aggregate exactly the
    per-doc guesses (extensions.doc_lang_guess) — the two queries
    share one classifier and must not drift apart."""
    rows = Q["doc_lang_confusion"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs  # a partition of docs
    assert {r.lang_guessed for r in rows} <= {"en", "es", "de", "fr", "und"}
    per_doc = Q["doc_lang_guess"](spark, sf_dir).collect()
    from collections import Counter

    expect = Counter((r.lang, r.lang_guessed) for r in per_doc)
    got = {(r.lang, r.lang_guessed): r.n_docs for r in rows}
    assert got == dict(expect)


def test_pca_spectrum_invariants(spark, sf_dir):
    """Eigen-spectrum checks: PSD (all eigenvalues >= -tol),
    descending order, var shares sum to 1, and trace preservation
    against an independently computed sum of squared components."""
    rows = Q["emb_pca_variance"](spark, sf_dir).collect()
    assert len(rows) == 64
    evs = [r.eigenvalue for r in rows]
    assert all(e >= -1e-9 for e in evs)
    assert all(evs[i] >= evs[i + 1] - 1e-12 for i in range(63))
    assert abs(sum(r.var_share for r in rows) - 1.0) < 1e-6
    assert abs(rows[-1].cum_share - 1.0) < 1e-9
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    trace = (
        e.select(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x * x,
            ).alias("nsq")
        )
        .agg(F.sum("nsq"))
        .collect()[0][0]
    ) / 1e12
    assert abs(sum(evs) - trace) < max(1e-6, 1e-9 * trace)


def test_mm_shard_plan_budget_and_contiguity(spark, sf_dir):
    """Shard invariants: byte totals respect the budget up to one
    item's overshoot (greedy cumulative packing), id ranges are
    contiguous and non-overlapping, and totals reconcile with the
    corpus."""
    rows = Q["mm_shard_plan"](spark, sf_dir).collect()
    assert rows
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_bytes = d.select(
        F.sum(F.octet_length(F.encode("text", "utf-8"))).alias("b")
    ).collect()[0].b
    assert sum(r.total_bytes for r in rows) == corpus_bytes
    assert sum(r.n_items for r in rows) == d.count()
    max_item = d.select(
        F.max(F.octet_length(F.encode("text", "utf-8"))).alias("m")
    ).collect()[0].m
    for r in rows:
        assert r.total_bytes < multimodal._SHARD_BYTES + max_item
    ordered = sorted(rows, key=lambda r: r.shard_id)
    for a, b in zip(ordered, ordered[1:]):
        assert a.last_id < b.first_id  # contiguous, non-overlapping


def test_entity_resolution_self_match_dominates(spark, sf_dir):
    """The deterministic 0->O corruption keeps each dirty record
    closest to itself in the vast majority of cases (TPC-H names
    differ in several digit positions); every row must get exactly one
    best match and a consistent edit distance."""
    rows = Q["cust_entity_resolution"](spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert len(rows) == n_cust  # one best match per dirty record
    assert all(r.edit_dist >= 0 for r in rows)
    self_rate = sum(1 for r in rows if r.is_self_match) / len(rows)
    assert self_rate > 0.5, self_rate


def test_exact_stratified_split_counts(spark, sf_dir):
    """Count exactness: precisely floor(n*0.8)/floor(n*0.1)/remainder
    docs per source — the property the hash split only gives in
    expectation."""
    rows = Q["doc_exact_stratified_split"](spark, sf_dir).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, {})[r.split] = r.n_docs
    totals = {
        r.source: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_src) == set(totals)
    for src, n in totals.items():
        tr = int(n * 0.8)
        va = int(n * 0.9) - tr
        te = n - tr - va
        got = per_src[src]
        assert got.get("train", 0) == tr
        assert got.get("val", 0) == va
        assert got.get("test", 0) == te
