"""Semantic invariants for the wave-21 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_skipgram_gap1_equals_markov(spark):
    """Gap-1 skip-gram counts are exactly the Markov transition
    counts — the two operators agree on their shared marginal."""
    sk = {
        (r.t_from, r.t_to): r.n_pairs
        for r in Q["ev_skipgram_pairs"](spark, SF_DIR).collect()
        if r.gap == 1
    }
    mk = {
        (r.t_from, r.t_to): r.n_trans
        for r in Q["ev_markov_transitions"](spark, SF_DIR).collect()
    }
    assert sk == mk


def test_skipgram_shares_normalised(spark):
    rows = Q["ev_skipgram_pairs"](spark, SF_DIR).collect()
    by_group: dict[tuple, float] = {}
    for r in rows:
        assert 1 <= r.gap <= 3
        by_group[(r.t_from, r.gap)] = by_group.get((r.t_from, r.gap), 0.0) + r.share
    for k, s in by_group.items():
        assert math.isclose(s, 1.0, abs_tol=1e-5), (k, s)


def test_stopword_leakage_accounting(spark):
    rows = Q["doc_stopword_leakage"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert 0 <= r.en_sw_hits <= r.n_tokens
        assert r.hits_per_100tok == round(100.0 * r.en_sw_hits / r.n_tokens, 6)
        assert 0.0 <= r.docs_with_hit_pct <= 100.0
