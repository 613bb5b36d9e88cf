"""Semantic invariants for the wave-11 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


def test_pagerank_matches_local_integer_reference(spark):
    """The distributed 5-iteration integer PageRank equals a
    from-scratch single-threaded reimplementation on the tiny SF —
    bit-exact, because every step is integer arithmetic."""
    rows = Q["graph_pagerank_parts"](spark, SF_TINY).collect()
    li = spark.read.parquet(f"{SF_TINY}/lineitem.parquet")
    baskets = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").distinct().collect():
        baskets[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for pks in baskets.values():
        for a in pks:
            for b in pks:
                if a != b:
                    edges.add((a, b))
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = sorted(deg)
    base = 1_000_000_000_000 // len(nodes)
    r = {n: base for n in nodes}
    for _ in range(5):
        inc = defaultdict(int)
        for s, d in edges:
            inc[d] += r[s] // deg[s]
        r = {n: (15 * base) // 100 + (85 * inc[n]) // 100 for n in nodes}
    want = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(row.partkey, row.rank_units) for row in rows]
    assert got == want


def test_pagerank_mass_roughly_conserved(spark):
    rows = Q["graph_pagerank_parts"](spark, SF_DIR).collect()
    assert len(rows) == 20
    units = [r.rank_units for r in rows]
    assert units == sorted(units, reverse=True)
    assert all(u > 0 for u in units)
    for r in rows:
        assert r.rank_pct == round(r.rank_units / 1e10, 6)


def test_rfm_scores_in_range_and_accounting(spark):
    rows = Q["cust_rfm_global_quintiles"](spark, SF_DIR).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_buyers = o.select("o_custkey").distinct().count()
    assert sum(r.n_cust for r in rows) == n_buyers
    for r in rows:
        assert len(r.segment) == 3
        assert all(ch in "12345" for ch in r.segment)


def test_threshold_metrics_monotone(spark):
    rows = Q["ml_threshold_metrics"](spark, SF_DIR).collect()
    assert [r.k for r in rows] == list(range(1, 10))
    # raising the threshold can only shrink the predicted-positive set
    preds = [r.pred_pos for r in rows]
    tps = [r.tp for r in rows]
    assert preds == sorted(preds, reverse=True)
    assert tps == sorted(tps, reverse=True)
    n_pos = rows[0].n_pos
    assert all(r.n_pos == n_pos for r in rows)
    for r in rows:
        assert r.rec == round(r.tp / n_pos, 6)
        if r.pred_pos:
            assert r.prec == round(r.tp / r.pred_pos, 6)
        assert r.f1 == round(2 * r.tp / (r.pred_pos + n_pos), 6)


def test_fertility_each_word_yields_a_piece(spark):
    rows = Q["doc_tokenizer_fertility"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        # every whitespace word contains >= 1 BPE piece
        assert r.pieces >= r.words > 0
        assert r.pieces_per_word == round(r.pieces / r.words, 6)
        assert r.pieces_per_100ch == round(100.0 * r.pieces / r.chars, 6)


def test_zipf_ranks_dense_and_sorted(spark):
    rows = Q["doc_zipf_rankfreq"](spark, SF_DIR).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert sum(r.share_pct for r in rows) <= 100.0 + 1e-6
    for r in rows:
        assert r.rank_freq == r.rank * r.freq


def test_abc_matches_naive_global_sort(spark):
    """The bucketed prefix-sum classification equals the naive
    single-ordering definition computed locally."""
    rows = {r.abc_class: r for r in Q["cust_abc_pareto"](spark, SF_DIR).collect()}
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    per = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("v"))
        .collect()
    )
    vals = sorted(((r.v, r.o_custkey) for r in per), key=lambda t: (-t[0], t[1]))
    total = sum(v for v, _ in vals)
    want = defaultdict(lambda: [0, 0])
    cum = 0
    for v, _ in vals:
        cls = "A" if cum * 100 < total * 80 else ("B" if cum * 100 < total * 95 else "C")
        want[cls][0] += 1
        want[cls][1] += v
        cum += v
    for cls, (n, v) in want.items():
        assert rows[cls].n_cust == n
        assert math.isclose(rows[cls].revenue, v / 100.0)
        assert rows[cls].rev_pct == round(100.0 * v / total, 6)
