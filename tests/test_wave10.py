"""Semantic invariants for the wave-10 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_markov_rows_are_proper_distribution(spark):
    rows = Q["ev_markov_transitions"](spark, SF_DIR).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        assert 0.0 <= r.p <= 1.0
        by_from[r.t_from] = by_from.get(r.t_from, 0.0) + r.p
    # row-normalised: each from-state's probabilities sum to ~1
    # (each addend rounded to 6dp, so tolerance = 5e-7 * fan-out)
    for t_from, s in by_from.items():
        assert math.isclose(s, 1.0, abs_tol=1e-5), (t_from, s)


def test_top_journeys_sorted_and_bounded(spark):
    rows = Q["ev_top_journeys"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    counts = [r.n_sessions for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.path.split(" > ")) == 3 for r in rows)


def test_cf_cosine_matches_definition(spark):
    rows = Q["cf_item_item_cosine"](spark, SF_DIR).collect()
    assert rows, "expected co-occurring part pairs"
    for r in rows:
        # cosine recomputes from the exact integer counts it reports
        assert r.cosine == round(r.co / math.sqrt(r.na * r.nb), 6)
        assert r.co >= 3 and r.co <= min(r.na, r.nb)
        assert r.pa < r.pb


def test_decile_lift_accounting(spark):
    rows = Q["ml_decile_lift"](spark, SF_DIR).collect()
    assert 1 <= len(rows) <= 10
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    assert sum(r.n_cust for r in rows) == c.count()
    # cumulative gain reaches 100% on the last (lowest-score) band
    assert math.isclose(rows[-1].cum_gain_pct, 100.0, abs_tol=1e-4)
    # weighted lift averages to 1 by construction
    n = sum(r.n_cust for r in rows)
    pos = sum(r.n_buyers for r in rows)
    wavg = sum(r.n_cust * (r.buy_rate / (pos / n)) for r in rows) / n
    assert math.isclose(wavg, 1.0, rel_tol=1e-4)


def test_auc_matches_naive_pair_count(spark):
    """The rank-sum AUC equals the O(n^2) pair-counting definition on
    the 1500-customer table (small enough to brute-force locally)."""
    row = Q["ml_auc_rank"](spark, SF_DIR).collect()[0]
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    buyers = {
        r.o_custkey
        for r in o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .collect()
    }
    scored = [
        (int(round(r.c_acctbal * 100)), r.c_custkey in buyers)
        for r in c.collect()
    ]
    pos = [v for v, p in scored if p]
    neg = [v for v, p in scored if not p]
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    u = sum(
        1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
    )
    assert row.auc == round(u / (len(pos) * len(neg)), 6)


def test_retention_user_accounting(spark):
    rows = Q["ev_retention_triangle"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert sum(r.n_users for r in rows) == ev.select("user_id").distinct().count()
    for r in rows:
        for k in (1, 7, 14, 21):
            assert 0 <= r[f"d{k}_ret"] <= r.n_users
            assert math.isclose(
                r[f"d{k}_pct"], round(100.0 * r[f"d{k}_ret"] / r.n_users, 6)
            )
