"""Semantic invariants for the wave-19 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_acf_matches_numpy(spark):
    import numpy as np

    rows = {r.lag: r for r in Q["ts_autocorrelation"](spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    daily = sorted(
        (r.d, r.x)
        for r in li.groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("x")
        )
        .collect()
    )
    by_day = dict(daily)
    xs = np.array([x for _, x in daily], dtype=np.float64)
    mu = xs.mean()
    den = float(((xs - mu) ** 2).sum())
    import datetime

    for k in (1, 7, 14):
        num = 0.0
        n_pairs = 0
        for d, x in daily:
            d2 = d + datetime.timedelta(days=k)
            if d2 in by_day:
                num += (x - mu) * (by_day[d2] - mu)
                n_pairs += 1
        r = rows[k]
        assert r.n_pairs == n_pairs
        assert math.isclose(r.acf, num / den, abs_tol=5e-7)
    # with missing calendar days possible, |acf| stays bounded
    assert all(abs(r.acf) <= 1.0 + 1e-9 for r in rows.values())


def test_pvm_reconciles_to_revenue_delta(spark):
    rows = Q["li_price_volume_mix"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # Laspeyres identity: volume + price == rev1 - rev0
        assert math.isclose(
            r.volume_effect + r.price_effect,
            r.rev1 - r.rev0,
            rel_tol=1e-9,
            abs_tol=1e-3,
        )
        assert r.q0 > 0 and r.q1 > 0


def test_dedup_savings_accounting(spark):
    rows = Q["doc_dedup_savings"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == d.count()
    n_fp = (
        d.select(F.sha2(F.trim(F.lower("text")), 256).alias("fp"))
        .distinct()
        .count()
    )
    assert sum(r.n_docs - r.n_dups for r in rows) == n_fp
    for r in rows:
        assert 0 <= r.dup_chars <= r.total_chars
        assert r.savings_pct == round(100.0 * r.dup_chars / r.total_chars, 6)
