"""Semantic invariants for the wave-12 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_backlog_conserves_orders(spark):
    rows = Q["ord_open_backlog_daily"](spark, SF_DIR).collect()
    # every order that opens eventually closes: the final backlog is 0
    # iff the last ship date + 1 is inside the horizon; either way the
    # totals reconcile
    total_open = sum(r.n_opened for r in rows)
    total_close = sum(r.n_closed for r in rows)
    assert rows[-1].backlog == total_open - total_close
    assert rows[-1].backlog >= 0
    # running sum is internally consistent
    run = 0
    for r in rows:
        run += r.n_opened - r.n_closed
        assert r.backlog == run
        assert run >= 0  # can't close an order before it opens


def test_hhi_bounds(spark):
    rows = Q["sup_part_hhi"](spark, SF_DIR).collect()
    assert len(rows) == 25
    for r in rows:
        # 1/n <= HHI <= 1
        assert 1.0 / r.n_suppliers - 1e-9 <= r.hhi <= 1.0
    qtys = [r.total_qty for r in rows]
    assert qtys == sorted(qtys, reverse=True)


def test_mann_whitney_matches_scipy_free_reference(spark):
    """U and z match a from-scratch tie-corrected computation."""
    row = Q["stat_mann_whitney"](spark, SF_DIR).collect()[0]
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    vals = [
        (int(round(r.c_acctbal * 100)), r.c_mktsegment)
        for r in c.filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        ).collect()
    ]
    a = sorted(v for v, s in vals if s == "BUILDING")
    b = sorted(v for v, s in vals if s == "MACHINERY")
    n1, n2 = len(a), len(b)
    assert (row.n1, row.n2) == (n1, n2)
    # rank-sum with average ranks over the pooled sample
    pooled = sorted(a + b)
    cnt = Counter(pooled)
    start = {}
    s = 0
    for v in sorted(cnt):
        start[v] = s
        s += cnt[v]
    r_a = sum(start[v] + (cnt[v] + 1) / 2.0 for v in a)
    u = r_a - n1 * (n1 + 1) / 2.0
    assert row.u_stat == round(u, 6)
    n = n1 + n2
    tie_t = sum(t**3 - t for t in cnt.values())
    sigma2 = n1 * n2 / 12.0 * ((n + 1) - tie_t / (n * (n - 1.0)))
    assert math.isclose(row.z, (u - n1 * n2 / 2.0) / math.sqrt(sigma2), abs_tol=5e-7)
    assert row.p_superior == round(u / (n1 * n2), 6)


def test_elasticity_matches_numpy_reference(spark):
    import numpy as np

    rows = Q["li_discount_elasticity"](spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_DIR}/part.parquet")
    pdf = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("p_brand", "l_discount", "l_quantity")
        .toPandas()
    )
    for r in rows[:5]:
        sub = pdf[pdf.p_brand == r.brand]
        x = np.round(sub.l_discount.to_numpy() * 100)
        y = sub.l_quantity.to_numpy()
        slope = np.polyfit(x, y, 1)[0]
        assert math.isclose(r.slope, slope, rel_tol=1e-6, abs_tol=1e-6)
        corr = np.corrcoef(x, y)[0, 1]
        assert math.isclose(r.r2, corr * corr, rel_tol=1e-4, abs_tol=1e-6)


def test_heatmap_full_accounting(spark):
    rows = Q["ev_dow_hour_heatmap"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert sum(r.n_events for r in rows) == ev.count()
    assert len(rows) <= 168
    assert all(1 <= r.dow <= 7 and 0 <= r.hour <= 23 for r in rows)
    assert math.isclose(sum(r.share_pct for r in rows), 100.0, abs_tol=1e-3)
