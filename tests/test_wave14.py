"""Semantic invariants for the wave-14 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_calibration_bins_accounting(spark):
    rows = Q["ml_calibration_bins"](spark, SF_DIR).collect()
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    assert sum(r.n_cust for r in rows) == c.count()
    assert all(0 <= r.bin <= 9 for r in rows)
    # normalized scores live in [0, 1] and rise with the bin index
    avgs = [r.avg_score for r in rows]
    assert all(0.0 <= a <= 1.0 for a in avgs)
    assert avgs == sorted(avgs)
    assert all(0.0 <= r.pos_rate <= 1.0 for r in rows)


def test_ks_matches_naive_ecdf_scan(spark):
    row = Q["stat_ks_two_sample"](spark, SF_DIR).collect()[0]
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    vals = [
        (int(round(r.c_acctbal * 100)), r.c_mktsegment)
        for r in c.filter(
            F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD")
        ).collect()
    ]
    a = sorted(v for v, s in vals if s == "AUTOMOBILE")
    b = sorted(v for v, s in vals if s == "HOUSEHOLD")
    n1, n2 = len(a), len(b)
    assert (row.n1, row.n2) == (n1, n2)
    import bisect

    best = (-1, None)
    for v in sorted(set(a) | set(b)):
        num = abs(
            bisect.bisect_right(a, v) * n2 - bisect.bisect_right(b, v) * n1
        )
        if num > best[0]:
            best = (num, v)
    assert row.at_v_cents == best[1]
    assert row.d_stat == round(best[0] / (n1 * n2), 6)


def test_changepoint_maximizes_between_sse(spark):
    row = Q["ts_changepoint_daily"](spark, SF_DIR).collect()[0]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    daily = sorted(
        (r.d, r.rev)
        for r in li.groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("rev"))
        .collect()
    )
    revs = [v for _, v in daily]
    n = len(revs)
    s_all = sum(revs)
    best = (-math.inf, None)
    s_l = 0
    for k in range(1, n):
        s_l += revs[k - 1]
        score = s_l * s_l / k + (s_all - s_l) ** 2 / (n - k) - s_all * s_all / n
        if score > best[0]:
            best = (score, k)
    k = best[1]
    assert row.split_day == daily[k - 1][0].strftime("%Y-%m-%d")
    assert row.n_days_left == k and row.n_days_right == n - k
    s_l = sum(revs[:k])
    assert row.mean_left == round(s_l / k / 100.0, 6)
    assert row.mean_right == round((s_all - s_l) / (n - k) / 100.0, 6)


def test_decile_migration_square_accounting(spark):
    rows = Q["cust_decile_migration"](spark, SF_DIR).collect()
    assert all(
        1 <= r.decile_p1 <= 10 and 1 <= r.decile_p2 <= 10 for r in rows
    )
    # row/column marginals are roughly balanced (deciles of the same
    # population): every decile appears on both axes
    p1 = defaultdict(int)
    p2 = defaultdict(int)
    for r in rows:
        p1[r.decile_p1] += r.n_cust
        p2[r.decile_p2] += r.n_cust
    assert set(p1) == set(p2) == set(range(1, 11))
    assert sum(p1.values()) == sum(p2.values())
