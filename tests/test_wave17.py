"""Semantic invariants for the wave-17 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math
import statistics

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_welch_matches_textbook_formula(spark):
    row = Q["stat_welch_t"](spark, SF_DIR).collect()[0]
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    vals = [
        (int(round(r.c_acctbal * 100)), r.c_mktsegment)
        for r in c.filter(
            F.col("c_mktsegment").isin("BUILDING", "FURNITURE")
        ).collect()
    ]
    a = [v for v, s in vals if s == "BUILDING"]
    b = [v for v, s in vals if s == "FURNITURE"]
    assert (row.n1, row.n2) == (len(a), len(b))
    m1, m2 = statistics.fmean(a), statistics.fmean(b)
    v1, v2 = statistics.variance(a), statistics.variance(b)
    se2 = v1 / len(a) + v2 / len(b)
    t = (m1 - m2) / math.sqrt(se2)
    df = se2**2 / (
        (v1 / len(a)) ** 2 / (len(a) - 1) + (v2 / len(b)) ** 2 / (len(b) - 1)
    )
    assert math.isclose(row.t_stat, t, rel_tol=1e-9, abs_tol=1e-6)
    assert math.isclose(row.welch_df, df, rel_tol=1e-9, abs_tol=1e-4)
    assert math.isclose(row.mean_a, round(m1 / 100.0, 6), abs_tol=1e-6)


def test_waterfall_reconciles(spark):
    rows = Q["li_margin_waterfall"](spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert sum(r.n_items for r in rows) == li.count()
    for r in rows:
        # exact reconciliation: net + discount == gross (both exact)
        assert math.isclose(r.net + r.discount, r.gross, rel_tol=1e-12)
        assert 0 <= r.discount <= r.gross


def test_l_diversity_accounting(spark):
    rows = Q["priv_l_diversity"](spark, SF_DIR).collect()
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    assert sum(r.n_members for r in rows) == c.count()
    n_segments = c.select("c_mktsegment").distinct().count()
    for r in rows:
        assert 1 <= r.l <= n_segments
        assert r.below_min_l == (r.l < 3)
        # a class with l distinct segments has at least l members
        assert r.n_members >= r.l * r.n_classes


def test_skew_report_consistency(spark):
    rows = {r.key_col: r for r in Q["data_skew_report"](spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    r = rows["lineitem.l_partkey"]
    assert r.n_rows == li.count()
    assert r.n_keys == li.select("l_partkey").distinct().count()
    top = (
        li.groupBy("l_partkey")
        .count()
        .orderBy(F.desc("count"), "l_partkey")
        .first()
    )
    assert (r.top_key, r.top_cnt) == (top.l_partkey, top["count"])
    assert r.skew_factor == round(r.top_cnt / (r.n_rows / r.n_keys), 6)
    assert r.skew_factor >= 1.0
