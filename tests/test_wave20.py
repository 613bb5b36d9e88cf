"""Semantic invariants for the wave-20 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_integrity_audit_clean_and_planted_orphans(spark, tmp_path):
    # the synthetic schema is referentially clean
    rows = Q["rel_integrity_audit"](spark, SF_DIR).collect()
    assert len(rows) == 4
    assert all(r.n_orphans == 0 and r.orphan_pct == 0.0 for r in rows)
    # plant orphans: copy the tables, drop half the parts
    import shutil

    for t in ("lineitem", "orders", "supplier", "customer"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    spark.read.parquet(f"{SF_DIR}/part.parquet").filter(
        F.col("p_partkey") % 2 == 0
    ).write.parquet(f"{tmp_path}/part.parquet")
    planted = {
        r.relation: r
        for r in Q["rel_integrity_audit"](spark, str(tmp_path)).collect()
    }
    r = planted["lineitem.l_partkey -> part"]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    want = li.filter(F.col("l_partkey") % 2 == 1).count()
    assert r.n_orphans == want > 0
    assert r.orphan_pct == round(100.0 * want / r.n_child, 6)


def test_boxplot_ordering_and_outliers(spark):
    rows = Q["ev_type_value_boxplot"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert sum(r.n for r in rows) == ev.filter(F.col("value").isNotNull()).count()
    for r in rows:
        assert r.vmin <= r.q1 <= r.median <= r.q3 <= r.vmax
        assert 0 <= r.n_outliers < r.n
