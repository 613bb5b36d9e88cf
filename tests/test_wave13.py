"""Semantic invariants for the wave-13 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_incremental_dedup_planted_classes(spark, tmp_path):
    """All three verdict classes come out right on a planted corpus:
    doc_ids ...7 are the batch; doc 7 duplicates corpus doc 1
    (dup_of_existing), docs 17 and 27 share novel content
    (new_unique + dup_within_batch), doc 37 is unique."""
    rows_in = [
        (1, "shared with corpus", "s"),
        (2, "corpus only", "s"),
        (7, "shared with corpus", "s"),
        (17, "batch novel twin", "s"),
        (27, "batch novel twin", "s"),
        (37, "batch unique", "s"),
    ]
    spark.createDataFrame(
        rows_in, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.verdict: r.n_docs
        for r in Q["doc_incremental_dedup_merge"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"dup_of_existing": 1, "new_unique": 2, "dup_within_batch": 1}


def test_incremental_dedup_accounts_for_whole_batch(spark):
    rows = Q["doc_incremental_dedup_merge"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_batch = d.filter(F.col("doc_id") % 10 == 7).count()
    assert sum(r.n_docs for r in rows) == n_batch
    assert all(
        r.verdict in ("new_unique", "dup_of_existing", "dup_within_batch")
        for r in rows
    )


def test_poisson_outliers_ranked_and_consistent(spark):
    rows = Q["ev_daily_poisson_outliers"](spark, SF_DIR).collect()
    assert len(rows) == 10
    zs = [abs(r.z) for r in rows]
    assert zs == sorted(zs, reverse=True)
    # recompute lambda exactly (the query's lam column is rounded for
    # display; z was computed from the unrounded value)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    daily = ev.groupBy(F.to_date("ts").alias("d")).count().collect()
    lam = sum(r["count"] for r in daily) / len(daily)
    for r in rows:
        assert r.lam == round(lam, 6)
        assert r.z == round((r.n_events - lam) / math.sqrt(lam), 6)


def test_reorder_intervals_bounds(spark):
    rows = Q["ord_reorder_intervals"](spark, SF_DIR).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    n_orders = o.count()
    n_customers = o.select("o_custkey").distinct().count()
    # one gap per order beyond each customer's first
    assert sum(r.n_gaps for r in rows) == n_orders - n_customers
    for r in rows:
        assert r.p50 <= r.p90
        assert 0 <= r.mean_days


def test_boilerplate_prefix_is_the_argmax(spark):
    rows = Q["doc_boilerplate_prefixes"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.src_docs for r in rows) == d.count()
    for r in rows:
        assert 1 <= r.n_docs <= r.src_docs
        assert len(r.top_prefix.split(" ")) <= 8
        assert r.share_pct == round(100.0 * r.n_docs / r.src_docs, 6)


def test_lifespan_covers_every_user(spark):
    rows = Q["ev_user_lifespan_days"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert sum(r.n_users for r in rows) == ev.select("user_id").distinct().count()
    for r in rows:
        assert r.p50 <= r.p90
        assert 0 <= r.mean_days
