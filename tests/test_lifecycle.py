"""Unit tests for plans/lifecycle.py semantics on toy data (the DuckDB
oracle covers the fixture tables; these pin the tricky edge cases)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.plans import graph, lifecycle

Q = queries()


def test_cdc_merge_semantics(spark, sf_dir):
    out = Q["cdc_scd1_apply"](spark, sf_dir)
    rows = {r["user_id"]: r for r in out.collect()}
    assert rows, "CDC merge produced no rows"
    srcs = {r["src"] for r in rows.values()}
    assert srcs <= {"carried", "updated", "inserted"}
    # deleted keys must be absent: a user whose LAST post-cutoff event is
    # an error never appears
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    cutoff = F.lit(lifecycle._CUTOFF).cast("timestamp_ntz")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    last_post = (
        e.filter(F.col("ts") >= cutoff)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
    )
    deleted = {
        r["user_id"]
        for r in last_post.filter("event_type = 'error'").collect()
    }
    assert deleted, "fixture should contain at least one deleted user"
    assert not (deleted & set(rows)), "deleted keys leaked into merged state"


def test_gap_fill_dense_and_monotone_days(spark, sf_dir):
    out = Q["ts_gap_fill_daily"](spark, sf_dir).collect()
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    for user, rows in per_user.items():
        assert len(rows) == 30, f"user {user}: spine not dense"
        days = [r["day"] for r in rows]
        assert days == sorted(days)
        # forward fill: once a value is observed it persists until the
        # next observation; before any observation the fill is 0
        seen = 0
        for r in rows:
            if r["observed"]:
                seen = r["filled_cents"]
            else:
                assert r["filled_cents"] == seen


def test_dq_audit_clean_fixture(spark, sf_dir):
    got = {
        (r["table_name"], r["check_name"]): r["metric"]
        for r in Q["dq_audit_report"](spark, sf_dir).collect()
    }
    assert got[("orders", "dup_pk")] == 0
    assert got[("orders", "null_custkey")] == 0
    assert got[("lineitem", "orphan_orderkey")] == 0
    assert got[("orders", "row_count")] > 0


def test_pagerank_mass_conservation(spark, sf_dir):
    ranks = {
        r["node"]: r["rank_micro"]
        for r in Q["graph_pagerank_transitions"](spark, sf_dir).collect()
    }
    assert len(ranks) == 5
    total = sum(ranks.values())
    # floor division leaks < 1 unit per edge per round; with ~25 edges x
    # 3 rounds the loss is bounded well under 1e-6 of the total mass
    assert abs(total - graph._PR_SCALE) < 1000
    assert all(v > 0 for v in ranks.values())


def test_bpe_counts_exceed_ws_counts(spark, sf_dir):
    out = Q["doc_bpe_token_count"](spark, sf_dir).limit(50).collect()
    assert out
    for r in out:
        assert r["n_bpe"] > r["n_ws"] >= 1  # suffix adds punct/digit runs


def test_pii_scrub_finds_and_shrinks(spark, sf_dir):
    out = Q["doc_pii_scrub"](spark, sf_dir).limit(50).collect()
    assert out
    for r in out:
        assert r["n_emails"] == 1 and r["n_phones"] == 1
        assert r["len_redacted"] < r["len_raw"]
