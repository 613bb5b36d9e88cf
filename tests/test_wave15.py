"""Semantic invariants for the wave-15 queries beyond the oracle
hash checks (tools/crosscheck.py covers value equality)."""

from __future__ import annotations

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


def test_filter_funnel_monotone(spark):
    rows = Q["doc_filter_funnel"](spark, SF_DIR).collect()
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        # each gate can only shed documents
        chain = [
            r.n_docs,
            r.pass_len,
            r.pass_words,
            r.pass_diversity,
            r.pass_lang,
            r.pass_all,
        ]
        assert chain == sorted(chain, reverse=True)
        assert r.keep_rate == round(r.pass_all / r.n_docs, 6)
    # the funnel actually sheds documents on this corpus (gate design
    # is calibrated to have attrition at every SF)
    assert sum(r.pass_all for r in rows) < sum(r.n_docs for r in rows)


def test_bounce_rate_bounds(spark):
    rows = Q["ev_bounce_rate"](spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_sessions = (
        ev.selectExpr("user_id", "CAST(ts AS DATE) AS d")
        .distinct()
        .count()
    )
    assert sum(r.n_sessions for r in rows) == n_sessions
    for r in rows:
        assert 0 <= r.n_bounces <= r.n_sessions
        assert 0.0 <= r.bounce_rate <= 1.0
