"""Defining-property tests for waves 37-39 (the DuckDB oracles pin
exact values; these pin the semantics that make the values RIGHT)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


# --- wave 37 -----------------------------------------------------------------

def test_window_funnel_monotone_and_subset(spark):
    rows = {r["step"]: r["n_users"] for r in _q("ev_window_funnel")(spark, SF01).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3] >= 0


def test_components_match_true_bounded_propagation(spark):
    """Re-run 5 min-label rounds in plain Python on the sf0.001 edge
    list; the distributed result must agree exactly."""
    from collections import defaultdict

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = defaultdict(list)
    for r in li:
        by_order[r["l_orderkey"]].append(r["l_partkey"])
    nbrs = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(set(parts))
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                nbrs[u].add(v)
                nbrs[v].add(u)
    lbl = {n: n for n in nbrs}
    for _ in range(5):
        nxt = {}
        for n in nbrs:
            nxt[n] = min(lbl[n], min(lbl[m] for m in nbrs[n]))
        lbl = nxt
    sizes = defaultdict(int)
    for n, c in lbl.items():
        sizes[c] += 1
    expect = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["component"], r["n_parts"])
        for r in _q("graph_components_minlabel")(spark, SF).collect()
    ]
    assert got == expect


def test_bh_fdr_step_up_shape(spark):
    rows = _q("stat_bh_fdr")(spark, SF01).collect()
    assert len(rows) == 25
    # ranks are 1..25 in order; p_num within the add-one bounds
    assert [r["rnk"] for r in rows] == list(range(1, 26))
    assert all(1 <= r["p_num"] <= 201 for r in rows)
    # step-up: the rejected set is a prefix of the p-sorted ranks
    rejected = [r["rejected"] for r in rows]
    assert rejected == sorted(rejected, reverse=True)


def test_bm25_spot_check_against_python(spark):
    """Recompute one returned doc's BM25 in plain Python from raw
    token counts."""
    from planning_center_data_pipeline_spark.plans.documents_text import _BM25_TERMS

    out = _q("doc_bm25_scores")(spark, SF).collect()
    assert out, "no docs matched the query terms"
    target = out[0]["doc_id"]
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks = {r["doc_id"]: r["text"].lower().split() for r in docs}
    n_docs = len(toks)
    tot = sum(len(t) for t in toks.values())
    micro = 0
    for term in _BM25_TERMS:
        tf = toks[target].count(term)
        if tf == 0:
            continue
        df = sum(1 for t in toks.values() if term in t)
        dl = len(toks[target])
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs / tot)))
        micro += int(round(s * 1e9))
    assert out[0]["bm25_micro"] == micro


# --- wave 38 -----------------------------------------------------------------

def test_cdc_chunks_conserve_tokens(spark):
    """Chunking is a partition of each doc's token stream: per-source
    chunk token totals equal the raw token totals."""
    out = {r["source"]: r for r in _q("doc_cdc_chunks")(spark, SF01).collect()}
    d = spark.read.parquet(f"{SF01}/documents.parquet")
    raw = {
        r["source"]: r["n"]
        for r in d.select(
            "source",
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
                )
            ).alias("tk"),
        )
        .groupBy("source")
        .agg(F.sum("tk").alias("n"))
        .collect()
    }
    assert set(out) == set(raw)
    for src, row in out.items():
        assert row["n_toks"] == raw[src]
        assert 0 < row["n_unique"] <= row["n_chunks"]
        assert 0.0 <= row["dup_ratio"] < 1.0


def test_unigram_xent_bounds(spark):
    rows = _q("doc_unigram_xent")(spark, SF01).collect()
    assert rows
    d = spark.read.parquet(f"{SF01}/documents.parquet").count()
    assert len(rows) == d
    for r in rows:
        assert r["dl"] > 0
        assert 0.0 <= r["xent_bits"] < 64.0


def test_anova_f_positive_and_python_parity(spark):
    """Recompute F from the same exact aggregates in plain Python."""
    import duckdb

    row = _q("stat_anova_oneway")(spark, SF).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'"
    )
    g = con.execute(
        "SELECT COUNT(*) n, CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) s,"
        " SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)**2) ss"
        " FROM orders GROUP BY o_orderpriority"
    ).fetchall()
    k = len(g)
    n = sum(r[0] for r in g)
    s = sum(r[1] for r in g)
    ssq = sum(int(r[2]) for r in g)
    # mirror the engine: s_g through DOUBLE, rounded to whole cents^2
    tsum = sum(
        int(round(float(r[1]) * float(r[1]) / float(r[0]))) for r in g
    )
    ssb = float(tsum) - s * s / n
    ssw = float(ssq) - float(tsum)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n"] == n
    assert abs(row["f_stat"] - round(f, 6)) <= 1e-6


def test_eoq_monotone_in_demand_at_fixed_h(spark):
    rows = _q("li_eoq_policy")(spark, SF01).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["eoq_micro"] > 0 and r["h_micro"] > 0
        expect = int(
            round(
                math.sqrt(2.0 * r["d_qty"] * 100.0 / (r["h_micro"] / 1e6)) * 1e6
            )
        )
        assert r["eoq_micro"] == expect


# --- wave 39 -----------------------------------------------------------------

def test_minhash_neighbors_pairs_verified(spark):
    """Every emitted pair's jaccard matches an independent exact
    recomputation, and meets the threshold."""
    from collections import defaultdict

    out = _q("graph_minhash_neighbors")(spark, SF).collect()
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = defaultdict(set)
    for r in li:
        by_order[r["l_orderkey"]].add(r["l_partkey"])
    nbrs = defaultdict(set)
    for parts in by_order.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                nbrs[u].add(v)
                nbrs[v].add(u)
    assert 0 < len(out) <= 25
    for r in out:
        inter = len(nbrs[r["id_1"]] & nbrs[r["id_2"]])
        union = len(nbrs[r["id_1"]] | nbrs[r["id_2"]])
        assert r["n_common"] == inter
        assert r["deg_1"] == len(nbrs[r["id_1"]])
        assert r["deg_2"] == len(nbrs[r["id_2"]])
        assert abs(r["jaccard"] - inter / union) < 1e-12
    js = [r["jaccard"] for r in out]
    assert js == sorted(js, reverse=True)


def test_minhash_neighbors_planted_hub_bucket_cap(spark, tmp_path):
    """Bucket-skew ceiling (round-8 VERDICT item 5): plant a hub — 200
    parts whose ONLY co-purchase neighbor is part 1, so all 200 twins
    share an identical MinHash signature and flood every band bucket.
    Without the cap the bucket join emits C(200,2)=19900 pairs per
    band; with it, candidates stay <= C(cap,2) and the query still
    surfaces the (identical-neighborhood, jaccard=1.0) pairs."""
    from planning_center_data_pipeline_spark.plans.graph import (
        _NMH_BUCKET_CAP,
        _nmh_candidates,
    )

    hub_twins = list(range(2, 202))  # parts with neighbor set == {1}
    rows = [(k, 1) for k in hub_twins] + [(k, k) for k in hub_twins]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    # minimal sf_dir: the plan reads only lineitem
    li_path = str(tmp_path / "lineitem.parquet")
    li.write.parquet(li_path)

    # direct probe of the candidate bound on the planted edge list
    half = li.alias("a").join(
        li.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    ).distinct()
    edges = half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    n_cand = _nmh_candidates(edges).count()
    cap_pairs = _NMH_BUCKET_CAP * (_NMH_BUCKET_CAP - 1) // 2
    assert 0 < n_cand <= cap_pairs, (n_cand, cap_pairs)

    # end-to-end: the ranking still finds max-similarity twin pairs
    out = Q["graph_minhash_neighbors"](spark, str(tmp_path)).collect()
    assert len(out) == 25
    assert all(r["jaccard"] == 1.0 for r in out)
    # every emitted id is a capped-bucket member (lowest-id twins)
    kept = set(sorted(hub_twins)[:_NMH_BUCKET_CAP])
    assert all(r["id_1"] in kept and r["id_2"] in kept for r in out)


def test_nearest_event_is_truly_nearest(spark):
    from collections import defaultdict

    from planning_center_data_pipeline_spark.functions.temporal import epoch_us
    from planning_center_data_pipeline_spark.sources.tables import load_table

    out = _q("asof_nearest_event")(spark, SF).collect()
    e = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", "event_type", "event_id", epoch_us("ts").alias("tus"))
        .collect()
    )
    clicks = defaultdict(list)
    buys = {}
    for r in e:
        tus = r["tus"]
        if r["event_type"] == "click":
            clicks[r["user_id"]].append((tus, r["event_id"]))
        elif r["event_type"] == "purchase":
            buys[r["event_id"]] = (r["user_id"], tus)
    got = {r["purchase_id"]: r for r in out}
    for pid, (uid, pts) in buys.items():
        cands = clicks.get(uid, [])
        if not cands:
            assert pid not in got
            continue
        best = min(cands, key=lambda c: (abs(c[0] - pts), c[0], c[1]))
        assert got[pid]["click_id"] == best[1]
        assert got[pid]["delta_us"] == best[0] - pts


def test_corr_matrix_bounds_and_symmetric_count(spark):
    rows = _q("data_corr_matrix")(spark, SF01).collect()
    assert len(rows) == 6
    for r in rows:
        assert -1.0 - 1e-9 <= r["r"] <= 1.0 + 1e-9


def test_fano_positive(spark):
    rows = _q("ev_fano_burstiness")(spark, SF01).collect()
    assert rows
    for r in rows:
        assert r["fano"] is not None and r["fano"] >= 0.0
        assert 0 < r["n_days"] <= 31
