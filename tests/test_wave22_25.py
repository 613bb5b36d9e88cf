"""Waves 22-25 invariants beyond the driver hash check: bridge
reconciliation, queue closed-form vs direct simulation, k-core
monotonicity, containment bounds, NDCG range."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries

Q = queries()


def test_revenue_bridge_reconciles_to_the_cent(spark, sf_dir):
    """new + expansion + contraction + churned == net, per month."""
    rows = Q["ord_revenue_bridge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["new_cents"]
            + r["expansion_cents"]
            + r["contraction_cents"]
            + r["churned_cents"]
            == r["net_cents"]
        )
        assert r["new_cents"] >= 0 and r["expansion_cents"] >= 0
        assert r["contraction_cents"] <= 0 and r["churned_cents"] <= 0


def test_queue_wait_closed_form_equals_direct_simulation(spark, sf_dir):
    """The prefix-extremum closed form must equal the sequential
    c_i = max(a_i, c_{i-1}) + 1 recursion run directly in Python."""
    from planning_center_data_pipeline_spark.sources.tables import load_table

    got = {
        r["priority"]: (
            r["n_orders"],
            r["max_wait_days"],
            r["total_wait_days"],
        )
        for r in Q["ord_queue_wait_closed_form"](spark, sf_dir).collect()
    }
    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).alias("a"),
            "o_orderkey",
        )
        .collect()
    )
    by_prio: dict[str, list] = {}
    for r in o:
        by_prio.setdefault(r["o_orderpriority"], []).append(
            (r["a"], r["o_orderkey"])
        )
    for prio, arr in by_prio.items():
        arr.sort()
        c = None
        waits = []
        for a, _ in arr:
            c = (a if c is None or a > c else c) + 1
            waits.append(c - a - 1)
        assert got[prio] == (len(arr), max(waits), sum(waits))


def test_kcore_rounds_monotone_and_converging(spark, sf_dir):
    rows = Q["graph_bipartite_kcore_rounds"](spark, sf_dir).collect()
    assert [r["round"] for r in rows] == [0, 1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b["n_edges"] <= a["n_edges"]
        assert b["n_suppliers"] <= a["n_suppliers"]
        assert b["n_parts"] <= a["n_parts"]
    assert rows[1]["n_edges"] < rows[0]["n_edges"]  # peel actually bites


def test_containment_bounds_and_symmetric_subset(spark, tmp_path):
    """Planted: A's shingles are a strict subset of B's -> containment
    (A in B) = 1.0 while (B in A) < 1 and Jaccard < threshold."""
    small = "alpha beta gamma delta epsilon"  # 3 shingles
    big = small + " zeta eta theta iota kappa xray yankee zulu"
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {
        (r["doc_id"], r["other_id"]): r
        for r in Q["doc_containment_pairs"](spark, str(tmp_path)).collect()
    }
    assert rows[(1, 2)]["containment"] == 1.0  # A fully inside B
    assert (2, 1) not in rows  # B in A is far below 0.6
    for r in rows.values():
        assert 0.0 < r["containment"] <= 1.0
        assert r["n_common"] <= r["n_self"]


def test_ndcg_bounds_and_perfect_ranking(spark):
    """NDCG in [0, 1]; a user whose purchases occupy the top ranks by
    value scores exactly 1.0 (ndcg_micro = 1_000_000)."""
    # user 1: 3 purchases with the 3 highest values -> perfect ranking
    rows = [
        (i, 1, "purchase" if i < 3 else "view", 1000.0 - i)
        for i in range(12)
    ]
    # user 2: single purchase ranked 5th by value -> dcg = w[5],
    # idcg = w[1] -> ndcg_micro = round-down(386853e6 / 1e6) exactly
    rows += [(100 + i, 2, "purchase" if i == 4 else "view", 500.0 - i)
             for i in range(12)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01")))
    df = df.withColumn("props", F.lit("{}"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(f"{td}/events.parquet")
        out = {r["cohort"]: r for r in Q["ml_ndcg_at10"](spark, td).collect()}
    # cohorts: user 1 -> cohort 1, user 2 -> cohort 2
    assert out[1]["sum_ndcg_micro"] == 1_000_000
    assert out[2]["sum_ndcg_micro"] == 386_853  # w[5]/w[1] in micro
