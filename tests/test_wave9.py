"""Wave-9 semantic invariants (oracle parity is covered by the DuckDB
crosscheck; these prove the algorithmic claims independently):

- the apriori-pruned triple counts equal the unpruned brute-force
  3-way join (pruning is a superset guarantee, not an approximation);
- the k-anonymity histogram partitions the full population;
- trimmed means sit inside each group's untrimmed envelope and keep
  ~90% of rows;
- truncating to the FULL dimensionality is a fixed point of the
  Matryoshka recall metric (recall@5 == 1.0 exactly);
- percent-of-parent shares telescope to 100 within a region and
  globally.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.plans import (
    embeddings,
    events,
    governance,
)
from planning_center_data_pipeline_spark.sources.tables import load_table

Q = queries()

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def test_basket_triples_equal_unpruned_brute_force(spark):
    got = {
        (r.t1, r.t2, r.t3, r.support)
        for r in Q["ev_basket_triples"](spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    b = ev.select(
        "user_id", F.to_date("ts").alias("d"), F.col("event_type").alias("t")
    ).distinct()
    n_b = b.select("user_id", "d").distinct().count()
    brute = (
        b.alias("a")
        .join(b.alias("x"), ["user_id", "d"])
        .join(b.alias("y"), ["user_id", "d"])
        .filter((F.col("a.t") < F.col("x.t")) & (F.col("x.t") < F.col("y.t")))
        .groupBy(
            F.col("a.t").alias("t1"),
            F.col("x.t").alias("t2"),
            F.col("y.t").alias("t3"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") * events._SUP_DIV >= n_b)
    )
    want = {(r.t1, r.t2, r.t3, r.support) for r in brute.collect()}
    assert got == want and got


def test_k_anonymity_partitions_population(spark):
    rows = Q["priv_k_anonymity"](spark, SF_SMALL).collect()
    total = load_table(spark, SF_SMALL, "customer").count()
    assert sum(r.n_people for r in rows) == total
    for r in rows:
        assert r.n_people == r.class_size * r.n_classes
        assert r.at_risk == (1 if r.class_size < governance._KANON_K else 0)


def test_trimmed_mean_inside_envelope(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    stats = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()
    }
    for r in Q["stat_trimmed_mean"](spark, SF_SMALL).collect():
        s = stats[r.rf]
        assert s.mn <= r.trimmed_mean <= s.mx
        assert 0.88 * s.n <= r.n_kept <= 0.92 * s.n


def test_trunc_recall_full_dims_is_fixed_point(spark, monkeypatch):
    monkeypatch.setattr(embeddings, "_TRUNC_DIMS", embeddings._FULL_DIMS)
    rows = Q["emb_dim_trunc_recall"](spark, SF_SMOKE).collect()
    assert rows and all(
        r.n_overlap == embeddings._TRUNC_K and r.recall_at5 == 1.0 for r in rows
    )


def test_trunc_recall_bounds(spark):
    rows = Q["emb_dim_trunc_recall"](spark, SF_SMALL).collect()
    assert rows and all(0 <= r.n_overlap <= embeddings._TRUNC_K for r in rows)


def test_share_of_parent_telescopes(spark):
    rows = Q["win_share_of_parent"](spark, SF_SMALL).collect()
    assert abs(sum(r.share_of_global_pct for r in rows) - 100.0) < 1e-4
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r.share_of_region_pct)
    assert len(by_region) == 5
    for shares in by_region.values():
        assert abs(sum(shares) - 100.0) < 1e-4


def test_ship_sla_percentiles_ordered(spark):
    rows = Q["li_ship_sla_percentiles"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.p50_days <= r.p90_days <= r.p99_days
        assert 0.0 <= r.within_30d_pct <= 100.0
