"""First-principles semantics tests for plans/advanced.py: bitmap
exact-distinct vs naive distinct, sweep-line concurrency on a
hand-built interval set, interval-union coverage, Morton code
properties, and triangle counting on a known graph.

These complement the DuckDB oracle hash checks — the oracle proves
engine parity, these prove the math on inputs small enough to verify
by hand.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.plans.lifecycle import _morton16
from planning_center_data_pipeline_spark.sources.tables import load_table

Q = queries()


def test_bitmap_distinct_equals_naive(spark, sf_dir):
    got = {
        r.event_type: r.n_users for r in Q["distinct_users_bitmap"](spark, sf_dir).collect()
    }
    naive = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == naive and got


def test_bitmap_partials_merge(spark):
    """The two-level plan is state-mergeable: bitmaps built over two
    disjoint day-shards OR together to the same per-bucket state a
    single pass builds — the incremental-ingestion contract."""
    rows = [(uid,) for uid in [1, 2, 3, 70000, 70001, 1, 2, 70000]]
    df = spark.createDataFrame(rows, "user_id bigint")
    shard_a, shard_b = df.limit(4), df.subtract(spark.createDataFrame([], "user_id bigint")).exceptAll(df.limit(4))

    def per_bucket(d):
        return d.groupBy(F.bitmap_bucket_number("user_id").alias("bkt")).agg(
            F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bmp")
        )

    merged = (
        per_bucket(shard_a)
        .unionAll(per_bucket(shard_b))
        .groupBy("bkt")
        .agg(F.bitmap_or_agg("bmp").alias("bmp"))
        .agg(F.sum(F.bitmap_count("bmp")).alias("n"))
        .collect()[0]
        .n
    )
    assert merged == 5  # {1, 2, 3, 70000, 70001}


def test_max_concurrency_hand_case(spark):
    # Intervals (width 300s): [0,300) [100,400) [200,500) overlap 3-deep;
    # [1000,1300) is alone.  Half-open: an event at exactly t+300 does
    # NOT overlap the one that opened at t.
    rows = [(i, t, 1, "x", 0.0, "{}") for i, t in enumerate([0, 100, 200, 1000])]
    df = spark.createDataFrame(
        rows, "event_id bigint, sec bigint, user_id bigint, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_micros(F.col("sec") * 1_000_000).cast("timestamp_ntz"))

    from planning_center_data_pipeline_spark.functions.temporal import epoch_us
    from planning_center_data_pipeline_spark.plans import events
    from pyspark.sql.window import Window

    e = df.withColumn("tus", epoch_us("ts"))
    opens = e.select("event_type", F.col("tus").alias("t"), F.lit(1).alias("d"))
    closes = e.select(
        "event_type", (F.col("tus") + F.lit(events._CONC_US)).alias("t"), F.lit(-1).alias("d")
    )
    net = opens.unionAll(closes).groupBy("event_type", "t").agg(F.sum("d").alias("net"))
    w = Window.partitionBy("event_type").orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    peak = (
        net.withColumn("conc", F.sum("net").over(w))
        .groupBy("event_type")
        .agg(F.max("conc").alias("peak"))
        .collect()[0]
        .peak
    )
    assert peak == 3


def test_interval_union_merges_overlaps(spark, sf_dir):
    """Covered time is bounded by n_events * width and strictly less
    when any two intervals of a user overlap; islands <= events."""
    res = Q["ts_interval_union_length"](spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    n_by_user = {r.user_id: r.n for r in ev}
    assert res
    for r in res:
        n = n_by_user[r.user_id]
        assert r.n_islands <= n
        assert r.covered_us <= n * 600_000_000
        assert r.covered_us >= 600_000_000  # at least one interval


def test_morton16_bit_interleave(spark):
    """Morton codes must match the classic bit-interleave definition."""
    df = spark.createDataFrame(
        [(x, y) for x in (0, 1, 5, 255) for y in (0, 2, 128, 255)], "bx bigint, by bigint"
    )
    got = {
        (r.bx, r.by): r.z
        for r in df.withColumn("z", F.expr(_morton16("bx", "by"))).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i + 1)
            z |= ((y >> i) & 1) << (2 * i)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)


def test_triangle_count_known_graph(spark, tmp_path):
    """K4 plus a pendant edge: C(4,3)=4 triangles, 5 nodes, 7 edges.
    Edges are injected as a fake 'lineitem' (orders = cliques)."""
    # order 1 holds parts {1,2,3,4} (K4), order 2 holds {4,5} (pendant).
    rows = [(1, p) for p in (1, 2, 3, 4)] + [(2, p) for p in (4, 5)]
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    d = tmp_path / "sf_fake"
    d.mkdir()
    li.write.parquet(str(d / "lineitem.parquet"))
    out = Q["graph_triangle_count"](spark, str(d)).collect()[0]
    assert (out.n_nodes, out.n_edges, out.n_triangles) == (5, 7, 4)


def test_theta_exact_below_capacity_and_mergeable(spark):
    """Theta sketches are exact until 2^lg_k distinct keys, and the
    union of two shard sketches equals the one-pass sketch — the
    cross-day mergeability contract."""
    n = 3000  # < 2^14
    est = spark.sql(
        f"SELECT theta_sketch_estimate(theta_sketch_agg(id, 14)) AS e FROM range({n})"
    ).collect()[0].e
    assert est == n
    merged = spark.sql(
        f"""
        SELECT theta_sketch_estimate(theta_union_agg(sk, 14)) AS e FROM (
          SELECT theta_sketch_agg(id, 14) AS sk FROM range({n // 2})
          UNION ALL
          SELECT theta_sketch_agg(id, 14) FROM range({n // 4}, {n})
        )"""
    ).collect()[0].e
    assert merged == n


def test_theta_set_ops_match_exact(spark, sf_dir):
    got = Q["theta_user_set_ops"](spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events")
    c = {r.user_id for r in e.filter("event_type = 'click'").select("user_id").distinct().collect()}
    p = {r.user_id for r in e.filter("event_type = 'purchase'").select("user_id").distinct().collect()}
    assert got.either_users == len(c | p)
    assert got.both_users == len(c & p)
    assert got.click_only_users == len(c - p)


def test_aqe_splits_skewed_join(spark, sf_dir):
    """With skew thresholds lowered, AQE must split the hot partition
    of a skewed sort-merge join (the 100 TB hot-key defense that needs
    no manual salting)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS payload"
        )
        right = spark.range(0, 2_000).selectExpr("id AS k", "id * 2 AS val")
        joined = left.join(right, "k")
        # Materialize THIS DataFrame (count() builds a separate plan) so
        # its own AdaptiveSparkPlan finalizes, then inspect that plan.
        n = len(joined.collect())
        assert n == 180_000 + 200  # hot key 0 matches + distinct tail in range
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_udf_ladder_parity(spark, sf_dir):
    """The three UDF transports (expression, pandas_udf, Arrow Python
    UDF) must agree bit-for-bit on an integer token count — the
    documented ladder: expressions first, Arrow-batched second,
    row-at-a-time never."""
    from pyspark.sql.functions import pandas_udf, udf
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    expr_counts = d.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n")
    )

    @pandas_udf("int")
    def pd_count(s: pd.Series) -> pd.Series:
        return s.str.strip().str.split().map(len).astype("int32")

    @udf(returnType=T.IntegerType(), useArrow=True)
    def arrow_count(s):
        return len(s.strip().split())

    a = {r.doc_id: r.n for r in expr_counts.collect()}
    b = {r.doc_id: r.n for r in d.select("doc_id", pd_count("text").alias("n")).collect()}
    c = {r.doc_id: r.n for r in d.select("doc_id", arrow_count("text").alias("n")).collect()}
    assert a == b == c


def test_pareto_skyline_matches_bruteforce(spark, sf_dir):
    got = {
        (r.o_orderkey, r.price, r.order_day_us)
        for r in Q["pareto_orders_skyline"](spark, sf_dir).collect()
    }
    from planning_center_data_pipeline_spark.functions.temporal import epoch_us

    pts = [
        (r.o_orderkey, r.o_totalprice, r.odus)
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", epoch_us("o_orderdate").alias("odus"))
        .collect()
    ]
    # brute force weak dominance + smallest-key-per-duplicate-pair
    best_key = {}
    for k, p, d in pts:
        if (p, d) not in best_key or k < best_key[(p, d)]:
            best_key[(p, d)] = k
    uniq = [(k, p, d) for (p, d), k in best_key.items()]
    expect = {
        (k, p, d)
        for (k, p, d) in uniq
        if not any(
            (p2 >= p and d2 >= d and (p2 > p or d2 > d)) for (_, p2, d2) in uniq
        )
    }
    assert got == expect and got


def test_rolling_distinct_7d_vs_naive(spark, sf_dir):
    got = {r.day: r.users_7d for r in Q["rolling_distinct_users_7d"](spark, sf_dir).collect()}
    from planning_center_data_pipeline_spark.functions.temporal import epoch_us

    rows = (
        load_table(spark, sf_dir, "events")
        .select((epoch_us("ts") / 86_400_000_000).cast("bigint").alias("day"), "user_id")
        .collect()
    )
    from collections import defaultdict

    by_day = defaultdict(set)
    for r in rows:
        by_day[r.day].add(r.user_id)
    for day in by_day:
        naive = set().union(
            *(by_day.get(d, set()) for d in range(day - 6, day + 1))
        )
        assert got[day] == len(naive), day
    assert set(got) == set(by_day)
