"""Wave-7 semantic invariants (oracle parity is covered by the DuckDB
crosscheck; these prove the algorithmic claims independently):

- the grid radius join finds EXACTLY the brute-force pair set (grid
  bucketing is a pruning strategy, not an approximation);
- BFS levels alternate bipartite sides and hop-0 equals the seed set;
- negative samples never collide with true positives, positives are
  capped per user;
- the k-fold split can never place two byte-identical documents in
  different folds (the leakage guarantee);
- the integer EWMA matches an independent pandas recomputation
  bit-for-bit.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.plans import commerce, graph

Q = queries()

SF_SMOKE = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


def test_geo_radius_pairs_equals_brute_force(spark):
    got = {
        (r.key_a, r.key_b, r.dist2)
        for r in Q["geo_radius_pairs"](spark, SF_SMALL).collect()
    }
    pts = commerce._geo_points(spark, SF_SMALL).toPandas()
    k = pts["k"].to_numpy()
    x = pts["x"].to_numpy()
    y = pts["y"].to_numpy()
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    d2 = dx * dx + dy * dy
    ia, ib = np.where((d2 <= commerce._GEO_R**2) & (k[:, None] < k[None, :]))
    want = {(int(k[a]), int(k[b]), int(d2[a, b])) for a, b in zip(ia, ib)}
    assert got == want and len(want) > 0


def test_geo_point_coords_match_md5_contract(spark):
    row = commerce._geo_points(spark, SF_SMOKE).filter(F.col("k") == 7).first()
    h = int(hashlib.md5(b"x|7").hexdigest()[:15], 16) % commerce._GEO_SPAN
    assert row.x == h


def test_graph_bfs_hops_levels(spark):
    rows = {r.hop: r for r in Q["graph_bfs_hops"](spark, SF_SMOKE).collect()}
    edges = graph._customer_part_edges(spark, SF_SMOKE)
    seeds = edges.filter(F.col("c") % 300 == 0).select("c").distinct().count()
    assert rows[0].n_customers == seeds and rows[0].n_parts == 0
    for hop, r in rows.items():
        if hop % 2 == 0:
            assert r.n_parts == 0
        else:
            assert r.n_customers == 0
    total_cust = sum(r.n_customers for r in rows.values())
    assert total_cust <= edges.select("c").distinct().count()


def test_rec_contrastive_pairs_labels(spark):
    out = Q["rec_contrastive_pairs"](spark, SF_SMALL).toPandas()
    edges = {
        (r.c, r.p)
        for r in graph._customer_part_edges(spark, SF_SMALL).collect()
    }
    pos = out[out.label == 1]
    neg = out[out.label == 0]
    assert len(pos) > 0 and len(neg) > 0
    assert all((r.cust_key, r.part_key) in edges for r in pos.itertuples())
    assert not any((r.cust_key, r.part_key) in edges for r in neg.itertuples())
    assert pos.groupby("cust_key").size().max() <= 3
    assert neg.groupby("cust_key").size().max() <= 3
    # no duplicate (user, part, label) rows
    assert not out.duplicated().any()


def test_doc_kfold_split_no_content_leakage(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.md5("text").alias("h"),
            (
                F.conv(F.substring(F.md5(F.concat(F.lit("fold|"), F.md5("text"))), 1, 15), 16, 10).cast(
                    "bigint"
                )
                % 5
            ).alias("fold"),
        )
    )
    # every content hash maps to exactly one fold
    assert (
        docs.groupBy("h").agg(F.countDistinct("fold").alias("nf")).agg(F.max("nf")).first()[0]
        == 1
    )
    stats = Q["doc_kfold_split"](spark, sf_dir).toPandas()
    n_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert stats.n_docs.sum() == n_total
    assert set(stats.fold.unique()) <= {0, 1, 2, 3, 4}


def test_emb_hard_negatives_semantics(spark):
    out = Q["emb_hard_negatives"](spark, SF_SMOKE).toPandas()
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").toPandas()
    labels = dict(zip(emb.vec_id, emb.label))
    # every mined negative has a different label from its query
    assert (out.query_label != out.neighbor_label).all()
    assert all(labels[r.neighbor_id] == r.neighbor_label for r in out.itertuples())
    # per query: exactly the 3 best different-label cosines (numpy recompute)
    q = np.round(
        np.stack(emb[emb.vec_id < 10].sort_values("vec_id").embedding.to_numpy()).astype(np.float64)
        * 1_000_000
    ).astype(np.int64)
    c = np.round(
        np.stack(emb.sort_values("vec_id").embedding.to_numpy()).astype(np.float64) * 1_000_000
    ).astype(np.int64)
    cid = emb.sort_values("vec_id").vec_id.to_numpy()
    clab = emb.sort_values("vec_id").label.to_numpy()
    for qi in range(len(q)):
        dots = c @ q[qi]
        cos = dots / np.sqrt(float(q[qi] @ q[qi])) / np.sqrt((c * c).sum(axis=1).astype(np.float64))
        mask = clab != labels[qi]
        order = sorted(
            [(float(-cos[j]), int(cid[j])) for j in range(len(c)) if mask[j]]
        )[:3]
        got = out[out.query_id == qi].sort_values("rank")
        assert list(got.neighbor_id) == [nid for _, nid in order]


def test_gdpr_purge_audit_cascade(spark, sf_dir):
    out = {r.tbl: r for r in Q["gdpr_purge_audit"](spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # purged+kept == table size, every table present
    assert set(out) == {"customer", "orders", "lineitem", "events"}
    assert out["orders"].rows_purged + out["orders"].rows_kept == orders.count()
    # lineitem cascade equals a direct semi-join count
    purged_li = (
        li.join(
            orders.filter(F.col("o_custkey") % 97 == 0).select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        ).count()
    )
    assert out["lineitem"].rows_purged == purged_li


def test_ev_cusum_closed_form_equals_recursion(spark):
    """The windowed closed form must equal the textbook recursion
    S_t = max(0, S_{t-1} + dev_t) replayed in pandas."""
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    out = Q["ev_cusum_shift"](spark, SF_SMOKE).toPandas()
    from planning_center_data_pipeline_spark.sources.tables import load_table

    daily = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("x"))
        .toPandas()
    )
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("d")
        n, tot = len(g), g.x.sum()
        s, best = 0, []
        for _, row in g.iterrows():
            s = max(0, s + (int(row.x) * n - int(tot)))
            best.append((-s, str(row.d), s))
        top3 = sorted(best)[:3]
        got = out[out.event_type == et].sort_values("rank")
        assert list(got.s_scaled) == [b[2] for b in top3]
        assert list(got.day) == [b[1] for b in top3]


def test_ts_rolling_median_matches_pandas(spark):
    out = Q["ts_rolling_median"](spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    orders["cts"] = (orders.o_totalprice * 100).round().astype("int64")
    orders["day"] = orders.o_orderdate.dt.date.astype(str)
    daily = (
        orders.groupby(["o_orderpriority", "day"]).cts.sum().reset_index()
    )
    for (pri, day), grp in out.groupby(["priority", "day"]):
        g = daily[daily.o_orderpriority == pri].sort_values("day")
        vals = g[g.day <= day].tail(7).cts.to_numpy()
        window = np.sort(vals)
        n = len(window)
        med = (window[(n - 1) // 2] + window[n // 2]) / 2
        assert grp.med_cents.iloc[0] == med, (pri, day)


def test_attr_linear_touch_conserves_value(spark, sf_dir):
    out = Q["attr_linear_touch"](spark, sf_dir).toPandas()
    from planning_center_data_pipeline_spark.sources.tables import load_table

    conv_total = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")))
        .first()[0]
    )
    # exact conservation: every micro-unit of conversion value lands
    # in exactly one channel (incl. the remainder distribution)
    assert out.credited_micro.sum() == conv_total
    assert set(out.channel) <= {"click", "view", "direct"}


def test_stat_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = Q["stat_bootstrap_ci"](spark, sf_dir).first()
    mean_cents = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).cast("double")
            / F.count(F.lit(1))
        )
        .first()[0]
    )
    assert row.ci_lo < row.ci_hi
    # a 90% CI from 32 replicas should bracket the point estimate
    assert row.ci_lo <= mean_cents <= row.ci_hi
    # determinism: a second evaluation yields the identical interval
    again = Q["stat_bootstrap_ci"](spark, sf_dir).first()
    assert (row.ci_lo, row.ci_hi) == (again.ci_lo, again.ci_hi)


def test_emb_pq_codes_histogram_matches_numpy(spark):
    out = Q["emb_pq_codes"](spark, SF_SMOKE).toPandas()
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
    )
    mat = np.round(
        np.stack(emb.embedding.to_numpy()).astype(np.float64) * 1_000_000
    ).astype(np.int64)
    hist: dict[tuple[int, int], int] = {}
    for s in range(4):
        sub = mat[:, s * 16 : (s + 1) * 16]
        cent = sub[:16]
        # exact integer distances; ties to smaller code id (argmin)
        d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        codes = d.argmin(axis=1)
        for c in codes:
            hist[(s, int(c))] = hist.get((s, int(c)), 0) + 1
    got = {(r.subspace, r.code): r.n_vectors for r in out.itertuples()}
    assert got == hist
    # every subspace partitions the full vector set
    assert all(
        out[out.subspace == s].n_vectors.sum() == len(emb) for s in range(4)
    )


def test_doc_common_substring_pairs_verified(spark):
    out = Q["doc_common_substring_pairs"](spark, SF_SMALL).toPandas()
    assert len(out) > 0
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter(F.col("n_chars") >= 64)
        .toPandas()
        .set_index("doc_id")
    )

    def windows(text: str) -> set[str]:
        return {
            text[p : p + 64]
            for p in range(0, len(text) - 63, 16)
        }

    for r in out.head(10).itertuples():
        shared = windows(docs.loc[r.doc_a, "text"]) & windows(
            docs.loc[r.doc_b, "text"]
        )
        # n_shared counts rare hashes only, so it's a lower bound on
        # the true shared-window count
        assert len(shared) >= r.n_shared > 0


def test_doc_training_order_is_permutation(spark, sf_dir):
    out = Q["doc_training_order"](spark, sf_dir).toPandas()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(out) == n_docs and out.doc_id.nunique() == n_docs
    for shard, g in out.groupby("shard"):
        assert sorted(g.position) == list(range(1, len(g) + 1))
    again = Q["doc_training_order"](spark, sf_dir).toPandas()
    assert out.equals(again)


def test_ev_capped_sessions_matches_pandas(spark):
    from planning_center_data_pipeline_spark.sources.tables import load_table

    out = Q["ev_capped_sessions"](spark, SF_SMOKE).toPandas().set_index("user_id")
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        .toPandas()
    )
    gap, day = 30 * 60 * 1_000_000, 24 * 3600 * 1_000_000
    for uid, g in ev.groupby("user_id"):
        ts = sorted(g.us)
        sessions = []
        cur = [ts[0]]
        for t in ts[1:]:
            if t - cur[-1] > gap:
                sessions.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sessions.append(cur)
        # apply the 24h cap within each inactivity island
        capped = []
        for s in sessions:
            start = s[0]
            buckets: dict[int, list[int]] = {}
            for t in s:
                buckets.setdefault((t - start) // day, []).append(t)
            capped.extend(buckets.values())
        row = out.loc[uid]
        assert row.n_sessions == len(capped)
        assert row.n_events == len(ts)
        assert row.max_dur_sec == max((max(c) - min(c)) / 1e6 for c in capped)
        assert row.max_dur_sec < 86400


def test_ev_type_affinity_matches_pandas(spark, sf_dir):
    from planning_center_data_pipeline_spark.sources.tables import load_table

    out = Q["ev_type_affinity"](spark, sf_dir).toPandas()
    ut = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .toPandas()
    )
    n_users = ut.user_id.nunique()
    per_type = ut.groupby("event_type").size()
    by_user = ut.groupby("user_id").event_type.agg(set)
    for r in out.itertuples():
        n_both = sum(
            1 for s in by_user if r.type_a in s and r.type_b in s
        )
        assert r.n_both == n_both <= min(per_type[r.type_a], per_type[r.type_b])
        assert r.lift == (n_both * n_users) / (
            per_type[r.type_a] * per_type[r.type_b]
        )


def test_rec_training_set_e2e_composes(spark):
    e2e = Q["rec_training_set_e2e"](spark, SF_SMALL).toPandas()
    pairs = Q["rec_contrastive_pairs"](spark, SF_SMALL).toPandas()
    # the labeled pair set is exactly the pair-mining operator's output
    assert set(
        zip(e2e.cust_key, e2e.part_key, e2e.label)
    ) == set(zip(pairs.cust_key, pairs.part_key, pairs.label))
    # every (fold, shard) stream is a contiguous 1..n position range
    for _, g in e2e.groupby(["fold", "shard"]):
        assert sorted(g.position) == list(range(1, len(g) + 1))
    # pair-keyed fold: no (user, item) pair appears in two folds
    assert (
        e2e.groupby(["cust_key", "part_key"]).fold.nunique().max() == 1
    )


def test_ts_ols_trend_matches_numpy(spark):
    out = Q["ts_ols_trend"](spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").toPandas()
    df = orders.merge(
        cust[["c_custkey", "c_nationkey"]],
        left_on="o_custkey",
        right_on="c_custkey",
    )
    df["cts"] = (df.o_totalprice * 100).round().astype("int64")
    df["x"] = (df.o_orderdate.dt.year - 1990) * 12 + df.o_orderdate.dt.month - 1
    for nk, g in df.groupby("c_nationkey"):
        m = g.groupby("x").cts.sum()
        x = m.index.to_numpy(dtype=np.int64)
        y = m.to_numpy(dtype=np.int64)
        n = len(x)
        den = n * int((x * x).sum()) - int(x.sum()) ** 2
        slope = (n * int((x * y).sum()) - int(x.sum()) * int(y.sum())) / den
        row = out[out.nation_key == nk].iloc[0]
        assert row.n_months == n
        assert row.slope_cents == pytest.approx(slope, abs=0)
        # least-squares residual check: the fitted line's normal
        # equations hold (sum of residuals == 0 up to fp division)
        resid = y - (row.slope_cents * x + row.intercept_cents)
        assert abs(resid.sum()) < 1e-4 * max(1.0, abs(y).sum())


def test_data_diff_report_counts(spark, sf_dir):
    out = {r.change: r for r in Q["data_diff_report"](spark, sf_dir).collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    removed = o.filter(F.col("o_orderkey") % 101 == 0).count()
    changed = o.filter(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 101 != 0)
    ).count()
    total = o.count()
    assert out["removed"].n_rows == removed
    assert out["changed"].n_rows == changed
    assert out["added"].n_rows == 100
    assert out["unchanged"].n_rows == total - removed - changed
    # the classes partition old ∪ new exactly
    assert (
        out["unchanged"].n_rows
        + out["changed"].n_rows
        + out["removed"].n_rows
        + out["added"].n_rows
        == total + 100
    )


def test_ts_ewma_spend_matches_pandas(spark):
    got = Q["ts_ewma_spend"](spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    orders["cts"] = (orders.o_totalprice * 100).round().astype("int64")
    want = {}
    for ck, g in orders.groupby("o_custkey"):
        g = g.sort_values(
            ["o_orderdate", "o_orderkey"], ascending=False
        ).head(8)
        wts = [1 << (8 - i) for i in range(1, len(g) + 1)]
        num = int(np.dot(g.cts.to_numpy(), np.array(wts, dtype=np.int64)))
        want[ck] = (num, sum(wts))
    assert len(got) == len(want)
    for r in got.itertuples():
        num, den = want[r.cust_key]
        assert (r.ewma_num, r.ewma_den) == (num, den)
        assert r.ewma_cents == pytest.approx(num / den, abs=0)
