"""Waves 29-30 invariants beyond the driver hash check: Theil-Sen vs a
direct Python median, weighted-median defining property, drawdown
bounds, RBO range/monotonicity, t-closeness range, permutation p-value
sanity, MAP/MRR ranges, forward-asof ordering, readability vs a Python
recount, diversity bounds, bigram lift marginals."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spark_entry__ import queries
from planning_center_data_pipeline_spark.sources.tables import load_table

Q = queries()


def test_theil_sen_matches_direct_python_median(spark, sf_dir):
    got = {
        r["n_name"]: (r["n_pairs"], r["ts_slope_cents_per_month"])
        for r in Q["ts_theil_sen_slope"](spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .alias("m"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in monthly:
        series.setdefault(r["n_name"], []).append((r["m"], r["y"]))
    for name, pts in series.items():
        pts.sort()
        slopes = sorted(
            (y2 - y1) / (m2 - m1)
            for i, (m1, y1) in enumerate(pts)
            for (m2, y2) in pts[i + 1 :]
        )
        n_pairs, slope = got[name]
        assert n_pairs == len(slopes)
        # lower median, exactly the row the query selects
        assert slope == slopes[(len(slopes) + 1) // 2 - 1]


def test_weighted_median_defining_property(spark, sf_dir):
    """At the reported value v: weight(<= v) >= W/2 and
    weight(>= v) >= W/2 — the textbook weighted-median certificate."""
    med = {
        r["p_brand"]: (r["wmedian_cents"], r["total_qty"])
        for r in Q["li_weighted_median_price"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rows = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
        .collect()
    )
    by_brand: dict[str, list] = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append((r["cents"], r["w"]))
    for brand, vals in by_brand.items():
        v, W = med[brand]
        assert W == sum(w for _, w in vals)
        w_le = sum(w for c, w in vals if c <= v)
        w_ge = sum(w for c, w in vals if c >= v)
        assert 2 * w_le >= W and 2 * w_ge >= W


def test_max_drawdown_bounds(spark, sf_dir):
    rows = Q["ts_max_drawdown"](spark, sf_dir).collect()
    assert rows and len(rows) <= 25
    dd = [r["dd_cents"] for r in rows]
    assert dd == sorted(dd, reverse=True)  # deepest first
    for r in rows:
        assert r["peak_cents"] >= r["cents"] >= 0
        assert r["dd_cents"] == r["peak_cents"] - r["cents"]
        assert 0.0 <= r["dd_frac"] < 1.0


def test_rbo_range_and_self_similarity(spark, sf_dir):
    """rbo_at_d is in [0, 1), non-decreasing in d only when overlap
    grows — and each prefix term is non-negative."""
    rows = Q["rank_rbo_topk"](spark, sf_dir).collect()
    assert [r["d"] for r in rows] == list(range(1, 21))
    prev = 0.0
    for r in rows:
        assert 0 <= r["overlap"] <= r["d"]
        assert r["term_scaled"] >= 0
        assert prev <= r["rbo_at_d"] < 1.0
        prev = r["rbo_at_d"]


def test_t_closeness_range_and_global_group(spark, sf_dir):
    """0 <= t < 1 for every group; a group equal to the whole table
    would score exactly 0 (checked by construction on a single-nation
    projection)."""
    rows = Q["priv_t_closeness"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert 0.0 <= r["t_closeness"] < 1.0
        assert r["n_group"] > 0


def test_permutation_test_pvalue_sane(spark, sf_dir):
    r = Q["stat_permutation_test"](spark, sf_dir).collect()[0]
    assert r["n_perms"] == 200
    assert 0 <= r["n_extreme"] <= 200
    assert 1 / 201 <= r["p_value"] <= 1.0
    assert r["obs_abs_diff"] >= 0.0


def test_map_mrr_ranges(spark, sf_dir):
    rows = Q["ml_map_mrr_at10"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["map_at10"] <= 1.0
        assert 0.0 <= r["mrr_at10"] <= 1.0
        # MRR upper-bounds... no; but both are means of [0,1] micro ints
        assert r["sum_ap_micro"] <= r["n_users"] * 1_000_000
        assert r["sum_rr_micro"] <= r["n_users"] * 1_000_000


def test_forward_asof_ordering_and_minimality(spark, sf_dir):
    """Every matched purchase is at-or-after the view, belongs to the
    same user, and is the FIRST such purchase (no earlier purchase of
    that user in between)."""
    got = Q["asof_next_event_forward"](spark, sf_dir).collect()
    assert got
    from planning_center_data_pipeline_spark.functions.temporal import epoch_us

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", epoch_us("ts").alias("tus"), "event_id")
        .collect()
    )
    buys: dict[int, list] = {}
    for r in ev:
        buys.setdefault(r["user_id"], []).append((r["tus"], r["event_id"]))
    for u in buys:
        buys[u].sort()
    import bisect

    for r in got[:500]:
        assert r["wait_us"] >= 0
        assert r["purchase_tus"] >= r["view_tus"]
        lst = buys[r["user_id"]]
        i = bisect.bisect_left(lst, (r["view_tus"], -1))
        assert lst[i] == (r["purchase_tus"], r["purchase_id"])


def test_readability_matches_python_recount(spark, sf_dir):
    import re

    got = {r["doc_id"]: r for r in Q["doc_readability_fk"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").limit(50).collect()
    for d in docs:
        t = d["text"] or ""
        words = len(re.findall(r"[a-z]+", t.lower()))
        if words == 0:
            assert d["doc_id"] not in got
            continue
        r = got[d["doc_id"]]
        assert r["words"] == words
        assert r["sentences"] == max(1, len(re.findall(r"[.!?]+", t)))
        assert r["syllables"] == len(re.findall(r"[aeiouy]+", t.lower()))
        fk = 0.39 * (r["words"] / r["sentences"]) + 11.8 * (
            r["syllables"] / r["words"]
        ) - 15.59
        assert abs(r["fk_grade"] - fk) < 1e-12


def test_basket_diversity_bounds(spark, sf_dir):
    """1 <= eff_brands <= n_brands, with equality to n_brands only
    under perfectly even spend."""
    rows = Q["cust_basket_diversity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r["eff_brands"] <= r["n_brands"] + 1e-9
        assert r["total_cents"] > 0


def test_bigram_lift_marginals(spark, sf_dir):
    """sum over cells of cnt equals T; the cnt-weighted mean lift along
    any row of the contingency table is exactly 1 — the defining
    identity of lift (sum_b P(b|a) * lift / P(b) structure)."""
    rows = Q["ev_bigram_lift"](spark, sf_dir).collect()
    assert rows
    T = sum(r["cnt"] for r in rows)
    # reconstruct marginals and check lift = cnt*T/(row_tot*col_tot)
    row_tot: dict[str, int] = {}
    col_tot: dict[str, int] = {}
    for r in rows:
        row_tot[r["first_type"]] = row_tot.get(r["first_type"], 0) + r["cnt"]
        col_tot[r["second_type"]] = col_tot.get(r["second_type"], 0) + r["cnt"]
    for r in rows:
        want = (
            r["cnt"] * T / row_tot[r["first_type"]] / col_tot[r["second_type"]]
        )
        assert abs(r["lift"] - want) < 1e-9


def test_avro_roundtrip_agg_equals_plain_aggregate(spark, sf_dir):
    """The serde-in-plan query must equal the same aggregate computed
    WITHOUT the encode/decode pair — identity, verified in-engine."""
    from planning_center_data_pipeline_spark.functions.temporal import epoch_us

    got = sorted(map(tuple, Q["ev_avro_roundtrip_agg"](spark, sf_dir).collect()))
    plain = (
        load_table(spark, sf_dir, "events")
        .filter(F.pmod("event_id", F.lit(97)) == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").cast("bigint").alias("min_eid"),
            F.max("event_id").cast("bigint").alias("max_eid"),
            F.max(epoch_us("ts")).cast("bigint").alias("max_tus"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("sum_value_micros"),
            F.sum(F.length("props")).cast("bigint").alias("sum_props_len"),
        )
        .orderBy("event_type")
    )
    assert got == sorted(map(tuple, plain.collect()))


def test_png_roundtrip_agg_matches_python(spark, sf_dir):
    """Wave-31 codec-in-plan: pixel sums and pixel sha256 equal a
    direct Python recomputation from the md5 hex."""
    import hashlib

    rows = Q["mm_png_roundtrip_agg"](spark, sf_dir).collect()
    assert rows
    for r in rows[:50]:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        assert r["pixel_sum"] == sum(h.encode("ascii"))
        assert r["px_sha"] == hashlib.sha256(h.encode("ascii")).hexdigest()


def test_wilson_ci_brackets_p_hat(spark, sf_dir):
    rows = Q["stat_wilson_ci_returns"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["wilson_low"] <= r["p_hat"] <= r["wilson_high"] <= 1.0
        # interval shrinks with n: rough sanity on width
        assert r["wilson_high"] - r["wilson_low"] < 1.0


def test_otif_rate_bounds_and_total(spark, sf_dir):
    from planning_center_data_pipeline_spark.sources.tables import load_table

    rows = Q["li_otif_by_month"](spark, sf_dir).collect()
    assert rows
    # OTIF is defined over orders that HAVE lines (this synthetic data
    # contains a few lineless orders; real TPC-H does not)
    assert sum(r["n_orders"] for r in rows) == (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert 0 <= r["n_otif"] <= r["n_orders"]
        assert abs(r["otif_rate"] - r["n_otif"] / r["n_orders"]) < 1e-12


def test_keyspace_density_accounts_for_all_orders(spark, sf_dir):
    from planning_center_data_pipeline_spark.sources.tables import load_table

    rows = Q["ord_keyspace_density"](spark, sf_dir).collect()
    assert rows
    total = sum(r["present"] * r["n_buckets"] for r in rows)
    assert total == load_table(spark, sf_dir, "orders").count()
    for r in rows:
        assert 0 < r["present"] <= 4096
        assert 0.0 < r["density"] <= 1.0


def test_semantic_dedup_decision_table(spark, sf_dir):
    """Every bucket keeps exactly one representative (keep=1, cos≈1);
    drops only happen above the threshold; bucket sizes reconcile."""
    from planning_center_data_pipeline_spark.plans.embeddings import _SD_THRESHOLD

    rows = Q["emb_semantic_dedup"](spark, sf_dir).collect()
    assert rows
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, members in by_bucket.items():
        reps = [r for r in members if r["vec_id"] == r["rep_id"]]
        assert len(reps) == 1
        rep = reps[0]
        assert rep["rep_id"] == min(r["vec_id"] for r in members)
        assert rep["keep"] == 1 and abs(rep["cos_to_rep"] - 1.0) < 1e-9
        assert all(r["n_members"] == len(members) for r in members)
        for r in members:
            if r["vec_id"] != r["rep_id"]:
                assert r["keep"] == (0 if r["cos_to_rep"] >= _SD_THRESHOLD else 1)


def test_kendall_tau_matches_scipy_free_python(spark, sf_dir):
    """tau-b from the query equals a direct Python computation over the
    same contingency definition."""
    from planning_center_data_pipeline_spark.plans.statistics import (
        _TAU_BANDS,
        _TAU_BAND_CENTS,
    )

    r = Q["stat_kendall_tau_b"](spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.least(
            F.lit(_TAU_BANDS - 1),
            F.expr(
                f"CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                f" DIV {_TAU_BAND_CENTS}"
            ),
        ).alias("y"),
    ).collect()
    from collections import Counter

    cells = Counter((row["x"], row["y"]) for row in li)
    n = sum(cells.values())
    C = D = 0
    items = list(cells.items())
    for i, ((x1, y1), n1) in enumerate(items):
        for (x2, y2), n2 in items:
            if x2 > x1 and y2 > y1:
                C += n1 * n2
            elif x2 > x1 and y2 < y1:
                D += n1 * n2
    xs = Counter(); ys = Counter()
    for (x, y), c in cells.items():
        xs[x] += c; ys[y] += c
    n0 = n * (n - 1) // 2
    tx = sum(v * (v - 1) // 2 for v in xs.values())
    ty = sum(v * (v - 1) // 2 for v in ys.values())
    assert (r["n0"], r["concordant"], r["discordant"], r["tx"], r["ty"]) == (
        n0, C, D, tx, ty
    )
    import math

    assert abs(r["tau_b"] - (C - D) / math.sqrt(n0 - tx) / math.sqrt(n0 - ty)) < 1e-12


def test_ivf_sweep_monotone_and_exhaustive(spark, sf_dir):
    """Recall is monotone in n_probe and EXACTLY 1.0 when every cell is
    probed (n_probe = number of cells)."""
    from planning_center_data_pipeline_spark.plans.embeddings import _IVF_CELLS

    rows = Q["emb_ivf_nprobe_recall_sweep"](spark, sf_dir).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    prev = -1
    for r in rows:
        assert r["n_hits"] <= r["n_queries"]
        assert r["recall_micro"] >= prev
        prev = r["recall_micro"]
        if r["n_probe"] == _IVF_CELLS:
            assert r["recall_micro"] == 1_000_000


def test_cohens_kappa_identities(spark, sf_dir):
    """kappa in [-1, 1]; po and pe reconstruct from the output ints;
    labeling both classifiers identically would give kappa = 1."""
    r = Q["stat_cohens_kappa"](spark, sf_dir).collect()[0]
    assert -1.0 <= r["kappa"] <= 1.0
    po = r["d"] / r["n"]
    pe = r["e"] / (r["n"] * r["n"])
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-12
    assert 0 <= r["d"] <= r["n"]


def test_rolling_ols_slope_matches_numpy(spark, sf_dir):
    """Windowed closed form equals a direct per-window polyfit."""
    from planning_center_data_pipeline_spark.plans.timeseries import _W

    rows = Q["ts_rolling_ols_slope"](spark, sf_dir).collect()
    assert rows
    daily = {
        r["day"]: r["y"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("bigint").alias("day")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))
        .collect()
    }
    lo, hi = min(daily), max(daily)
    dense = [daily.get(d, 0) for d in range(lo, hi + 1)]
    import numpy as np

    got = {r["day"]: r["slope_cents_per_day"] for r in rows}
    for t in list(got)[:40]:
        win = dense[t - lo - (_W - 1) : t - lo + 1]
        slope = np.polyfit(np.arange(_W), np.array(win, dtype=float), 1)[0]
        assert abs(got[t] - slope) < 1e-6 * max(1.0, abs(slope))


def test_scalar_subquery_matches_join(spark, sf_dir):
    got = {r["orderkey"]: r for r in Q["sql_scalar_subquery_orders"](spark, sf_dir).collect()}
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(F.round(F.col("l_extendedprice") * 100)).cast("bigint").alias("mx"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .collect()
    )
    agg = {r["l_orderkey"]: (r["mx"], r["n"]) for r in li}
    assert got
    for k, r in got.items():
        mx, n = agg.get(k, (None, 0))
        assert r["max_line_cents"] == mx and r["n_lines"] == n


def test_brown_forsythe_against_direct_python(spark, sf_dir):
    from planning_center_data_pipeline_spark.plans.statistics import _BF_GROUPS

    r = Q["stat_brown_forsythe"](spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
        .collect()
    )
    groups: dict[str, list] = {}
    for row in rows:
        groups.setdefault(row["g"], []).append(row["c"])
    zs: dict[str, list] = {}
    for g, vals in groups.items():
        vals.sort()
        # lower median via the cumulative-count rule the query uses
        n = len(vals)
        med = vals[(n - 1) // 2] if n % 2 else vals[n // 2 - 1]
        # cumw*2 >= W picks the (ceil(W/2))-th value
        import math

        med = vals[math.ceil(n / 2) - 1]
        zs[g] = [abs(c - med) for c in vals]
    N = sum(len(v) for v in zs.values())
    k = len(_BF_GROUPS)
    zbar = sum(sum(v) for v in zs.values()) / N
    ssb = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in zs.values())
    ssw = sum(sum(x * x for x in v) - sum(v) ** 2 / len(v) for v in zs.values())
    f = ((N - k) / (k - 1)) * ssb / ssw
    assert r["N"] == N and r["k"] == k
    assert abs(r["f_stat"] - f) < 1e-9 * max(1.0, abs(f))


def test_generalization_ladder_monotone(spark, sf_dir):
    """Coarser levels can only merge groups: n_groups non-increasing,
    min_k non-decreasing, suppression non-increasing with level."""
    rows = Q["priv_generalization_ladder"](spark, sf_dir).collect()
    assert [r["level"] for r in rows] == [0, 1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b["n_groups"] <= a["n_groups"]
        assert b["min_k"] >= a["min_k"]
        assert b["n_suppressed"] <= a["n_suppressed"]


def test_fisher_between_laspeyres_and_paasche(spark, sf_dir):
    """Geometric-mean identity: min(L,P) <= F <= max(L,P), all > 0."""
    rows = Q["li_price_index_fisher"](spark, sf_dir).collect()
    assert rows
    import math

    for r in rows:
        assert r["laspeyres"] > 0 and r["paasche"] > 0
        assert min(r["laspeyres"], r["paasche"]) - 1e-12 <= r["fisher"]
        assert r["fisher"] <= max(r["laspeyres"], r["paasche"]) + 1e-12
        assert abs(r["fisher"] - math.sqrt(r["laspeyres"] * r["paasche"])) < 1e-12
