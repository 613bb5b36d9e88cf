"""Audit every __spark_entry__ query's physical plan for scale red
flags, without executing anything:

- CartesianProduct / BroadcastNestedLoopJoin on non-tiny inputs (the
  intentional broadcast cross-scores against n_centroids-row tables
  are allowlisted);
- parquet scans that read every column while the query projects few
  (pruning failure);
- missing partial aggregation under a wide groupBy;
- global windows (Window.orderBy with an empty partitionSpec →
  single-partition WindowExec) on anything but an allowlisted
  bounded-cardinality spine (round-7 VERDICT item 5).

Usage: python tools/plan_audit.py [sf_dir]
Prints one line per query; exits 1 if any un-allowlisted flag fires.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.planshape import plan_record, walk  # noqa: E402
from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402

# Queries whose plans legitimately contain a nested-loop/cross shape:
# broadcast cross-scores against a deliberately tiny side (centroid
# tables, 1-row corpus-size aggregates, probe-mask arrays).
CROSS_OK = {
    "emb_ann_ivf",       # broadcast n_centroids-row cross-score
    "emb_kmeans_step",   # same assignment shape
    "doc_tfidf_top_terms",  # broadcast 1-row corpus-count aggregate
    "fn_month_spine",    # generated month spine vs 1-row bounds
    "q11_important_parts",  # broadcast 1-row global-total aggregate
    "q22_idle_customers",   # broadcast 1-row avg-balance aggregate
    "range_join_price_bands",  # non-equi join vs broadcast 4-row bands dim
    "emb_topk_cosine",   # brute force: 5-row query side broadcast
    "bloom_prune_orders",  # crossJoin of three 1-row count aggregates
    "corpus_mix_plan",   # broadcast 1-row corpus-total aggregate
    "basket_part_pairs",  # broadcast 1-row order-count aggregate
    "emb_knn_classify",  # brute-force scorer: tiny query side broadcast
    "stat_chi2_brand_size",  # broadcast 1-row grand-total aggregate
    "stat_ab_conversion",  # crossJoin of two 1-row arm aggregates
    "ev_power_users_p90",  # broadcast 1-row threshold aggregate
    "sup_acct_benford",  # broadcast 1-row digit-total aggregate
    "compaction_plan_orders",  # broadcast 1-row global-mean aggregate
    "graph_triangle_count",  # crossJoin of three 1-row count aggregates
    "rec_contrastive_pairs",  # broadcast 1-row max-partkey aggregate
    "rec_training_set_e2e",  # same 1-row max-partkey broadcast
    "ev_type_affinity",  # broadcast 1-row user-count aggregate
    "emb_hard_negatives",  # brute force: 10-row query side broadcast
    "freq_heavy_hitters",  # broadcast 1-row token-total aggregate
    "rec_negative_sampling",  # broadcast 1-row grand-weight aggregate
    "surv_hazard_curve",  # broadcast 1-row dataset-end aggregate
    "emb_ivfpq_adc",  # 8-row coarse-centroid cross-score (IVF assign)
    "stat_kruskal_wallis",  # broadcast 1-row N/ties totals aggregate
    "stat_mood_median",  # broadcast 1-row median/total aggregates
    "stat_cvm_two_sample",  # broadcast 1-row n/m totals aggregate
    "doc_term_burstiness",  # broadcast 1-row doc-count aggregate
    "doc_kl_divergence_sources",  # scalar grid = |sources|^2 (enum) + 1-row vocab
    "emb_bitpack_hamming",  # fixed 20-probe panel broadcast (!= join)
    "stat_cochran_q",  # crossJoin of two 1-row sum aggregates
    "cust_survival_km",  # broadcast 1-row horizon/total + 12-row grid
    "sup_kraljic_matrix",  # broadcast 1-row totals aggregate
    "ev_markov_stationary",  # broadcast 1-row type-count aggregate
    "ord_little_law",  # bounded year-spine (<= 8 rows) overlap join
    "emb_hamming_recall_at3",  # same fixed panel, sketch + truth legs
    "ts_ljung_box",  # broadcast 1-row n/sum totals aggregate
    "ml_brier_decomposition",  # broadcast 1-row score-range aggregate
    "ev_basket_triples",  # broadcast 1-row basket-count aggregate
    "ml_decile_lift",  # broadcast 1-row decile-cutoff aggregate
    "ml_auc_rank",  # broadcast 1-row bucket-cutoff aggregate
    "graph_pagerank_parts",  # broadcast 1-row node-count aggregate
    "cust_rfm_global_quintiles",  # broadcast 1-row refdate + quintile cutoffs
    "ml_threshold_metrics",  # broadcast 9-row decile threshold table
    "doc_zipf_rankfreq",  # broadcast 1-row corpus-total aggregate
    "cust_abc_pareto",  # broadcast 1-row cutoffs + grand total
    "stat_mann_whitney",  # broadcast 1-row bucket-cutoff aggregate
    "ev_daily_poisson_outliers",  # broadcast 1-row lambda aggregate
    "ml_calibration_bins",  # broadcast 1-row min/max aggregate
    "stat_ks_two_sample",  # broadcast 1-row cutoffs + group sizes
    "ts_changepoint_daily",  # broadcast 1-row series totals
    "cust_decile_migration",  # broadcast 1-row span + decile cutoffs
    "emb_dup_threshold_sweep",  # broadcast 4-row threshold ladder
    "ts_autocorrelation",  # broadcast 1-row series moments
    "emb_dim_trunc_recall",  # brute force: %25 probe side broadcast
    "emb_mips_topk",  # MIPS: %97 probe side broadcast, non-equi self-exclusion
    "graph_bipartite_kcore_rounds",  # broadcast 1-row threshold aggregate
    "emb_lsh_recall_sweep",  # recall harness: %25 probe side broadcast
    "stat_permutation_test",  # crossJoin vs 200-row literal perm spine
    # + broadcast 1-row observed-stat aggregate
    "rank_rbo_topk",  # 20-row depth spine non-equi vs <=20-row overlap
    "priv_t_closeness",  # 25-nation spine x 10-row literal band spine
    "stat_kendall_tau_b",  # contingency CELL pair join: <= 500x500 by
    # construction (50 quantity values x 10 literal price bands)
    "li_abc_xyz_matrix",  # broadcast 1-row month-span aggregate
    "emb_ivf_nprobe_recall_sweep",  # 8-row coarse-centroid cross-scores
    # (assignment + probe ranking), %25 probe panel broadcast
    "stat_cohens_kappa",  # crossJoin of two 1-row aggregates (n,d) x (e)
    "doc_quality_deciles",  # broadcast 1-row corpus-count aggregate
    # (exact-ntile two-phase rank needs n) + 1-row percentile cuts
    "zorder_file_manifest",  # broadcast 1-row percentile-cut aggregate
    # (value-bucket two-phase global rank)
    "stat_bh_fdr",  # customer x 201-row literal perm spine + broadcast
    # 1-row kmax aggregate (wave 37)
    "doc_bm25_scores",  # broadcast 1-row corpus stats + 5-row df table
    "doc_unigram_xent",  # broadcast 1-row total-token aggregate
    # (unigram table broadcast shrinks through its vocab rollup)
    "cust_lorenz_deciles",  # 1-row cut/grand broadcasts + non-equi
    # join vs the broadcast 10-row decile spine (wave 40)
    "stat_g_test",  # broadcast 1-row grand-total aggregate
    "ord_runs_test",  # broadcast 1-row median-day aggregate
    # -- wave 49 (round 10) --
    "ml_psi_priority_shift",  # broadcast 1-row era-totals aggregate
    "ts_spectral_peaks_daily",  # broadcast 1-row min-date + 3-row
    # literal period spine vs the <= ~2400-row day rollup
    "rank_kendall_w_nations",  # 25-nation x |years| grid (bounded
    # cross) + broadcast 1-row ties aggregate + 1-row nation count
    # -- wave 50 (round 11) --
    "emb_davies_bouldin",  # broadcast 1-row DB-index aggregate
    "ev_entropy_rate_stationary",  # broadcast 1-row type-count +
    # 1-row entropy-sum aggregates (enum-sized chain)
    "stat_jonckheere_terpstra",  # 5 x 50 enum grid completion
    # (priorities x quantities) + two 1-row moment aggregates
    "ts_holt_winters_additive",  # broadcast 1-row anchor-month agg
    # -- wave 51 (round 12) --
    "ts_holt_winters_damped",  # broadcast 1-row anchor-month agg
    "ts_holt_winters_mase",  # broadcast 1-row anchor-month agg
    "stat_page_trend",  # 25-nation x |years| grid (bounded cross) +
    # two 1-row moment aggregates (the rank_kendall_w_nations shape)
    "emb_calinski_harabasz",  # broadcast 1-row CH aggregate over the
    # label-bounded (<= 10-row) per-label dispersion table
    "ev_spectral_entropy",  # broadcast 1-row min-date + 63-row literal
    # period spine vs the <= ~2400-row day rollup + 1-row entropy agg
    "doc_lsh_recall_vs_exact",  # three 1-row result aggregates
    # (panel count, truth count, caught count) crossJoined at the end
    # -- wave 52 (round 12) --
    "stat_ansari_bradley",  # broadcast 1-row pooled-N aggregate
    "ev_transfer_entropy",  # broadcast 1-row min/max-date + 1-row
    # mean aggregates vs the calendar day spine; 8-cell contingency
    "emb_adjusted_rand",  # 16-row seed-centroid broadcast (LIMIT 16,
    # the emb_kmeans_step assignment) + three 1-row combinatorics aggs
    "emb_dunn_centroid",  # broadcast 1-row extrema aggregates over
    # the label-bounded separation/diameter tables
}

# Queries allowed to broadcast a subtree that READS a fact table but is
# known-bounded for a reason the tree walk can't see (e.g. a highly
# selective filter with a documented cardinality argument).  Keep this
# list SHORT and justified — everything else must shrink through an
# aggregate/limit before a broadcast hint.
BCAST_OK: set[str] = {
    # the QUERY side of similarity search: bounded by the vec_id < 5
    # predicate (a handful of probe vectors); the corpus side streams.
    # This asymmetry is the documented design (operators/similarity.py)
    # — query sets are small by definition, corpora are not.
    "emb_topk_cosine",
    "emb_knn_classify",
    "emb_ann_lsh",
    "emb_ann_ivf",
    "emb_hard_negatives",  # vec_id < 10 probe side, corpus streams
    "emb_pq_codes",  # 64-row codebook (vec_id < 16 x 4 subspaces)
    # IVF-PQ: every hinted side is codebook-sized by a vec_id<K
    # predicate — cells=8, codewords=64, LUT=queries*64, probe map=8
    # rows; the corpus-sized assignments/codes tables are NOT hinted
    # (AQE decides).  Bounded by constants, not by corpus size.
    "emb_ivfpq_adc",
    # semantic dedup: both hinted sides shrink through the bucket
    # rollup to <= 2^8 rows (one rep per SRP bucket) before broadcast
    "emb_semantic_dedup",
    # the probe side is bounded by the vec_id % 25 predicate (one in
    # 25 vectors is a query); the corpus side streams — the documented
    # similarity-search asymmetry (operators/similarity.py).
    "emb_dim_trunc_recall",
    # probe side bounded by vec_id % 97 (one in 97 vectors); the
    # catalog side streams — same asymmetry contract.
    "emb_mips_topk",
    # evaluation harness: %25 probe panel broadcast, catalog streams
    # (at real scale the panel is a fixed-size subsample — see the
    # query docstring)
    "emb_lsh_recall_sweep",
    # IVF sweep: hinted sides are the 8-row centroid table (LIMIT 8)
    # and the %25 probe panel — same evaluation-harness contract
    "emb_ivf_nprobe_recall_sweep",
}


# Queries whose plan legitimately shows a final-only HashAggregate
# above an Exchange (the soft `no-partial-agg` flag).  Each entry must
# name WHERE the shape comes from and why a map-side partial is either
# impossible or pointless, so the audit output stays flag-free and a
# recurring soft flag can't invite re-investigation every round
# (round-9 VERDICT "what's wrong" item 1).
PARTIAL_AGG_OK: dict[str, str] = {
    "emb_near_dup_lsh": (
        "inside MLlib BucketedRandomProjectionLSH.approxSimilarityJoin "
        "(not builder code): its internal explode/distance pipeline ends "
        "in a final-only agg; input is the already-banded candidate set "
        "(bounded by the LSH bucket join), not a fact table"
    ),
}

# Queries whose plan contains a GLOBAL window (empty partitionSpec →
# WindowExec on a single partition).  Each entry must name the spine
# and argue its cardinality is bounded by a CONSTANT or by a
# slowly-growing dimension (calendar days, deciles, literal buckets)
# — never by fact-table row count.  Anything not listed here that
# grows a global window is a hard flag: at 100 TB a fact-sized global
# window serializes the job on one task.
WINDOW_OK: dict[str, str] = {
    # -- calendar spines: one row per day/month of the dataset span --
    "ts_yoy_growth": "month spine (<= ~84 months of orders)",
    "ts_changepoint_daily": "day spine (orders span ~2400 days)",
    "ts_rolling_ols_slope": "day spine (events span 30 days)",
    "ts_monthly_seasonal_index": "month spine",
    "ts_max_drawdown": "day spine",
    "ord_mase_seasonal": "month spine (<= ~84 rows, lag-1 and lag-12)",
    "ts_ses_forecast_int": "dense day spine (events span 30 days)",
    "ord_open_backlog_daily": "day spine (orders span ~2400 days)",
    # -- literal / enum grids --
    "ev_dow_hour_heatmap": "dow x hour grid, <= 168 rows by construction",
    "ev_bigram_lift": "event-type pair grid (|types|^2, types is an enum)",
    "win_share_of_parent": "region x nation grid, <= 25 rows (TPC-H)",
    "ml_decile_lift": "decile spine, exactly 10 rows",
    "priv_t_closeness": "25-nation x 10-literal-band spine",
    "stat_bh_fdr": "BH rank over the 25-nation p-value grid",
    "ord_runs_test": "median rank + runs LAG over the bounded day spine",
    "cust_lorenz_deciles": "value-bucket totals, <= 32 rows (two-phase)",
    "stat_bootstrap_ci": "bootstrap replicate index, B = literal constant",
    # -- post-LIMIT ranks: the window sees only the top-k survivors --
    "doc_zipf_rankfreq": "rank over top-50 tokens (post-LIMIT)",
    "doc_zipf_slope": "rank over top-100 tokens (post-LIMIT)",
    "rank_rbo_topk": "rank over <= 20 rows (post-LIMIT top-k per year)",
    # -- two-phase prefix sums: global stage is the <=32-row offset
    #    window over per-partition/bucket totals --
    "doc_shard_manifest": "pid offsets, <= 32 rows (repartitionByRange)",
    "mm_shard_plan": "pid offsets, <= 32 rows",
    "rec_negative_sampling": "pid offsets, <= 32 rows",
    "doc_quality_deciles": "pid offsets, <= 32 rows (exact-ntile two-phase)",
    "zorder_file_manifest": (
        "prefix sum over the zcode frequency rollup, <= 65536 rows "
        "(16-bit code space; fact table never enters a window)"
    ),
    "li_abc_xyz_matrix": "pid offsets, <= 32 rows (two-phase rev cumsum)",
    "ml_auc_rank": "value-bucket totals, <= 32 rows (31 percentile cuts)",
    "stat_mann_whitney": "value-bucket totals, <= 32 rows",
    "stat_ks_two_sample": "value-bucket totals, <= 32 rows",
    "cust_abc_pareto": "value-bucket totals, <= 32 rows",
    "ev_power_users_p90": "value-bucket totals, <= 32 rows (two-phase)",
    "stat_kruskal_wallis": (
        "prefix sum over the l_quantity value rollup, <= 50 rows "
        "(quantity is a 1..50 integer domain; facts reduce in one "
        "partial-agg shuffle before any window)"
    ),
    "stat_mood_median": "cumsum over the <= 50-row quantity rollup",
    "stat_cvm_two_sample": "pooled ECDF over the <= 50-row quantity rollup",
    "ts_ljung_box": "10 lag terms over the day spine",
    "cust_survival_km": "risk/survival cumsums over the day-gap spine",
    "li_bollinger_outliers": "20-day rolling window over the day spine",
    "ts_wma_crossover": "lag terms over the day spine",
    # -- survivor sets --
    "pareto_orders_skyline": (
        "global pass over bucket-skyline survivors only (expected "
        "O(B*log n) rows; local pass pruned per bucket in parallel)"
    ),
    # -- reference-semantics contract --
    "ref_range_copy": (
        "W1 offset+limit copy: reference lists are ~500 rows by its "
        "own data contract (SURVEY 2.6)"
    ),
    # -- wave 50 (round 11) --
    "ts_hurst_rs": (
        "day-spine ROW_NUMBER (orders span ~2400 days; facts reduce "
        "in one partial-agg shuffle first); block windows are "
        "partitioned by (w, blk) and bounded by W <= 64"
    ),
    # -- wave 51/52 (round 12) --
    "stat_page_trend": (
        "year-ordinal RANK over the distinct-years spine (<= ~7 "
        "rows); the midrank windows are partitioned per nation"
    ),
    "ev_transfer_entropy": (
        "lag-1 LEAD over the calendar day spine (events span ~30 "
        "days at test SFs, ~2400 at fact scale; facts reduce in one "
        "(day, type) partial-agg shuffle first); the marginal windows "
        "partition the 8-cell contingency"
    ),
    "stat_ansari_bradley": (
        "prefix sum over the acctbal VALUE rollup, bounded by the "
        "cents domain (c_acctbal spans [-999.99, 9999.99] -> <= 1.1M "
        "distinct values, constant w.r.t. fact growth; facts reduce "
        "in one partial-agg shuffle before the window — the "
        "stat_kruskal_wallis two-phase idiom)"
    ),
}


def global_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the optimized
    logical plan (these compile to single-partition WindowExec)."""
    optimized = df._jdf.queryExecution().optimizedPlan()
    n = 0
    for node in walk(optimized):
        if node.nodeName() == "Window":
            try:
                if node.partitionSpec().size() == 0:
                    n += 1
            except Exception:
                pass
    return n


def missing_partial_agg(df) -> bool:
    """True if the physical plan hash-aggregates above a shuffle
    without any partial (map-side) aggregate function."""
    aggs = [
        n
        for n in walk(df._jdf.queryExecution().executedPlan())
        if n.nodeName() in ("HashAggregate", "ObjectHashAggregate")
    ]
    exprs = [n.aggregateExpressions() for n in aggs]
    return bool(aggs) and not any(
        str(e.apply(i).mode()) == "Partial" for e in exprs for i in range(e.size())
    )


# Entity tables whose cardinality grows with the data — a broadcast
# hint DIRECTLY on one of these (no aggregate/limit shrinking the
# subtree first) overrides the size threshold and OOMs at scale.
# Dimension tables (region/nation/part/customer/supplier at TPC-H
# ratios) stay broadcastable by design and are not flagged.  A
# relation's toString shows only its column list, so facts are
# recognized by their signature key columns (unique to each fact).
_FACT_MARKERS = ("l_orderkey#", "o_orderkey#", "event_id#", "doc_id#", "vec_id#")
_SHRINKING_NODES = ("Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate")


def _subtree_has_unshrunk_fact(node) -> bool:
    """True if a raw fact-table relation is reachable from `node`
    without passing through a cardinality-shrinking operator."""
    if node.nodeName() in _SHRINKING_NODES:
        return False
    if node.nodeName() in ("LogicalRelation", "Relation"):
        s = node.toString()
        return any(m in s for m in _FACT_MARKERS)
    children = node.children()
    return any(
        _subtree_has_unshrunk_fact(children.apply(i))
        for i in range(children.size())
    )


def forced_fact_broadcasts(df) -> int:
    """Count broadcast hints sitting on unshrunk fact-table subtrees
    in the ANALYZED logical plan (hints survive there; the optimizer
    folds them into join nodes later).  Tree walk, not string match."""
    analyzed = df._jdf.queryExecution().analyzed()
    n = 0
    for node in walk(analyzed):
        if node.nodeName() == "ResolvedHint" and "broadcast" in node.toString().lower():
            if _subtree_has_unshrunk_fact(node):
                n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit")
    qs = entrymod.queries()
    bad = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            rec = plan_record(df)
        except Exception as exc:  # iterative builds execute; report, not crash
            print(f"{name:42s} SKIP (build error: {type(exc).__name__})")
            continue
        joins = {j.split("/")[0] for j in rec["joins"]}
        flags = []
        if "CartesianProduct" in joins:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in joins and name not in CROSS_OK:
            flags.append("bnlj")
        try:
            n_forced = forced_fact_broadcasts(df)
        except Exception:
            n_forced = 0
        if n_forced and name not in BCAST_OK:
            flags.append(f"forced-fact-bcast:{n_forced}")
        try:
            n_gw = global_windows(df)
        except Exception:
            n_gw = 0
        if n_gw and name not in WINDOW_OK:
            flags.append(f"global-window:{n_gw}")
        if (
            rec["shuffles"] + rec["broadcasts"]
            and name not in PARTIAL_AGG_OK
            and missing_partial_agg(df)
        ):
            # final-only aggregation above a shuffle: partial agg missing
            # (fine for collect_list-style non-algebraic aggs — flag to eyeball)
            flags.append("no-partial-agg")
        status = "FLAG " + ",".join(flags) if flags else "ok"
        print(f"{name:42s} {status}")
        if flags and not (len(flags) == 1 and flags[0] == "no-partial-agg"):
            bad += 1
    spark.stop()
    print(f"{bad} hard flags")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
