"""Query-level partitioning invariance: the same query must produce
the IDENTICAL result set at any shuffle-partition count — the
engine-wide property all the exact-arithmetic discipline exists to
guarantee (AQE re-plans freely at 100 TB; results must not care)."""

from __future__ import annotations

import pytest

from __spark_entry__ import queries

Q = queries()

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "fn",
    [
        Q["q1_pricing_summary"],
        Q["win_gaps_islands"],
        Q["agg_salted_skew"],
        Q["mm_shard_plan"],                # two-phase prefix sum
        Q["cust_entity_resolution"],       # blocked fuzzy best-match
        Q["doc_bpe_merge_candidates"],     # weighted pair counts + top-k
        Q["stat_bootstrap_ci"],            # md5 draws + exact replica means
        Q["geo_radius_pairs"],             # grid join pair set
        Q["ev_cusum_shift"],               # integer prefix-min windows
        Q["rec_training_set_e2e"],         # pair mining -> folds -> order
        Q["freq_heavy_hitters"],           # sketch candidates vary; output must not
        Q["rec_negative_sampling"],        # prefix sum + bucketed range join
        Q["surv_hazard_curve"],            # quantize-then-sum hazard
        Q["ev_basket_triples"],            # apriori prune + exact recount
        Q["stat_trimmed_mean"],            # two-pass percentile cutoffs
        Q["ml_auc_rank"],                  # value-bucketed prefix-sum ranks
        Q["cf_item_item_cosine"],          # basket self-join + top-k cut
        Q["graph_pagerank_parts"],         # 5 integer-exact rank iterations
        Q["cust_abc_pareto"],              # bucketed global running sum
        Q["doc_incremental_dedup_merge"],  # fp join + in-batch window
        Q["stat_ks_two_sample"],           # bucketed two-sided ECDF argmax
    ],
)
def test_result_invariant_to_shuffle_partitions(spark, fn):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        few = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        many = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert few == many
