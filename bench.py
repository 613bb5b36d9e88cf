"""Benchmark harness (driver contract): time every __spark_entry__
query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Hard constraints learned from the driver's capture behavior:
- The driver keeps only the LAST ~2000 chars of stdout and parses the
  final line as JSON.  With 130 queries a full per-query dict blows
  that budget and the round records ``parsed: null`` (this happened in
  rounds 2 and 3).  So: the stdout line carries the total plus a
  headline subset of per-query timings, sized to stay < 1900 chars;
  the full per-query detail goes to ``BENCH_DETAIL.json`` and stderr.
- One crashing query must not zero the whole benchmark (round 3 lost
  its numbers to a single AnalysisException) — every query is wrapped,
  failures are reported in an ``errors`` count and detailed in the
  sidecar file.

Each query is built fresh and fully materialized through the noop sink
(every expression and shuffle executes, no driver round-trip); a warmup
run absorbs JVM/codegen startup so numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.session import get_spark  # noqa: E402

# Headline queries for the compact stdout line: one representative per
# operator family (relational/TPC-H, joins, windows, arrays, pandas
# ops, events, corpus/dedup, embeddings, lifecycle).  Everything else
# is still timed and counted in `value`; detail lands in the sidecar.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_big_orders",
    "q21_solo_late_suppliers",
    "scd2_customer_priority",
    "asof_purchase_last_click",
    "range_join_price_bands",
    "salted_join_orders",
    "win_customer_order_history",
    "agg_cube_events",
    "distinct_users_approx",
    "arr_zipwith_dot",
    "fn_map_props",
    "ev_sessionize",
    "ev_retention_cohorts",
    "doc_exact_dedup",
    "doc_minhash_lsh",
    "doc_simhash",
    "doc_quality",
    "doc_tfidf_top_terms",
    "emb_topk_cosine",
    "emb_ann_ivf",
    "emb_near_dup_pairs",
    "emb_near_dup_lsh",
    "emb_gram_arrow",
    "mm_binary_features",
    "cdc_scd1_apply",
    "ts_gap_fill_daily",
    "dq_audit_report",
    "distinct_users_bitmap",
    "graph_triangle_count",
    "rolling_distinct_users_7d",
    "pareto_orders_skyline",
    "win_gaps_islands",
    "win_topn_group_limit",
    "agg_salted_skew",
    "basket_part_pairs",
    "cust_rfm_segments",
    "emb_knn_classify",
    "corpus_mix_plan",
    "cust_entity_resolution",
    "mm_shard_plan",
    "doc_bpe_merge_candidates",
    "doc_weighted_sample",
    "jw_best_match_parts",
    "doc_jaccard_prefix_filter",
    "li_scd2_pit_revenue",
]
# Later flagships go mid-list: the stdout shrinker pops from the END,
# so entries here must survive any trim (round-10 ADVICE: the color
# JPEG flagship was appended at the tail — first to be trimmed).
HEADLINE[12:12] = [
    "geo_radius_pairs",
    "graph_bfs_hops",
    "emb_pq_codes",
    "stat_bootstrap_ci",
    "mm_jpeg_color_roundtrip_agg",
]


def _shuffle_local_dir() -> str:
    """Where Spark will actually spill shuffle data: the first entry of
    SPARK_LOCAL_DIRS / spark.local.dir if overridden, else the JVM
    default java.io.tmpdir (/tmp).  Round-11 ADVICE: probing /tmp
    unconditionally can fingerprint the wrong device when a probe run
    points spark.local.dir at tmpfs."""
    for env in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR"):
        v = os.environ.get(env)
        if v:
            return v.split(",")[0]
    return "/tmp"


def _disk_mb_s(path: str, size_mb: int = 256) -> float | None:
    """Buffered sequential-write throughput of the shuffle disk — an
    environment fingerprint recorded in the artifact.  Round 11 caught
    this box's virtual disk throttled to 20-40 MB/s (normal: GB/s),
    which inflates every shuffle-heavy timing; without this number in
    the artifact such drift is indistinguishable from a plan
    regression."""
    import tempfile

    try:
        os.makedirs(path, exist_ok=True)
        with tempfile.NamedTemporaryFile(dir=path, delete=True) as f:
            buf = b"\0" * (1 << 20)
            t0 = time.time()
            for _ in range(size_mb):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
            return round(size_mb / (time.time() - t0), 1)
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    disk_probe_path = _shuffle_local_dir()
    disk_mb_s = _disk_mb_s(disk_probe_path)
    print(
        f"# shuffle-disk throughput ({disk_probe_path}): {disk_mb_s} MB/s",
        file=sys.stderr,
    )
    spark = get_spark(app_name="bench")

    qs = entrymod.queries()
    # Warmup pass (round-9 VERDICT item 3): the suite's one-time costs
    # are SHARED infrastructure — JVM/codegen compiler, the Python/Arrow
    # worker pool fork, MLlib class loading, parquet page cache — so
    # first-sample outliers (graph_minhash_neighbors 55.9 s vs 7.3 s
    # min) cluster on whichever query pays each cost first.  One
    # representative per cost class is run untimed before pass 1 and
    # the total is recorded as `warmup_seconds` in the artifact, so
    # single-sample driver windows measure warm plans.
    warmup_list = [
        "q1_pricing_summary",  # relational: JVM + parquet footers
        "emb_topk_pandas",  # pandas_udf -> Python worker pool fork
        "ev_wavg_grouped_arrow",  # applyInArrow path
        "ev_type_value_boxplot",  # grouped-map pandas
        "mm_binary_features",  # mapInPandas multimodal path
        "emb_near_dup_lsh",  # MLlib approxSimilarityJoin class load
        "doc_tfidf_top_terms",  # documents.parquet page cache
        "graph_minhash_neighbors",  # heavy self-join + lineitem cache
    ]
    t_w = time.time()
    for wname in warmup_list:
        if wname not in qs:
            continue
        try:
            qs[wname](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            traceback.print_exc()
    warmup_seconds = round(time.time() - t_w, 3)
    print(
        f"# warmup pass ({len(warmup_list)} queries): {warmup_seconds}s",
        file=sys.stderr,
    )

    # THREE full passes, min per query: steady-state timing robust to
    # transient background load on any single query (the r2->r4 +19%
    # drift was machine noise; r6's min-of-2 couldn't separate
    # regression from contention — hence min-of-3 restored, per the
    # round-6 verdict).  Later passes are mostly warm (codegen/JIT
    # cached) and much cheaper than pass 1.
    #
    # Budget semantics (round-10 VERDICT item 2): a full pass-1 + pass-2
    # measures ~1,300 s on this suite, so under the driver's default
    # BENCH_BUDGET_S=900 the old fraction-of-budget gates degraded
    # pass 2 to a subset and the window self-labeled contended EVERY
    # round — noise by construction.  Passes 1 and 2 now ALWAYS run in
    # full (every query gets >= 2 samples: the honesty floor the
    # round-10 verdict set), and the budget gates only pass 3 and the
    # outlier re-runs.  The budget is a soft internal cap — overrunning
    # it stretches the window's wall clock, never its truthfulness.
    budget_s = float(os.environ.get("BENCH_BUDGET_S", "900"))
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    t_start = time.time()

    def run_one(pass_no: int, name: str, fn) -> None:
        if name in errors:
            return
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:400]
            samples.pop(name, None)
            print(f"# p{pass_no} {name}: ERROR {errors[name]}", file=sys.stderr)
            return
        dt = round(time.time() - t0, 3)
        samples.setdefault(name, []).append(dt)
        print(f"# p{pass_no} {name}: {dt}s", file=sys.stderr)

    for pass_no in range(3):
        elapsed = time.time() - t_start
        if pass_no == 2 and elapsed > budget_s * 0.8:
            # Degrade pass 3, don't skip it: a subset pass over the
            # slowest tail (where a contended sample distorts the total
            # most).  Passes 1-2 are never degraded — see above.
            slowest = sorted(
                samples, key=lambda n: min(samples[n]), reverse=True
            )[:40]
            print(
                f"# pass {pass_no + 1} degraded to slowest-40 subset "
                f"(elapsed {elapsed:.0f}s of {budget_s:.0f}s budget)",
                file=sys.stderr,
            )
            for name in slowest:
                run_one(pass_no, name, qs[name])
            continue
        for name, fn in qs.items():
            run_one(pass_no, name, fn)

    def spread2(v: list[float]) -> float:
        """Relative gap between the two SMALLEST samples — steady-state
        repeatability, immune to a single contended outlier pass."""
        s = sorted(v)[:2]
        return (s[1] - s[0]) / s[0] if len(s) > 1 and s[0] > 0 else 0.0

    # Targeted per-query outlier re-measure (round-10 VERDICT item 3 —
    # the mechanism bench_scale already had): ANY query whose two best
    # samples still differ by >50% got at least one contended
    # measurement — re-measure (up to twice) so min() reflects steady
    # state, not luck of the pass.  First-sample/min ratios are NOT a
    # meaningful honesty criterion on this suite (pass-1 cold stretches
    # of 10-50x are per-query codegen + page-cache costs the warmup
    # can't cover); the criterion of record is noise_best2 < 0.15 —
    # repeatability of the REPORTED mins.
    for attempt in range(2):
        noisy = [
            n
            for n, v in samples.items()
            if len(v) > 1 and spread2(v) > 0.5 and n not in errors
        ]
        if not noisy or time.time() - t_start > budget_s * 0.93:
            break
        for name in noisy:
            run_one(3 + attempt, name, qs[name])

    timings = {n: min(v) for n, v in samples.items()}
    # TWO noise estimates, both reported (round-6 advice: the r5->r6
    # definition change made cross-round 'noise' numbers incomparable):
    #   noise_best2  - median over queries of the relative gap between
    #                  the two SMALLEST samples (repeatability of the
    #                  reported mins; immune to one contended pass),
    #   noise_maxmin - median over queries of (max-min)/min across ALL
    #                  samples (the r1-r5 definition; includes the
    #                  contended outliers).
    spreads2 = sorted(spread2(v) for v in samples.values() if len(v) > 1)
    noise_best2 = round(spreads2[len(spreads2) // 2], 4) if spreads2 else None
    spreads_mm = sorted(
        (max(v) - min(v)) / min(v)
        for v in samples.values()
        if len(v) > 1 and min(v) > 0
    )
    noise_maxmin = (
        round(spreads_mm[len(spreads_mm) // 2], 4) if spreads_mm else None
    )
    min_samples = min((len(v) for v in samples.values()), default=0)

    total = round(sum(timings.values()), 3)
    # Contention honesty (round-8 VERDICT item 6, restated per round-10
    # item 2): a window where the two best samples still disagree by
    # >15% median, or where any query got fewer than TWO samples, is
    # measuring the box, not the plans.  (The floor was 3 when budget
    # gates could cut pass 2; passes 1-2 are now unconditional, so
    # min_samples < 2 only happens on a mid-run error path.)  Mark it,
    # and never let it silently REPLACE a clean artifact of record.
    contended = bool(
        (noise_best2 is not None and noise_best2 > 0.15) or min_samples < 2
    )
    detail = {
        "metric": "sum_query_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "noise_best2": noise_best2,
        "noise_maxmin": noise_maxmin,
        "min_samples_per_query": min_samples,
        "contended": contended,
        "warmup_seconds": warmup_seconds,
        "disk_mb_s": disk_mb_s,
        "disk_probe_path": disk_probe_path,
        "queries": timings,
        "samples": samples,
        "errors": errors,
        "sf": float(sf),
    }
    detail_path = REPO / "BENCH_DETAIL.json"
    if contended and detail_path.exists():
        try:
            prior_clean = not json.loads(detail_path.read_text()).get(
                "contended", False
            )
        except (OSError, ValueError):
            prior_clean = False
        if prior_clean:
            detail_path = REPO / "BENCH_DETAIL_CONTENDED.json"
            print(
                "# contended window (noise_best2="
                f"{noise_best2}, min_samples={min_samples}): detail wrote to "
                f"{detail_path.name}; the clean BENCH_DETAIL.json stands",
                file=sys.stderr,
            )
    detail_path.write_text(json.dumps(detail, indent=1))

    # Snapshot gate as bench's exit path (round-9 VERDICT item 8): the
    # gate is no longer a separate manual step that a post-gate commit
    # can skew past — every bench run ends by checking that the three
    # committed artifacts describe the tree that ships, and logs the
    # verdict INSIDE the detail artifact it just wrote.  A gate FAIL
    # does not fail the bench (the numbers are still real); it flags
    # which sibling artifact needs regeneration.
    import subprocess

    gate = subprocess.run(
        [sys.executable, str(REPO / "tools" / "snapshot_gate.py")],
        capture_output=True,
        text=True,
    )
    detail["snapshot_gate"] = {
        "ok": gate.returncode == 0,
        "report": gate.stdout.strip().splitlines(),
    }
    detail_path.write_text(json.dumps(detail, indent=1))
    print(f"# snapshot gate: {gate.stdout.strip()}", file=sys.stderr)

    # Compact stdout line (< ~1900 chars so the driver's 2000-char tail
    # buffer captures it whole).  Headline per-query numbers only.
    headline = {n: timings[n] for n in HEADLINE if n in timings}
    line = {
        "metric": "sum_query_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        # mean sec/query: the round-over-round comparable number — the
        # total grows every round simply because queries are added.
        "per_query": round(total / max(len(timings), 1), 4),
        # noise == noise_best2 (named metric since r6); noise_maxmin is
        # the r1-r5 definition, kept for cross-round comparability.
        "noise": noise_best2,
        "noise_maxmin": noise_maxmin,
        "min_samples": min_samples,
        "contended": contended,
        "queries": headline,
        "sf": float(sf),
    }
    out = json.dumps(line, separators=(",", ":"))
    while len(out) > 1850 and line["queries"]:
        line["queries"].popitem()
        out = json.dumps(line, separators=(",", ":"))
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
