"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Output contract (BENCH_r05 post-mortem: the single JSON line outgrew the
driver's tail-capture window and arrived truncated mid-JSON, so round 5
has no machine-parsed total): the per-query DETAIL object is printed
first on its own line and mirrored to ``bench_detail.json``, and the
LAST stdout line is a compact (<1 KB) summary
``{"metric", "value", "unit", "sf", "n_queries", "value_run1",
"queries_slowest", "detail"}`` — whatever the capture window cuts, the
final short line parses. ``value`` is the best-of-2 total (steady-state
plan cost, comparable with BENCH_r05); ``value_run1`` is the run-1 total
(comparable with BENCH_r04 and earlier, which were single-run) so
cross-round comparisons no longer need a warmup correction factor.
Each query is fully materialized via the noop sink (executes the whole
plan, no driver collect, no output cost).

r15 measurement fix: each timed run now REBUILDS the query's DataFrame
(``fn()`` inside the timed window) so that work executed at plan-build
time — AQE materializes every shuffle stage beneath a
``localCheckpoint`` during ``toRdd`` — is measured, and so that no run
reuses a previous run's checkpointed blocks. Totals are therefore NOT
comparable with BENCH_r14 and earlier (which timed only the noop
writes of one shared frame); OPTIMIZATION_r15.md and BASELINE.md
carry the old-method numbers alongside.

r16 measurement fix (sink honesty, plans/sources.py per_run
materialization): the five sink-class queries (q_sink_pyds,
q_sink_clustered, q_sink_zorder, q_compact_files, q_sink_pyds_stream)
now write a FRESH run-numbered output dir on every ``fn()`` call, so
best-of-N times the write — previously runs 2+ hit the exists-guard
and timed only the readback. The sink tier's best-of RISES vs r15 by
design; r15 sink numbers are not comparable for those five queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hippo_claim_crossover_spark.plans import ALL_SPECS  # noqa: E402
from hippo_claim_crossover_spark.session import get_spark  # noqa: E402

# Headline set: one per major operator family (join/agg, windows, explode,
# time windows, text, dedup, similarity, JSON).
# Order note: q_udaf / q_udf_arrow run FIRST among Python-stage queries on
# purpose — the session's one-time Python-worker-pool spawn (~1-4s for 32
# workers importing numpy/pandas/pyarrow) lands on whichever Python stage
# executes first, and attributing it to these two small UDF demos keeps the
# similarity/dedup numbers representative of their plans. Total is
# unaffected; the cost is paid exactly once either way.
HEADLINE = [
    "q_small_qty",
    "q_large_orders",
    "q_disjunctive",
    "q_promo_share",
    "q_top_supplier",
    "q_idle_customers",
    "q_pii_redact",
    "q_repetition",
    "q_fuzzy_link",
    "q_embed_gram",
    "q_hof_array",
    "q_winsorize",
    "q_drift_ks",
    "q_join_full",
    "q_win_nav",
    "q_collect_sorted",
    "q_gini",
    "q_rolling_7d",
    "q_negative_sample",
    "q_target_encode",
    "q_feature_hash",
    "q_interval_coverage",
    "q_subquery_sql",
    "q_sample_balance",
    "q_not_in",
    "q_export_pipeline",
    "q_join_setsim",
    "q_crossover",
    "q_udaf",
    "q_udf_arrow",
    "q_agg_multi",
    "q_join_inner",
    "q_join_asof",
    "q_win_running",
    "q_topk_group",
    "q_explode_nested",
    "q_stream_tumble",
    "q_stream_session",
    "q_json",
    "q_text_tokens",
    "q_text_quality",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_ngram",
    "q_sim_topk",
    "q_sim_knn_blocked",
    "q_sim_lsh_buckets",
    "q_dedup_lshband",
    "q_percentile",
    # round-4 additions: the operator families that had correctness proof
    # but no perf number (round-3 verdict "What's missing" #1), plus the
    # new simhash detector.
    "q_dedup_cluster",
    "q_dedup_simhash_pairs",
    "q_text_tfidf",
    "q_sim_ivf",
    "q_join_salted",
    "q_join_bucketed",
    # round-4 session additions
    "q_sim_pq",
    "q_grouping_sets",
    "q_pack_sequences",
    "q_funnel",
    "q_decontaminate",
    "q_latest_snapshot",
    "q_histogram",
    "q_profile",
    "q_ship_priority",
    # round-5 additions
    "q_region_volume",
    "q_stream_interval_lo",
    "q_histogram_eq",
    "q_pagerank",
    "q_assoc_rules",
    "q_udtf",
    # round-5 second-half additions (CDC, Bloom join, LM typicality,
    # stream-static join, linkage, DQ audit, graph, layout, UDF surfaces)
    "q_merge_upsert",
    "q_scd2_history",
    "q_join_bloom",
    "q_text_typicality",
    "q_stream_static",
    "q_link_sorted",
    "q_dq_audit",
    "q_cohort_retention",
    "q_graph_triangles",
    "q_incr_agg",
    "q_sink_zorder",
    "q_join_interval_binned",
    "q_udf_grouped",
    "q_udf_cogrouped",
    # round-5 third-batch additions (statistics family, sessionization,
    # snapshot diff, TPC-H Q10 composite)
    "q_regr_group",
    "q_outlier_zscore",
    "q_sessionize",
    "q_snapshot_diff",
    "q_returned_items",
    "q_bpe_merges",
    "q_postings",
    "q_shuffle_shards",
    "q_transitions",
    "q_skew_profile",
    "q_hll_sketch",
    "q_skyline",
    "q_bpe_encode",
    "q_sample_group",
    "q_lateral_join",
    "q_sql_udf",
    "q_transpose",
    "q_gapfill",
    "q_curation_pipeline",
    "q_matmul",
    "q_src_metadata",
    "q_sink_pyds",
    "q_explode_outer",
    "q_calendar",
    "q_graph_bfs",
    "q_recommend",
    "q_langid_eval",
    "q_reconcile",
    # round-6 additions: the one r5-gated query the headline missed
    # (ADVICE r5), plus the scale-path percentile/histogram siblings.
    "q_drift_chi2",
    "q_percentile_approx",
    "q_histogram_eq_approx",
    # round-6 new queries: robust MAD outliers (distributed exact
    # medians ×2) and BM25 lexical retrieval.
    "q_outlier_mad",
    "q_bm25",
    "q_collocations",
    "q_sample_weighted",
    "q_diversity",
    "q_heavy_hitters",
    "q_chunk",
    "q_sample_weighted_group",
    "q_rag_pipeline",
    "q_split_leakproof",
    "q_attribution",
    "q_mm_frames",
    "q_mm_resize",
    "q_ohlc",
    # round-9 additions: curation stage-0 HTML strip, CLIP-shaped
    # cross-modal pair prep, merge-on-read lakehouse read
    "q_text_strip_html",
    "q_mm_pairfilter",
    "q_mor_read",
    # round-9 second batch: TPC-H Q4/Q7/Q13/Q16/Q21 silhouettes + CMS
    # sketch + token entropy + truncated EWMA
    "q_order_priority",
    "q_nation_trade",
    "q_cust_order_dist",
    "q_part_supplier_cnt",
    "q_waiting_supplier",
    "q_cms_sketch",
    "q_text_entropy",
    "q_ewma",
    # round-9 third batch: the remaining TPC-H silhouettes (all 22 now
    # declared)
    "q_min_cost_supplier",
    "q_forecast_revenue",
    "q_market_share",
    "q_nation_profit",
    "q_late_lines",
    "q_important_stock",
    "q_dominant_supplier",
    "q_kmv_sketch",
    "q_dataset_mixture",
    "q_scd2_lookup",
    "q_seasonal",
    "q_time_travel",
    "q_melt",
    "q_corr_matrix",
    "q_percentile_highcard",
    "q_graph_lpa",
    "q_cusum_changepoint",
    "q_ab_test",
    "q_mode",
    "q_active_users",
    "q_parse_tree",
    "q_dedup_incremental",
    "q_minhash_merge",
    "q_kmv_setops",
    "q_ngram_lm",
    "q_dedup_containment",
    "q_dedup_spans",
    "q_acf",
    "q_winnow",
    "q_stream_resume",
    "q_outlier_seasonal",
    "q_graph_sage_agg",
    "q_dp_counts",
    "q_join_asof_fwd",
    "q_mm_dedup",
    "q_rolling_zscore",
    "q_vocab_oov",
    "q_weighted_median",
    "q_stream_chained",
    "q_bootstrap_ci",
    "q_retrieve_rerank",
    "q_train_matrix",
    "q_quantile_sketch_merge",
    "q_stream_sink_audit",
    "q_compact_files",
    "q_curriculum",
    "q_ann_recall",
    "q_backfill_partition",
    "q_retrieve_fuse",
    "q_semdedup",
    "q_retrieve_eval",
    "q_stream_compact",
    "q_dsir",
    "q_span_corrupt",
    "q_observe",
    "q_tok_fertility",
    "q_stream_state",
    "q_mix_temperature",
    "q_sink_pyds_stream",
    "q_sql_script",
    "q_join_asof_near",
    "q_twap",
    "q_rolling_median",
    # round-13 additions: host-level URL dedup + the two streaming
    # promotions (foreachBatch resume, RocksDB state store)
    "q_host_dedup",
    "q_stream_foreach",
    "q_stream_rocksdb",
    # round-14 addition: RRF fusion ablation across two embedding
    # families (full 64-dim vs Matryoshka-truncated 16-dim)
    "q_fuse_ablation",
    # round-15 addition: RRF k-sensitivity ablation (k in {20,60,100})
    "q_fuse_k_ablation",
]


def run_query(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """Repeated full materializations through the noop sink; returns
    (run1, best-of-N). Each run times ``fn() + noop write`` on a FRESH
    DataFrame — plan build is INSIDE the timed window (r15 measurement
    fix, guide §1: time the computation).

    Why fn() must be timed: ~60 plans materialize multi-consumer or
    iterative intermediates via ``localCheckpoint`` (the legitimate
    write-once-read-many / plan-truncation discipline), and under AQE
    ``localCheckpoint`` → ``queryExecution.toRdd`` →
    ``getFinalPhysicalPlan()`` EXECUTES every shuffle stage below the
    checkpoint at plan-build time. The previous methodology (build the
    frame once outside the window, time only the writes) therefore
    (a) never timed that upstream work at all and (b) let the second
    timed run reuse the first run's checkpointed blocks — measured
    r15: q_graph_lpa fn()=4.6s vs timed-write 0.2s; q_decontaminate
    true one-shot ~5s vs best-of 0.7s. Rebuilding the frame per run
    makes every run a complete, independent computation from the
    parquet inputs: nothing computed outside the window, nothing
    reused across runs. One-time session fixture synthesis (exists-
    guarded scratch writers some fns perform) lands in run 1 only;
    best-of-N reads steady state, as before.

    The first execution of a plan still carries one-time Janino
    codegen + JIT warmup, and the single-JVM harness adds a roaming
    multi-second stall to ~one query per 48-query session (GC/host
    noise — BASELINE.md). The min is the steady-state plan cost — the
    quantity that scales to a cluster. Both run-1 and best-of totals
    are reported. Queries whose best-of-2 exceeds 1 s get a THIRD run
    (r6 verdict #7) to cap the stall's leverage on the slow tier."""
    times = []
    for _ in range(2):
        t0 = time.time()
        df = ALL_SPECS[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    if min(times) > 1.0:
        t0 = time.time()
        df = ALL_SPECS[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return times[0], min(times)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    # Prune run-tagged scratch dirs idle >30 min (accumulated bucketed
    # tables / source fixtures measurably inflate the bucketed/salted
    # join timings via listing overhead). Delegates to the session
    # helper so the rules match get_spark's own 2h prune: run-tag aware
    # AND mtime-idle — a live concurrent session keeps fresh mtimes as it
    # writes, so the shorter margin only reclaims genuinely abandoned
    # state, never a running session's, nor the untagged shared fixtures
    # (binfiles/, stress corpora).
    from hippo_claim_crossover_spark.session import _prune_stale_scratch
    _prune_stale_scratch(spark.sparkContext.applicationId, idle_secs=1800)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup so the first measured query doesn't pay session
    # startup + whole-stage-codegen compilation: run the flagship plan once
    # at the tiny sf0.001 (compiles the join/agg/window code paths; the
    # measured queries still execute fully on the benchmark data).
    # q_udaf and q_udf_arrow are included for their side effect of forking
    # the Python worker pools (pandas-UDF and mapInArrow use separate
    # worker launch paths): the first Arrow-batched stage in a session
    # pays a one-time fork+import of one Python worker per core (~3-5s on
    # 32 cores), which is session startup cost — the same class as the
    # JVM/codegen warmup above, not per-query work — so it is excluded
    # the same way.
    for wname in ("q_scan", "q_crossover", "q_win_running", "q_udaf",
                  "q_udf_arrow"):
        ALL_SPECS[wname].fn(spark, "/root/testdata/sf0.001").write.format(
            "noop").mode("overwrite").save()
    # Session-health calibration (r12 VERDICT #2): a fixed, tiny,
    # deterministic probe — the flagship plan at sf0.001, best-of-3
    # AFTER warmup — timed BEFORE the measured loop (``calib_sec``)
    # and AGAIN after it (``calib_end_sec``), both emitted in both
    # JSON artifacts. The probe's steady-state cost is
    # data-independent of the benchmark SF, so a hot/stalled session
    # (GC pressure, host/VM neighbor noise, thermal) is identifiable
    # from the JSON alone — and a session that DEGRADES mid-run (fine
    # start probe, inflated totals) shows up in the end probe.
    # BASELINE.md records the calib band of the committed coherent
    # runs; probes far above it mark the session's totals as
    # out-of-band before any per-query forensics.
    def calibrate() -> float:
        probe_times = []
        for _ in range(3):
            c0 = time.time()
            ALL_SPECS["q_crossover"].fn(spark, "/root/testdata/sf0.001") \
                .write.format("noop").mode("overwrite").save()
            probe_times.append(time.time() - c0)
        return round(min(probe_times), 3)

    calib = calibrate()
    timings: dict[str, float] = {}
    timings_run1: dict[str, float] = {}
    for name in HEADLINE:
        r1, best = run_query(spark, name, sf_dir)
        timings[name] = round(best, 3)
        timings_run1[name] = round(r1, 3)
    calib_end = calibrate()
    total = round(sum(timings.values()), 3)
    total_run1 = round(sum(timings_run1.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # r16 (VERDICT r15 #6): carry the core count in the detail and give
    # non-default core counts their own detail file, so per-query
    # scaling ratios (c8 vs c32) are computable from committed artifacts
    # — a genuinely serial query (driver-loop rounds) is then
    # distinguishable from the suite's per-job latency floor.
    cpus = spark.sparkContext.defaultParallelism
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_run1": timings_run1,
        "value_run1": total_run1,
        "calib_sec": calib,
        "calib_end_sec": calib_end,
        "cpus": cpus,
        "sf": sf_val,
    }
    detail_name = ("bench_detail.json" if cpus == 32
                   else f"bench_detail_c{cpus}.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           detail_name), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    # LAST line is the parseable artifact: compact (<1 KB) so the
    # driver's tail capture cannot truncate it mid-JSON.
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "value_run1": total_run1,
        "calib_sec": calib,
        "calib_end_sec": calib_end,
        "cpus": cpus,
        "queries_slowest": slowest,
        "detail": detail_name,
    }))


if __name__ == "__main__":
    main()
