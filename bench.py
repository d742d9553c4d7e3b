"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (noop sink) after a warm-up of
the session; times are wall-clock per query, MEDIAN-OF-N (default 3
passes, $SPARK_GRAFT_BENCH_PASSES to override; the old min-of-passes
number is kept as value_min/queries_min): single-pass timings in a
shared long-lived JVM swing 3-6x run-to-run from GC/codegen-cache
pressure (r3's recorded 89 s vs the same code's steady-state 45 s), so
one cold sample per query is not a usable regression gate, and r9
showed min-of-2 still moves ~1.35x with session weather. TWO FIXED
calibration probes (constant plan + data, catalog-independent) — a
CPU leg and, since r12, a parquet-scan I/O leg (r11's noise was
I/O-side and invisible to the CPU leg) — are timed before and after
the headline passes and recorded in the JSON: if calibration moved,
the round's deltas are weather; if calibration is flat and a query
moved >1.3x, that's code. The final JSON also carries regressed_min
(per-query min for the worst >1.3x-vs-baseline medians, capped at 8)
and BENCH_LOCAL.json — committed per round since r12 — records every
per-query min and spread. Queries still >1.5x their
standing baseline after the passes get one extra fresh re-run before
reporting; per-query spread (max/min across passes) goes to stderr and
a "spread" summary field into the JSON so the recorded number carries
its own noise estimate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_processor_spark.registry import all_queries  # noqa: E402
from parquet_processor_spark.session import clear_session_memos, get_spark, session_memo_counts  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_stock",
    "q12_priority_class",
    "q13_order_distribution",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_part_supplier_types",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_brand_bands",
    "q20_part_promotion",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "join_broadcast_equi",
    "join_range",
    "join_asof",
    "join_skew_salted",
    "join_bucketed",
    "agg_rollup",
    "window_rank",
    "window_running_sum",
    "window_tumbling",
    "window_session",
    "window_sliding",
    "distinct_dedup",
    "dedup_exact",
    "dedup_near",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_stats",
    "token_count",
    "quality_score",
    "sim_topk",
    "sim_topk_ivf",
    "topk_order_limit",
]

# Newer operators timed separately (single pass, after the headline
# passes) so the headline total stays comparable to BASELINE_BENCH
# across rounds while their cost is still on record.
EXTENDED = [
    "agg_calibration",
    "sink_targeted_delete",
    "search_hybrid_rrf",
    "embedding_matryoshka_eval",
    "multimodal_keyframes",
    "sink_ann_index_upsert",
    "dedup_url",
    "sim_topk_filtered",
    "report_lsh_bucket_pressure",
    "sample_class_balance",
    "table_vacuum_orphans",
    "embedding_knn_classify",
    "dedup_connected",
    "dedup_connected_lsh",
    "quality_unigram_rarity",
    "events_funnel",
    "sink_sorted_roundtrip",
    "curation_cap_per_source",
    "curation_contamination",
    "curation_pii_scrub",
    "curation_repetition",
    "dedup_containment",
    "doc_chunk_windows",
    "graph_pagerank",
    "tokenize_to_ids",
    "events_anomaly_p99",
    "sim_topk_lsh",
    "dedup_embedding_lsh",
    "scd2_intervals",
    "join_interval_overlap",
    "profile_columns",
    "feature_zscore",
    "agg_heavy_hitters",
    "quality_bigram_lm",
    "join_bloom_filtered",
    "events_gap_fill",
    "agg_incremental_merge",
    "agg_copurchase_pairs",
    "join_range_bucketed",
    "sample_temperature_mix",
    "events_markov",
    "events_rolling_distinct",
    "agg_rfm_scores",
    "dedup_repeated_ngrams",
    "window_rolling_median",
    "events_funnel_windowed",
    "agg_abc_analysis",
    "agg_affinity_lift",
    "orders_open_over_time",
    "join_scd2_pointintime",
    "agg_gini",
    "sample_budget_mix",
    "join_asof_nearest",
    "dedup_incremental",
    "dedup_incremental_minhash",
    "sim_topk_ivf_nprobe",
    "quality_diversity",
    "agg_heavy_hitters_grouped",
    "table_diff",
    "sink_mergeschema_roundtrip",
    "agg_weighted_median",
    "sink_compacted_roundtrip",
    "sample_negative_pairs",
    "scan_csv_badrecords",
    "split_leakage_safe",
    "sample_downweight_dups",
    "doc_novelty",
    "window_ewma",
    "events_attribution",
    "feature_mad_outliers",
    "cdc_apply_tombstones",
    "graph_triangles",
    "scan_binary_files",
    "agg_regression",
    "feature_winsorize",
    "text_boilerplate",
    "embedding_pq_train",
    "tokenizer_bpe_train",
    "tokenizer_bpe_apply",
    "sink_partitioned_roundtrip",
    "multimodal_dedup_perceptual",
    "sim_topk_ivfpq",
    "dedup_verbatim_spans",
    "dedup_span_removal",
    "sink_versioned_snapshots",
    "sink_ann_index_roundtrip",
    "graph_label_propagation",
    "table_expectations",
    "streaming_expectations",
    "sink_training_shards",
    "error_approx_intersection",
    "join_fuzzy_names",
    "dedup_semdedup",
    "pipeline_curate_corpus",
    "text_html_strip",
    "window_drawdown",
    "agg_benford",
    "join_null_safe",
    "quality_gopher_rules",
    "multimodal_dedup_bytes",
    "graph_local_clustering",
    "scd2_apply_changes",
    "events_cohort_ltv",
    "agg_count_min",
    "anonymize_k_anonymity",
    "sample_importance_dsir",
    "agg_bitmap_index",
    "sim_range_search",
    "embedding_random_projection",
    "multimodal_clip_pairs",
    "streaming_count_min",
    "monitor_feature_drift",
    "quality_ccnet_buckets",
    "dedup_cluster_report",
    "tokenizer_bpe_eval",
    "multimodal_frame_dedup",
    "events_survival_table",
    "graph_link_prediction",
    "events_bot_detection",
    "curation_contamination_spans",
    "events_seasonality",
    "sink_codec_roundtrip",
    "sink_manifest_pruned_scan",
    "sink_partition_overwrite_dynamic",
    "agg_ab_test",
    "pipeline_curate_media",
    "report_lsh_tuning",
    # round-8 additions
    "anonymize_dp_counts",
    "text_readability",
    "report_ivf_balance",
    "events_forecast_linear",
    "sim_knn_graph",
    "multimodal_scene_cut",
    "streaming_forecast",
    "sample_curriculum_mix",
    "graph_bfs_distances",
    "sink_checked_publish",
    "agg_decile_lift",
    "pipeline_cost_estimate",
    "agg_auc",
    # round-10 additions
    "mine_bitext_mutual",
    "feature_target_encode",
    "agg_cohens_kappa",
    "curation_contamination_semantic",
    "events_sequence_negation",
    "agg_gini_impurity",
    "feature_hashing_trick",
    "sink_bloom_pruned_scan",
    "report_source_overlap",
    "anonymize_pseudonymize",
    # round-10 second-wave additions
    "report_curation_funnel",
    "sample_epoch_repeat",
    "agg_bootstrap_ci",
    "sink_merge_upsert",
    "events_ohlc_bars",
    "agg_regression_multi",
    "streaming_ohlc",
    "error_bootstrap_ci",
    "sim_topk_lsh_multiprobe",
    "anonymize_generalize",
    "pack_concat_chunks",
    "graph_random_walks",
    "events_trending_topk",
    "agg_classification_report",
    # round-11 additions
    "streaming_trending_topk",
    "join_set_similarity",
    "graph_ppr",
    "graph_scc",
    "sample_pps",
    "anonymize_dp_mean",
    "sink_time_travel_read",
    "text_collocations",
    "events_cuped",
    "events_attribution_markov",
    "graph_hits",
    "agg_ab_srm",
    "sample_stratified_neyman",
    "text_textrank_keywords",
    "sink_merge_on_read_dv",
    "scan_change_data_feed",
    "report_dataset_datasheet",
    "events_diff_in_diff",
    # round-12 additions
    "join_set_similarity_verify",
    "streaming_trending_topk_update",
    "agg_mcnemar",
    "agg_cramers_v",
    "agg_kendall_tau",
    "agg_spearman_rho",
    "feature_quantile_bin",
    "agg_anova",
    "sample_kfold",
    "events_event_study",
    "recall_join_set_similarity_verify",
    "agg_tost_equivalence",
    "eval_retrieval_mrr",
    "graph_modularity",
    # round-13 wave
    "join_right_outer",
    "agg_string_agg",
    "window_cume_dist",
    "streaming_changepoint_update",
    "streaming_forecast_update",
    "streaming_count_min_update",
    "agg_levene",
    "agg_proportions_ztest",
    "agg_cochran_q",
    "split_time_embargo",
    "graph_degree_assortativity",
    "events_autocorrelation",
    "report_embedding_health",
    "agg_hhi",
    "agg_trimmed_mean",
    "feature_time_windows",
    "events_cem_att",
    "anonymize_date_shift",
    "report_ivf_recall_curve",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Warm-up: one pass at the smallest SF (pays JIT/codegen cheaply and
    # surfaces hard failures early), then ONE UNTIMED PASS AT THE TARGET
    # SF — sf0.1 plans compile different codegen stages and touch
    # different parquet footers than sf0.001, so without it the first
    # timed pass still carries session-cold costs (r4: pass-1 total
    # 35.4 s vs steady-state 33.3 s, per-query spread up to 4x). The
    # timed passes below then measure steady-state engine throughput.
    # Only the HEADLINE set warms before the timed passes: warming the
    # (growing) extended catalog first was measured to slow the timed
    # headline passes ~1.3x across the board (JVM code-cache/GC churn
    # from ~70 extra query compilations), which made round-over-round
    # totals incomparable. Extended operators warm and run AFTER the
    # headline timing.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

    def memo_lookups() -> int:
        return sum(c["hits"] + c["misses"] for c in session_memo_counts().values())

    # untimed build + run; True when it looked up a session memo, i.e.
    # the timed runs that follow measure the query's SERVE path
    def warm(name: str, path: str) -> bool:
        before = memo_lookups()
        try:
            queries[name](spark, path).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # warm-up is best-effort; the timed run surfaces real failures
        return memo_lookups() > before

    for name in HEADLINE:
        warm(name, warm_dir)

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Calibration probes: FIXED workloads (constant plan, constant
    # data, independent of the query catalog) timed before and after
    # the headline passes. Their wall-clock moves with the session/box
    # weather, never with repo code — so a round where every query
    # reads ~1.35x (r9) shows up as a ~1.35x calibration, while a real
    # regression leaves calibration flat. Median of 3. TWO legs since
    # r12: the CPU leg (spark.range groupBy — pure codegen/GC) stayed
    # flat through r11 while medians swung 2-3x on queries an idle
    # re-run cleared, i.e. that round's noise was I/O-side and the CPU
    # probe was blind to it. The I/O leg scans a fixed parquet file
    # (constant bytes, constant footers) so page-cache / disk weather
    # is now decidable from the artifact too.
    def calibration_probe() -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(0, 20_000_000, 1, 32)
                .selectExpr("id % 9973 as k", "id")
                .groupBy("k")
                .sum("id")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[1]

    def calibration_probe_io() -> float:
        # Fixed parquet scan at the TARGET SF: full-column read of
        # lineitem (the table every heavy headline query scans),
        # collapsed through one xxhash64 partial aggregate so every
        # column's pages are actually decoded (a bare count() would
        # prune them all) while the shuffle stays one row; bit_xor
        # (not sum) so the fold can't overflow under ANSI mode.
        # Constant plan and constant bytes across rounds at the same SF.
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        probe = li.agg(F.bit_xor(F.xxhash64(*li.columns)).alias("chk"))
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            probe.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[1]

    # untimed target-SF warm pass; its memo lookups mark the serve path
    serve_path = [name for name in HEADLINE if warm(name, sf_dir)]

    calibration_probe()  # untimed: pays the probe's own codegen
    calibration_probe_io()  # untimed: pays codegen + first page-cache fill
    calib_start = round(calibration_probe(), 3)
    calib_io_start = round(calibration_probe_io(), 3)

    n_passes = max(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")), 1)
    # Passes run CONSECUTIVELY per query (not interleaved across the
    # whole set): interleaving lets the JVM code cache / GC state drift
    # between a query's two samples, which is where the r5 spread_max
    # of 3.27 came from — back-to-back samples of the same plan measure
    # the same engine state, so spread is run-to-run noise only.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for name in HEADLINE:
        for _ in range(n_passes):
            samples[name].append(run_once(name))

    # Standing baseline (BASELINE_BENCH.json = best prior round at the
    # same SF) for outlier re-runs and the stderr delta report.
    base_q: dict[str, float] = {}
    bv = None
    baseline_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE_BENCH.json")
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            base = json.load(f)
        if base.get("sf") == (float(sf) if sf.replace(".", "").isdigit() else sf):
            base_q = base.get("queries", {})
            bv = base.get("value")

    # One extra fresh sample for anything still >1.5x its baseline:
    # distinguishes a real regression from one unlucky GC pause.
    for name in HEADLINE:
        b = base_q.get(name)
        if b and min(samples[name]) / b > 1.5:
            samples[name].append(run_once(name))

    # Extended operators: warmed only now (after the headline timing —
    # see the warm-up note above), each isolated in try/except — one
    # failing operator records null for itself instead of aborting the
    # whole benchmark after the headline passes already completed.
    extended: dict[str, float | None] = {}
    for name in EXTENDED:
        if warm(name, warm_dir):
            serve_path.append(name)
        try:
            extended[name] = round(run_once(name), 3)
        except Exception as exc:  # noqa: BLE001
            print(f"EXTENDED FAILED {name}: {exc}", file=sys.stderr)
            extended[name] = None

    # Serve-path disclosure: the serve_path rows' warm builds filled a
    # session memo, so their timed rows above measure the SERVE path
    # (post-training cost), not an end-to-end number. Each also gets
    # ONE memo-cleared end-to-end sample, so the artifact carries both.
    queries_e2e: dict[str, float | None] = {}
    for name in serve_path:
        clear_session_memos()
        try:
            queries_e2e[name] = round(run_once(name), 3)
        except Exception:  # noqa: BLE001
            queries_e2e[name] = None

    calib_end = round(calibration_probe(), 3)
    calib_io_end = round(calibration_probe_io(), 3)

    # Calibration-normalized headline (r13 verdict: the driver machine
    # ran 25-32% loaded and silently wrote a 1.47x round). The CPU
    # probe legs are a fixed workload, so their ratio to the committed
    # fully-idle reference for this box is the session's weather
    # multiplier; value/calibration_load estimates what an idle session
    # would have recorded. Emitted in BOTH stdout and BENCH_LOCAL so a
    # loaded round is visible from the artifact alone — it supplements
    # the raw value, never replaces it.
    calib_cpu_ref = 0.284  # builder's fully-idle r13 record: 0.285/0.283 legs
    calibration_load = round(((calib_start + calib_end) / 2) / calib_cpu_ref, 3)

    # Headline per-query number = MEDIAN of the passes (r9 verdict:
    # min-of-2 was too noisy to steer by — a real 1.3x regression was
    # indistinguishable from session weather). The min is kept
    # alongside (queries_min / value_min and BENCH_LOCAL) so rounds
    # recorded under the old min policy stay comparable.
    def median(ts: list[float]) -> float:
        s = sorted(ts)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    times = {name: round(median(ts), 3) for name, ts in samples.items()}
    times_min = {name: round(min(ts), 3) for name, ts in samples.items()}
    suspect = sorted(
        (n for n in times if base_q.get(n) and times[n] / base_q[n] > 1.3),
        key=lambda n: times[n] / base_q[n],
        reverse=True,
    )
    regressed_min = {n: times_min[n] for n in suspect[:8]}
    spread = {
        name: round(max(ts) / min(ts), 2) if min(ts) > 0 else 1.0
        for name, ts in samples.items()
    }
    total = round(sum(times.values()), 3)
    total_min = round(sum(times_min.values()), 3)

    # Per-query delta vs the standing baseline, on stderr so stdout
    # stays one JSON line. >1.5x on a query is a regression to
    # investigate (after the extra re-run above it is likely real).
    if base_q:
        print(f"{'query':<28}{'now':>8}{'base':>8}{'ratio':>7}{'spread':>8}", file=sys.stderr)
        for name, now in times.items():
            b = base_q.get(name)
            ratio = f"{now / b:6.2f}x" if b else "   new"
            bval = b if b is not None else float("nan")
            print(f"{name:<28}{now:>8.3f}{bval:>8.3f}{ratio:>7}{spread[name]:>7.2f}x", file=sys.stderr)
        if bv:
            print(f"{'TOTAL':<28}{total:>8.3f}{bv:>8.3f}{total / bv:6.2f}x", file=sys.stderr)
        slow = {n: round(times[n] / base_q[n], 2) for n in times if base_q.get(n) and times[n] / base_q[n] > 1.5}
        if slow:
            print(f"REGRESSED >1.5x vs baseline: {slow}", file=sys.stderr)

    # Two stdout lines, extended FIRST: the driver records a bounded
    # tail of stdout and parses the FINAL line as the headline JSON —
    # r5's single fat line (headline + 42 extended entries) outgrew
    # that capture window and recorded "parsed": null. The final line
    # therefore stays compact (headline set only, minified separators);
    # the extended per-query timings land on their own earlier line and
    # in BENCH_LOCAL.json for the full record.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    ext_line = {
        "metric": "extended_queries_wall",
        "unit": "sec",
        "sf": sf_val,
        "extended": extended,
        # memo-backed rows (serve-path) and their one-shot end-to-end
        # samples — see the serve-path disclosure note above
        "serve_path": serve_path,
        "queries_e2e": queries_e2e,
    }
    headline_line = {
        "metric": "headline_queries_total_wall",
        "value": total,  # sum of per-query MEDIANS (see bench policy note)
        "value_min": total_min,  # old min-of-passes policy, for cross-round comparison
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "passes": n_passes,
        "spread_max": max(spread.values()),
        "spread_median": sorted(spread.values())[len(spread) // 2],
        # fixed-workload probes timed before/after the headline passes:
        # a session-wide multiplier (GC/code-cache weather) moves the
        # CPU pair, page-cache/disk weather moves the IO pair; repo
        # code moves neither — compare across rounds before reading
        # per-query deltas
        "calibration_start_sec": calib_start,
        "calibration_end_sec": calib_end,
        "calibration_io_start_sec": calib_io_start,
        "calibration_io_end_sec": calib_io_end,
        # session weather multiplier (mean CPU probe leg / idle
        # reference) and the idle-equivalent headline it implies
        "calibration_load": calibration_load,
        "value_calibrated": round(total / calibration_load, 3)
        if calibration_load > 0
        else total,
        # per-query MIN for exactly the queries whose median exceeds
        # 1.3x baseline (worst 8 by ratio): min-of-passes is the
        # weather-resistant statistic, so a regressed_min at ~1x says
        # "median contaminated, code fine" from the artifact alone.
        # Bounded so the driver's 2000-char stdout tail always holds
        # the full line (r5 lesson); BENCH_LOCAL.json has every min.
        "regressed_min": regressed_min,
        # headline rows whose timed passes ride a session memo the warm
        # pass populated (serve-path cost); memo-cleared end-to-end
        # samples are on the extended line (queries_e2e) and in
        # BENCH_LOCAL.json
        "serve_path": [name for name in serve_path if name in HEADLINE],
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w") as f:
        json.dump(
            {
                **headline_line,
                "queries_min": times_min,
                "extended": extended,
                "spread": spread,
                "serve_path": serve_path,
                "queries_e2e": queries_e2e,
            },
            f,
            indent=1,
        )
    print(json.dumps(ext_line, separators=(",", ":")))
    print(json.dumps(headline_line, separators=(",", ":")))


if __name__ == "__main__":
    main()
