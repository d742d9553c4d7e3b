"""Robustness: every operator family must handle empty input without
crashing (empty partitions are routine at 100 TB — a filter that
matches nothing in some partition range, a new unpopulated table).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.registry import all_queries
from parquet_processor_spark.tables import TABLES, t
from tools.check_oracle import duckdb_views, row_diffs

from .conftest import SF_SMALL

REPRESENTATIVE = [
    "q1_pricing_summary",      # scan+filter+agg
    "q10_returned_items",      # multi-join top-k
    "join_asof",               # union+window asof
    "window_session",          # session windows
    "dedup_near",              # cached minhash+LSH
    "dedup_ngram_jaccard",     # shingle self-join
    "sim_topk_ivf",            # centroid assignment + probe
    "text_stats",              # text analysis
    "pipeline_fetch",          # mapInPandas stage
    "agg_rollup",              # grouping sets
    "window_row_number",       # two-phase global index (empty stats row)
    "curation_cap_per_source", # WindowGroupLimit quota
    "curation_contamination",  # broadcast shingle join
    "curation_repetition",     # double aggregation
    "dedup_embedding_lsh",     # banded LSH explode+self-join
    "dedup_connected",         # iterative closure over an EMPTY pair graph
    "quality_unigram_rarity",  # self-joined vocab model
    "events_funnel",           # cascaded stage joins
    "scd2_intervals",          # two chained window passes
    "join_interval_overlap",   # session intervals × overlap join
    "events_gap_fill",         # span grid + forward-fill window
    "quality_bigram_lm",       # hashed-pair bigram model join
    "agg_incremental_merge",   # partial-state union + merge agg
    "agg_copurchase_pairs",    # basket collapse + chained generators
    "join_range_bucketed",     # 2x bucket fan-out + residual range
    "sample_temperature_mix",  # data-derived broadcast thresholds
    "events_markov",           # lag window + tiny transition table
    "events_rolling_distinct", # 7-way fan-out sliding distinct
    "agg_rfm_scores",          # collapsed-table ntile windows
    "dedup_repeated_ngrams",   # hashed 8-gram df + score join
    "agg_abc_analysis",        # collapsed-table cumulative window
    "agg_affinity_lift",       # basket pairs + item-frequency joins
    "orders_open_over_time",   # difference-array running sum
    "join_scd2_pointintime",   # SCD build + as-of union window
    "sample_budget_mix",       # weight/budget aggs + stratum cumsum
    "join_asof_nearest",       # tag-union + two shared window passes
    "dedup_incremental",       # corpus fp set + delta window
    "dedup_incremental_minhash",  # posting-list probe over empty index
    "sim_topk_ivf_nprobe",     # empty probe list + empty candidates
    "quality_diversity",       # nested token aggregates
    "agg_heavy_hitters_grouped",  # WindowGroupLimit over empty aggregate
    "table_diff",              # full-outer fingerprint join, both sides empty
    "sink_mergeschema_roundtrip",  # two empty batches, merged read
    "agg_weighted_median",     # cumulative window over empty value domain
    "split_leakage_safe",      # closure labels over empty corpus
    "sample_downweight_dups",  # cluster-size join over empty labels
    "doc_novelty",             # first-occurrence aggregate, no shingles
    "window_ewma",             # 8-lag shared window, empty partitions
    "events_attribution",      # path windows over empty timeline
    "feature_mad_outliers",    # two-pass rank medians, empty groups
    "cdc_apply_tombstones",    # argmax compaction of an empty log
    "feature_winsorize",       # broadcast bounds over empty groups
    "text_boilerplate",        # broadcast boiler set, no shingles
    "agg_regression",          # exact moments over empty groups
    "pipeline_curate_corpus",  # full curation composition, empty corpus
    "text_html_strip",         # narrow strip projection, no rows
    "window_drawdown",         # running max over empty partitions
    "join_null_safe",          # null-safe hash join, both sides empty
    "quality_gopher_rules",    # narrow rule projection, no rows
    "multimodal_dedup_bytes",  # content-hash groupBy over empty media
    "graph_local_clustering",  # wedge pipeline over empty edge set
    "scd2_apply_changes",      # merge path with empty current + delta
    "events_cohort_ltv",       # cohort window over empty cells
    "tokenizer_bpe_apply",     # train+encode over empty vocab and corpus
    "sink_partitioned_roundtrip",  # two-level partitionBy write of zero rows
    "multimodal_dedup_perceptual",  # dHash banding over an empty media set
    "sim_topk_ivfpq",          # empty probe list, empty codes, empty shortlist
    "dedup_verbatim_spans",    # anchor posting lists over an empty corpus
    "dedup_span_removal",      # interval mask over an empty run table
    "graph_label_propagation", # vote rounds over an empty edge list
    "sink_training_shards",    # partitioned shard write of zero docs
    "join_fuzzy_names",        # blocked fuzzy join over an empty dictionary
    "dedup_semdedup",          # cell-blocked pairs over empty embeddings
    "multimodal_dedup_audio",  # landmark inverted index over empty media
    "text_bm25_topk",          # per-term postings over an empty corpus
    "graph_kcore",             # peeling loop over an empty edge list
    "graph_bfs_distances",     # frontier loop over an empty edge list
    "events_changepoint",      # CUSUM argmax over an empty daily spine
    "sample_coreset_kcenter",  # Gonzalez loop over an empty point set
    "streaming_changepoint",   # complete-mode spine over an empty stream
    "streaming_forecast",      # OLS spine over an empty stream
    "anonymize_l_diversity",   # QI-group join over an empty population
    "sim_topk_batch",          # batch scoring over empty corpus + queries
    "text_rake_keywords",      # phrase windows over an empty token stream
    "sample_hard_negatives",   # cross-label scoring over empty anchors
    "multimodal_dedup_audio_incr",  # delta probe over empty posting lists
    "agg_log_histogram",       # bucket counters over an empty stream
    "agg_decile_lift",         # ntile + lift over an empty user spine
    "events_path_trigrams",    # lag windows over empty timelines
    "anonymize_t_closeness",   # TVD verdicts over an empty population
    "events_growth_accounting",  # flow ledger over empty user-weeks
    "multimodal_audio_trim",   # frame trim over an empty media set
    "pipeline_privacy_audit",  # triad verdicts over an empty population
    "sim_mmr_rerank",          # greedy rerank over an empty shortlist
    "events_forecast_linear",  # OLS moments over an empty daily spine
    "anonymize_dp_counts",     # DP noise projection over empty QI groups
    "text_readability",        # per-row regexp counters, no rows
    "sample_curriculum_mix",   # hash predicate over an empty graded corpus
    "report_ivf_balance",      # left join from empty centroid table
    "sim_knn_graph",           # posting-list knn over empty buckets
    "multimodal_scene_cut",    # frame windows over an empty media set
    "agg_calibration",         # ntile reliability bins over an empty spine
    "search_hybrid_rrf",       # two empty pools full-outer fused
    "multimodal_keyframes",    # scene argmax over an empty frame spine
    "dedup_url",               # canonical-key window over no rows
    "sim_topk_filtered",       # broadcast-filtered topk over no rows
    "report_lsh_bucket_pressure",  # band aggregate over no buckets
    "sample_class_balance",    # data-derived quota over no classes
    "embedding_knn_classify",  # majority vote over an empty knn graph
    "mine_bitext_mutual",      # mutual argmax over empty LSH buckets
    "feature_target_encode",   # LOO encode over an empty fact table
    "curation_contamination_semantic",  # broadcast bench probe, no corpus
    "events_sequence_negation",  # island windows over empty timelines
    "agg_gini_impurity",       # stacked aggregates over no groups
    "feature_hashing_trick",   # bucket counts over an empty corpus
    "sink_bloom_pruned_scan",  # bloom index + probe over empty buckets
    "report_source_overlap",   # pair matrix over an empty shingle set
    "anonymize_pseudonymize",  # keyed-token join over empty tables
    "sample_epoch_repeat",     # tier CASE + sequence generator, no rows
    "events_ohlc_bars",        # rank windows + bar aggregate over no bars
    "streaming_ohlc",          # complete-mode bar stream over an empty source
    "sim_topk_lsh_multiprobe", # XOR-widened probe keys over empty buckets
    "anonymize_generalize",    # ladder release over an empty population
    "pack_concat_chunks",      # two-phase global cumsum over no docs
    "graph_random_walks",      # seed frontier over an empty edge list
    "events_trending_topk",    # per-hour WindowGroupLimit over no events
    "agg_regression_multi",    # groupBy normal equations: zero groups
    "quality_ccnet_buckets",   # cut selection + literal terciles, no docs
    "streaming_trending_topk", # complete-mode count spine over an empty stream
    "join_set_similarity",     # prefix-filtered join over an empty corpus
    "graph_ppr",               # seeded mass rounds over an empty edge list
    "graph_scc",               # FW-BW peel loop over an empty edge list
    "sample_pps",              # cumulative-line selection over no orders
    "anonymize_dp_mean",       # clamped DP aggregate over no groups
    "text_collocations",       # PMI ranking over an empty bigram table
    "events_cuped",            # arm moments over an empty user spine
    "graph_hits",              # alternating sums over an empty edge list
    "sample_stratified_neyman",  # allocation over an empty stratum table
    "text_textrank_keywords",  # pagerank rounds over an empty word graph
    "scan_change_data_feed",   # full-outer diff of two empty versions
    "events_diff_in_diff",     # guarded cell moments over no users
    "join_set_similarity_verify",  # LSH-candidate verify, empty corpus
    "streaming_trending_topk_update",  # update-mode upsert, empty stream
    "feature_quantile_bin",    # empty cut list -> empty bin rollup
    "sample_kfold",            # fold projection over empty labels
    "events_event_study",      # week cells + baseline over no events
    # (report_curation_funnel emits its 5 stage rows with zero counts on
    # an empty corpus — asserted by its dedicated test below;
    # sink_merge_upsert early-returns its all-zero audit row — likewise;
    # agg_bootstrap_ci / error_bootstrap_ci are global aggregates: one
    # row with null replicate means on empty input — asserted by their
    # dedicated empty + degenerate-tiny-input tests below)
    # (agg_cohens_kappa is a global aggregate: one row with null
    # po/pe/kappa on empty input — the n = 0 ANSI guard is asserted by
    # its dedicated empty-table test below)
    # (agg_mannwhitney / agg_ks_test / agg_chi_square / agg_ab_power /
    # agg_auc are global aggregates: one row on
    # empty input with null stats — covered by their witness tests)
    # (agg_mcnemar / agg_cramers_v / agg_kendall_tau / agg_spearman_rho
    # are global aggregates: one guarded row on empty input — asserted
    # by test_rank_association_null_stats_on_empty_input below)
    # (pipeline_cost_estimate emits its one model row on an empty
    # manifest — n_manifest 0, canary_ok false on min_records — and the
    # crash path it guards, the empty-canary ANSI divide in
    # canary_gate, is covered by the r8 host-side rate fix)
    # (sink_snapshot_expire emits one row per version even when all
    # snapshots are empty — covered by the version-count test below)
    # (embedding_matryoshka_eval emits one summary row PER PREFIX WIDTH
    # on empty input — n_overlap 0, top1_kept false — covered below)
    # (kmeans_ivf_train excluded: global-aggregate queries emit one
    # summary row on empty input by SQL semantics — covered below;
    # recall_* gates likewise emit one vacuously-true row)
]


def test_curation_funnel_all_zero_on_empty_input(spark, empty_sf):
    rows = all_queries()["report_curation_funnel"](spark, empty_sf).collect()
    assert [r["stage"] for r in rows] == [0, 1, 2, 3, 4]
    assert all(r["n_in"] == 0 and r["n_out"] == 0 and r["n_dropped"] == 0 for r in rows)


def test_merge_upsert_zero_audit_row_on_empty_input(spark, empty_sf):
    rows = all_queries()["sink_merge_upsert"](spark, empty_sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["rows_before"] == r["rows_after"] == 0
    assert r["untouched_intact"] and r["merge_ok"]


def test_expectations_all_pass_on_empty_input(spark, empty_sf):
    # global-aggregate semantics: 7 constraint rows, all vacuously ok
    rows = all_queries()["table_expectations"](spark, empty_sf).collect()
    assert len(rows) == 7
    assert all(r["n_checked"] == 0 and r["n_violations"] == 0 and r["ok"] for r in rows)


def test_ann_index_upsert_vacuous_on_empty_input(spark, empty_sf):
    rows = all_queries()["sink_ann_index_upsert"](spark, empty_sf).collect()
    assert len(rows) == 1
    assert rows[0]["n_codes_total"] == 0 and rows[0]["serve_parity_ok"] is True


def test_ann_index_roundtrip_vacuous_parity_on_empty_input(spark, empty_sf):
    # global-aggregate semantics: zero served rows -> parity vacuously true
    rows = all_queries()["sink_ann_index_roundtrip"](spark, empty_sf).collect()
    assert len(rows) == 1
    assert rows[0]["n_results"] == 0 and rows[0]["parity_ok"] is True


def test_versioned_snapshots_summary_rows_on_empty_input(spark, empty_sf):
    # global-aggregate semantics: one summary row PER VERSION even when
    # both published snapshots are empty
    rows = all_queries()["sink_versioned_snapshots"](spark, empty_sf).collect()
    assert [r["version"] for r in rows] == [1, 2]
    assert all(r["n_rows"] == 0 for r in rows)


def test_vacuum_orphans_audit_row_on_empty_input(spark, empty_sf):
    r = all_queries()["table_vacuum_orphans"](spark, empty_sf).collect()[0]
    assert r["n_orphans_deleted"] == 1 and r["table_intact"] is True
    assert r["rows_dir_before"] == 0 and r["rows_dir_after"] == 0


def test_matryoshka_summary_rows_on_empty_input(spark, empty_sf):
    rows = all_queries()["embedding_matryoshka_eval"](spark, empty_sf).collect()
    assert [r["dims"] for r in rows] == [8, 16, 32]
    assert all(r["n_overlap"] == 0 and r["top1_kept"] is False for r in rows)


def test_kmeans_summary_row_on_empty_input(spark, empty_sf):
    rows = all_queries()["kmeans_ivf_train"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["n_assigned"] == 0


def test_pq_train_summary_row_on_empty_input(spark, empty_sf):
    rows = all_queries()["embedding_pq_train"](spark, empty_sf).collect()
    assert [tuple(r) for r in rows] == [(4, 8, 0, 0, None)]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for tab in TABLES:
        t(spark, SF_SMALL, tab).limit(0).write.mode("overwrite").parquet(
            str(d / f"{tab}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_runs_on_empty_tables(spark, empty_sf, name):
    out = all_queries()[name](spark, empty_sf)
    assert out.count() == 0
    assert len(out.schema.fields) > 0


def test_snapshot_expire_version_rows_on_empty_input(spark, empty_sf):
    # lifecycle semantics: one row PER VERSION even over empty
    # snapshots; v1 expired, v2/v3 alive and readable
    rows = all_queries()["sink_snapshot_expire"](spark, empty_sf).collect()
    assert [(r["version"], r["expired"], r["readable"]) for r in rows] == [
        (1, True, False), (2, False, True), (3, False, True)
    ]
    assert all(r["n_rows"] == 0 for r in rows if r["readable"])


def test_cohens_kappa_null_stats_on_empty_input(spark, empty_sf):
    # global aggregate: one row, exact zero counts, and NULL po/pe/
    # kappa — the n = 0 CASE must fire BEFORE any division evaluates
    # (ANSI divide-by-zero, the r8 bug class)
    [r] = all_queries()["agg_cohens_kappa"](spark, empty_sf).collect()
    assert (r["n"], r["n11"], r["n00"], r["n1x"], r["nx1"]) == (0, 0, 0, 0, 0)
    assert r["po"] is None and r["pe"] is None and r["kappa"] is None


def test_bootstrap_ci_null_stats_on_empty_input(spark, empty_sf):
    # global aggregate: one row, n = 0, and every mean NULL — the
    # nullif(n, 0) / nullif(sw_b, 0) guards must fire instead of the
    # ANSI divide-by-zero (the bug class the r10 advisor flagged)
    [r] = all_queries()["agg_bootstrap_ci"](spark, empty_sf).collect()
    assert r["n"] == 0
    assert r["point_mean"] is None and r["ci_lo"] is None and r["ci_hi"] is None


def test_error_bootstrap_ci_null_widths_on_empty_input(spark, empty_sf):
    # n2 = 0 zeroes the theory-width divisor; the gate must come back
    # NULL (unknown), not crash
    [r] = all_queries()["error_bootstrap_ci"](spark, empty_sf).collect()
    assert r["n"] == 0
    assert r["width_theory"] is None and r["width_ratio"] is None
    assert r["width_ok"] is None


# Degenerate-but-non-empty inputs: the exact fixtures that zero the
# denominators the nullif guards protect. One purchase event makes a
# zero-total-weight bootstrap replicate near-certain (P = 1/e each) and
# puts n2 = 1 in the theory-width divisor; a constant-discount lineitem
# group cancels the 3x3 normal-equation determinant EXACTLY in
# integer-derived doubles. Each query must both run (no ANSI
# divide-by-zero) and still match its DuckDB oracle cell-for-cell on
# the same fixture — NULL placement included.
DEGENERATE_PARITY = [
    "agg_bootstrap_ci", "error_bootstrap_ci", "agg_regression_multi",
    # round-12 stats kit: the 7-row lineitem fixture exercises the tie
    # terms (repeated quantities) and the empty documents/orders
    # tables exercise every nullif guard — each must match its oracle
    # NULL-for-NULL on the same fixture
    "agg_kendall_tau", "agg_spearman_rho", "agg_mcnemar",
    "agg_cramers_v", "agg_anova", "feature_quantile_bin",
    "agg_tost_equivalence",
]


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    import datetime as _dt

    d = tmp_path_factory.mktemp("degenerate_sf")
    for tab in TABLES:
        base = t(spark, SF_SMALL, tab).limit(0)
        if tab == "events":
            rows = [
                (1, _dt.datetime(2024, 1, 1), 7, "purchase", 19.99, "{}"),
                (2, _dt.datetime(2024, 1, 2), 7, "view", None, "{}"),
            ]
            base = base.unionByName(spark.createDataFrame(rows, base.schema))
        elif tab == "lineitem":
            ship = _dt.datetime(2024, 1, 1)
            rows = [
                # group A: constant quantity AND zero discount -> rank-1
                # design matrix, determinant exactly 0 -> NULL betas
                (1, 1, 1, 1, 5.0, 100.0, 0.0, 0.0, "A", "O", ship),
                (1, 2, 2, 2, 5.0, 200.0, 0.0, 0.0, "A", "O", ship),
                # group B: single row -> singular normal equations
                (2, 3, 3, 1, 7.0, 150.0, 0.05, 0.0, "B", "F", ship),
                # group C: well-conditioned -> real betas, must still be
                # bitwise-identical across engines
                (3, 4, 4, 1, 1.0, 10.0, 0.00, 0.0, "C", "O", ship),
                (3, 5, 5, 2, 2.0, 25.0, 0.10, 0.0, "C", "O", ship),
                (3, 6, 6, 3, 4.0, 60.0, 0.05, 0.0, "C", "O", ship),
                (3, 7, 7, 4, 8.0, 90.0, 0.02, 0.0, "C", "O", ship),
            ]
            base = base.unionByName(spark.createDataFrame(rows, base.schema))
        base.write.mode("overwrite").parquet(str(d / f"{tab}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", DEGENERATE_PARITY)
def test_degenerate_tiny_input_matches_oracle(spark, degenerate_sf, name):
    from parquet_processor_spark.registry import all_oracles

    sdf = all_queries()[name](spark, degenerate_sf)
    con = duckdb_views(degenerate_sf)
    rel = con.sql(all_oracles()[name])
    diffs = row_diffs([tuple(r) for r in sdf.collect()], sdf.columns, rel.fetchall(), rel.columns)
    assert not diffs, "; ".join(diffs)


def test_degenerate_regression_nulls_where_singular(spark, degenerate_sf):
    rows = {
        r["l_returnflag"]: r
        for r in all_queries()["agg_regression_multi"](spark, degenerate_sf).collect()
    }
    # only the constant-zero-discount group cancels the determinant
    # EXACTLY in doubles; the 1-row group's det is float-rounding noise
    # (identical noise in both engines — covered by the parity test)
    assert rows["A"]["beta_quantity"] is None and rows["A"]["intercept"] is None
    assert rows["C"]["beta_quantity"] is not None


def test_degenerate_bootstrap_single_purchase(spark, degenerate_sf):
    # one purchase row: every non-NULL replicate mean equals the point
    # mean; zero-weight replicates are NULL and sort last
    [r] = all_queries()["agg_bootstrap_ci"](spark, degenerate_sf).collect()
    assert r["n"] == 1
    assert abs(r["point_mean"] - 19.99) < 1e-9
    assert r["ci_lo"] is None or abs(r["ci_lo"] - 19.99) < 1e-9


def test_time_travel_read_empty_snapshots(spark, empty_sf):
    # lifecycle semantics: three as-of reads resolve through the log
    # even when every snapshot is empty
    rows = all_queries()["sink_time_travel_read"](spark, empty_sf).collect()
    assert [(r["as_of_ts"], r["resolved_version"]) for r in rows] == [
        (150, 1), (250, 2), (990, 3)
    ]
    assert all(r["n_rows"] == 0 for r in rows)


def test_markov_attribution_null_on_empty_input(spark, empty_sf):
    # global aggregate: both channel rows present with NULL effects —
    # the nullif guards fire instead of ANSI divide-by-zero
    rows = all_queries()["events_attribution_markov"](spark, empty_sf).collect()
    assert [r["channel"] for r in rows] == ["click", "view"]
    assert all(r["p_conv"] is None and r["removal_effect"] is None for r in rows)


def test_ab_srm_null_on_empty_input(spark, empty_sf):
    [r] = all_queries()["agg_ab_srm"](spark, empty_sf).collect()
    assert (r["n0"], r["n1"]) == (0, 0)
    assert r["chi2"] is None and r["srm_detected"] is None


def test_merge_on_read_dv_zero_audit_on_empty_input(spark, empty_sf):
    [r] = all_queries()["sink_merge_on_read_dv"](spark, empty_sf).collect()
    assert r["rows_before"] == 0 and r["n_deleted"] == 0 and r["rows_read"] == 0
    assert r["base_files_untouched"] and r["compaction_ok"]


def test_datasheet_metrics_on_empty_corpus(spark, empty_sf):
    rows = {r["metric"]: r["value"] for r in
            all_queries()["report_dataset_datasheet"](spark, empty_sf).collect()}
    assert rows["n_docs"] == 0.0
    assert rows["exact_dup_rate"] is None and rows["mean_doc_tokens"] is None
    assert not any(k.startswith("lang_share:") for k in rows)


def test_rank_association_null_stats_on_empty_input(spark, empty_sf):
    # The round-12 stats quartet are global aggregates: each must emit
    # exactly one guarded row on an empty corpus (no ANSI
    # divide-by-zero from the degenerate denominators), with the
    # statistic NULL and any verdict column false.
    rows = all_queries()["agg_mcnemar"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["n"] == 0
    assert rows[0]["mcnemar_chi2"] is None and rows[0]["significant_95"] is False
    rows = all_queries()["agg_cramers_v"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["cramers_v2"] is None
    rows = all_queries()["agg_kendall_tau"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["tau_b"] is None
    assert rows[0]["concordant"] == 0 and rows[0]["discordant"] == 0
    rows = all_queries()["agg_spearman_rho"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["rho"] is None
    rows = all_queries()["agg_anova"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["f_stat"] is None
    rows = all_queries()["agg_tost_equivalence"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["equivalent_90"] is False
    rows = all_queries()["eval_retrieval_mrr"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["n_queries"] == 0 and rows[0]["mrr"] is None
    rows = all_queries()["graph_modularity"](spark, empty_sf).collect()
    assert len(rows) == 1 and rows[0]["m_edges"] == 0 and rows[0]["q_modularity"] is None


@pytest.fixture(scope="module")
def one_arm_sf(spark, tmp_path_factory):
    """events restricted to EVEN user_ids: experiment arm 1 has no
    rows at all — the reachable production shape (an unlaunched arm)
    that the r12 judge flagged as a dormant 0-rows-vs-NULL-row
    divergence in the filter+crossJoin Welch operators."""
    d = tmp_path_factory.mktemp("one_arm_sf")
    ev = t(spark, SF_SMALL, "events").where(F.col("user_id") % 2 == 0)
    ev.write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name", ["agg_ab_test", "agg_ab_power", "agg_tost_equivalence"]
)
def test_welch_kit_matches_oracle_with_one_empty_arm(spark, one_arm_sf, name):
    # Spark must emit exactly the oracle's 1 row (populated arm-0
    # moments, NULL arm-1 moments, NULL statistic) — row-for-row,
    # column-for-column
    from parquet_processor_spark.registry import all_oracles

    sdf = all_queries()[name](spark, one_arm_sf)
    [srow] = sdf.collect()
    con = duckdb_views(one_arm_sf, ["events"])
    rel = con.sql(all_oracles()[name])
    assert srow["n_a"] is not None and srow["n_a"] > 0
    assert srow["n_b"] is None
    diffs = row_diffs([tuple(srow)], sdf.columns, rel.fetchall(), rel.columns)
    assert not diffs, f"{name}: " + "; ".join(diffs)


def test_r13_wave_guarded_rows_on_empty_input(spark, empty_sf):
    # The round-13 wave: global aggregates emit exactly one guarded
    # row (statistic NULL, verdicts false) on an empty corpus; the
    # per-group reports emit zero rows without touching a degenerate
    # division.
    [r] = all_queries()["agg_levene"](spark, empty_sf).collect()
    assert r["n"] is None and r["k_groups"] == 0 and r["f_bf"] is None
    [r] = all_queries()["agg_proportions_ztest"](spark, empty_sf).collect()
    assert r["n_a"] is None and r["z_stat"] is None
    [r] = all_queries()["agg_cochran_q"](spark, empty_sf).collect()
    assert r["n_users"] == 0 and r["q_stat"] is None
    assert r["significant_95"] is False
    [r] = all_queries()["graph_degree_assortativity"](spark, empty_sf).collect()
    assert r["n_edges"] == 0 and r["assortativity"] is None
    assert all_queries()["events_autocorrelation"](spark, empty_sf).count() == 0
    assert all_queries()["report_embedding_health"](spark, empty_sf).count() == 0
    assert all_queries()["split_time_embargo"](spark, empty_sf).count() == 0
    assert all_queries()["agg_string_agg"](spark, empty_sf).count() == 0
    assert all_queries()["window_cume_dist"](spark, empty_sf).count() == 0
    assert all_queries()["join_right_outer"](spark, empty_sf).count() == 0


def test_r13_second_wave_guarded_rows_on_empty_input(spark, empty_sf):
    assert all_queries()["agg_hhi"](spark, empty_sf).count() == 0
    assert all_queries()["feature_time_windows"](spark, empty_sf).count() == 0
    [r] = all_queries()["agg_trimmed_mean"](spark, empty_sf).collect()
    assert r["n_kept"] == 0 and r["trimmed_mean"] is None
    [r] = all_queries()["events_cem_att"](spark, empty_sf).collect()
    assert r["n_bins"] == 0 and r["n_treated_matched"] == 0
    assert r["att_dollars"] is None


def test_date_shift_empty_input(spark, empty_sf):
    assert all_queries()["anonymize_date_shift"](spark, empty_sf).count() == 0


def test_ivf_curve_empty_input(spark, empty_sf):
    rows = all_queries()["report_ivf_recall_curve"](spark, empty_sf).collect()
    assert len(rows) == 5 and all(r["n_brute"] == 0 and r["n_overlap"] == 0 for r in rows)


def test_ivf_operating_point_empty_input(spark, empty_sf):
    # target = least(7, n_brute) = 0 on an empty corpus, so the
    # shallowest arm qualifies — the pick DEGRADES, never errors
    [r] = all_queries()["report_ivf_operating_point"](spark, empty_sf).collect()
    assert r["probe_num"] == 1 and r["n_brute"] == 0
