"""Physical-plan quality gates (the 100 TB design checks, SURVEY.md §4).

Correctness tests prove the operators compute the right answer; these
prove Catalyst produced the plan we designed for at scale:

- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema carries only what's used),
- small dimension tables broadcast instead of shuffling,
- no Cartesian product sneaks into an equi-join pipeline,
- hot paths run inside WholeStageCodegen.

A plan regression here is a silent 10-100× cost at 100 TB even while
every value stays correct — so it fails CI, not a human eyeball.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.registry import all_queries

from .conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = all_queries()[name](spark, SF_SMALL)
    return spark._jvm.PythonSQLUtils.explainString(  # same call df.explain() makes
        df._jdf.queryExecution(), "formatted"
    )


# --- predicate pushdown -------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["q6_forecast_revenue", "filter_error_rows", "filter_prefix", "project_filter_notnull"],
)
def test_filters_are_pushed_to_scan(spark, name):
    plan = plan_of(spark, name)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, f"{name}: no PushedFilters section in scan:\n{plan}"
    assert any("[]" not in ln for ln in pushed), f"{name}: empty PushedFilters:\n{plan}"


# --- column pruning -----------------------------------------------------


def test_scan_prunes_columns(spark):
    # Q6 touches 4 of lineitem's 16 columns; the scan must not read more.
    plan = plan_of(spark, "q6_forecast_revenue")
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read
    assert "l_comment" not in read and "l_orderkey" not in read, read


# --- join strategy ------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier", "q10_returned_items", "join_broadcast_equi"],
)
def test_dimension_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: expected a broadcast join:\n{plan}"


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q3_shipping_priority", "q18_large_orders", "dedup_exact"],
)
def test_no_cartesian_product(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: Cartesian product in plan:\n{plan}"


# --- codegen ------------------------------------------------------------


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q6_forecast_revenue", "text_stats"])
def test_hot_path_is_codegen(spark, name):
    # AQE finalizes the physical plan only at execution, so run the
    # query, then read the executed plan's codegen star markers.
    df = all_queries()[name](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Operator" in the executed plan
    assert re.search(r"\*\(\d+\)", plan), f"{name}: no codegen span:\n{plan[:2000]}"


# --- aggregation shape --------------------------------------------------


def test_agg_has_partial_phase(spark):
    # groupBy sum/avg must partial-aggregate map-side before the shuffle
    # (HashAggregate appears twice around the Exchange).
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan, plan


# --- scale-pattern plan shapes ------------------------------------------


def test_bucketed_join_has_no_shuffle(spark):
    # The whole point of ops/scale_patterns.join_bucketed: both scans
    # carry the bucket partitioning, so the join plans with zero
    # Exchange nodes (vs the shuffle the plain join needs).
    from parquet_processor_spark.ops.scale_patterns import bucketed_tables

    left, right = bucketed_tables(spark, SF_SMALL)
    # merge hint: at test SF the tables are tiny enough to broadcast,
    # which would bypass the bucket mechanics we're asserting on.
    joined = left.hint("merge").join(right, left.c_custkey == right.o_custkey)
    plan = spark._jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "formatted")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert "SelectedBucketsCount" in plan, plan


def test_salted_join_is_two_phase(spark):
    # The salted rewrite must partial-aggregate on (key, salt) before
    # the merge on key — two distinct aggregate rounds in the plan.
    plan = plan_of(spark, "join_skew_salted")
    assert plan.count("HashAggregate") >= 4, plan  # 2 rounds x partial+final


@pytest.mark.parametrize("name", ["sample_hash", "split_train_test", "sample_weighted_mix"])
def test_hash_sampling_is_shuffle_free(spark, name):
    # The sampling/split design claim (ops/sampling.py): deterministic
    # md5-keyed selection is a pure narrow filter/projection — the plan
    # must contain no Exchange at any scale.
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, f"{name}: sampling plan shuffles:\n{plan}"


@pytest.mark.parametrize("name", ["sample_stratified", "pack_sequences"])
def test_stratified_window_shuffles_once_on_stratum(spark, name):
    # Stratified quota / sequence packing: exactly one hash shuffle on
    # the stratum key — never a global single-partition sort (the plan
    # shape that silently serializes a 100 TB window).
    plan = plan_of(spark, name)
    assert "SinglePartition" not in plan, f"{name}: global window:\n{plan}"
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"{name}: expected one shuffle:\n{plan}"
    assert re.search(r"hashpartitioning\(lang", plan), f"{name}: shuffle not keyed on stratum:\n{plan}"


def test_sessionize_shuffles_once_on_user(spark):
    # Both windows (lag and running sum) must share one user_id hash
    # exchange — and never a global single-partition sort.
    plan = plan_of(spark, "sessionize_events")
    assert "SinglePartition" not in plan, f"global window:\n{plan}"
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"expected one shuffle:\n{plan}"
    assert re.search(r"hashpartitioning\(user_id", plan), f"shuffle not keyed on user_id:\n{plan}"


def _single_partition_sorts(plan: str) -> list[str]:
    """Tree lines where an Exchange SinglePartition feeds a Sort/Window.

    A SinglePartition exchange is fine when it merges a scalar
    aggregate (1 row per partition crosses the wire — e.g. the min/max
    pass of global_row_number); it is the 100x scale-killer only when
    the FULL dataset funnels through it to be sorted. So: collect the
    ids of SinglePartition exchanges, then flag any whose parent in the
    plan tree (nearest preceding line with smaller indent) is a Sort or
    Window node."""
    sp_ids = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Exchange\b.*?Arguments: ([^\n]*)", plan, re.S)
        if "SinglePartition" in m.group(2)
    }
    tree = [ln for ln in plan.splitlines() if re.search(r"\w+ \(\d+\)\s*$", ln)]
    bad = []
    for i, ln in enumerate(tree):
        m = re.search(r"(\w+) \((\d+)\)\s*$", ln)
        if m.group(1) != "Exchange" or m.group(2) not in sp_ids:
            continue
        indent = ln.index(m.group(1))
        for parent in reversed(tree[:i]):
            pm = re.search(r"(\w+) \((\d+)\)\s*$", parent)
            if parent.index(pm.group(1)) < indent:
                if pm.group(1) in ("Sort", "Window"):
                    bad.append(ln.strip())
                break
    return bad


@pytest.mark.parametrize("name", ["window_row_number", "window_cume_dist", "limit_offset", "limit_n", "topk_order_limit"])
def test_global_order_ops_have_no_single_partition_sort(spark, name):
    # W1/O1-O3 (VERDICT r2 #3): a global row index or ordered slice must
    # never funnel the dataset through one task to sort it. The
    # two-phase global_row_number ranks inside key-range buckets (hash
    # exchange) and the offset/limit family compiles to
    # TakeOrderedAndProject (per-partition top-N + merge).
    plan = plan_of(spark, name)
    bad = _single_partition_sorts(plan)
    assert not bad, f"{name}: single-partition sort/window: {bad}\n{plan}"
    if name in ("window_row_number", "window_cume_dist"):
        assert re.search(r"hashpartitioning\(_bkt", plan), f"{name}: rank not bucket-keyed:\n{plan}"
    else:
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject:\n{plan}"


def test_cap_per_source_uses_window_group_limit(spark):
    # curation_cap_per_source's scale claim: the rank<=K filter rewrites
    # to WindowGroupLimit with a partial (pre-shuffle) phase, so each
    # map task ships at most K rows per source instead of the whole
    # domain. Also: the contamination join must broadcast the benchmark
    # side, never shuffle the train side's exploded shingles.
    plan = plan_of(spark, "curation_cap_per_source")
    assert plan.count("WindowGroupLimit") >= 2, f"no partial+final WindowGroupLimit:\n{plan}"
    plan = plan_of(spark, "curation_contamination")
    assert "BroadcastHashJoin" in plan, f"benchmark side not broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, f"train side shuffled for the join:\n{plan}"


def test_contamination_join_has_hot_shingle_cap(spark):
    # The df>cap guard (drop_hot_shingles) on the two-table
    # contamination join: a document-frequency aggregate feeding a
    # broadcast anti join — without it one stop-phrase shingle shared
    # by millions of docs makes a join block quadratic at 100 TB. The
    # exploded rows themselves must not shuffle for the cap
    # (broadcast, not SMJ anti).
    from parquet_processor_spark.ops.dedup import _SHINGLE_DF_CAP

    plan = plan_of(spark, "curation_contamination")
    assert "LeftAnti" in plan, f"no anti join for the hot-shingle cap:\n{plan}"
    assert f"> {_SHINGLE_DF_CAP}" in plan, f"no df>cap filter:\n{plan}"
    assert re.search(r"BroadcastHashJoin LeftAnti", plan), f"no broadcast anti:\n{plan}"
    assert not re.search(r"SortMergeJoin LeftAnti", plan), f"cap anti join shuffles:\n{plan}"


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment"])
def test_shingle_pairs_are_capped_block_expansion(spark, name):
    # The Jaccard/containment pair source (shingle_pair_counts): ONE
    # group-by-shingle pass whose posting lists carry the hot-shingle
    # df cap as a size(docs) <= cap filter — no self-join of the
    # exploded stream (which would re-read the source per side and
    # shuffle it twice) and no anti-join statistic pass.
    from parquet_processor_spark.ops.dedup import _SHINGLE_DF_CAP

    plan = plan_of(spark, name)
    assert "collect_list" in plan, f"{name}: no posting-list aggregate:\n{plan}"
    assert re.search(rf"size\(docs[^)]*\) <= {_SHINGLE_DF_CAP}", plan), (
        f"{name}: no df<=cap filter on posting lists:\n{plan}"
    )
    # the only joins left are the per-doc size lookups on doc ids
    assert not re.search(r"Join \w+, \(+shingle", plan), (
        f"{name}: shingle self-join still present:\n{plan}"
    )


def test_corpus_scorers_broadcast_their_small_sides(spark):
    # quality_tfidf's N-docs scalar is a 1-row broadcast (never a
    # driver-side collect), and vocab_coverage's top-K vocabulary must
    # broadcast to the membership join so the corpus token stream is
    # scored map-side; the global top-K itself must be TakeOrdered
    # (per-partition top-K + K-row merge), never a full sort.
    plan = plan_of(spark, "quality_tfidf")
    assert "BroadcastNestedLoopJoin" in plan, f"n_docs not broadcast:\n{plan}"
    assert "CartesianProduct" not in plan, plan
    plan = plan_of(spark, "vocab_coverage")
    assert re.search(r"BroadcastHashJoin .*LeftOuter", plan), f"vocab not broadcast:\n{plan}"
    assert "TakeOrderedAndProject" in plan, f"vocab top-K is a full sort:\n{plan}"
    bad = _single_partition_sorts(plan)
    assert not bad, f"vocab_coverage: single-partition sort: {bad}\n{plan}"


def test_table_checksum_aggregates_map_side(spark):
    # The integrity manifest must partial-aggregate before its one
    # shuffle on the bucket key (string min/max plans as SortAggregate,
    # not HashAggregate), and never sort globally.
    plan = plan_of(spark, "table_checksum")
    assert "partial_" in plan, plan
    assert plan.count("Aggregate") >= 2, plan
    bad = _single_partition_sorts(plan)
    assert not bad, f"table_checksum: single-partition sort: {bad}\n{plan}"


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    # K4 layout: write partitioned by a column, read with a filter on it
    # — the scan must show a PartitionFilters entry and list fewer
    # partitions than exist (partition pruning, not a full-dir scan).
    from parquet_processor_spark.tables import t

    out = str(tmp_path / "bylflag")
    t(spark, SF_SMALL, "lineitem").write.partitionBy("l_returnflag").mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out).where(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("l_returnflag" in ln for ln in pf), plan


def test_sink_partitioned_roundtrip_prunes_both_levels(spark):
    # The K4 oracle query's read-back scan must prune on BOTH
    # partition levels ({segment}/{batch}) — PartitionFilters naming
    # each column, no full-layout scan.
    plan = plan_of(spark, "sink_partitioned_roundtrip")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any(
        "o_orderpriority" in ln and "o_batch" in ln for ln in pf
    ), plan


def test_dynamic_partition_pruning(spark, tmp_path):
    # Join on a partition column with a selective filter on the other
    # side: the fact scan must carry a dynamicpruning PartitionFilter
    # (partitions chosen at runtime from the dim side's matches).
    from parquet_processor_spark.tables import t

    out = str(tmp_path / "dpp_fact")
    t(spark, SF_SMALL, "lineitem").write.partitionBy("l_returnflag").mode(
        "overwrite"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # the dim filter is on an aggregate, so the surviving flags aren't
    # statically known — pruning must happen at runtime (DPP), not via
    # constraint propagation of a literal
    dim = (
        t(spark, SF_SMALL, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 2000)
    )
    joined = fact.join(dim, fact.l_returnflag == dim.flag).select("l_orderkey")
    plan = spark._jvm.PythonSQLUtils.explainString(joined._jdf.queryExecution(), "formatted")
    assert "dynamicpruning" in plan.lower(), plan


# --- queries are lazy: no driver-side scalar barriers -------------------


def test_no_driver_actions_under_ops():
    # A .collect()/.count()/.first()/... inside an operator means plan
    # construction materializes data eagerly and splits one query into
    # driver-synchronized jobs. Scalar thresholds must be 1-row
    # broadcast joins instead (the filter_by_quantile pattern). The
    # few deliberate barriers (dedup_near's reused-signature cache,
    # sink round-trips, bucketed-table setup) carry an explicit
    # "eager-by-design" marker comment.
    from pathlib import Path

    import parquet_processor_spark.ops as ops_pkg

    actions = (".collect(", ".toPandas(", ".first()", ".head()", ".take(", ".count()")
    ops_dir = Path(ops_pkg.__file__).parent
    offenders = [
        f"{p.name}:{i + 1}:{line.strip()}"
        for p in sorted(ops_dir.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines())
        if any(a in line for a in actions)
        and "eager-by-design" not in line
        # "# lazy" marks GroupedData.count()-style lazy transforms
        and "# lazy" not in line
        and not line.lstrip().startswith("#")
    ]
    assert not offenders, f"driver-side action in ops/ (use a 1-row broadcast join): {offenders}"


def test_zorder_layout_narrows_both_dimensions(spark, tmp_path):
    # The z-order claim: after Morton-key clustering, EACH file's
    # footer min/max is narrow on BOTH columns, so a 2D box predicate
    # can skip files on either dimension. A single-column sort leaves
    # the secondary column's per-file range at full width (prunes
    # nothing); the z-layout must (a) let the box skip at least one
    # file and (b) beat the linear layout on secondary-column width.
    from pathlib import Path

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.roundtrip import zorder_key
    from parquet_processor_spark.tables import t

    cols = ["l_partkey", "l_suppkey"]
    base = t(spark, SF_SMALL, "lineitem").select(*cols)

    def file_ranges(out: str) -> list[dict]:
        ranges = []
        for p in sorted(Path(out).glob("*.parquet")):
            md = pq.ParquetFile(str(p)).metadata
            lo = {c: min(md.row_group(g).column(i).statistics.min for g in range(md.num_row_groups))
                  for i, c in enumerate(cols)}
            hi = {c: max(md.row_group(g).column(i).statistics.max for g in range(md.num_row_groups))
                  for i, c in enumerate(cols)}
            ranges.append({c: (lo[c], hi[c]) for c in cols})
        return ranges

    z_out = str(tmp_path / "zorder")
    maxes = base.agg(F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s"))
    base.crossJoin(F.broadcast(maxes)).withColumn(
        "_z",
        zorder_key(F.col("l_partkey"), F.col("l_suppkey"), F.col("max_p"), F.col("max_s")),
    ).repartitionByRange(8, "_z").sortWithinPartitions("_z").select(*cols).write.parquet(z_out)
    lin_out = str(tmp_path / "linear")
    base.repartitionByRange(8, "l_partkey").sortWithinPartitions("l_partkey").write.parquet(
        lin_out
    )
    z_ranges, lin_ranges = file_ranges(z_out), file_ranges(lin_out)
    mp, ms = maxes.collect()[0]
    box = {"l_partkey": (0.1 * mp, 0.3 * mp), "l_suppkey": (0.2 * ms, 0.5 * ms)}

    def hits(ranges):
        return sum(
            all(r[c][0] <= box[c][1] and r[c][1] >= box[c][0] for c in cols) for r in ranges
        )

    assert hits(z_ranges) < len(z_ranges), "z-order box filter skipped no files"
    # secondary-dimension clustering: mean per-file suppkey width under
    # z-order must be well below the linear layout's (which is ~global)
    def mean_width(ranges, c):
        return sum(r[c][1] - r[c][0] for r in ranges) / len(ranges)

    assert mean_width(z_ranges, "l_suppkey") < 0.7 * mean_width(lin_ranges, "l_suppkey")


def test_sorted_roundtrip_filter_pushed_to_clustered_scan(spark, sf_dir):
    # The read side of the clustered-layout roundtrip must push the
    # date-range predicate into the parquet scan — that pushdown is what
    # turns the sorted-at-rest layout into row-group/file skipping.
    from parquet_processor_spark.registry import all_queries

    df = all_queries()["sink_sorted_roundtrip"](spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("l_shipdate" in ln for ln in pushed), plan


def test_feature_zscore_broadcasts_stats_not_window(spark):
    # Group stats must come back as a BroadcastHashJoin onto the scan —
    # if this regresses to a window (or a shuffled join), every fact row
    # sorts inside an exchange at 100 TB for a 3-row stats lookup.
    plan = plan_of(spark, "feature_zscore")
    assert "BroadcastHashJoin" in plan, f"stats side not broadcast:\n{plan}"
    assert "Window" not in plan, f"z-score regressed to a window:\n{plan}"
    bad = _single_partition_sorts(plan)
    assert not bad, f"feature_zscore: single-partition sort: {bad}\n{plan}"


def test_profile_columns_two_hash_passes(spark):
    # The 4-column profiler runs exactly TWO column-pruned aggregate
    # passes (multi-distinct via shared Expand + plain min/max/null),
    # never one per profiled column — and never the SortAggregate-over-
    # Expand plan that a combined aggregate produces (a full sort of
    # 5x the rows for a 1-row result).
    plan = plan_of(spark, "profile_columns")
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans == 2, f"profiler should read lineitem twice ({scans} scans):\n{plan}"
    assert "Expand" in plan, f"multi-distinct lost its shared Expand:\n{plan}"
    # the pathological shape sorts the 5x Expand output (Sort directly
    # over Expand); a keyless SortAggregate on the plain pass is fine —
    # min/max(string) folds sequentially, nothing is sorted.
    assert not re.search(r"Sort \(\d+\)\s*\n\s*\+- Expand", plan), (
        f"profiler sorts the Expand output again:\n{plan}"
    )


def test_bloom_probe_is_map_side(spark):
    # The bloom bitmap and the build keys must both broadcast; the fact
    # scan must never shuffle before the final 1-row aggregate (the
    # whole point of the runtime-filter pattern).
    plan = plan_of(spark, "join_bloom_filtered")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert re.search(r"BroadcastHashJoin .*LeftOuter", plan), f"build keys not broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, f"fact side shuffled for the probe:\n{plan}"


def test_scd2_windows_share_one_exchange(spark):
    # Both window passes partition by user_id — the plan must contain
    # exactly one hash exchange on user_id feeding them.
    plan = plan_of(spark, "scd2_intervals")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, f"expected 1 exchange (user_id), saw {n_exchanges}:\n{plan}"
    assert "hashpartitioning(user_id" in plan, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2, plan


def test_interval_overlap_is_equi_join(spark):
    # The overlap join must key on user_id (sort-merge or broadcast hash)
    # with the interval predicate as a residual — never a Cartesian or
    # pure range join.
    plan = plan_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_range_join_is_equi_not_nested_loop(spark):
    # The keyless range join rewrite must plan as an equi join on the
    # time cell (sort-merge or shuffled hash) — the whole point is to
    # never fall back to BroadcastNestedLoopJoin/Cartesian, which is
    # what the naive non-equi formulation plans.
    plan = plan_of(spark, "join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), f"no equi join on the cell key:\n{plan}"


def test_copurchase_pairs_expand_inside_baskets(spark):
    # Pair expansion must come from generators over the collapsed
    # basket rows (two Generate nodes), never a lineitem self-join.
    plan = plan_of(spark, "agg_copurchase_pairs")
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 2, plan
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans == 1, f"basket rewrite re-scans lineitem ({scans} scans):\n{plan}"
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_scd2_pointintime_reuses_one_user_exchange(spark):
    # The point-in-time lookup must ride the SCD build's user_id
    # partitioning: one user_id hash exchange total (facts+versions
    # tag-union), and never a BETWEEN range join over versions.
    plan = plan_of(spark, "join_scd2_pointintime")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 2, f"expected <=2 exchanges (union sides), saw {n_exchanges}:\n{plan}"
    assert "hashpartitioning(user_id" in plan, plan


def test_open_over_time_windows_collapsed_days_only(spark):
    # The difference-array rewrite: the running sum must window the
    # per-day net table (|days| rows), so the Window's input comes from
    # an Aggregate — never a Sort over the interval/fact rows.
    plan = plan_of(spark, "orders_open_over_time")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan
    # intervals contribute exactly 2 delta rows each via the union
    assert "Union" in plan, plan


def test_abc_has_no_single_partition_window(spark):
    # r11: the Pareto cumulative share is a two-phase cumsum — the
    # class prefix runs over key-range buckets and the tie rank is
    # partitioned by the exact revenue value, so no empty-partition
    # Sort/Window may appear anywhere in the plan.
    plan = plan_of(spark, "agg_abc_analysis")
    bad = _single_partition_sorts(plan)
    assert not bad, f"agg_abc_analysis: single-partition sort: {bad}\n{plan}"


@pytest.mark.parametrize("name", ["agg_gini", "agg_trimmed_mean"])
def test_global_rank_consumers_are_bucket_partitioned(spark, name):
    # r12 VERDICT weak mark (gini) and its r13 sibling (trimmed
    # mean): any consumer of a full-table rank must ride the W1
    # two-phase global index (hash exchange on _bkt + broadcast
    # offsets) — never a single-partition Window over an entity-mass
    # spine.
    plan = plan_of(spark, name)
    bad = _single_partition_sorts(plan)
    assert not bad, f"{name}: single-partition sort/window: {bad}\n{plan}"
    assert re.search(r"hashpartitioning\(_bkt", plan), f"{name}: rank not bucket-keyed:\n{plan}"


def test_abc_and_gini_window_collapsed_keys_only(spark):
    # Pareto/Gini rank windows must run over the collapsed per-key
    # aggregate, not the fact table: the scan's rows reach a
    # HashAggregate before any Sort/Window node.
    for name in ("agg_abc_analysis", "agg_gini"):
        plan = plan_of(spark, name)
        tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)\s*$", ln)]
        win_i = next(i for i, ln in enumerate(tree) if "Window (" in ln)
        scan_i = next(i for i, ln in enumerate(tree) if "Scan parquet" in ln)
        assert win_i < scan_i, f"{name}: tree order unexpected:\n{plan}"
        between = tree[win_i + 1 : scan_i]
        assert any("Aggregate" in ln for ln in between), (
            f"{name}: fact rows reach the Window before collapsing:\n{plan}"
        )


def test_global_index_offsets_join_not_casewhen(spark, tmp_path):
    # The per-partition offset table must re-enter the index plan as a
    # BROADCAST JOIN on a (_pid, _offset) LocalTableScan — the old shape (one
    # coalesce(when(_pid==k, off), ...) branch per partition) is a
    # pathological Catalyst expression tree at 10^4-10^5 tasks.
    import json

    from parquet_processor_spark.pipeline.run import global_index, read_manifest

    mpath = tmp_path / "manifest.json"
    with open(mpath, "w") as f:
        for i in range(64):
            f.write(json.dumps({"url": f"https://example.org/{i}"}) + "\n")
    urls = read_manifest(spark, str(mpath)).select("url").repartition(8)
    idx = global_index(urls, segment_size=10)
    plan = spark._jvm.PythonSQLUtils.explainString(
        idx._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan, plan
    # built from Arrow, the offset table is a LocalTableScan: no Python
    # RDD for every action over the index to re-run
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    n_when = plan.count("CASE WHEN")
    assert n_when <= 2, f"offset chain leaked back as CaseWhen branches:\n{plan}"
    # and the index itself must still be a dense 0..N-1 sequence
    got = sorted(r["batch_index"] for r in idx.collect())
    assert got == list(range(64))


def test_grouped_heavy_hitters_uses_window_group_limit(spark):
    # The per-source rank<=K filter must plan as WindowGroupLimit
    # (partial + final: each task keeps K rows per source before the
    # source exchange) over the COLLAPSED (source, token) aggregate,
    # and the doc->source map must broadcast.
    plan = plan_of(spark, "agg_heavy_hitters_grouped")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_table_diff_joins_fingerprints_not_text(spark):
    # The snapshot diff must collapse each side to (key, md5) BEFORE
    # the full-outer join: the join's projection carries fingerprints,
    # and the text column never appears above the join.
    plan = plan_of(spark, "table_diff")
    assert re.search(r"SortMergeJoin FullOuter|ShuffledHashJoin FullOuter", plan), plan
    # the join keys section references the fingerprint projections,
    # i.e. md5 is computed below the join, and the join output schema
    # (the detail block) carries fp columns — not the text column
    assert "md5" in plan, plan
    detail = plan[plan.index("SortMergeJoin") :] if "SortMergeJoin" in plan else plan
    join_block = detail.split("\n\n")[0]
    assert "text" not in join_block, f"text column reaches the join:\n{join_block}"


def test_compaction_reduces_file_count(spark, tmp_path):
    # Compaction must actually consolidate: 64 fragment files at the
    # test SF collapse to ceil(rows/target) parquet files (1 here),
    # with every row preserved (the oracle covers content; this covers
    # the layout claim).
    import glob

    from parquet_processor_spark.ops.roundtrip import _COMPACT_TARGET_ROWS, _subset

    frag = tmp_path / "frag"
    out = tmp_path / "out"
    base = _subset(spark, SF_SMALL)
    base.repartition(64).write.mode("overwrite").parquet(str(frag))
    small = spark.read.parquet(str(frag))
    n = small.count()
    n_files = max(1, -(-n // _COMPACT_TARGET_ROWS))
    small.repartition(n_files).write.mode("overwrite").parquet(str(out))
    frag_files = glob.glob(f"{frag}/part-*.parquet")
    out_files = glob.glob(f"{out}/part-*.parquet")
    assert len(frag_files) == 64
    assert len(out_files) == n_files < 64
    assert spark.read.parquet(str(out)).count() == n


def test_ewma_lags_share_one_window_pass(spark):
    # All 16 lag expressions (8 numerator + 8 denominator terms) use
    # the same window spec, so they must collapse into ONE Window node
    # over one sort — the property that makes the truncated EWMA cost
    # a single frame scan instead of 16.
    plan = plan_of(spark, "window_ewma")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan


def test_doc_novelty_has_no_joins_before_aggregates(spark):
    # Novelty is aggregate-only until the final doc-keyed size join:
    # exactly one join (sizes ⋈ novel, both already doc-keyed), and
    # NO generate-side self-join — the shape that keeps it linear in
    # shingle mass with no pair expansion and no hot-shingle cap.
    plan = plan_of(spark, "doc_novelty")
    joins = re.findall(r"^\(\d+\) \w*Join\w*", plan, re.M)
    assert len(joins) == 1, f"expected exactly one size join:\n{plan}"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_downweight_sizes_join_reuses_cluster_exchange(spark):
    # The 1/cluster_size join keys on cluster_id — the same key the
    # size aggregate just exchanged on — so the labels side must not
    # pick up a second exchange for the join beyond the aggregate's
    # own shuffle (modulo the closure's internal exchanges, which are
    # bounded by round count, not by this join).
    plan = plan_of(spark, "sample_downweight_dups")
    assert "CartesianProduct" not in plan, plan
    # the weight division happens post-join in one Project, not a UDF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_attribution_single_user_exchange(spark):
    # Path numbering + path-scoped attribution: two Window passes, but
    # the second partitions on (user_id, path_id) — a superset of the
    # first sort's clustering — so exactly ONE exchange feeds both.
    plan = plan_of(spark, "events_attribution")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2, plan


def test_cdc_compaction_is_map_side_argmax_not_window(spark):
    # Latest-wins compaction must be the map-side-combined argmax, not
    # the oracle's row_number spelling: no Window anywhere, and the
    # exchange must sit BETWEEN a partial and a final aggregate (the
    # log collapses to one candidate row per key per task before it
    # crosses the wire). Struct argmax buffers aren't hash-aggregable,
    # so the pair materializes as SortAggregate — the in-partition
    # sorts are the buffer-format cost, not a global sort.
    plan = plan_of(spark, "cdc_apply_tombstones")
    assert not re.findall(r"^\(\d+\) Window", plan, re.M), plan
    tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)\s*$", ln)]
    agg_i = [i for i, ln in enumerate(tree) if "Aggregate" in ln]
    exch_i = [i for i, ln in enumerate(tree) if "Exchange" in ln]
    assert len(agg_i) == 2 and len(exch_i) == 1, plan
    assert agg_i[0] < exch_i[0] < agg_i[1], f"exchange not between partial/final:\n{plan}"


def test_mad_outliers_all_keyed_on_group(spark):
    # Robust MAD: every join is a user-keyed equi-join (med/mad tables
    # join back onto user-partitioned rows) — no cartesian, no
    # broadcast-nested-loop, no Python.
    plan = plan_of(spark, "feature_mad_outliers")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_triangles_no_cartesian_and_closing_is_semi(spark):
    # The wedge join and the closing check must both plan as hash
    # equi-joins — any BroadcastNestedLoop/Cartesian here means the
    # orientation predicate leaked out of the join keys and the hub
    # bound is gone. (The two 1-row count joins at the top are the
    # usual broadcast scalar joins.)
    plan = plan_of(spark, "graph_triangles")
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, f"closing check should be a semi join:\n{plan}"


def test_null_safe_join_is_hash_not_nested_loop(spark):
    # The N89 claim: <=> keys hash (null -> one bucket), so the plan
    # must be a hash join — BroadcastNestedLoopJoin here means the
    # null-safe predicate fell out of the join keys.
    plan = plan_of(spark, "join_null_safe")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_gopher_rules_is_shuffle_free(spark):
    # N90 claim: the rule filter is a pure narrow projection — no
    # Exchange at any scale.
    plan = plan_of(spark, "quality_gopher_rules")
    assert "Exchange" not in plan, f"rule projection shuffles:\n{plan}"


def test_winsorize_bounds_join_is_broadcast(spark):
    # N81 claim: the per-group [p05, p95] bounds table joins back
    # BROADCAST — the fact side must not pick up a second hash
    # exchange for the clamp.
    plan = plan_of(spark, "feature_winsorize")
    assert "BroadcastHashJoin" in plan, plan
    exchanges = re.findall(r"\(\d+\) Exchange hashpartitioning", plan)
    assert len(exchanges) <= 1, f"clamp join re-shuffles the facts:\n{plan}"


def test_cohort_ltv_window_runs_over_collapsed_cells(spark):
    # N94 claim: the cumulative window ranks the cohort-by-offset cell
    # table, never the fact stream — an Aggregate sits between the
    # scan and the Window in the plan tree.
    plan = plan_of(spark, "events_cohort_ltv")
    tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)\s*$", ln)]
    win_i = next(i for i, ln in enumerate(tree) if "Window (" in ln)
    scan_i = next(i for i, ln in enumerate(tree) if "Scan parquet" in ln)
    assert win_i < scan_i, plan
    assert any("Aggregate" in ln for ln in tree[win_i + 1 : scan_i]), (
        f"fact rows reach the cumulative window uncollapsed:\n{plan}"
    )


def test_scd2_merge_never_sorts_globally(spark):
    # N93 claim: the merge is user-keyed end to end — no
    # SinglePartition exchange ever feeds a Sort/Window.
    plan = plan_of(spark, "scd2_apply_changes")
    assert not _single_partition_sorts(plan), plan


# --- round-7 wave pins ----------------------------------------------------


def _exchange_blocks(plan: str) -> list[str]:
    """Detail blocks of shuffle Exchanges (BroadcastExchange excluded —
    broadcasting a small frame is the design, not a shuffle)."""
    return re.findall(r"\(\d+\) Exchange\b[^\n]*\n(?:[^\n]+\n)*", plan)


def test_bpe_apply_merges_broadcast_no_corpus_hash_shuffle(spark):
    # N95 claim: the encode is chained broadcast 1-row joins beside the
    # ONE documents scan — the corpus never hash-shuffles (the only
    # Exchange is the final orderBy's rangepartitioning).
    plan = plan_of(spark, "tokenizer_bpe_apply")
    assert "hashpartitioning" not in plan, f"corpus hash-shuffled:\n{plan}"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_perceptual_dedup_payload_never_shuffles(spark):
    # N96 claim: only (media_id, band, key) longs shuffle — the payload
    # bytes never leave the scan stage, and no blocking step degenerates
    # to a cartesian pair-join.
    plan = plan_of(spark, "multimodal_dedup_perceptual")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    for b in _exchange_blocks(plan):
        assert not re.search(r"\bcontent\b", b), f"payload crosses a shuffle:\n{b}"


def test_verbatim_spans_windows_keyed_no_cartesian(spark):
    # N98 claim: anchors pair only through the df-capped posting join
    # (hash equi, never cartesian) and the islands window is keyed by
    # (pair, diagonal) — no corpus-wide single-partition sort.
    plan = plan_of(spark, "dedup_verbatim_spans")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert not _single_partition_sorts(plan), plan
    for b in _exchange_blocks(plan):
        assert not re.search(r"\btext\b|\bws\b", b), f"raw text crosses a shuffle:\n{b}"


@pytest.mark.parametrize(
    "name", ["sim_topk_ivf", "sim_topk_ivfpq", "kmeans_ivf_train", "sim_topk_ivf_trained"]
)
def test_ivf_cell_assignment_is_map_side(spark, name):
    # assign_cells claim (r7): cell assignment is a per-row argmax over
    # the broadcast centroid array — the embedding floats never cross a
    # shuffle Exchange anywhere in the IVF/k-means family. (The old
    # crossJoin+groupBy(vec_id, embedding)+max_by shape funneled the
    # full corpus floats through hashpartitioning just to pick a
    # winner — a corpus-wide shuffle of the widest column at 100 TB.)
    plan = plan_of(spark, name)
    for b in _exchange_blocks(plan):
        assert not re.search(r"\bembedding\b|\bc_emb\b", b), (
            f"{name}: embedding floats cross a shuffle:\n{b}"
        )


def test_expectations_branches_read_checkpointed_summaries(spark):
    # N103 claim: the 7 constraint rows read four eagerly-materialized
    # 1-row summaries — without the checkpoints every union branch
    # re-evaluated its source aggregate (20 scans for 7 rows).
    plan = plan_of(spark, "table_expectations")
    assert "Scan parquet" not in plan, f"union branches re-scan the tables:\n{plan}"


def test_label_propagation_rounds_stay_keyed(spark):
    # N102 claim: every vote round is keyed aggregation over (src,
    # label) longs — no cartesian pairing and no single-partition
    # sort/window anywhere in the 3-round unroll.
    plan = plan_of(spark, "graph_label_propagation")
    assert "CartesianProduct" not in plan, plan
    assert not _single_partition_sorts(plan), plan


def test_fuzzy_join_pairs_on_dictionary_blocks(spark):
    # N107 claim: candidates pair through the shared-word equi join —
    # never a nested-loop over the dictionary product.
    plan = plan_of(spark, "join_fuzzy_names")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "levenshtein" in plan, plan  # verify runs inside the block join


def test_training_shards_single_corpus_move(spark):
    # N105 claim: shard assignment is computed beside the scan; the
    # manifest aggregation shuffles 16 keys with map-side combine and
    # never funnels docs through one partition.
    plan = plan_of(spark, "sink_training_shards")
    assert not _single_partition_sorts(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_count_min_sketch_join_broadcasts_and_never_sorts(spark):
    # N109 claim: everything past the vocab collapse is vocab-sized;
    # the sketch-cell join must be a broadcast hash join, never a
    # sort-merge shuffle of the token stream.
    plan = plan_of(spark, "agg_count_min")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_k_anonymity_group_sizes_broadcast_no_window(spark):
    # N110 claim: group sizes come from an aggregate broadcast back
    # onto the scan — not from a window count that would sort the
    # corpus by QI key.
    plan = plan_of(spark, "anonymize_k_anonymity")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_dsir_unigram_tables_share_one_pass_and_broadcast(spark):
    # N111 claim: corpus+target unigram counts fuse into ONE aggregate
    # (count + conditional count), broadcast onto the token stream; no
    # corpus-mass doc_id join against a seed list, no sort-merge join.
    plan = plan_of(spark, "sample_importance_dsir")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the seed flag is computed beside the scan: array_contains in the
    # scan-side project, not a join
    assert "array_contains" in plan, plan


def test_bitmap_rollup_is_one_partial_aggregate(spark):
    # N112 claim: one map-side-combined aggregate; the shuffled state
    # is the 8-byte bitmap (partial bit_or), nothing else.
    plan = plan_of(spark, "agg_bitmap_index")
    assert "partial_bit_or" in plan, plan
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


def test_range_search_pairs_only_band_keys(spark):
    # N113 claim: the self-join never forms — candidates stream from
    # band-key buckets (collect_list + generators), embeddings rejoin
    # by id for surviving pairs only.
    plan = plan_of(spark, "sim_range_search")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    # bucket build groups by band_key; the embedding rejoin hashes ids
    assert "band_key" in plan, plan
    # hot-bucket cap: the > _EMB_BUCKET_CAP keys prune via a BROADCAST
    # anti-join before any posting list is collected
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan


def test_random_projection_is_shuffle_free(spark):
    # N114 claim: pure narrow projection — literal-plane folds beside
    # the scan, zero exchanges.
    plan = plan_of(spark, "embedding_random_projection")
    assert "Exchange" not in plan, plan


def test_clip_pairs_caption_dim_broadcasts(spark):
    # N115 claim: captions collapse to one row per source before the
    # join; the pairing is a broadcast hash join — media payloads
    # never shuffle.
    plan = plan_of(spark, "multimodal_clip_pairs")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_drift_monitor_single_pass_two_windows(spark):
    # N117 claim: both comparison windows' bucket counts come from ONE
    # map-side-combined aggregate (conditional sums share the pass),
    # materialized eagerly into the category-sized checkpoint — the
    # serving plan must contain NO parquet scan at all (the single
    # corpus pass already happened), no sort-merge join, no window.
    plan = plan_of(spark, "monitor_feature_drift")
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_ccnet_buckets_reuse_bigram_plan(spark):
    # N118 claim (r11 form): tercile assignment is a literal 2-cut
    # comparison from exact_ntile_cuts — the final plan reads the
    # checkpointed (doc, score) spine with NO window and NO ntile (the
    # bigram scoring ran once into the checkpoint).
    plan = plan_of(spark, "quality_ccnet_buckets")
    assert "ntile" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_link_prediction_wedges_are_equi_joined(spark):
    # N123 claim: candidate pairs enumerate by an equi self-join of the
    # undirected adjacency on the center key (AQE-splittable skew) —
    # no cartesian pairing, no global sort before the TakeOrdered top-K.
    plan = plan_of(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bot_detection_windows_stay_user_keyed(spark):
    # N124 claim: the lag pass partitions by user — a window sort spec
    # without partitioning would funnel the stream through ONE task.
    plan = plan_of(spark, "events_bot_detection")
    assert not _single_partition_sorts(plan), plan


def test_ab_test_single_fact_pass(spark):
    # N130 claim (r13 shape): both arms' sufficient statistics are
    # conditional aggregates in ONE pass over the fact table — no
    # join of any kind (the old filter+crossJoin-of-a-checkpoint
    # emitted zero rows on an absent arm), no window.
    plan = plan_of(spark, "agg_ab_test")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail of ONE scan
    assert "Join" not in plan and "Window" not in plan, plan


def test_seasonality_window_runs_on_the_daily_spine(spark):
    # N126 claim: the rolling window sorts the ~30-row daily spine —
    # the only SinglePartition exchange must carry the collapsed daily
    # counts, and the corpus is scanned once.
    plan = plan_of(spark, "events_seasonality")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail of ONE scan
    assert "SortMergeJoin" not in plan, plan


def test_audio_dedup_moves_hashes_not_payloads(spark):
    # Landmark claim: the fingerprint runs ONCE (localCheckpointed
    # Arrow kernel — zero Python stages and zero parquet scans left in
    # the final plan) and the inverted-index self-join pairs through
    # the hash equi key, never a nested loop over media.
    plan = plan_of(spark, "multimodal_dedup_audio")
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan and "Scan parquet" not in plan, (
        "fingerprint re-evaluated downstream of the checkpoint:\n" + plan
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_bm25_broadcasts_the_tiny_sides(spark):
    # Impact-postings claim: corpus stats (1 row) and term df (F rows)
    # reach the posting stream via broadcast — the only shuffles are
    # the tf/dl aggregates and the per-term top-K window.
    plan = plan_of(spark, "text_bm25_topk")
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_changepoint_windows_run_on_the_collapsed_spine(spark):
    # Collapsed-keys claim: the event stream reduces map-side to one
    # row per (event_type, day) BEFORE any window — partial_count must
    # appear under the first exchange, and no single-partition sort
    # (windows partition by event_type).
    plan = plan_of(spark, "events_changepoint")
    assert "partial_count" in plan, plan
    assert not _single_partition_sorts(plan), plan


def test_kcenter_rounds_broadcast_single_centers(spark):
    # Gonzalez claim: each round's distance update is a narrow map
    # against a 1-row BROADCAST center — the only nested-loop joins in
    # the plan are those broadcast singletons, and the checkpointed
    # point set never re-scans parquet.
    plan = plan_of(spark, "sample_coreset_kcenter")
    assert "CartesianProduct" not in plan, plan
    assert "Scan parquet" not in plan, (
        "point set re-derived downstream of the checkpoints:\n" + plan
    )


def test_batched_topk_limits_before_the_shuffle(spark):
    # Serving-shape claim: one corpus scan for the whole query batch
    # (query side broadcast), and the per-query rank<=K filter plans as
    # WindowGroupLimit with a partial phase so only K rows per query
    # per partition reach the q_id exchange.
    plan = plan_of(spark, "sim_topk_batch")
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 2, plan  # corpus + query batch, once each
    assert plan.count("WindowGroupLimit") >= 2, f"no partial+final top-K:\n{plan}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_dp_counts_noise_runs_post_aggregation(spark):
    # N156 claim: ONE map-side-combined aggregate collapses the
    # population; the DP noise is a projection on the grouped rows —
    # no join, no window, no second scan.
    plan = plan_of(spark, "anonymize_dp_counts")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail of ONE scan
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_readability_is_scan_side_only(spark):
    # N157 claim: three regexp counters beside the scan — no exchange
    # of any kind, no join, the whole operator is one codegen map.
    plan = plan_of(spark, "text_readability")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "codegen id" in plan, plan


def test_ivf_balance_never_shuffles_the_corpus(spark):
    # N158 claim: assignment is the broadcast-centroid argmax beside
    # the scan; the report aggregates to n_cells rows. The embeddings
    # table must appear in scans, but no sort-merge join (the joins are
    # broadcast) and no window may form.
    plan = plan_of(spark, "report_ivf_balance")
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_forecast_linear_shuffles_only_the_spine(spark):
    # N159 claim: corpus -> (type, day) spine in one map-side-combined
    # aggregate; the rebase window and OLS moments run on the spine.
    # The single corpus scan must partial-aggregate before its
    # exchange, and the only window partitions by event_type (never a
    # SinglePartition sort).
    plan = plan_of(spark, "events_forecast_linear")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail of ONE scan
    assert not _single_partition_sorts(plan), plan
    assert plan.count("HashAggregate") >= 4, plan  # two partial+final pairs


def test_knn_graph_topk_is_window_group_limit(spark):
    # N160 claim: the rank<=K filter plans as WindowGroupLimit (partial
    # top-K per map task before the src shuffle), the band UDF runs as
    # ONE ArrowEvalPython pass, and no cartesian pairing forms.
    plan = plan_of(spark, "sim_knn_graph")
    assert "WindowGroupLimit" in plan, plan
    # r15: the band Arrow pass runs ONCE below bucket_pair_cos's keyed
    # checkpoint (so the final plan scans its RDD — zero Python
    # re-evaluation left), and pair scoring is the bucket-local
    # FlatMapGroupsInPandas kernel — embeddings never join per pair
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "FlatMapGroupsInPandas" in plan, plan  # bucket_pair_cos
    assert "CartesianProduct" not in plan, plan
    # hot-bucket cap pruned via broadcast anti-join (bucket_pair_cos)
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan


def test_scene_cut_windows_share_one_media_exchange(spark):
    # N161 claim: the dHash is ONE Arrow pass and the lag + running-
    # count windows share a single media-keyed hash exchange — never a
    # SinglePartition sort.
    plan = plan_of(spark, "multimodal_scene_cut")
    assert plan.count("ArrowEvalPython") <= 2, plan  # tree + detail of ONE pass
    assert not _single_partition_sorts(plan), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_curriculum_mix_is_shuffle_free(spark):
    # N163 claim: computed-stratum hash sampling is a pure narrow
    # filter/projection — no Exchange at any scale (the sample_hash
    # contract extended to a computed difficulty signal).
    plan = plan_of(spark, "sample_curriculum_mix")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_dedup_near_postings_are_capped_via_window_qualify(spark):
    # The minhash band posting lists follow the hot-bucket discipline
    # as ONE exchange: the window count hash-partitions on the band
    # key, the cap filter runs before any posting list is collected,
    # and the collect_list aggregate REUSES the window's partitioning
    # (HashAggregate with no second Exchange between Window and the
    # final aggregate — the r10 rewrite that brought dedup_near back
    # under baseline). No cartesian anywhere.
    plan = plan_of(spark, "dedup_near")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # tree prints root-first: the collect_list ObjectHashAggregate
    # appears ABOVE the Window it feeds from; the slice between them
    # must not contain an Exchange (partitioning reused end to end)
    seg = plan[plan.index("ObjectHashAggregate") : plan.index("Window")]
    assert "Exchange" not in seg, plan


def test_sim_topk_filtered_is_broadcast_prefilter_takeordered(spark):
    # N175 claim: the metadata predicate joins via broadcast BEFORE any
    # scoring, and top-k plans as TakeOrderedAndProject — no global
    # sort, no cartesian.
    plan = plan_of(spark, "sim_topk_filtered")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hybrid_rrf_fuses_pools_without_cartesian(spark):
    # N170 claim: two collapsed score spines, 50-row pool fusion — the
    # only nested-loop is the 1-row broadcast query vector.
    plan = plan_of(spark, "search_hybrid_rrf")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_knn_classify_vote_argmax_no_cartesian(spark):
    # N179 claim: the vote rides the capped knn-graph plan (anti-join
    # cap present) and adds only keyed aggregates — never a cartesian.
    plan = plan_of(spark, "embedding_knn_classify")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan, plan


def test_bitext_mutual_capped_window_no_cartesian(spark):
    # N180 claim: candidacy never leaves LSH buckets — the band UDF is
    # ONE ArrowEvalPython pass, the hot-bucket cap is the one-exchange
    # window shape (no anti-join, no second exchange before the
    # posting-list aggregate), and no cartesian forms anywhere (the
    # cross-lang pairing streams out of posting-list generators).
    plan = plan_of(spark, "mine_bitext_mutual")
    # r15: the band Arrow pass runs ONCE below bucket_pair_cos's keyed
    # checkpoint (so the final plan scans its RDD — zero Python
    # re-evaluation left), and pair scoring is the bucket-local
    # FlatMapGroupsInPandas kernel — embeddings never join per pair
    assert plan.count("ArrowEvalPython") == 0, plan
    assert "FlatMapGroupsInPandas" in plan, plan  # bucket_pair_cos
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_target_encode_is_broadcast_not_window(spark):
    # N181 claim: the per-category stats broadcast back onto the scan
    # (the feature_zscore pattern) — scoring must be a broadcast hash
    # join plus map-side arithmetic, never a window sort over the fact
    # table or a sort-merge join.
    plan = plan_of(spark, "feature_target_encode")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_semantic_contamination_broadcasts_benchmark(spark):
    # N183 claim: the benchmark side broadcasts (BroadcastNestedLoopJoin
    # over the tiny bench set is the plan's ONLY pairing operator — no
    # CartesianProduct, which would mean a partitioned nested loop of
    # corpus x corpus) and the per-doc rollup is a keyed aggregate.
    plan = plan_of(spark, "curation_contamination_semantic")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_sequence_negation_one_keyed_exchange_no_cartesian(spark):
    # N184 claim: the negation is a running count inside islands —
    # never a range join back to the error stream, never a
    # single-partition sort. Catalyst even reuses the user_id hash
    # exchange for the (user_id, island) window (a user_id clustering
    # satisfies the finer key), so the WHOLE pattern is ONE exchange
    # plus two sorts.
    plan = plan_of(spark, "events_sequence_negation")
    assert "CartesianProduct" not in plan and "Join" not in plan, plan
    assert not _single_partition_sorts(plan), plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan
    assert plan.count("Window") >= 2, plan


def test_gini_impurity_is_two_stacked_aggregates(spark):
    # N185 claim: corpus collapses to (source, lang) pairs first; no
    # window, no join — two partial+final aggregate rounds.
    plan = plan_of(spark, "agg_gini_impurity")
    assert "Window" not in plan and "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_feature_hashing_is_one_keyed_aggregate(spark):
    # N186 claim: no vocabulary table exists — no join anywhere; one
    # map-side-combined aggregate keyed on (doc_id, bucket).
    plan = plan_of(spark, "feature_hashing_trick")
    assert "Join" not in plan, plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_bloom_pruned_scan_reads_only_probed_partitions(spark):
    # N187 claim: the point-lookup data scan carries the probed bucket
    # list as a PARTITION filter (directories skipped, not rows).
    plan = plan_of(spark, "sink_bloom_pruned_scan")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln and "[]" not in ln for ln in pf), plan


# --- round-10 second-wave operators -------------------------------------


def test_epoch_repeat_is_shuffle_free(spark):
    # N191 claim: scan -> CASE -> generate, no exchange anywhere (the
    # SCALE.md soak measures 0 shuffle bytes at every tier; this pins
    # the plan so a regression can't reintroduce one silently).
    plan = plan_of(spark, "sample_epoch_repeat")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_ohlc_bars_single_exchange_serves_windows_and_agg(spark):
    # N194 claim: ONE hash exchange on (event_type, bar) feeds both
    # rank windows and the final aggregate (AQE adds the 1-row result
    # stage exchange only if the agg were global — it is keyed, so the
    # keyed exchange must be the only one).
    import re

    plan = plan_of(spark, "events_ohlc_bars")
    # formatted explain lists each node once in the tree and once as a
    # "(n) Op" detail header — count the detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_bootstrap_ci_is_one_partial_agg_pass(spark):
    # N192 claim: one scan, one 1-row aggregate merge — no window, no
    # join, no generator; the only exchange carries the partial-agg row.
    import re

    plan = plan_of(spark, "agg_bootstrap_ci")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    for op in ("Window", "Join", "Generate"):
        assert op not in plan, plan


def test_regression_multi_moments_only_exchange(spark):
    # N195 claim: the only shuffle is the per-group moment row merge
    # (nine decimal sums); no window, no join.
    import re

    plan = plan_of(spark, "agg_regression_multi")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    for op in ("Window", "Join"):
        assert op not in plan, plan


def test_curation_funnel_one_window_shuffle(spark):
    # N190 claim: the dedup flag's md5(text) window is the ONLY keyed
    # shuffle; the five counts collapse in a global aggregate (second
    # exchange is that 1-row merge) and the stage table is a
    # constant-size explode of the single row.
    import re

    plan = plan_of(spark, "report_curation_funnel")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "Join" not in plan, plan


def test_trending_topk_uses_window_group_limit(spark):
    # N-trending claim: rank<=k right above row_number triggers the
    # WindowGroupLimit rewrite (per-task partial top-k pre-shuffle).
    plan = plan_of(spark, "events_trending_topk")
    assert "WindowGroupLimit" in plan, plan


def test_eval_ntile_family_has_no_entity_spine_window(spark):
    # The r10 verdict's last scale-killer class: ntile/rank windows
    # with an empty partition spec funneling an ENTITY spine (users,
    # docs) through one task. agg_calibration / agg_decile_lift /
    # quality_ccnet_buckets now assign bins via literal cuts from
    # exact_ntile_cuts (ops/ranked_bins.py), so their FINAL plans must
    # contain no Window at all — and no SinglePartition exchange
    # feeding a Sort.
    for name in ("agg_calibration", "agg_decile_lift", "quality_ccnet_buckets",
                 "agg_rfm_scores"):
        plan = plan_of(spark, name)
        assert not re.findall(r"^\(\d+\) Window", plan, re.M), (
            f"{name}: entity-spine Window survived the cut rewrite:\n{plan}"
        )
        bad = _single_partition_sorts(plan)
        assert not bad, f"{name}: single-partition sort: {bad}\n{plan}"


def test_auc_windows_collapsed_score_domain_only(spark):
    # agg_auc's one window is a running count over the collapsed SCORE
    # DOMAIN (distinct view-count values): the user-spine aggregate
    # AND the per-score aggregate must both sit between the Window and
    # the scan, so no per-user rank is ever assigned.
    plan = plan_of(spark, "agg_auc")
    tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)\s*$", ln)]
    win_i = next(i for i, ln in enumerate(tree) if "Window (" in ln)
    scan_i = next(i for i, ln in enumerate(tree) if "Scan parquet" in ln)
    assert win_i < scan_i, f"tree order unexpected:\n{plan}"
    between = tree[win_i + 1 : scan_i]
    assert sum("Aggregate" in ln for ln in between) >= 2, (
        f"agg_auc: window input is not the twice-collapsed score domain:\n{plan}"
    )


def test_collocations_rank_is_take_ordered(spark):
    # N211: the PMI top-k must compile to TakeOrderedAndProject
    # (per-task partial top-k), never a global sort of the bigram table.
    plan = plan_of(spark, "text_collocations")
    assert "TakeOrderedAndProject" in plan, plan
    bad = _single_partition_sorts(plan)
    assert not bad, f"text_collocations: single-partition sort: {bad}\n{plan}"


def test_pps_cumulative_line_is_two_phase(spark):
    # N208: the cumulative size line must ride global_cumsum_before's
    # bucketed two-phase shape — no empty-partition Sort/Window over
    # the order spine anywhere.
    plan = plan_of(spark, "sample_pps")
    bad = _single_partition_sorts(plan)
    assert not bad, f"sample_pps: single-partition sort: {bad}\n{plan}"
    assert re.search(r"hashpartitioning\(_bkt", plan), f"cumsum not bucket-keyed:\n{plan}"


def test_set_similarity_prefix_actually_prunes(spark):
    # N205 evidence: the prefix self-join must read strictly fewer
    # token rows than the full posting-list join would — count the
    # prefix rows vs all token rows directly (the pruning IS the
    # operator's reason to exist; losslessness is oracle-checked).
    from pyspark.sql import Window

    from parquet_processor_spark.ops.dedup import (
        _SETSIM_DEN,
        _SETSIM_NUM,
        shingle_hashes_md5,
        split_words,
    )

    sh = (
        split_words(spark, SF_SMALL)
        .select("doc_id", F.explode_outer(shingle_hashes_md5()).alias("h"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfh"))
    w = Window.partitionBy("doc_id").orderBy("dfh", "h")
    ranked = (
        sh.join(dfreq, "h")
        .select("doc_id", "h", F.row_number().over(w).alias("rk"))
        .join(sizes, "doc_id")
    )
    p = (
        F.col("n")
        - F.expr(f"(({_SETSIM_NUM} * n) + {_SETSIM_DEN} - 1) div {_SETSIM_DEN}")
        + 1
    )
    n_all = sh.count()
    n_pref = ranked.where(F.col("rk") <= p).count()
    assert 0 < n_pref < n_all
    # tau = 1/2 keeps roughly the rarest half of each doc's tokens
    assert n_pref <= 0.6 * n_all


def test_quantile_bin_assigns_via_literal_cuts_no_window(spark):
    # N228: feature_quantile_bin's whole point is that ntile(K) with
    # an empty partition spec never appears — bin ids come from K-1
    # literal cut rows, so the FINAL plan must contain no Window node
    # and no SinglePartition exchange feeding a Sort; the rollup is a
    # plain hash aggregate beside the scan.
    plan = plan_of(spark, "feature_quantile_bin")
    assert not re.findall(r"^\(\d+\) Window", plan, re.M), plan
    bad = _single_partition_sorts(plan)
    assert not bad, f"single-partition sort: {bad}\n{plan}"
    assert "HashAggregate" in plan, plan


def test_kendall_is_pure_cell_algebra_no_window(spark):
    # N226: tau-b is computed entirely on the 2D histogram — cell
    # joins and margins, no rank window anywhere, no cartesian (the
    # inequality joins are nested-loop over a BROADCAST side).
    plan = plan_of(spark, "agg_kendall_tau")
    assert not re.findall(r"^\(\d+\) Window", plan, re.M), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_spearman_windows_run_on_margins_only(spark):
    # N227: the two rank windows must consume 1D MARGIN aggregates
    # (bounded value domains), never row-mass — i.e. every Window sits
    # above at least two Aggregates on the path to the scan (cells
    # collapse + margin collapse).
    plan = plan_of(spark, "agg_spearman_rho")
    tree = [ln for ln in plan.splitlines() if re.search(r"\(\d+\)\s*$", ln)]
    win_is = [i for i, ln in enumerate(tree) if "Window (" in ln]
    assert win_is, plan
    scan_i = max(i for i, ln in enumerate(tree) if "Scan parquet" in ln)
    for wi in win_is:
        between = tree[wi + 1 : scan_i + 1]
        assert sum("Aggregate" in ln for ln in between) >= 2, (
            f"window at {wi} not fed by margin aggregates:\n{plan}"
        )


def test_set_similarity_verify_caps_buckets_one_exchange(spark):
    # N222: the verify operator's candidates come from the SAME capped
    # band-bucket discipline as dedup_near — window count over the
    # band key, cap filter before collection, collect_list reusing the
    # window's partitioning (no Exchange between them), no cartesian.
    plan = plan_of(spark, "join_set_similarity_verify")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    seg = plan[plan.index("ObjectHashAggregate") : plan.index("Window")]
    assert "Exchange" not in seg, plan


def test_hhi_broadcasts_dims_and_collapses_before_squaring(spark):
    # N246 claim: the supplier dim and nation name join as broadcasts
    # (never a shuffled SMJ), and fact rows reach a HashAggregate
    # before any join — the squared-cents sum runs on the collapsed
    # (nation, supplier) table.
    plan = plan_of(spark, "agg_hhi")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_feature_time_windows_single_pruned_pass(spark):
    # N248 claim: one scan, every horizon a conditional aggregate —
    # no join-per-horizon, no window; the 30-day range filter reaches
    # the parquet scan.
    plan = plan_of(spark, "feature_time_windows")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail of ONE scan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "PushedFilters: [IsNotNull(ts)" in plan or "GreaterThanOrEqual(ts" in plan, plan


def test_right_outer_broadcasts_the_filtered_side(spark):
    # N235 claim: the non-preserved (filtered) side broadcasts —
    # right outer keeps the preserved side streaming.
    plan = plan_of(spark, "join_right_outer")
    assert "BroadcastHashJoin" in plan and "RightOuter" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_materializing_count_is_one_job_and_materializes_the_checkpoint(spark):
    # io.materializing_count's contract: over a narrow plan (filter +
    # projection) on a LAZY localCheckpoint, the probe is ONE job, and
    # that job materializes the checkpoint — a later action on the same
    # frame never recomputes below it (the UDF runs once per row)
    from pyspark.sql.types import LongType

    from parquet_processor_spark.io import materializing_count

    sc = spark.sparkContext
    n = 200
    calls = sc.accumulator(0)

    @F.udf(LongType())
    def tick(x):
        calls.add(1)
        return x

    base = spark.range(0, n, 1, 4).select(tick("id").alias("v")).localCheckpoint(eager=False)
    group = "materializing_count_contract"
    sc.setJobGroup(group, group)
    try:
        assert materializing_count(base.where(F.col("v") % 2 == 0).select("v")) == n // 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert calls.value == n
    assert sorted(r["v"] for r in base.collect()) == list(range(n))
    assert calls.value == n
