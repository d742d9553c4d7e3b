"""Scrape-pipeline analog: manifest → fetch → partitioned parquet +
dead-letter, canary gate, aggregation job (SURVEY.md §3.1/§3.3)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.pipeline.aggregate import compute_statistics, run_aggregation
from parquet_processor_spark.pipeline.fetch import (
    fake_transport,
    fetch_stage,
    get_fields_for_type,
    no_network_transport,
)
from parquet_processor_spark.pipeline.run import canary_gate, global_index, run_pipeline
from parquet_processor_spark.pipeline.schemas import REQUIRED_COLUMNS, STATS_SCHEMA, scrape_schema

from .conftest import jobs_in_group


@pytest.fixture(scope="module")
def manifest(tmp_path_factory):
    path = tmp_path_factory.mktemp("manifest") / "manifest.json"
    records = [
        {"url": f"https://example.org/concern/media/{700000 + i}?locale=en"} for i in range(60)
    ]
    records.insert(10, {"url": None})  # exercises the not-null filter (P1)
    records.insert(20, {"other": "no url field"})
    path.write_text("\n".join(json.dumps(r) for r in records))
    return str(path)


def test_field_catalogs():
    assert "points" in get_fields_for_type("mesh")
    assert "image_width" in get_fields_for_type("Volumetric Image Series")
    assert "points" not in get_fields_for_type(None)


def test_fetch_stage_success_and_dead_letter(spark):
    urls = spark.createDataFrame(
        [(f"https://example.org/media/{i}", i) for i in (1, 2, 17, 34, 5)],
        "url string, batch_index long",
    )
    out = fetch_stage(urls, fake_transport).collect()
    assert len(out) == 5
    by_idx = {r["batch_index"]: r for r in out}
    assert by_idx[17]["error"] is not None and by_idx[34]["error"] is not None  # 17s time out
    assert by_idx[2]["media_type"] == "volumetric image series"
    assert by_idx[1]["media_type"] == "mesh"
    assert by_idx[1]["points"] is not None and by_idx[2]["points"] is None  # catalog dispatch
    assert by_idx[17]["attempt"] == 2  # retried before dead-lettering


def test_no_network_transport_refuses():
    with pytest.raises(NotImplementedError):
        no_network_transport("https://example.org")


def test_global_index_is_stable_and_dense(spark):
    urls = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string").repartition(7)
    indexed = global_index(urls, segment_size=30)
    idx = sorted(r["batch_index"] for r in indexed.collect())
    assert idx == list(range(100))
    segs = {r["segment"] for r in indexed.collect()}
    assert "0k-0k" in segs  # reference naming: floor(k/1000)


def test_canary_gate_thresholds(spark):
    ok = spark.createDataFrame(
        [(f"u{i}", 1.0, None) for i in range(10)], "url string, processing_time double, error string"
    )
    m = canary_gate(ok)
    assert m.success and m.total_records == 10
    slow = ok.withColumn("processing_time", F.lit(31.0))
    assert not canary_gate(slow).success
    few = ok.limit(5)
    assert not canary_gate(few).success
    bad = ok.withColumn(
        "error", F.when(F.col("url").isin("u1", "u2", "u3"), "boom")
    )
    assert not canary_gate(bad).success  # 30% > 20% error rate


def test_run_pipeline_end_to_end(spark, manifest, tmp_path):
    out = str(tmp_path / "out")
    res = run_pipeline(
        spark,
        manifest,
        out,
        fake_transport,
        segment_size=20,
        num_tasks=4,
        canary=False,
        run_ts="t0",
    )
    assert res.total_processed + res.error_count == 60  # null/missing urls dropped
    assert not res.has_more and res.next_index == 60
    records = spark.read.parquet(f"{out}/records")
    for col in REQUIRED_COLUMNS:
        assert col in records.columns
    assert records.where(F.col("error").isNotNull()).count() == 0
    assert set(records.select("segment").distinct().toPandas()["segment"]) >= {"0k-0k"}
    dead = spark.read.json(f"{out}/skipped")
    assert dead.count() == res.error_count
    assert set(dead.columns) >= {"url", "index", "reason", "processing_time", "attempts"}


def test_run_pipeline_canary_blocks_broken_transport(spark, manifest, tmp_path):
    def broken(url: str):
        raise TimeoutError("always down")

    with pytest.raises(RuntimeError, match="canary gate failed"):
        run_pipeline(spark, manifest, str(tmp_path / "o"), broken, canary=True)


def test_aggregation_job(spark, manifest, tmp_path):
    out = str(tmp_path / "out")
    run_pipeline(
        spark, manifest, out, fake_transport, segment_size=20, num_tasks=4, canary=False
    )
    stats = run_aggregation(spark, f"{out}/records", str(tmp_path / "agg"))
    assert stats.total_records > 0
    assert set(stats.media_types) <= {"volumetric image series", "mesh"}
    assert stats.files_combined == len(stats.source_files)
    assert os.path.exists(str(tmp_path / "agg" / "summary.md"))
    combined = spark.read.option("header", True).csv(str(tmp_path / "agg" / "combined_csv"))
    assert combined.count() == stats.total_records


def test_statistics_of_an_empty_frame(spark):
    # grouping sets give no row at all for zero input rows; the record
    # must still come back with zero counts, as a plain agg would give
    empty = spark.createDataFrame([], "media_type string, processing_time double")
    stats = compute_statistics(empty)
    assert stats.total_records == 0 and stats.files_combined == 0
    assert stats.avg_processing_time is None and stats.total_processing_time is None
    assert stats.media_types == {} and stats.source_files == []


def test_statistics_record_uses_declared_schema(spark, manifest, tmp_path):
    # The record on disk must carry STATS_SCHEMA's types: per-file
    # `records` as integers (an inferred map<string,string> wrote "400").
    out = str(tmp_path / "out")
    run_pipeline(
        spark, manifest, out, fake_transport, segment_size=20, num_tasks=4, canary=False
    )
    stats = run_aggregation(spark, f"{out}/records", f"{out}/agg")
    row = spark.read.schema(STATS_SCHEMA).json(f"{out}/agg/statistics").collect()
    assert len(row) == 1
    files = row[0]["source_files"]
    assert len(files) == stats.files_combined
    assert all(isinstance(f["records"], int) for f in files)
    assert sum(f["records"] for f in files) == row[0]["total_records"] == stats.total_records
    assert row[0]["media_types"] == stats.media_types


def test_ingest_job_counts_and_file_layout(spark, manifest, tmp_path):
    # One pass does each piece of work once: one count of the urls, no
    # join-back, one control aggregate, one statistics scan. The fetch
    # is range-partitioned on batch_index, so each task writes one file
    # per segment it spans: at most num_tasks + n_segments - 1 files, and
    # the same number every run.
    num_tasks, segment_size = 4, 20
    n_segments = 3  # 60 positions
    layouts = []
    for run in range(2):
        out = str(tmp_path / f"out{run}")
        res, pipe_jobs = jobs_in_group(
            spark,
            f"ingest_pipeline_{run}",
            lambda: run_pipeline(
                spark, manifest, out, fake_transport, segment_size=segment_size, num_tasks=num_tasks
            ),
        )
        stats, agg_jobs = jobs_in_group(
            spark,
            f"ingest_aggregate_{run}",
            lambda: run_aggregation(spark, f"{out}/records", f"{out}/agg"),
        )
        assert res.total_processed + res.error_count == 60
        assert pipe_jobs <= 17, pipe_jobs
        assert agg_jobs <= 6, agg_jobs
        files = sorted(
            os.path.relpath(os.path.dirname(p), out)
            for p in glob.glob(f"{out}/records/**/*.parquet", recursive=True)
        )
        assert len(files) <= num_tasks + n_segments - 1, files
        assert stats.files_combined == len(files)
        layouts.append(files)
    assert layouts[0] == layouts[1]


def test_canary_fetches_the_first_ten_positions_of_the_slice(spark, manifest, tmp_path):
    # The canary must dry-run positions [start_index, start_index + 10):
    # a transport that fails everywhere else still passes the gate, and
    # the rows outside the window land in the dead-letter output.
    window = {f"https://example.org/concern/media/{700000 + i}?locale=en" for i in range(20, 30)}

    def window_only(url: str):
        if url not in window:
            raise ConnectionError(f"outside the canary window: {url}")
        return fake_transport(url)

    out = str(tmp_path / "out")
    res = run_pipeline(
        spark, manifest, out, window_only, start_index=20, segment_size=20, num_tasks=4
    )
    fake_dead = {i for i in range(20, 30) if (700000 + i) % 17 == 0}
    assert res.total_processed == 10 - len(fake_dead)
    assert res.next_index == 60 and not res.has_more
    dead = {r["index"] for r in spark.read.json(f"{out}/skipped").collect()}
    assert dead == set(range(30, 60)) | fake_dead
    assert res.error_count == len(dead)


def test_scrape_schema_contract():
    names = [f.name for f in scrape_schema().fields]
    for col in REQUIRED_COLUMNS:
        assert col in names
    assert len(names) == len(set(names))  # no dup columns after catalog union


def test_cost_estimate_budget_verdict(spark, sf_dir):
    # The wall-clock half of C2, moved OUT of the hash-checked row
    # (r10 verdict #6: time is not an oracle-computable fact): the
    # canary's measured per-record time extrapolated over the
    # remaining manifest must sit inside the coordinator's
    # 30 s/record budget, and the gate itself must pass.
    from parquet_processor_spark.pipeline.fetch import fake_transport, fetch_stage
    from parquet_processor_spark.pipeline.run import canary_gate
    from parquet_processor_spark.tables import t
    from pyspark.sql import functions as F

    urls = t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://example.org/concern/media/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.col("doc_id").alias("batch_index"),
    )
    n = urls.count()
    canary = fetch_stage(urls.orderBy("batch_index").limit(10), fake_transport)
    metrics = canary_gate(canary)
    n_remaining = n - min(10, n)
    assert metrics.success
    assert metrics.avg_time * n_remaining < 30.0 * max(n_remaining, 1)


def test_fair_pools_mode_and_allocation(spark):
    # C3: the session schedules FAIR and the standing etl/interactive
    # pools come from the allocation file with the contracted weights.
    sc = spark.sparkContext
    assert spark.conf.get("spark.scheduler.mode") == "FAIR"
    root = sc._jsc.sc().getPoolForName("interactive")
    assert root.isDefined(), "interactive pool missing from allocation file"
    pool = root.get()
    assert pool.weight() == 4 and pool.minShare() == 8
    etl = sc._jsc.sc().getPoolForName("etl")
    assert etl.isDefined() and etl.get().weight() == 1


def test_fair_pools_concurrent_results_exact(spark, sf_dir):
    # The concurrent two-tenant run must produce exactly the tenants'
    # serial results — pooled scheduling corrupts nothing (the oracle
    # pins the same rows; this is the in-process witness).
    from parquet_processor_spark.pipeline.queries import pipeline_fair_pools
    from parquet_processor_spark.tables import t

    rows = {r["job"]: r for r in pipeline_fair_pools(spark, sf_dir).collect()}
    li = t(spark, sf_dir, "lineitem")
    [exp] = li.agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").cast("long").alias("cs")
    ).collect()
    assert rows["lineitem_rollup"]["pool"] == "etl"
    assert rows["lineitem_rollup"]["n_rows"] == exp["n"]
    assert rows["lineitem_rollup"]["checksum"] == exp["cs"]
    assert rows["nation_lookup"]["pool"] == "interactive"
    assert rows["nation_lookup"]["n_rows"] == 25


def test_fair_pools_interactive_latency_under_etl_load(spark, sf_dir):
    # The point of the weights: an interactive query stays responsive
    # WHILE a many-task ETL job saturates the scheduler. The ETL tenant
    # launches a deliberately wide shuffle job; once it is in flight,
    # the interactive tenant's small lookup must complete well before
    # the ETL job finishes (generous 2x margin — this asserts ordering,
    # not a tight latency SLO, so scheduler jitter cannot flake it).
    import threading
    import time

    from parquet_processor_spark.session import run_in_pool
    from parquet_processor_spark.tables import t

    done = {}

    def etl():
        df = (
            t(spark, sf_dir, "lineitem")
            .repartition(64, "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
            .groupBy((F.col("l_orderkey") % 7).alias("b"))
            .agg(F.sum("q").alias("s"))
        )
        run_in_pool(spark, "etl", lambda: df.collect())
        done["etl"] = time.monotonic()

    th = threading.Thread(target=etl)
    t0 = time.monotonic()
    th.start()
    time.sleep(0.05)  # let the ETL job enter the scheduler first
    run_in_pool(
        spark, "interactive", lambda: t(spark, sf_dir, "nation").agg(F.count(F.lit(1))).collect()
    )
    t_inter = time.monotonic()
    th.join()
    assert "etl" in done
    # interactive finished before (or at worst marginally after) the
    # saturating ETL job — FIFO queueing behind all 64+ ETL tasks would
    # put it strictly after
    assert t_inter - t0 <= (done["etl"] - t0) + 0.5, (
        f"interactive {t_inter - t0:.2f}s vs etl {done['etl'] - t0:.2f}s"
    )
