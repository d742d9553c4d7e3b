"""Batch pipeline: manifest → fetch → normalize → partitioned parquet
(+ dead-letter + control metrics), with a canary gate.

This collapses the reference's three workflows (SURVEY.md §3):
- processor (test_parquet_processor.py:268-389) → the fetch stage
- coordinator (test_parquet_coordinator.yml:38-356) → Spark's scheduler
  + ``canary`` (a dry run over the slice's first 10 positions, gated on
  the same thresholds as evaluate_test_run.py:107-113)
- artifact exchange → a partitioned parquet write (K4 layout
  {segment}/{run_ts}, test_parquet_processor.yml:76,82)
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.pipeline.fetch import Transport, fetch_stage, no_network_transport
from parquet_processor_spark.pipeline.schemas import (
    MANIFEST_SCHEMA,
    REQUIRED_COLUMNS,
    scrape_schema,
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """S1: JSON manifest scan with explicit schema (no inference pass)."""
    return spark.read.schema(MANIFEST_SCHEMA).json(path)


def segment_label(batch_index: Column, segment_size: int) -> Column:
    """W2: the range segment of a manifest position, in the reference's
    '{k}k-{k}k' naming (test_parquet_coordinator.yml:262-276)."""
    seg = F.floor(batch_index / segment_size)
    return F.concat(
        (seg * segment_size / 1000).cast("long").cast("string"),
        F.lit("k-"),
        ((seg + 1) * segment_size / 1000).cast("long").cast("string"),
        F.lit("k"),
    )


def global_index(urls: DataFrame, segment_size: int = 5000) -> DataFrame:
    """W1/W2: stable manifest position + range segment.

    A single-partition row_number window would serialize at 100 TB, so
    the index is built scalably: per-partition counts → cumulative
    offsets (tiny driver-side table, one row per partition) → offset +
    intra-partition row_number.
    """
    part = urls.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
    local = part.withColumn("_local_rn", F.row_number().over(w) - 1)
    # Cumulative offsets re-enter the plan as a BROADCAST JOIN on a
    # (pid, offset) table — one row per partition, O(1) in the plan
    # regardless of partition count (a coalesce(when(_pid==k, off)...)
    # chain was a pathological Catalyst tree at 10^4-10^5 tasks). Built
    # from Arrow it plans as a LocalTableScan; a Python list would be a
    # Python-RDD scan re-run by every action over the index.
    counts = dict(part.groupBy("_pid").count().collect())
    pids = sorted(counts)
    offsets = [0, *itertools.accumulate(counts[pid] for pid in pids)][: len(pids)]
    offset_df = urls.sparkSession.createDataFrame(
        pa.table(
            {
                "_pid": pa.array(pids, pa.int32()),
                "_offset": pa.array(offsets, pa.int64()),
            }
        )
    )
    batch_index = (F.col("_local_rn") + F.coalesce(F.col("_offset"), F.lit(0))).cast("long")
    return (
        local.join(F.broadcast(offset_df), "_pid", "left")
        .withColumn("batch_index", batch_index)
        .withColumn("segment", segment_label(F.col("batch_index"), segment_size))
        .drop("_pid", "_local_rn", "_offset")
    )


@dataclass
class PipelineResult:
    """Control-state analog (test_parquet_processor.py:377-385)."""

    total_processed: int
    error_count: int
    skipped_count: int
    next_index: int
    has_more: bool


@dataclass
class CanaryMetrics:
    """evaluate_test_run.py:91-113 equivalents."""

    total_records: int
    avg_time: float
    error_rate: float
    success: bool


def canary_gate(
    records: DataFrame,
    min_records: int = 8,
    max_avg_time: float = 30.0,
    max_error_rate: float = 0.2,
) -> CanaryMetrics:
    """C1: the reference's canary acceptance test (evaluate_test_run.py:107-113)."""
    row = records.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("processing_time").alias("avg_time"),
        F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err"),
    ).collect()[0]
    # rate computed host-side: an in-plan n_err/n is an ANSI
    # divide-by-zero on an EMPTY canary (caught by the empty-input
    # suite via pipeline_cost_estimate) — and an empty canary must
    # fail the gate on min_records, not crash it
    n, avg_time = row["n"], row["avg_time"] or 0.0
    err_rate = (row["n_err"] / n) if n else 0.0
    ok = n >= min_records and avg_time < max_avg_time and err_rate < max_error_rate
    return CanaryMetrics(n, avg_time, err_rate, ok)


def run_pipeline(
    spark: SparkSession,
    manifest_path: str,
    output_dir: str,
    transport: Transport = no_network_transport,
    *,
    start_index: int = 0,
    max_records: int | None = None,
    segment_size: int = 5000,
    num_tasks: int | None = None,
    canary: bool = True,
    run_ts: str = "run",
) -> PipelineResult:
    """End-to-end batch pipeline (SURVEY.md §3.1 rebuilt).

    manifest → project/filter urls (P1) → global index (W1) → offset/limit
    slice (O1) → range-partition → mapInPandas fetch → segment (W2) →
    split success/dead-letter (T4) → partitioned parquet (K4) + skipped
    JSON (K3) → control metrics (K6).

    The fetch runs as ``num_tasks`` tasks, range-partitioned on
    ``batch_index``. Each task holds a contiguous run of positions, so
    the records write is at most ``num_tasks + n_segments - 1`` files,
    whatever the run. The default is the session's task slots
    (``defaultParallelism``): slots bound fetch concurrency, and every
    task beyond them adds Python-worker start-up. That default assumes
    slow records do not cluster by manifest position: a run of slow
    neighbours (one host down) stays in one task and sets the stage's
    wall, whatever ``num_tasks`` is. ``tools/fetch_skew.py`` times both
    cases. The segment is derived from the fetched ``batch_index``
    (``segment_label``); the fetched rows are not joined back to the
    index.

    Live network fetch is OPT-IN: the default transport refuses
    loudly; pass ``urllib_transport`` (http/https only) or your own
    ``Transport`` to actually fetch.
    """
    urls = (
        read_manifest(spark, manifest_path)
        .select("url")
        .where(F.col("url").isNotNull())
    )
    indexed = global_index(urls, segment_size)
    # the index keeps every url row; counting them needs no index shuffle
    total_urls = urls.count()
    end_index = total_urls if max_records is None else min(start_index + max_records, total_urls)

    def positions(end: int) -> DataFrame:
        return indexed.where(
            (F.col("batch_index") >= start_index) & (F.col("batch_index") < end)
        )

    if canary:
        canary_records = fetch_stage(positions(min(start_index + 10, end_index)), transport)
        metrics = canary_gate(canary_records)
        if not metrics.success:
            raise RuntimeError(
                f"canary gate failed: records={metrics.total_records} "
                f"avg_time={metrics.avg_time:.2f}s error_rate={metrics.error_rate:.2%}"
            )

    sliced = positions(end_index).repartitionByRange(
        num_tasks or spark.sparkContext.defaultParallelism, "batch_index"
    )
    # batch_index leads the records' columns: appended runs share one
    # directory, and read_combined merges their files' schemas
    columns = [f.name for f in scrape_schema().fields if f.name != "batch_index"]
    fetched = (
        fetch_stage(sliced, transport)
        .select("batch_index", *columns)
        .withColumn("segment", segment_label(F.col("batch_index"), segment_size))
        .withColumn("run_ts", F.lit(run_ts))
        .cache()
    )

    ok = fetched.where(F.col("error").isNull())
    dead = fetched.where(F.col("error").isNotNull()).select(
        "url",
        F.col("batch_index").alias("index"),
        F.col("error").alias("reason"),
        "processing_time",
        F.col("attempt").alias("attempts"),
    )

    missing = [c for c in REQUIRED_COLUMNS if c not in fetched.columns]
    if missing:
        raise ValueError(f"schema contract violation, missing {missing}")

    ok.write.mode("append").partitionBy("segment", "run_ts").parquet(f"{output_dir}/records")
    dead.write.mode("append").json(f"{output_dir}/skipped")

    counts = fetched.agg(
        F.count(F.when(F.col("error").isNull(), 1)).alias("ok"),
        F.count("error").alias("dead"),
    ).collect()[0]
    fetched.unpersist()
    return PipelineResult(
        total_processed=counts["ok"],
        error_count=counts["dead"],
        skipped_count=counts["dead"],
        next_index=end_index,
        has_more=end_index < total_urls,
    )
