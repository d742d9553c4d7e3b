"""Aggregation job (SURVEY.md §3.3): the reference's aggregator workflow
(test_parquet_aggregator.yml:101-203) as one DataFrame chain.

Artifact zips + pd.concat become a single mergeSchema/recursive parquet
read; the statistics block (:169-181) becomes declarative aggregates;
the per-file stats use input_file_name(). The snapshot-supersedence
max_by (:124-127) is unnecessary under append-only writes but remains
available as operator agg_max_by.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from parquet_processor_spark.pipeline.schemas import STATS_SCHEMA


def read_combined(spark: SparkSession, records_dir: str) -> DataFrame:
    """S3+U1: recursive discovery + schema-merging union in one scan."""
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "false")  # partition dirs are meaningful
        .parquet(records_dir)
    )


def write_combined(df: DataFrame, out_dir: str) -> None:
    """K1/K2: combined parquet + CSV (CSV needs string-safe columns only)."""
    df.write.mode("overwrite").parquet(f"{out_dir}/combined_parquet")
    df.select(
        *[F.col(c).cast("string").alias(c) for c in df.columns]
    ).write.mode("overwrite").option("header", True).csv(f"{out_dir}/combined_csv")


def compute_statistics(df: DataFrame) -> Row:
    """The statistics record (test_parquet_aggregator.yml:169-181):
    scalar aggregates + media-type map + per-file stats, from ONE scan —
    grouping sets over (), (media_type) and (file); ``grouping_id`` tells
    the three row kinds apart."""
    rows = (
        df.withColumn("file", F.input_file_name())
        .groupingSets([[], ["media_type"], ["file"]], "media_type", "file")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.avg("processing_time").alias("avg_time"),
            F.sum("processing_time").alias("sum_time"),
        )
        .collect()
    )
    # grouping_id bits are (media_type, file): 3 = (), 1 = (media_type), 2 = (file).
    # An empty frame yields no rows at all, not even the () set's.
    scalars = next(
        (r for r in rows if r["gid"] == 3), {"n": 0, "avg_time": None, "sum_time": None}
    )
    per_file = [r for r in rows if r["gid"] == 2]
    return Row(
        total_records=scalars["n"],
        files_combined=len(per_file),
        avg_processing_time=scalars["avg_time"],
        total_processing_time=scalars["sum_time"],
        media_types={
            r["media_type"]: r["n"] for r in rows if r["gid"] == 1 and r["media_type"] is not None
        },
        source_files=[{"file": r["file"], "records": r["n"], "size": None} for r in per_file],
    )


def markdown_summary(stats: Row) -> str:
    """K5: the human-readable report (test_parquet_aggregator.yml:184-202)."""
    lines = [
        "# Aggregation Summary",
        "",
        f"- total records: {stats.total_records}",
        f"- files combined: {stats.files_combined}",
        f"- avg processing time: {stats.avg_processing_time}",
        f"- total processing time: {stats.total_processing_time}",
        "",
        "## Media types",
    ]
    for mt, n in sorted(stats.media_types.items()):
        lines.append(f"- {mt}: {n}")
    return "\n".join(lines)


def run_aggregation(spark: SparkSession, records_dir: str, out_dir: str) -> Row:
    df = read_combined(spark, records_dir)
    write_combined(df, out_dir)
    stats = compute_statistics(df)
    record = pa.Table.from_pylist([stats.asDict()], schema=to_arrow_schema(STATS_SCHEMA))
    spark.createDataFrame(record, STATS_SCHEMA).write.mode("overwrite").json(
        f"{out_dir}/statistics"
    )
    with open(f"{out_dir}/summary.md", "w") as fh:
        fh.write(markdown_summary(stats))
    return stats
