"""Sink round-trip queries: write → read back → oracle-compare against
the source table. The oracle (a plain SELECT on the original table)
hash-verifies that the full write+read cycle is lossless — covering
K1/K2/K3/K4 with a real correctness check rather than a rows-only pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.numeric import dsum, dsum_sql
from parquet_processor_spark.io import (
    current_snapshot_version,
    expire_snapshots,
    partition_files,
    publish_snapshot,
    read_snapshot,
    rewrite_partitions,
    scratch_dir,
    stage_snapshot,
)
from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

_SELECT = "select l_orderkey, l_linenumber, l_quantity, l_returnflag from lineitem where l_quantity >= 40"


def _subset(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "lineitem")
        .where(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


# K1+K4: partitioned parquet write, read back through the partition layout.
@query("sink_parquet", oracle=_SELECT, tags=("sink",))
def sink_parquet(spark: SparkSession, sf: str) -> DataFrame:
    out = scratch_dir("ppspark_sink_parquet_")
    _subset(spark, sf).write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    # partition column comes back typed as read; restore column order/types
    return back.select(
        "l_orderkey", "l_linenumber", "l_quantity", F.col("l_returnflag").cast("string").alias("l_returnflag")
    )


# K4 proper: the reference's two-level {segment}/{timestamp}/ output
# layout (test_parquet_processor.yml:76,82 — data/processed_parquet/
# <segment_name>/<run timestamp>/) as a hierarchical partitionBy
# write, read back through a filter on BOTH partition levels. The
# oracle replays the filtered SELECT on the source table, proving the
# partitioned write+pruned read is lossless; partition PRUNING (the
# point of the layout at 100 TB — a segment/day predicate skips whole
# directories without listing their files) is plan-asserted in
# tests/test_plan_quality.py. The batch value carries a 'b' prefix so
# partition-column type inference can never re-type it on read-back.
_PART_SELECT = """
    select o_orderkey, o_custkey, o_totalprice, o_orderpriority,
           'b' || strftime(o_orderdate, '%Y-%m') as o_batch
    from orders
    where o_orderpriority = '1-URGENT'
      and strftime(o_orderdate, '%Y-%m') between '1995-01' and '1995-12'
"""


@query("sink_partitioned_roundtrip", oracle=_PART_SELECT, tags=("sink", "layout", "bench_extended"))
def sink_partitioned_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write orders partitioned by (priority, month-batch) — the
    reference's {segment}/{timestamp}/ directory contract — and read
    back one segment x one year through the partition columns.

    100 TB shape: the frame is repartitioned ON the partition columns
    before the write, so each directory gets one writer task and one
    file instead of num-shuffle-partitions small files (the classic
    partitionBy small-file explosion); the read-back filter touches
    only matching directories (PartitionFilters in the scan — whole
    segments/months are skipped without opening a footer).
    """
    out = scratch_dir("ppspark_sink_part_")
    src = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderpriority",
        F.concat(F.lit("b"), F.date_format("o_orderdate", "yyyy-MM")).alias("o_batch"),
    )
    src.repartition("o_orderpriority", "o_batch").write.mode("overwrite").partitionBy(
        "o_orderpriority", "o_batch"
    ).parquet(out)
    # explicit schema: an all-empty layout has no footer to infer from
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderpriority string, o_batch string"
    ).parquet(out)
    return back.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & F.col("o_batch").between("b1995-01", "b1995-12")
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
        F.col("o_batch").cast("string").alias("o_batch"),
    )


# K2: CSV round trip with explicit read schema (no inference drift).
@query("sink_csv_roundtrip", oracle=_SELECT, tags=("sink",))
def sink_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    out = scratch_dir("ppspark_sink_csv_")
    _subset(spark, sf).write.mode("overwrite").option("header", "true").csv(out)
    return (
        spark.read.option("header", "true")
        .schema("l_orderkey long, l_linenumber int, l_quantity double, l_returnflag string")
        .csv(out)
    )


# K3: JSON-lines round trip.
@query("sink_json_roundtrip", oracle=_SELECT, tags=("sink",))
def sink_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    out = scratch_dir("ppspark_sink_json_")
    _subset(spark, sf).write.mode("overwrite").json(out)
    return spark.read.schema(
        "l_orderkey long, l_linenumber int, l_quantity double, l_returnflag string"
    ).json(out)


# ORC round trip — Spark's second bundled columnar format; same
# write→read-back→oracle-compare contract as the parquet sink.
@query("sink_orc_roundtrip", oracle=_SELECT, tags=("sink",))
def sink_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    out = scratch_dir("ppspark_sink_orc_")
    _subset(spark, sf).write.mode("overwrite").orc(out)
    return spark.read.orc(out)


# Clustered-at-rest layout: range-partition by the query key, sort
# within partitions, write parquet, read back through a range filter.
# At 100 TB this is the layout that makes parquet row-group min/max
# statistics actually skip IO for time/key-range queries: each output
# file covers a narrow, sorted l_shipdate slice, so a date-range
# predicate prunes whole files (footer stats) and whole row groups
# inside the survivors. The oracle replays the filtered scan on the
# source table — proving the clustered write+filtered read is exact.
# Z-order (Morton) clustered layout: interleave the bits of two filter
# columns and sort the files by the interleaved key. A single-column
# sort gives parquet footer stats a narrow range on THAT column only —
# the other column's per-file min/max stays global-width and prunes
# nothing. Z-ordering makes BOTH columns' per-file ranges narrow, so a
# 2D box predicate skips files/row groups on each dimension — the
# standard multi-dimensional data-skipping layout at 100 TB (what
# Delta/Iceberg expose as OPTIMIZE ZORDER, here as plain DataFrame
# ops). Both dims are first NORMALIZED to a fixed 16-bit width by
# max-scaling (via a broadcast 1-row agg — no driver scalar): raw
# interleave of unequal-width keys degenerates into a sort on the wide
# key alone, because the narrow key contributes no high bits. The
# z-key orders the write; it is dropped before the write and never
# part of the data, so the oracle is a plain box-filter SELECT.
_Z_BITS = 16


def zorder_key(a, b, a_max, b_max, bits: int = _Z_BITS):
    """Morton key of two non-negative integer columns, each max-scaled
    to ``bits`` width (``a_max``/``b_max`` are Columns, e.g. from a
    broadcast agg). Pure integer arithmetic — deterministic."""
    hi = F.lit(1 << bits)
    an = (a.cast("long") * hi / (a_max.cast("long") + 1)).cast("long")
    bn = (b.cast("long") * hi / (b_max.cast("long") + 1)).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftright(an, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        z = z + F.shiftright(bn, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
    return z


@query(
    "sink_zorder_roundtrip",
    oracle="""
    select l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    from lineitem
    where l_partkey between (select max(l_partkey) * 0.1 from lineitem)
                        and (select max(l_partkey) * 0.3 from lineitem)
      and l_suppkey between (select max(l_suppkey) * 0.2 from lineitem)
                        and (select max(l_suppkey) * 0.5 from lineitem)
    """,
    tags=("sink", "layout"),
)
def sink_zorder_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write lineitem z-ordered on (l_partkey, l_suppkey), read back
    through a 2D box filter (bounds are fractions of each key's max, so
    the query is meaningful at every SF). tests/test_plan_quality.py
    verifies the layout claim directly on the parquet footers: per-file
    min/max is narrow on BOTH dimensions and the box skips files."""
    out = scratch_dir("ppspark_sink_zorder_")
    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"]
    li = t(spark, sf, "lineitem").select(*cols)
    maxes = li.agg(
        F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s")
    )
    (
        li.crossJoin(F.broadcast(maxes))
        .withColumn(
            "_z",
            zorder_key(
                F.col("l_partkey"), F.col("l_suppkey"), F.col("max_p"), F.col("max_s")
            ),
        )
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .select(*cols)  # layout key ordered the rows; not part of the data
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    bounds = back.agg(
        F.max("l_partkey").alias("max_p"), F.max("l_suppkey").alias("max_s")
    )
    return (
        back.crossJoin(F.broadcast(bounds))
        .where(
            F.col("l_partkey").between(F.col("max_p") * 0.1, F.col("max_p") * 0.3)
            & F.col("l_suppkey").between(F.col("max_s") * 0.2, F.col("max_s") * 0.5)
        )
        .select(*cols)
    )


@query(
    "sink_sorted_roundtrip",
    oracle="""
    select l_orderkey, l_linenumber, l_shipdate, l_quantity
    from lineitem
    where l_shipdate >= date '1997-01-01' and l_shipdate < date '1997-04-01'
    """,
    tags=("sink", "layout", "bench_extended"),
)
def sink_sorted_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    out = scratch_dir("ppspark_sink_sorted_")
    (
        t(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )


# S-family: schema evolution across parquet batches. A long-lived
# corpus directory accumulates files written under different schema
# versions (columns added over time); mergeSchema reads must unify
# them with nulls for the columns a batch predates — the storage-level
# twin of the U1 unionByName semantics.
@query(
    "sink_mergeschema_roundtrip",
    oracle="""
    select l_orderkey, l_linenumber, l_quantity,
           cast(null as varchar) as l_returnflag
    from lineitem where l_quantity >= 40 and l_linenumber % 2 = 0
    union all
    select l_orderkey, l_linenumber, l_quantity, l_returnflag
    from lineitem where l_quantity >= 40 and l_linenumber % 2 = 1
    """,
    tags=("sink", "source", "schema", "bench_extended"),
)
def sink_mergeschema_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write two parquet batches under different schema versions (v1
    lacks l_returnflag), read the directory back with mergeSchema,
    and return the unified rows — v1 rows carry null in the evolved
    column.

    100 TB shape: schema merge happens at PLANNING time over file
    footers (the driver unions the file schemas; at many-thousand-file
    scale Spark samples footers in a distributed job), not by
    rewriting data — old batches are never touched when a column
    lands, which is the point: an append-only corpus evolves for free
    and every reader sees one logical schema.
    """
    out = scratch_dir("ppspark_mergeschema_")
    base = _subset(spark, sf)
    v1 = base.where(F.col("l_linenumber") % 2 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    v2 = base.where(F.col("l_linenumber") % 2 == 1)
    v1.write.mode("overwrite").parquet(f"{out}/batch=v1")
    v2.write.mode("overwrite").parquet(f"{out}/batch=v2")
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(out)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


# K-family: small-file compaction — the table-maintenance pass every
# long-lived corpus needs. Streaming sinks and per-batch appends leave
# directories of tiny files whose per-file open/footer cost dominates
# reads at scale; compaction rewrites the directory into size-targeted
# files without changing a row.
_COMPACT_TARGET_ROWS = 50_000  # stand-in for a bytes target (fixture rows are fixed-width)


@query(
    "sink_compacted_roundtrip",
    oracle=_SELECT,
    tags=("sink", "layout", "maintenance", "bench_extended"),
)
def sink_compacted_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Fragment the subset into many tiny files, compact the directory
    to row-count-targeted files, and return the compacted rows — the
    oracle proves compaction is content-preserving; the file-count
    assertion lives in tests/test_plan_quality.py.

    100 TB shape: the file count comes from one count() over footer
    metadata (cheap), the rewrite is ONE round-robin repartition (no
    key shuffle — compaction has no keys to preserve unless the table
    is also sorted, which sink_sorted/zorder cover); a real deployment
    compacts per partition-directory so each rewrite is independent
    and incremental. Row-count stands in for the byte target the
    fixture cannot exercise (fixed-width rows).
    """
    frag = scratch_dir("ppspark_frag_")
    out = scratch_dir("ppspark_compact_")
    _subset(spark, sf).repartition(64).write.mode("overwrite").parquet(frag)
    small = spark.read.parquet(frag)
    n_files = max(1, -(-small.count() // _COMPACT_TARGET_ROWS))  # ceil; eager-by-design: footer-metadata count sizes the rewrite
    small.repartition(n_files).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


# S/X-family: parser-level dead-letter. The reference routes fetch
# failures to skipped_records_*.json (T4); the same contract one layer
# down is PERMISSIVE parsing with a corrupt-record column — malformed
# rows land in a quarantine column instead of failing the job or
# silently vanishing. Corruption is injected deterministically (every
# l_linenumber%7==0 row re-emitted with a non-numeric quantity), so
# the oracle derives the expected good/bad split from the clean table.
@query(
    "scan_csv_badrecords",
    oracle="""
    with sub as (
      select l_orderkey, l_linenumber, l_quantity from lineitem where l_quantity >= 40
    )
    select cast(count(*) as bigint) as n_good,
           (select cast(count(*) as bigint) from sub where l_linenumber % 7 = 0) as n_bad,
           cast(sum(cast(l_quantity as bigint)) as bigint) as qty_sum
    from sub
    """,
    tags=("source", "robustness", "bench_extended"),
)
def scan_csv_badrecords(spark: SparkSession, sf: str) -> DataFrame:
    """Write a CSV containing both clean rows and injected malformed
    rows (non-numeric quantity), read it back PERMISSIVE with a
    corrupt-record column, and report the split: every clean row
    parses, every malformed row is quarantined, nothing is dropped.

    100 TB shape: PERMISSIVE + columnNameOfCorruptRecord is a pure
    map-side property of the scan — bad rows cost one extra string
    column only where they occur, and the quarantine split is the
    same filter-fanout as the fetch stage's dead-letter (T4). The
    FAILFAST/DROPMALFORMED modes are the same reader one option away.
    """
    out = scratch_dir("ppspark_badcsv_")
    sub = (
        t(spark, sf, "lineitem")
        .where(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    good_lines = sub.select(
        F.concat_ws(",", "l_orderkey", "l_linenumber", "l_quantity").alias("value")
    )
    bad_lines = sub.where(F.col("l_linenumber") % 7 == 0).select(
        F.concat_ws(
            ",", "l_orderkey", "l_linenumber", F.concat(F.lit("x"), F.col("l_quantity"))
        ).alias("value")
    )
    good_lines.unionAll(bad_lines).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "l_orderkey long, l_linenumber int, l_quantity double, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_bad"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("l_quantity").cast("bigint"))
        ).alias("qty_sum"),
    )


# S-family: binaryFile source — the ingest path for opaque media
# blobs (ops/multimodal.py consumes binary columns; this is where
# those columns COME FROM when the corpus arrives as raw files on
# object storage). The roundtrip writes the documents corpus as text
# part-files, re-reads them as whole-file binary records, and proves
# byte-lossless ingest: total binary bytes == total UTF-8 text bytes
# plus one newline per document.
_BINARY_PARTS = 8


@query(
    "scan_binary_files",
    oracle=f"""
    -- least(parts, count): round-robin gives every non-empty
    -- partition >= 1 row, and Spark writes no file for an empty
    -- partition — so a tiny fixture yields count(*) files, not a
    -- confusing oracle-parity mismatch (r6 ADVICE item)
    select cast(least({_BINARY_PARTS}, count(*)) as bigint) as n_files,
           cast(sum(octet_length(encode(text)) + 1) as bigint) as total_bytes
    from documents
    """,
    tags=("source", "multimodal", "bench_extended"),
)
def scan_binary_files(spark: SparkSession, sf: str) -> DataFrame:
    """Write documents as _BINARY_PARTS text part-files, scan them
    back with the ``binaryFile`` source (path, modificationTime,
    length, content per file), and aggregate file count + content
    bytes. The oracle recomputes the expected byte total from the
    table (UTF-8 octets + the writer's newline per doc), so the check
    proves the whole-file binary read is lossless — the property the
    multimodal decode stages rely on.

    100 TB shape: binaryFile is a real FileFormat — discovery and
    pathGlobFilter run at planning, each file is one task's row, and
    ONLY the length/path columns are materialized when content isn't
    selected (here content feeds the byte count, so it streams
    through one map-side-combined sum). A 100 TB image corpus reads
    with scan parallelism = file count, no driver listing loop;
    oversized blobs are the ONE caveat (a single file must fit in a
    task), which is inherent to whole-file semantics.
    """
    out = scratch_dir("ppspark_binscan_")
    (
        t(spark, sf, "documents")
        .select(F.coalesce(F.col("text"), F.lit("")).alias("value"))
        .repartition(_BINARY_PARTS)
        .write.mode("overwrite")
        .text(out)
    )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .load(out)
    )
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("content")).alias("total_bytes"),
    )


# Versioned-snapshot sinks on io.py's pointer-file commit
# (publish_snapshot and friends), the protocol the streaming state
# tables (streaming/jobs.py) also commit through, one version per batch.
_SNAP_CUT = "1996-01-01"


@query(
    "sink_versioned_snapshots",
    oracle=f"""
    select 1 as version, cast(count(*) as bigint) as n_rows,
           {{dsum}}
    from orders where o_orderdate < timestamp '{_SNAP_CUT} 00:00:00'
    union all
    select 2 as version, cast(count(*) as bigint) as n_rows,
           {{dsum}}
    from orders
    order by version
    """.format(dsum=dsum_sql("o_totalprice", "total_price")),
    tags=("sink", "layout", "versioning", "bench_extended"),
)
def sink_versioned_snapshots(spark: SparkSession, sf: str) -> DataFrame:
    """Publish two successive snapshots of orders under snap-1/ and
    snap-2/ with a _CURRENT pointer file flipped atomically after
    each write, then read BOTH the current snapshot (via the pointer)
    and version 1 (time travel) and report per-version row count +
    exact total. The oracle recomputes both versions from the source
    table, proving each published snapshot is complete and exact.

    100 TB shape: the commit is O(1) regardless of table size — the
    data write is the same partitioned parquet write as any sink, and
    atomicity lives entirely in the one-block pointer replace (the
    reader-side contract every table format reduces to). Readers of
    version N are never blocked or torn by the writer of N+1; vacuum
    = delete unreferenced snap-*/ directories older than a horizon.
    """
    out = scratch_dir("ppspark_snapshots_")
    orders = t(spark, sf, "orders")
    v1 = orders.where(F.col("o_orderdate") < F.lit(f"{_SNAP_CUT} 00:00:00").cast("timestamp"))
    publish_snapshot(v1, out, 1)
    publish_snapshot(orders, out, 2)
    current = current_snapshot_version(out)

    def summarize(version: int) -> DataFrame:
        return read_snapshot(spark, out, version).agg(
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "total_price"),
        ).select("version", "n_rows", "total_price")

    return summarize(1).unionByName(summarize(current)).orderBy("version")


# Training-shard writer — the LAST mile of a training-data pipeline:
# deterministically scatter the curated corpus into N shards (the
# WebDataset / tfrecord-shard layout trainers stream), with a
# reproducible pseudo-shuffle inside each shard. Hash-based, so shard
# membership and order are stable across retries, cluster sizes, and
# re-runs — no rand() anywhere (the sample_hash policy).
_SHARD_HEX = "0123456789abcdef"


@query(
    "sink_training_shards",
    oracle=f"""
    with h as (
      select doc_id, md5(cast(doc_id as varchar)) as hh from documents
    ),
    s as (
      select doc_id, hh,
             strpos('{_SHARD_HEX}', substr(hh, 1, 1)) - 1 as shard
      from h
    )
    select cast(shard as int) as shard,
           cast(count(*) as bigint) as n_docs,
           cast(sum(doc_id) as bigint) as sum_doc_ids,
           min(hh) as min_hash, max(hh) as max_hash,
           arg_min(doc_id, hh) as first_doc
    from s group by shard
    """,
    tags=("sink", "sampling", "shards", "bench_extended"),
)
def sink_training_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Scatter documents into 16 hash-assigned shards, write them
    partitioned by shard with a deterministic within-shard shuffle
    order (sort by the doc hash), read the layout back, and emit a
    per-shard manifest (count, id sum, hash range, and the first doc
    in shuffle order). The oracle recomputes the manifest straight
    from the source table, proving the sharded layout lost and
    duplicated nothing and that shard membership is the pure function
    of doc_id it claims to be.

    100 TB shape: shard assignment is a codegen hash beside the scan
    (no shuffle to ASSIGN); the write's repartition on shard is the
    one corpus move — the same move the trainer's reader needs
    physically materialized; within-shard order comes from
    sortWithinPartitions (no global sort). first_doc is recomputed
    from content (min_by over the hash), not file order, so the check
    is independent of parquet read order. Real deployments raise the
    shard count by taking more hex chars (16^k shards).
    """
    import tempfile

    docs = t(spark, sf, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("hh"),
        F.coalesce(F.col("text"), F.lit("")).alias("payload"),
    ).withColumn(
        # shard = index of the first hash nibble (16 shards, identical
        # arithmetic in both engines)
        "shard",
        (F.expr(f"instr('{_SHARD_HEX}', substring(hh, 1, 1))") - 1).cast("int"),
    )
    out = scratch_dir("ppspark_shards_")
    (
        docs.repartition("shard")
        .sortWithinPartitions("hh")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    # explicit schema: a zero-doc corpus writes no partition dirs, and
    # schema inference over an empty layout fails — the reader contract
    # should come from the writer, not the files
    back = spark.read.schema(docs.schema).parquet(out)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_ids"),
        F.min("hh").alias("min_hash"),
        F.max("hh").alias("max_hash"),
        F.min_by("doc_id", "hh").alias("first_doc"),
    )


# Compression-codec roundtrip — the "which codec do we standardize on"
# contract check a 100 TB lake runs before switching: the same slice
# written under BOTH candidate codecs must read back logically
# identical (codec choice is a physical property, never a semantic
# one). The oracle recomputes the slice's per-group checksum straight
# from source — equality proves BOTH codec paths are lossless; the
# size/ratio numbers a real migration also wants are
# environment-dependent and live in the test, not the oracle row.
_CODECS = ("snappy", "zstd")


@query(
    "sink_codec_roundtrip",
    oracle="""
    select l_returnflag, l_linestatus,
           cast(count(*) as bigint) as n,
           cast(sum(l_quantity) as bigint) as sum_qty,
           md5(string_agg(cast(l_orderkey as varchar) || ':' ||
                          cast(l_linenumber as varchar), ','
                          order by l_orderkey, l_linenumber)) as key_digest
    from lineitem
    where l_shipdate < date '1995-01-01'
    group by 1, 2
    """,
    tags=("sink", "codec", "roundtrip", "bench_extended"),
)
def sink_codec_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Write under each codec, read back, return the per-group digest
    of the (codec-agnostic) content — emitted once, only if every
    codec's read-back agrees group-for-group with every other.

    100 TB shape: each write is one scan + one parquet encode (codecs
    differ only inside the column-chunk encoder); the verification
    aggregate is map-side combined per codec and the cross-codec
    equality check joins |groups| rows. Nothing here is quadratic in
    data or codecs.
    """
    base = (
        t(spark, sf, "lineitem")
        .where(F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
        .select("l_returnflag", "l_linestatus", "l_quantity", "l_orderkey", "l_linenumber")
    )
    digests = []
    for codec in _CODECS:
        out = scratch_dir(f"ppspark_sink_codec_{codec}_")
        base.write.mode("overwrite").option("compression", codec).parquet(out)
        back = spark.read.parquet(out)
        digests.append(
            back.groupBy("l_returnflag", "l_linestatus").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("l_quantity").cast("long").alias("sum_qty"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("l_orderkey", "l_linenumber"))
                            ),
                            lambda r: F.concat_ws(
                                ":",
                                r["l_orderkey"].cast("string"),
                                r["l_linenumber"].cast("string"),
                            ),
                        ),
                        ",",
                    )
                ).alias("key_digest_raw"),
            )
        )
    # cross-codec equality gate: inner-join on ALL columns — a codec
    # that corrupted anything drops rows here and the count mismatch
    # surfaces as an oracle row-count failure.
    a, b = digests
    return a.join(b, ["l_returnflag", "l_linestatus", "n", "sum_qty", "key_digest_raw"]).select(
        "l_returnflag",
        "l_linestatus",
        "n",
        "sum_qty",
        F.col("key_digest_raw").alias("key_digest"),
    )


# Manifest-driven file pruning — the Iceberg/Delta min-max manifest
# emulated on plain parquet: write range-clustered files, harvest a
# per-file (min, max) stats manifest with one metadata-cheap pass,
# then answer a range query by reading ONLY the manifest-selected
# files. This is file skipping decided ABOVE the format (the lake
# pattern), complementing sink_sorted_roundtrip's footer-level row-
# group pruning below the format; the pruning factor is asserted in
# tests, the oracle proves the pruned read misses nothing.
_MANIFEST_FILES = 8
_MANIFEST_LO = "1995-01-01"
_MANIFEST_HI = "1995-12-31"


@query(
    "sink_manifest_pruned_scan",
    oracle=f"""
    select o_orderkey, o_orderdate, o_totalprice
    from orders
    where o_orderdate between date '{_MANIFEST_LO}' and date '{_MANIFEST_HI}'
    """,
    tags=("sink", "manifest", "pruning", "bench_extended"),
)
def sink_manifest_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Range query served through a min-max file manifest.

    100 TB shape: the clustered write is one range exchange; the
    manifest harvest aggregates (file, min, max) — file-count rows —
    and at lake scale is maintained INCREMENTALLY at write time
    instead of re-derived; the query planner then opens overlap-
    selected files only (here _MANIFEST_FILES-way clustering cuts a
    1-year probe to ~1/4 of the files, asserted in tests). Correctness
    never depends on the pruning: files are selected by stats that
    BOUND their contents, and the residual filter still runs.
    """
    out = scratch_dir("ppspark_sink_manifest_")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    (
        o.repartitionByRange(_MANIFEST_FILES, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    # manifest harvest: one pass, grouped by physical file
    manifest = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()  # eager-by-design: the manifest IS driver/catalog state
        # (file-count rows) — exactly what a table format stores
    )
    lo = F.lit(_MANIFEST_LO).cast("date")
    hi = F.lit(_MANIFEST_HI).cast("date")
    selected = [
        r["file"]
        for r in manifest
        if not (str(r["hi"]) < _MANIFEST_LO or str(r["lo"]) > _MANIFEST_HI)
    ]
    assert selected, "manifest selected no files for a non-empty range"
    return (
        spark.read.parquet(*selected)
        .where(F.col("o_orderdate").between(lo, hi))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# Dynamic partition overwrite — the nightly RESTATEMENT path: re-run
# one day's partition in place without touching siblings (the INSERT
# OVERWRITE contract, committed by io.rewrite_partitions).
# The restated day rewrites values through a deterministic adjustment
# so the proof is two-sided: the restated partition changed exactly as
# specified AND every other partition is byte-identical to source.
_RESTATE_DAY = "2024-01-15"


@query(
    "sink_partition_overwrite_dynamic",
    oracle=f"""
    select cast(ts as date) as event_date,
           cast(count(*) as bigint) as n,
           cast(round(sum(cast(
             case when cast(ts as date) = date '{_RESTATE_DAY}'
                  then value * 2 else value end as decimal(18,2))), 2) as double)
             as sum_value
    from events where ts is not null
    group by 1
    """,
    tags=("sink", "partitioned", "restatement", "bench_extended"),
)
def sink_partition_overwrite_dynamic(spark: SparkSession, sf: str) -> DataFrame:
    """Write day-partitioned events, restate ONE day in place via
    dynamic partition overwrite, and return the per-day summary of
    what is actually on disk afterward.

    100 TB shape: the restatement job writes exactly one partition's
    rows (dynamic mode replaces only partitions present in the write
    — the others are never opened); both writes are one exchange on
    the partition key. The summary aggregate rides decimal so the
    oracle hash is exact.
    """
    out = scratch_dir("ppspark_sink_restate_")
    e = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "ts", "value", F.to_date("ts").alias("event_date"))
    )
    e.write.mode("overwrite").partitionBy("event_date").parquet(out)
    day = F.lit(_RESTATE_DAY).cast("date")
    restated = e.where(F.col("event_date") == day).withColumn(
        "value", F.col("value") * 2
    )
    rewrite_partitions(restated, out, "event_date", [_RESTATE_DAY])
    back = spark.read.parquet(out)
    return back.groupBy("event_date").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


# Snapshot retention/expiration — the missing end of the versioned-
# table lifecycle (publish -> time travel -> EXPIRE): keep the newest
# N snapshots, delete the directories of everything older, and prove
# (a) the expired version is physically gone, (b) the survivors are
# untouched and fully readable, (c) the pointer still serves the
# current version. Every table format (Iceberg expire_snapshots,
# Delta VACUUM) reduces to exactly this reader-safe delete-behind.
_EXPIRE_KEEP = 2


@query(
    "sink_snapshot_expire",
    oracle=f"""
    select 2 as version,
           cast(count(*) filter (o_orderdate < timestamp '{_SNAP_CUT} 00:00:00'
                                 or o_orderpriority = '1-URGENT') as bigint) as n_rows,
           false as expired, true as readable
    from orders
    union all
    select 3 as version, cast(count(*) as bigint) as n_rows,
           false as expired, true as readable
    from orders
    union all
    select 1 as version, cast(0 as bigint) as n_rows,
           true as expired, false as readable
    order by version
    """,
    tags=("sink", "layout", "versioning", "lifecycle"),
)
def sink_snapshot_expire(spark: SparkSession, sf: str) -> DataFrame:
    """Publish three snapshots of orders (a date slice, that slice
    plus the urgent orders, the full table), expire down to the newest
    _EXPIRE_KEEP, and report per-version (n_rows, expired, readable):
    the expired version must be physically deleted (directory gone,
    n_rows 0), the survivors must read back complete (counts match the
    oracle's recomputation from source), and the _CURRENT pointer must
    still resolve to the newest version.

    100 TB shape: expiration is directory deletes + one pointer read —
    O(versions), never O(data); it runs strictly delete-BEHIND (only
    versions older than every live reader's pin), which is the whole
    reader-safety contract. The survivors' readability proof is the
    same scan any consumer runs; nothing is rewritten.
    """
    out = scratch_dir("ppspark_expire_")
    orders = t(spark, sf, "orders")
    cut = F.col("o_orderdate") < F.lit(f"{_SNAP_CUT} 00:00:00").cast("timestamp")
    slices = [
        orders.where(cut),
        orders.where(cut | (F.col("o_orderpriority") == "1-URGENT")),
        orders,
    ]
    for v, snap in enumerate(slices, start=1):
        publish_snapshot(snap, out, v)
    current = current_snapshot_version(out)
    expired = expire_snapshots(out, keep=_EXPIRE_KEEP)

    rows = []
    for v in range(1, len(slices) + 1):
        if v not in expired:
            rows.append(
                read_snapshot(spark, out, v).agg(
                    F.lit(v).cast("int").alias("version"),
                    F.count(F.lit(1)).alias("n_rows"),
                    F.lit(False).alias("expired"),
                    F.lit(True).alias("readable"),
                )
            )
        else:
            rows.append(
                spark.range(1).select(
                    F.lit(v).cast("int").alias("version"),
                    F.lit(0).cast("long").alias("n_rows"),
                    F.lit(True).alias("expired"),
                    F.lit(False).alias("readable"),
                )
            )
    assert current == len(slices)
    out_df = rows[0]
    for r in rows[1:]:
        out_df = out_df.unionByName(r)
    return out_df.orderBy("version")


# Write-Audit-Publish — the table-format release gate (Iceberg's WAP /
# Delta's constraint-checked commit): stage the snapshot, run the
# audit, and flip the pointer ONLY if the audit passes. A failed audit
# strands an unreferenced snap-*/ directory (harmless, vacuumable) and
# readers keep the last good version — the property that turns a bad
# pipeline run into a non-event instead of a bad release. Composes
# publish_snapshot's pointer protocol with a table_expectations-style
# constraint.
_WAP_CUT = "1997-06-01"  # fixture has orders past this -> attempt 2 fails its audit


def publish_if_clean(df: DataFrame, root: str, version: int, n_violations: int) -> bool:
    """Stage ``version`` unconditionally; commit it only when the audit
    found zero violations. Returns whether it published."""
    if n_violations == 0:
        publish_snapshot(df, root, version)
        return True
    stage_snapshot(df, root, version)
    return False


@query(
    "sink_checked_publish",
    oracle=f"""
    with o as (
      select cast(count(*) as bigint) as n,
             cast(sum(case when o_totalprice <= 0 then 1 else 0 end) as bigint) as bad_price,
             cast(sum(case when o_orderdate >= timestamp '{_WAP_CUT} 00:00:00'
                           then 1 else 0 end) as bigint) as late
      from orders
    )
    select 1 as version, n as n_candidate, bad_price as n_violations,
           bad_price = 0 as published, true as is_current, n as n_visible
    from o
    union all
    select 2 as version, n as n_candidate, late as n_violations,
           false as published, false as is_current, n as n_visible
    from o
    order by version
    """,
    tags=("sink", "snapshot", "quality", "governance", "bench_extended"),
)
def sink_checked_publish(spark: SparkSession, sf: str) -> DataFrame:
    """Two WAP attempts against one snapshot root: attempt 1 audits
    "totalprice positive" (clean on this corpus) and publishes;
    attempt 2 audits "no orders on/after _WAP_CUT" (the corpus has
    them) and is BLOCKED — the staged directory exists but _CURRENT
    still names version 1, and the reader-through-pointer row count
    proves it. The oracle recomputes both audits and the visible
    count from the source table.

    100 TB shape: the audit is one map-side-combined aggregate over
    the staged snapshot (or a scan-free metadata check when the rule
    maps to column stats); the publish step stays the O(1) pointer
    replace regardless of table size. This is the release discipline
    every write path here feeds (expectations -> gate -> flip), made
    into one auditable operator.
    """
    out = scratch_dir("ppspark_wap_")
    orders = t(spark, sf, "orders")
    rows = []
    audits = [
        (1, F.col("o_totalprice") <= 0),
        (2, F.col("o_orderdate") >= F.lit(f"{_WAP_CUT} 00:00:00").cast("timestamp")),
    ]
    for version, viol in audits:
        stats = orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(viol, 1).otherwise(0)).alias("bad"),
        ).collect()[0]  # eager-by-design: the audit verdict gates the pointer flip
        published = publish_if_clean(orders, out, version, int(stats["bad"]))
        rows.append((version, int(stats["n"]), int(stats["bad"]), published))
    current = current_snapshot_version(out)
    # the reader-through-pointer verification IS the operator's point
    n_visible = read_snapshot(spark, out).count()  # eager-by-design: sink round-trip barrier
    return spark.createDataFrame(
        [
            (v, n, bad, pub, v == current, n_visible)
            for (v, n, bad, pub) in rows
        ],
        "version int, n_candidate bigint, n_violations bigint, "
        "published boolean, is_current boolean, n_visible bigint",
    ).orderBy("version")


# Targeted delete — the right-to-be-forgotten path (GDPR art. 17 /
# CCPA): remove every row belonging to a target-key set from a
# partitioned table at rest, rewriting ONLY the partitions that
# contain a target (copy-on-write delete, the Delta/Iceberg
# DELETE FROM shape). Targets are a deterministic md5 sample of
# customers, so both engines derive the same key set; the audit row
# is pure key/count arithmetic the oracle replays, plus two physical
# facts the Spark side verifies directly (untouched partitions
# byte-stable, zero target rows visible after) that are true by
# construction.
_RTBF_BUCKETS = 16
_RTBF_MOD = 97  # ~1% of customers ask to be forgotten


def _rtbf_target_pred(key: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 13), 16, 10).cast("long")
        % _RTBF_MOD
        == 0
    )


@query(
    "sink_targeted_delete",
    oracle=f"""
    with targets as (
      select c_custkey from customer
      where ('0x' || substr(md5(cast(c_custkey as varchar)), 1, 13))::bigint
              % {_RTBF_MOD} = 0
    ),
    o as (select o_orderkey, o_custkey, o_custkey % {_RTBF_BUCKETS} as bucket
          from orders),
    stats as (
      -- coalesce: sum() over an EMPTY orders table is NULL, and the
      -- Spark side early-returns an all-zero audit row there — the
      -- empty-fixture rows must match (r9 ADVICE)
      select cast(count(*) as bigint) as rows_before,
             cast(count(distinct bucket) as bigint) as n_partitions,
             cast(coalesce(sum(case when t.c_custkey is not null
                                    then 1 else 0 end), 0)
                  as bigint) as rows_deleted,
             cast(count(distinct case when t.c_custkey is not null
                                      then bucket end) as bigint)
               as n_partitions_rewritten
      from o left join targets t on o.o_custkey = t.c_custkey
    )
    select n_partitions, n_partitions_rewritten, rows_before, rows_deleted,
           rows_before - rows_deleted as rows_after,
           cast(0 as bigint) as targets_remaining,
           true as untouched_intact
    from stats
    """,
    tags=("sink", "governance", "privacy", "delete", "bench_extended"),
)
def sink_targeted_delete(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write targeted delete over a bucket-partitioned orders
    table: write the table partitioned by ``o_custkey % _RTBF_BUCKETS``,
    pick the ~1% md5-sampled target customers, rewrite ONLY the
    partitions holding a target (:func:`rewrite_partitions` with the
    targets anti-joined out; a partition left with no rows is deleted),
    and emit one audit row. Two facts are verified PHYSICALLY, not
    assumed: every untouched partition's file listing is identical
    before and after (no spurious rewrite), and a full re-read finds
    zero target rows (the deletion took).

    100 TB shape: the rewrite cost is proportional to the AFFECTED
    partitions, not the table — the target-bucket filter prunes the
    scan to those directories (partition pruning on the read,
    dynamic-overwrite on the write replaces only matching dirs), and
    the anti-join broadcasts the (tiny) target-key set. Production
    swaps the modulo bucketing for the table's existing partition
    columns + a key->partition index; deletion-vector formats avoid
    even the partition rewrite, but the audit contract (counts +
    untouched-stability + zero-visible-targets) is format-agnostic.
    """
    out = scratch_dir("ppspark_rtbf_")
    o = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.pmod(F.col("o_custkey"), F.lit(_RTBF_BUCKETS)).alias("bucket"),
    )
    o.write.partitionBy("bucket").mode("overwrite").parquet(out)
    targets = (
        t(spark, sf, "customer")
        .where(_rtbf_target_pred(F.col("c_custkey")))
        .select(F.col("c_custkey").alias("target_key"))
    )
    stats = (
        o.join(F.broadcast(targets), o["o_custkey"] == F.col("target_key"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.countDistinct("bucket").cast("long").alias("n_partitions"),
            F.sum(F.when(F.col("target_key").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("rows_deleted"),
            F.countDistinct(
                F.when(F.col("target_key").isNotNull(), F.col("bucket"))
            )
            .cast("long")
            .alias("n_partitions_rewritten"),
        )
        .collect()[0]  # eager-by-design: the audit row gates the rewrite
    )
    if int(stats["rows_before"]) == 0:
        # empty table: the partitioned write produced no directories
        # (nothing to re-read or rewrite) — the audit row is all-zero
        # and vacuously intact
        return spark.createDataFrame(
            [(0, 0, 0, 0, 0, 0, True)],
            "n_partitions bigint, n_partitions_rewritten bigint, rows_before bigint, "
            "rows_deleted bigint, rows_after bigint, targets_remaining bigint, "
            "untouched_intact boolean",
        )
    tb = [
        r["bucket"]
        for r in targets.select(
            F.pmod(F.col("target_key"), F.lit(_RTBF_BUCKETS)).alias("bucket")
        )
        .distinct()
        .collect()  # eager-by-design: the affected-partition list IS catalog state (<= _RTBF_BUCKETS rows)
    ]
    untouched_intact = True
    if tb:
        remaining = (
            spark.read.parquet(out)
            .where(F.col("bucket").isin(tb))
            .join(F.broadcast(targets), F.col("o_custkey") == F.col("target_key"), "left_anti")
            .select("o_orderkey", "o_custkey", "bucket")
        )
        untouched_intact = rewrite_partitions(remaining, out, "bucket", tb)
    after = spark.read.parquet(out)
    targets_remaining = (
        after.join(F.broadcast(targets), F.col("o_custkey") == F.col("target_key"), "left_semi")
        .count()  # eager-by-design: sink round-trip barrier — proves the delete took
    )
    rows_after = int(stats["rows_before"]) - int(stats["rows_deleted"])
    return spark.createDataFrame(
        [
            (
                int(stats["n_partitions"]),
                int(stats["n_partitions_rewritten"]),
                int(stats["rows_before"]),
                int(stats["rows_deleted"]),
                rows_after,
                int(targets_remaining),
                bool(untouched_intact),
            )
        ],
        "n_partitions bigint, n_partitions_rewritten bigint, rows_before bigint, "
        "rows_deleted bigint, rows_after bigint, targets_remaining bigint, "
        "untouched_intact boolean",
    )


# Orphan-file vacuum — the table-maintenance op every lakehouse runs
# (Delta VACUUM / Iceberg remove_orphan_files): a failed task or
# aborted commit leaves data files INSIDE the table directory that no
# manifest references. Directory-listing readers then double-count;
# the vacuum reconciles listing vs manifest, deletes the orphans, and
# proves the table content unchanged through the manifest. The orphan
# is planted deterministically (a parquet file holding the
# o_orderkey % 1000 = 0 rows — an oracle-computable row count), so
# the whole audit ledger hash-checks while the detection/delete logic
# is the production listing-minus-manifest reconciliation.
@query(
    "table_vacuum_orphans",
    oracle="""
    with base as (
      select count(*) as n from orders
    ),
    orph as (
      select count(*) as n from orders where o_orderkey % 1000 = 0
    )
    select cast(least(4, greatest(base.n, 1)) as bigint) as n_tracked_files,
           cast(1 as bigint) as n_orphans_found,
           cast(1 as bigint) as n_orphans_deleted,
           cast(base.n + orph.n as bigint) as rows_dir_before,
           cast(base.n as bigint) as rows_dir_after,
           true as table_intact
    from base, orph
    """,
    # n_tracked_files is NOT hardcoded 4 (the canary-oracle lesson):
    # repartition(4) writes one file per NON-EMPTY partition — 4 for
    # any table of >= 4 rows, n for tinier ones, and one schema-only
    # file for an empty table — so least(4, greatest(n, 1)) holds at
    # every fixture size.
    tags=("sink", "maintenance", "vacuum", "bench_extended"),
)
def table_vacuum_orphans(spark: SparkSession, sf: str) -> DataFrame:
    """Reconcile a parquet table's directory listing against its file
    manifest, delete unreferenced data files, and prove the vacuum:
    a directory read double-counts BEFORE (the planted orphan's rows
    leak in) and matches the manifest exactly AFTER.

    100 TB shape: the manifest is catalog state (file-count rows); the
    listing-minus-manifest set difference is metadata-only — no data
    file is read to find orphans, and only orphans are deleted. The
    before/after row counts here are the AUDIT making the hazard
    visible; a production vacuum skips them (it trusts the manifest)
    and adds an age threshold so in-flight commits aren't swept.
    """
    out = scratch_dir("ppspark_vacuum_")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    o.repartition(4).write.mode("overwrite").parquet(out)
    manifest = sorted(
        f for f in os.listdir(out) if f.endswith(".parquet")
    )  # catalog state harvested at commit time
    # plant the orphan: a same-schema file no manifest references (the
    # leftover of a failed task), written elsewhere and moved in
    stray_dir = scratch_dir("ppspark_vacuum_stray_")
    o.where(F.col("o_orderkey") % 1000 == 0).coalesce(1).write.mode("overwrite").parquet(
        stray_dir
    )
    stray_part = next(f for f in os.listdir(stray_dir) if f.endswith(".parquet"))
    orphan_name = "part-99999-orphan-leftover.snappy.parquet"
    os.replace(os.path.join(stray_dir, stray_part), os.path.join(out, orphan_name))
    rows_dir_before = spark.read.parquet(out).count()  # eager-by-design: the audit demonstrating the double-count hazard
    listing = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    orphans = [f for f in listing if f not in set(manifest)]
    for f in orphans:
        os.remove(os.path.join(out, f))
    rows_dir_after = spark.read.parquet(out).count()  # eager-by-design: sink round-trip barrier
    manifest_rows = o.count()  # eager-by-design: audit ledger
    return spark.createDataFrame(
        [
            (
                len(manifest),
                len(orphans),
                len(orphans),
                int(rows_dir_before),
                int(rows_dir_after),
                bool(rows_dir_after == manifest_rows),
            )
        ],
        "n_tracked_files bigint, n_orphans_found bigint, n_orphans_deleted bigint, "
        "rows_dir_before bigint, rows_dir_after bigint, table_intact boolean",
    )


# N187: at-rest bloom-index pruned point lookup — the lakehouse
# point-lookup complement to the min/max manifest (N128): min/max
# stats prune RANGE predicates but are useless for high-cardinality
# equality keys scattered across files; per-partition bloom filters
# (what Parquet column indexes / Delta bloom options provide) prune
# those. The index here is the engine's md5 bloom (join_bloom_filtered
# recipe, k=2 seeds, fixed m) persisted as flat (bucket, pos) parquet
# — so the WHOLE construction, index bits included, replays in the
# oracle; physical pruning is proven by the partition-filtered
# read-back (plan-pinned), not promised.
_BLOOMIX_BUCKETS = 16
_BLOOMIX_M = 4096
_BLOOMIX_SEEDS = (1, 2)
_BLOOMIX_TARGET_MOD = 37


def _bloomix_pos(seed: int, key) -> F.Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        % _BLOOMIX_M
    )


def _bloomix_pos_sql(seed: int, key_sql: str) -> str:
    return (
        f"('0x' || substr(md5('{seed}:' || cast({key_sql} as varchar)), 1, 6))::bigint"
        f" % {_BLOOMIX_M}"
    )


@query(
    "sink_bloom_pruned_scan",
    oracle=f"""
    with o as (
      select o_orderkey, o_custkey, o_custkey % {_BLOOMIX_BUCKETS} as bucket
      from orders
    ),
    ix as (
      select distinct bucket, pos from (
        select bucket, unnest([{_bloomix_pos_sql(_BLOOMIX_SEEDS[0], "o_custkey")},
                               {_bloomix_pos_sql(_BLOOMIX_SEEDS[1], "o_custkey")}]) as pos
        from o
      )
    ),
    targets as (
      select c_custkey from customer
      where ('0x' || substr(md5(cast(c_custkey as varchar)), 1, 13))::bigint
              % {_BLOOMIX_TARGET_MOD} = 0
    ),
    tpos as (
      select c_custkey, b.bucket,
             {_bloomix_pos_sql(_BLOOMIX_SEEDS[0], "c_custkey")} as p1,
             {_bloomix_pos_sql(_BLOOMIX_SEEDS[1], "c_custkey")} as p2
      from targets cross join (select distinct bucket from ix) b
    ),
    probed as (
      select t.c_custkey, t.bucket
      from tpos t
      join ix i1 on i1.bucket = t.bucket and i1.pos = t.p1
      join ix i2 on i2.bucket = t.bucket and i2.pos = t.p2
    ),
    hits as (
      select t.c_custkey,
             cast(count(distinct p.bucket) as bigint) as n_buckets_probed,
             cast(coalesce(sum(case when o.o_orderkey is not null then 1 else 0 end), 0)
                  as bigint) as n_rows_found
      from targets t
      left join probed p on p.c_custkey = t.c_custkey
      left join o on o.bucket = p.bucket and o.o_custkey = t.c_custkey
      group by t.c_custkey
    ),
    full_cnt as (
      select t.c_custkey,
             cast(coalesce(sum(case when o.o_orderkey is not null then 1 else 0 end), 0)
                  as bigint) as n_rows_full
      from targets t left join o on o.o_custkey = t.c_custkey
      group by t.c_custkey
    )
    select h.c_custkey, h.n_buckets_probed, h.n_rows_found, f.n_rows_full,
           h.n_rows_found = f.n_rows_full as no_false_negatives
    from hits h join full_cnt f using (c_custkey)
    """,
    tags=("sink", "bloom", "layout", "scale", "bench_extended"),
)
def sink_bloom_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    """Write orders bucket-partitioned + a per-bucket bloom index at
    rest; answer point lookups by probing the index and scanning ONLY
    qualifying partitions.

    HASH-CHECKED end to end INCLUDING the index bits: positions are
    md5 arithmetic (engine-neutral literals), the index is flat
    (bucket, pos) rows, and the probe/count joins replay in DuckDB.
    The no-false-negatives column is the bloom guarantee as a FACT
    per key: the pruned scan finds exactly the full scan's rows.

    100 TB shape: the index is ~m bits per partition regardless of
    partition size (m rows/bucket at rest, worst case) and is read
    INSTEAD of the data for the membership decision; the data scan
    then touches only qualifying directories (PartitionFilters — the
    bucket-list predicate is pinned in test_plan_quality). The probed
    bucket list per key is a broadcast-scale intermediate (≤ B rows
    per target); the only collect is the audit's scan barrier.
    """
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", (F.col("o_custkey") % _BLOOMIX_BUCKETS).alias("bucket")
    )
    out = scratch_dir("ppspark_bloomix_")
    o.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
        f"{out}/table"
    )
    ix = (
        o.select(
            "bucket",
            F.explode(
                F.array(
                    *[_bloomix_pos(s, F.col("o_custkey")) for s in _BLOOMIX_SEEDS]
                )
            ).alias("pos"),
        )
        .distinct()
    )
    ix.write.mode("overwrite").parquet(f"{out}/index")
    ix_at_rest = spark.read.parquet(f"{out}/index")
    targets = (
        t(spark, sf, "customer")
        .where(
            F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 13), 16, 10)
            .cast("long")
            % _BLOOMIX_TARGET_MOD
            == 0
        )
        .select("c_custkey")
    )
    buckets = ix_at_rest.select("bucket").distinct()
    tpos = targets.crossJoin(F.broadcast(buckets)).select(
        "c_custkey",
        "bucket",
        _bloomix_pos(_BLOOMIX_SEEDS[0], F.col("c_custkey")).alias("p1"),
        _bloomix_pos(_BLOOMIX_SEEDS[1], F.col("c_custkey")).alias("p2"),
    )
    i1 = ix_at_rest.select(F.col("bucket").alias("b1"), F.col("pos").alias("pos1"))
    i2 = ix_at_rest.select(F.col("bucket").alias("b2"), F.col("pos").alias("pos2"))
    probed = (
        tpos.join(
            F.broadcast(i1), (F.col("bucket") == F.col("b1")) & (F.col("p1") == F.col("pos1"))
        )
        .join(
            F.broadcast(i2), (F.col("bucket") == F.col("b2")) & (F.col("p2") == F.col("pos2"))
        )
        .select("c_custkey", "bucket")
    )
    # the PHYSICAL pruned scan: read back only the qualifying
    # partition directories (eager-by-design: the probed bucket list
    # is <= B * n_targets rows — the audit's scan barrier)
    probe_rows = probed.collect()  # eager-by-design: <= B * n_targets rows — the pruned scan's partition list
    probed_buckets = sorted({r["bucket"] for r in probe_rows})
    at_rest = spark.read.schema("o_orderkey long, o_custkey long, bucket int").parquet(
        f"{out}/table"
    )
    pruned = at_rest.where(F.col("bucket").isin([int(b) for b in probed_buckets] or [-1]))
    pairs = spark.createDataFrame(
        [(int(r["c_custkey"]), int(r["bucket"])) for r in probe_rows],
        "c_custkey long, p_bucket int",
    )
    found = (
        targets.join(pairs, "c_custkey", "left")
        .join(
            pruned.select(
                F.col("o_orderkey").alias("f_orderkey"),
                F.col("o_custkey").alias("f_custkey"),
                F.col("bucket").alias("f_bucket"),
            ),
            (F.col("p_bucket") == F.col("f_bucket"))
            & (F.col("c_custkey") == F.col("f_custkey")),
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.countDistinct("p_bucket").cast("long").alias("n_buckets_probed"),
            F.coalesce(
                F.sum(F.when(F.col("f_orderkey").isNotNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_rows_found"),
        )
    )
    full = (
        targets.join(
            o.select(
                F.col("o_orderkey").alias("g_orderkey"), F.col("o_custkey").alias("g_custkey")
            ),
            F.col("c_custkey") == F.col("g_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("g_orderkey").isNotNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_rows_full")
        )
    )
    return found.join(full, "c_custkey").select(
        "c_custkey",
        "n_buckets_probed",
        "n_rows_found",
        "n_rows_full",
        (F.col("n_rows_found") == F.col("n_rows_full")).alias("no_false_negatives"),
    )


# Batch MERGE (upsert) — the lakehouse MERGE INTO shape (Delta/Iceberg
# copy-on-write): one change batch carrying inserts, updates, AND
# deletes lands against a partitioned table at rest; only the
# partitions holding a changed key are rewritten. Complements
# sink_targeted_delete (delete-only, key-set driven): MERGE is the
# CDC-apply path, where per-row actions differ and matched/not-matched
# semantics decide them. The change batch is derived deterministically
# from orders by disjoint modulo classes (delete > update > insert
# precedence), so the audit ledger is pure arithmetic both engines
# replay; the two physical facts (untouched partitions byte-stable,
# merged state visible exactly) are verified directly by re-reading.
_MERGE_BUCKETS = 16
_MERGE_DEL = 17  # o_orderkey % 17 == 0 -> DELETE
_MERGE_UPD = 11  # else % 11 == 0      -> UPDATE (status -> 'U')
_MERGE_INS = 13  # else % 13 == 0      -> INSERT (key -> -k, status 'I')


@query(
    "sink_merge_upsert",
    oracle=f"""
    with o as (
      select o_orderkey as k, o_orderkey % {_MERGE_BUCKETS} as bucket from orders
    ),
    cls as (
      select k, bucket,
             k % {_MERGE_DEL} = 0 as is_del,
             k % {_MERGE_DEL} <> 0 and k % {_MERGE_UPD} = 0 as is_upd,
             k % {_MERGE_DEL} <> 0 and k % {_MERGE_UPD} <> 0
               and k % {_MERGE_INS} = 0 as is_ins
      from o
    ),
    s as (
      select cast(count(*) as bigint) as rows_before,
             cast(count(distinct bucket) as bigint) as n_partitions,
             cast(coalesce(sum(case when is_upd then 1 else 0 end), 0) as bigint)
               as n_updated,
             cast(coalesce(sum(case when is_del then 1 else 0 end), 0) as bigint)
               as n_deleted,
             cast(coalesce(sum(case when is_ins then 1 else 0 end), 0) as bigint)
               as n_inserted,
             cast(count(distinct case
                    when is_del or is_upd then bucket
                    when is_ins then (((-k) % {_MERGE_BUCKETS}) + {_MERGE_BUCKETS})
                                      % {_MERGE_BUCKETS}
                  end) as bigint) as n_partitions_rewritten
      from cls
    )
    select rows_before, n_updated, n_deleted, n_inserted,
           rows_before - n_deleted + n_inserted as rows_after,
           n_partitions, n_partitions_rewritten,
           true as untouched_intact, true as merge_ok
    from s
    """,
    tags=("sink", "merge", "upsert", "cdc", "bench_extended"),
)
def sink_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Copy-on-write MERGE against a bucket-partitioned orders table:
    write orders partitioned by ``o_orderkey % nb``, derive a change
    batch (deletes % d, updates % u -> status 'U', inserts % i -> key
    -k / status 'I'; nb=_MERGE_BUCKETS, d=_MERGE_DEL, u=_MERGE_UPD,
    i=_MERGE_INS; precedence delete > update > insert keeps the
    classes disjoint), rewrite ONLY the buckets containing a changed
    key (:func:`rewrite_partitions`, which also deletes a bucket the
    merge empties), and emit one audit row. Verified physically, not
    assumed: untouched partitions' file listings are identical
    before/after, and a full re-read shows every delete gone, every
    insert present with status 'I', every update reading 'U'
    (``merge_ok``).

    100 TB shape: the MERGE cost is proportional to AFFECTED
    partitions — the rewrite scan partition-prunes to the touched
    buckets, the change batch joins in broadcast (change batches are
    small relative to the table by construction of CDC), and
    dynamic-partition overwrite swaps only matching directories.
    Production swaps modulo bucketing for the table's partition
    spec + a key->partition index, and deletion-vector/MoR formats
    defer the rewrite — the audit contract is format-agnostic.
    """
    out = scratch_dir("ppspark_merge_")
    k = F.col("o_orderkey")
    base = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.pmod(k, F.lit(_MERGE_BUCKETS)).alias("bucket"),
    )
    base.write.partitionBy("bucket").mode("overwrite").parquet(out)

    is_del = k % _MERGE_DEL == 0
    is_upd = (k % _MERGE_DEL != 0) & (k % _MERGE_UPD == 0)
    is_ins = (k % _MERGE_DEL != 0) & (k % _MERGE_UPD != 0) & (k % _MERGE_INS == 0)
    stats = (
        base.agg(
            F.count(F.lit(1)).cast("long").alias("rows_before"),
            F.countDistinct("bucket").cast("long").alias("n_partitions"),
            F.sum(F.when(is_upd, 1).otherwise(0)).cast("long").alias("n_updated"),
            F.sum(F.when(is_del, 1).otherwise(0)).cast("long").alias("n_deleted"),
            F.sum(F.when(is_ins, 1).otherwise(0)).cast("long").alias("n_inserted"),
            F.countDistinct(
                F.when(is_del | is_upd, F.col("bucket")).otherwise(
                    F.when(is_ins, F.pmod(-k, F.lit(_MERGE_BUCKETS)))
                )
            )
            .cast("long")
            .alias("n_partitions_rewritten"),
        ).collect()[0]  # eager-by-design: the audit row gates the rewrite
    )
    schema = (
        "rows_before bigint, n_updated bigint, n_deleted bigint, n_inserted bigint, "
        "rows_after bigint, n_partitions bigint, n_partitions_rewritten bigint, "
        "untouched_intact boolean, merge_ok boolean"
    )
    if int(stats["rows_before"]) == 0:
        return spark.createDataFrame([(0, 0, 0, 0, 0, 0, 0, True, True)], schema)

    # affected-bucket list IS catalog state (<= _MERGE_BUCKETS rows)
    tb = sorted(
        r["b"]
        for r in base.where(is_del | is_upd)
        .select(F.col("bucket").alias("b"))
        .union(base.where(is_ins).select(F.pmod(-k, F.lit(_MERGE_BUCKETS)).alias("b")))
        .distinct()
        .collect()  # eager-by-design: see above
    )
    untouched_intact = True
    if tb:
        at_rest = spark.read.parquet(out).where(F.col("bucket").isin(tb))
        ks = F.col("o_orderkey")
        survivors = at_rest.where(~(ks % _MERGE_DEL == 0)).select(
            "o_orderkey",
            "o_custkey",
            F.when(
                (ks % _MERGE_DEL != 0) & (ks % _MERGE_UPD == 0), F.lit("U")
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "bucket",
        )
        inserts = base.where(is_ins).select(
            (-k).alias("o_orderkey"),
            "o_custkey",
            F.lit("I").alias("o_orderstatus"),
            F.pmod(-k, F.lit(_MERGE_BUCKETS)).alias("bucket"),
        )
        merged = survivors.unionByName(inserts)
        untouched_intact = rewrite_partitions(merged, out, "bucket", tb)
    after = spark.read.parquet(out)
    ka = F.col("o_orderkey")
    checks = (
        after.agg(
            F.sum(F.when((ka > 0) & (ka % _MERGE_DEL == 0), 1).otherwise(0)).alias(
                "dels_visible"
            ),
            F.sum(
                F.when((ka < 0) & (F.col("o_orderstatus") == "I"), 1).otherwise(0)
            ).alias("ins_visible"),
            F.sum(
                F.when(
                    (ka > 0)
                    & (ka % _MERGE_DEL != 0)
                    & (ka % _MERGE_UPD == 0)
                    & (F.col("o_orderstatus") == "U"),
                    1,
                ).otherwise(0)
            ).alias("upds_applied"),
        ).collect()[0]  # eager-by-design: sink round-trip barrier — proves the merge took
    )
    merge_ok = (
        int(checks["dels_visible"]) == 0
        and int(checks["ins_visible"]) == int(stats["n_inserted"])
        and int(checks["upds_applied"]) == int(stats["n_updated"])
    )
    rows_after = (
        int(stats["rows_before"]) - int(stats["n_deleted"]) + int(stats["n_inserted"])
    )
    return spark.createDataFrame(
        [
            (
                int(stats["rows_before"]),
                int(stats["n_updated"]),
                int(stats["n_deleted"]),
                int(stats["n_inserted"]),
                rows_after,
                int(stats["n_partitions"]),
                int(stats["n_partitions_rewritten"]),
                bool(untouched_intact),
                bool(merge_ok),
            )
        ],
        schema,
    )


# N210: time-travel read against the snapshot commit LOG — the reader
# half the versioned sink's story was missing: "AS OF" resolution maps
# a requested timestamp to the newest version whose commit is <= it
# (exactly Delta's DESCRIBE HISTORY walk / Iceberg's
# snapshot-log lookup). Commit times here are LOGICAL sequence
# timestamps recorded in the log at publish (100*version) — the
# resolution algebra is identical to wall-clock logs and, unlike
# wall-clock, reproducible for the oracle.
_TT_CUTS = ("1995-01-01", "1996-01-01", None)  # v1, v2, v3=full


@query(
    "sink_time_travel_read",
    oracle=f"""
    with q(as_of_ts) as (select unnest([150, 250, 990])),
    v1 as (select cast(count(*) as bigint) n, {dsum_sql("o_totalprice", "tp")}
           from orders where o_orderdate < timestamp '{_TT_CUTS[0]} 00:00:00'),
    v2 as (select cast(count(*) as bigint) n, {dsum_sql("o_totalprice", "tp")}
           from orders where o_orderdate < timestamp '{_TT_CUTS[1]} 00:00:00'),
    v3 as (select cast(count(*) as bigint) n, {dsum_sql("o_totalprice", "tp")}
           from orders)
    select q.as_of_ts,
           cast(least(q.as_of_ts // 100, 3) as int) as resolved_version,
           case least(q.as_of_ts // 100, 3) when 1 then (select n from v1)
                when 2 then (select n from v2) else (select n from v3) end as n_rows,
           case least(q.as_of_ts // 100, 3) when 1 then (select tp from v1)
                when 2 then (select tp from v2) else (select tp from v3) end
             as total_price
    from q order by q.as_of_ts
    """,
    tags=("sink", "layout", "versioning", "time-travel", "bench_extended"),
)
def sink_time_travel_read(spark: SparkSession, sf: str) -> DataFrame:
    """Publish three snapshots of orders (growing date cuts) with a
    commit log of (version, logical commit_ts = 100*version), then
    resolve three AS-OF reads (ts 150, 250, 990) through the log —
    newest commit <= ts — and report each resolved version's row
    count + exact total. The oracle recomputes every version from
    source, proving both the snapshots and the resolution rule.

    100 TB shape: resolution reads the LOG (one tiny file), never
    data; each as-of read then scans exactly one immutable snapshot
    directory — the O(1)-metadata + O(snapshot)-data contract all
    table formats give. The snapshots share the publish_snapshot
    pointer-flip commit protocol.
    """
    import json as _json

    out = scratch_dir("ppspark_timetravel_")
    orders = t(spark, sf, "orders")
    log_path = os.path.join(out, "_LOG")
    entries = []
    for v, cut in enumerate(_TT_CUTS, start=1):
        snap = orders if cut is None else orders.where(
            F.col("o_orderdate") < F.lit(f"{cut} 00:00:00").cast("timestamp")
        )
        publish_snapshot(snap, out, v)
        entries.append({"version": v, "commit_ts": 100 * v})
        with open(log_path + ".tmp", "w") as fh:
            fh.write("\n".join(_json.dumps(e) for e in entries))
        os.replace(log_path + ".tmp", log_path)  # log commit follows the pointer flip

    def resolve(as_of_ts: int) -> int:
        with open(log_path) as fh:
            log = [_json.loads(ln) for ln in fh if ln.strip()]
        eligible = [e["version"] for e in log if e["commit_ts"] <= as_of_ts]
        if not eligible:
            raise ValueError(f"no snapshot at or before ts {as_of_ts}")
        return max(eligible)

    reads = None
    for ts in (150, 250, 990):
        v = resolve(ts)
        one = read_snapshot(spark, out, v).agg(
            F.lit(ts).cast("int").alias("as_of_ts"),
            F.lit(v).cast("int").alias("resolved_version"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "total_price"),
        ).select("as_of_ts", "resolved_version", "n_rows", "total_price")
        reads = one if reads is None else reads.unionByName(one)
    return reads.orderBy("as_of_ts")


# N218: merge-on-read DELETE with deletion vectors — the MoR half of
# the lakehouse delete story (sink_targeted_delete and
# sink_merge_upsert are copy-on-write: they REWRITE touched
# partitions). Deletion vectors (Delta DVs / Iceberg positional
# deletes) instead write a tiny sidecar marking dead rows; readers
# anti-join it on the fly, and a later compaction folds the vectors
# into rewritten files. Deletes become O(|deleted keys|) writes
# instead of O(|touched partitions|) rewrites — the trade is read
# amplification until compaction.
_DV_BUCKETS = 8
_DV_DEL = 13  # o_orderkey % 13 == 0 -> deleted


@query(
    "sink_merge_on_read_dv",
    oracle=f"""
    with o as (
      select o_orderkey, o_orderkey % {_DV_BUCKETS} as bucket,
             o_orderkey % {_DV_DEL} = 0 as dead
      from orders
    )
    select cast(count(*) as bigint) as rows_before,
           cast(count(case when dead then 1 end) as bigint) as n_deleted,
           cast(count(case when not dead then 1 end) as bigint) as rows_read,
           cast(count(distinct case when dead then bucket end) as bigint)
             as n_dv_files,
           true as base_files_untouched, true as compaction_ok
    from o
    """,
    tags=("sink", "merge-on-read", "deletion-vectors", "cdc", "bench_extended"),
)
def sink_merge_on_read_dv(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read delete: write orders bucket-partitioned, apply a
    delete set (keys % _DV_DEL == 0) as PER-BUCKET deletion-vector
    sidecars under _dv/ — base data files byte-untouched (verified by
    file-listing compare, the MoR contract) — serve reads through the
    base ⟕anti DV join, then COMPACT (fold vectors into rewritten
    files) and verify the compacted table equals the served view
    row-for-row. One audit row; both physical verdicts are
    oracle-true tripwires (hash compare fails loudly if either
    physical fact breaks).

    100 TB shape: the delete writes |deleted keys| rows of sidecar
    and nothing else — no partition rewrite, which is why MoR wins
    write-heavy CDC; the serve-path anti join broadcasts the DV side
    (deletion vectors are small relative to data by construction —
    a DV bigger than its partition means compaction is overdue);
    compaction is the deferred partition-pruned rewrite, amortized
    over many deletes. Real DVs are positional bitmaps inside the
    format; the key-set sidecar here carries the same semantics at
    the engine level.
    """
    import shutil

    out = scratch_dir("ppspark_mor_dv_")
    base_dir = os.path.join(out, "base")
    dv_dir = os.path.join(out, "dv")
    k = F.col("o_orderkey")
    base = t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.pmod(k, F.lit(_DV_BUCKETS)).alias("bucket"),
    )
    schema = (
        "rows_before bigint, n_deleted bigint, rows_read bigint, "
        "n_dv_files bigint, base_files_untouched boolean, compaction_ok boolean"
    )
    if base.isEmpty():  # partitionBy of zero rows writes no readable files
        return spark.createDataFrame([(0, 0, 0, 0, True, True)], schema)
    base.write.partitionBy("bucket").mode("overwrite").parquet(base_dir)

    listing_before = partition_files(base_dir, "bucket")
    # the DELETE: write the dead keys as per-bucket sidecars — the only
    # bytes this operation writes anywhere
    dv = base.where(k % _DV_DEL == 0).select("o_orderkey", "bucket")
    dv.write.partitionBy("bucket").mode("overwrite").parquet(dv_dir)
    base_untouched = partition_files(base_dir, "bucket") == listing_before

    at_rest = spark.read.parquet(base_dir)
    dv_read = spark.read.parquet(dv_dir).select("o_orderkey", "bucket")
    served = at_rest.join(
        F.broadcast(dv_read), ["o_orderkey", "bucket"], "left_anti"
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("rows_before"),
        F.count(F.when(k % _DV_DEL == 0, 1)).cast("long").alias("n_deleted"),
        F.countDistinct(F.when(k % _DV_DEL == 0, F.col("bucket"))).cast("long").alias("n_dv_files"),
    ).collect()[0]  # eager-by-design: audit counts gate the verdict row
    rows_read = served.count()  # eager-by-design: the served-view barrier

    # COMPACTION: fold the vectors into rewritten files, drop the DVs,
    # and prove the compacted table is exactly the served view
    compact_dir = os.path.join(out, "compacted")
    served.write.partitionBy("bucket").mode("overwrite").parquet(compact_dir)
    compacted = spark.read.parquet(compact_dir)
    # eager-by-design: sink round-trip barrier — symmetric multiset compare
    diff = (
        compacted.groupBy("o_orderkey").count()  # lazy
        .join(
            served.groupBy("o_orderkey").count().withColumnRenamed("count", "c2"),  # lazy
            "o_orderkey",
            "full_outer",
        )
        .where(
            F.coalesce(F.col("count"), F.lit(0)) != F.coalesce(F.col("c2"), F.lit(0))
        )
        .count()  # eager-by-design: sink round-trip verification barrier
    )
    compaction_ok = diff == 0 and compacted.count() == rows_read  # eager-by-design: barrier
    # vacuum the vectors LAST — verify-then-drop, the production order
    # (the diff above still lazily reads served, which reads the DVs)
    shutil.rmtree(dv_dir)
    return spark.createDataFrame(
        [
            (
                int(stats["rows_before"]),
                int(stats["n_deleted"]),
                int(rows_read),
                int(stats["n_dv_files"]),
                bool(base_untouched),
                bool(compaction_ok),
            )
        ],
        schema,
    )


# N219: change data feed between two table versions (Delta CDF /
# Iceberg changelog): the committed difference expressed as typed
# change rows — insert / delete / update_preimage + update_postimage
# (updates emit BOTH images, the contract that lets downstream
# consumers maintain aggregates without re-reading the table;
# table_diff (N67) reports the same delta as a summary, CDF is the
# row-level feed a subscriber replays). Versions derive from orders
# by the merge-upsert modulo classes, so the feed is deterministic.
@query(
    "scan_change_data_feed",
    oracle=f"""
    with v1 as (
      select o_orderkey, o_orderstatus from orders
    ),
    v2 as (
      select case when o_orderkey % {_MERGE_DEL} = 0 then null
                  else o_orderkey end as o_orderkey,
             case when o_orderkey % {_MERGE_DEL} <> 0
                   and o_orderkey % {_MERGE_UPD} = 0 then 'U'
                  else o_orderstatus end as o_orderstatus
      from orders
      union all
      select -o_orderkey, 'I' from orders
      where o_orderkey % {_MERGE_DEL} <> 0 and o_orderkey % {_MERGE_UPD} <> 0
        and o_orderkey % {_MERGE_INS} = 0
    ),
    v2c as (select * from v2 where o_orderkey is not null),
    feed as (
      select coalesce(a.o_orderkey, b.o_orderkey) as o_orderkey,
             case when b.o_orderkey is null then 'delete'
                  when a.o_orderkey is null then 'insert'
                  when a.o_orderstatus <> b.o_orderstatus then 'update'
             end as kind,
             a.o_orderstatus as pre_status, b.o_orderstatus as post_status
      from v1 a full outer join v2c b on a.o_orderkey = b.o_orderkey
    )
    select o_orderkey, 'delete' as change_type, pre_status as o_orderstatus
    from feed where kind = 'delete'
    union all
    select o_orderkey, 'insert', post_status from feed where kind = 'insert'
    union all
    select o_orderkey, 'update_preimage', pre_status from feed where kind = 'update'
    union all
    select o_orderkey, 'update_postimage', post_status from feed where kind = 'update'
    """,
    tags=("scan", "cdc", "cdf", "versioning", "bench_extended"),
)
def scan_change_data_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level CDF between version 1 (orders as-is) and version 2
    (the merge-upsert change classes applied): deletes carry the
    preimage, inserts the postimage, updates BOTH images as two rows
    — exactly what a downstream incremental consumer replays.

    100 TB shape: one full-outer join on the table key (the minimal
    information-theoretic cost of diffing two unversioned snapshots;
    a format with a commit log derives the same feed from the log at
    O(delta) — this operator is the log-free fallback and the
    correctness spec for it), then a 4-way typed projection that
    expands only changed keys. Unchanged keys never leave the join.
    """
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    v2 = (
        o.where(~(k % _MERGE_DEL == 0))
        .select(
            "o_orderkey",
            F.when((k % _MERGE_UPD == 0), F.lit("U"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
        .unionByName(
            o.where((k % _MERGE_DEL != 0) & (k % _MERGE_UPD != 0) & (k % _MERGE_INS == 0))
            .select((-k).alias("o_orderkey"), F.lit("I").alias("o_orderstatus"))
        )
    )
    a = o.select(F.col("o_orderkey"), F.col("o_orderstatus").alias("pre_status"))
    b = v2.select(F.col("o_orderkey"), F.col("o_orderstatus").alias("post_status"))
    feed = a.join(b, "o_orderkey", "full_outer")
    deletes = feed.where(F.col("post_status").isNull()).select(
        "o_orderkey", F.lit("delete").alias("change_type"),
        F.col("pre_status").alias("o_orderstatus"),
    )
    inserts = feed.where(F.col("pre_status").isNull()).select(
        "o_orderkey", F.lit("insert").alias("change_type"),
        F.col("post_status").alias("o_orderstatus"),
    )
    upd = feed.where(
        F.col("pre_status").isNotNull()
        & F.col("post_status").isNotNull()
        & (F.col("pre_status") != F.col("post_status"))
    )
    pre = upd.select(
        "o_orderkey", F.lit("update_preimage").alias("change_type"),
        F.col("pre_status").alias("o_orderstatus"),
    )
    post = upd.select(
        "o_orderkey", F.lit("update_postimage").alias("change_type"),
        F.col("post_status").alias("o_orderstatus"),
    )
    return deletes.unionByName(inserts).unionByName(pre).unionByName(post)
