"""Sink-protocol contract tests: crash behavior of the versioned
snapshot commit (the pointer-file protocol sink_versioned_snapshots
publishes with), the copy-on-write partition rewrite, and the
training-shard layout contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.io import (
    current_snapshot_version,
    expire_snapshots,
    partition_files,
    publish_snapshot,
    read_snapshot,
    rewrite_partitions,
    stage_snapshot,
)
from parquet_processor_spark.tables import t

from .conftest import SF_SMALL


def test_crashed_writer_never_tears_the_current_snapshot(spark, tmp_path):
    # A writer that dies AFTER writing snap-3/ but BEFORE flipping the
    # pointer must leave readers on a complete version 2 — the whole
    # point of flipping the pointer last.
    root = str(tmp_path)
    orders = t(spark, SF_SMALL, "orders")
    publish_snapshot(orders.limit(10), root, 1)
    publish_snapshot(orders.limit(25), root, 2)
    # simulate the crash: data written, pointer flip never happened
    stage_snapshot(orders.limit(40), root, 3)
    assert current_snapshot_version(root) == 2
    assert read_snapshot(spark, root).count() == 25
    # time travel to v1 still works; the stranded v3 dir is vacuumable
    assert read_snapshot(spark, root, 1).count() == 10


def test_crashed_pointer_tmp_is_ignored(spark, tmp_path):
    # A crash BETWEEN writing _CURRENT.tmp and os.replace leaves the
    # tmp file behind; readers must still resolve the committed pointer.
    root = str(tmp_path)
    orders = t(spark, SF_SMALL, "orders")
    publish_snapshot(orders.limit(10), root, 1)
    with open(os.path.join(root, "_CURRENT.tmp"), "w") as fh:
        fh.write("9")  # torn writer's leftover
    assert current_snapshot_version(root) == 1


def test_expire_keeps_the_current_and_newer_staged_versions(spark, tmp_path):
    # Expiry is delete-behind: it never removes the committed version,
    # nor a staged version newer than it, whatever ``keep`` says; an
    # empty root has no version and nothing to expire.
    root = str(tmp_path)
    assert current_snapshot_version(root) is None
    assert expire_snapshots(root, keep=1) == []
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root)
    orders = t(spark, SF_SMALL, "orders")
    publish_snapshot(orders.limit(10), root, 1)
    publish_snapshot(orders.limit(25), root, 2)
    stage_snapshot(orders.limit(40), root, 3)
    assert expire_snapshots(root, keep=1) == [1]
    assert read_snapshot(spark, root).count() == 25
    assert read_snapshot(spark, root, 3).count() == 40


def test_shard_assignment_is_a_pure_function_of_doc_id(spark):
    # Re-running the shard query must produce the identical manifest —
    # no rand(), no partition-count dependence.
    from parquet_processor_spark.registry import all_queries

    q = all_queries()["sink_training_shards"]
    a = {r["shard"]: (r["n_docs"], r["min_hash"], r["first_doc"]) for r in q(spark, SF_SMALL).collect()}
    b = {r["shard"]: (r["n_docs"], r["min_hash"], r["first_doc"]) for r in q(spark, SF_SMALL).collect()}
    assert a == b and len(a) == 16


def test_manifest_pruning_selects_a_strict_file_subset(spark, sf_dir, tmp_path):
    # The manifest must actually SKIP files for a sub-range probe —
    # otherwise the op degenerates to a full scan with extra steps.
    import tempfile

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.roundtrip import (
        _MANIFEST_FILES,
        _MANIFEST_HI,
        _MANIFEST_LO,
    )
    from parquet_processor_spark.tables import t

    out = str(tmp_path / "clustered")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    (
        o.repartitionByRange(_MANIFEST_FILES, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    manifest = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()
    )
    assert len(manifest) == _MANIFEST_FILES
    selected = [
        r
        for r in manifest
        if not (str(r["hi"]) < _MANIFEST_LO or str(r["lo"]) > _MANIFEST_HI)
    ]
    # orders span 1992-1998; a one-year probe must skip most files
    assert 0 < len(selected) < _MANIFEST_FILES / 2 + 1


def test_dynamic_overwrite_touches_only_the_restated_day(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.roundtrip import _RESTATE_DAY
    from parquet_processor_spark.tables import t

    out = str(tmp_path / "days")
    e = (
        t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "value", F.to_date("ts").alias("event_date"))
    )
    e.write.mode("overwrite").partitionBy("event_date").parquet(out)
    import os

    before = {
        d: sorted(os.listdir(os.path.join(out, d)))
        for d in os.listdir(out)
        if d.startswith("event_date=")
    }
    day = F.lit(_RESTATE_DAY).cast("date")
    (
        e.where(F.col("event_date") == day)
        .withColumn("value", F.col("value") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(out)
    )
    after = {
        d: sorted(os.listdir(os.path.join(out, d)))
        for d in os.listdir(out)
        if d.startswith("event_date=")
    }
    changed = [d for d in before if before[d] != after.get(d)]
    assert changed == [f"event_date={_RESTATE_DAY}"]
    assert set(before) == set(after), "dynamic overwrite dropped sibling partitions"


def test_rewrite_partitions_drops_emptied_and_keeps_untouched_partitions(spark, tmp_path):
    # p=0 is touched and gets no rows (emptied: its directory must go),
    # p=1 is touched and rewritten, p=2 is untouched (listing and bytes
    # stable); a write that lands outside `touched` reports False
    import hashlib

    root = str(tmp_path / "t")
    rows = spark.createDataFrame([(i, i % 3) for i in range(12)], "k long, p int")
    rows.write.partitionBy("p").mode("overwrite").parquet(root)

    def digests(value):
        d = tmp_path / "t" / f"p={value}"
        return {f.name: hashlib.md5(f.read_bytes()).hexdigest() for f in d.iterdir()}

    before = partition_files(root, "p")
    assert sorted(before) == ["0", "1", "2"] and all(before.values())
    kept = digests(2)
    new = spark.read.parquet(root).where(F.col("p") == 1).withColumn("k", F.col("k") * 10)
    assert rewrite_partitions(new, root, "p", [0, 1])
    after = partition_files(root, "p")
    assert sorted(after) == ["1", "2"]
    assert after["1"] != before["1"] and after["2"] == before["2"]
    assert digests(2) == kept
    got = sorted((r["k"], r["p"]) for r in spark.read.parquet(root).collect())
    assert got == sorted([(k * 10, 1) for k in (1, 4, 7, 10)] + [(k, 2) for k in (2, 5, 8, 11)])

    outside = spark.createDataFrame([(99, 2)], "k long, p int")
    assert not rewrite_partitions(outside, root, "p", [1])


def test_checked_publish_blocks_dirty_snapshots_and_keeps_readers_on_last_good(spark, sf_dir):
    # WAP contract: the failed attempt's directory is STAGED (exists,
    # readable, vacuumable) but _CURRENT still names the last clean
    # version, and a reader through the pointer sees version 1's rows.
    import glob
    import os

    from parquet_processor_spark.ops.roundtrip import publish_if_clean
    from parquet_processor_spark.tables import t

    import tempfile

    root = tempfile.mkdtemp(prefix="wap_test_")
    orders = t(spark, sf_dir, "orders")
    assert publish_if_clean(orders.limit(10), root, 1, n_violations=0)
    assert not publish_if_clean(orders, root, 2, n_violations=5)
    assert current_snapshot_version(root) == 1
    assert os.path.isdir(os.path.join(root, "snap-2"))  # staged, unreferenced
    assert read_snapshot(spark, root).count() == 10
    # a later clean attempt publishes over the stranded stage
    assert publish_if_clean(orders.limit(20), root, 3, n_violations=0)
    assert current_snapshot_version(root) == 3
    assert len(glob.glob(os.path.join(root, "snap-*"))) == 3
