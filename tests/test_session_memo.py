"""session_memo: the one session-scoped memo (parquet_processor_spark.session).

Pins the contract bench.py relies on when it derives its serve-path
rows from the memo lookup counts: one build per (session, name, sf),
explicit eviction, rebuild when the cached frame is gone, and which
query builds look a memo up at all.
"""

from __future__ import annotations

from parquet_processor_spark.registry import all_queries
from parquet_processor_spark.session import (
    clear_session_memos,
    session_memo,
    session_memo_counts,
)


def _lookups(name: str | None = None) -> int:
    counts = session_memo_counts()
    names = [name] if name else list(counts)
    return sum(counts[n]["hits"] + counts[n]["misses"] for n in names if n in counts)


def test_hit_returns_same_object_after_one_build(spark, sf_dir):
    builds = []

    def build():
        builds.append(1)
        return object()

    first = session_memo(spark, "test_hit", sf_dir, build)
    before = session_memo_counts()["test_hit"]
    assert session_memo(spark, "test_hit", sf_dir, build) is first
    assert len(builds) == 1
    after = session_memo_counts()["test_hit"]
    assert after == {"hits": before["hits"] + 1, "misses": before["misses"]}


def test_clear_session_memos_forces_rebuild(spark, sf_dir):
    builds = []

    def build():
        builds.append(1)
        return object()

    first = session_memo(spark, "test_clear", sf_dir, build)
    clear_session_memos()
    second = session_memo(spark, "test_clear", sf_dir, build)
    assert second is not first and len(builds) == 2
    assert session_memo(spark, "test_clear", sf_dir, build) is second


def test_signature_memo_hits_then_rebuilds_after_clear_cache(spark, sf_dir):
    from parquet_processor_spark.ops.dedup import _minhash_sig_cached

    sig = _minhash_sig_cached(spark, sf_dir)
    assert _minhash_sig_cached(spark, sf_dir) is sig
    spark.catalog.clearCache()
    rebuilt = _minhash_sig_cached(spark, sf_dir)
    assert rebuilt is not sig
    assert rebuilt.storageLevel.useMemory
    assert _minhash_sig_cached(spark, sf_dir) is rebuilt
    # eviction releases the cached frame: an end-to-end rebuild after
    # clear_session_memos() recomputes the signatures
    clear_session_memos()
    assert not rebuilt.storageLevel.useMemory


def test_memo_lookups_mark_serve_path_builds(spark, sf_dir):
    # bench.py marks a row serve-path iff its warm build looked up a
    # memo: dedup_connected_lsh reads the signature memo through
    # dedup_near, dedup_incremental reads none
    queries = all_queries()
    before = _lookups("minhash_sig")
    queries["dedup_connected_lsh"](spark, sf_dir)
    assert _lookups("minhash_sig") > before
    before = _lookups()
    queries["dedup_incremental"](spark, sf_dir)
    assert _lookups() == before
