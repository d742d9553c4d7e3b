"""SparkSession factory.

Replaces the reference's GitHub-Actions "cluster" (coordinator workflow +
artifact exchange, reference .github/workflows/test_parquet_coordinator.yml:38-356)
with a single SparkSession: Spark's scheduler is the coordinator, the
shuffle service is the artifact exchange.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion replace the reference's hand-tuned
  static segmentation (coordinator.yml:262-276).
- shuffle.partitions is a local-mode default; on a real cluster size it
  to ~2-3x total cores or rely on AQE's coalescing from a high initial.
- maxPartitionBytes 128m keeps scan partitions memory-bounded at any SF.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# C3: multi-tenant fair scheduling. The reference throttles concurrency
# by hand (max 3 running, 30 s polls, batched launches —
# test_parquet_coordinator.yml:290-356); Spark's fair scheduler is the
# engine-native replacement: concurrent jobs tagged with a pool via the
# thread-local spark.scheduler.pool property share the cluster by
# weight instead of queueing FIFO behind a long ETL scan. Two standing
# pools: `etl` (weight 1 — bulk work) and `interactive` (weight 4,
# minShare 8 — short queries keep latency while ETL saturates the
# rest). Pools not named here materialize on demand with defaults, so
# the file constrains nothing else.
_FAIR_POOLS_XML = """<?xml version="1.0" encoding="UTF-8"?>
<allocations>
  <pool name="etl">
    <schedulingMode>FIFO</schedulingMode>
    <weight>1</weight>
    <minShare>0</minShare>
  </pool>
  <pool name="interactive">
    <schedulingMode>FAIR</schedulingMode>
    <weight>4</weight>
    <minShare>8</minShare>
  </pool>
</allocations>
"""


def _fair_pools_file() -> str:
    path = os.path.join(tempfile.gettempdir(), "ppspark_fairscheduler.xml")
    # atomic-ish: write then rename so a concurrent session never reads
    # a partial file
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(_FAIR_POOLS_XML)
    os.replace(tmp, path)
    return path


def get_spark(
    app_name: str = "parquet-processor-spark",
    cpus: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(2 * int(cpus)))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in tables.t (ns→µs truncation,
        # matching DuckDB's own nanosecond handling).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[32] runs driver+executors in ONE JVM: 8g thrashed GC once
        # cached signatures + a x10-scale shuffle coexisted (measured 2x
        # slowdown on the dedup tail); 16g of the box's 128 GiB is the
        # local-mode floor. Cluster deployments size executor memory
        # normally — this knob is local-harness only.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Shuffle/spill files on tmpfs when available: local-mode shuffle
        # writes otherwise hit the root disk, serializing map outputs
        # behind one device. A cluster has per-node SSD local dirs; shm
        # is the local-mode stand-in (sf0.1 shuffles are MBs, far below
        # the tmpfs bound).
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
            ),
        )
        # managed-table location (bucketed tables, ops/scale_patterns.py).
        # Fresh per session: the in-memory catalog forgets tables on exit,
        # so a reused location would collide with the next CREATE.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="ppspark_warehouse_")
            ),
        )
        .config("spark.ui.enabled", "false")
        # C3: fair scheduling with the standing etl/interactive pools
        # (see _FAIR_POOLS_XML). Single-query sessions are unaffected
        # (one pool, one job); concurrent tenants share by weight.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _fair_pools_file())
        # Python workers: the daemon skips PySpark's per-task re-read of
        # pyspark.zip (see pyworker.py), and the checkout root is on the
        # workers' path, so they import this package from any cwd.
        .config("spark.python.daemon.module", "parquet_processor_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Session-scoped memos: derived state that is deterministic per (live
# session, sf) and too costly to rebuild per query call. Keyed by (name,
# applicationId, context startTime, sf) — unlike id(sparkContext), these
# cannot be recycled after a stopped context is GC'd.
_MEMOS: dict = {}
_MEMO_COUNTS: dict[str, dict[str, int]] = {}


def session_memo(spark: SparkSession, name: str, sf: str, build, valid=lambda v: True):
    """``build()``'s value, reused while its context lives and
    ``valid(value)`` holds. A miss prunes the entries of other contexts.
    Hits and misses are counted per ``name`` (:func:`session_memo_counts`)."""
    sc = spark.sparkContext
    key = (name, sc.applicationId, sc.startTime, sf)
    counts = _MEMO_COUNTS.setdefault(name, {"hits": 0, "misses": 0})
    if key in _MEMOS:
        try:
            live = (not sc._jsc.sc().isStopped()) and valid(_MEMOS[key])
        except Exception:  # noqa: BLE001 — any py4j breakage means "rebuild"
            live = False
        if live:
            counts["hits"] += 1
            return _MEMOS[key]
    for k in [k for k in _MEMOS if k[1:3] != key[1:3]]:
        del _MEMOS[k]
    counts["misses"] += 1
    _MEMOS[key] = value = build()
    return value


def clear_session_memos() -> None:
    """Drop every entry and unpersist cached frames, so the next lookup
    rebuilds in full (calling .cache() again on the same plan would
    otherwise reuse the cache manager's data)."""
    for value in _MEMOS.values():
        if isinstance(value, DataFrame) and value.is_cached:
            value.unpersist()
    _MEMOS.clear()


def session_memo_counts() -> dict[str, dict[str, int]]:
    """{name: {"hits": n, "misses": n}} since process start."""
    return {name: dict(c) for name, c in _MEMO_COUNTS.items()}


def run_in_pool(spark: SparkSession, pool: str, fn):
    """C3: run ``fn()`` with this thread's Spark jobs tagged into
    ``pool``. The spark.scheduler.pool property is THREAD-LOCAL (the
    canonical multi-tenant pattern: one thread per tenant, each tagging
    its own jobs), so concurrent callers never clobber each other; the
    property is always cleared so later work from the same thread falls
    back to the default pool."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def jobs_in_group(spark: SparkSession, group: str, fn):
    """(fn(), number of Spark jobs fn ran), counted under job group
    ``group``, which is cleared afterwards. Like the pool property, the
    job group is thread-local: a job from another thread counts only if
    that thread inherited it (``pyspark.inheritable_thread_target``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def stop_streams(spark: SparkSession, timeout_sec: float = 30.0) -> int:
    """C6 (streams): stop every active StructuredStreaming query on the
    session; returns how many were stopped. Mirrors the reference's
    global cancellation sweep (cancel_workflows.yml:21-61 — iterate
    active runs, cancel each, tolerate per-run failures)."""
    stopped = 0
    for q in list(spark.streams.active):
        try:
            q.stop()
            q.awaitTermination(timeout_sec)
            stopped += 1
        except Exception:  # noqa: BLE001 — cancellation is best-effort per run
            pass
    return stopped


def cancel_all(spark: SparkSession) -> int:
    """C6: global cancellation — abort every running Spark job AND stop
    every active stream (reference cancel_workflows.yml:21-61, the
    cancel-everything red button). Safe to call from any thread; batch
    actions in flight raise SparkException in their callers, exactly
    like a workflow run observing its cancellation. Returns the number
    of streams stopped (batch jobs report only through their callers).
    """
    n = stop_streams(spark)
    spark.sparkContext.cancelAllJobs()
    return n
