"""Scratch directories, the two table commits (versioned snapshots and
copy-on-write partition rewrites), and the one-job probes of
data-dependent loops.

Sources and sinks (SURVEY.md §2.1 S1-S3, §2.2 K1-K4) call Spark's
DataFrame reader and writer in place, with explicit schemas where a
read could otherwise infer; ops/roundtrip.py round-trips each format
(the reference's timestamped parquet snapshots, combined CSV/JSON
artifacts and segment/timestamp layouts) through them. Both table
commits live here: the versioned-snapshot protocol, for the versioned
sinks and the streaming state tables alike, and the partition rewrite
(:func:`rewrite_partitions`) that the copy-on-write sinks (targeted
delete, MERGE, day restatement) commit through.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession

# --- scratch lifecycle ----------------------------------------------------

# One process-scoped scratch root for every sink/index roundtrip op.
# The old per-op bare mkdtemp calls stranded GBs in /tmp across
# repeated driver checks + soak runs (r9 verdict hygiene item): the
# written parquet is read back LAZILY by the returned DataFrame, so an
# op can never rmtree its own dir eagerly — but every dir can die with
# the process. atexit registration happens once, on first use.
_SCRATCH_ROOT: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory under the process-scoped root
    (``ppspark_session_<pid>``), removed by atexit when the process
    exits. Drop-in for ``tempfile.mkdtemp(prefix=...)``."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix=f"ppspark_session_{os.getpid()}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])


# --- versioned snapshots ---------------------------------------------------

# A table is a root holding immutable snap-<v>/ parquet directories and
# one _CURRENT pointer file naming the committed version — the
# poor-man's table format (what Delta's _last_checkpoint / Iceberg's
# version-hint encode). Writers stage a new directory and flip the
# pointer LAST with one os.replace, so a reader always resolves a
# complete snapshot, a crash strands only an unreferenced directory,
# and older versions stay readable until expired (time travel).
# Reference analog: the supersede-snapshot rewrite,
# test_parquet_processor.py:362-364.


def _snapshot_dir(root: str, version: int) -> str:
    return os.path.join(root, f"snap-{version}")


def stage_snapshot(df: DataFrame, root: str, version: int) -> None:
    """Write snap-<version>/ without committing it: readers keep the
    current version until :func:`publish_snapshot` flips the pointer."""
    df.write.mode("overwrite").parquet(_snapshot_dir(root, version))


def publish_snapshot(df: DataFrame, root: str, version: int) -> None:
    """Stage snap-<version>/, then flip the _CURRENT pointer atomically
    LAST — the commit. A crash before the flip strands only an
    unreferenced directory; readers of the previous version are never
    torn."""
    stage_snapshot(df, root, version)
    pointer = os.path.join(root, "_CURRENT")
    tmp = pointer + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, pointer)  # the atomic commit: flip the pointer LAST


def current_snapshot_version(root: str) -> int | None:
    """The committed version under ``root``, or None when nothing was
    ever published there."""
    try:
        with open(os.path.join(root, "_CURRENT")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def read_snapshot(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """The committed snapshot under ``root``, or ``version`` (time
    travel). Raises FileNotFoundError when no version is committed."""
    if version is None:
        version = current_snapshot_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {root}")
    return spark.read.parquet(_snapshot_dir(root, version))


def expire_snapshots(root: str, keep: int) -> list[int]:
    """Delete every version older than the newest ``keep``, but never
    the committed version or a newer one (a newer one is staged, not
    yet committed). Returns the deleted versions, oldest first.
    Delete-behind only: a reader pinned to an expired version loses it."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    current = current_snapshot_version(root)
    if current is None:
        return []
    names = (n.removeprefix("snap-") for n in os.listdir(root) if n.startswith("snap-"))
    versions = sorted(int(n) for n in names if n.isdigit())
    expired = [v for v in versions[:-keep] if v < current]
    for v in expired:
        shutil.rmtree(_snapshot_dir(root, v))
    return expired


# --- partition rewrites -----------------------------------------------------

# A partitioned table is a root of <col>=<value>/ parquet directories
# (the reference's segment/timestamp layout). A copy-on-write rewrite
# replaces whole partitions through Spark's dynamic overwrite, which
# swaps only the partitions the write has rows for. Every written file
# carries a fresh job UUID in its name, so a partition's file listing
# changes exactly when the write replaced it.


def partition_files(root: str, col: str) -> dict[str, list[str]]:
    """``{value: sorted data-file names}`` for every ``col=value``
    directory under ``root``. Values are the directory names' strings;
    hidden and ``_``-prefixed files (checksums, markers) are skipped,
    as Spark's reader skips them."""
    prefix = f"{col}="
    return {
        entry.name.removeprefix(prefix): sorted(
            f for f in os.listdir(entry.path) if not f.startswith((".", "_"))
        )
        for entry in os.scandir(root)
        if entry.is_dir() and entry.name.startswith(prefix)
    }


def rewrite_partitions(df: DataFrame, root: str, col: str, touched: Iterable) -> bool:
    """Commit ``df`` as the new content of the ``touched`` partitions of
    the ``col``-partitioned table at ``root``: dynamic-overwrite it,
    then delete each touched partition the write had no rows for (its
    listing did not change), because that partition's new content is
    empty. ``df`` may lazily read ``root``. Returns whether every
    partition outside ``touched`` kept its exact file listing."""
    touched = {str(v) for v in touched}
    before = partition_files(root, col)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(root)
    )
    after = partition_files(root, col)
    for value in touched & before.keys():
        if after.get(value) == before[value]:
            shutil.rmtree(os.path.join(root, f"{col}={value}"))
    kept = {v: files for v, files in before.items() if v not in touched}
    return kept == {v: files for v, files in after.items() if v not in touched}


# --- data-dependent loops ---------------------------------------------------


def materializing_count(df: DataFrame) -> int:
    """Row count via the internal-row RDD — exactly ONE Spark job.

    ``DataFrame.count()`` under AQE pays a second job (query-stage
    materialization before the final aggregate), and ``isEmpty()`` on
    an eagerly local-checkpointed frame pays a probe job ON TOP of the
    checkpoint's own count job. Counting the executed plan's internal
    RDD (private ``_jdf`` API) instead runs one job. When ``df`` sits
    on a LAZILY local-checkpointed frame, that same job materializes
    the checkpoint ONLY if the plan above it is narrow — filters and
    projections — which computes (and caches) every partition, so later
    actions never recompute below the checkpoint. A limit, sample or
    shuffle above it can leave partitions unmaterialized (extra jobs).
    Data-dependent loops reach it through :class:`Fixpoint`, which
    keeps that narrow-plan precondition by construction.
    """
    return df._jdf.queryExecution().toRdd().count()


class Fixpoint:
    """One data-dependent loop's policy: rounds 1..``max_rounds``, the
    per-round checkpoint and probe, and the round cap.

    ``for r in loop:`` raises ``RuntimeError("<name> did not converge
    in <max_rounds> rounds")`` when the body never breaks.
    ``loop.changed(frame, where)`` lazily localCheckpoints the round's
    change frame and counts it, or its rows matching ``where``: the
    probe is the checkpoint's materializing action, so convergence test
    and checkpoint cost ONE driver-synchronized job (guide §5), and the
    counted plan is narrow by construction. It returns the materialized
    frame, or None when nothing changed.

    ``count`` is required: callers pass ``materializing_count`` as their
    own module binds it, so a profiler that wraps that binding
    (perfbench's ``io.probe`` layer wraps ``ops.graph``'s and
    ``ops.dedup``'s) still sees every probe.
    """

    def __init__(self, name: str, max_rounds: int, count: Callable[[DataFrame], int]) -> None:
        self.name, self.max_rounds, self._count = name, max_rounds, count

    def __iter__(self) -> Iterator[int]:
        yield from range(1, self.max_rounds + 1)
        raise RuntimeError(f"{self.name} did not converge in {self.max_rounds} rounds")

    def changed(self, frame: DataFrame, where: Column | None = None) -> DataFrame | None:
        frame = frame.localCheckpoint(eager=False)
        probe = frame if where is None else frame.where(where)
        return frame if self._count(probe) else None  # eager-by-design: fixpoint probe + checkpoint materialization

