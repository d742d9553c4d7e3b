"""Sources and sinks (SURVEY.md §2.1 S1-S3, §2.2 K1-K4).

The reference writes timestamped parquet snapshots per batch
(test_parquet_processor.py:391-401), combined CSV/JSON artifacts
(test_parquet_aggregator.yml:159-181), and segment/timestamp directory
layouts (test_parquet_processor.yml:76,82). Here each is a thin,
explicit-schema wrapper over the DataFrame reader/writer so every
format round-trips through one code path.

Scale notes: writes default to snappy parquet with partitionBy for the
layout dirs; CSV/JSON sinks exist for interchange parity, not as the
100 TB at-rest format.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

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


# --- sources -------------------------------------------------------------


def read_parquet(spark: SparkSession, path: str, recursive: bool = False, merge_schema: bool = False) -> DataFrame:
    """S2/S3: parquet scan; recursive discovery replaces the reference's
    Path.rglob walk (aggregator.yml:121-128), mergeSchema replaces
    pd.concat schema merging (U1)."""
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """S1: JSON scan; explicit schema preferred (no inference pass at scale)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str | None = None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


# --- sinks ---------------------------------------------------------------


def write_parquet(df: DataFrame, path: str, mode: str = "append", partition_by: tuple[str, ...] = ()) -> None:
    """K1/K4: parquet write, optionally with the reference's
    {segment}/{run_ts} directory layout as partition columns."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: header CSV (aggregator.yml:164-166)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3: JSON-lines (statistics.json / skipped_records analog)."""
    df.write.mode(mode).json(path)
