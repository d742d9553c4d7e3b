"""Layer tracing for the benchmark's traced run, from outside the program.

Nothing here edits the program. The tracer

- tags every Spark job with a job group ``pb|<pass>|<query>|<phase>|<layer>``
  by setting the group around each call the benchmark makes (phase
  ``build``: constructing the DataFrame, which runs the operator's eager
  actions; phase ``run``: the final write) and around each wrapped module
  function (layer ``tables``, ``probe``, ``read_manifest``, ...);
- replaces module attributes with timing wrappers (``wrap``), so a span is
  recorded for each call into ``tables.t``, ``io.materializing_count`` as
  ``ops.graph`` and ``ops.dedup`` bound it, and the ``pipeline.*`` steps;
- registers a Python ``StreamingQueryListener``: micro-batch jobs run on
  the stream's own thread under a job group named after the query's run id,
  so only the listener can tie them (and the progress events) to the
  benchmark query that started the stream;
- parses Spark's uncompressed, non-rolling event log once the session has
  stopped and sums jobs, stages, tasks and task metrics per job group.

Spans stay in memory until ``dump`` writes them at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb"
PYTHON_ROWS = "number of output rows"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs for an event log the parser can read as plain JSON lines."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass(frozen=True)
class Key:
    """Where a span or job belongs: pass number, query, phase and layer."""

    pass_no: int
    query: str
    phase: str
    layer: str = ""

    def group(self) -> str:
        return "|".join((GROUP_PREFIX, str(self.pass_no), self.query, self.phase, self.layer))

    @staticmethod
    def parse(group: str | None) -> Key | None:
        parts = (group or "").split("|")
        if len(parts) != 5 or parts[0] != GROUP_PREFIX:
            return None
        return Key(int(parts[1]), parts[2], parts[3], parts[4])


@dataclass
class Span:
    name: str
    key: Key
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Counts:
    """Event-log totals for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    scheduler_delay_ms: int = 0
    python_rows: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0


@dataclass
class Tracer:
    """Span recorder; a disabled tracer makes every hook a no-op, which is
    how the untraced (end-to-end) runs use it."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    stream_runs: dict[str, Key] = field(default_factory=dict)
    progress: list[tuple[str, dict]] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _sc: object = None
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    def attach(self, spark) -> None:
        """Bind to a (new) session and register the streaming listener."""
        self._sc = spark.sparkContext
        if self.enabled:
            spark.streams.addListener(_listener(self))

    def current(self) -> Key | None:
        return self.spans[self._stack[-1]].key if self._stack else None

    @contextmanager
    def span(self, name: str, key: Key):
        if not self.enabled:
            yield
            return
        sc = self._sc
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(key.group(), key.group())
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, key, time.time(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._stack.pop()].end = time.time()
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a ``layer``
        span (and job group) nested in the current call; ``unwrap_all``
        puts the originals back."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            cur = self.current()
            if cur is None:
                return orig(*args, **kwargs)
            with self.span(f"{layer}:{attr}", Key(cur.pass_no, cur.query, cur.phase, layer)):
                return orig(*args, **kwargs)

        self._restore.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def install_program_wrappers(self) -> None:
        """The layer boundaries the per-layer metrics are read from."""
        if not self.enabled:
            return
        from parquet_processor_spark import tables
        from parquet_processor_spark.ops import dedup, graph
        from parquet_processor_spark.pipeline import aggregate, run

        orig_t = tables.t
        for name, mod in list(sys.modules.items()):
            if name.startswith("parquet_processor_spark") and getattr(mod, "t", None) is orig_t:
                self.wrap(mod, "t", "tables")
        for mod in (graph, dedup):
            self.wrap(mod, "materializing_count", "probe")
        for attr in ("read_manifest", "global_index", "canary_gate", "fetch_stage"):
            self.wrap(run, attr, attr)
        for attr in ("read_combined", "write_combined", "compute_statistics"):
            self.wrap(aggregate, attr, attr)

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "name": s.name,
                            "group": s.key.group(),
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                        }
                        for s in self.spans
                    ],
                    "stream_runs": {k: v.group() for k, v in self.stream_runs.items()},
                },
                fh,
            )


def _listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class BenchStreamListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            # delivered before start() returns, i.e. inside the span of
            # the benchmark call that started the stream
            cur = tracer.current()
            if cur is not None:
                tracer.stream_runs[str(event.runId)] = Key(cur.pass_no, cur.query, cur.phase, "stream")

        def onQueryProgress(self, event):
            tracer.progress.append((str(event.progress.runId), json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BenchStreamListener()


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def _python_row_ids(plan: dict, out: set[int]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PYTHON_SENT in metrics and PYTHON_ROWS in metrics:
        out.add(metrics[PYTHON_ROWS])
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def parse_event_log(path: str, stream_runs: dict[str, Key]) -> dict[Key, Counts]:
    """Sum jobs, stages, tasks and task metrics per job group. Stream
    micro-batch jobs (group = the stream's run id) are filed under the
    benchmark call that started the stream, with layer ``stream``."""
    counts: dict[Key, Counts] = defaultdict(Counts)
    stage_key: dict[int, Key | None] = {}
    # Python nodes' row counters, from every plan the log announces: a
    # cached plan's nodes can first appear after the tasks that fill them
    row_ids: set[int] = set()
    for line in open(path):
        if '"sparkPlanInfo"' in line:
            _python_row_ids(json.loads(line)["sparkPlanInfo"], row_ids)
    for line in open(path):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = ev.get("Properties", {}).get("spark.jobGroup.id")
            key = Key.parse(group) or stream_runs.get(group or "")
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
            if key is not None:
                counts[key].jobs += 1
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                counts[key].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            c = counts[key]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c.tasks += 1
            c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            run_ms = m.get("Executor Run Time", 0)
            c.executor_run_ms += run_ms
            c.executor_cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            getting = info.get("Getting Result Time", 0)
            wall = info["Finish Time"] - info["Launch Time"]
            overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
            fetch = info["Finish Time"] - getting if getting else 0
            c.scheduler_delay_ms += max(0, wall - run_ms - overhead - fetch)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name == PYTHON_SENT:
                    c.python_bytes_sent += int(upd)
                elif name == PYTHON_RECEIVED:
                    c.python_bytes_received += int(upd)
                elif name == PYTHON_ROWS and acc.get("ID") in row_ids:
                    c.python_rows += int(upd)
    return dict(counts)
