"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,iterative} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One process, one client, one call at a
time (closed loop) on ``local[<nproc>]``; the Spark session comes from
``session.get_spark`` with every program default except the scratch
paths, which are kept inside the checkout (``.perfbench/``).

``--trace 0`` measures the end-to-end metrics: one set-up (fresh process
until the first, cold pass has finished), then steady passes until
``--seconds`` have been spent and at least two have run, then the untimed
output check. ``--trace 1`` does the same
untraced with one steady pass (the reference for the tracing overhead),
re-creates the session with an event log and the layer wrappers of
``tracing.py``, and measures the per-layer metrics over traced steady
passes (median of the per-pass totals).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). The lines before it
record the host, the Spark confs and every metric in readable form. Any
failed op makes the exit code 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

import workloads  # noqa: E402
from tracing import Tracer, event_log_conf, find_event_log, parse_event_log  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WATCHDOG_S = 170.0
# fewest steady passes a run measures, whatever --seconds says
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
# Per-call latency percentiles are printed on the report lines only: their
# run-to-run spread on a 4-vCPU host is wider than the largest bound the
# benchmark may set (README).
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "registry.load_s": "s",
    "cold.pass_s": "s",
    "tables.calls": "count",
    "tables.jobs": "count",
    "tables.s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "io.probe.calls": "count",
    "io.probe.s": "s",
    "run.s": "s",
    "run.jobs": "count",
    "run.stages": "count",
    "run.tasks": "count",
    "run.shuffle_write_bytes": "bytes",
    "run.spill_bytes": "bytes",
    "run.executor_run_s": "s",
    "run.executor_cpu_s": "s",
    "run.gc_s": "s",
    "run.scheduler_delay_s": "s",
    "python.rows": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "ingest_records_per_s": "1/s",
    "aggregate_s": "s",
    "bytes_per_record": "bytes",
    "pipeline.read_manifest_s": "s",
    "pipeline.global_index_s": "s",
    "pipeline.canary_s": "s",
    "pipeline.ingest.jobs": "count",
    "pipeline.write.files": "count",
    "pipeline.write.bytes": "bytes",
    "pipeline.dead_letter.records": "count",
    "fetch.records_per_s": "1/s",
    "fetch.attempts_per_record": "ratio",
    "aggregate.read_combined_s": "s",
    "aggregate.write_combined_s": "s",
    "aggregate.statistics_s": "s",
    "aggregate.jobs": "count",
    "aggregate.files_combined": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.jobs": "count",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "trace.overhead_s": "s",
}


class RssSampler(threading.Thread):
    """Peak resident set of this process tree (Python driver, the JVM and
    its Python workers), summed over processes, sampled every 100 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def _tree_rss_kb(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            kids = [p for p, pp in parent.items() if pp == pid and p not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_event.wait(0.1):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> None:
        self._stop_event.set()
        self.join(5)


def configure_env(work: Path) -> None:
    """Before the JVM starts: the core count, and scratch paths inside the
    checkout (Python tempfiles, Spark local dir, JVM tmpdir). Python
    workers import the program from the checkout root."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def host_record(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    conf = spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "commit": commit,
        "spark.master": spark.sparkContext.master,
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }


def stop_jvm() -> None:
    """Stop the session, then the gateway JVM (its Python workers exit
    with it), and wait for the process to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    """One run: the workload, its session(s), and every op and pass time."""

    def __init__(self, args, work: Path):
        self.args = args
        self.tracer = Tracer(enabled=False)
        self.wl = workloads.make(args.workload, args.seed, str(work / "data"), self.tracer, small=args.small)
        self.passes: dict[int, list] = {}
        self.checks: list = []

    def start_session(self, extra_conf: dict | None = None):
        from parquet_processor_spark.session import get_spark

        spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(spark)
        return spark

    def one_pass(self, spark) -> int:
        p = len(self.passes)
        self.passes[p] = self.wl.run_pass(spark, p)
        return p

    def steady(self, spark, min_passes: int) -> list[int]:
        """Steady passes until ``--seconds`` are spent and ``min_passes``
        have run."""
        done, t0 = [], time.perf_counter()
        while len(done) < min_passes or time.perf_counter() - t0 < self.args.seconds:
            done.append(self.one_pass(spark))
        return done

    def pass_s(self, passes: list[int]) -> float:
        """Mean wall of the given passes: a pass of ``ingest`` takes one of
        two write plans at random (README), which a mean averages and a
        median of two passes would not."""
        return statistics.mean(sum(op.seconds for op in self.passes[p]) for p in passes)

    def ops(self) -> list:
        return [op for ops in self.passes.values() for op in ops] + self.checks


def run(args, work: Path, rss: RssSampler) -> tuple[dict, list[str]]:
    bench = Bench(args, work)
    t0 = time.perf_counter()
    spark = bench.start_session()
    session_s = time.perf_counter() - t0
    from parquet_processor_spark import registry

    t0 = time.perf_counter()
    registry.all_queries()
    registry_s = time.perf_counter() - t0
    bench.wl.prepare(0)
    cold = bench.one_pass(spark)
    setup_s = time.perf_counter() - T_START
    # the traced run's untraced half is only the overhead reference
    min_passes = 1 if args.small or args.trace else MIN_PASSES
    steady = bench.steady(spark, min_passes)
    bench.checks = bench.wl.check(spark)
    host = host_record(spark)
    steady_ops = [op.seconds for p in steady for op in bench.passes[p]]
    e2e = {"setup_s": setup_s, "pass_s": bench.pass_s(steady)}
    percentiles = {
        "query_p50_s": statistics.median(steady_ops),
        "query_p90_s": statistics.quantiles(steady_ops, n=10, method="inclusive")[-1],
    }
    peak_rss_mb = rss.peak_kb / 1024
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "cold_pass_s": bench.pass_s([cold]),
        "steady_passes": len(steady),
        "query_samples": len(steady_ops),
        "end_to_end": e2e,
        "query_percentiles": percentiles,
        "peak_rss_mb": peak_rss_mb,
        "ingest": _median_extras(bench.wl.extras, steady),
        "passes": {p: {op.name: round(op.seconds, 3) for op in ops} for p, ops in bench.passes.items()},
        "pass_extras": bench.wl.extras,
        "checks_s": sum(op.seconds for op in bench.checks),
    }
    metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    if args.trace:
        spark.stop()
        log_dir = work / "eventlog"
        log_dir.mkdir()
        bench.tracer.enabled = True
        spark = bench.start_session(event_log_conf(str(log_dir)))
        bench.tracer.install_program_wrappers()
        try:
            bench.wl.prepare(1)
            bench.one_pass(spark)  # the traced session's own warm-up pass
            traced = bench.steady(spark, 1 if args.small else MIN_PASSES)
            fetch = bench.wl.fetch_probe(spark, len(bench.passes)) if args.workload == "ingest" else {}
        finally:
            spark.stop()
            bench.tracer.unwrap_all()
        counts = parse_event_log(find_event_log(str(log_dir)), bench.tracer.stream_runs)
        layer = layer_metrics(bench, traced, counts)
        layer.update(fetch)
        layer["peak_rss_mb"] = peak_rss_mb
        layer["session.start_s"] = session_s
        layer["registry.load_s"] = registry_s
        layer["cold.pass_s"] = report["cold_pass_s"]
        layer["trace.overhead_s"] = bench.pass_s(traced) - e2e["pass_s"]
        metrics = {k: (layer.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}
        report["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        traces = ROOT / ".perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        bench.tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.json"))
    ops = bench.ops()
    failed = [op for op in ops if op.error]
    report["failed_ops_share"] = len(failed) / len(ops)
    report["failures"] = [f"{op.name}: {op.error}" for op in failed]
    lines = [f"# report {json.dumps(report)}"]
    lines += [f"# {k} = {v:.6g} {unit}" for k, (v, unit) in metrics.items()]
    lines += [f"# {k} = {v:.6g} s (of {len(steady_ops)} calls)" for k, v in percentiles.items()]
    if not args.trace:
        lines.append(f"# peak_rss_mb = {peak_rss_mb:.6g} MB")
        lines += [f"# {k} = {v:.6g} {PER_LAYER[k]}" for k, v in report["ingest"].items() if k in PER_LAYER]
    lines.append(f"# failed_ops_share = {report['failed_ops_share']:.6g} ({len(failed)}/{len(ops)})")
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }
    return result, lines


def _median_extras(extras: list[dict], passes: list[int]) -> dict:
    rows = [e for e in extras if e["pass_no"] in passes]
    keys = {k for e in rows for k in e if k != "pass_no"}
    return {k: statistics.median(e[k] for e in rows) for k in sorted(keys)}


SPAN_LAYERS = {
    "tables": ("tables.calls", "tables.s"),
    "probe": ("io.probe.calls", "io.probe.s"),
    "read_manifest": (None, "pipeline.read_manifest_s"),
    "global_index": (None, "pipeline.global_index_s"),
    "canary_gate": (None, "pipeline.canary_s"),
    "read_combined": (None, "aggregate.read_combined_s"),
    "write_combined": (None, "aggregate.write_combined_s"),
    "compute_statistics": (None, "aggregate.statistics_s"),
}
PROGRESS_MS = {
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "latestOffset": "stream.latest_offset_ms",
}


def layer_metrics(bench: Bench, passes: list[int], counts: dict) -> dict:
    """Per-layer values of each traced pass, then the median over passes."""
    tracer = bench.tracer
    per_pass = []
    for p in passes:
        v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        for s in tracer.spans:
            if s.key.pass_no != p:
                continue
            if not s.key.layer:
                v[f"{s.key.phase}.s"] += s.end - s.start
            elif s.key.layer in SPAN_LAYERS:
                calls, secs = SPAN_LAYERS[s.key.layer]
                if calls:
                    v[calls] += 1
                v[secs] += s.end - s.start
        for key, c in counts.items():
            if key.pass_no != p:
                continue
            v[f"{key.phase}.jobs"] += c.jobs
            v[f"{key.phase}.stages"] += c.stages
            v[f"{key.phase}.tasks"] += c.tasks
            if key.phase == "run":
                v["run.shuffle_write_bytes"] += c.shuffle_write_bytes
                v["run.spill_bytes"] += c.spill_bytes
                v["run.executor_run_s"] += c.executor_run_ms / 1e3
                v["run.executor_cpu_s"] += c.executor_cpu_ns / 1e9
                v["run.gc_s"] += c.gc_ms / 1e3
                v["run.scheduler_delay_s"] += c.scheduler_delay_ms / 1e3
            v["python.rows"] += c.python_rows
            v["python.bytes_sent"] += c.python_bytes_sent
            v["python.bytes_received"] += c.python_bytes_received
            if key.layer == "tables":
                v["tables.jobs"] += c.jobs
            if key.layer == "stream":
                v["stream.jobs"] += c.jobs
            if key.query == "run_pipeline":
                v["pipeline.ingest.jobs"] += c.jobs
            if key.query == "run_aggregation":
                v["aggregate.jobs"] += c.jobs
        last_state: dict[str, dict] = {}
        for run_id, prog in tracer.progress:
            key = tracer.stream_runs.get(run_id)
            if key is None or key.pass_no != p:
                continue
            v["stream.batches"] += 1
            v["stream.input_rows"] += prog.get("numInputRows", 0)
            for name, metric in PROGRESS_MS.items():
                v[metric] += prog.get("durationMs", {}).get(name, 0)
            last_state[run_id] = prog
        for prog in last_state.values():
            for op in prog.get("stateOperators", []):
                v["stream.state_rows"] += op.get("numRowsTotal", 0)
                v["stream.state_bytes"] += op.get("memoryUsedBytes", 0)
        for extra in bench.wl.extras:
            if extra["pass_no"] == p:
                v.update({k: x for k, x in extra.items() if k in PER_LAYER})
        per_pass.append(v)
    return {k: statistics.median(v[k] for v in per_pass) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="toy inputs and one steady pass (smoke test)")
    args = ap.parse_args(argv)
    if not (ROOT / "parquet_processor_spark" / "__init__.py").is_file():
        print(f"error: no parquet_processor_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    configure_env(work)
    sys.path.insert(0, str(ROOT))
    watchdog = threading.Timer(WATCHDOG_S, _cancel_everything)
    watchdog.daemon = True
    watchdog.start()
    rss = RssSampler()
    rss.start()
    try:
        result, lines = run(args, work, rss)
    finally:
        watchdog.cancel()
        try:
            stop_jvm()
        finally:
            rss.stop()
            shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _cancel_everything() -> None:
    """Past the time limit: cancel running jobs and streams, so the op in
    flight raises and counts as failed."""
    from pyspark.sql import SparkSession

    from parquet_processor_spark.session import cancel_all

    spark = SparkSession.getActiveSession()
    if spark is not None:
        print(f"watchdog: run exceeded {WATCHDOG_S:.0f} s, cancelling", file=sys.stderr)
        cancel_all(spark)


if __name__ == "__main__":
    sys.exit(main())
