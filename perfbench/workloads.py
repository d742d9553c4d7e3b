"""The benchmark workloads: seeded inputs, one timed pass, and the
untimed output check.

A pass is closed-loop from one thread: one client, one call at a time.
Every call is an ``Op``; an op that raises or fails its check counts as
failed.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import inputs
from tracing import Key, Tracer

# Catalog inputs: the testdata's table ratios at a scale whose passes fit
# the run length (at this size walls are job-overhead bound, as at sf0.1).
# The tables come from one fixed seed, as the testdata does: graph depth,
# duplicate clusters and k-means rounds follow the data, so a per-run
# seed would change the work a pass does. The run's seed orders queries.
CATALOG_SCALE = 0.002
TABLES_SEED = 42
# Ingest manifest size: a tenth of the reference's 104,502 URLs, three
# segments of the default segment_size (5000). Pass time is job-bound and
# barely moves with size; a full-size pass would not fit the run length.
INGEST_URLS = 10_450

ITERATIVE_QUERIES = (
    "graph_bfs_distances",  # fixpoint loop, ops.graph materializing_count probes
    "dedup_connected_lsh",  # fixpoint loop, ops.dedup materializing_count probes
    "kmeans_ivf_train",  # Lloyd rounds, NumPy pandas-UDF assignment kernel
    "streaming_stateful",  # micro-batch loop, state store
)


@dataclass
class Op:
    """One timed call into the program: a catalog query (build + run), or
    one of the ingest pass's two calls."""

    name: str
    seconds: float
    error: str | None = None


@dataclass
class Workload:
    name: str
    seed: int
    work_dir: str
    tracer: Tracer
    extras: list[dict] = field(default_factory=list)  # per-pass values besides op times

    def prepare(self, round_no: int) -> None:
        raise NotImplementedError

    def run_pass(self, spark, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def check(self, spark) -> list[Op]:
        return []


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"[:300]


class CatalogWorkload(Workload):
    """Registered catalog queries over generated tables. Each query is
    built (its eager actions run) and then written to the ``noop`` sink."""

    def __init__(self, name: str, queries: tuple[str, ...], scale: float, **kw):
        super().__init__(name, **kw)
        self.queries = queries
        self.scale = scale
        self.sf_dir = ""
        self.frames: dict = {}  # each query's DataFrame from the latest pass

    def prepare(self, round_no: int) -> None:
        from parquet_processor_spark import registry

        missing = [q for q in self.queries if q not in registry.all_queries()]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.sf_dir = inputs.write_tables(
            os.path.join(self.work_dir, f"tables-{round_no}"), self.scale, TABLES_SEED
        )

    def order(self, pass_no: int) -> list[str]:
        order = list(self.queries)
        random.Random(self.seed * 100_003 + pass_no).shuffle(order)
        return order

    def run_pass(self, spark, pass_no: int) -> list[Op]:
        from parquet_processor_spark import registry

        queries = registry.all_queries()
        ops = []
        for name in self.order(pass_no):
            self.frames.pop(name, None)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(name, Key(pass_no, name, "build")):
                    df = queries[name](spark, self.sf_dir)
                with self.tracer.span(name, Key(pass_no, name, "run")):
                    df.write.format("noop").mode("overwrite").save()
                ops.append(Op(name, time.perf_counter() - t0))
                self.frames[name] = df
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                ops.append(Op(name, time.perf_counter() - t0, _error(exc)))
        return ops

    def check(self, spark) -> list[Op]:
        """Compare each query's result from the latest pass (collected
        again, without rebuilding) with its DuckDB twin the way
        ``tools/check_oracle.py`` does: columns, row count, then values."""
        import duckdb

        from parquet_processor_spark import registry
        from parquet_processor_spark.tables import TABLES
        from tools.check_oracle import cells_equal, normalize

        oracles = registry.all_oracles()
        con = duckdb.connect()
        for tab in TABLES:
            con.sql(f"create view {tab} as select * from read_parquet('{self.sf_dir}/{tab}.parquet')")
        ops = []
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                df = self.frames[name]
                s_cols, s_rows = list(df.columns), [tuple(r) for r in df.collect()]
                rel = con.sql(oracles[name])
                d_cols, d_rows = list(rel.columns), [tuple(r) for r in rel.fetchall()]
                err = None
                if sorted(s_cols) != sorted(d_cols):
                    err = f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
                elif len(s_rows) != len(d_rows):
                    err = f"row count spark={len(s_rows)} duckdb={len(d_rows)}"
                else:
                    bad = sum(
                        not all(cells_equal(a, b) for a, b in zip(sr, dr))
                        for sr, dr in zip(normalize(s_rows, s_cols), normalize(d_rows, d_cols))
                    )
                    if bad:
                        err = f"{bad}/{len(s_rows)} rows differ from the DuckDB oracle"
                ops.append(Op(f"check:{name}", time.perf_counter() - t0, err))
            except Exception as exc:  # noqa: BLE001 — a failed check is a failed op
                ops.append(Op(f"check:{name}", time.perf_counter() - t0, _error(exc)))
        con.close()
        return ops


class IngestWorkload(Workload):
    """The paper's job: ``run_pipeline`` (defaults: canary on, segment_size
    5000, num_tasks 32) over a seeded manifest with ``fake_transport``,
    then ``run_aggregation`` over its records; each call is one op. The
    output check runs after each pass, outside the timed calls."""

    def __init__(self, n_urls: int, **kw):
        super().__init__("ingest", **kw)
        self.n_urls = n_urls
        self.manifest = ""
        self.expected: dict = {}

    def prepare(self, round_no: int) -> None:
        records = inputs.manifest_records(self.n_urls, self.seed)
        self.manifest = inputs.write_manifest(
            os.path.join(self.work_dir, f"manifest-{round_no}", "manifest.json"), records
        )
        urls = [r["url"] for r in records if r.get("url")]
        ids = {u: inputs.url_id(u) for u in urls}
        ok = [u for u in urls if ids[u] % 17]
        self.expected = {
            "urls": len(urls),
            "ok": len(ok),
            "dead": sorted(u for u in urls if ids[u] % 17 == 0),
            "media_types": {
                "volumetric image series": sum(ids[u] % 2 == 0 for u in ok),
                "mesh": sum(ids[u] % 2 == 1 for u in ok),
            },
        }

    def run_pass(self, spark, pass_no: int) -> list[Op]:
        from parquet_processor_spark.pipeline.aggregate import run_aggregation
        from parquet_processor_spark.pipeline.fetch import fake_transport
        from parquet_processor_spark.pipeline.run import run_pipeline

        out = os.path.join(self.work_dir, f"out-{pass_no}")
        t0 = time.perf_counter()
        try:
            with self.tracer.span("run_pipeline", Key(pass_no, "run_pipeline", "run")):
                result = run_pipeline(spark, self.manifest, out, fake_transport)
            t1 = time.perf_counter()
            with self.tracer.span("run_aggregation", Key(pass_no, "run_aggregation", "run")):
                stats = run_aggregation(spark, f"{out}/records", f"{out}/aggregate")
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed pass is a failed op
            return [Op("ingest", time.perf_counter() - t0, _error(exc))]
        files = glob.glob(f"{out}/records/**/*.parquet", recursive=True)
        size = sum(os.path.getsize(f) for f in files)
        self.extras.append(
            {
                "pass_no": pass_no,
                "ingest_records_per_s": self.expected["urls"] / (t1 - t0),
                "aggregate_s": t2 - t1,
                "bytes_per_record": size / max(1, result.total_processed),
                "pipeline.write.files": len(files),
                "pipeline.write.bytes": size,
                "pipeline.dead_letter.records": result.error_count,
                "aggregate.files_combined": stats.files_combined,
            }
        )
        err = self._check(out, result, stats, len(files))
        if pass_no > 0:
            shutil.rmtree(os.path.join(self.work_dir, f"out-{pass_no - 1}"), ignore_errors=True)
        return [Op("run_pipeline", t1 - t0, err), Op("run_aggregation", t2 - t1, err)]

    def fetch_probe(self, spark, pass_no: int) -> dict:
        """``fetch_stage`` alone over the indexed manifest, written to
        ``noop``, with a transport that counts its calls."""
        from pyspark.sql import functions as F

        from parquet_processor_spark.pipeline.fetch import fake_transport
        from parquet_processor_spark.pipeline.run import fetch_stage, global_index, read_manifest

        calls = spark.sparkContext.accumulator(0)

        def counting_transport(url: str) -> dict[str, str]:
            calls.add(1)
            return fake_transport(url)

        key = Key(pass_no, "fetch_stage", "run")
        with self.tracer.span("fetch_stage", key):
            urls = read_manifest(spark, self.manifest).select("url").where(F.col("url").isNotNull())
            indexed = global_index(urls)
            t0 = time.perf_counter()
            fetch_stage(indexed, counting_transport).write.format("noop").mode("overwrite").save()
            seconds = time.perf_counter() - t0
        return {
            "fetch.records_per_s": self.expected["urls"] / seconds,
            "fetch.attempts_per_record": calls.value / self.expected["urls"],
        }

    def _check(self, out: str, result, stats, n_files: int) -> str | None:
        exp = self.expected
        if result.total_processed + result.error_count != exp["urls"]:
            return f"ok+dead={result.total_processed + result.error_count} != urls={exp['urls']}"
        dead = []
        for path in glob.glob(f"{out}/skipped/*.json"):
            with open(path) as fh:
                dead.extend(json.loads(line)["url"] for line in fh if line.strip())
        if sorted(dead) != exp["dead"]:
            return f"dead-letter urls ({len(dead)}) != ids with id % 17 == 0 ({len(exp['dead'])})"
        if stats.total_records != exp["ok"]:
            return f"statistics.total_records={stats.total_records} != {exp['ok']}"
        media = {k: v for k, v in exp["media_types"].items() if v}
        if dict(stats.media_types) != media:
            return f"statistics.media_types={dict(stats.media_types)} != {media}"
        if stats.files_combined != n_files:
            return f"files_combined={stats.files_combined} != parquet files on disk={n_files}"
        return None


def make(name: str, seed: int, work_dir: str, tracer: Tracer, small: bool = False) -> Workload:
    """``small`` is the smoke-test size: a ~200-URL manifest and sf0.001 tables."""
    kw = {"seed": seed, "work_dir": work_dir, "tracer": tracer}
    scale = 0.001 if small else CATALOG_SCALE
    if name == "ingest":
        return IngestWorkload(200 if small else INGEST_URLS, **kw)
    if name == "iterative":
        return CatalogWorkload("iterative", ITERATIVE_QUERIES, scale, **kw)
    raise KeyError(f"unknown workload {name!r}; choose from {WORKLOADS}")


WORKLOADS = ("ingest", "iterative")
