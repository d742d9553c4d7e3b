"""Smoke test: every workload at toy size (sf0.001 tables, a ~200-URL
manifest, one steady pass), traced, so one run yields both the
end-to-end and the per-layer metrics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_every_metric_is_reported_and_nothing_fails(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", "1", "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(next(x for x in lines if x.startswith("# report "))[len("# report "):])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["failed_ops_share"] == 0
    assert set(report["end_to_end"]) == set(run.END_TO_END)
    assert set(report["query_percentiles"]) == {"query_p50_s", "query_p90_s"}
    assert all(v > 0 for v in report["end_to_end"].values())
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.PER_LAYER
    layer = {k: m["value"] for k, m in result["metrics"].items()}
    if workload == "ingest":
        assert layer["pipeline.ingest.jobs"] > 0 and layer["aggregate.jobs"] > 0
        assert layer["fetch.attempts_per_record"] > 1
        assert layer["tables.calls"] == 0
    else:
        assert layer["tables.calls"] == layer["tables.jobs"] > 0
        assert layer["io.probe.calls"] > 0 and layer["stream.batches"] > 0
        assert layer["python.rows"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(BENCH, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
