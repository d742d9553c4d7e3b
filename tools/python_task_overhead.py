"""Per-task cost of a Python worker, against a JVM-only job.

On a ``get_spark`` session, runs ``--runs`` times each (after one warm-up
of both): a one-task ``mapInPandas`` job whose function's first line
records the clock, and a one-task JVM-only job (``range`` + ``sum``).
Prints one line of JSON with the medians, in ms:

- ``python_first_line_ms``: from the driver's ``collect()`` call to the
  first line of the Python function (driver and worker share the host
  clock in local mode);
- ``python_job_ms``: wall of the ``mapInPandas`` job;
- ``jvm_job_ms``: wall of the JVM-only job.

The gap between the first two and the third is what a task pays before
user code starts (worker hand-off, file and broadcast set-up, imports).

Usage:
    python tools/python_task_overhead.py [--runs 20]

Env: SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.session import get_spark  # noqa: E402


def _first_line(batches):
    ts = time.time()
    for pdf in batches:
        yield pdf.assign(ts=ts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=20)
    args = ap.parse_args()

    spark = get_spark("python-task-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    py_df = spark.range(1, numPartitions=1).mapInPandas(_first_line, "id long, ts double")
    jvm_df = spark.range(1000, numPartitions=1).selectExpr("sum(id)")

    def python_job():
        t0 = time.time()
        ts = py_df.collect()[0]["ts"]
        return (ts - t0) * 1000, (time.time() - t0) * 1000

    def jvm_job():
        t0 = time.time()
        jvm_df.collect()
        return (time.time() - t0) * 1000

    python_job(), jvm_job()  # warm-up: worker fork, first imports, codegen
    first, py_wall, jvm_wall = [], [], []
    for _ in range(args.runs):
        f, w = python_job()
        first.append(f)
        py_wall.append(w)
        jvm_wall.append(jvm_job())
    print(
        json.dumps(
            {
                "runs": args.runs,
                "python_first_line_ms": round(statistics.median(first), 1),
                "python_job_ms": round(statistics.median(py_wall), 1),
                "jvm_job_ms": round(statistics.median(jvm_wall), 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
