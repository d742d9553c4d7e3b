"""Time individual registered queries through bench.py's ``run_once``
(build, then noop write; warm pass first, median of N) — the per-query
iteration loop for optimization work without running the whole bench.

Each line also gives the query's Spark jobs as build/run: build is
constructing the DataFrame (its eager actions), run the noop write.
Jobs are counted under a job group per pass (``session.jobs_in_group``),
so jobs of other sessions, or of threads that do not inherit the group,
are never counted. ``cold`` is the first pass at the target SF, whose
session memos are still empty; ``warm`` is the last timed pass.

Usage:
    python tools/time_query.py [-n PASSES] <query> [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_once  # noqa: E402
from parquet_processor_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")

    for name in args:
        run_once(spark, name, warm_dir)  # codegen warm-up
        cold = run_once(spark, name, sf_dir)  # target-SF warm pass
        runs = [run_once(spark, name, sf_dir) for _ in range(n)]
        ts = [r.secs for r in runs]
        print(
            f"{name:36s} med={statistics.median(ts):7.3f}  min={min(ts):7.3f}  max={max(ts):7.3f}  "
            f"jobs cold={cold.build_jobs}/{cold.run_jobs} warm={runs[-1].build_jobs}/{runs[-1].run_jobs}  "
            f"all={[round(x, 3) for x in ts]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
