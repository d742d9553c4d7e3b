"""Time individual registered queries with the bench methodology
(noop sink, warm pass first, median of N) — the per-query iteration
loop for optimization work without running the whole bench.

Each line also gives the query's Spark jobs as build/run: build is
constructing the DataFrame (its eager actions), run the noop write.
Jobs are counted under a job group per pass (``session.jobs_in_group``),
so jobs of other sessions, or of threads that do not inherit the group,
are never counted. ``cold`` is the
first pass at the target SF, whose session memos are still empty;
``warm`` is the last timed pass.

Usage:
    python tools/time_query.py [-n PASSES] <query> [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import itertools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.registry import all_queries  # noqa: E402
from parquet_processor_spark.session import get_spark, jobs_in_group  # noqa: E402


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
    queries = all_queries()

    passes = itertools.count()  # a fresh job group per pass

    def run_once(name: str, d: str) -> tuple[float, str]:
        tag = f"{name}#{next(passes)}"
        t0 = time.perf_counter()
        df, build = jobs_in_group(spark, f"{tag}.build", lambda: queries[name](spark, d))
        _, run = jobs_in_group(spark, f"{tag}.run", df.write.format("noop").mode("overwrite").save)
        return time.perf_counter() - t0, f"{build}/{run}"

    for name in args:
        run_once(name, warm_dir)  # codegen warm-up
        _, cold = run_once(name, sf_dir)  # target-SF warm pass
        ts, jobs = zip(*[run_once(name, sf_dir) for _ in range(n)])
        s = sorted(ts)
        med = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
        print(
            f"{name:36s} med={med:7.3f}  min={min(ts):7.3f}  max={max(ts):7.3f}  "
            f"jobs cold={cold} warm={jobs[-1]}  all={[round(x, 3) for x in ts]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
