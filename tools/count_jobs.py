"""Count the Spark jobs a registered query launches end-to-end
(construction actions + the noop-sink write) — the structural metric
for driver-synchronized-job optimizations (fixpoint probes, audit
fusion), independent of host weather.

Usage: python tools/count_jobs.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Assumptions (a local diagnostic, not a profiler):
- Job ids are globally monotone, and the count is the id range between
  the last job before the run and the last job after it, read from
  ``getJobIdsForGroup(None)`` (jobs with no job group).
- No code path sets a job group. A job launched under a group is
  missed, and the range is taken from ungrouped jobs only.
- Nothing else launches jobs during the run. Concurrent jobs (another
  session, a streaming query, background threads) are counted as the
  query's own.
- Queries run in the order given in one session, so session memos
  (``session.session_memo``) filled by an earlier query are hits for a
  later one and their build jobs are not counted again.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.registry import all_queries  # noqa: E402
from parquet_processor_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("count-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    tracker = spark.sparkContext.statusTracker()
    for name in sys.argv[1:]:
        spark.sparkContext.setJobDescription(name)
        # job ids are globally monotone; diff the id space around the run
        lo = max([-1] + list(tracker.getJobIdsForGroup(None) or [])) + 1
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        hi = max([-1] + list(tracker.getJobIdsForGroup(None) or []))
        n = hi - lo + 1
        print(f"{name:32s} jobs={n:4d}  wall={dt:7.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
