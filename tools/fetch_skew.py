"""Time ``run_pipeline`` under a seeded transport with skewed, position-
clustered latency — how the fetch task count behaves when per-record
cost is NOT near-uniform (live traffic), unlike ``fake_transport``.

Each URL sleeps a lognormal latency (median ``--base-ms``, shape
``--sigma``) before answering like ``fake_transport``. ``--clusters``
runs of ``--cluster-len`` consecutive manifest positions stall for
``--stall-s`` and then raise, as a down host would; the fetcher retries
once, so each stalled record costs two stalls. Cluster starts are drawn
from the seed, past the canary's head. One warm-up pass runs first; each
seed then prints one line of JSON (pipeline wall seconds, record files).

Usage:
    python tools/fetch_skew.py [--num-tasks N] [--urls 2000] [--seeds 1-5]
        [--base-ms 4] [--sigma 1] [--clusters 3] [--cluster-len 20]
        [--stall-s 0.1] [--out DIR]

``--num-tasks`` omitted keeps ``run_pipeline``'s own default.
Env: SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_processor_spark.pipeline.fetch import fake_transport  # noqa: E402
from parquet_processor_spark.pipeline.run import run_pipeline  # noqa: E402
from parquet_processor_spark.session import get_spark  # noqa: E402

URL = "https://example.org/concern/media/{}?locale=en"
CANARY_HEAD = 10


def make_skewed_transport(seed, n_urls, base_ms, sigma, clusters, cluster_len, stall_s):
    rng = random.Random(seed)
    starts = rng.sample(range(CANARY_HEAD, n_urls - cluster_len), clusters)
    stalled = {s + k for s in starts for k in range(cluster_len)}

    def transport(url: str) -> dict[str, str]:
        pos = int(url.rsplit("/", 1)[1].split("?")[0])
        if pos in stalled:
            time.sleep(stall_s)
            raise TimeoutError(f"stalled host for {url}")
        time.sleep(base_ms / 1000 * random.Random(seed * 1_000_003 + pos).lognormvariate(0, sigma))
        return fake_transport(url)

    return transport


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--num-tasks", type=int)
    ap.add_argument("--urls", type=int, default=2000)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--base-ms", type=float, default=4.0)
    ap.add_argument("--sigma", type=float, default=1.0)
    ap.add_argument("--clusters", type=int, default=3)
    ap.add_argument("--cluster-len", type=int, default=20)
    ap.add_argument("--stall-s", type=float, default=0.1)
    ap.add_argument("--out")
    a = ap.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)

    work = a.out or tempfile.mkdtemp(prefix="fetch_skew_")
    os.makedirs(work, exist_ok=True)
    manifest = f"{work}/manifest.json"
    with open(manifest, "w") as fh:
        fh.write("\n".join(json.dumps({"url": URL.format(i)}) for i in range(a.urls)))
    kwargs = {} if a.num_tasks is None else {"num_tasks": a.num_tasks}

    spark = get_spark("fetch-skew", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, manifest, f"{work}/warm", fake_transport, **kwargs)
    for seed in seeds:
        transport = make_skewed_transport(
            seed, a.urls, a.base_ms, a.sigma, a.clusters, a.cluster_len, a.stall_s
        )
        out = f"{work}/out{seed}"
        t0 = time.perf_counter()
        res = run_pipeline(spark, manifest, out, transport, **kwargs)
        wall = time.perf_counter() - t0
        files = glob.glob(f"{out}/records/**/*.parquet", recursive=True)
        print(
            json.dumps(
                {
                    "num_tasks": a.num_tasks,
                    "seed": seed,
                    "pipeline_s": round(wall, 2),
                    "ok": res.total_processed,
                    "dead": res.error_count,
                    "files": len(files),
                }
            ),
            flush=True,
        )
    spark.stop()
    if a.out is None:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
