"""Scale experiment: replicate sf0.1 tenfold (disjoint key ranges) into
/tmp -> ~6M-row lineitem, time the bench set (bench.HEADLINE and
bench.EXTENDED, through bench.run_once) at both scales in one session,
print per-query wall-clock. Measured results live in SCALE.md
("Measured scaling" section). Caveat: replication turns every document
into a 10-way duplicate cluster, so pair-producing dedup operators do
quadratically more TRUE work - that is workload growth, not engine
regression."""
import sys, os; sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from bench import EXTENDED, HEADLINE, run_once
from parquet_processor_spark.session import get_spark
from parquet_processor_spark.registry import all_queries
from parquet_processor_spark.tables import TABLES, t

# session.py disables the UI by default; the REST stage API is this
# script's shuffle-bytes source (extra_conf overrides the default)
spark = get_spark("scalex", extra_conf={"spark.ui.enabled": "true"}); spark.sparkContext.setLogLevel("ERROR")
SRC = "/root/testdata/sf0.1"; DST = "/tmp/ppspark_sf1"
# SPARK_GRAFT_SCALE_X100=1 adds a x100 tier (the x10 corpus replicated
# tenfold again with a second disjoint key offset) and measures
# [x10, x100] instead of [x1, x10] — the deeper soak for operators
# whose x10 row looked flat.
X100 = os.environ.get("SPARK_GRAFT_SCALE_X100") == "1"
DST2 = "/tmp/ppspark_sf10"
KEYED = {
  "lineitem": ["l_orderkey"], "orders": ["o_orderkey", "o_custkey"],
  "customer": ["c_custkey"], "documents": ["doc_id"], "embeddings": ["vec_id"],
  "events": ["event_id", "user_id"],
}
if not os.path.exists(DST):
    os.makedirs(DST)
    for tab in TABLES:
        df = t(spark, SRC, tab)
        if tab in KEYED:
            parts = []
            for i in range(10):
                p = df
                for k in KEYED[tab]:
                    p = p.withColumn(k, F.col(k) + F.lit(i * 10_000_000))
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{DST}/{tab}.parquet")
    print("built", DST)

if X100 and not os.path.exists(DST2):
    os.makedirs(DST2)
    for tab in TABLES:
        df = t(spark, DST, tab)
        if tab in KEYED:
            parts = []
            for i in range(10):
                p = df
                for k in KEYED[tab]:
                    p = p.withColumn(k, F.col(k) + F.lit(i * 1_000_000_000))
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{DST2}/{tab}.parquet")
    print("built", DST2)

q = all_queries()
q["agg_count"](spark, DST).collect()  # warm
# the bench set (registry tags "bench" and "bench_extended"); optional
# argv filter: `python tools/scale_experiment.py name1 name2` times only
# those queries (corpus build unchanged); any REGISTERED query name is
# accepted, not just the bench set — an unknown name fails loudly
# instead of being silently dropped
NAMES = HEADLINE + EXTENDED
if len(sys.argv) > 1:
    known = set(q)
    unknown = [n for n in sys.argv[1:] if n not in known]
    assert not unknown, f"not registered queries: {unknown}"
    NAMES = list(dict.fromkeys(sys.argv[1:]))


def _shuffle_write_bytes() -> int:
    """Total shuffle-write bytes across completed stages (UI REST API)
    — delta around a query gives its shuffle volume."""
    import json as _js
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            stages = _js.load(r)
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:  # noqa: BLE001 — UI disabled => wall-clock-only run
        return 0


_TIERS = [(DST, "sf1.0"), (DST2, "sf10")] if X100 else [(SRC, "sf0.1"), (DST, "sf1.0")]
for sfdir, label in _TIERS:
    # fresh caches per corpus: cached minhash signatures from the small
    # scale otherwise coexist with the x10 shuffle and thrash the shared
    # local[32] heap (SCALE.md "Operational note" - measured ~2x on the
    # dedup tail). A cluster gives each job its own executors.
    spark.catalog.clearCache()
    times = {}
    shuffles = {}
    for name in NAMES:
        s0 = _shuffle_write_bytes()
        times[name] = round(run_once(spark, name, sfdir).secs, 2)
        shuffles[name] = _shuffle_write_bytes() - s0
    print(label, times, "total", round(sum(times.values()), 2))
    print(label, "shuffle_write_bytes", shuffles)
