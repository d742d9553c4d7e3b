"""Driver-visible pipeline queries (rows-only checks — the fetch stage
is opaque Python by design, SURVEY.md §2.1 S4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.pipeline.fetch import fake_transport, fetch_stage
from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


@query(
    "pipeline_fetch",
    # The fake transport is fully deterministic in the URL id, so the
    # whole mapInPandas fetch stage (retry loop, media-type dispatch,
    # dead-letter marking included) is SQL-replayable: the oracle
    # recomputes every output field from doc_id.
    oracle="""
    select 'https://example.org/concern/media/' || doc_id as url,
           doc_id as batch_index,
           case when doc_id % 17 = 0
                then 'TimeoutError: simulated timeout for https://example.org/concern/media/'
                     || doc_id
                end as error,
           case when doc_id % 17 = 0 then null
                when doc_id % 2 = 0 then 'volumetric image series'
                else 'mesh' end as media_type,
           case when doc_id % 17 = 0 then null
                else cast(doc_id as varchar) end as media_id,
           case when doc_id % 17 = 0 then null
                when doc_id % 2 = 0 then 'MicroCT'
                else 'Mesh' end as modality,
           case when doc_id % 17 = 0 then null
                when doc_id % 3 <> 0 then 'open'
                else 'restricted' end as publication_status
    from documents
    """,
    tags=("pipeline",),
)
def pipeline_fetch(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest→fetch analog on testdata: documents provide the URL ids.

    Deterministic fake transport; output is the wide scrape schema with
    success rows and dead-letter rows distinguished by `error`.
    """
    urls = t(spark, sf, "documents").select(
        F.concat(
            F.lit("https://example.org/concern/media/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.col("doc_id").alias("batch_index"),
    )
    fetched = fetch_stage(urls, fake_transport)
    return fetched.select(
        "url", "batch_index", "error", "media_type", "media_id", "modality", "publication_status"
    )


@query(
    "pipeline_media_dispatch",
    oracle="""
    select cast(doc_id as varchar) as media_id,
           case when doc_id % 17 = 0 then 'dead_letter'
                when doc_id % 2 = 0 then 'volumetric image series'
                else 'mesh' end as media_type,
           count(*) over (partition by
               case when doc_id % 17 = 0 then 'dead_letter'
                    when doc_id % 2 = 0 then 'volumetric image series'
                    else 'mesh' end) as type_count
    from documents
    """,
    tags=("pipeline",),
)
def pipeline_media_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checkable twin of the fetch stage's media-type dispatch
    (P4): same routing rule the fake transport applies, expressed
    declaratively so the dispatch logic itself is hash-verified."""
    from pyspark.sql import Window

    mt = (
        F.when(F.col("doc_id") % 17 == 0, "dead_letter")
        .when(F.col("doc_id") % 2 == 0, "volumetric image series")
        .otherwise("mesh")
    )
    d = t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"), mt.alias("media_type")
    )
    return d.withColumn(
        "type_count", F.count(F.lit(1)).over(Window.partitionBy("media_type"))
    )


@query(
    "pipeline_cost_estimate",
    # model quantities are pure functions of the manifest; canary_ok
    # is derived from the gate's own min-records rule (canary size >=
    # 8) rather than hardcoded true, so an under-8-document fixture
    # flips BOTH engines instead of failing the parity check as a
    # false alarm. The budget verdict (est_total_time < budget) is a
    # WALL-CLOCK fact SQL cannot restate, so it lives in the pytest
    # gate (tests/test_pipeline.py::test_cost_estimate_budget_verdict),
    # not in the hash-checked row — every remaining column here is
    # oracle-computed (r10 verdict item #6).
    oracle="""
    select cast(count(*) as bigint) as n_manifest,
           cast(least(10, count(*)) as bigint) as n_canary,
           cast(count(*) - least(10, count(*)) as bigint) as n_remaining,
           cast(ceil(cast(count(*) as double) / 5000) as int) as est_segments,
           least(10, count(*)) >= 8 as canary_ok
    from documents
    """,
    tags=("pipeline", "cost", "canary", "bench_extended"),
)
def pipeline_cost_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """C2 — the reference coordinator's cost estimate
    (test_parquet_coordinator.yml:257-281 behavior): run the 10-record
    canary through the fetch stage, take its measured avg per-record
    time, and extrapolate run cost over the remaining manifest:
    est_total_time = avg_time * n_remaining, gated against the same
    30 s/record budget as the C1 canary gate. The deterministic model
    quantities (manifest size, canary size, remainder, segment count at
    the coordinator's 5000-record segmenting) hash-check along with
    the data-derived canary_ok; the wall-clock budget verdict is the
    pytest gate test_cost_estimate_budget_verdict (time is not an
    oracle-computable fact).

    100 TB shape: the canary costs 10 records regardless of manifest
    size, the model is arithmetic on ONE count, and the decision
    (proceed / resize the run) happens before any at-scale work starts
    — exactly the reference's "estimate before the long run" loop.
    """
    from parquet_processor_spark.pipeline.run import canary_gate

    urls = t(spark, sf, "documents").select(
        F.concat(
            F.lit("https://example.org/concern/media/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.col("doc_id").alias("batch_index"),
    )
    n = urls.count()  # eager-by-design: ONE count parameterizes the model row
    canary = fetch_stage(urls.orderBy("batch_index").limit(10), fake_transport)
    metrics = canary_gate(canary)
    n_canary = min(10, n)
    n_remaining = n - n_canary
    return spark.createDataFrame(
        [
            (
                n,
                n_canary,
                n_remaining,
                -(-n // 5000),
                bool(metrics.success),
            )
        ],
        "n_manifest bigint, n_canary bigint, n_remaining bigint, "
        "est_segments int, canary_ok boolean",
    )


@query(
    "pipeline_fair_pools",
    # Both tenants' results are exact relational facts; the oracle
    # replays them as two plain aggregates. Concurrency and pool
    # assignment are scheduling behavior SQL cannot restate — they are
    # pinned by tests/test_pipeline.py::test_fair_pools_* (FAIR mode,
    # allocation-file weights, light-tenant latency under a saturating
    # ETL job), the same split as pipeline_cost_estimate's wall-clock
    # verdict.
    oracle="""
    select 'etl' as pool, 'lineitem_rollup' as job,
           cast(count(*) as bigint) as n_rows,
           cast(sum(l_quantity) as bigint) as checksum
    from lineitem
    union all
    select 'interactive', 'nation_lookup',
           cast(count(*) as bigint),
           cast(sum(n_nationkey) as bigint)
    from nation
    order by pool
    """,
    tags=("pipeline", "scheduler", "concurrency"),
)
def pipeline_fair_pools(spark: SparkSession, sf: str) -> DataFrame:
    """C3 — multi-tenant CONCURRENT execution through fair-scheduler
    pools (the engine-native replacement for the reference
    coordinator's hand-rolled throttle: max-3-running, 30 s polls,
    batched launches — test_parquet_coordinator.yml:290-356). Two
    tenants run simultaneously from two threads of one session, each
    tagging its jobs with the thread-local spark.scheduler.pool
    property: a bulk `etl` rollup over the fact table and an
    `interactive` dimension lookup that the fair share keeps fast
    while the rollup saturates the cluster (pools etl/interactive with
    weights 1/4, session.py). The returned rows are each tenant's
    exact result, so the oracle hash-checks that concurrent pooled
    execution corrupts nothing.

    100 TB shape: this IS the production multi-tenant story — one
    long-running ETL tenant plus ad-hoc analysts on a shared cluster;
    weights replace queue position, so analyst latency is bounded by
    share, not by the ETL job's runtime. The driver-side thread pair
    is control plane only (two bounded collect()s of 1-row
    aggregates); all data-plane work is ordinary distributed jobs.
    """
    import threading

    from parquet_processor_spark.session import run_in_pool

    results: dict[str, tuple] = {}
    errors: dict[str, BaseException] = {}

    def etl() -> tuple:
        [r] = (
            t(spark, sf, "lineitem")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("l_quantity").cast("long").alias("cs"),
            )
            .collect()
        )  # eager-by-design: 1-row tenant result
        return (r["n"], r["cs"])

    def interactive() -> tuple:
        [r] = (
            t(spark, sf, "nation")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_nationkey").cast("long").alias("cs"),
            )
            .collect()
        )  # eager-by-design: 1-row tenant result
        return (r["n"], r["cs"])

    def tenant(pool: str, job: str, fn) -> None:
        try:
            results[job] = run_in_pool(spark, pool, fn)
        except BaseException as ex:  # noqa: BLE001 — re-raised on the caller thread below
            errors[job] = ex

    threads = [
        threading.Thread(target=tenant, args=("etl", "lineitem_rollup", etl)),
        threading.Thread(target=tenant, args=("interactive", "nation_lookup", interactive)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise next(iter(errors.values()))
    return spark.createDataFrame(
        [
            ("etl", "lineitem_rollup", *results["lineitem_rollup"]),
            ("interactive", "nation_lookup", *results["nation_lookup"]),
        ],
        "pool string, job string, n_rows bigint, checksum bigint",
    )
