"""Window / sequence operators (SURVEY.md §2.8, W1-W3; §2.6 O1-O3; N7).

The reference's sequence logic is imperative: a global batch_index
counter (test_parquet_processor.py:291,303), `i // segment_size` range
bucketing (test_parquet_coordinator.yml:262-276), and running totals
across micro-batches (:270-275,377-385). Rebuilt as window functions.

Scale notes: the global row_number (W1) is built two-phase — rank
within deterministic key-range buckets, then add per-bucket offsets
computed on the tiny bucket-count table — so no single-partition
window ever touches the full dataset (VERDICT r2 #3). Offset/limit
slices (O1-O3) compile to TakeOrderedAndProject (per-partition
top-(offset+limit) + merge), which is already the scalable shape.
All other windows partition by a key and scale linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


def global_row_number(
    df: DataFrame, key: str, rn_col: str = "rn", num_buckets: int | None = None
) -> DataFrame:
    """Scalable global row index over a numeric ``key`` (ties must be
    impossible or irrelevant: use a unique key chain).

    Two-phase, no single-partition stage over the data:
      1. bucket = floor((key - min) * B / (max - min + 1)) — buckets are
         a pure function of the DATA (min/max joined in as a 1-row
         broadcast), NOT of physical partitioning, so the counts branch
         and the rank branch agree even though each re-executes the
         scan. (repartitionByRange + spark_partition_id would NOT be
         safe here: range boundaries come from per-execution sampling,
         and the two branches could disagree.)
      2. row_number within each bucket (hash exchange on bucket), plus
         the summed counts of all lower buckets (triangular join on the
         B-row count table, broadcast) — rn = local rank + offset.

    Cost at 100 TB: two column-pruned scans + one keyed exchange, all
    parallel; the only global object is the B-row offsets table.
    Bucket skew follows key density (acceptable for an index op; pick
    ``num_buckets`` >> cores so AQE can coalesce instead).
    """
    spark = df.sparkSession
    b = num_buckets or spark.sparkContext.defaultParallelism * 4
    stats = df.agg(F.min(key).alias("_kmin"), F.max(key).alias("_kmax"))
    bucketed = df.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.floor(
            (F.col(key) - F.col("_kmin"))
            * F.lit(b)
            / (F.col("_kmax") - F.col("_kmin") + F.lit(1))
        ),
    )
    w = Window.partitionBy("_bkt").orderBy(key)
    local = bucketed.withColumn("_lrn", F.row_number().over(w).cast("long"))
    counts = local.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.col("y._bkt") < F.col("x._bkt"), "left")
        .groupBy(F.col("x._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(rn_col, F.col("_lrn") + F.col("_off"))
        .drop("_bkt", "_lrn", "_off", "_kmin", "_kmax")
    )


# W1: global row index — batch_index analog (processor :291,303).
# Driver-green as a single-partition window in r1/r2; re-registered on
# the two-phase global_row_number (oracle output unchanged) because
# Window.orderBy with no partitionBy funnels every row through one
# task — the canonical 100x scale-killer.
@query(
    "window_row_number",
    oracle="""
    select o_orderkey, row_number() over (order by o_orderkey) as rn
    from orders where o_orderstatus = 'P'
    """,
    tags=("window",),
)
def window_row_number(spark: SparkSession, sf: str) -> DataFrame:
    filtered = (
        t(spark, sf, "orders")
        .where(F.col("o_orderstatus") == "P")
        .select("o_orderkey")
    )
    return global_row_number(filtered, "o_orderkey", rn_col="rn")


# W2: range bucketing — segment id = i // segment_size, label '{k}k-{k}k'
# (coordinator.yml:262-276).
@query(
    "bucket_range",
    oracle="""
    select o_orderkey // 1000 as bucket,
           cast(o_orderkey // 1000 as varchar) || 'k-' ||
             cast(o_orderkey // 1000 + 1 as varchar) || 'k' as segment,
           count(*) over (partition by o_orderkey // 1000) as bucket_rows,
           o_orderkey
    from orders
    """,
    tags=("window", "bucket"),
)
def bucket_range(spark: SparkSession, sf: str) -> DataFrame:
    bucket = F.floor(F.col("o_orderkey") / 1000)
    w = Window.partitionBy(bucket)
    return t(spark, sf, "orders").select(
        bucket.alias("bucket"),
        F.concat(
            bucket.cast("string"), F.lit("k-"), (bucket + 1).cast("string"), F.lit("k")
        ).alias("segment"),
        F.count(F.lit(1)).over(w).alias("bucket_rows"),
        "o_orderkey",
    )


# W3: running totals across micro-batches (processor :270-275,377-385).
# Partitioned by user so state scales; decimal accumulation keeps the
# running double sum bit-identical with the DuckDB oracle.
@query(
    "window_running_sum",
    oracle="""
    select event_id, user_id,
           cast(sum(cast(value as decimal(18,6))) over (
             partition by user_id order by ts, event_id
             rows between unbounded preceding and current row) as double) as running_value
    from events
    """,
    tags=("window", "bench"),
)
def window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running_value"),
    )


# N7: ranking family — rank with ties (deterministic: equal values get
# equal ranks regardless of physical order).
@query(
    "window_rank",
    oracle="""
    select l_orderkey, l_linenumber,
           rank() over (partition by l_returnflag order by l_quantity desc) as qty_rank,
           dense_rank() over (partition by l_returnflag order by l_quantity desc) as qty_dense_rank
    from lineitem
    """,
    tags=("window", "bench"),
)
def window_rank(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("l_quantity"))
    return t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("qty_rank"),
        F.dense_rank().over(w).alias("qty_dense_rank"),
    )


# N7: lag/lead — previous order's price per customer.
@query(
    "window_lag",
    oracle="""
    select o_orderkey, o_custkey,
           lag(o_totalprice) over (partition by o_custkey
                                   order by o_orderdate, o_orderkey) as prev_price,
           lead(o_totalprice) over (partition by o_custkey
                                    order by o_orderdate, o_orderkey) as next_price
    from orders
    """,
    tags=("window",),
)
def window_lag(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# T6 (batch form): tumbling event-time window — 10-minute buckets.
# The streaming variant (watermarked) lives in streaming/jobs.py; this
# batch twin is the oracle-checkable version.
@query(
    "window_tumbling",
    oracle="""
    select time_bucket(interval 10 minutes, ts) as window_start,
           count(*) as n_events,
           cast(round(sum(cast(value as decimal(18,6))), 4) as double) as total_value
    from events
    group by 1
    """,
    tags=("window", "streaming", "bench"),
)
def window_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


# O1: offset+limit slice — urls[start:end] (processor :277-279).
@query(
    "limit_offset",
    oracle="select o_orderkey, o_totalprice from orders order by o_orderkey limit 50 offset 100",
    tags=("limit",),
)
def limit_offset(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(100)
        .limit(50)
    )


# O2: head-N (aggregator.yml:58).
@query(
    "limit_n",
    oracle="select o_orderkey from orders order by o_orderkey limit 10",
    tags=("limit",),
)
def limit_n(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "orders").orderBy("o_orderkey").select("o_orderkey").limit(10)


# O3: top-1-by-recency generalized to top-k (coordinator.yml:93-117).
# Unique-key tiebreak keeps the row set deterministic.
@query(
    "topk_order_limit",
    oracle="""
    select o_orderkey, o_totalprice from orders
    order by o_totalprice desc, o_orderkey limit 10
    """,
    tags=("limit", "topk", "bench"),
)
def topk_order_limit(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def global_cumsum_before(
    df: DataFrame,
    key: str,
    val: str,
    out_col: str = "cum_before",
    num_buckets: int | None = None,
) -> DataFrame:
    """Scalable EXCLUSIVE global running sum of ``val`` in ``key``
    order — :func:`global_row_number` generalized from count to sum
    (identical two-phase shape: data-derived buckets, local window,
    triangular B-row offset join; see that docstring for why
    repartitionByRange would be unsafe). Row i gets the sum of ``val``
    over all rows with a strictly smaller key."""
    spark = df.sparkSession
    b = num_buckets or spark.sparkContext.defaultParallelism * 4
    stats = df.agg(F.min(key).alias("_kmin"), F.max(key).alias("_kmax"))
    bucketed = df.crossJoin(F.broadcast(stats)).withColumn(
        "_bkt",
        F.floor(
            (F.col(key) - F.col("_kmin"))
            * F.lit(b)
            / (F.col("_kmax") - F.col("_kmin") + F.lit(1))
        ),
    )
    w = (
        Window.partitionBy("_bkt")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = bucketed.withColumn(
        "_lcs", F.coalesce(F.sum(val).over(w), F.lit(0)).cast("long")
    )
    totals = local.groupBy("_bkt").agg(F.sum(val).cast("long").alias("_tot"))
    x, y = totals.alias("x"), totals.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.col("y._bkt") < F.col("x._bkt"), "left")
        .groupBy(F.col("x._bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("y._tot"), F.lit(0)).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(out_col, F.col("_lcs") + F.col("_off"))
        .drop("_bkt", "_lcs", "_off", "_kmin", "_kmax")
    )
