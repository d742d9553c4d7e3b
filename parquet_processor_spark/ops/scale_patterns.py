"""Scale-pattern operators: the join strategies that keep working when
the data grows 1000× — salting for skewed keys, bucketing for
shuffle-free co-located joins — plus value-range window frames.

Each is oracle-checked against the PLAIN formulation (a salted join
must equal the unsalted join; a bucketed join must equal the ordinary
join), so the test proves the rewrite is semantics-preserving, and
tests/test_plan_quality.py proves the plan actually changed shape.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

_SALT = 8


# Skew-salted aggregation-join: per-order line counts joined to orders.
# The salt splits each hot orderkey's lineitem rows across _SALT
# sub-keys (deterministic: l_linenumber % salt — no RNG), partial-
# aggregates per (key, salt), then merges — the classic two-phase
# rewrite that bounds any single reducer's load under key skew. Result
# is provably identical to the direct groupBy+join the oracle runs.
@query(
    "join_skew_salted",
    oracle="""
    select o.o_orderkey, o.o_orderpriority,
           count(*) as n_lines,
           cast(sum(cast(l_quantity as decimal(18,2))) as double) as total_qty
    from orders o join lineitem l on o.o_orderkey = l.l_orderkey
    group by o.o_orderkey, o.o_orderpriority
    """,
    tags=("join", "skew", "scale", "bench"),
)
def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").withColumn(
        "salt", (F.col("l_linenumber") % _SALT).cast("int")
    )
    partial = li.groupBy("l_orderkey", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("pq"),
    )
    merged = partial.groupBy("l_orderkey").agg(
        F.sum("pn").alias("n_lines"), F.sum("pq").cast("double").alias("total_qty")
    )
    o = t(spark, sf, "orders")
    return merged.join(o, merged.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "o_orderpriority", "n_lines", "total_qty"
    )


# Bucketed co-located join: both sides written bucketed by the join key
# (8 buckets), then joined bucket-to-bucket with NO shuffle on either
# side — the at-rest layout IS the partitioning. At 100 TB this is the
# difference between a join that moves 2×100 TB through the shuffle
# service and one that moves nothing.
@query(
    "join_bucketed",
    oracle="""
    select c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    from customer c join orders o on c.c_custkey = o.o_custkey
    where o.o_totalprice > 100000
    """,
    tags=("join", "bucket", "scale", "bench"),
)
def join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    left, right = bucketed_tables(spark, sf)
    return (
        left.join(right, left.c_custkey == right.o_custkey)
        .where(F.col("o_totalprice") > 100000)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


_PROCESS_START = time.time()


def _clear_stale_table_dir(spark: SparkSession, name: str) -> None:
    """Remove a leftover warehouse directory for ``name``.

    A fresh process starts with an empty in-memory catalog, but the
    warehouse dir on disk may still hold the previous process's table
    files — and saveAsTable refuses to create a managed table over a
    non-empty location. Fixed names + this sweep keep the warehouse at
    exactly one table pair per sf instead of leaking one per process.

    Only dirs whose mtime predates THIS process's start are swept: a
    dir modified after we started belongs to a concurrently-running
    process (writes bump the dir mtime), and rmtree'ing it under that
    process would fail both of us. Such a dir falls through to
    saveAsTable, which errors loudly rather than corrupting silently.
    """
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    path = os.path.join(warehouse, name)
    if os.path.isdir(path):
        try:
            if os.path.getmtime(path) >= _PROCESS_START:
                return
        except OSError:
            return
        shutil.rmtree(path, ignore_errors=True)


def bucketed_tables(spark: SparkSession, sf: str, buckets: int = 8) -> tuple[DataFrame, DataFrame]:
    """Write customer/orders bucketed by the join key and read back.

    Table names are fixed per sf, so repeat calls in one process reuse
    the tables (catalog hit) and repeated processes overwrite the same
    pair instead of accumulating per-PID copies in the warehouse dir.
    """
    tag = f"b{hashlib.md5(sf.encode()).hexdigest()[:8]}"
    names = (f"ppspark_cust_{tag}", f"ppspark_ord_{tag}")
    catalog = spark.catalog
    if not catalog.tableExists(names[0]):
        _clear_stale_table_dir(spark, names[0])
        (
            t(spark, sf, "customer")
            .select("c_custkey", "c_name")
            .write.bucketBy(buckets, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable(names[0])
        )
    if not catalog.tableExists(names[1]):
        _clear_stale_table_dir(spark, names[1])
        (
            t(spark, sf, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice")
            .write.bucketBy(buckets, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable(names[1])
        )
    return spark.table(names[0]), spark.table(names[1])


# Value-range window frame (RANGE, not ROWS): orders within 1000.0 of
# the current total price, per priority class. Range frames depend only
# on values — deterministic under ties by construction.
@query(
    "window_range_frame",
    oracle="""
    select o_orderkey, o_orderpriority, o_totalprice,
           count(*) over (partition by o_orderpriority order by o_totalprice
                          range between 1000.0 preceding and current row) as n_near_below
    from orders
    """,
    tags=("window", "frame"),
)
def window_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    # pyspark's Window.rangeBetween only accepts integer offsets; the
    # fractional range frame is expressed through the SQL window syntax.
    return t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.expr(
            "count(*) over (partition by o_orderpriority order by o_totalprice"
            " range between 1000.0 preceding and current row)"
        ).alias("n_near_below"),
    )


# Boolean + bitwise aggregate family.
@query(
    "agg_bool_bit",
    oracle="""
    select l_returnflag,
           bool_and(l_quantity > 0) as all_positive,
           bool_or(l_quantity > 49) as any_large,
           bit_and(l_orderkey) as key_bit_and,
           bit_or(l_orderkey) as key_bit_or,
           bit_xor(l_orderkey) as key_bit_xor
    from lineitem group by l_returnflag
    """,
    tags=("agg", "bool", "bitwise"),
)
def agg_bool_bit(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_quantity") > 49).alias("any_large"),
            F.bit_and("l_orderkey").alias("key_bit_and"),
            F.bit_or("l_orderkey").alias("key_bit_or"),
            F.bit_xor("l_orderkey").alias("key_bit_xor"),
        )
    )


# Bloom-filter pre-join pruning — the runtime-filter pattern that cuts
# shuffle volume on selective fact⋈dim joins at 100 TB (Spark's own
# InjectRuntimeFilter does this with an opaque BloomFilterAggregate;
# this operator spells an engine-portable bloom with md5-derived bit
# positions so BOTH engines compute the identical filter and the
# false-positive behavior itself is oracle-checked as evidence).
# The filter is sized from the data: m = _BLOOM_BITS_PER_KEY * n(build)
# — constant fill factor (2/bits_per_key with k=2 hashes), hence a
# scale-independent FP bound; a literal m would saturate the moment the
# build side grew 10x.
_BLOOM_BITS_PER_KEY = 10
_BLOOM_SEEDS = (1, 2)  # k = 2 hash functions
_BLOOM_NATION = 3      # build side: suppliers of NATION_3
_BLOOM_FP_BOUND = 0.08  # observed row-weighted FP stays under fill^k + skew margin


def _bloom_pos_sql(seed: int, key_sql: str) -> str:
    """DuckDB bit position: hex-prefix cast of an md5 slice, mod m."""
    return (
        f"('0x' || substr(md5('{seed}:' || cast({key_sql} as varchar)), 1, 6))::bigint"
        " % mm.m"
    )


def _bloom_pos(seed: int, key) -> "F.Column":
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 6),
            16,
            10,
        ).cast("bigint")
        % F.col("m")
    )


@query(
    "join_bloom_filtered",
    oracle=f"""
    with build as (
      select s_suppkey from supplier where s_nationkey = {_BLOOM_NATION}
    ),
    mm as (
      select {_BLOOM_BITS_PER_KEY} * greatest(count(*), 1) as m from build
    ),
    bloom as (
      select list_sort(list(distinct b)) as bits from (
        select unnest([{_bloom_pos_sql(_BLOOM_SEEDS[0], "s_suppkey")},
                       {_bloom_pos_sql(_BLOOM_SEEDS[1], "s_suppkey")}]) as b
        from build cross join mm
      )
    ),
    flagged as (
      select
        case when list_contains(bloom.bits, {_bloom_pos_sql(_BLOOM_SEEDS[0], "l.l_suppkey")})
              and list_contains(bloom.bits, {_bloom_pos_sql(_BLOOM_SEEDS[1], "l.l_suppkey")})
             then 1 else 0 end as bloom_pass,
        case when b.s_suppkey is not null then 1 else 0 end as member
      from lineitem l
      cross join bloom
      cross join mm
      left join build b on l.l_suppkey = b.s_suppkey
    )
    select count(*) as n_rows,
           cast(sum(bloom_pass) as bigint) as n_candidates,
           cast(sum(member) as bigint) as n_member,
           cast(sum(case when member = 1 and bloom_pass = 0 then 1 else 0 end) as bigint)
             as n_false_neg,
           cast(sum(case when bloom_pass = 1 and member = 0 then 1 else 0 end) as bigint)
             as n_false_pos,
           cast(sum(case when bloom_pass = 1 and member = 0 then 1 else 0 end) as double)
             / nullif(cast(count(*) - sum(member) as double), 0.0) as fp_rate,
           (sum(case when member = 1 and bloom_pass = 0 then 1 else 0 end) = 0
            and coalesce(
                  cast(sum(case when bloom_pass = 1 and member = 0 then 1 else 0 end) as double)
                    / nullif(cast(count(*) - sum(member) as double), 0.0),
                  0.0) <= {_BLOOM_FP_BOUND}) as bloom_ok
    from flagged
    """,
    tags=("join", "bloom", "scale", "evidence", "bench_extended"),
)
def join_bloom_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned semi-join evidence row: candidate/member counts,
    zero false negatives, and the measured false-positive rate under
    its bound.

    100 TB shape: the dim side aggregates to ONE bitmap row
    (collect_set over ≤ m ints, map-side combined) and broadcasts;
    membership test is then a map-side array probe over the fact scan
    — the fact table is never shuffled, and rows failing the bloom
    never reach the (real) join. This is exactly what AQE's runtime
    bloom filter injects for selective joins; spelled explicitly, the
    filter's quality (no false negatives, FP rate ≤ bound) becomes a
    driver-checkable fact instead of an engine promise. The bitmap is
    sized from the build count (constant fill factor), so the FP
    bound holds at any scale. The left join against the build keys
    here exists only to MEASURE FP/FN in the same pass; a production
    plan keeps just the bloom predicate.
    Determinism: bit positions come from md5 slices of seed-tagged
    key strings — identical on both engines; the bitmap is sorted.
    """
    sup = t(spark, sf, "supplier")
    build = sup.where(F.col("s_nationkey") == _BLOOM_NATION).select("s_suppkey")
    mm = build.agg(
        (F.lit(_BLOOM_BITS_PER_KEY) * F.greatest(F.count(F.lit(1)), F.lit(1))).alias("m")
    )
    bits = (
        build.crossJoin(F.broadcast(mm))
        .select(
            F.explode(
                F.array(*[_bloom_pos(s, F.col("s_suppkey")) for s in _BLOOM_SEEDS])
            ).alias("b")
        )
        .agg(F.sort_array(F.collect_set("b")).alias("bits"))
    )
    li = t(spark, sf, "lineitem").select("l_suppkey")
    flagged = (
        li.crossJoin(F.broadcast(bits))
        .crossJoin(F.broadcast(mm))
        .join(
            F.broadcast(build.withColumn("m1", F.lit(1))),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
        .select(
            F.when(
                F.array_contains("bits", _bloom_pos(_BLOOM_SEEDS[0], F.col("l_suppkey")))
                & F.array_contains("bits", _bloom_pos(_BLOOM_SEEDS[1], F.col("l_suppkey"))),
                1,
            )
            .otherwise(0)
            .alias("bloom_pass"),
            F.when(F.col("m1").isNotNull(), 1).otherwise(0).alias("member"),
        )
    )
    fp = F.sum(F.when((F.col("bloom_pass") == 1) & (F.col("member") == 0), 1).otherwise(0))
    fn = F.sum(F.when((F.col("member") == 1) & (F.col("bloom_pass") == 0), 1).otherwise(0))
    nonmember = F.count(F.lit(1)) - F.sum("member")
    fp_rate = fp.cast("double") / F.nullif(nonmember.cast("double"), F.lit(0.0))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bloom_pass").cast("long").alias("n_candidates"),
        F.sum("member").cast("long").alias("n_member"),
        fn.cast("long").alias("n_false_neg"),
        fp.cast("long").alias("n_false_pos"),
        fp_rate.alias("fp_rate"),
        ((fn == 0) & (F.coalesce(fp_rate, F.lit(0.0)) <= _BLOOM_FP_BOUND)).alias("bloom_ok"),
    )


# Bucketed keyless range join — the scale rewrite for "all event pairs
# within 5 minutes, ACROSS the whole stream" (no equi key anywhere).
# The naive plan is a BroadcastNestedLoop/IEJoin — quadratic at 100 TB.
# Bucketing time into window-width cells turns it into ONE equi
# shuffle: a row can only match rows in its own or the next cell, so
# the left side explodes to 2 bucket keys and the range test becomes a
# residual predicate inside bounded cells.
_RANGE_BUCKET_US = 300_000_000  # 5 minutes in microseconds


@query(
    "join_range_bucketed",
    oracle="""
    select a.event_id as base_id, b.event_id as follow_id
    from events a join events b
      on b.ts > a.ts and b.ts <= a.ts + interval 5 minutes
    """,
    tags=("join", "range", "bucket", "scale", "bench_extended"),
)
def join_range_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """All (base, follow) event pairs with follow in (base, base+5min],
    no join key — computed via time-cell bucketing, checked against
    the plain quadratic range join.

    100 TB shape: both sides hash-shuffle ONCE on the 5-minute cell
    id (the probe side ships each row to its own and its successor
    cell: a fixed 2x fan-out, not a per-row range scan); within a
    cell the residual `0 < dt <= 5min` predicate runs in codegen.
    Candidate work is sum over cells of |cell|x|cell±1| — linear for
    any bounded event rate, and a hot cell (load spike) AQE-splits
    like any skewed equi key. The oracle spells the naive non-equi
    join, so the check proves the bucketing loses no pair and invents
    none (boundary pairs are caught by the successor-cell copy).
    """
    e = t(spark, sf, "events").select(
        "event_id", "ts", F.unix_micros("ts").alias("us")
    )
    cell = F.expr(f"us div {_RANGE_BUCKET_US}")  # exact integer floor-div
    b = e.select(
        F.col("event_id").alias("follow_id"),
        F.col("ts").alias("b_ts"),
        cell.alias("cell"),
    )
    a = e.select(
        F.col("event_id").alias("base_id"),
        F.col("ts").alias("a_ts"),
        F.explode(F.array(cell, cell + 1)).alias("cell"),
    )
    return (
        a.join(b, "cell")
        .where(
            (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("interval 5 minutes"))
        )
        .select("base_id", "follow_id")
    )
