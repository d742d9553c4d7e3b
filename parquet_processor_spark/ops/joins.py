"""Joins (SURVEY.md §2.4, J1-J4 + the general join family).

The reference's "joins" are nested REST lookups (run→artifact matching,
test_parquet_aggregator.yml:63-99; temporal run correlation :46-58;
anti-membership skip list, test_parquet_processor.py:353). Re-expressed
as real relational joins with scale-appropriate physical strategies:

- dimension tables get an explicit ``broadcast()`` hint — at 100 TB the
  fact side never shuffles for these joins;
- the range correlation is an equi-join on the natural partition key
  (user_id) plus a range predicate, so it stays a shuffled hash join,
  NOT a nested-loop cross product;
- semi/anti joins never materialize the probe side's payload columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


# J1: run→artifact equi-lookup → broadcast hash join on the small dim.
@query(
    "join_broadcast_equi",
    oracle="""
    select o_orderkey, o_totalprice, c_name, c_mktsegment
    from orders join customer on o_custkey = c_custkey
    where o_orderstatus = 'O'
    """,
    tags=("join",),
)
def join_broadcast_equi(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders").where(F.col("o_orderstatus") == "O")
    c = t(spark, sf, "customer")
    # customer is the dimension: broadcast it so the orders side never shuffles.
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# J2: temporal/range correlation — "runs created after the coordinator"
# (aggregator.yml:46-58). Same-user event pairs within a 5-minute window:
# equi on user_id (partitioning key) + range predicate on ts.
@query(
    "join_range",
    oracle="""
    select a.event_id as base_id, b.event_id as follow_id, a.user_id
    from events a join events b
      on a.user_id = b.user_id
     and b.ts > a.ts
     and b.ts <= a.ts + interval 5 minutes
    """,
    tags=("join", "range"),
)
def join_range(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    a = e.alias("a")
    b = e.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("interval 5 minutes"))
    )
    return a.join(b, cond).select(
        F.col("a.event_id").alias("base_id"),
        F.col("b.event_id").alias("follow_id"),
        F.col("a.user_id").alias("user_id"),
    )


# J3: anti-membership — skip URLs already in the skip list (processor :353).
@query(
    "join_left_anti",
    oracle="""
    select c_custkey, c_name from customer c
    where not exists (select 1 from orders o where o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# J4: existence probe — .find(first matching run) (coordinator.yml:105-117).
@query(
    "join_left_semi",
    oracle="""
    select c_custkey, c_name from customer c
    where exists (select 1 from orders o
                  where o.o_custkey = c.c_custkey and o.o_orderstatus = 'F')
    """,
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


# General family: left outer (unmatched rows keep nulls).
@query(
    "join_left_outer",
    oracle="""
    select c.c_custkey, c.c_name, o.o_orderkey
    from customer c left join orders o
      on o.o_custkey = c.c_custkey and o.o_orderpriority = '1-URGENT'
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey"
    )


# General family: right outer — the mirror of join_left_outer with
# the preserved side on the right (users write it weekly; r12 VERDICT
# named it the one missing member of the outer-join family).
@query(
    "join_right_outer",
    oracle="""
    select o.o_orderkey, c.c_custkey, c.c_name
    from orders o right join customer c
      on o.o_custkey = c.c_custkey and o.o_orderpriority = '1-URGENT'
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf: str) -> DataFrame:
    """100 TB shape: the non-preserved (left) side carries the pushed
    priority filter, so the planner is free to broadcast it when small
    enough — right-outer keeps the big preserved side streaming with
    no skew hazard beyond the join key's own density."""
    o = t(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    c = t(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


# General family: full outer over two pre-aggregated sides (per-nation
# customer counts vs supplier counts; only some nations have suppliers).
@query(
    "join_full_outer",
    oracle="""
    with cs as (select c_nationkey as nk, count(*) as n_cust from customer group by 1),
         ss as (select s_nationkey as nk, count(*) as n_supp from supplier group by 1)
    select coalesce(cs.nk, ss.nk) as nationkey, cs.n_cust, ss.n_supp
    from cs full outer join ss on cs.nk = ss.nk
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    cs = (
        t(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    ss = (
        t(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cs.join(ss, cs.nk == ss.nk, "full_outer").select(
        F.coalesce(cs.nk, ss.nk).alias("nationkey"), "n_cust", "n_supp"
    )


# Cross join (explicit Cartesian — only ever sensible when both sides
# are tiny; here region × nation, 5 × 25 rows).
@query(
    "join_cross",
    oracle="""
    select r.r_name, n.n_name
    from region r cross join nation n
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "region")
        .crossJoin(t(spark, sf, "nation"))
        .select("r_name", "n_name")
    )


# Null-safe equi join (<=> / IS NOT DISTINCT FROM) — the join
# semantic ETL needs when the key legitimately contains NULL (a
# "no value" bucket that must match itself, which plain = never
# does). Nulls are injected deterministically (priority bucket for
# every 7th order) so the fixture exercises the semantic.
@query(
    "join_null_safe",
    oracle="""
    with o as (
      select o_orderkey,
             case when o_orderkey % 7 = 0 then null else o_orderpriority end as prio
      from orders
    ),
    c as (
      select case when o_orderkey % 7 = 0 then null else o_orderpriority end as prio,
             count(*) as n_orders
      from orders group by 1
    )
    select o.o_orderkey, o.prio, c.n_orders
    from o join c on o.prio is not distinct from c.prio
    """,
    tags=("join", "nulls"),
)
def join_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Join orders to per-priority counts with NULL keys matching NULL
    (eqNullSafe / IS NOT DISTINCT FROM) — every row survives,
    including the injected null-priority bucket, which a plain equi-join
    silently drops.

    100 TB shape: null-safe equality is still HASH-able (null hashes
    to a single bucket), so this plans as an ordinary broadcast/
    shuffled hash join — NOT a nested-loop — with the null bucket
    behaving like one (possibly hot) key; a production pipeline salts
    it like any other skewed key if "unknown" dominates.
    """
    bucket = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderpriority")
    )
    o = t(spark, sf, "orders").select("o_orderkey", bucket.alias("prio")).alias("o")
    c = (
        o.groupBy("prio")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(F.col("prio").alias("c_prio"), "n_orders")
    )
    return o.join(F.broadcast(c), F.col("o.prio").eqNullSafe(F.col("c_prio"))).select(
        "o_orderkey", F.col("o.prio").alias("prio"), "n_orders"
    )


# Fuzzy entity-resolution join — match near-identical names without
# the N^2 product: collapse to the distinct-name dictionary first (the
# entity-resolution move: at corpus scale the dictionary is orders of
# magnitude smaller than the rows), block on shared words (union of
# first-word and last-word blockers — multi-pass blocking), verify
# edit distance inside blocks only. Both engines share the unit-cost
# levenshtein definition (parity established by fn_edit_distance).
_FUZZY_MAX_EDIT = 3


@query(
    "join_fuzzy_names",
    oracle=f"""
    with names as (select distinct p_name as nm from part),
    words as (
      select nm,
             string_split(nm, ' ')[1] as w1,
             string_split(nm, ' ')[-1] as w2
      from names
    ),
    keys as (
      select nm, w1 as k from words union select nm, w2 from words
    ),
    cand as (
      select distinct a.nm as name_a, b.nm as name_b
      from keys a join keys b on a.k = b.k and a.nm < b.nm
    )
    select name_a, name_b,
           cast(levenshtein(name_a, name_b) as bigint) as dist
    from cand
    where levenshtein(name_a, name_b) <= {_FUZZY_MAX_EDIT}
    """,
    tags=("join", "fuzzy", "dedup"),
)
def join_fuzzy_names(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy self-join of part names within edit distance
    _FUZZY_MAX_EDIT: collapse rows to the distinct-name dictionary, emit
    (name, blocker) keys for the first AND last word, pair names
    sharing any blocker, and keep pairs whose full edit distance
    clears the threshold — entity resolution's candidate-pair stage.

    100 TB shape: the expensive quadratic lives on the DICTIONARY
    (distinct names), not the rows — the dictionary collapse is one
    map-side-combined distinct; blocking bounds comparisons to shared-
    word buckets exactly like shingle/LSH blocking bounds near-dup
    (never N^2 across blocks); levenshtein runs codegen inside the
    block join. Hot blockers (a stopword surname) would get the same
    df-cap as hot shingles; the fixture's vocabulary has none.
    """
    names = t(spark, sf, "part").select(F.col("p_name").alias("nm")).distinct()
    ws = F.split(F.col("nm"), " ")
    keys = names.select("nm", F.element_at(ws, 1).alias("k")).union(
        names.select("nm", F.element_at(ws, -1).alias("k"))
    )
    a = keys.select(F.col("nm").alias("name_a"), "k")
    b = keys.select(F.col("nm").alias("name_b"), "k")
    cand = (
        a.join(b, (a["k"] == b["k"]) & (F.col("name_a") < F.col("name_b")))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return cand.where(dist <= _FUZZY_MAX_EDIT).select(
        "name_a", "name_b", dist.cast("long").alias("dist")
    )
