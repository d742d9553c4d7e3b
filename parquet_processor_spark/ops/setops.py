"""Set operations (SURVEY.md §2.7, U1-U2 + intersect/except).

U1 is the reference's schema-merging union: pd.concat over per-segment
frames whose column sets differ by media type, missing columns → NaN
(test_parquet_aggregator.yml:151). Spark twin: unionByName with
allowMissingColumns — no shuffle at all, it is a pure plan-level
concatenation of scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


# U1: schema-merging union (aggregator.yml:151, evaluate_test_run.py:90).
@query(
    "union_by_name",
    oracle="""
    select l_orderkey, l_linenumber, l_quantity, cast(null as double) as l_extendedprice
    from lineitem where l_linestatus = 'O'
    union all
    select l_orderkey, l_linenumber, cast(null as double) as l_quantity, l_extendedprice
    from lineitem where l_linestatus = 'F'
    """,
    tags=("setop",),
)
def union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    open_items = li.where(F.col("l_linestatus") == "O").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    finished = li.where(F.col("l_linestatus") == "F").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return open_items.unionByName(finished, allowMissingColumns=True)


# U2: dedup by key — the skip-list membership guard (processor :353).
@query(
    "distinct_dedup",
    oracle="select distinct l_returnflag, l_linestatus from lineitem",
    tags=("setop", "dedup", "bench"),
)
def distinct_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# Engine extension: INTERSECT (customers that placed finished AND open orders).
@query(
    "set_intersect",
    oracle="""
    select o_custkey from orders where o_orderstatus = 'F'
    intersect
    select o_custkey from orders where o_orderstatus = 'O'
    """,
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders")
    f_side = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    o_side = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_side.intersect(o_side)


# Engine extension: EXCEPT (customers with no urgent orders).
@query(
    "set_except",
    oracle="""
    select c_custkey from customer
    except
    select o_custkey as c_custkey from orders where o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    c = t(spark, sf, "customer").select("c_custkey")
    urgent = (
        t(spark, sf, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # subtract == SQL EXCEPT (distinct semantics); exceptAll is the bag variant.
    return c.subtract(urgent)


# Bag-semantics set ops: intersectAll/exceptAll keep duplicate
# multiplicity (the reference's pd.concat world is bag-semantics too).
@query(
    "set_intersect_all",
    oracle="""
    select l_quantity from lineitem where l_returnflag = 'A'
    intersect all
    select l_quantity from lineitem where l_returnflag = 'R'
    """,
    tags=("setop",),
)
def set_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select("l_quantity")
    r = li.where(F.col("l_returnflag") == "R").select("l_quantity")
    return a.intersectAll(r)


@query(
    "set_except_all",
    oracle="""
    select l_quantity from lineitem where l_returnflag = 'A'
    except all
    select l_quantity from lineitem where l_returnflag = 'R'
    """,
    tags=("setop",),
)
def set_except_all(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select("l_quantity")
    r = li.where(F.col("l_returnflag") == "R").select("l_quantity")
    return a.exceptAll(r)


# N67: snapshot diff — the corpus-versioning primitive: which docs
# were added, removed, or changed between two ingestion runs. The two
# snapshots are carved deterministically out of the fixture (old =
# doc_id%10 != 7, new = doc_id%10 != 3 with text mutated at %10 == 5)
# so both engines derive identical versions from one table.
@query(
    "table_diff",
    oracle="""
    with v_old as (
      select doc_id, md5(coalesce(text, '')) as fp_old
      from documents where doc_id % 10 <> 7
    ),
    v_new as (
      select doc_id,
             md5(case when doc_id % 10 = 5 then upper(coalesce(text, ''))
                      else coalesce(text, '') end) as fp_new
      from documents where doc_id % 10 <> 3
    )
    select coalesce(o.doc_id, n.doc_id) as doc_id,
           case when o.fp_old is null then 'added'
                when n.fp_new is null then 'removed'
                when o.fp_old <> n.fp_new then 'changed'
                else 'unchanged' end as status
    from v_old o full outer join v_new n on o.doc_id = n.doc_id
    """,
    tags=("setop", "pipeline", "bench_extended"),
)
def table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level diff of two corpus snapshots keyed by doc_id:
    added / removed / changed / unchanged.

    100 TB shape: each side collapses to (key, 128-bit fingerprint)
    AT THE SCAN (projection — the text never leaves the mapper), so
    the full-outer hash join shuffles 24-byte rows; with both
    snapshots bucketed by key (how a real pipeline stores them) the
    join is co-located and shuffle-free. This is the idempotent-
    reingestion check the reference's resume contract implies
    (test_parquet_processor.py:377-385): a re-run's diff against the
    previous snapshot must be empty.
    """
    # coalesce to '' BEFORE fingerprinting: md5(null) is null, which
    # would classify a null-text doc present in BOTH snapshots as
    # 'added' — presence must key on the row, not on text nullability
    # (r6 ADVICE item).
    d = t(spark, sf, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    old = d.where(F.col("doc_id") % 10 != 7).select(
        "doc_id", F.md5(txt).alias("fp_old")
    )
    new = d.where(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 10 == 5, F.upper(txt)).otherwise(txt)
        ).alias("fp_new"),
    )
    return old.join(new, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
