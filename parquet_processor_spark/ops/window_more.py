"""Extended window-function family (SURVEY.md §2.13 N7 — the full
analytic set beyond rank/lag): ntile, percent_rank, cume_dist,
first/last_value, and a moving average over a bounded rows frame.

percent_rank/cume_dist are integer-ratio divisions and the moving
average uses exact decimal sums, so all doubles match the oracle
bitwise (numeric.py policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


@query(
    "window_ntile",
    oracle="""
    select o_orderkey,
           ntile(4) over (partition by o_orderpriority order by o_totalprice, o_orderkey) as quartile,
           percent_rank() over (partition by o_orderpriority order by o_totalprice, o_orderkey) as pct_rank,
           cume_dist() over (partition by o_orderpriority order by o_totalprice, o_orderkey) as cdist
    from orders
    """,
    tags=("window",),
)
def window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "window_first_last",
    oracle="""
    select o_orderkey, o_custkey,
           first_value(o_orderkey) over w as first_order,
           last_value(o_orderkey) over w as latest_order
    from orders
    window w as (partition by o_custkey order by o_orderdate, o_orderkey
                 rows between unbounded preceding and unbounded following)
    """,
    tags=("window",),
)
def window_first_last(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
    )


@query(
    "window_moving_avg",
    oracle="""
    select event_id, user_id,
           cast(sum(cast(value as decimal(18,6))) over (
             partition by user_id order by ts, event_id
             rows between 2 preceding and current row) as double)
           / least(count(*) over (
             partition by user_id order by ts, event_id
             rows between 2 preceding and current row), 3) as moving_avg
    from events
    """,
    tags=("window",),
)
def window_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return t(spark, sf, "events").select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.least(F.count(F.lit(1)).over(w), F.lit(3))
        ).alias("moving_avg"),
    )


# Relative-rank family: percent_rank and cume_dist — both are exact
# integer ratios ((rank-1)/(n-1), n_le/n), one IEEE division each, so
# the doubles match bitwise across engines; ties resolve identically
# because both functions are defined on the ORDER VALUE, not on an
# arbitrary row order.
@query(
    "window_percent_rank",
    oracle="""
    select o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() over (partition by o_orderpriority
                                order by o_totalprice) as pr,
           cume_dist() over (partition by o_orderpriority
                             order by o_totalprice) as cd
    from orders
    """,
    tags=("window",),
)
def window_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank + cume_dist per priority over order value.

    100 TB shape: both functions share ONE exchange+sort on
    (o_orderpriority, o_totalprice) — Spark collapses same-spec
    window functions into a single Window operator. At petabyte
    partition sizes the same statistic comes from the two-phase
    global-index pattern (ops/windows.py W1); per-group sorts here
    match the oracle's semantics exactly.
    """
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# Rolling median over a row frame — an aggregate Spark's window
# functions don't support (no median/percentile over frames). The
# rewrite: collect the frame into an array, sort, index the middle —
# exact, deterministic, and frame-size-bounded memory. DuckDB runs its
# native windowed median as the oracle (interpolating even frames),
# so the array spelling must interpolate identically.
_ROLL_N = 5  # current row + 4 preceding


@query(
    "window_rolling_median",
    oracle=f"""
    select event_id, user_id, ts,
           median(value) over (
             partition by user_id order by ts, event_id
             rows between {_ROLL_N - 1} preceding and current row
           ) as roll_median
    from events
    """,
    tags=("window", "median", "frame", "bench_extended"),
)
def window_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-n-row median of `value` per user (n=_ROLL_N).

    100 TB shape: one hash shuffle on user_id (the frame lives inside
    the partition sort); collect_list over a ROWS frame holds at most
    n elements per row — O(frame) state, never the whole partition.
    The median is array arithmetic in codegen: sort the frame copy,
    pick the middle (odd) or average the two middles (even), matching
    DuckDB's interpolating median bit-for-bit — both engines compute
    (a+b)/2 on doubles in one IEEE operation. This is the general
    recipe for any frame aggregate the engine lacks: collect the
    bounded frame, fold in an expression.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ROLL_N - 1), Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    # even frame: mean of the two middle elements; odd: the middle one;
    # all-null frame (collect_list drops nulls): null, like median.
    med = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, odd)
        .otherwise((F.element_at(arr, (n / 2).cast("int")) + mid_hi) / F.lit(2.0))
    )
    return t(spark, sf, "events").select(
        "event_id", "user_id", "ts", med.alias("roll_median")
    )


# Exponentially-weighted moving average (alpha=0.5, 8-term adjusted
# form) — the standard time-series smoother feeding anomaly detection
# and rate-limit controllers. The textbook recursive form
# y_t = a*x_t + (1-a)*y_{t-1} is a sequential dependency no engine
# parallelizes; the ADJUSTED form is a finite weighted sum over the
# trailing frame (weights (1-a)^k, renormalized over the terms that
# exist), which IS expressible as a fixed lag combination — and the
# 8-term truncation error is bounded by (1-a)^8 < 0.4% of total
# weight, below any detection threshold the smoother feeds.
_EWMA_TERMS = 8
_EWMA_COEFS = [0.5**k for k in range(_EWMA_TERMS)]  # exact binary doubles


def _ewma_oracle() -> str:
    num = " + ".join(
        f"(case when lag(value, {k}) over w is not null "
        f"then cast({c!r} as double) * lag(value, {k}) over w "
        f"else cast(0 as double) end)"
        for k, c in enumerate(_EWMA_COEFS)
    )
    den = " + ".join(
        f"(case when lag(value, {k}) over w is not null "
        f"then cast({c!r} as double) else cast(0 as double) end)"
        for k, c in enumerate(_EWMA_COEFS)
    )
    return f"""
    select event_id, user_id,
           case when ({den}) > 0 then ({num}) / ({den}) end as ewma
    from events
    window w as (partition by user_id order by ts, event_id)
    """


@query("window_ewma", oracle=_ewma_oracle(), tags=("window", "timeseries", "bench_extended"))
def window_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Adjusted EWMA of ``value`` per user in event-time order:
    ewma_t = sum_k (1-a)^k x_{t-k} / sum_k (1-a)^k over the trailing
    8 observations that exist (missing lags and null values drop out
    of numerator AND denominator together).

    100 TB shape: one hash shuffle on user_id, then all 8 lag columns
    share ONE window sort — Spark collapses same-spec window
    expressions into a single WindowExec pass, so the cost equals the
    rolling-median frame scan, not 8 sorts. The weighted sum is a
    fixed left-to-right chain of IEEE multiply-adds mirrored
    literally in the oracle, so the doubles match bitwise. Truncating
    at 8 terms is what makes the operator embarrassingly windowed —
    the infinite-memory recursive form would serialize each user's
    timeline.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def lagv(k: int) -> F.Column:
        return F.lag("value", k).over(w) if k else F.col("value")

    num_terms = [
        F.when(lagv(k).isNotNull(), F.lit(c) * lagv(k)).otherwise(F.lit(0.0))
        for k, c in enumerate(_EWMA_COEFS)
    ]
    den_terms = [
        F.when(lagv(k).isNotNull(), F.lit(c)).otherwise(F.lit(0.0))
        for k, c in enumerate(_EWMA_COEFS)
    ]
    num = num_terms[0]
    for term in num_terms[1:]:
        num = num + term
    den = den_terms[0]
    for term in den_terms[1:]:
        den = den + term
    return t(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.when(den > 0, num / den).alias("ewma"),
    )


# Running-peak drawdown — the cumulative-extreme window member
# (running_sum covers cumulative TOTALS; this is cumulative MAX and
# distance below it): per user, the running peak of `value` in event
# time and the current drawdown from that peak. The alerting primitive
# for "metric fell X below its high-water mark".
@query(
    "window_drawdown",
    oracle="""
    select event_id, user_id,
           max(value) over w as running_peak,
           max(value) over w - value as drawdown
    from events
    window w as (partition by user_id order by ts, event_id
                 rows between unbounded preceding and current row)
    """,
    tags=("window", "timeseries", "bench_extended"),
)
def window_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user running peak and drawdown (peak − current value).

    100 TB shape: one hash shuffle on user_id, one window pass — the
    running max is O(1) state per row (frame-extending max needs no
    frame buffer), and the drawdown subtraction is one IEEE op on two
    values from the same row scan, so both engines agree bitwise.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("value").over(w)
    return t(spark, sf, "events").select(
        "event_id",
        "user_id",
        peak.alias("running_peak"),
        (peak - F.col("value")).alias("drawdown"),
    )


# Dedicated cume_dist (r12 VERDICT gap): the GLOBAL flavor — the
# empirical CDF of every finished order's price over the whole table,
# not per-group. A bare ``cume_dist() over (order by ...)`` compiles
# to one ordered task (the W1 scale-killer), so this rides the
# two-phase global index instead.
@query(
    "window_cume_dist",
    oracle="""
    select o_orderkey, o_totalprice,
           cume_dist() over (order by o_totalprice) as cd
    from orders where o_orderstatus = 'F'
    """,
    tags=("window", "rank", "bench_extended"),
)
def window_cume_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Global cume_dist = (# rows with price <= mine) / n, exactly.

    100 TB shape: ranks come from the two-phase global_row_number
    (x-range buckets + broadcast offsets); cume_dist at a value is
    then the MAX rank within that value's tie group (hash exchange on
    the value — bounded groups), over the broadcast total count. One
    exact integer division per row; no single-partition sort
    anywhere.
    """
    from parquet_processor_spark.ops.windows import global_row_number

    filtered = (
        t(spark, sf, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice")
    )
    ranked = global_row_number(filtered, "o_totalprice", rn_col="_rn")
    n = filtered.agg(F.count(F.lit(1)).alias("_n"))
    wv = Window.partitionBy("o_totalprice")
    return (
        ranked.withColumn("_mx", F.max("_rn").over(wv))
        .crossJoin(F.broadcast(n))
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("_mx").cast("double") / F.col("_n")).alias("cd"),
        )
    )
