"""Driver-visible streaming queries.

Each query genuinely executes a Structured Streaming job (availableNow
trigger, fresh checkpoint, memory sink) and returns the result table.

Oracle-checked (VERDICT r2 #4): with an availableNow trigger over one
static parquet file the micro-batch result is fully deterministic —
the watermark never drops rows (everything arrives in batch 1) and the
aggregates accumulate exactly (decimal / integer-micros state, see
streaming/jobs.py) — so each query registers the DuckDB SQL of its
batch twin: ``window_tumbling`` (ops/windows.py) for
``streaming_tumbling``, ``window_session`` (ops/temporal.py) for
``streaming_session``, an exact trunc-to-micros running total for
``streaming_stateful``, and a time-bounded self-join for
``streaming_stream_join``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.io import current_snapshot_version, read_snapshot, scratch_dir
from parquet_processor_spark.ops import temporal as _temporal  # noqa: F401 — registers the donor oracle below
from parquet_processor_spark.registry import _ORACLES, query
from parquet_processor_spark.streaming.jobs import (
    read_event_stream,
    session_counts,
    sliding_counts,
    stateful_user_totals,
    stream_dedup_keys,
    tumbling_counts,
)


def await_done(q, timeout_sec: float = 120.0) -> None:
    """Block until an availableNow stream COMMITS, or fail loudly.

    ``awaitTermination(timeout)`` returns False on timeout with the
    query still running; reading the sink then serves a partial
    (nondeterministic) state and leaks a running query into the
    session. Every sink read in this module goes through this guard.
    """
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after {timeout_sec}s"
        )


def _run_stream(df: DataFrame, mode: str) -> DataFrame:
    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:8]}"
    checkpoint = scratch_dir("ppspark_ckpt_")
    # The state-store partition count is frozen into the checkpoint at
    # first start, so a fresh query must pick it deliberately rather
    # than inherit whatever spark.sql.shuffle.partitions happens to be
    # (an unconfigured session's 200 means 200 state-store tasks per
    # micro-batch). Size it to the cluster's actual parallelism for the
    # duration of this run, then restore the session conf.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_done(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@query(
    "streaming_tumbling",
    oracle="""
    select time_bucket(interval 10 minutes, ts) as window_start,
           event_type,
           count(*) as n_events,
           cast(round(sum(cast(value as decimal(18,6))), 4) as double) as total_value
    from events
    group by 1, 2
    """,
    tags=("streaming",),
)
def streaming_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(tumbling_counts(events), "complete")


@query(
    "streaming_session",
    oracle="""
    with marked as (
      select user_id, ts, event_id,
             case when lag(ts) over w is null
                       or ts - lag(ts) over w > interval 15 minutes
                  then 1 else 0 end as new_sess
      from events
      window w as (partition by user_id order by ts, event_id)
    ),
    grouped as (
      select user_id, ts,
             sum(new_sess) over (partition by user_id order by ts, event_id
                                 rows between unbounded preceding and current row) as sess_id
      from marked
    )
    select min(ts) as session_start,
           max(ts) + interval 15 minutes as session_end,
           user_id,
           count(*) as n_events
    from grouped
    group by user_id, sess_id
    """,
    tags=("streaming", "session"),
)
def streaming_session(spark: SparkSession, sf: str) -> DataFrame:
    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(session_counts(events), "complete")


@query(
    "streaming_sliding",
    oracle="""
    select time_bucket(interval 5 minutes, ts) - k * interval 5 minutes as window_start,
           count(*) as n_events,
           cast(round(sum(cast(value as decimal(18,6))), 4) as double) as total_value
    from events cross join (values (0), (1)) as offsets(k)
    group by 1
    """,
    tags=("streaming", "sliding"),
)
def streaming_sliding(spark: SparkSession, sf: str) -> DataFrame:
    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(sliding_counts(events), "complete")


@query(
    "streaming_stateful",
    oracle="""
    select user_id,
           count(*) as n_events,
           cast(sum(cast(trunc(value * 1000000) as bigint)) as double) / 1000000
             as total_value
    from events
    group by user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_stateful(spark: SparkSession, sf: str) -> DataFrame:
    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(stateful_user_totals(events), "update")


@query(
    "streaming_dedup",
    oracle="select distinct user_id, event_type from events",
    tags=("streaming", "dedup"),
)
def streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(stream_dedup_keys(events), "append")


@query(
    "streaming_stream_join",
    oracle="""
    select p.event_id as purchase_event_id,
           p.user_id,
           p.ts as purchase_ts,
           p.value,
           v.event_id as view_event_id,
           v.ts as view_ts
    from events p join events v on p.user_id = v.user_id
    where p.event_type = 'purchase' and v.event_type = 'view'
      and v.ts <= p.ts and v.ts >= p.ts - interval 30 minutes
    """,
    tags=("streaming", "join"),
)
def streaming_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    from parquet_processor_spark.streaming.jobs import stream_stream_view_purchase

    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(stream_stream_view_purchase(events), "append")


@query(
    "streaming_static_join",
    oracle="""
    select c.c_mktsegment as segment,
           count(*) as n_events,
           cast(round(sum(cast(e.value as decimal(18,6))), 4) as double) as total_value
    from events e join customer c on e.user_id = c.c_custkey
    group by 1
    """,
    tags=("streaming", "join"),
)
def streaming_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins the customer
    dimension (static, broadcast — re-read per micro-batch by contract,
    so dimension updates between batches are picked up) and aggregates
    per market segment. The streaming analog of every "enrich events
    with a slowly-changing dim" pipeline; state is only the final
    aggregate, the join itself is stateless map-side work.

    Deterministic under availableNow + decimal accumulation, so the
    batch twin is the oracle (same policy as streaming_tumbling)."""
    from pyspark.sql import functions as F

    from parquet_processor_spark.tables import t

    events = read_event_stream(spark, f"{sf}/events.parquet")
    dim = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(F.broadcast(dim), events["user_id"] == dim["c_custkey"])
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("total_value"),
    )
    return _run_stream(agg, "complete")


@query(
    "streaming_upsert",
    oracle="""
    select user_id, ts, event_id, event_type, value
    from events
    qualify row_number() over (partition by user_id
                               order by ts desc, event_id desc) = 1
    """,
    tags=("streaming", "upsert"),
)
def streaming_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """T3 as a continuously-maintained sink: stream the events table
    through the foreachBatch keyed upsert (streaming/jobs.py
    run_with_upsert — newest (ts, event_id) per user wins, one state
    snapshot committed per batch) and return the final state table.
    Deterministic regardless of how micro-batches split the input:
    newest-wins is associative and commutative over batches, so the
    batch-mode ``row_number() = 1`` twin is the oracle."""
    from parquet_processor_spark.streaming.jobs import run_with_upsert

    events = read_event_stream(spark, f"{sf}/events.parquet")
    base = scratch_dir("ppspark_upsert_")
    q = run_with_upsert(events, f"{base}/state", f"{base}/ckpt")
    await_done(q)
    return read_snapshot(spark, f"{base}/state")


@query(
    "streaming_cdc_tombstones",
    oracle="""
    with ranked as (
      select user_id, event_id, event_type, value,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rk,
             count(*) over (partition by user_id) as n_versions
      from events
    )
    select user_id, cast(n_versions as bigint) as n_versions,
           event_id as last_event_id,
           (event_type = 'error') as is_deleted,
           case when event_type <> 'error' then value end as live_value
    from ranked where rk = 1
    """,
    tags=("streaming", "cdc", "upsert"),
)
def streaming_cdc_tombstones(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of ops/temporal.cdc_apply_tombstones: stream the
    events change log through the foreachBatch CDC merge
    (streaming/jobs.run_with_tombstones — version counts sum, newest
    (ts, event_id) change wins, 'error' tombstones persist as dead
    keys) and return the final state projected to the batch operator's
    exact output columns. The (count, argmax) state algebra is
    associative/commutative, so the result is independent of how
    micro-batches split the log — which is why the batch-mode SQL twin
    is a valid oracle."""
    from parquet_processor_spark.streaming.jobs import run_with_tombstones

    events = read_event_stream(spark, f"{sf}/events.parquet")
    base = scratch_dir("ppspark_cdc_")
    q = run_with_tombstones(events, f"{base}/state", f"{base}/ckpt")
    await_done(q)
    from pyspark.sql import functions as F

    return read_snapshot(spark, f"{base}/state").select(
        "user_id",
        "n_versions",
        F.col("event_id").alias("last_event_id"),
        (F.col("event_type") == "error").alias("is_deleted"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("live_value"),
    )


@query(
    "streaming_expectations",
    oracle="""
    with s as (
      select count(*) as n,
             coalesce(sum(case when value < 0 then 1 else 0 end), 0) as neg,
             coalesce(sum(case when event_type not in
               ('click','error','purchase','signup','view') then 1 else 0 end), 0) as dom,
             count(*) - count(ts) as nullts,
             coalesce(sum(case when event_type = 'error' then 1 else 0 end), 0) as errs
      from events
    )
    select constraint_name, n_checked, n_violations, ok from (
      select 'value_non_negative' as constraint_name,
             cast(n as bigint) as n_checked,
             cast(neg as bigint) as n_violations, neg = 0 as ok from s
      union all
      select 'event_type_in_domain', cast(n as bigint), cast(dom as bigint), dom = 0 from s
      union all
      select 'ts_not_null', cast(n as bigint), cast(nullts as bigint), nullts = 0 from s
      union all
      select 'error_rate_le_5pct', cast(n as bigint), cast(errs as bigint),
             errs * 20 <= n from s
    )
    """,
    tags=("streaming", "quality", "constraints", "bench_extended"),
)
def streaming_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of the table_expectations gate: the event stream
    is monitored per micro-batch (value sign, event-type domain,
    ts nullability, and an error-RATE budget of 5%), with violation
    counters aggregated across all batches in complete mode. Counter
    sums are associative/commutative, so totals are independent of how
    micro-batches split the input and the batch-mode SQL twin is a
    valid oracle. The fixture's error share (~1/5 of events) blows the
    5% budget, so the monitor demonstrates a firing alert alongside
    passing rules — the shape of a production data-quality stream
    (alert when ok flips false; counters ride the checkpoint for
    exactly-once accounting).

    100 TB shape: the per-batch work is a map-side partial aggregate
    of four integer counters — no state store beyond the single global
    row, no shuffle of event payloads.
    """
    from pyspark.sql import functions as F

    events = read_event_stream(spark, f"{sf}/events.parquet")
    domain = ("click", "error", "purchase", "signup", "view")
    counters = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.when(F.col("value") < 0, 1).otherwise(0)), F.lit(0)).alias("neg"),
        F.coalesce(
            F.sum(F.when(~F.col("event_type").isin(*domain), 1).otherwise(0)), F.lit(0)
        ).alias("dom"),
        F.coalesce(F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)), F.lit(0)).alias("nullts"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)), F.lit(0)
        ).alias("errs"),
    )
    mem = _run_stream(counters, "complete")
    # collapse the memory table to exactly one row (robust to an empty
    # source emitting no batch) — sums over <=1 row are the values
    s = mem.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum("neg"), F.lit(0)).cast("long").alias("neg"),
        F.coalesce(F.sum("dom"), F.lit(0)).cast("long").alias("dom"),
        F.coalesce(F.sum("nullts"), F.lit(0)).cast("long").alias("nullts"),
        F.coalesce(F.sum("errs"), F.lit(0)).cast("long").alias("errs"),
    ).localCheckpoint(eager=True)  # eager-by-design: 1-row summary feeds 4 union branches

    def row(name: str, v_col: str, ok: F.Column) -> DataFrame:
        return s.select(
            F.lit(name).alias("constraint_name"),
            F.col("n").alias("n_checked"),
            F.col(v_col).alias("n_violations"),
            ok.alias("ok"),
        )

    return (
        row("value_non_negative", "neg", F.col("neg") == 0)
        .unionByName(row("event_type_in_domain", "dom", F.col("dom") == 0))
        .unionByName(row("ts_not_null", "nullts", F.col("nullts") == 0))
        .unionByName(row("error_rate_le_5pct", "errs", F.col("errs") * 20 <= F.col("n")))
    )


# Streaming count-min sketch: the N109 batch sketch maintained as
# CONTINUOUS state — per micro-batch the (row, bucket) counters
# accumulate by addition in complete mode, so the stream-end cells are
# bit-identical to a batch build over the same file (split-invariance
# is the CMS merge property, proven here by oracling against the pure
# batch twin). Served: estimates for the top-20 users by exact count —
# the classical sketch + heavy-hitter pairing a streaming frequency
# monitor answers without keeping a per-key map.
_SCM_D = 3
_SCM_W = 16
_SCM_TOPK = 20


@query(
    "streaming_count_min",
    oracle=f"""
    with cells as (
      select j,
             ('0x' || substr(md5('cms' || cast(j as varchar) || '|'
                                 || cast(user_id as varchar)), 1, 8))::bigint
               % {_SCM_W} as bucket,
             count(*) as cell
      from events cross join (select unnest([0, 1, 2]) as j)
      group by 1, 2
    ),
    exact as (
      select user_id, count(*) as n_exact from events group by user_id
      order by n_exact desc, user_id limit {_SCM_TOPK}
    )
    select e.user_id,
           cast(e.n_exact as bigint) as n_exact,
           cast(min(c.cell) as bigint) as n_est,
           cast(min(c.cell) - e.n_exact as bigint) as n_over
    from exact e
    join cells c
      on c.bucket = ('0x' || substr(md5('cms' || cast(c.j as varchar) || '|'
                                        || cast(e.user_id as varchar)), 1, 8))::bigint
                    % {_SCM_W}
    group by e.user_id, e.n_exact
    """,
    tags=("streaming", "sketch", "approx", "bench_extended"),
)
def streaming_count_min(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-maintained CMS cells, served for the top-k user freqs.

    100 TB shape: per-batch work is one map-side-combined aggregate
    over d*w = 48 integer cells (the complete-mode state IS the
    sketch); no event payload shuffles and no per-key state grows —
    the whole point of sketching the stream. The serve step joins the
    48-cell table (broadcast) against the exact top-k, which a real
    monitor keeps separately (here derived from the same file batch-
    side for the oracle's benefit).
    """
    events = read_event_stream(spark, f"{sf}/events.parquet")
    mem = _run_stream(_cms_cells(events), "complete")
    return _cms_serve(spark, sf, mem)


def _cms_bucket(j: int) -> F.Column:
    h = F.md5(F.concat(F.lit(f"cms{j}|"), F.col("user_id").cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _SCM_W


def _cms_cells(events: DataFrame) -> DataFrame:
    """The d*w CMS counter spine of a user-keyed event stream — shared
    by the complete-mode twin and the N223-style update twin."""
    keyed = events.select(
        F.posexplode(F.array(*[_cms_bucket(j) for j in range(_SCM_D)])).alias(
            "j", "bucket"
        )
    )
    return keyed.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cell")
    )


def _cms_serve(spark: SparkSession, sf: str, cells: DataFrame) -> DataFrame:
    """Probe the 48-cell sketch (broadcast) for the exact top-k users
    — one serve path for both streaming twins."""
    from parquet_processor_spark.tables import t as _t

    exact = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(_SCM_TOPK)
    )
    probes = exact.select(
        "user_id",
        "n_exact",
        F.posexplode(F.array(*[_cms_bucket(j) for j in range(_SCM_D)])).alias(
            "j", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id")
        .agg(
            F.min("n_exact").cast("long").alias("n_exact"),
            F.min("cell").cast("long").alias("n_est"),
        )
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).cast("long").alias("n_over"),
        )
    )


@query(
    "streaming_changepoint",
    # share the batch oracle verbatim: the streamed spine and the
    # batch daily aggregate are the same relation, so the same SQL
    # checks both (the decoration-time sharing convention)
    oracle=_ORACLES["events_changepoint"],
    tags=("streaming", "timeseries", "changepoint"),
)
def streaming_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of events_changepoint: the stream maintains the
    collapsed (event_type, day) daily-count spine (complete-mode state
    — a few thousand integer rows at ANY event volume, the same
    collapsed-keys argument as the batch plan), and the CUSUM argmax
    serves from the at-rest state through the SAME code path as the
    batch operator (changepoint_of_daily), so the twins are identical
    by construction — checked by the shared oracle and a direct
    twin-equality test.

    100 TB shape: per-batch work is one map-side-combined aggregate
    into |types| x |days| state cells; no event payload is ever
    retained, so state never grows with volume — the monitor shape. A
    production deployment emits the spine in update mode to a compacted
    topic and runs the serve step on demand.
    """
    from parquet_processor_spark.ops.temporal import changepoint_of_daily

    events = read_event_stream(spark, f"{sf}/events.parquet")
    return changepoint_of_daily(_run_stream(_daily_spine(events, "x"), "complete"))


def _daily_spine(events: DataFrame, col_name: str) -> DataFrame:
    """The collapsed (event_type, day) count spine shared by the
    changepoint and forecast twins (complete- and update-mode): a few
    thousand integer rows at ANY event volume."""
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias(col_name))
    )



@query(
    "streaming_forecast",
    # share the batch oracle verbatim: the streamed spine and the
    # batch daily aggregate are the same relation (the
    # streaming_changepoint convention)
    oracle=_ORACLES["events_forecast_linear"],
    tags=("streaming", "timeseries", "forecast", "bench_extended"),
)
def streaming_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of events_forecast_linear: the stream maintains
    the collapsed (event_type, day) count spine — complete-mode state
    bounded by |types| x days at ANY event volume — and the OLS serve
    runs on the at-rest spine through the SAME code path as the batch
    operator (forecast_of_daily), so the twins are identical by
    construction and share one oracle.

    100 TB shape: per-batch work is one map-side-combined aggregate
    into the spine's integer cells; no event payload is retained, so
    state never grows with volume. A production deployment emits the
    spine in update mode to a compacted topic and re-fits on demand —
    the nightly-capacity-forecast loop as a standing stream.
    """
    from parquet_processor_spark.ops.temporal import forecast_of_daily

    events = read_event_stream(spark, f"{sf}/events.parquet")
    return forecast_of_daily(_run_stream(_daily_spine(events, "y"), "complete"))


@query(
    "streaming_ohlc",
    # the batch twin's semantics spelled natively: DuckDB has no
    # composite arg_min, so the (ts, event_id) order key is encoded as
    # ONE hugeint epoch_us(ts)*C + event_id (event_id < C, so the
    # encoding is order-isomorphic to the struct Spark's min_by sorts)
    oracle="""
    with m as (
      select time_bucket(interval 1 hour, ts) as bar_start, event_type,
             epoch_us(ts)::hugeint * 10000000000 + event_id as ord,
             cast(floor(value * 100 + 0.5) as bigint) as cents
      from events where value is not null
    )
    select bar_start, event_type,
           cast(count(*) as bigint) as n_events,
           cast(arg_min(cents, ord) as bigint) as open_cents,
           cast(max(cents) as bigint) as high_cents,
           cast(min(cents) as bigint) as low_cents,
           cast(arg_max(cents, ord) as bigint) as close_cents,
           cast(sum(cents) as bigint) as volume_cents
    from m group by bar_start, event_type
    """,
    tags=("streaming", "ohlc", "resample", "bench_extended"),
)
def streaming_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """T6 extension — the resample-to-bars job as a genuine
    Structured Streaming query (availableNow over the static fixture,
    complete mode): watermarked hourly windows whose open/close come
    from order-keyed min_by/max_by state, so bars are identical
    whatever the micro-batch arrival order. With one static file the
    watermark drops nothing and the result equals the batch twin
    (ops/temporal.events_ohlc_bars), which is what the oracle replays.
    """
    from parquet_processor_spark.streaming.jobs import ohlc_bars

    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(ohlc_bars(events), "complete")


@query(
    "streaming_trending_topk",
    # share the batch oracle verbatim: the streamed (hour, user) count
    # spine and the batch aggregate are the same relation (the
    # streaming_forecast convention)
    oracle=_ORACLES["events_trending_topk"],
    tags=("streaming", "topk", "trending", "bench_extended"),
)
def streaming_trending_topk(spark: SparkSession, sf: str) -> DataFrame:
    """N204 — streaming twin of events_trending_topk: the stream
    maintains the (hour, user) activity-count spine (complete mode),
    and the rank<=K leaderboard serves from the at-rest spine through
    the SAME code path as the batch operator
    (trending_rank_of_counts), so the twins are identical by
    construction and share one oracle.

    100 TB shape: per-batch work is one map-side-combined aggregate
    into integer spine cells; no event payload is retained. Honest
    state note: the spine is |active users per hour| rows — bounded
    by entity activity, not volume, but NOT by k; a deployment that
    cannot hold the per-hour user spine swaps the state for the
    streaming count-min sketch (N116) and serves approximate top-k
    with its error gate, the standard trade.
    """
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.temporal import trending_rank_of_counts

    events = read_event_stream(spark, f"{sf}/events.parquet")
    counts = (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour")["start"].alias("hour_start"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return trending_rank_of_counts(_run_stream(counts, "complete"))


@query(
    "streaming_trending_topk_update",
    # all three trending twins (batch, complete-mode stream, update-
    # mode stream) compute one relation and share one oracle
    oracle=_ORACLES["events_trending_topk"],
    tags=("streaming", "topk", "trending", "upsert", "bench_extended"),
)
def streaming_trending_topk_update(spark: SparkSession, sf: str) -> DataFrame:
    """N223 — the UPDATE-mode delta serve for the trending
    leaderboard, the production path beside N204's complete-mode twin
    (whose ×100 soak showed the complete-mode state rewrite dominating
    backfill wall — SCALE.md). Each micro-batch emits only touched
    (hour, user) spine cells; ``foreachBatch`` upserts them into the
    at-rest parquet spine (streaming/jobs.run_trending_update), and
    the rank<=K leaderboard serves from that spine through the SAME
    code path as the batch operator. Per-batch cost is O(new slice),
    pinned by the incremental pytest (the OHLC recipe).
    """
    from parquet_processor_spark.ops.temporal import trending_rank_of_counts
    from parquet_processor_spark.streaming.jobs import run_trending_update

    spine = _update_spine_backfill(
        spark,
        sf,
        lambda events, state, ckpt: run_trending_update(events, state, ckpt),
        "hour_start timestamp, user_id long, n_events long",
        "ppspark_trend_",
    )
    return trending_rank_of_counts(spine)


def _update_spine_backfill(
    spark: SparkSession,
    sf: str,
    start_job,
    empty_schema: str,
    prefix: str,
) -> DataFrame:
    """Replay the static fixture through an update-mode spine upsert
    (streaming/jobs.run_spine_update protocol) and return the at-rest
    spine — the shared backfill half of every N223-style twin.

    Backfill batching: a registered query replays the WHOLE fixture,
    so it takes all available files in ONE micro-batch (one state
    commit) — per-file batches would pay one O(state) parquet rewrite
    per file (measured 73 s vs 7 s at the x10 soak's 32-file corpus).
    The production incremental path IS per-slice batches; its
    per-batch cost bound is pinned by the maxFilesPerTrigger=1
    pytests (the OHLC recipe).

    ``start_job(events, state_dir, checkpoint)`` starts the upsert
    query; an empty source yields zero micro-batches and no committed
    snapshot, in which case the spine is the empty relation of
    ``empty_schema``.
    """
    events = read_event_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1_000_000
    )
    base = scratch_dir(prefix)
    q = start_job(events, f"{base}/state", f"{base}/ckpt")
    await_done(q)
    if current_snapshot_version(f"{base}/state") is None:
        return spark.createDataFrame([], empty_schema)
    return read_snapshot(spark, f"{base}/state")


@query(
    "streaming_changepoint_update",
    # same relation as the batch operator and the complete-mode twin
    # — all three share one oracle (the decoration-time convention)
    oracle=_ORACLES["events_changepoint"],
    tags=("streaming", "timeseries", "changepoint", "upsert", "bench_extended"),
)
def streaming_changepoint_update(spark: SparkSession, sf: str) -> DataFrame:
    """The N223 delta serve for the changepoint monitor (r12 VERDICT
    #5): the daily-count spine streams in UPDATE mode — each
    micro-batch emits only the (event_type, day) cells it touched —
    and run_spine_update upserts them into the at-rest parquet spine,
    so backfill cost per batch is O(touched cells), not O(state)
    rewrites like the complete-mode twin. The CUSUM argmax serves
    from the spine through the SAME code path as the batch operator.
    """
    from parquet_processor_spark.ops.temporal import changepoint_of_daily
    from parquet_processor_spark.streaming.jobs import run_spine_update

    spine = _update_spine_backfill(
        spark,
        sf,
        lambda ev, state, ckpt: run_spine_update(
            _daily_spine(ev, "x"), ("event_type", "d"), state, ckpt
        ),
        "event_type string, d date, x long",
        "ppspark_cpup_",
    )
    return changepoint_of_daily(spine)


@query(
    "streaming_forecast_update",
    oracle=_ORACLES["events_forecast_linear"],
    tags=("streaming", "timeseries", "forecast", "upsert", "bench_extended"),
)
def streaming_forecast_update(spark: SparkSession, sf: str) -> DataFrame:
    """The N223 delta serve for the capacity forecast (r12 VERDICT
    #5): same update-mode daily spine as the changepoint twin (one
    spine serves both monitors in production), OLS re-fit on the
    at-rest spine through the batch operator's code path.
    """
    from parquet_processor_spark.ops.temporal import forecast_of_daily
    from parquet_processor_spark.streaming.jobs import run_spine_update

    spine = _update_spine_backfill(
        spark,
        sf,
        lambda ev, state, ckpt: run_spine_update(
            _daily_spine(ev, "y"), ("event_type", "d"), state, ckpt
        ),
        "event_type string, d date, y long",
        "ppspark_fcup_",
    )
    return forecast_of_daily(spine)


@query(
    "streaming_count_min_update",
    oracle=_ORACLES["streaming_count_min"],
    tags=("streaming", "sketch", "approx", "upsert", "bench_extended"),
)
def streaming_count_min_update(spark: SparkSession, sf: str) -> DataFrame:
    """The N223 delta serve for the CMS monitor (r12 VERDICT #5): the
    48-cell counter spine streams in UPDATE mode — a micro-batch
    emits only the cells its events hashed into — upserted by
    run_spine_update; the top-k probe serves from the at-rest cells
    through the complete-mode twin's exact serve path (_cms_serve).
    """
    from parquet_processor_spark.streaming.jobs import run_spine_update

    cells = _update_spine_backfill(
        spark,
        sf,
        lambda ev, state, ckpt: run_spine_update(
            _cms_cells(ev), ("j", "bucket"), state, ckpt
        ),
        "j int, bucket bigint, cell long",
        "ppspark_cmup_",
    )
    return _cms_serve(spark, sf, cells)


@query(
    "streaming_stream_join_outer",
    oracle="""
    with wm as (
      select least((select max(ts) from events where event_type = 'view'),
                   (select max(ts) from events where event_type = 'purchase'))
             - interval 30 minutes as w
    )
    select p.event_id as purchase_event_id,
           p.user_id,
           p.ts as purchase_ts,
           p.value,
           v.event_id as view_event_id,
           v.ts as view_ts
    from events p
    left join events v
      on p.user_id = v.user_id and v.event_type = 'view'
     and v.ts <= p.ts and v.ts >= p.ts - interval 30 minutes
    where p.event_type = 'purchase'
      and (v.event_id is not null or p.ts <= (select w from wm))
    """,
    tags=("streaming", "join", "outer"),
)
def streaming_stream_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-expired NULL
    emission — the one join variant streaming_stream_join doesn't
    exercise (r13 verdict #7). Matched purchase-view pairs emit as in
    the inner join; a purchase with NO view in its 30-minute lookback
    emits exactly once with NULL view columns, and only after the
    global watermark (min of both sides' per-operator watermarks,
    Spark's default multipleWatermarkPolicy) proves no matching view
    can still arrive. Purchases newer than the final watermark are
    STILL BUFFERED when the availableNow run drains — the oracle
    replays that boundary exactly: null rows appear iff purchase_ts <=
    min(max view ts, max purchase ts) - 30 min, so the output is
    deterministic for a bounded input despite being watermark-driven.

    100 TB shape: identical to the inner variant — state is bounded by
    the horizon on both sides (the interval condition gives Spark an
    eviction bound per buffered row), keyed by user_id so the join
    shuffles only the two event spines; the null emission adds zero
    state, it IS the eviction path doing double duty as output.
    """
    from parquet_processor_spark.streaming.jobs import stream_stream_view_purchase

    events = read_event_stream(spark, f"{sf}/events.parquet")
    return _run_stream(stream_stream_view_purchase(events, how="left_outer"), "append")
