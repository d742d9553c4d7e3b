"""Temporal operators the reference lacks but a Spark engine needs:
as-of join, batch session windows, and sliding windows over ``events``.

The reference's only temporal logic is run-created-after-coordinator
correlation (test_parquet_aggregator.yml:46-58, covered by
``join_range``) — these generalize it to the full event-time family.

Scale strategy per operator:

- as-of join: implemented as union + partitioned window scan (one
  shuffle on user_id, no range-explosion join). This is the standard
  big-data as-of formulation: tag both sides, union, sort within the
  user partition by time, carry the last right-side row forward with
  ``last(ignorenulls)``, keep left rows. At 100 TB both sides shuffle
  once on the join key; no per-row probe, no broadcast needed.
- session windows: built-in ``session_window`` (batch mode); the gap
  merge runs inside one groupBy shuffle keyed by user.
- sliding windows: built-in ``window(len, slide)`` — each row expands
  to len/slide window copies map-side, then one tumbling-style groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t


# As-of join: for each purchase event, the most recent view event by
# the same user at or before the purchase time. Right side is first
# made unique per (user_id, ts) — keep max event_id — so the match is
# deterministic under timestamp ties; the oracle spells the identical
# dedup and uses DuckDB's native ASOF JOIN.
@query(
    "join_asof",
    oracle="""
    with views as (
      select user_id, ts, max(event_id) as view_event_id
      from events where event_type = 'view'
      group by user_id, ts
    ),
    purchases as (
      select event_id as purchase_event_id, user_id, ts, value
      from events where event_type = 'purchase'
    )
    select p.purchase_event_id, p.user_id, p.ts, p.value,
           v.view_event_id as prior_view_event_id,
           v.ts as prior_view_ts
    from purchases p
      asof left join views v
        on p.user_id = v.user_id and p.ts >= v.ts
    """,
    tags=("join", "asof", "temporal"),
)
def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts", "value"
    )
    # Tag and union: right rows get side=0 so they sort before left rows
    # at equal ts, making ts-tie matches inclusive (ASOF's >= semantics).
    left = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "purchase_event_id",
        "value",
        F.lit(None).cast("long").alias("view_event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    right = views.select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("value"),
        "view_event_id",
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .select(
            "user_id",
            "ts",
            "side",
            "purchase_event_id",
            "value",
            F.last("view_event_id", ignorenulls=True).over(w).alias("prior_view_event_id"),
            F.last("view_ts", ignorenulls=True).over(w).alias("prior_view_ts"),
        )
        .where(F.col("side") == 1)
        .select(
            "purchase_event_id", "user_id", "ts", "value", "prior_view_event_id", "prior_view_ts"
        )
    )


# Batch session windows (gap merge), oracle via gaps-and-islands: a new
# session starts where the gap from the previous event exceeds 15 min;
# session id = running count of session starts.
@query(
    "window_session",
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
    select user_id,
           min(ts) as session_start,
           max(ts) + interval 15 minutes as session_end,
           count(*) as n_events
    from grouped
    group by user_id, sess_id
    """,
    tags=("window", "session", "temporal"),
)
def window_session(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# Event-level sessionization: label EVERY event with its user-session
# ordinal (gaps-and-islands) — the per-event complement of
# window_session's per-session aggregate (downstream training
# pipelines key sequence packing by (user, session_seq), which needs
# the label on the row, not the session summary).
@query(
    "sessionize_events",
    oracle="""
    with marked as (
      select event_id, user_id, ts,
             case when lag(ts) over w is null
                       or ts - lag(ts) over w > interval 15 minutes
                  then 1 else 0 end as new_sess
      from events
      window w as (partition by user_id order by ts, event_id)
    )
    select event_id, user_id,
           cast(sum(new_sess) over (partition by user_id order by ts, event_id
                                    rows between unbounded preceding and current row)
                as bigint) as session_seq
    from marked
    """,
    tags=("temporal", "window", "session"),
)
def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Assign each event its per-user session ordinal: a session break
    is a gap > 15 min from the previous event (ties broken by
    event_id, so the labeling is deterministic).

    Gap arithmetic runs on ``unix_micros`` — exact integer micros, the
    same resolution DuckDB's interval comparison uses; casting ts to
    seconds would truncate and disagree on sub-second boundary gaps.

    100 TB: one hash shuffle on user_id; the lag window and the
    running-sum window share that partitioning (single Exchange in the
    plan), and neither ever funnels through a global sort.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(
        lag_us.isNull() | (F.unix_micros(F.col("ts")) - lag_us > 900_000_000), 1
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        t(spark, sf, "events")
        .select("event_id", "user_id", "ts", new_sess.alias("new_sess"))
        .select("event_id", "user_id", F.sum("new_sess").over(wc).alias("session_seq"))
    )


# Sliding windows: 10-minute windows sliding every 5 — each event lands
# in exactly 2 windows. The oracle expands the two window starts per
# event (time_bucket minus k slides) and re-aggregates.
@query(
    "window_sliding",
    oracle="""
    select time_bucket(interval 5 minutes, ts) - k * interval 5 minutes as window_start,
           count(*) as n_events,
           cast(round(sum(cast(value as decimal(18,6))), 4) as double) as total_value
    from events cross join (values (0), (1)) as offsets(k)
    group by 1
    """,
    tags=("window", "sliding", "temporal"),
)
def window_sliding(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


# Ordered-sequence funnel: view → click-after-view → purchase-after-
# click per user, each stage the EARLIEST qualifying event. The classic
# product-analytics operator (and a training-data shape: multi-stage
# event matching under temporal order).
@query(
    "events_funnel",
    oracle="""
    with v as (
      select user_id, min(ts) as t_view
      from events where event_type = 'view' group by user_id
    ),
    c as (
      select e.user_id, v.t_view, min(e.ts) as t_click
      from events e join v on e.user_id = v.user_id
      where e.event_type = 'click' and e.ts > v.t_view
      group by e.user_id, v.t_view
    ),
    p as (
      select e.user_id, c.t_click, min(e.ts) as t_purchase
      from events e join c on e.user_id = c.user_id
      where e.event_type = 'purchase' and e.ts > c.t_click
      group by e.user_id, c.t_click
    )
    select v.user_id, v.t_view, c.t_click, p.t_purchase,
           (p.t_purchase is not null) as completed
    from v
      left join c on v.user_id = c.user_id
      left join p on v.user_id = p.user_id
    """,
    tags=("temporal", "window"),
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user funnel: earliest view, earliest click strictly after
    it, earliest purchase strictly after that; completed = all three.

    Three min-aggregates cascaded by time predicates. Each stage is a
    map-side-combined groupBy on user_id plus one equi-join on user_id
    — with all stages keyed identically, the shuffles reuse one
    partitioning (no re-exchange between stages; at 100 TB this is one
    hash exchange of the events projection per stage, and AQE coalesces
    the small stage outputs). No window over unbounded event history is
    needed because each stage only carries (user_id, ts) pairs forward.
    """
    ev = t(spark, sf, "events").select("user_id", "event_type", "ts")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("completed"),
        )
    )


# Threshold anomaly flagging against an exact per-type p99 — the
# outlier filter of a metrics pipeline, spelled so the threshold
# itself is deterministic: the value AT rank ceil(0.99*n) (integer
# rank arithmetic, no interpolation), computed per event_type and
# broadcast back against the scan.
@query(
    "events_anomaly_p99",
    oracle="""
    with s as (
      select event_type, value,
             row_number() over (partition by event_type order by value) as rn,
             count(*) over (partition by event_type) as n
      from events
    ),
    thr as (
      select event_type, max(case when rn = (99 * n + 99) // 100 then value end) as p99
      from s group by event_type
    )
    select e.event_id, e.event_type, e.value, t.p99
    from events e join thr t on e.event_type = t.event_type
    where e.value > t.p99
    """,
    tags=("events", "anomaly", "percentile"),
)
def events_anomaly_p99(spark: SparkSession, sf: str) -> DataFrame:
    """Events whose value exceeds their type's exact 99th percentile.

    100 TB shape: the threshold table is one row per event_type —
    broadcast back against the scan, so the flagging pass is
    map-side with the value predicate evaluated inside codegen (at
    production scale the p99 would come from the two-phase
    distributed rank, or percentile_approx gated by
    error_approx_quantile; here the exact rank keeps the oracle
    hash-checkable). Comparing `value > p99` is exact: both engines
    read the identical stored double and the threshold is a stored
    value, not a computed float.
    """
    w = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    s = t(spark, sf, "events").select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    thr = s.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(99 * n + 99) div 100"), F.col("value"))
        ).alias("p99")
    )
    e = t(spark, sf, "events")
    return (
        e.join(F.broadcast(thr), "event_type")
        .where(F.col("value") > F.col("p99"))
        .select("event_id", "event_type", "value", "p99")
    )


# Cohort retention — users bucketed by first-activity week, retention
# counted at integer week offsets. The product-analytics staple; all
# arithmetic is calendar/integer (date_trunc + day-diff div 7), so the
# row set is exact on both engines.
@query(
    "events_retention",
    oracle="""
    with act as (
      select distinct user_id, cast(date_trunc('week', ts) as date) as wk
      from events
    ),
    cohort as (
      select user_id, min(wk) as cohort_wk from act group by user_id
    )
    select c.cohort_wk,
           date_diff('day', c.cohort_wk, a.wk) // 7 as week_offset,
           count(distinct a.user_id) as n_users
    from act a join cohort c on a.user_id = c.user_id
    group by 1, 2
    """,
    tags=("events", "retention", "temporal"),
)
def events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention matrix over events.

    100 TB shape: the distinct (user, week) activity table collapses
    the raw stream first (map-side combined — the shuffle carries one
    row per user-week, not per event); the cohort table derives from
    it with a second user-keyed aggregate that REUSES the same hash
    partitioning (no extra exchange for the join: both sides arrive
    partitioned by user_id); the final rollup is keyed on
    (cohort, offset) — a few hundred groups regardless of corpus
    size. The count distinct dedups map-side within each tiny group.
    """
    act = (
        t(spark, sf, "events")
        .select("user_id", F.date_trunc("week", "ts").cast("date").alias("wk"))
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            F.expr("datediff(wk, cohort_wk) div 7").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# AS-OF join with a match tolerance (pandas merge_asof semantics: take
# the nearest prior match, then DISCARD it when it is older than the
# bound). Same union+window plan as join_asof — the tolerance is one
# codegen predicate over the matched timestamp, never a range join.
_ASOF_TOL_SECONDS = 3600


@query(
    "join_asof_tolerance",
    oracle=f"""
    with views as (
      select user_id, ts, max(event_id) as view_event_id
      from events where event_type = 'view'
      group by user_id, ts
    ),
    purchases as (
      select event_id as purchase_event_id, user_id, ts, value
      from events where event_type = 'purchase'
    )
    select p.purchase_event_id, p.user_id, p.ts, p.value,
           case when date_diff('second', v.ts, p.ts) <= {_ASOF_TOL_SECONDS}
                then v.view_event_id end as recent_view_event_id,
           case when date_diff('second', v.ts, p.ts) <= {_ASOF_TOL_SECONDS}
                then v.ts end as recent_view_ts
    from purchases p
      asof left join views v
        on p.user_id = v.user_id and p.ts >= v.ts
    """,
    tags=("join", "asof", "temporal"),
)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """join_asof with a 1-hour staleness bound on the matched view.

    100 TB shape: identical to join_asof (tag-union both sides, one
    window scan over a single user_id exchange); the tolerance check
    is a map-side timestamp difference on the already-matched row —
    asof-with-tolerance never becomes a per-row range probe.
    """
    ev = t(spark, sf, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts", "value"
    )
    left = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "purchase_event_id",
        "value",
        F.lit(None).cast("long").alias("view_event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    right = views.select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("value"),
        "view_event_id",
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        left.unionByName(right)
        .select(
            "user_id",
            "ts",
            "side",
            "purchase_event_id",
            "value",
            F.last("view_event_id", ignorenulls=True).over(w).alias("m_event_id"),
            F.last("view_ts", ignorenulls=True).over(w).alias("m_ts"),
        )
        .where(F.col("side") == 1)
    )
    within = (
        F.col("m_ts").isNotNull()
        & (F.unix_timestamp("ts") - F.unix_timestamp("m_ts") <= _ASOF_TOL_SECONDS)
    )
    return matched.select(
        "purchase_event_id",
        "user_id",
        "ts",
        "value",
        F.when(within, F.col("m_event_id")).alias("recent_view_event_id"),
        F.when(within, F.col("m_ts")).alias("recent_view_ts"),
    )


# SCD Type-2 dimension build: compress each user's event-type stream
# into validity intervals (state, valid_from, valid_to, version,
# is_current) — the standard slowly-changing-dimension shape a warehouse
# derives from a change stream (the reference's closest analog is the
# per-run timestamped snapshot dirs, test_parquet_processor.yml:70,
# where later snapshots supersede earlier ones).
@query(
    "scd2_intervals",
    oracle="""
    with ordered as (
      select user_id, event_type as state, ts,
             lag(event_type) over (partition by user_id order by ts, event_id)
               as prev_state
      from events
    ),
    changes as (
      select user_id, state, ts from ordered
      where prev_state is null or state <> prev_state
    )
    select user_id, state,
           ts as valid_from,
           lead(ts) over w as valid_to,
           row_number() over w as version,
           (lead(ts) over w is null) as is_current
    from changes
    window w as (partition by user_id order by ts, state)
    """,
    tags=("temporal", "window", "scd"),
)
def scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 validity intervals from the per-user event-type stream.

    100 TB shape: both window passes (change detection, then
    valid_to/version over the collapsed rows) partition by user_id —
    ONE hash exchange feeds them; the second pass runs over the
    change rows only (a fraction of the stream), so the expensive
    sort touches the raw events once. No join, no self-correlation:
    SCD2 from a change log is two window scans, never the
    event-to-next-event range join a naive build would use.
    Determinism: ties at equal ts break on event_id for change
    detection and on state for interval ordering (consecutive change
    states are distinct by construction, so (ts, state) is unique
    within a user).
    """
    ev = t(spark, sf, "events")
    w_detect = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
        )
        .withColumn("prev_state", F.lag("state").over(w_detect))
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "state")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# Interval-overlap join: per user, which view sessions overlap which
# purchase sessions (15-min gap sessions on each side). The general
# "range intersects range" correlation — the 2-sided generalization of
# join_range's point-in-range shape.
def _session_sql(event_type: str) -> str:
    """Gaps-and-islands session intervals for one event type (DuckDB)."""
    return f"""
      select user_id, min(ts) as s_start, max(ts) + interval 15 minutes as s_end
      from (
        select user_id, ts,
               sum(new_sess) over (partition by user_id order by ts, event_id
                                   rows between unbounded preceding and current row)
                 as sess_id
        from (
          select user_id, ts, event_id,
                 case when lag(ts) over w is null
                           or ts - lag(ts) over w > interval 15 minutes
                      then 1 else 0 end as new_sess
          from events where event_type = '{event_type}'
          window w as (partition by user_id order by ts, event_id)
        )
      )
      group by user_id, sess_id
    """


@query(
    "join_interval_overlap",
    oracle=f"""
    with v as ({_session_sql("view")}),
         p as ({_session_sql("purchase")})
    select v.user_id,
           v.s_start as view_start, v.s_end as view_end,
           p.s_start as purchase_start, p.s_end as purchase_end
    from v join p on v.user_id = p.user_id
                 and v.s_start < p.s_end and p.s_start < v.s_end
    """,
    tags=("join", "temporal", "interval"),
)
def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping (view-session × purchase-session) pairs per user.

    100 TB shape: each side collapses its raw events to session
    intervals inside one user-keyed session_window aggregate FIRST
    (orders of magnitude fewer rows than events), then the overlap
    join is an equi join on user_id with the interval predicate as a
    post-join filter — a sort-merge join on the user key, never an
    unblocked interval cross product. Per-user session counts are
    small and bounded by activity span, so the within-key candidate
    product stays tiny; the half-open comparison (< on both ends)
    makes touching-at-boundary intervals non-overlapping on both
    engines.
    """
    ev = t(spark, sf, "events")

    def sessions(event_type: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == event_type)
            .groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.col("w.start").alias("s_start"),
                F.col("w.end").alias("s_end"),
            )
        )

    v = sessions("view")
    p = sessions("purchase")
    return (
        v.alias("v")
        .join(
            p.alias("p"),
            (F.col("v.user_id") == F.col("p.user_id"))
            & (F.col("v.s_start") < F.col("p.s_end"))
            & (F.col("p.s_start") < F.col("v.s_end")),
        )
        .select(
            F.col("v.user_id").alias("user_id"),
            F.col("v.s_start").alias("view_start"),
            F.col("v.s_end").alias("view_end"),
            F.col("p.s_start").alias("purchase_start"),
            F.col("p.s_end").alias("purchase_end"),
        )
    )


# Time-series gap filling with forward fill (daily resample): every
# user gets one row per calendar day across their active span; days
# with no events carry the last observed value forward. The resample /
# step-interpolation primitive of feature pipelines over event logs.
@query(
    "events_gap_fill",
    oracle="""
    with daily as (
      select user_id, cast(ts as date) as day,
             (max(struct_pack(t := ts, e := event_id, v := value))).v as day_value
      from events
      group by user_id, cast(ts as date)
    ),
    span as (
      select user_id, min(day) as d0, max(day) as d1 from daily group by user_id
    ),
    grid as (
      select s.user_id, cast(g.d as date) as day
      from span s, unnest(generate_series(cast(s.d0 as timestamp),
                                          cast(s.d1 as timestamp),
                                          interval 1 day)) as g(d)
    )
    select g.user_id, g.day,
           last_value(d.day_value ignore nulls)
             over (partition by g.user_id order by g.day
                   rows between unbounded preceding and current row) as value_filled,
           (d.day_value is not null) as is_observed
    from grid g left join daily d on g.user_id = d.user_id and g.day = d.day
    """,
    tags=("temporal", "timeseries", "gapfill"),
)
def events_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Daily per-user grid over each user's active span, forward-filled.

    100 TB shape: the raw stream first collapses to one row per
    (user, day) in a map-side-combined aggregate — the only pass over
    the full data. The calendar grid is generated from the per-user
    span row (sequence+explode: map-only, output bounded by
    users x span-days, not by event count), and the fill is one
    window over the user_id partitioning that the grid join already
    established. Day-value determinism: struct-max over
    (ts, event_id, value) — the day's LAST event wins, ties broken by
    event_id, spelled as a lexicographic struct max on both engines.
    """
    ev = t(spark, sf, "events")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.expr("max(struct(ts as t, event_id as e, value as v)).v").alias("day_value"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("day_value", ignorenulls=True).over(w).alias("value_filled"),
            F.col("day_value").isNotNull().alias("is_observed"),
        )
    )


# First-order Markov transition matrix over the event-type stream:
# counts and conditional probabilities of "user does Y right after X".
# The behavior-model statistic sequence-mining / anomaly pipelines
# derive before any learned model.
@query(
    "events_markov",
    oracle="""
    with seq as (
      select user_id, event_type,
             lag(event_type) over (partition by user_id order by ts, event_id)
               as prev_type
      from events
    ),
    trans as (
      select prev_type, event_type as next_type, count(*) as n
      from seq where prev_type is not null
      group by prev_type, event_type
    )
    select prev_type, next_type, n,
           cast(n as double)
             / sum(n) over (partition by prev_type) as p_next
    from trans
    """,
    tags=("temporal", "markov", "events"),
)
def events_markov(spark: SparkSession, sf: str) -> DataFrame:
    """(prev, next) event-type transition counts and P(next | prev).

    100 TB shape: the lag window is ONE shuffle on user_id (ties
    broken by event_id); transition counts map-side combine onto a
    |types|^2-row table, and the conditional probability normalizes
    inside that tiny table (window over prev_type costs nothing at
    |types| rows). The probability is one double division of exact
    bigint counts — deterministic across engines. This is the
    two-aggregate shape that never materializes per-user sequences.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf, "events").select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp)).alias("p_next"),
    )


# Rolling 7-day distinct users per day — the sliding-window COUNT
# DISTINCT that window frames can't express (no distinct aggregates
# over frames in either engine's window functions): each (user, day)
# activity row fans out to the 7 target days it is visible from, and
# the distinct count collapses per target day.
@query(
    "events_rolling_distinct",
    oracle="""
    with act as (
      select distinct user_id, cast(ts as date) as day from events
    ),
    fan as (
      select a.user_id, a.day + cast(o as integer) as target_day
      from act a, unnest(generate_series(0, 6)) as s(o)
    ),
    days as (select distinct cast(ts as date) as day from events)
    select d.day, count(distinct f.user_id) as dau7
    from days d join fan f on f.target_day = d.day
    group by d.day
    """,
    tags=("temporal", "window", "distinct"),
)
def events_rolling_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct users active in the trailing 7 days, per observed day.

    100 TB shape: the raw stream collapses to (user, day) map-side
    FIRST (the only full-data pass); the 7-way fan-out is map-only
    and bounded by 7x the collapsed table, not the event count; the
    final distinct count is one map-side-combined aggregate per
    target day. This replaces the unimplementable
    `count(distinct) over (range 7 days)` window AND the self-join
    formulation (activity x activity on a range predicate) that
    rescans the table per day. Observed-days join keeps the output
    aligned with days that actually exist in the data.
    """
    ev = t(spark, sf, "events")
    act = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    fan = act.select(
        "user_id",
        F.explode(F.expr("sequence(day, day + interval 6 days, interval 1 day)")).alias(
            "target_day"
        ),
    )
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    return (
        days.join(fan, days.day == fan.target_day)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("dau7"))
    )


# Time-bounded funnel: view -> click -> purchase with each NEXT stage
# required within 1 hour of the previous (the "conversion window"
# variant of events_funnel — MATCH_RECOGNIZE-lite sequence matching).
# Earliest-qualifying semantics per stage, like the unbounded funnel.
_FUNNEL_WINDOW_SECONDS = 3600


@query(
    "events_funnel_windowed",
    oracle=f"""
    with v as (
      select user_id, min(ts) as t_view
      from events where event_type = 'view' group by user_id
    ),
    c as (
      select e.user_id, v.t_view, min(e.ts) as t_click
      from events e join v on e.user_id = v.user_id
      where e.event_type = 'click' and e.ts > v.t_view
        and e.ts <= v.t_view + interval {_FUNNEL_WINDOW_SECONDS} seconds
      group by e.user_id, v.t_view
    ),
    p as (
      select e.user_id, c.t_click, min(e.ts) as t_purchase
      from events e join c on e.user_id = c.user_id
      where e.event_type = 'purchase' and e.ts > c.t_click
        and e.ts <= c.t_click + interval {_FUNNEL_WINDOW_SECONDS} seconds
      group by e.user_id, c.t_click
    )
    select v.user_id, v.t_view, c.t_click, p.t_purchase,
           (p.t_purchase is not null) as completed
    from v
      left join c on v.user_id = c.user_id
      left join p on v.user_id = p.user_id
    """,
    tags=("temporal", "funnel", "window"),
)
def events_funnel_windowed(spark: SparkSession, sf: str) -> DataFrame:
    """events_funnel with a 1-hour conversion bound per stage.

    100 TB shape: identical to the unbounded funnel — three map-side-
    combined min-aggregates cascaded by user-keyed equi joins reusing
    ONE partitioning — the window bound is a map-side predicate on
    the already-joined row, never a range join. Note the greedy
    earliest-qualifying semantics (first view anchors the chain): a
    later view could in principle convert where the first did not —
    per-anchor matching is the funnel variant pipelines accept for
    linear cost, and it is what warehouse funnels (and this oracle)
    define.
    """
    bound = f"interval {_FUNNEL_WINDOW_SECONDS} seconds"
    ev = t(spark, sf, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr(bound))
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr(bound))
        )
        .groupBy("user_id", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p.select("user_id", "t_purchase"), "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("completed"),
        )
    )


# Open-orders-over-time via a difference array: each order contributes
# +1 on its order day and -1 the day after its last shipment; the
# running sum of per-day deltas IS the number of orders in flight —
# the interval-stabbing aggregate ("how many X were active on each
# day") computed WITHOUT joining every day against every interval.
@query(
    "orders_open_over_time",
    oracle="""
    with span as (
      select o.o_orderkey,
             cast(o.o_orderdate as date) as d_open,
             cast(max(l.l_shipdate) as date) + 1 as d_close
      from orders o join lineitem l on o.o_orderkey = l.l_orderkey
      group by o.o_orderkey, o.o_orderdate
    ),
    deltas as (
      select d_open as day, 1 as delta from span
      union all
      select d_close as day, -1 as delta from span
    ),
    daily as (select day, sum(delta) as net from deltas group by day)
    select day,
           cast(sum(net) over (order by day
                               rows between unbounded preceding and current row)
                as bigint) as n_open
    from daily
    """,
    tags=("temporal", "interval", "window"),
)
def orders_open_over_time(spark: SparkSession, sf: str) -> DataFrame:
    """Orders in flight per day (open from order date through last
    shipment), as a difference array + running sum.

    100 TB shape: the interval table collapses to ±1 deltas map-side
    (two rows per order, not one row per order-day — a naive
    day-grid join would be |orders| x avg-duration rows); per-day
    nets are one map-side-combined aggregate onto |distinct days|
    rows; the running sum windows over THAT tiny table. This is the
    canonical rewrite for "count active intervals at each point":
    O(intervals + days), never O(intervals x days). All-integer
    arithmetic end to end.
    """
    from pyspark.sql import Window

    span = (
        t(spark, sf, "orders")
        .join(
            t(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.col("o_orderdate").cast("date").alias("d_open"),
            F.date_add(F.col("last_ship").cast("date"), 1).alias("d_close"),
        )
    )
    deltas = span.select(F.col("d_open").alias("day"), F.lit(1).alias("delta")).unionAll(
        span.select(F.col("d_close").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select("day", F.sum("net").over(w).cast("long").alias("n_open"))


# SCD2 point-in-time join: attach to each purchase the user's state
# version valid AT the purchase instant — the fact-to-versioned-
# dimension lookup every warehouse does against an SCD2 table. Spelled
# as the as-of union+window plan over the interval table's valid_from
# (an interval table's point-in-time lookup IS an as-of join on the
# open edge).
@query(
    "join_scd2_pointintime",
    oracle="""
    with ordered as (
      select user_id, event_type as state, ts,
             lag(event_type) over (partition by user_id order by ts, event_id)
               as prev_state
      from events
    ),
    changes as (
      select user_id, state, ts from ordered
      where prev_state is null or state <> prev_state
    ),
    scd as (
      select user_id, state,
             ts as valid_from,
             lead(ts) over (partition by user_id order by ts, state) as valid_to
      from changes
    ),
    purchases as (
      select event_id as purchase_event_id, user_id, ts
      from events where event_type = 'purchase'
    )
    select p.purchase_event_id, p.user_id, p.ts,
           s.state as state_at_purchase, s.valid_from
    from purchases p
      asof join scd s on p.user_id = s.user_id and p.ts >= s.valid_from
    """,
    tags=("temporal", "scd", "asof", "join"),
)
def join_scd2_pointintime(spark: SparkSession, sf: str) -> DataFrame:
    """Each purchase with the SCD2 state version valid at its instant.

    100 TB shape: the interval build is scd2_intervals' two window
    passes over one user exchange; the point-in-time lookup reuses
    the SAME user partitioning as a tag-union as-of scan (facts and
    versions sorted together per user, last version carried forward)
    — one extra sort, ZERO extra shuffles, and never the
    fact x version range join (quadratic per hot user) that BETWEEN
    valid_from AND valid_to would plan. Every purchase matches (its
    own event is a state observation at or before it), so the join is
    effectively inner on both engines.
    """
    ev = t(spark, sf, "events")
    w_detect = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", F.col("event_type").alias("state"), "ts", "event_id")
        .withColumn("prev_state", F.lag("state").over(w_detect))
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select("user_id", "state", F.col("ts").alias("valid_from"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    left = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "purchase_event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("timestamp").alias("valid_from"),
    )
    right = changes.select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        "state",
        "valid_from",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .select(
            "user_id",
            "ts",
            "side",
            "purchase_event_id",
            F.last("state", ignorenulls=True).over(w).alias("state_at_purchase"),
            F.last("valid_from", ignorenulls=True).over(w).alias("valid_from"),
        )
        .where(F.col("side") == 1)
        .select("purchase_event_id", "user_id", "ts", "state_at_purchase", "valid_from")
    )


# Nearest as-of join (merge_asof direction='nearest'): for each
# purchase, the view closest in time in EITHER direction, prior
# winning ties. Completes the as-of family (backward: join_asof;
# backward+tolerance: join_asof_tolerance; nearest: this).
@query(
    "join_asof_nearest",
    oracle="""
    with views as (
      select user_id, ts, max(event_id) as view_event_id
      from events where event_type = 'view'
      group by user_id, ts
    ),
    purchases as (
      select event_id as purchase_event_id, user_id, ts
      from events where event_type = 'purchase'
    ),
    back as (
      select p.purchase_event_id, p.user_id, p.ts,
             v.view_event_id as b_id, v.ts as b_ts
      from purchases p
        asof left join views v on p.user_id = v.user_id and p.ts >= v.ts
    ),
    fwd as (
      select p.purchase_event_id, v.view_event_id as f_id, v.ts as f_ts
      from purchases p
        asof left join views v on p.user_id = v.user_id and p.ts <= v.ts
    )
    select b.purchase_event_id, b.user_id, b.ts,
           case when b.b_ts is null then f.f_id
                when f.f_ts is null then b.b_id
                when date_diff('microsecond', b.b_ts, b.ts)
                     <= date_diff('microsecond', b.ts, f.f_ts) then b.b_id
                else f.f_id end as nearest_view_event_id,
           case when b.b_ts is null then f.f_ts
                when f.f_ts is null then b.b_ts
                when date_diff('microsecond', b.b_ts, b.ts)
                     <= date_diff('microsecond', b.ts, f.f_ts) then b.b_ts
                else f.f_ts end as nearest_view_ts
    from back b join fwd f on b.purchase_event_id = f.purchase_event_id
    """,
    tags=("join", "asof", "temporal"),
)
def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest view per purchase (either direction; prior wins ties).

    100 TB shape: ONE tag-union of both sides over one user_id
    exchange, with TWO window passes sharing it — backward carry
    (last view at or before) and forward carry (first view at or
    after, via the mirrored frame) — then a map-side comparison of
    the two candidate distances. Never two separate as-of joins
    re-shuffling the fact side, and never a per-row range probe.
    The >= / <= boundary convention matches the oracle's two ASOF
    directions: a view AT the purchase instant is both the backward
    and forward candidate at distance zero (prior wins the tie by
    the <= comparison).
    """
    ev = t(spark, sf, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    left = purchases.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "purchase_event_id",
        F.lit(None).cast("long").alias("view_event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
    )
    right = views.select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        "view_event_id",
        F.col("ts").alias("view_ts"),
    )
    u = left.unionByName(right)
    # backward: views sort BEFORE purchases at equal ts (side 0 first)
    # so >= semantics; forward: mirrored frame on the same sort —
    # views AT the purchase ts must also qualify, handled by ordering.
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cand = (
        u.select(
            "user_id",
            "ts",
            "side",
            "purchase_event_id",
            F.last("view_event_id", ignorenulls=True).over(wb).alias("b_id"),
            F.last("view_ts", ignorenulls=True).over(wb).alias("b_ts"),
            F.first("view_event_id", ignorenulls=True).over(wf).alias("f_id"),
            F.first("view_ts", ignorenulls=True).over(wf).alias("f_ts"),
        )
        .where(F.col("side") == 1)
    )
    d_back = F.unix_micros("ts") - F.unix_micros("b_ts")
    d_fwd = F.unix_micros("f_ts") - F.unix_micros("ts")
    prior_wins = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (d_back <= d_fwd)
    )
    return cand.select(
        "purchase_event_id",
        "user_id",
        "ts",
        F.when(prior_wins, F.col("b_id")).otherwise(F.col("f_id")).alias("nearest_view_event_id"),
        F.when(prior_wins, F.col("b_ts")).otherwise(F.col("f_ts")).alias("nearest_view_ts"),
    )


# Marketing attribution: for every conversion (purchase), which
# marketing touch (view/click/signup) opened the path and which one
# closed it — first-touch / last-touch attribution, the analytics
# query behind every "which channel drives conversions" dashboard.
# A conversion path = the events between two purchases of one user;
# path_id = number of purchases STRICTLY BEFORE the row, so each
# (user, path) partition holds at most one purchase and it is the
# partition's last row by construction.
_TOUCH_TYPES = ("view", "click", "signup")


@query(
    "events_attribution",
    oracle=f"""
    with s as (
      select event_id, user_id, ts, event_type,
             count(case when event_type = 'purchase' then 1 end)
               over (partition by user_id order by ts, event_id
                     rows between unbounded preceding and 1 preceding) as path_id
      from events
    ),
    p as (
      select event_id, user_id, ts, event_type,
             first_value(case when event_type in {_TOUCH_TYPES} then event_type end ignore nulls)
               over w as first_touch,
             last_value(case when event_type in {_TOUCH_TYPES} then event_type end ignore nulls)
               over w as last_touch,
             count(case when event_type in {_TOUCH_TYPES} then 1 end)
               over w as n_touches
      from s
      window w as (partition by user_id, coalesce(path_id, 0)
                   order by ts, event_id
                   rows between unbounded preceding and current row)
    )
    select event_id, user_id, first_touch, last_touch, cast(n_touches as bigint) as n_touches
    from p where event_type = 'purchase'
    """,
    tags=("events", "window", "funnel"),
)
def events_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """First/last-touch attribution per conversion: for each purchase,
    the earliest and latest marketing event (view/click/signup) since
    the user's previous purchase, plus the touch count on the path.

    100 TB shape: both window passes partition on the user key — ONE
    hash exchange feeds the path-numbering window and the
    (user, path) attribution window (the second partitions on a
    superset key already clustered by the first sort, so no second
    exchange, only a sort within partitions). No joins, no event
    fan-out: attribution is pure window arithmetic over each user's
    timeline, and skewed users are bounded by their own event count,
    not the corpus.
    """
    touch = F.col("event_type").isin(*_TOUCH_TYPES)
    wpath = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = t(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.coalesce(
            F.count(F.when(F.col("event_type") == "purchase", 1)).over(wpath),
            F.lit(0),
        ).alias("path_id"),
    )
    w = (
        Window.partitionBy("user_id", "path_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_type = F.when(touch, F.col("event_type"))
    p = s.select(
        "event_id",
        "user_id",
        "event_type",
        F.first(touch_type, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch_type, ignorenulls=True).over(w).alias("last_touch"),
        F.count(F.when(touch, 1)).over(w).alias("n_touches"),
    )
    return p.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "first_touch", "last_touch", "n_touches"
    )


# Robust per-group outlier detection: median absolute deviation (MAD),
# the robust-statistics replacement for z-scores when the data itself
# contains the outliers you are hunting (mean and stddev are corrupted
# by the very anomalies they are supposed to flag; the median and MAD
# are not). Both medians are DISCRETE (rank-selected stored values,
# agg_percentile_disc's integer rank arithmetic) so no interpolation
# formula has to match across engines.
@query(
    "feature_mad_outliers",
    oracle="""
    with r1 as (
      select event_id, user_id, value,
             row_number() over (partition by user_id order by value) as rn,
             count(*) over (partition by user_id) as n
      from events
    ),
    med as (
      select user_id, max(case when rn = (n + 1) // 2 then value end) as med
      from r1 group by user_id
    ),
    r2 as (
      select r.event_id, r.user_id, r.value, m.med,
             abs(r.value - m.med) as dev,
             row_number() over (partition by r.user_id
                                order by abs(r.value - m.med)) as rn,
             count(*) over (partition by r.user_id) as n
      from r1 r join med m on r.user_id = m.user_id
    ),
    mad as (
      select user_id, max(case when rn = (n + 1) // 2 then dev end) as mad
      from r2 group by user_id
    )
    select r.event_id, r.user_id, r.value, r.med, d.mad,
           (r.dev > cast(3 as double) * d.mad) as is_outlier
    from r2 r join mad d on r.user_id = d.user_id
    """,
    tags=("feature", "agg", "robustness"),
)
def feature_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user robust outliers: |value - median| > 3 * MAD, with both
    the median and the MAD selected by exact discrete rank — stored
    input values, bit-identical across engines, no interpolation.

    100 TB shape: everything is keyed on user_id — one hash exchange
    feeds the first rank window, the per-user median aggregate, the
    deviation rank window, and the MAD aggregate (the med/mad tables
    are one row per user and join back co-partitioned). Same
    collapsed-key discipline as agg_percentile_disc: windows sort
    within user partitions, never globally. A pathological single-user
    corpus would sub-salt the rank the way the two-phase global index
    does; at real fan-outs the user partition IS the parallelism.
    """
    ev = t(spark, sf, "events").select("event_id", "user_id", "value")
    wv = Window.partitionBy("user_id").orderBy("value")
    wn = Window.partitionBy("user_id")
    r1 = ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r1.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))).alias("med")
    )
    dev = F.abs(F.col("value") - F.col("med"))
    wd = Window.partitionBy("user_id").orderBy(dev)
    r2 = r1.join(med, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "med",
        dev.alias("dev"),
        F.row_number().over(wd).alias("rn"),
        F.col("n"),
    )
    mad = r2.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("dev"))).alias("mad")
    )
    return r2.join(mad, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "med",
        "mad",
        (F.col("dev") > F.lit(3.0) * F.col("mad")).alias("is_outlier"),
    )


# Change-log compaction with tombstones: apply a keyed I/U/D change
# stream and emit the final state — latest op per key wins, a delete
# leaves the key dead (what Kafka compacted topics, CDC MERGE targets,
# and LSM compactions all compute). The events stream stands in as the
# change log: 'error' rows are the tombstones, everything else upserts.
@query(
    "cdc_apply_tombstones",
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
    tags=("cdc", "maintenance", "agg"),
)
def cdc_apply_tombstones(spark: SparkSession, sf: str) -> DataFrame:
    """Latest-wins changelog apply: one row per key with its version
    count, the winning change, and tombstone state (deleted keys keep
    a row with is_deleted=true so downstream MERGE can drop them —
    filtering them here would silently resurrect on re-insert).

    100 TB shape: ONE map-side-combined max_by aggregate — each task
    reduces its slice of the log to one candidate row per key before
    the exchange (struct-ordered (ts, event_id) argmax, the same
    retry-safe pattern as agg_max_by/dedup_keep_best), so the shuffle
    carries |keys| rows, not |log| rows. No window: the oracle's
    row_number spelling is the SQL mirror, not the plan. Struct agg
    buffers aren't hash-aggregable, so the pair runs as partial/final
    SortAggregate — per-task sorts of the already-scanned slice, never
    a global sort (tests/test_plan_quality.py pins the shape).
    """
    ev = t(spark, sf, "events")
    last = F.max_by(
        F.struct("event_id", "event_type", "value"), F.struct("ts", "event_id")
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"), last.alias("last")
    )
    return agg.select(
        "user_id",
        "n_versions",
        F.col("last.event_id").alias("last_event_id"),
        (F.col("last.event_type") == "error").alias("is_deleted"),
        F.when(F.col("last.event_type") != "error", F.col("last.value")).alias(
            "live_value"
        ),
    )


# Winsorization — clamp a feature to its per-group [p05, p95] band,
# the standard tail-taming transform before training on heavy-tailed
# metrics (clipping, not dropping: rows stay, extremes saturate).
# Percentiles are DISCRETE rank selections (agg_percentile_disc's
# integer spelling), so the clamp bounds are stored input values and
# the result is bitwise identical across engines.
@query(
    "feature_winsorize",
    oracle="""
    with r as (
      select event_id, event_type, value,
             row_number() over (partition by event_type order by value) as rn,
             count(*) over (partition by event_type) as n
      from events
    ),
    b as (
      select event_type,
             max(case when rn = (n + 19) // 20 then value end) as p05,
             max(case when rn = (19 * n + 19) // 20 then value end) as p95
      from r group by event_type
    )
    select r.event_id, r.event_type, r.value,
           least(greatest(r.value, b.p05), b.p95) as value_wins,
           (r.value < b.p05 or r.value > b.p95) as clipped
    from r join b on r.event_type = b.event_type
    """,
    tags=("feature", "agg", "robustness"),
)
def feature_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type winsorized value: clamp to the discrete
    [p05, p95] band, flagging clipped rows.

    100 TB shape: one rank window per group key feeds a 1-row-per-
    group bounds table; the bounds join back BROADCAST (|groups| rows)
    so the fact side never re-shuffles — the clamp is a codegen
    projection beside the scan output. Same collapsed-bounds
    discipline as feature_zscore (broadcast stats, no second window).
    """
    ev = t(spark, sf, "events").select("event_id", "event_type", "value")
    wv = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    b = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("value"))).alias("p05"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("value"))).alias("p95"),
    )
    return r.join(F.broadcast(b), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("value_wins"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias("clipped"),
    )


# SCD2 WRITE path: apply a change-log delta to a standing SCD2
# dimension without rebuilding unaffected keys — the nightly MERGE a
# warehouse runs against its dimension tables. The oracle is the FULL
# rebuild over all events: merge(current, delta) must equal
# rebuild(everything) row-for-row (versions included) — the
# idempotence contract that makes incremental dimension maintenance
# trustworthy.
_SCD2_CUTOFF_FRAC = 4, 5  # delta = last 1/5 of the event-time range


def _scd2_change_rows(rows: DataFrame) -> DataFrame:
    """Consecutive-distinct state-change rows from (user_id, state,
    ts, event_id) input — the SCD2 builder's first pass, event_id kept
    so a re-detection over (changes ∪ delta) reproduces the full
    detection's (ts, event_id) tie-breaks exactly."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        rows.select("user_id", "state", "ts", "event_id")
        .withColumn("prev_state", F.lag("state").over(w))
        .where(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .drop("prev_state")
    )


def _scd2_finish(changes: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "state")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "scd2_apply_changes",
    oracle="""
    with ordered as (
      select user_id, event_type as state, ts,
             lag(event_type) over (partition by user_id order by ts, event_id)
               as prev_state
      from events
    ),
    changes as (
      select user_id, state, ts from ordered
      where prev_state is null or state <> prev_state
    )
    select user_id, state,
           ts as valid_from,
           lead(ts) over w as valid_to,
           row_number() over w as version,
           (lead(ts) over w is null) as is_current
    from changes
    window w as (partition by user_id order by ts, state)
    """,
    tags=("temporal", "scd", "cdc", "maintenance"),
)
def scd2_apply_changes(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SCD2 merge: split the log at a data-derived cutoff
    (last fifth of the event-time range = the delta), build the
    standing dimension from the older events, then MERGE the delta in:
    only users present in the delta are re-derived (from their compact
    change rows ∪ their delta events — never their full history's raw
    rows), everyone else's intervals pass through untouched. The
    oracle is the FULL rebuild — equality proves merge == rebuild.

    Why equality holds: change rows are consecutive-distinct, so
    re-running change detection over (change rows ∪ delta) drops
    exactly the boundary duplicate the full detection would drop (the
    last pre-cutoff raw event's state IS the last change row's state),
    and version numbers re-derive from the identical change set.

    100 TB shape: the delta's user set is a semi/anti join key —
    untouched users cost a pass-through of their interval rows
    (metadata-sized), affected users re-window over |changes| +
    |delta| rows, not their raw history; everything is user-keyed (no
    global operation). This is the plain-parquet statement of what a
    MERGE INTO does against a Delta/Iceberg dimension.
    """
    ev = t(spark, sf, "events")
    num, den = _SCD2_CUTOFF_FRAC
    bounds = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) * num / den
        )
        .cast("long")
        .alias("cut_us")
    )
    ev_b = ev.crossJoin(F.broadcast(bounds))
    older = ev_b.where(F.unix_micros("ts") <= F.col("cut_us")).drop("cut_us")
    delta = ev_b.where(F.unix_micros("ts") > F.col("cut_us")).drop("cut_us")
    as_state = lambda d: d.select(  # noqa: E731
        "user_id", F.col("event_type").alias("state"), "ts", "event_id"
    )
    cur_changes = _scd2_change_rows(as_state(older))
    delta_users = delta.select("user_id").distinct()
    # delta_users is UNHINTED: a day's delta can touch a corpus-scale
    # user set — the semi/anti joins are user-keyed shuffles that AQE
    # downgrades to broadcast only when the delta is actually small.
    untouched = _scd2_finish(cur_changes.join(delta_users, "user_id", "left_anti"))
    merged_input = cur_changes.join(
        delta_users, "user_id", "left_semi"
    ).unionByName(as_state(delta))
    merged = _scd2_finish(_scd2_change_rows(merged_input))
    return untouched.unionByName(merged)


# Cohort LTV curves — cumulative value per signup cohort by week
# offset (the revenue complement of events_retention's user counts):
# "how much value has the week-W cohort produced by week W+k". The
# growth dashboard query behind every LTV payback analysis.
@query(
    "events_cohort_ltv",
    oracle="""
    with first_seen as (
      select user_id, date_trunc('week', min(ts)) as cohort_week
      from events group by user_id
    ),
    contrib as (
      select f.cohort_week,
             cast(floor(date_diff('day', f.cohort_week,
                                  date_trunc('week', e.ts)) / 7) as bigint) as week_offset,
             cast(e.value as decimal(18,2)) as v,
             e.user_id
      from events e join first_seen f on e.user_id = f.user_id
    ),
    cell as (
      select cohort_week, week_offset,
             cast(count(distinct user_id) as bigint) as n_active,
             sum(v) as val
      from contrib group by 1, 2
    )
    select cohort_week, week_offset, n_active,
           cast(val as double) as period_value,
           cast(sum(val) over (partition by cohort_week order by week_offset)
                as double) as cum_value
    from cell
    """,
    tags=("temporal", "cohort", "window"),
)
def events_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Per (signup-week cohort, week offset): active users, period
    value, and the cohort's running cumulative value.

    100 TB shape: first-touch is one map-side-combined min per user;
    the cohort join is user-keyed and UNHINTED — first_seen is one row
    per user (corpus-sized, never force-broadcast; AQE broadcasts it
    only when actually small); the cell aggregate collapses the fact
    stream to |cohorts|x|offsets| rows BEFORE the cumulative window,
    so the running sum ranks a tiny table — the collapsed-keys window
    discipline (orders_open_over_time / agg_abc_analysis). Value sums
    ride decimal(18,2) end-to-end (exact, order-independent) and cast
    to double only in the final projection, so the doubles hash-match.
    """
    ev = t(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    # NOT F.broadcast: first_seen is one row PER USER — corpus-sized,
    # not dimension-sized. The join is user-keyed on both sides, so at
    # scale it's a co-partitioned shuffle join; AQE still broadcasts it
    # when the user set is actually small (as at test SFs).
    contrib = ev.join(first_seen, "user_id").select(
        "cohort_week",
        F.floor(
            F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week")) / 7
        ).alias("week_offset"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        "user_id",
    )
    cell = contrib.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active"),
        F.sum("v").alias("val"),
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return cell.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.col("val").cast("double").alias("period_value"),
        F.sum("val").over(w).cast("double").alias("cum_value"),
    )


# Distribution-drift monitor — the "did this week's data shift?" gate
# every production pipeline runs between a reference window and the
# current window (Evidently/whylogs territory). Metric: total
# variation distance over the event-type distribution, held EXACT in
# integer space — |n_i*M - m_i*N| numerators (bigint, cross-
# multiplied) summed exactly, ONE final division by 2NM — because the
# classical PSI's ln() is not bitwise cross-engine. TVD is in [0,1]
# and 0.5*sum|p-q|; the alert threshold 0.05 is the metric's
# conventional "investigate" line.
_DRIFT_SPLIT = "2024-01-16"  # fixture midpoint; a real monitor slides this daily


@query(
    "monitor_feature_drift",
    oracle=f"""
    with buckets as (
      select event_type,
             cast(sum(case when ts < timestamp '{_DRIFT_SPLIT}' then 1 else 0 end)
                  as bigint) as n_ref,
             cast(sum(case when ts >= timestamp '{_DRIFT_SPLIT}' then 1 else 0 end)
                  as bigint) as n_cur
      from events group by event_type
    ),
    tot as (
      select sum(n_ref) as n_tot, sum(n_cur) as m_tot,
             sum(abs(n_ref * (select sum(n_cur) from buckets)
                     - n_cur * (select sum(n_ref) from buckets))) as drift_sum
      from buckets
    )
    select b.event_type, b.n_ref, b.n_cur,
           cast(b.n_ref as double) / t.n_tot as share_ref,
           cast(b.n_cur as double) / t.m_tot as share_cur,
           cast(abs(b.n_ref * t.m_tot - b.n_cur * t.n_tot) as bigint) as drift_num,
           cast(t.drift_sum as double) / (2.0 * t.n_tot * t.m_tot) as tvd,
           cast(t.drift_sum as double) / (2.0 * t.n_tot * t.m_tot) > 0.05 as drift_alert
    from buckets b cross join tot t
    """,
    tags=("events", "monitor", "quality"),
)
def monitor_feature_drift(spark: SparkSession, sf: str) -> DataFrame:
    """TVD drift between reference and current windows, exactly.

    100 TB shape: ONE map-side-combined aggregate produces both
    windows' bucket counts (conditional sums share the pass); the
    bucket table is category-sized, so the totals row and the final
    projection are broadcast work. The same plan slides daily with the
    split literal parameterized; N*M products fit bigint to ~3e9 rows
    per window, then ride decimal(38,0) unchanged.
    """
    e = t(spark, sf, "events")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    buckets = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < split, 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(F.col("ts") >= split, 1).otherwise(0)).cast("long").alias("n_cur"),
    ).localCheckpoint(eager=True)  # eager-by-design: the category-sized
    # bucket table feeds three branches (totals, drift sum, projection)
    # — without the cut each branch re-scans the corpus
    tot = buckets.agg(
        F.sum("n_ref").alias("n_tot"),
        F.sum("n_cur").alias("m_tot"),
    )
    joined = buckets.crossJoin(F.broadcast(tot))
    drift_num = F.abs(F.col("n_ref") * F.col("m_tot") - F.col("n_cur") * F.col("n_tot"))
    with_num = joined.withColumn("drift_num", drift_num.cast("long"))
    dsum = with_num.agg(F.sum("drift_num").alias("drift_sum"))
    tvd = F.col("drift_sum").cast("double") / (
        F.lit(2.0) * F.col("n_tot") * F.col("m_tot")
    )
    return (
        with_num.crossJoin(F.broadcast(dsum))
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            (F.col("n_ref").cast("double") / F.col("n_tot")).alias("share_ref"),
            (F.col("n_cur").cast("double") / F.col("m_tot")).alias("share_cur"),
            "drift_num",
            tvd.alias("tvd"),
            (tvd > 0.05).alias("drift_alert"),
        )
    )


# Survival life table (Kaplan-Meier input): per day-of-life d, how
# many users were still at risk, how many churned at d, and the
# discrete hazard churned/at_risk — the churn-analytics table whose
# running product is the KM survival curve. The product itself is
# left to the consumer (a cumulative double product is not bitwise
# cross-engine; every INPUT here is exact integers + one division).
# Users whose last event falls in the final week of the observation
# window are CENSORED: they leave the risk set at their observed
# lifetime without counting as churn (the standard right-censoring
# rule — without it, everyone alive at the horizon looks churned).
_SURV_CENSOR_DAYS = 7


@query(
    "events_survival_table",
    oracle=f"""
    with horizon as (select max(ts) as h from events),
    users as (
      select user_id,
             date_diff('day', min(ts), max(ts)) as lifetime,
             max(ts) >= (select h from horizon) - interval {_SURV_CENSOR_DAYS} day
               as censored
      from events group by user_id
    ),
    per_day as (
      select lifetime as d,
             cast(count(*) as bigint) as n_exit,
             cast(sum(case when censored then 0 else 1 end) as bigint) as n_churn
      from users group by lifetime
    )
    select d,
           cast(sum(n_exit) over (order by d desc
                rows between unbounded preceding and current row) as bigint)
             as n_at_risk,
           n_churn,
           cast(n_churn as double) /
             sum(n_exit) over (order by d desc
                rows between unbounded preceding and current row) as hazard
    from per_day
    """,
    tags=("events", "survival", "analytics"),
)
def events_survival_table(spark: SparkSession, sf: str) -> DataFrame:
    """Discrete-time life table over user event lifetimes.

    100 TB shape: ONE user-keyed aggregate collapses the event stream
    to a per-user (lifetime, censored) row; everything after runs on
    |distinct lifetimes| rows (collapsed-keys discipline — the
    reverse-cumulative window sorts ~30 day-offsets, never users or
    events); the horizon is a 1-row broadcast.
    """
    from pyspark.sql import Window

    e = t(spark, sf, "events")
    horizon = e.agg(F.max("ts").alias("h"))
    users = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.col("last_ts"), F.col("first_ts")).alias("lifetime"),
            (F.col("last_ts") >= F.col("h") - F.expr(f"interval {_SURV_CENSOR_DAYS} day")).alias(
                "censored"
            ),
        )
    )
    per_day = users.groupBy(F.col("lifetime").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exit"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).cast("long").alias("n_churn"),
    )
    w = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    at_risk = F.sum("n_exit").over(w)
    return per_day.select(
        "d",
        at_risk.cast("long").alias("n_at_risk"),
        "n_churn",
        (F.col("n_churn").cast("double") / at_risk).alias("hazard"),
    )


# Metronomic-actor (bot) detection — the abuse/fraud screen over event
# streams: humans arrive with jittered inter-event gaps, scripted
# actors tick on a fixed period. Gap statistics are held in EXACT
# epoch-microsecond integers (no float variance), so the verdict is a
# bigint comparison. The fixture's users are all organic, so scripted
# actors are INJECTED deterministically (the multimodal re-encode
# pattern): every 25th user's events are replayed under user_id+1e6 on
# a fixed 60 s grid — the detector must flag exactly the injected
# cohort.
_BOT_MIN_EVENTS = 5
_BOT_JITTER_US = 1_000_000  # max-min gap under 1 s across >=5 events = scripted


@query(
    "events_bot_detection",
    oracle=f"""
    with base as (
      select user_id, ts, event_id from events
    ),
    bots as (
      select user_id + 1000000 as user_id,
             (select min(ts) from events)
               + interval 1 minute * row_number()
                   over (partition by user_id order by ts, event_id) as ts,
             event_id + 10000000 as event_id
      from events where user_id % 25 = 0
    ),
    stream as (select * from base union all select * from bots),
    gaps as (
      select user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               over (partition by user_id order by ts, event_id) as gap_us
      from stream
    ),
    stats as (
      select user_id,
             cast(count(*) + 1 as bigint) as n_events,
             cast(min(gap_us) as bigint) as min_gap_us,
             cast(max(gap_us) as bigint) as max_gap_us
      from gaps where gap_us is not null
      group by user_id
    )
    select user_id, n_events, min_gap_us, max_gap_us,
           n_events >= {_BOT_MIN_EVENTS}
             and max_gap_us - min_gap_us < {_BOT_JITTER_US} as is_bot
    from stats
    """,
    tags=("events", "abuse", "monitor"),
)
def events_bot_detection(spark: SparkSession, sf: str) -> DataFrame:
    """Flag users whose inter-event gaps are machine-regular.

    100 TB shape: ONE user-keyed window pass computes the lag gaps
    (the sessionize shape — partition by user, never a global sort),
    then a map-side-combined per-user aggregate; gap arithmetic stays
    in integer micros end to end, so there is no float state to merge
    and the flag is split-invariant.
    """
    from pyspark.sql import Window

    e = t(spark, sf, "events").select("user_id", "ts", "event_id")
    gmin = e.agg(F.min("ts").alias("t0"))
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    )
    bots = (
        e.where(F.col("user_id") % 25 == 0)
        .withColumn("rn", rn)
        .crossJoin(F.broadcast(gmin))
        .select(
            (F.col("user_id") + 1_000_000).alias("user_id"),
            (F.col("t0") + F.col("rn") * F.expr("interval 1 minute")).alias("ts"),
            (F.col("event_id") + 10_000_000).alias("event_id"),
        )
    )
    stream = e.unionByName(bots)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(
        Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    )
    gaps = stream.select("user_id", gap.alias("gap_us")).where(F.col("gap_us").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_events"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )
    return stats.select(
        "user_id",
        "n_events",
        "min_gap_us",
        "max_gap_us",
        (
            (F.col("n_events") >= _BOT_MIN_EVENTS)
            & (F.col("max_gap_us") - F.col("min_gap_us") < _BOT_JITTER_US)
        ).alias("is_bot"),
    )


# Weekday seasonality decomposition — classical moving-average
# detrending held ENTIRELY in scaled integers: trend*7 is the centered
# 7-day rolling sum of daily counts, so detrended*7 = 7*n(d) -
# rollsum(d) is exact bigint arithmetic, and the per-weekday seasonal
# index needs only integer sums + one final division (a float MA would
# accumulate cross-engine rounding). Edge days without a full +-3-day
# window are excluded by an EXACT completeness check (date span == 6
# inside the frame), not by row position — robust to calendar gaps.
@query(
    "events_seasonality",
    oracle="""
    with daily as (
      select cast(ts as date) as d, count(*) as n
      from events where ts is not null group by 1
    ),
    windowed as (
      select d, n,
             sum(n) over w as roll7,
             count(*) over w as n_in_frame,
             date_diff('day', min(d) over w, max(d) over w) as span_in_frame
      from daily
      window w as (order by d rows between 3 preceding and 3 following)
    )
    select cast(isodow(d) as int) as weekday,
           cast(count(*) as bigint) as n_days,
           cast(sum(7 * n - roll7) as bigint) as sum_detrended_x7,
           cast(sum(7 * n - roll7) as double) / count(*) as mean_detrended_x7
    from windowed
    where n_in_frame = 7 and span_in_frame = 6
    group by 1
    """,
    tags=("events", "timeseries", "seasonality"),
)
def events_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-weekday seasonal index of event volume, exactly.

    100 TB shape: the event stream collapses to ONE daily-count row
    per date in a map-side-combined aggregate; the rolling window and
    the weekday aggregate then run on |dates| rows (collapsed-keys —
    the window sorts ~30 rows, never events). The ordered daily spine
    is tiny at ANY corpus scale, so the single-partition window over
    it is a non-issue; everything event-mass is one scan + one
    aggregate.
    """
    from pyspark.sql import Window

    e = t(spark, sf, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    windowed = daily.select(
        "d",
        "n",
        F.sum("n").over(w).alias("roll7"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
        F.datediff(F.max("d").over(w), F.min("d").over(w)).alias("span_in_frame"),
    ).where((F.col("n_in_frame") == 7) & (F.col("span_in_frame") == 6))
    det = F.lit(7) * F.col("n") - F.col("roll7")
    return (
        windowed.groupBy((F.weekday("d") + 1).cast("int").alias("weekday"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(det).cast("long").alias("sum_detrended_x7"),
            (F.sum(det).cast("double") / F.count(F.lit(1))).alias("mean_detrended_x7"),
        )
    )


# CUSUM changepoint detection — where did the daily volume of each
# event type SHIFT? The classic single-changepoint statistic: with
# x_1..x_n the daily counts, the cumulative deviation from the global
# mean S_t = sum_{i<=t}(x_i - mean) peaks at the change; scaling by n
# clears the mean's division so D_t = |n*cumsum_t - t*total| is EXACT
# 64-bit integer arithmetic — the events_seasonality policy (no float
# accumulation, bit-exact across engines). The monitoring twin of
# monitor_feature_drift: drift says distributions differ, changepoint
# says WHEN the level moved.
@query(
    "events_changepoint",
    oracle="""
    with daily as (
      select event_type, cast(ts as date) as d, cast(count(*) as bigint) as x
      from events where ts is not null group by 1, 2
    ),
    cum as (
      select event_type, d, x,
             sum(x) over (partition by event_type order by d
                          rows unbounded preceding) as cx,
             row_number() over (partition by event_type order by d) as t,
             sum(x) over (partition by event_type) as total,
             count(*) over (partition by event_type) as n
      from daily
    ),
    scored as (
      select event_type, d, t, n, total,
             abs(n * cx - t * total) as dstat,
             cx
      from cum
    )
    select event_type,
           cast(n as bigint) as n_days,
           cast(total as bigint) as n_events,
           d as change_day,
           cast(dstat as bigint) as d_max,
           cast(cx as bigint) as sum_before,
           cast(t as bigint) as days_before
    from (select *, row_number() over (partition by event_type
                                       order by dstat desc, d asc) as rn
          from scored)
    where rn = 1
    """,
    tags=("events", "timeseries", "changepoint"),
)
def events_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Most likely level-shift day per event type, by the integer-exact
    CUSUM statistic D_t = |n*cumsum_t - t*total| (the max-|S_t|
    changepoint estimator with the mean division multiplied through).
    Emits the argmax day (ties to the earliest) plus the exact
    integers (sum_before, days_before, total, n) a caller needs to
    reconstruct before/after means without any float leaving the
    engine.

    100 TB shape: collapsed-keys — the event stream reduces to one
    (event_type, day) row in a map-side-combined aggregate, so the
    windows order |event_types| x |days| rows (a few thousand at ANY
    event volume), partitioned by event_type. One shuffle for the
    aggregate, one for the per-type windows; nothing event-mass ever
    sorts. D_t peaks n*total ~ 1e5 days * 1e13 events, inside int64.
    """
    e = t(spark, sf, "events").where(F.col("ts").isNotNull())
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return changepoint_of_daily(daily)


def changepoint_of_daily(daily: DataFrame) -> DataFrame:
    """CUSUM argmax over a (event_type, d, x) daily spine — the shared
    serve step of events_changepoint and its streaming twin, so the
    two stay identical BY CONSTRUCTION (the twin-equality test and the
    shared oracle both check the same code path)."""
    from pyspark.sql import Window

    part = Window.partitionBy("event_type")
    ordered = part.orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("x").over(ordered.rowsBetween(Window.unboundedPreceding, 0)).alias("cx"),
        F.row_number().over(ordered).alias("t"),
        F.sum("x").over(part).alias("total"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    scored = cum.select(
        "event_type",
        "d",
        "t",
        "n",
        "total",
        F.abs(F.col("n") * F.col("cx") - F.col("t") * F.col("total")).alias("dstat"),
        "cx",
    )
    w = Window.partitionBy("event_type").orderBy(F.col("dstat").desc(), F.col("d").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            F.col("total").cast("long").alias("n_events"),
            F.col("d").alias("change_day"),
            F.col("dstat").cast("long").alias("d_max"),
            F.col("cx").cast("long").alias("sum_before"),
            F.col("t").cast("long").alias("days_before"),
        )
    )


# Sequential-pattern mining lite: the most common CONSECUTIVE
# event-type trigrams per user timeline — the funnel-DISCOVERY step
# (events_funnel checks a known funnel; events_markov models pairs;
# this surfaces which length-3 paths actually happen, ranked). Counts
# are exact integers over lag windows; top-K with full deterministic
# tie-break.
_TRIGRAM_K = 20


@query(
    "events_path_trigrams",
    oracle=f"""
    with seq as (
      select user_id, event_type,
             lag(event_type, 1) over w as prev1,
             lag(event_type, 2) over w as prev2
      from events
      window w as (partition by user_id order by ts, event_id)
    )
    select prev2 as step1, prev1 as step2, event_type as step3,
           cast(count(*) as bigint) as n
    from seq
    where prev2 is not null
    group by 1, 2, 3
    order by n desc, step1, step2, step3
    limit {_TRIGRAM_K}
    """,
    tags=("events", "sequence", "mining"),
)
def events_path_trigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K consecutive event-type trigrams (K=_TRIGRAM_K) across all
    user timelines, ordered by count with a full lexicographic
    tie-break.

    100 TB shape: ONE hash shuffle on user_id serves both lag windows
    (same partitioning, same ordering); the trigram aggregate is
    map-side combined over a key domain bounded by |event_types|^3
    (125 here), and the top-K is a TakeOrdered over that collapsed
    table — never a row-mass sort. The n-gram order generalizes by
    adding lags to the SAME window.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf, "events").select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        seq.where(F.col("prev2").isNotNull())
        .groupBy(
            F.col("prev2").alias("step1"),
            F.col("prev1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(_TRIGRAM_K)
    )


# Growth accounting — the new/retained/resurrected/churned weekly
# ledger (the canonical product-analytics decomposition of active
# users; events_retention tracks cohort survival, events_cohort_ltv
# tracks value — this tracks the FLOWS between active and inactive).
# Pure calendar/integer arithmetic: a user is new on the first active
# week, retained when the previous week was active, resurrected when
# returning after a gap, and churned on the week AFTER activity
# stopped (gap churn and end-of-history churn both, capped at the
# observed horizon).
@query(
    "events_growth_accounting",
    oracle="""
    with uw as (
      select distinct user_id, cast(date_trunc('week', ts) as date) as wk
      from events where ts is not null
    ),
    horizon as (select max(wk) as max_wk from uw),
    seq as (
      select user_id, wk,
             lag(wk) over (partition by user_id order by wk) as prev_wk,
             lead(wk) over (partition by user_id order by wk) as next_wk
      from uw
    ),
    states as (
      select wk, case when prev_wk is null then 'new'
                      when prev_wk = wk - interval 7 days then 'retained'
                      else 'resurrected' end as state
      from seq
      union all
      select cast(wk + interval 7 days as date) as wk, 'churned' as state
      from seq cross join horizon
      where (next_wk is null or next_wk > wk + interval 7 days)
        and cast(wk + interval 7 days as date) <= max_wk
    )
    select wk, state, cast(count(*) as bigint) as n_users
    from states group by 1, 2
    """,
    tags=("events", "growth", "calendar"),
)
def events_growth_accounting(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly active-user flow ledger: per (week, state) user counts
    with state in {new, retained, resurrected, churned}; churn is
    booked on the first inactive week after activity (both mid-history
    gaps and end-of-history, capped at the observed horizon so the
    final week is never half-booked).

    100 TB shape: the event stream collapses to one (user, week) row
    map-side; the lag/lead windows ride ONE user_id shuffle; the state
    ledger aggregates |users x active-weeks| collapsed rows on the
    (week, state) key — a few hundred output rows at any volume. The
    horizon is a 1-row broadcast, never a driver scalar.
    """
    from pyspark.sql import Window

    uw = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.date_trunc("week", "ts").cast("date").alias("wk"))
        .distinct()
    )
    horizon = uw.agg(F.max("wk").alias("max_wk"))
    w = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    active = seq.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.date_sub("wk", 7), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    churn = (
        seq.crossJoin(F.broadcast(horizon))
        .where(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.date_add("wk", 7)))
            & (F.date_add("wk", 7) <= F.col("max_wk"))
        )
        .select(F.date_add("wk", 7).alias("wk"), F.lit("churned").alias("state"))
    )
    return (
        active.unionByName(churn)
        .groupBy("wk", "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Linear-trend forecast per event type — the capacity-planning twin of
# the changepoint/seasonality pair: OLS over the (event_type, day)
# count spine, slope/intercept/r2 from EXACT integer sufficient
# statistics (x is days-since-the-type's-own-min-date, so every sum
# fits comfortably in int64 at any corpus size; each double is one
# pinned division of exact integers), plus next-day and +7-day point
# forecasts. agg_regression proves the global-moment machinery; this
# is the grouped time-series version a forecasting job actually runs.
@query(
    "events_forecast_linear",
    oracle="""
    with daily as (
      select event_type, cast(ts as date) as d,
             cast(count(*) as bigint) as y
      from events where ts is not null
      group by 1, 2
    ),
    based as (
      select event_type, d, y,
             cast(date_diff('day', min(d) over (partition by event_type), d)
                  as bigint) as x
      from daily
    ),
    s as (
      select event_type,
             cast(count(*) as bigint) as n,
             cast(sum(x) as bigint) as sx,
             cast(sum(y) as bigint) as sy,
             cast(sum(x * x) as bigint) as sxx,
             cast(sum(x * y) as bigint) as sxy,
             cast(sum(y * y) as bigint) as syy,
             cast(max(x) as bigint) as x_max
      from based
      group by event_type
    )
    select event_type,
           n as n_days,
           cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx) as slope,
           (cast(sy as double)
              - (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx)) * sx)
             / n as intercept,
           case when n * syy - sy * sy = 0 then null
                else (cast(n * sxy - sx * sy as double) * (n * sxy - sx * sy))
                  / (cast(n * sxx - sx * sx as double) * (n * syy - sy * sy)) end as r2,
           (cast(sy as double)
              - (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx)) * sx)
             / n
             + (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx))
               * (x_max + 1) as forecast_next,
           (cast(sy as double)
              - (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx)) * sx)
             / n
             + (cast(n * sxy - sx * sy as double) / (n * sxx - sx * sx))
               * (x_max + 7) as forecast_7d
    from s
    where n >= 2 and n * sxx - sx * sx > 0
    """,
    tags=("events", "timeseries", "forecast"),
)
def events_forecast_linear(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type OLS trend over the daily count spine with
    next-day / +7-day point forecasts and r2. Degenerate types (one
    day, or zero x-variance) are excluded rather than emitted with
    null slopes — a forecast you cannot fit is not a forecast.

    100 TB shape: the corpus collapses to the (type, day) spine in ONE
    map-side-combined aggregate (the events_seasonality discipline);
    the per-type min-day rebase is a window over the tiny spine; the
    OLS is a second map-side aggregate to |types| rows of integer
    moments, and every reported double is a fixed expression on one
    row. Nothing heavier than the spine ever shuffles, and the spine
    is bounded by |types| x days regardless of corpus size. Rebasing x
    to each type's own first day keeps x small (days of history, not
    epoch days); the binding int64 bound is sum(y^2) < 2^63 — a year
    of history at ~1.5e8 events/type/day, past which y should be
    pre-scaled (forecast counts in thousands).
    """
    ev = t(spark, sf, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return forecast_of_daily(daily)


def forecast_of_daily(daily: DataFrame) -> DataFrame:
    """Serve step shared by the batch operator and its streaming twin
    (the changepoint_of_daily convention): OLS over an
    (event_type, d, y) spine."""
    w = Window.partitionBy("event_type")
    based = daily.select(
        "event_type",
        F.datediff(F.col("d"), F.min("d").over(w)).cast("long").alias("x"),
        "y",
    )
    s = based.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.max("x").cast("long").alias("x_max"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    # constant-y series have zero y-variance: r2 is 0/0 there (and an
    # ANSI divide-by-zero crash, caught by the hypothesis property) —
    # emit NULL, matching the oracle's CASE
    yden = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = F.when(yden == 0, F.lit(None).cast("double")).otherwise(
        (num.cast("double") * num) / (den.cast("double") * yden)
    )
    return s.where((F.col("n") >= 2) & (den > 0)).select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
        (intercept + slope * (F.col("x_max") + 1)).alias("forecast_next"),
        (intercept + slope * (F.col("x_max") + 7)).alias("forecast_7d"),
    )


# N184: sequence match with NEGATION (the CEP / MATCH_RECOGNIZE
# pattern class the plain funnel can't express): purchases preceded
# by a view with NO error event between the view and the purchase.
# Funnels (N20/N54) assert "A then B"; real abandonment/attribution
# analysis needs "A then B WITHOUT C between" — the negation is what
# makes it a different operator, not a funnel variant.
@query(
    "events_sequence_negation",
    oracle="""
    with sp as (
      select user_id, event_id, ts, event_type
      from events where event_type in ('view', 'error', 'purchase')
    ),
    w1 as (
      select *,
        sum(case when event_type = 'view' then 1 else 0 end)
          over (partition by user_id order by ts, event_id) as cum_views,
        max(case when event_type = 'view' then ts end)
          over (partition by user_id order by ts, event_id) as last_view_ts
      from sp
    ),
    w2 as (
      select *,
        sum(case when event_type = 'error' then 1 else 0 end)
          over (partition by user_id, cum_views order by ts, event_id)
          as err_in_grp
      from w1
    )
    select user_id, event_id as purchase_id, last_view_ts,
           cast(err_in_grp as bigint) as n_errors_between,
           err_in_grp = 0 as clean
    from w2 where event_type = 'purchase' and cum_views >= 1
    """,
    tags=("events", "temporal", "cep"),
)
def events_sequence_negation(spark: SparkSession, sf: str) -> DataFrame:
    """view -> purchase pairs with the no-error-between negation.

    The gaps-and-islands trick makes the negation a COUNT instead of
    an anti-join: cum_views labels each row with its "since the last
    view" island, so errors-between is just the error running count
    WITHIN the island — no per-purchase range join back to the error
    stream (which at 100 TB is a second full shuffle of events joined
    on an inequality). Two keyed windows = two exchanges: one on
    user_id, one on (user_id, island); both hash-partitioned, never a
    global sort. Determinism: ordering is the unique (ts, event_id)
    chain; counts are exact ints; both engines default to the same
    RANGE frame, which equals ROWS under a unique ordering.
    """
    ev = t(spark, sf, "events").where(
        F.col("event_type").isin("view", "error", "purchase")
    ).select("user_id", "event_id", "ts", "event_type")
    with_views = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("cum_views"),
        F.max(F.when(F.col("event_type") == "view", F.col("ts")))
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("last_view_ts"),
    )
    w2 = Window.partitionBy("user_id", "cum_views").orderBy("ts", "event_id")
    flagged = with_views.select(
        "user_id",
        "event_id",
        "event_type",
        "cum_views",
        "last_view_ts",
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w2)
        .alias("err_in_grp"),
    )
    return flagged.where(
        (F.col("event_type") == "purchase") & (F.col("cum_views") >= 1)
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "last_view_ts",
        F.col("err_in_grp").cast("long").alias("n_errors_between"),
        (F.col("err_in_grp") == 0).alias("clean"),
    )


# OHLC bar aggregation — the time-series resample primitive (candles
# in finance, "downsample to bars" in any metric store): per
# (series, hour) the first/max/min/last value plus count and volume.
# First/last are ORDER-dependent aggregates, which is exactly what
# makes the operator worth pinning cross-engine: both engines resolve
# them through an explicit (ts, event_id) tiebreak, never through
# input order (which at scale is partitioning luck).
@query(
    "events_ohlc_bars",
    oracle="""
    with m as (
      select event_type, time_bucket(interval 1 hour, ts) as bar_start,
             ts, event_id,
             cast(floor(value * 100 + 0.5) as bigint) as cents
      from events where value is not null
    ),
    r as (
      select *,
             row_number() over (partition by event_type, bar_start
                                order by ts, event_id) as rn_a,
             row_number() over (partition by event_type, bar_start
                                order by ts desc, event_id desc) as rn_d
      from m
    )
    select event_type, bar_start,
           cast(count(*) as bigint) as n_events,
           cast(max(case when rn_a = 1 then cents end) as bigint) as open_cents,
           cast(max(cents) as bigint) as high_cents,
           cast(min(cents) as bigint) as low_cents,
           cast(max(case when rn_d = 1 then cents end) as bigint) as close_cents,
           cast(sum(cents) as bigint) as volume_cents
    from r
    group by event_type, bar_start
    """,
    tags=("temporal", "window", "ohlc", "resample"),
)
def events_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC bars per event type over the purchase-value stream:
    open/close = first/last value in the bar under the deterministic
    (ts, event_id) order, high/low = extremes, volume = exact-cents
    sum. The deterministic tiebreak is the contract: first_value by
    arrival order is non-reproducible under retries/repartitioning.

    100 TB shape: ONE hash exchange on (event_type, bar) serves both
    rank windows (ascending + descending sorts over the same
    partitioning) and the final aggregate reuses it — no second
    shuffle, no global sort; bar state is bounded by bars x series,
    not events. Values shuffle as exact cents (floor(x*100+0.5)
    bigints, the numeric.py rule), so every aggregate is integer-exact
    in both engines.
    """
    e = (
        t(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.window("ts", "1 hour")["start"].alias("bar_start"),
            "ts",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
    )
    wa = Window.partitionBy("event_type", "bar_start").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bar_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select(
            "event_type",
            "bar_start",
            "cents",
            F.row_number().over(wa).alias("rn_a"),
            F.row_number().over(wd).alias("rn_d"),
        )
        .groupBy("event_type", "bar_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).cast("long").alias("close_cents"),
            F.sum("cents").cast("long").alias("volume_cents"),
        )
    )


# Per-window trending top-k: the "what's hot this hour" dashboard
# primitive — per hour, the k most active users. The point at scale is
# the plan: rank<=k directly over a row_number window triggers Spark's
# WindowGroupLimit rewrite, so each map task pre-prunes to its local
# top-k per hour BEFORE the shuffle — a billion-event hour ships k
# rows per task, not a billion (the curation_cap_per_source rewrite,
# applied to the time axis).
_TREND_K = 5


@query(
    "events_trending_topk",
    oracle=f"""
    with c as (
      select time_bucket(interval 1 hour, ts) as hour_start, user_id,
             cast(count(*) as bigint) as n_events
      from events group by 1, 2
    )
    select hour_start, user_id, n_events, rk from (
      select *, row_number() over (
        partition by hour_start order by n_events desc, user_id) as rk
      from c
    ) where rk <= {_TREND_K}
    """,
    tags=("temporal", "window", "topk"),
)
def events_trending_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k (k=_TREND_K) users per hour by event count, rank carried
    and ties broken by user_id so the leaderboard is deterministic.

    100 TB shape: one map-side-combined (hour, user) count, then a
    WindowGroupLimit-rewritten rank filter — per-task partial top-k
    before the hour-keyed exchange (plan-asserted). State per hour is
    k rows; the full user×hour matrix never materializes anywhere
    downstream of the first aggregate.
    """
    c = (
        t(spark, sf, "events")
        .groupBy(
            F.window("ts", "1 hour")["start"].alias("hour_start"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return trending_rank_of_counts(c)


def trending_rank_of_counts(counts: DataFrame) -> DataFrame:
    """The serve half of the trending leaderboard, shared by the batch
    operator and its streaming twin (the forecast_of_daily
    convention): rank<=K filter over an at-rest (hour, user, count)
    spine — rewrites to WindowGroupLimit, per-task partial top-k
    before the hour-keyed exchange."""
    w = Window.partitionBy("hour_start").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    return (
        counts.select(
            "hour_start", "user_id", "n_events", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= _TREND_K)
    )


# N212: CUPED variance reduction (Deng et al. 2013, "Improving the
# sensitivity of online controlled experiments" — the pre-experiment
# covariate adjustment every mature A/B platform applies): per user,
# X = pre-period activity and Y = in-experiment value; theta =
# cov(X,Y)/var(X) fitted POOLED (arm-blind, which keeps the
# adjustment unbiased), and Y_cuped = Y - theta*(X - mean X) shrinks
# each arm's variance by the squared X-Y correlation. The whole
# analysis reduces to exact integer moments; every double formula is
# ONE text parsed by both engines (the agg_regression_multi
# discipline).
_CUPED_CUT = "2024-01-15"
# events_event_study's rel_week = (day delta from the cut to the
# Monday-aligned week start) // 7 agrees across DuckDB '//' (floor)
# and Spark 'div' (truncate toward zero) ONLY because the cut itself
# is a Monday: then every delta is an exact multiple of 7 and floor ==
# trunc even for negative pre-period weeks (r12 advisor). Guard the
# invariant so a cut-date edit cannot silently skew negative weeks.
assert __import__("datetime").date.fromisoformat(_CUPED_CUT).weekday() == 0, (
    "_CUPED_CUT must be a Monday (event-study floor/trunc week parity)"
)
_CUPED_THETA = "((tn * txy - tx * ty) / nullif(tn * txx - tx * tx, 0.0))"
_CUPED_MEANX = "(tx / tn)"
_CUPED_VAR_Y = "((n * syy - sy * sy) / (cast(n as double) * n))"
_CUPED_VAR_ADJ = (
    f"(((n * syy - sy * sy) + {_CUPED_THETA} * {_CUPED_THETA} * (n * sxx - sx * sx)"
    f" - 2 * {_CUPED_THETA} * (n * sxy - sx * sy)) / (cast(n as double) * n))"
)
_CUPED_MEAN_ADJ = f"((sy - {_CUPED_THETA} * (sx - n * {_CUPED_MEANX})) / n)"


def _cuped_oracle() -> str:
    return f"""
    with u as (
      select user_id,
             ('0x' || substr(md5('cuped:' || cast(user_id as varchar)), 1, 15))::bigint
               % 2 as arm,
             cast(sum(case when ts < timestamp '{_CUPED_CUT} 00:00:00'
                           then 1 else 0 end) as bigint) as x,
             cast(sum(case when ts >= timestamp '{_CUPED_CUT} 00:00:00'
                      and event_type = 'purchase'
                      then cast(floor(value * 100 + 0.5) as bigint) else 0 end)
                  as bigint) as y
      from events group by user_id
    ),
    pooled as (
      select cast(count(*) as double) as tn,
             cast(sum(x) as double) as tx, cast(sum(y) as double) as ty,
             cast(sum(x * x) as double) as txx,
             cast(sum(x * y) as double) as txy
      from u
    ),
    arms as (
      select arm, cast(count(*) as double) as n,
             cast(sum(x) as double) as sx, cast(sum(y) as double) as sy,
             cast(sum(x * x) as double) as sxx,
             cast(sum(y * y) as double) as syy,
             cast(sum(x * y) as double) as sxy
      from u group by arm
    )
    select cast(arm as int) as arm, cast(n as bigint) as n_users,
           {_CUPED_THETA} as theta,
           (sy / n) as mean_y,
           {_CUPED_MEAN_ADJ} as mean_y_cuped,
           {_CUPED_VAR_Y} as var_y,
           {_CUPED_VAR_ADJ} as var_y_cuped
    from arms, pooled
    order by arm
    """


@query("events_cuped", oracle=_cuped_oracle(), tags=("temporal", "experiment", "cuped"))
def events_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-arm CUPED-adjusted experiment readout: users hash-split into
    two arms, X = pre-cut event count, Y = post-cut purchase cents
    (cut=_CUPED_CUT); reports raw and adjusted means plus raw and
    adjusted variances (the shrink is the sensitivity win CUPED exists
    for).

    100 TB shape: the corpus collapses to the user spine in ONE
    map-side-combined aggregate (arm, X, Y per user); pooled theta is
    a 1-row broadcast; the per-arm rollup is 2 rows of exact integer
    moments. Every ratio is shared formula text over double-cast
    exact sums, so the readout hash-checks bitwise — and the
    degenerate cases (constant X) yield NULL theta via nullif, not an
    ANSI error.
    """
    e = t(spark, sf, "events")
    cut = F.lit(f"{_CUPED_CUT} 00:00:00").cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).cast("long").alias("x"),
        F.sum(
            F.when(
                (F.col("ts") >= cut) & (F.col("event_type") == "purchase"),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
        "x",
        "y",
    )
    pooled = u.agg(
        F.count(F.lit(1)).cast("double").alias("tn"),
        F.sum("x").cast("double").alias("tx"),
        F.sum("y").cast("double").alias("ty"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("txx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("txy"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            F.col("arm").cast("int").alias("arm"),
            F.col("n").cast("long").alias("n_users"),
            F.expr(_CUPED_THETA).alias("theta"),
            F.expr("(sy / n)").alias("mean_y"),
            F.expr(_CUPED_MEAN_ADJ).alias("mean_y_cuped"),
            F.expr(_CUPED_VAR_Y).alias("var_y"),
            F.expr(_CUPED_VAR_ADJ).alias("var_y_cuped"),
        )
        .orderBy("arm")
    )


# N213: Markov-chain attribution with removal effects (Anderl et al.
# 2014 — the data-driven alternative to first/last-touch rules that
# events_attribution implements): user journeys over touchpoints
# {view, click} form an absorbing chain (absorb in purchase or null);
# a channel's value is its REMOVAL EFFECT — how much conversion drops
# when paths through it are severed. With transient states {start,
# view, click} the absorption probability solves a 3x3 linear system
# EXACTLY by Cramer's rule over integer transition counts scaled to
# doubles (the agg_regression_multi recipe: determinant texts written
# once, parsed by both engines) — no iteration, no matrix inverse,
# no transcendental.
_MKV_DET = "(ns * ((nv - nvv) * (nc - ncc) - nvc * ncv))"
_MKV_NUM = (
    "(nsp * ((nv - nvv) * (nc - ncc) - nvc * ncv)"
    " + nsv * (nvp * (nc - ncc) + nvc * ncp)"
    " + nsc * (nvp * ncv + (nv - nvv) * ncp))"
)
_MKV_BASE = f"({_MKV_NUM} / nullif({_MKV_DET}, 0.0))"
_MKV_NO_V = "((nsp * (nc - ncc) + nsc * ncp) / nullif(ns * (nc - ncc), 0.0))"
_MKV_NO_C = "((nsp * (nv - nvv) + nsv * nvp) / nullif(ns * (nv - nvv), 0.0))"
_MKV_EFF_V = f"(1.0 - {_MKV_NO_V} / nullif({_MKV_BASE}, 0.0))"
_MKV_EFF_C = f"(1.0 - {_MKV_NO_C} / nullif({_MKV_BASE}, 0.0))"


def _markov_counts_sql() -> str:
    return """
    with ev as (
      select user_id, ts, event_id, event_type
      from events where event_type in ('view', 'click', 'purchase')
    ),
    fp as (
      select user_id,
             min(case when event_type = 'purchase'
                      then (ts, event_id) end) as pkey
      from ev group by user_id
    ),
    j as (
      select e.user_id, e.ts, e.event_id, e.event_type
      from ev e join fp on e.user_id = fp.user_id
      where fp.pkey is null or (e.ts, e.event_id) <= fp.pkey
    ),
    hops as (
      select user_id, event_type as dst,
             coalesce(lag(event_type) over
               (partition by user_id order by ts, event_id), 'start') as src
      from j
    ),
    tails as (
      select user_id, 'null' as dst, event_type as src
      from (
        select user_id, event_type,
               row_number() over (partition by user_id
                                  order by ts desc, event_id desc) as rn
        from j
      ) where rn = 1 and event_type <> 'purchase'
    ),
    edges as (select src, dst from hops union all select src, dst from tails)
    select
      cast(sum(case when src = 'start' then 1 else 0 end) as double) as ns,
      cast(sum(case when src = 'view' then 1 else 0 end) as double) as nv,
      cast(sum(case when src = 'click' then 1 else 0 end) as double) as nc,
      cast(sum(case when src = 'start' and dst = 'view' then 1 else 0 end) as double) as nsv,
      cast(sum(case when src = 'start' and dst = 'click' then 1 else 0 end) as double) as nsc,
      cast(sum(case when src = 'start' and dst = 'purchase' then 1 else 0 end) as double) as nsp,
      cast(sum(case when src = 'view' and dst = 'view' then 1 else 0 end) as double) as nvv,
      cast(sum(case when src = 'view' and dst = 'click' then 1 else 0 end) as double) as nvc,
      cast(sum(case when src = 'view' and dst = 'purchase' then 1 else 0 end) as double) as nvp,
      cast(sum(case when src = 'click' and dst = 'view' then 1 else 0 end) as double) as ncv,
      cast(sum(case when src = 'click' and dst = 'click' then 1 else 0 end) as double) as ncc,
      cast(sum(case when src = 'click' and dst = 'purchase' then 1 else 0 end) as double) as ncp
    from edges
    """


@query(
    "events_attribution_markov",
    oracle=f"""
    with m as ( {_markov_counts_sql()} )
    select channel, p_conv, p_conv_removed, removal_effect,
           removal_effect / nullif(
             {_MKV_EFF_V} + {_MKV_EFF_C}, 0.0) as attribution_share
    from (
      select 'view' as channel, {_MKV_BASE} as p_conv,
             {_MKV_NO_V} as p_conv_removed, {_MKV_EFF_V} as removal_effect,
             m.* from m
      union all
      select 'click', {_MKV_BASE}, {_MKV_NO_C}, {_MKV_EFF_C}, m.* from m
    ) order by channel
    """,
    tags=("temporal", "attribution", "markov"),
)
def events_attribution_markov(spark: SparkSession, sf: str) -> DataFrame:
    """Removal-effect attribution over the {start, view, click} ->
    {purchase, null} absorbing chain: journeys truncate at the first
    purchase (ties broken by event_id), transition counts scale the
    system (I-Q)a = b to integers, and base/counterfactual conversion
    probabilities come from shared Cramer texts — severing a channel
    redirects its inbound paths to null (the original removal-effect
    definition). attribution_share normalizes the two effects.

    100 TB shape: journeys never materialize — ONE user-partitioned
    window pass emits edge rows, one map-side-combined aggregate
    collapses them to the 12-count moment row, and everything after
    is scalar arithmetic on that single broadcast row. Degenerate
    chains (an untraversed channel) yield NULLs via nullif, not ANSI
    errors.
    """
    e = (
        t(spark, sf, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    okey = F.struct("ts", "event_id")
    fp = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", okey)).alias("pkey")
    )
    j = e.join(fp, "user_id").where(
        F.col("pkey").isNull() | (okey <= F.col("pkey"))
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = j.select(
        F.coalesce(F.lag("event_type").over(wo), F.lit("start")).alias("src"),
        F.col("event_type").alias("dst"),
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    tails = (
        j.select("user_id", "event_type", F.row_number().over(wr).alias("rn"))
        .where((F.col("rn") == 1) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("src"), F.lit("null").alias("dst"))
    )
    edges = hops.unionByName(tails)

    def cnt(src: str, dst: str | None = None):
        cond = F.col("src") == src
        if dst is not None:
            cond = cond & (F.col("dst") == dst)
        return F.sum(F.when(cond, 1).otherwise(0)).cast("double")

    m = edges.agg(
        cnt("start").alias("ns"),
        cnt("view").alias("nv"),
        cnt("click").alias("nc"),
        cnt("start", "view").alias("nsv"),
        cnt("start", "click").alias("nsc"),
        cnt("start", "purchase").alias("nsp"),
        cnt("view", "view").alias("nvv"),
        cnt("view", "click").alias("nvc"),
        cnt("view", "purchase").alias("nvp"),
        cnt("click", "view").alias("ncv"),
        cnt("click", "click").alias("ncc"),
        cnt("click", "purchase").alias("ncp"),
    )
    share_den = F.expr(f"nullif({_MKV_EFF_V} + {_MKV_EFF_C}, 0.0)")
    view_row = m.select(
        F.lit("view").alias("channel"),
        F.expr(_MKV_BASE).alias("p_conv"),
        F.expr(_MKV_NO_V).alias("p_conv_removed"),
        F.expr(_MKV_EFF_V).alias("removal_effect"),
        (F.expr(_MKV_EFF_V) / share_den).alias("attribution_share"),
    )
    click_row = m.select(
        F.lit("click").alias("channel"),
        F.expr(_MKV_BASE).alias("p_conv"),
        F.expr(_MKV_NO_C).alias("p_conv_removed"),
        F.expr(_MKV_EFF_C).alias("removal_effect"),
        (F.expr(_MKV_EFF_C) / share_den).alias("attribution_share"),
    )
    return view_row.unionByName(click_row).orderBy("channel")


# N221: difference-in-differences (Card & Krueger 1994 form — THE
# quasi-experimental workhorse when assignment isn't randomized:
# compare treated vs control CHANGE across a policy cut, differencing
# out both group-level and time-level confounds). Completes the
# causal kit: CUPED (N212) tightens randomized readouts, SRM (N215)
# guards the split, DiD estimates when only an event-time boundary
# exists. Same md5 arm split and period cut as the CUPED pair so the
# three artifacts describe one experiment; the estimate and its
# pooled-variance SE come from exact per-cell integer moments through
# ONE shared formula text.
_DID_EST = "((t1 / tn1) - (t0 / tn0) - ((c1 / cn1) - (c0 / cn0)))"


def _did_texts() -> tuple[str, str]:
    """(estimate, standard error) as ONE shared formula text each —
    the agg_regression_multi discipline; the SE is the pooled sum of
    the four cell-mean variances from exact moments."""
    est = _DID_EST
    cells = [("t1", "tn1"), ("t0", "tn0"), ("c1", "cn1"), ("c0", "cn0")]
    var_terms = [
        f"(({s}q - {s} * {s} / {n}) / nullif({n} - 1, 0.0) / {n})" for s, n in cells
    ]
    se = f"sqrt({' + '.join(var_terms)})"
    return est, se


@query(
    "events_diff_in_diff",
    oracle=f"""
    with u as (
      select user_id,
             ('0x' || substr(md5('cuped:' || cast(user_id as varchar)), 1, 15))::bigint
               % 2 as arm,
             cast(sum(case when ts < timestamp '{_CUPED_CUT} 00:00:00'
                           and event_type = 'purchase'
                      then cast(floor(value * 100 + 0.5) as bigint) else 0 end)
                  as bigint) as y_pre,
             cast(sum(case when ts >= timestamp '{_CUPED_CUT} 00:00:00'
                           and event_type = 'purchase'
                      then cast(floor(value * 100 + 0.5) as bigint) else 0 end)
                  as bigint) as y_post
      from events group by user_id
    ),
    m as (
      select cast(sum(case when arm = 1 then y_post else 0 end) as double) as t1,
             cast(sum(case when arm = 1 then y_pre else 0 end) as double) as t0,
             cast(sum(case when arm = 0 then y_post else 0 end) as double) as c1,
             cast(sum(case when arm = 0 then y_pre else 0 end) as double) as c0,
             cast(sum(case when arm = 1 then y_post * y_post else 0 end) as double) as t1q,
             cast(sum(case when arm = 1 then y_pre * y_pre else 0 end) as double) as t0q,
             cast(sum(case when arm = 0 then y_post * y_post else 0 end) as double) as c1q,
             cast(sum(case when arm = 0 then y_pre * y_pre else 0 end) as double) as c0q,
             cast(count(case when arm = 1 then 1 end) as double) as tn1,
             cast(count(case when arm = 1 then 1 end) as double) as tn0,
             cast(count(case when arm = 0 then 1 end) as double) as cn1,
             cast(count(case when arm = 0 then 1 end) as double) as cn0
      from u
    )
    select cast(tn1 as bigint) as n_treated, cast(cn1 as bigint) as n_control,
           (t0 / nullif(tn0, 0.0)) as treated_pre_mean,
           (t1 / nullif(tn1, 0.0)) as treated_post_mean,
           (c0 / nullif(cn0, 0.0)) as control_pre_mean,
           (c1 / nullif(cn1, 0.0)) as control_post_mean,
           {_did_texts()[0]} as did_estimate,
           {_did_texts()[1]} as did_se
    from m where tn1 > 0 and cn1 > 0
    """,
    tags=("temporal", "experiment", "causal", "did"),
)
def events_diff_in_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences over the _CUPED_CUT boundary: per-user
    purchase cents pre/post, arm 1 treated vs arm 0 control (the
    CUPED split), DiD = (treated change) - (control change) with the
    pooled per-cell variance SE. One row; degenerate cells go NULL
    via nullif, and an empty population yields zero rows (the guard
    the oracle shares).

    100 TB shape: the corpus collapses to the user spine in ONE
    map-side-combined aggregate; the 12 cell moments collapse to a
    single row; estimate and SE are scalar shared-text arithmetic on
    that row. The same plan as events_cuped — the causal kit's three
    artifacts (SRM gate, CUPED readout, DiD estimate) all price at
    one user-spine pass each.
    """
    e = t(spark, sf, "events")
    cut = F.lit(f"{_CUPED_CUT} 00:00:00").cast("timestamp")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when((F.col("ts") < cut) & (F.col("event_type") == "purchase"), cents)
                .otherwise(0)
            ).cast("long").alias("y_pre"),
            F.sum(
                F.when((F.col("ts") >= cut) & (F.col("event_type") == "purchase"), cents)
                .otherwise(0)
            ).cast("long").alias("y_post"),
        )
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("arm"),
            "y_pre",
            "y_post",
        )
    )
    m = u.agg(
        F.sum(F.when(F.col("arm") == 1, F.col("y_post")).otherwise(0)).cast("double").alias("t1"),
        F.sum(F.when(F.col("arm") == 1, F.col("y_pre")).otherwise(0)).cast("double").alias("t0"),
        F.sum(F.when(F.col("arm") == 0, F.col("y_post")).otherwise(0)).cast("double").alias("c1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y_pre")).otherwise(0)).cast("double").alias("c0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y_post") * F.col("y_post")).otherwise(0)).cast("double").alias("t1q"),
        F.sum(F.when(F.col("arm") == 1, F.col("y_pre") * F.col("y_pre")).otherwise(0)).cast("double").alias("t0q"),
        F.sum(F.when(F.col("arm") == 0, F.col("y_post") * F.col("y_post")).otherwise(0)).cast("double").alias("c1q"),
        F.sum(F.when(F.col("arm") == 0, F.col("y_pre") * F.col("y_pre")).otherwise(0)).cast("double").alias("c0q"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("double").alias("tn1"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("double").alias("tn0"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("double").alias("cn1"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("double").alias("cn0"),
    )
    est, se = _did_texts()
    return m.where((F.col("tn1") > 0) & (F.col("cn1") > 0)).select(
        F.col("tn1").cast("long").alias("n_treated"),
        F.col("cn1").cast("long").alias("n_control"),
        F.expr("(t0 / nullif(tn0, 0.0))").alias("treated_pre_mean"),
        F.expr("(t1 / nullif(tn1, 0.0))").alias("treated_post_mean"),
        F.expr("(c0 / nullif(cn0, 0.0))").alias("control_pre_mean"),
        F.expr("(c1 / nullif(cn1, 0.0))").alias("control_post_mean"),
        F.expr(est).alias("did_estimate"),
        F.expr(se).alias("did_se"),
    )


# N231: event-study leads & lags (the dynamic DiD plot — Jacobson,
# LaLonde & Sullivan 1993; the pre-trend diagnostic every serious DiD
# ships): per relative week w around the policy cut, the treated-vs-
# control mean gap minus the last-pre-week baseline gap. Flat effects
# at w < 0 validate the parallel-trends assumption N221's single
# estimate silently relies on; the w >= 0 path traces effect onset.
# Same md5 arm split and cut as the CUPED/SRM/DiD trio, so the four
# artifacts describe one experiment. The cut date is a Monday, and
# both engines truncate weeks to Monday, so day deltas are exact
# multiples of 7 and the truncating/floor integer divisions agree on
# negatives.
_ES_GAP = "((tc / tn) - (cc / cn))"
_ES_EFFECT = f"({_ES_GAP} - ((rtc / tn) - (rcc / cn)))"


@query(
    "events_event_study",
    oracle=f"""
    with arms as (
      select user_id,
             ('0x' || substr(md5('cuped:' || cast(user_id as varchar)), 1, 15))::bigint
               % 2 as arm
      from events group by user_id
    ),
    an as (
      select cast(count(case when arm = 1 then 1 end) as double) as tn,
             cast(count(case when arm = 0 then 1 end) as double) as cn
      from arms
    ),
    wk as (
      select cast(date_diff('day', date '{_CUPED_CUT}',
                            cast(date_trunc('week', e.ts) as date)) as bigint) // 7
               as rel_week,
             cast(sum(case when a.arm = 1
                      then cast(floor(e.value * 100 + 0.5) as bigint) else 0 end)
                  as double) as tc,
             cast(sum(case when a.arm = 0
                      then cast(floor(e.value * 100 + 0.5) as bigint) else 0 end)
                  as double) as cc
      from events e join arms a using (user_id)
      where e.event_type = 'purchase' and e.value is not null
      group by 1
    ),
    ref as (
      select coalesce((select tc from wk where rel_week = -1), 0.0) as rtc,
             coalesce((select cc from wk where rel_week = -1), 0.0) as rcc
    )
    select cast(rel_week as int) as rel_week,
           (tc / tn) as treated_mean,
           (cc / cn) as control_mean,
           {_ES_GAP} as gap,
           {_ES_EFFECT} as effect
    from wk cross join ref cross join an
    where tn > 0 and cn > 0
    """,
    tags=("temporal", "experiment", "causal", "did", "event-study"),
)
def events_event_study(spark: SparkSession, sf: str) -> DataFrame:
    """Per-relative-week treated/control purchase-cents means (over
    ALL arm users — absent users contribute exact zeros, so the mean
    is the arm total over the arm size, no user x week grid needed),
    the weekly gap, and the gap net of the w = -1 baseline.

    100 TB shape: one map-side-combined (arm, week) aggregate over
    the purchase stream (|weeks| x 2 cells), one user-spine distinct
    pass for arm sizes (shared with the SRM gate), the baseline row
    is a 1-row broadcast, and every double is a shared formula text
    over exact integer cents.
    """
    e = t(spark, sf, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    arms = e.groupBy("user_id").agg(F.first(F.lit(1))).select("user_id", arm.alias("arm"))
    an = arms.agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("double").alias("tn"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("double").alias("cn"),
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    rel = F.expr(
        f"cast(datediff(cast(date_trunc('week', ts) as date), date '{_CUPED_CUT}') as bigint)"
        " div 7"
    )
    wk = (
        e.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .join(arms, "user_id")
        .groupBy(rel.alias("rel_week"))
        .agg(
            F.sum(F.when(F.col("arm") == 1, cents).otherwise(0)).cast("double").alias("tc"),
            F.sum(F.when(F.col("arm") == 0, cents).otherwise(0)).cast("double").alias("cc"),
        )
    )
    # baseline as a total aggregate (never a limit-pick): the w = -1
    # row if present, exact 0.0 otherwise — deterministic and the
    # same coalesce the oracle's scalar subquery spells
    ref = wk.agg(
        F.coalesce(
            F.sum(F.when(F.col("rel_week") == -1, F.col("tc")).otherwise(0.0)),
            F.lit(0.0),
        ).alias("rtc"),
        F.coalesce(
            F.sum(F.when(F.col("rel_week") == -1, F.col("cc")).otherwise(0.0)),
            F.lit(0.0),
        ).alias("rcc"),
    )
    out = wk.crossJoin(F.broadcast(ref)).crossJoin(F.broadcast(an))
    return out.where((F.col("tn") > 0) & (F.col("cn") > 0)).select(
        F.col("rel_week").cast("int").alias("rel_week"),
        F.expr("(tc / tn)").alias("treated_mean"),
        F.expr("(cc / cn)").alias("control_mean"),
        F.expr(_ES_GAP).alias("gap"),
        F.expr(_ES_EFFECT).alias("effect"),
    )


# N244: autocorrelation of the daily event-count series at lags 1-7
# — the seasonality/trend smoke test every monitoring pipeline wants
# beside events_seasonality's day-of-week profile: a spiking lag-7
# r says weekly cycle, a slowly decaying lag-1..k says trend, and a
# flat ACF over residual noise is the "no structure left" gate for
# the forecast operator's linear fit. Computed as the exact Pearson
# correlation of the (x_t, x_{t+k}) pair set per lag, so every
# sufficient statistic is an integer on the collapsed daily spine and
# the only doubles are one shared formula text per lag.
_ACF_MAX_LAG = 7
_ACF_R = (
    "((cast(np as double) * sxy - cast(sx as double) * sy)"
    " / nullif(sqrt((cast(np as double) * sxx - cast(sx as double) * sx)"
    " * (cast(np as double) * syy - cast(sy as double) * sy)), 0.0))"
)


@query(
    "events_autocorrelation",
    oracle=f"""
    with daily as (
      select cast(ts as date) as d, cast(count(*) as bigint) as x
      from events where ts is not null group by 1
    ),
    lags as (select unnest(range(1, {_ACF_MAX_LAG + 1})) as lag),
    pairs as (
      select l.lag, a.x as x0, b.x as x1
      from daily a
      cross join lags l
      join daily b on b.d = a.d + cast(l.lag as int)
    ),
    m as (
      select lag, cast(count(*) as bigint) as np,
             cast(sum(x0) as bigint) as sx, cast(sum(x1) as bigint) as sy,
             cast(sum(x0 * x1) as bigint) as sxy,
             cast(sum(x0 * x0) as bigint) as sxx,
             cast(sum(x1 * x1) as bigint) as syy
      from pairs group by lag
    )
    select cast(lag as int) as lag, np as n_pairs, {_ACF_R} as acf
    from m
    """,
    tags=("temporal", "timeseries", "diagnostic"),
)
def events_autocorrelation(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1..k (k=_ACF_MAX_LAG) ACF of daily event counts (Pearson over
    lagged pairs; lags with < 2 pairs or zero variance go NULL via
    nullif).

    100 TB shape: the event stream collapses to the |days| spine in
    ONE map-side-combined aggregate; the lag fan-out and self-join
    run on that tiny spine (broadcast), and each lag's statistic is a
    shared-text expression over six integers — event volume only ever
    touches the first aggregate.
    """
    daily = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint()
    )
    # eager-by-design: the |days| spine feeds both sides of the lag
    # join — one collapse of the fact table, not two
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("d").alias("d0"), F.col("x").alias("x0"))
    b = daily.select(F.col("d").alias("d1"), F.col("x").alias("x1"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("d1") == F.expr("date_add(d0, lag)"),
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x0").cast("long").alias("sx"),
        F.sum("x1").cast("long").alias("sy"),
        F.sum(F.col("x0") * F.col("x1")).cast("long").alias("sxy"),
        F.sum(F.col("x0") * F.col("x0")).cast("long").alias("sxx"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("syy"),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("np").alias("n_pairs"),
        F.expr(_ACF_R).alias("acf"),
    )


# N248: multi-horizon activity features — the feature-engineering
# export every churn/propensity model starts from: per user, event
# counts over the trailing 1/7/30-day windows before a reference
# date, trailing-7-day purchase cents, distinct active days in the
# 30-day window, and recency. The reference date is the same cut the
# temporal split uses (split_time_embargo), so these features are
# train-legal by construction — every window ENDS at or before the
# cut, which is exactly the leakage the embargo protects against.
_FTW_REF = "2024-01-22 00:00:00"


@query(
    "feature_time_windows",
    oracle=f"""
    select user_id,
           cast(count(case when ts >= timestamp '{_FTW_REF}' - interval 1 day
                           then 1 end) as bigint) as n_1d,
           cast(count(case when ts >= timestamp '{_FTW_REF}' - interval 7 day
                           then 1 end) as bigint) as n_7d,
           cast(count(*) as bigint) as n_30d,
           cast(coalesce(sum(case when event_type = 'purchase'
                                   and ts >= timestamp '{_FTW_REF}' - interval 7 day
                                  then cast(floor(value * 100 + 0.5) as bigint) end),
                         0) as bigint) as spend_7d_cents,
           cast(count(distinct cast(ts as date)) as bigint) as days_active_30d,
           cast(date_diff('second', max(ts), timestamp '{_FTW_REF}') as bigint)
             as recency_sec
    from events
    where ts >= timestamp '{_FTW_REF}' - interval 30 day
      and ts < timestamp '{_FTW_REF}'
    group by user_id
    """,
    tags=("temporal", "feature", "ml"),
)
def feature_time_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user trailing-window feature vector at the reference cut.

    100 TB shape: ONE pass over the (30-day-pruned) event stream —
    every horizon is a conditional aggregate beside the scan, so a
    time-partitioned table reads 30 days and shuffles |users| feature
    rows; no window functions, no self-joins (the classic anti-
    pattern here is one join per horizon). All features are exact
    integers.
    """
    ref = F.lit(_FTW_REF).cast("timestamp")
    ev = (
        t(spark, sf, "events")
        .where(
            (F.col("ts") >= ref - F.expr("interval 30 day")) & (F.col("ts") < ref)
        )
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") >= ref - F.expr("interval 1 day"), 1))
        .cast("long")
        .alias("n_1d"),
        F.count(F.when(F.col("ts") >= ref - F.expr("interval 7 day"), 1))
        .cast("long")
        .alias("n_7d"),
        F.count(F.lit(1)).cast("long").alias("n_30d"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= ref - F.expr("interval 7 day")),
                    cents,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("spend_7d_cents"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("days_active_30d"),
        (ref.cast("long") - F.max("ts").cast("long")).cast("long").alias("recency_sec"),
    )


# N249: coarsened exact matching ATT (Iacus, King & Porro 2012) — the
# causal kit's OBSERVATIONAL member (CUPED/DiD/event-study all lean
# on the randomized hash split; CEM is what you run when assignment
# was NOT random): coarsen the pre-period covariate into bins, keep
# only bins containing BOTH treated and control users, and weight
# control outcomes to the treated bin distribution. Same cut and
# pre/post discipline as the rest of the kit.
_CEM_BINS = "case when pre_n = 0 then 0 when pre_n <= 2 then 1 when pre_n <= 5 then 2 else 3 end"
_CEM_ATT = "(cast(wsum as double) / nullif(ntm, 0))"


@query(
    "events_cem_att",
    oracle=f"""
    with u as (
      select user_id, user_id % 2 as arm,
             cast(count(case when event_type = 'view'
                              and ts < timestamp '{_CUPED_CUT} 00:00:00'
                             then 1 end) as bigint) as pre_n,
             cast(coalesce(sum(case when event_type = 'purchase'
                                     and ts >= timestamp '{_CUPED_CUT} 00:00:00'
                                    then cast(floor(value * 100 + 0.5) as bigint) end),
                           0) as bigint) as y_cents
      from events group by user_id
    ),
    b as (
      select {_CEM_BINS} as bin,
             cast(count(case when arm = 1 then 1 end) as bigint) as n_t,
             cast(coalesce(sum(case when arm = 1 then y_cents end), 0) as bigint) as s_t,
             cast(count(case when arm = 0 then 1 end) as bigint) as n_c,
             cast(coalesce(sum(case when arm = 0 then y_cents end), 0) as bigint) as s_c
      from u group by 1
    ),
    matched as (select * from b where n_t > 0 and n_c > 0),
    f as (
      select cast((select coalesce(sum(n_t), 0) from matched) as bigint) as ntm,
             (select list_reduce(list_prepend(cast(0 as double),
                list(n_t * (cast(s_t as double) / (100.0 * n_t)
                            - cast(s_c as double) / (100.0 * n_c)) order by bin)),
                (acc, x) -> acc + x) from matched) as wsum,
             cast((select count(*) from b) as bigint) as n_bins,
             cast((select count(*) from matched) as bigint) as n_bins_matched
    )
    select n_bins, n_bins_matched, ntm as n_treated_matched,
           {_CEM_ATT} as att_dollars
    from f
    """,
    tags=("temporal", "experiment", "causal", "matching"),
)
def events_cem_att(spark: SparkSession, sf: str) -> DataFrame:
    """ATT in dollars of the (hash) treatment on post-cut purchase
    spend, matched on coarsened pre-cut view activity (bins 0 / 1-2 /
    3-5 / 6+; unmatched bins dropped, treated-share weights).

    100 TB shape: ONE map-side per-user collapse (pre covariate +
    post outcome in the same pass), one conditional aggregation to
    |bins| integer-moment rows, and the weighted fold runs in pinned
    bin order over <= 4 doubles (the agg_anova discipline); ATT is a
    1-row shared-text division, NULL when nothing matches.
    """
    cut = F.lit(f"{_CUPED_CUT} 00:00:00").cast("timestamp")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    u = (
        t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(
                F.when(
                    (F.col("event_type") == "view") & (F.col("ts") < cut), 1
                )
            )
            .cast("long")
            .alias("pre_n"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") == "purchase") & (F.col("ts") >= cut),
                        cents,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y_cents"),
        )
        .select(
            (F.col("user_id") % 2).alias("arm"), F.expr(_CEM_BINS).alias("bin"), "y_cents"
        )
    )
    b = u.groupBy("bin").agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n_t"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y_cents"))), F.lit(0))
        .cast("long")
        .alias("s_t"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n_c"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y_cents"))), F.lit(0))
        .cast("long")
        .alias("s_c"),
    ).localCheckpoint()
    # eager-by-design: the <= 4-row bin table feeds the matched fold,
    # the treated-mass count, AND the bin counts — one collapse of the
    # user spine, not three
    matched = b.where((F.col("n_t") > 0) & (F.col("n_c") > 0))
    term = F.col("n_t") * (
        F.col("s_t").cast("double") / (F.lit(100.0) * F.col("n_t"))
        - F.col("s_c").cast("double") / (F.lit(100.0) * F.col("n_c"))
    )
    ordered = F.sort_array(F.collect_list(F.struct("bin", "term")))
    fm = matched.select("bin", "n_t", term.alias("term")).agg(
        F.coalesce(F.sum("n_t"), F.lit(0)).cast("long").alias("ntm"),
        F.aggregate(
            F.transform(ordered, lambda x: x["term"]),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("wsum"),
        F.count(F.lit(1)).cast("long").alias("n_bins_matched"),
    )
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_bins"))
    return nb.crossJoin(F.broadcast(fm)).select(
        "n_bins",
        "n_bins_matched",
        F.col("ntm").alias("n_treated_matched"),
        F.expr(_CEM_ATT).alias("att_dollars"),
    )
