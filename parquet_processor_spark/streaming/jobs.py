"""Structured Streaming analogs (SURVEY.md §2.10 T1-T6).

The reference hand-rolls streaming over GitHub Actions: micro-batch
flush every 10 records (test_parquet_processor.py:362-364), resumable
has_more/next_index offsets (:377-385), dead-letter side channel
(:336-360), per-record lateness bounds (:274-275). Each maps to a
built-in Structured Streaming facility:

- T1 micro-batches  → trigger(availableNow/processingTime)
- T2 resume offsets → option("checkpointLocation", …) offset log
- T4 dead-letter    → foreachBatch split write
- T5 lateness       → withWatermark + windowed aggregation
- T6 event windows  → window()/session_window over events.ts
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parquet_processor_spark.tables import _normalize_event_time


def read_event_stream(spark: SparkSession, src: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a parquet directory (schema locked from a
    batch peek — never infer per micro-batch). ``src`` may be a directory
    or a single file (handled via pathGlobFilter on its parent)."""
    # Same runtime conf tables.t() sets: events.parquet stores INT64
    # TIMESTAMP(NANOS), which both the batch schema peek below and the
    # file-source stream reject (PARQUET_TYPE_ILLEGAL) on sessions we
    # didn't build (the driver's harness session) unless mapped to long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", max_files_per_trigger)
    if src.endswith(".parquet") and not os.path.isdir(src):
        # single FILE: stream its parent dir filtered to this name. A
        # directory named *.parquet (normal Spark write layout) must
        # NOT take this branch — pathGlobFilter matches file names, so
        # filtering on the dir name silently streams zero files.
        base, _, fname = src.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        src = base
    stream = reader.parquet(src)
    # Normalize ts to TIMESTAMP (LTZ) whichever way the writer encoded it
    # (bigint nanos or timestamp[us]/NTZ) — withWatermark rejects NTZ.
    return _normalize_event_time(stream)


def tumbling_counts(events: DataFrame, window_len: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """T5/T6: watermarked tumbling window — late rows beyond the
    watermark are dropped, state is bounded (the streaming analog of the
    reference's 10 s record-lateness cutoff).

    total_value accumulates as decimal(18,6): exact, so the result is
    independent of micro-batch arrival order AND bit-identical with the
    DuckDB oracle (same decimal round; never round a raw double)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """T6: watermarked SLIDING window — each event lands in
    window_len/slide windows (expanded map-side), then the same
    bounded-state aggregate as the tumbling job."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "15 minutes", watermark: str = "30 minutes") -> DataFrame:
    """T6: session windows per user (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """T3/A11 as a custom stateful operator: per-user cumulative event
    count and value total carried across micro-batches in explicit
    GroupState (``applyInPandasWithState``) — the engine's template for
    operators Structured Streaming doesn't have built in.

    The reference's analog is the hand-rolled running counters emitted
    through $GITHUB_OUTPUT between workflow runs
    (test_parquet_processor.py:377-385). State here is per-key (user),
    partitioned by the stream's groupBy shuffle, checkpointed with the
    query — at 1000 executors each holds only its key range's state.

    The running total is carried as integer MICROS (trunc(value*1e6)):
    integer accumulation is exact, so the emitted total is independent
    of micro-batch order and bit-identical with a DuckDB oracle that
    spells the same trunc-to-micros sum — a float running sum would
    drift with accumulation order and never hash-match.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple, pdfs, state: GroupState):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            micros += int(np.trunc(vals * 1e6).astype("int64").sum())
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [micros / 1e6]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total_micros long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_keys(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming deduplication: first occurrence per (user_id,
    event_type) within the watermark horizon, via
    ``dropDuplicatesWithinWatermark`` — state for a key expires once
    the watermark passes it, so the dedup map is bounded at any scale
    (the batch analog keeps ALL keys forever).

    Only the key columns are emitted: which physical row survives per
    key depends on partition arrival order, but the surviving KEY SET
    is deterministic — which is what makes the DuckDB ``select
    distinct`` oracle hash-match.
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def run_with_dead_letter(
    events: DataFrame,
    ok_dir: str,
    dead_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """T4: foreachBatch split — 'error' events to the dead-letter sink,
    everything else appended to parquet. One pass, two sinks."""

    def split(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        batch.where(F.col("event_type") != "error").write.mode("append").parquet(ok_dir)
        batch.where(F.col("event_type") == "error").write.mode("append").json(dead_dir)
        batch.unpersist()

    return (
        events.writeStream.foreachBatch(split)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _latest_per_user(df: DataFrame) -> DataFrame:
    """One row per user: the (ts, event_id)-greatest event — the
    snapshot-supersedence rule (T3: newest record wins, event_id breaks
    equal-timestamp ties deterministically)."""
    s = F.max_by(
        F.struct("ts", "event_id", "event_type", "value"),
        F.struct("ts", "event_id"),
    ).alias("s")
    return df.groupBy("user_id").agg(s).select(
        "user_id",
        F.col("s.ts").alias("ts"),
        F.col("s.event_id").alias("event_id"),
        F.col("s.event_type").alias("event_type"),
        F.col("s.value").alias("value"),
    )


def _recover_state(state_dir: str) -> None:
    """Make the swap protocol crash-safe: heal any interrupted
    write-new -> rename-old -> rename-new -> drop-old sequence before
    the next merge reads state.

    A crash between rename(state_dir, old) and rename(tmp, state_dir)
    leaves NO state_dir while the streaming checkpoint already marks
    the batch committed (availableNow will not replay it), so without
    recovery a restart silently rebuilds from empty (r6 ADVICE item).
    Policy: if state_dir is missing, promote the newest COMPLETE
    .tmp-* (parquet _SUCCESS marker — it holds the post-merge state of
    the committed batch); else restore the newest .old-*; then drop
    every remaining leftover.
    """
    import shutil

    parent = os.path.dirname(state_dir) or "."
    base = os.path.basename(state_dir)
    if not os.path.isdir(parent):
        return
    leftovers = {"tmp": [], "old": []}
    for name in os.listdir(parent):
        for kind in ("tmp", "old"):
            prefix = f"{base}.{kind}-"
            if name.startswith(prefix):
                try:
                    leftovers[kind].append((int(name[len(prefix):]), os.path.join(parent, name)))
                except ValueError:
                    pass
    if not os.path.isdir(state_dir):
        complete_tmps = [
            (b, p) for b, p in leftovers["tmp"] if os.path.exists(os.path.join(p, "_SUCCESS"))
        ]
        if complete_tmps:
            _, newest = max(complete_tmps)
            os.rename(newest, state_dir)
            leftovers = {k: [(b, p) for b, p in v if p != newest] for k, v in leftovers.items()}
        elif leftovers["old"]:
            _, newest = max(leftovers["old"])
            os.rename(newest, state_dir)
            leftovers = {k: [(b, p) for b, p in v if p != newest] for k, v in leftovers.items()}
    for _, p in leftovers["tmp"] + leftovers["old"]:
        shutil.rmtree(p, ignore_errors=True)


def _swap_state(merged: DataFrame, state_dir: str, batch_id: int) -> None:
    """Commit ``merged`` as the new state directory: write-new ->
    rename-old -> rename-new -> drop-old. Readers never see a
    half-written table; _recover_state heals any crash mid-sequence."""
    import shutil

    tmp = f"{state_dir}.tmp-{batch_id}"
    merged.write.mode("overwrite").parquet(tmp)
    old = f"{state_dir}.old-{batch_id}"
    if os.path.isdir(state_dir):
        os.rename(state_dir, old)
    os.rename(tmp, state_dir)
    if os.path.isdir(old):
        shutil.rmtree(old)


def run_with_upsert(events: DataFrame, state_dir: str, checkpoint: str) -> StreamingQuery:
    """T3 as a continuously-maintained sink: a keyed latest-state table
    upserted by ``foreachBatch`` merge. Each micro-batch reduces to one
    row per user (map-side-combined ``max_by``), merges with the
    current state under the same newest-wins rule, and swaps the state
    directory atomically (write-new → rename-old → rename-new →
    drop-old), so a reader never sees a half-written table and a crash
    mid-swap leaves either the old or the new complete state.

    100 TB shape: the merge cost is O(|state| + |batch|) with one
    shuffle on the key — the batch side is pre-shrunk to one row per
    key before touching the state. On a real deployment the state
    would live in a table format with MERGE support (Delta/Iceberg)
    so the rewrite touches only changed files; the
    directory-swap stands in for that commit protocol with plain
    parquet, exactly as the reference supersedes its snapshot files
    (flush-every-10 rewrite, test_parquet_processor.py:362-364).
    """
    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _recover_state(state_dir)
        delta = _latest_per_user(batch)
        if os.path.isdir(state_dir):
            cur = spark.read.parquet(state_dir)
            merged = _latest_per_user(cur.unionByName(delta))
        else:
            merged = delta
        _swap_state(merged, state_dir, batch_id)

    return (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_trending_update(events: DataFrame, state_dir: str, checkpoint: str) -> StreamingQuery:
    """The trending-leaderboard spine in UPDATE output mode — the
    production path the r11 SCALE note promised (the registered
    complete-mode twin rewrites its whole result table every
    micro-batch, linear-in-state; this one ships deltas).

    The streaming aggregation keeps the (hour_start, user_id) counts
    in the state store and, in update mode, each micro-batch emits
    ONLY the spine cells that batch touched. ``foreachBatch`` upserts
    those cells into the at-rest parquet spine by key (anti-join the
    delta's keys, append the delta) under the same
    write-new → swap → recover commit protocol as
    :func:`run_with_upsert`. Per-batch cost: input rows = the new
    slice (pinned by the incremental pytest, the OHLC recipe), delta
    rows = |touched cells| ≤ input rows, never |state|. On a real
    deployment the spine lives in a MERGE-capable table so the upsert
    rewrites only touched files; the directory swap stands in for
    that commit protocol with plain parquet.
    """
    counts = (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour")["start"].alias("hour_start"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return run_spine_update(counts, ("hour_start", "user_id"), state_dir, checkpoint)


def run_spine_update(
    spine: DataFrame,
    keys: tuple[str, ...],
    state_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """The N223 delta-serve discipline as a SHARED helper (r12 VERDICT
    #5): any streaming aggregation spine in UPDATE output mode, each
    micro-batch emitting only the spine cells it touched, upserted
    into the at-rest parquet state by ``keys`` (anti-join the delta's
    keys, append the delta) under the write-new → swap → recover
    commit protocol of :func:`run_with_upsert`.

    Update-mode rows ARE the new totals for the touched keys —
    replace-by-key, no re-aggregation here. Per-batch cost:
    O(|touched cells| + |state|) parquet I/O with plain parquet, and
    only the touched files under a MERGE-capable table format; input
    rows = the new slice, never history (pinned per twin by the
    incremental pytests, the OHLC recipe).
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _recover_state(state_dir)
        delta = batch
        if os.path.isdir(state_dir):
            cur = spark.read.parquet(state_dir)
            merged = cur.join(
                delta.select(*keys), list(keys), "left_anti"
            ).unionByName(delta)
        else:
            merged = delta
        _swap_state(merged, state_dir, batch_id)

    return (
        spine.writeStream.outputMode("update")
        .foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against a static
    dimension snapshot (broadcast per batch — no stream state). The
    scraper analog: enriching fetched records with the field-catalog
    dimension instead of a Python dict lookup."""
    return events.join(F.broadcast(dim), "user_id", "left")


def stream_stream_view_purchase(events: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join: purchases matched to any view by the
    same user within ``horizon`` before the purchase. Both sides are
    watermarked so the join state is bounded — the interval condition
    lets Spark expire buffered rows past the horizon."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", horizon)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", horizon)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"interval {horizon}")),
        "inner",
    ).select(
        "purchase_event_id", F.col("p_user").alias("user_id"), "purchase_ts", "value",
        "view_event_id", "view_ts",
    )


def stream_stream_view_purchase_outer(events: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase emits — matched to
    its views within ``horizon`` immediately, or as a NULL-view row
    once the watermark proves no matching view can still arrive. The
    null emission is the part the inner variant cannot exercise: an
    unmatched purchase sits in the join state until the global
    watermark (min over both sides' per-operator watermarks) passes
    its eviction bound, and only then emits with nulls — bounded state
    AND complete output, the contract of a production "orders without
    views" feed. Purchases newer than the final watermark stay in
    state un-emitted (no-silent-loss is the oracle's replay — see
    streaming/queries.py streaming_stream_join_outer)."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", horizon)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", horizon)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"interval {horizon}")),
        "left_outer",
    ).select(
        "purchase_event_id", F.col("p_user").alias("user_id"), "purchase_ts", "value",
        "view_event_id", "view_ts",
    )


def _cdc_reduce(rows: DataFrame) -> DataFrame:
    """Reduce CDC state rows (user_id, n_versions, ts, event_id,
    event_type, value) to one row per user: version counts SUM,
    the newest (ts, event_id) change wins. Associative and
    commutative, so any micro-batch split of the log converges to
    the same state."""
    win = F.max_by(
        F.struct("ts", "event_id", "event_type", "value"), F.struct("ts", "event_id")
    )
    return rows.groupBy("user_id").agg(
        F.sum("n_versions").alias("n_versions"), win.alias("w")
    ).select(
        "user_id",
        "n_versions",
        F.col("w.ts").alias("ts"),
        F.col("w.event_id").alias("event_id"),
        F.col("w.event_type").alias("event_type"),
        F.col("w.value").alias("value"),
    )


def run_with_tombstones(events: DataFrame, state_dir: str, checkpoint: str) -> StreamingQuery:
    """Streaming CDC apply: the continuously-maintained twin of
    ops/temporal.cdc_apply_tombstones. Each micro-batch reduces to one
    candidate row per key PLUS its version count, merges with current
    state under (sum counts, newest-wins change), and swaps the state
    directory atomically (same commit protocol as run_with_upsert).
    Tombstones ('error' ops) stay IN the state as dead keys — dropping
    them would resurrect a key if an older batch replayed after the
    delete.

    100 TB shape: merge cost O(|state| + |batch|) with one shuffle on
    the key; the batch side collapses map-side before touching state.
    The (count, argmax) state is mergeable partial state — the same
    algebra that makes the batch operator's shuffle carry one row per
    key makes the streaming merge correct under any batch split.
    """

    def as_state(rows: DataFrame) -> DataFrame:
        return rows.select(
            "user_id",
            F.lit(1).cast("long").alias("n_versions"),
            "ts",
            "event_id",
            "event_type",
            "value",
        )

    def merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        _recover_state(state_dir)
        delta = _cdc_reduce(as_state(batch))
        if os.path.isdir(state_dir):
            cur = spark.read.parquet(state_dir)
            merged = _cdc_reduce(cur.unionByName(delta))
        else:
            merged = delta
        _swap_state(merged, state_dir, batch_id)

    return (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ohlc_bars(
    events: DataFrame, window_len: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming OHLC bars — the streaming twin of
    ops/temporal.events_ohlc_bars: per (bar, series) first/max/min/last
    value + count + exact-cents volume under a watermarked tumbling
    window. Open/close use min_by/max_by over the (ts, event_id)
    struct: ORDER-KEYED aggregates whose partial states merge
    commutatively, so the result is independent of micro-batch
    arrival order — the property a streaming first_value cannot give
    (arrival order is trigger luck). State per bar is one struct per
    extreme, bounded by bars x series like every watermarked agg."""
    e = events.where(F.col("value").isNotNull()).select(
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    ordkey = F.struct("ts", "event_id")
    return (
        e.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min_by("cents", ordkey).cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max_by("cents", ordkey).cast("long").alias("close_cents"),
            F.sum("cents").cast("long").alias("volume_cents"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type",
            "n_events",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "volume_cents",
        )
    )
