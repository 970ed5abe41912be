"""Streaming stream-stream join, session windows, and the
applyInPandasWithState progress operator — each checked against its
batch twin on an ordered replay (SURVEY.md §5.2 item 2 pattern)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import joins, windows
from flink_cdc_mysql_sink_to_mysql_spark.sources import mysql_changelog
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming import stateful

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def spool(spark, tmp_path):
    env = mysql_changelog(spark, SF)
    d = str(tmp_path / "spool")
    pl.spool_changelog(env, d, n_chunks=3)
    return d


def _turns_batch(spark):
    env = mysql_changelog(spark, SF)
    return env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.role").alias("role"),
        F.col("after.ts").alias("ts"),
    )


def test_stream_stream_join_matches_batch(spark, tmp_path, spool):
    out = pl.stream_stream_join(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = sorted(
        map(tuple, spark.read.parquet(out).collect())
    )
    want = sorted(
        map(
            tuple,
            joins.user_turn_responses(_turns_batch(spark))
            .select("conv_id", "u_idx", "a_idx", "a_role", "latency_ms")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_session_windows_stream_matches_batch(spark, tmp_path, spool):
    out = pl.session_windows_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select(
                F.unix_millis("sess_start").alias("s"),
                F.unix_millis("sess_end").alias("e"),
                "conv_id",
                "n_turns",
                "first_turn",
                "last_turn",
            )
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            windows.session_windows(_turns_batch(spark))
            .select(
                "sess_start_ms",
                "sess_end_ms",
                "conv_id",
                "n_turns",
                "first_turn",
                "last_turn",
            )
            .collect(),
        )
    )
    # Append-mode semantics: a session emits only once the watermark
    # passes its end; sessions still open at end-of-stream stay in state
    # (they'd emit on the next run). So streamed == batch minus exactly
    # the tail sessions ending after the final watermark.
    max_ts = _turns_batch(spark).agg(
        F.max(F.unix_millis("ts"))
    ).collect()[0][0]
    final_watermark = max_ts - 30 * 60 * 1000
    emitted = [s for s in want if s[1] <= final_watermark]
    tail = [s for s in want if s[1] > final_watermark]
    assert got == emitted and len(got) > 0
    assert sorted(set(want) - set(got)) == sorted(tail)


def test_stateful_progress_matches_batch(spark, tmp_path, spool):
    out = stateful.conversation_progress_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    turns = _turns_batch(spark).select(
        "conv_id", "turn_idx", F.unix_millis("ts").alias("ts_ms")
    )
    want = sorted(
        map(tuple, stateful.conversation_progress_batch(turns).collect())
    )
    assert got == want and len(got) > 0


def test_union_stream_matches_batch_apply(spark, tmp_path):
    """U1 streaming parity: both dialect feeds stream in, union, MERGE —
    final table equals the batch apply of the unioned changelog (the
    entry-query golden, 983 rows at sf0.001)."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
    from flink_cdc_mysql_sink_to_mysql_spark.sources import mongo_changelog
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
        MergeParquetSink,
    )

    my_spool = str(tmp_path / "spool_my")
    mo_spool = str(tmp_path / "spool_mo")
    pl.spool_changelog(mysql_changelog(spark, SF), my_spool, n_chunks=2)
    pl.spool_changelog(
        mongo_changelog(spark, SF),
        mo_spool,
        n_chunks=2,
        order_by="fullDocument.create_time.date",
    )
    sink = MergeParquetSink(root=str(tmp_path / "sink"), n_buckets=8)
    pl.materialize_stream(
        spark,
        my_spool,
        sink,
        str(tmp_path / "ck"),
        mongo_spool_dir=mo_spool,
    )
    got = sorted(
        map(
            tuple,
            sink.snapshot(spark)
            .select("conv_id", "turn_idx", "role", "text", "tool",
                    F.unix_millis("ts").alias("ts_ms"))
            .collect(),
        )
    )
    env = cdc.union_feeds(
        mysql_changelog(spark, SF), mongo_changelog(spark, SF)
    )
    want = sorted(
        map(
            tuple,
            cdc.apply_changelog(env)
            .select("conv_id", "turn_idx", "role", "text", "tool",
                    F.unix_millis("ts").alias("ts_ms"))
            .collect(),
        )
    )
    assert got == want and len(got) > 900


@pytest.mark.skipif(
    not stateful.tws_available(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_stateful_progress_tws_matches_batch(spark, tmp_path, spool):
    """Same equivalence for the transformWithStateInPandas form."""
    out = stateful.conversation_progress_stream_tws(
        spark, spool, str(tmp_path / "out_tws"), str(tmp_path / "ck_tws")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    turns = _turns_batch(spark).select(
        "conv_id", "turn_idx", F.unix_millis("ts").alias("ts_ms")
    )
    want = sorted(
        map(tuple, stateful.conversation_progress_batch(turns).collect())
    )
    assert got == want and len(got) > 0


def test_late_update_cannot_reopen_closed_session(spark, tmp_path):
    """SURVEY §7 hard part: an update to an old turn arriving after the
    watermark passed the session's close is DROPPED by the session state
    store — a closed session is never reopened or re-emitted.

    Spark nuance this pins: the late-events filter uses the PREVIOUS
    batch's watermark (watermarkForLateEvents), so the drop takes effect
    one batch after the watermark-advancing data — hence three chunks:
    (1) the session + watermark pushers, (2) more on-time rows that
    promote the late-events watermark, (3) the hours-late update."""
    import datetime as dt

    rows = lambda *rs: spark.createDataFrame(  # noqa: E731
        list(rs),
        "op string, before struct<conv_id:string,turn_idx:int,role:string,"
        "text:string,tool:string,ts:timestamp>, after struct<conv_id:string,"
        "turn_idx:int,role:string,text:string,tool:string,ts:timestamp>,"
        " source struct<db:string,table:string>, seq long",
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def turn(idx, minutes, conv="cX", text="x"):
        return (conv, idx, "user", text, None, t0 + dt.timedelta(minutes=minutes))

    src = ("transcripts", "turns")
    spool = str(tmp_path / "spool")
    # chunk 1: conv cX session [t0, t0+5m]; cY rows 10 HOURS later push
    # the eviction watermark (30m delay) far past cX's session end.
    pl.spool_dataframe(
        rows(
            ("c", None, turn(0, 0), src, 1),
            ("c", None, turn(1, 5), src, 2),
            ("c", None, turn(0, 600, "cY"), src, 3),
            ("c", None, turn(1, 601, "cY"), src, 4),
        ),
        spool,
        "chunk-001.parquet",
    )
    # chunk 2: on-time cY row — promotes the late-events watermark.
    pl.spool_dataframe(
        rows(("c", None, turn(2, 650, "cY"), src, 5)), spool, "chunk-002.parquet"
    )
    # chunk 3: the hours-late update to cX turn 1, + a fresh on-time row.
    pl.spool_dataframe(
        rows(
            ("u", turn(1, 5), turn(1, 2, text="edited"), src, 6),
            ("c", None, turn(3, 1200, "cY"), src, 7),
        ),
        spool,
        "chunk-003.parquet",
    )
    out = pl.session_windows_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = [(r.conv_id, r.n_turns) for r in spark.read.parquet(out).collect()]
    # cX's session closed with its 2 on-time turns; the late update was
    # dropped — no reopen, no extension, no duplicate emission. A LIST,
    # not a set: a re-emitted identical session row must fail the count.
    assert got.count(("cX", 2)) == 1
    assert sum(1 for c, _ in got if c == "cX") == 1


def test_sliding_windows_stream_matches_batch(spark, tmp_path, spool):
    """Sliding variant of the windowed stream equals the batch sliding
    counts for windows closed by the final watermark."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import windows

    out = pl.windowed_counts_stream(
        spark,
        spool,
        str(tmp_path / "out_sl"),
        str(tmp_path / "ck_sl"),
        window="10 minutes",
        slide="5 minutes",
    )
    got = {
        (r.s, r.conv_id, r.n_turns)
        for r in spark.read.parquet(out)
        .select(
            F.unix_millis("win_start").alias("s"), "conv_id", "n_turns"
        )
        .collect()
    }
    max_ts = _turns_batch(spark).agg(F.max(F.unix_millis("ts"))).collect()[0][0]
    final_wm = max_ts - 30 * 60 * 1000
    want = {
        (r.win_start_ms, r.conv_id, r.n_turns)
        for r in windows.sliding_counts(_turns_batch(spark)).collect()
        # append mode: only windows whose END the watermark passed emit
        if r.win_start_ms + 10 * 60 * 1000 <= final_wm
    }
    assert got == want and len(got) > 0


def test_incremental_cohort_matches_batch(spark, tmp_path, spool):
    """Continuously-maintained cohort (update-mode cube + per-epoch rule
    evaluation) equals the one-shot batch cohort after drain — for the
    exist rule and its not-exist twin, both served by one stream from
    the rule-independent cube."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc, cohort
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import cohort_stream
    from tests.test_dynamic_cohorts import _write_rules

    now = "2024-01-30 00:00:00"
    rules = [
        cohort.CohortRule(
            target=1,
            is_exist=is_exist,
            value_days=14,
            sub_params=(
                cohort.SubParam(2, 2, 2),
                cohort.SubParam(1, 0, 100),
                cohort.SubParam(3, 3, 5000),
            ),
        )
        for is_exist in (True, False)
    ]
    _write_rules(tmp_path / "rules.json", rules)
    wd = str(tmp_path / "coh")
    cohort_stream.run_dynamic_cohorts(
        spark, spool, str(tmp_path / "rules.json"), wd, now
    )
    members = cohort_stream.read_members(spark, wd)
    events = cdc.derive_turn_events(mysql_changelog(spark, SF))
    universe = events.select("conv_id").distinct()
    for rule_id, rule in enumerate(rules):
        got = {
            r.conv_id
            for r in members.where(F.col("rule_id") == rule_id).collect()
        }
        want = {
            r.conv_id
            for r in cohort.evaluate_rule(universe, events, rule, now).collect()
        }
        assert got == want and len(got) > 0, rule


def test_incremental_cohort_resumes_from_checkpoint(spark, tmp_path, spool):
    """Re-running the cohort stream with the same checkpoint and no new
    spool data processes nothing (no duplicate cube deltas) and keeps
    serving the members."""
    from flink_cdc_mysql_sink_to_mysql_spark.operators import cohort
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import cohort_stream
    from tests.test_dynamic_cohorts import _write_rules

    now = "2024-01-30 00:00:00"
    rule = cohort.CohortRule(target=1, is_exist=True, value_days=14)
    rules_path = tmp_path / "rules.json"
    _write_rules(rules_path, [rule])
    wd = str(tmp_path / "coh")
    delta = cohort_stream.cube_delta_dir(wd)
    cohort_stream.run_dynamic_cohorts(spark, spool, str(rules_path), wd, now)
    n1 = spark.read.parquet(delta).count()
    # resume with nothing new → zero new delta rows
    cohort_stream.run_dynamic_cohorts(spark, spool, str(rules_path), wd, now)
    n2 = spark.read.parquet(delta).count()
    assert n2 == n1
    members_before = {
        r.conv_id for r in cohort_stream.read_members(spark, wd).collect()
    }
    assert len(members_before) > 0


def test_dedup_envelopes_drops_cross_batch_redelivery(spark, tmp_path):
    """At-least-once upstream: the same envelopes redelivered in a LATER
    microbatch (within the watermark) must be dropped by
    dedup_envelopes; without it they double-count."""
    env = mysql_changelog(spark, SF).limit(40).cache()
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    pl.spool_dataframe(env, spool, "a.parquet")
    pl.spool_dataframe(env.limit(15), spool, "b.parquet")  # redelivery

    def run(dedupe, tag):
        stream = pl.envelope_stream(spark, spool, max_files_per_trigger=1)
        if dedupe:
            stream = pl.dedup_envelopes(stream)
        out = str(tmp_path / f"out_{tag}")
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    assert run(dedupe=False, tag="raw").count() == 55
    deduped = run(dedupe=True, tag="dd")
    assert deduped.count() == 40
    # and the distinct identity space is intact (no over-dropping)
    assert (
        deduped.select(
            "op", "seq",
            F.coalesce("after.conv_id", "before.conv_id"),
            F.coalesce("after.turn_idx", "before.turn_idx"),
        ).distinct().count()
        == 40
    )


def test_tool_loop_stream_matches_batch(spark, tmp_path, spool):
    """Streaming stuck-agent alerts (O(1) keyed state, fires once per
    run crossing) equal the batch running-sum twin on the seq-ordered
    replay — including runs that span microbatch boundaries (3 chunks)."""
    out = stateful.tool_loop_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    env = mysql_changelog(spark, SF)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.role").alias("role"),
        F.col("after.tool").alias("tool"),
        F.col("seq"),
        F.col("op"),
    )
    want = sorted(
        map(tuple, stateful.tool_loop_alerts_batch(turns).collect())
    )
    assert got == want and len(got) > 0


def test_tool_loop_update_does_not_double_count(spark, tmp_path):
    """An op='u' edit of an already-counted tool turn must NOT advance
    the run: 2 real tool turns + 1 edit < LOOP_N ⇒ zero alerts (the
    round-2 ADVICE finding — before the insert-only gate, the edit made
    the run length 3 and fired a false stuck-loop alert)."""
    rows = [
        ("c", "cv", 0, "tool", "search", 100),
        ("c", "cv", 1, "tool", "search", 101),
        ("u", "cv", 0, "tool", "search", 102),  # edit of turn 0
    ]
    env = spark.createDataFrame(
        [
            (
                op,
                {"conv_id": c, "turn_idx": t, "role": r, "tool": tool,
                 "text": "x", "ts": None},
                None,
                seq,
            )
            for op, c, t, r, tool, seq in rows
        ],
        "op string, after struct<conv_id:string,turn_idx:int,role:string,"
        "tool:string,text:string,ts:timestamp>, before struct<conv_id:string,"
        "turn_idx:int,role:string,tool:string,text:string,ts:timestamp>,"
        " seq long",
    )
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    pl.spool_dataframe(env, spool, "a.parquet")
    out = stateful.tool_loop_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    assert spark.read.parquet(out).count() == 0
    turns = env.select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.role").alias("role"),
        F.col("after.tool").alias("tool"),
        F.col("seq"),
        F.col("op"),
    )
    assert stateful.tool_loop_alerts_batch(turns).count() == 0


def test_abandoned_conversations_timer_matches_batch(spark, tmp_path, spool):
    """The event-time-TIMER op (fires on ABSENCE of an event) equals
    the session-window batch twin under the same final watermark."""
    out = stateful.abandoned_conversations_stream(
        spark, spool, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    env = mysql_changelog(spark, SF)
    want = sorted(
        map(tuple, stateful.abandoned_conversations_batch(env).collect())
    )
    assert got == want and len(got) > 0


def test_abandoned_fires_per_burst_on_resumption(spark, tmp_path):
    """A conversation that resumes after a lull produces one event PER
    finished burst — including the mid-batch lull the timer alone
    could never see — and an active tail burst produces none."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(milliseconds=stateful.ABANDON_GAP_MS)
    sec = dt.timedelta(seconds=1)

    def env_row(conv, idx, ts):
        return (
            "c",
            {"conv_id": conv, "turn_idx": idx, "role": "user",
             "text": "x", "tool": None, "ts": ts},
            None,
            int(ts.timestamp() * 1000),
        )

    a1 = t0 + sec
    a2 = a1 + gap + sec  # STRICTLY past the gap → closes burst 1 (n=2)
    b0 = a2 + gap + sec  # watermark passes a2+gap → burst 2 (n=1) fires
    rows = [
        env_row("a", 0, t0),
        env_row("a", 1, a1),
        env_row("a", 2, a2),
        # conv b: single burst still active at corpus end → no event
        env_row("b", 0, b0),
    ]
    schema = (
        "op string, after struct<conv_id:string,turn_idx:int,role:string,"
        "text:string,tool:string,ts:timestamp>,"
        " before struct<conv_id:string,turn_idx:int,role:string,"
        "text:string,tool:string,ts:timestamp>, seq long"
    )
    env = spark.createDataFrame(rows, schema)
    spool_d = str(tmp_path / "spool2")
    pl.spool_changelog(env, spool_d, n_chunks=1)  # ONE batch: mid-batch lulls
    out = stateful.abandoned_conversations_stream(
        spark, spool_d, str(tmp_path / "out2"), str(tmp_path / "ck2")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    t1 = int(a1.timestamp() * 1000)
    t2 = int(a2.timestamp() * 1000)
    assert got == [("a", t1, 2), ("a", t2, 1)]
    # and the batch twin agrees on this fixture too
    want = sorted(
        map(tuple, stateful.abandoned_conversations_batch(env).collect())
    )
    assert got == want
