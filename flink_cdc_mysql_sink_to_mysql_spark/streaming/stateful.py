"""Custom keyed stateful operator (applyInPandasWithState).

`conversation_progress` is the CEP-style capability SURVEY §2.8 maps to
GroupState per conv_id: for every turn, emit the running turn count and
a turn-gap session id — the stateful-streaming twin of the batch
session assignment (operators/windows.py session oracle), so the two
are equivalence-tested on ordered replays.

State per conv_id = (turns_so_far, last_ts_ms, session_id): O(1) per
key regardless of conversation length — hot conversations cost no extra
state (the skew concern from SURVEY §7 does not apply to this
operator; it applies to the *shuffle* into the keyed state, which AQE
and salted repartition handle upstream).

Ordering contract: correctness vs the batch oracle requires per-key
arrival in (ts, turn_idx) order across microbatches (the spool replays
the changelog in seq order — the reference's binlog-order delivery,
`UserBehaviorClickHouseSinkJob.java:63-95` parallelism-1 analog).
Within a batch, rows are sorted before folding.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.windows import session_counts

PROGRESS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("turns_so_far", IntegerType()),
        StructField("session_id", IntegerType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", IntegerType()),
        StructField("last_ts", LongType()),
        StructField("sid", IntegerType()),
    ]
)

GAP_MS = 30 * 60 * 1000


def tws_available() -> bool:
    """True iff the transformWithStateInPandas runtime deps exist."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _progress_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    n, last_ts, sid = state.get if state.exists else (0, None, 0)
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts_ms", "turn_idx"]
    )
    out_n, out_sid = [], []
    for ts in rows["ts_ms"]:
        if last_ts is not None and ts - last_ts > GAP_MS:
            sid += 1
        n += 1
        last_ts = int(ts)
        out_n.append(n)
        out_sid.append(sid)
    state.update((n, last_ts, sid))
    yield pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": rows["turn_idx"].astype("int32"),
            "ts_ms": rows["ts_ms"].astype("int64"),
            "turns_so_far": pd.Series(out_n, index=rows.index, dtype="int32"),
            "session_id": pd.Series(out_sid, index=rows.index, dtype="int32"),
        }
    )


def conversation_progress_stream(
    spark,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Run the stateful progress operator over the envelope spool."""
    from .pipeline import envelope_stream, run_available_now

    env = envelope_stream(spark, spool_dir)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").cast("int").alias("turn_idx"),
        F.unix_millis(F.col("after.ts")).alias("ts_ms"),
    )
    prog = turns.groupBy("conv_id").applyInPandasWithState(
        _progress_fn,
        outputStructType=PROGRESS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(
        prog.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
    return out_dir


def conversation_progress_stream_tws(
    spark,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Same operator on the Spark 4 `transformWithStateInPandas` API
    (StatefulProcessor + typed ValueState) — the successor to
    applyInPandasWithState with composable state variables and timers.
    Kept alongside the GroupState form so both stateful APIs are
    exercised; the equivalence test runs wherever the runtime supports
    it (it needs the RocksDB state store provider AND the
    `google.protobuf` package for the state-server protocol — the
    latter is absent in this sandbox, so the test auto-skips; see
    :func:`tws_available`).
    """
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "not installed in this environment"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from .pipeline import envelope_stream, run_available_now

    class ProgressProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("progress", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (conv_id,) = key
            if self._state.exists():
                n, last_ts, sid = self._state.get()
            else:
                n, last_ts, sid = 0, None, 0
            pdf = pd.concat(list(rows), ignore_index=True).sort_values(
                ["ts_ms", "turn_idx"]
            )
            out_n, out_sid = [], []
            for ts in pdf["ts_ms"]:
                if last_ts is not None and ts - last_ts > GAP_MS:
                    sid += 1
                n += 1
                last_ts = int(ts)
                out_n.append(n)
                out_sid.append(sid)
            self._state.update((n, last_ts, sid))
            yield pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "turn_idx": pdf["turn_idx"].astype("int32"),
                    "ts_ms": pdf["ts_ms"].astype("int64"),
                    "turns_so_far": pd.Series(
                        out_n, index=pdf.index, dtype="int32"
                    ),
                    "session_id": pd.Series(
                        out_sid, index=pdf.index, dtype="int32"
                    ),
                }
            )

        def close(self) -> None:
            pass

    env = envelope_stream(spark, spool_dir)
    turns = env.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").cast("int").alias("turn_idx"),
        F.unix_millis(F.col("after.ts")).alias("ts_ms"),
    )
    prog = turns.groupBy("conv_id").transformWithStateInPandas(
        statefulProcessor=ProgressProcessor(),
        outputStructType=PROGRESS_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
    run_available_now(
        prog.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
    return out_dir


def conversation_progress_batch(turns: DataFrame) -> DataFrame:
    """Batch oracle: identical semantics via window functions."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("ts_ms", "turn_idx")
    gap = F.when(
        F.lag("ts_ms").over(w).isNotNull()
        & (F.col("ts_ms") - F.lag("ts_ms").over(w) > GAP_MS),
        1,
    ).otherwise(0)
    return turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts_ms",
        F.row_number().over(w).cast("int").alias("turns_so_far"),
        F.sum(gap).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int").alias("session_id"),
    )


# ---------------------------------------------------------------------------
# Tool-loop detector (streaming CEP alert + batch twin)
# ---------------------------------------------------------------------------
# The streaming form of operators/trace.py's stuck-agent signal: keyed
# state per conv_id tracks only (current_tool, current_run_len) — O(1)
# state per key — and emits ONE alert row the moment a same-tool run
# reaches LOOP_N consecutive turns (re-armed when the run breaks). The
# batch twin computes the identical alert set with the running-sum
# gaps-and-islands windows, so ordered replays are equivalence-testable.

LOOP_N = 3

ALERT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("tool", StringType()),
        StructField("run_len", IntegerType()),
    ]
)

LOOP_STATE_SCHEMA = StructType(
    [
        StructField("cur_tool", StringType()),
        StructField("run_len", IntegerType()),
    ]
)


def _loop_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    cur_tool, run_len = state.get if state.exists else (None, 0)
    # Fold in seq (changelog delivery) order — the spool replays chunks
    # in seq order, so cross-microbatch state evolves exactly like the
    # batch twin's seq-ordered window (ordering contract above).
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("seq")
    alerts: list[tuple[int, str]] = []
    for turn_idx, role, tool in zip(
        rows["turn_idx"], rows["role"], rows["tool"]
    ):
        if role != "tool" or pd.isna(tool):
            cur_tool, run_len = None, 0
            continue
        run_len = run_len + 1 if tool == cur_tool else 1
        cur_tool = tool
        if run_len == LOOP_N:
            alerts.append((int(turn_idx), tool))
    state.update((cur_tool, int(run_len)))
    yield pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": pd.Series(
                [a[0] for a in alerts], dtype="int32"
            ),
            "tool": pd.Series([a[1] for a in alerts], dtype="object"),
            "run_len": pd.Series([LOOP_N] * len(alerts), dtype="int32"),
        }
    )


def tool_loop_stream(
    spark,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming stuck-agent alerts over the envelope spool.

    Only insert-like envelopes (op 'c'/'r') feed the run-length state:
    an op='u' edit re-delivers a turn the detector already counted, and
    folding it again would fire a stuck-loop alert after LOOP_N−1 real
    turns (one edited turn counted twice). Filtering ops keeps the state
    O(1) per conv — deduping on (conv_id, turn_idx) instead would need
    a per-key seen-set."""
    from .pipeline import envelope_stream, run_available_now

    env = envelope_stream(spark, spool_dir)
    turns = env.where(
        F.col("after").isNotNull() & F.col("op").isin("c", "r")
    ).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").cast("int").alias("turn_idx"),
        F.col("after.role").alias("role"),
        F.col("after.tool").alias("tool"),
        F.col("seq"),
    )
    alerts = turns.groupBy("conv_id").applyInPandasWithState(
        _loop_fn,
        outputStructType=ALERT_SCHEMA,
        stateStructType=LOOP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(
        alerts.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
    return out_dir


def tool_loop_alerts_batch(turns: DataFrame) -> DataFrame:
    """Batch twin: identical alert set via running-sum run detection
    (the operators/trace.py formulation — one conv_id exchange), folded
    in the same seq order the stream delivers. Mirrors the stream's
    insert-only gate: if the input carries an ``op`` column, op='u'
    re-deliveries are excluded before run detection."""
    from pyspark.sql import Window

    if "op" in turns.columns:
        turns = turns.where(F.col("op").isin("c", "r")).drop("op")
    w = Window.partitionBy("conv_id").orderBy("seq")
    run_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_tool = (F.col("role") == "tool") & F.col("tool").isNotNull()
    run_start = is_tool & (
        F.lag("role").over(w).isNull()
        | (F.lag("role").over(w) != "tool")
        | ~F.col("tool").eqNullSafe(F.lag("tool").over(w))
    )
    with_run = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        "tool",
        "seq",
        is_tool.alias("is_tool"),
        F.sum(run_start.cast("int")).over(run_frame).alias("run_id"),
    )
    w_run = Window.partitionBy("conv_id", "is_tool", "run_id").orderBy(
        "seq"
    )
    return (
        with_run.withColumn("rn", F.row_number().over(w_run))
        .where(F.col("is_tool") & (F.col("rn") == LOOP_N))
        .select(
            "conv_id",
            "turn_idx",
            "tool",
            F.lit(LOOP_N).cast("int").alias("run_len"),
        )
    )


# ---------------------------------------------------------------------------
# Abandoned-conversation detector (event-time TIMERS — Flink CEP within())
# ---------------------------------------------------------------------------

ABANDON_GAP_MS = GAP_MS  # same 30-min lull as the session operators

ABANDONED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("last_ts_ms", LongType()),
        StructField("n_turns", IntegerType()),
    ]
)

_ABANDON_STATE = StructType(
    [StructField("n", IntegerType()), StructField("last_ts", LongType())]
)


def _abandoned_fn(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key

    def rec(n, last):
        return pd.DataFrame(
            {
                "conv_id": [conv_id],
                "last_ts_ms": [int(last)],
                "n_turns": [int(n)],
            }
        )

    if state.hasTimedOut:
        # the TIMER path: the watermark passed last_ts + gap with no
        # new turn — the burst is abandoned; emit once and clear
        n, last_ts = state.get
        state.remove()
        yield rec(n, last_ts)
        return

    n, last_ts = state.get if state.exists else (0, None)
    rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_ms")
    for ts in rows["ts_ms"]:
        ts = int(ts)
        if last_ts is not None and ts - last_ts > ABANDON_GAP_MS:
            # lull closed INSIDE the batch (the timer could never fire
            # mid-batch): emit the finished burst now. STRICT >: an
            # event at exactly last+gap EXTENDS the session — measured
            # Spark session_window semantics, which the batch twin
            # inherits (tests pin the boundary)
            yield rec(n, last_ts)
            n = 0
        n += 1
        last_ts = ts
    state.update((n, last_ts))
    # fire when the watermark passes the burst's session end; the
    # timestamp must be beyond the current watermark, so clamp — a
    # clamped (already-passed) timer fires at the next batch, which is
    # exactly when the emission is due
    state.setTimeoutTimestamp(
        max(last_ts + ABANDON_GAP_MS, state.getCurrentWatermarkMs() + 1)
    )


def abandoned_conversations_stream(
    spark,
    spool_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Timer-based CEP: emit (conv_id, last_ts_ms, n_turns) exactly
    once per activity burst that ends in a ≥30-min lull — the
    event-time-timeout mechanism (Flink CEP ``within()`` / timer
    service analog) the NoTimeout operators above cannot express:
    the detection FIRES ON ABSENCE of an event, driven by the
    watermark, not by a next arrival.

    Watermark delay 0 (the spool replays in order): the final no-data
    micro-batch advances the watermark to the corpus max and flushes
    every burst whose session end the watermark passed. Batch twin:
    :func:`abandoned_conversations_batch` (session_window + the same
    final-watermark cutoff) — set-equality pinned in tests.
    """
    from .pipeline import envelope_stream, run_available_now

    env = envelope_stream(spark, spool_dir)
    turns = (
        env.where(F.col("after").isNotNull())
        .select(
            F.col("after.conv_id").alias("conv_id"),
            F.col("after.ts").alias("ts"),
            F.unix_millis(F.col("after.ts")).alias("ts_ms"),
        )
        .withWatermark("ts", "0 seconds")
    )
    out = turns.groupBy("conv_id").applyInPandasWithState(
        _abandoned_fn,
        outputStructType=ABANDONED_SCHEMA,
        stateStructType=_ABANDON_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    run_available_now(
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )
    return out_dir


def abandoned_conversations_batch(envelopes: DataFrame) -> DataFrame:
    """Batch twin: gap-sessionize the turns; every session whose end
    (last_ts + gap) the final watermark (corpus max ts, delay 0)
    passed is one abandoned burst."""
    turns = envelopes.where(F.col("after").isNotNull()).select(
        F.col("after.conv_id").alias("conv_id"),
        F.col("after.turn_idx").alias("turn_idx"),
        F.col("after.ts").alias("ts"),
    )
    # a session ends last_ts + gap (whole ms), so this is max(ts_ms)
    sessions = session_counts(turns, f"{ABANDON_GAP_MS // 1000} seconds").select(
        "conv_id",
        (F.unix_millis("sess_end") - F.lit(ABANDON_GAP_MS)).alias("last_ts_ms"),
        F.col("n_turns").cast("int").alias("n_turns"),
    )
    final_wm = turns.agg(F.max(F.unix_millis("ts")).alias("_wm"))
    return (
        sessions.join(F.broadcast(final_wm))
        .where(F.col("last_ts_ms") + F.lit(ABANDON_GAP_MS) <= F.col("_wm"))
        .select("conv_id", "last_ts_ms", "n_turns")
    )
