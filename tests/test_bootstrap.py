"""Snapshot-then-tail bootstrap (streaming/pipeline.py:bootstrap_then_tail).

The reference connector reads a consistent snapshot (op='r') before
tailing the binlog (MySqlSource, UserBehaviorClickHouseSinkJob.java:
39-48). The rebuild's two-phase start must (a) produce exactly the
full-replay table even when the tail RE-DELIVERS snapshot-era envelopes
(connector overlap), (b) commit the whole snapshot image as ONE merge
(each bucket written once — the initial-load efficiency claim), and
(c) be resume-safe if the job dies between the phases.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
from flink_cdc_mysql_sink_to_mysql_spark.sources import mysql_changelog
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink

SF = "/root/testdata/sf0.001"


def rows_of(df):
    return sorted(
        map(
            tuple,
            df.select(
                "conv_id", "turn_idx", "role", "text", "tool",
                F.unix_millis("ts").alias("ts_ms"),
            ).collect(),
        )
    )


def _phases(spark):
    full = mysql_changelog(spark, SF)
    snapshot = full.where(F.col("op") == "r")
    # tail with planted connector overlap: every 5th snapshot envelope is
    # re-delivered by the "binlog" — the LWW ord guard must reconcile it
    overlap = snapshot.where(F.col("after.turn_idx") % 5 == 0)
    tail = full.where(F.col("op") != "r").unionByName(overlap)
    return full, snapshot, tail


def test_bootstrap_then_tail_equals_full_replay(spark, tmp_path):
    full, snapshot, tail = _phases(spark)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(tail, spool, n_chunks=3)
    sink = MergeParquetSink(str(tmp_path / "table"), n_buckets=8)

    info = pl.bootstrap_then_tail(
        spark, snapshot, spool, sink, str(tmp_path / "ckpt")
    )
    assert info["epoch"] == pl.BOOTSTRAP_EPOCH
    assert rows_of(sink.snapshot(spark)) == rows_of(cdc.apply_changelog(full))


def test_bootstrap_is_one_commit(spark, tmp_path):
    """The snapshot image lands in a single manifest version: every
    touched bucket is written exactly once (vs once per microbatch when
    the same image trickles through the stream)."""
    _, snapshot, _ = _phases(spark)
    sink = MergeParquetSink(str(tmp_path / "table"), n_buckets=8)
    info = sink.merge_changelog(snapshot, pl.BOOTSTRAP_EPOCH)
    manifest = json.load(open(f"{sink.root}/_manifest.json"))
    assert manifest["version"] == 1
    assert info["buckets_rewritten"] == len(manifest["buckets"])


def test_bootstrap_resume_is_noop(spark, tmp_path):
    """Crash between the phases ⇒ the rerun replays the bootstrap epoch
    as a skip, then the tail completes; the result is unchanged."""
    full, snapshot, tail = _phases(spark)
    spool = str(tmp_path / "spool")
    pl.spool_changelog(tail, spool, n_chunks=3)
    sink = MergeParquetSink(str(tmp_path / "table"), n_buckets=8)

    first = sink.merge_changelog(snapshot, pl.BOOTSTRAP_EPOCH)
    assert not first.get("skipped")
    version_after_bootstrap = json.load(open(f"{sink.root}/_manifest.json"))[
        "version"
    ]

    # "restart": the whole two-phase start runs again
    info = pl.bootstrap_then_tail(
        spark, snapshot, spool, sink, str(tmp_path / "ckpt")
    )
    assert info.get("skipped") is True  # epoch replay no-op
    manifest = json.load(open(f"{sink.root}/_manifest.json"))
    # the skip wrote nothing — versions advanced only for tail batches
    assert version_after_bootstrap == 1
    assert rows_of(sink.snapshot(spark)) == rows_of(cdc.apply_changelog(full))
    assert pl.BOOTSTRAP_EPOCH in manifest["epochs"]


def test_reserved_epochs_survive_the_stream_epoch_window(spark, tmp_path):
    """The manifest keeps only the newest 1000 stream epochs (≥ 0), but
    never evicts a reserved negative id: after 1000+ stream epochs a
    resumed bootstrap must still epoch-skip instead of re-running its
    whole-table MERGE, and replaying an evicted stream epoch converges
    to the same snapshot (LWW idempotence)."""
    full, snapshot, tail = _phases(spark)
    sink = MergeParquetSink(str(tmp_path / "table"), n_buckets=8)
    sink.merge_changelog(snapshot, pl.BOOTSTRAP_EPOCH)
    sink.merge_changelog(tail, 0)

    # a long-running stream: epochs 0..999 already committed
    mpath = f"{sink.root}/_manifest.json"
    manifest = json.load(open(mpath))
    manifest["epochs"] = [pl.BOOTSTRAP_EPOCH, *range(1000)]
    json.dump(manifest, open(mpath, "w"))

    assert not sink.merge_changelog(tail, 1000).get("skipped")
    epochs = json.load(open(mpath))["epochs"]
    assert pl.BOOTSTRAP_EPOCH in epochs and 0 not in epochs
    assert sorted(e for e in epochs if e >= 0) == list(range(1, 1001))

    expected = rows_of(cdc.apply_changelog(full))
    assert sink.merge_changelog(snapshot, pl.BOOTSTRAP_EPOCH).get("skipped")
    assert not sink.merge_changelog(tail, 0).get("skipped")  # evicted
    assert rows_of(sink.snapshot(spark)) == expected
