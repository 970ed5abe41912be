"""Correctness gate (untimed): engine outputs against the generator's
ground truth.

Every check returns a list of human-readable mismatch strings; an empty
list means the output is correct. ``self_test`` corrupts known-good
outputs and requires each check to fire.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen

TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
VIEW_COLS = ["conv_id", "win_start", "win_end", "n_turns"]


def diff(actual: DataFrame, expected: DataFrame, label: str) -> list[str]:
    """Multiset difference in both directions (``exceptAll``)."""
    actual, expected = actual.persist(), expected.persist()
    extra = actual.exceptAll(expected).persist()
    missing = expected.exceptAll(actual).persist()
    try:
        n_extra, n_missing = extra.count(), missing.count()
        if not (n_extra or n_missing):
            return []
        return [
            f"{label}: {n_extra} unexpected and {n_missing} missing rows; "
            f"e.g. unexpected={[r.asDict() for r in extra.limit(2).collect()]} "
            f"missing={[r.asDict() for r in missing.limit(2).collect()]}"
        ]
    finally:
        for df in (extra, missing, actual, expected):
            df.unpersist()


def _truth(spark, table, path: str) -> DataFrame:
    pq.write_table(table, path)
    return spark.read.parquet(path)


def dlq_counts(actual: dict[str, int], expected: dict[str, int]) -> list[str]:
    bad = {
        r: (actual.get(r, 0), n)
        for r, n in expected.items()
        if actual.get(r, 0) != n
    }
    extra = set(actual) - set(expected)
    out = []
    if bad:
        out.append(f"dlq: per-reason (actual, injected) differ: {bad}")
    if extra:
        out.append(f"dlq: unexpected reasons {sorted(extra)}")
    return out


def check_stream(run, spark) -> list[str]:
    """Snapshot, view and DLQ of a streaming run against the ground
    truth for the chunks it committed."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl

    k = run.staged
    out = diff(
        run.sink.snapshot(spark).select(*TABLE_COLS),
        _truth(spark, run.log.expected_table(k), os.path.join(run.work, "expected_table.parquet")),
        "snapshot",
    )
    if run.view is not None:
        out += diff(
            run.view.read_view(spark).select(*VIEW_COLS),
            _truth(spark, run.log.expected_windows(k), os.path.join(run.work, "expected_view.parquet")),
            "view",
        )
    if run.wl.entry == "json":
        got = {
            r["reason"]: int(r["count"])
            for r in pl.read_dlq(spark, run.dlq).groupBy("reason").count().collect()
        }
        out += dlq_counts(got, run.log.expected_dlq(k))
    return out


def _corrupt_one_row(sink) -> None:
    """Edit one live stored row's text in place, bypassing the engine."""
    with open(os.path.join(sink.root, "_manifest.json")) as f:
        rel = sorted(json.load(f)["buckets"].values())[0]
    d = os.path.join(sink.root, rel)
    path = os.path.join(d, sorted(n for n in os.listdir(d) if n.endswith(".parquet"))[0])
    t = pq.read_table(path)
    text = t.column("text").to_pylist()
    live = t.column("op").to_pylist().index("c")
    text[live] += " corrupt"
    pq.write_table(
        t.set_column(t.schema.get_field_index("text"), "text", pa.array(text)),
        path,
        use_deprecated_int96_timestamps=True,  # Spark's own timestamp encoding
    )
    # drop the Hadoop checksum sidecar: the row is silently wrong, which
    # only the content check can catch
    crc = os.path.join(d, "." + os.path.basename(path) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)


def self_test(spark, work: str) -> list[str]:
    """Each check must pass on the truth and fire on a corrupted copy:
    a real sink is fed three generated chunks, then one stored row is
    edited on disk. Returns the list of checks that did NOT behave."""
    from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
    from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink

    os.makedirs(work, exist_ok=True)
    log = gen.Changelog(gen.Spec(chunk_envs=300, n_convs=40, hot_share=0.2), 7, 900)
    sink = MergeParquetSink(os.path.join(work, "table"), n_buckets=8)
    for epoch in range(3):
        path = os.path.join(work, f"chunk-{epoch}.parquet")
        gen.write_chunk(log.chunk(300)[0], path)
        sink.merge_changelog(spark.read.schema(pl.ENVELOPE_DDL).parquet(path), epoch)
    run = SimpleNamespace(
        staged=3, sink=sink, log=log, work=work, view=None, wl=SimpleNamespace(entry=None)
    )
    cases = {"table:clean": (check_stream(run, spark), False)}
    _corrupt_one_row(sink)
    cases["table:row_edited_on_disk"] = (check_stream(run, spark), True)

    view = _truth(spark, log.expected_windows(3), os.path.join(work, "v.parquet")).persist()
    cases["view:clean"] = (diff(view, view, "v"), False)
    cases["view:count_off"] = (diff(view.withColumn("n_turns", F.col("n_turns") + 1), view, "v"), True)
    cases["view:row_dropped"] = (diff(view.limit(view.count() - 1), view, "v"), True)
    cases["dlq:clean"] = (dlq_counts({"bad_op": 3}, {"bad_op": 3}), False)
    cases["dlq:count_off"] = (dlq_counts({"bad_op": 2}, {"bad_op": 3}), True)
    cases["dlq:unknown_reason"] = (dlq_counts({"bad_op": 3, "other": 1}, {"bad_op": 3}), True)
    view.unpersist()
    for name, (found, should_fire) in cases.items():
        print(f"# self-test {name}: {'fired' if found else 'passed'}"
              f"{'' if bool(found) == should_fire else '  <-- WRONG'}")
    return [name for name, (found, should_fire) in cases.items() if bool(found) != should_fire]
