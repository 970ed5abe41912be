"""The two streaming workloads: bulk_ivm and wire_dlq.

Each run generates its changelog from the seed, starts the session,
does the program-side set-up (warm-up epochs), then
stages the timed chunk files and drains them with one call to the
engine's AvailableNow entry point at ``max_files_per_trigger=1``: one
chunk per epoch, and the next epoch starts only after the previous
commit (a closed loop).
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

from flink_cdc_mysql_sink_to_mysql_spark.operators import cdc
from flink_cdc_mysql_sink_to_mysql_spark.sources.json_envelopes import (
    parse_envelope_lines,
    split_quarantine,
)
from flink_cdc_mysql_sink_to_mysql_spark.streaming import ivm
from flink_cdc_mysql_sink_to_mysql_spark.streaming import pipeline as pl
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import (
    MergeParquetSink,
    lww_delta,
)

import checks
import gen
from spans import PHASES, EpochListener, TracedMergeSink, TracedViewSink, Tracer


@dataclass(frozen=True)
class StreamWorkload:
    """A run commits ``round(--seconds * chunks_per_s)`` timed chunks, so
    the work per run is fixed by the seed and the run length alone. The
    rates give 4 / 5 epochs at ``--seconds 15``; the timed section then
    takes about 13-20 s on a 4-core host."""

    name: str
    spec: gen.Spec
    n_buckets: int
    warmup_chunks: int
    chunks_per_s: float
    entry: str  # "ivm" | "json"

    def timed_chunks(self, seconds: float) -> int:
        return max(2, round(seconds * self.chunks_per_s))


WORKLOADS = {
    "bulk_ivm": StreamWorkload(
        "bulk_ivm",
        gen.Spec(chunk_envs=40_000, n_convs=6_000, hot_share=0.05),
        n_buckets=32, warmup_chunks=2, chunks_per_s=0.25, entry="ivm",
    ),
    "wire_dlq": StreamWorkload(
        "wire_dlq",
        gen.Spec(
            chunk_envs=50_000, n_convs=6_000, hot_share=0.2,
            bad_share=0.01, json=True,
        ),
        n_buckets=32, warmup_chunks=2, chunks_per_s=0.35, entry="json",
    ),
}

def p50(xs):
    return statistics.median(xs) if xs else 0.0


class StreamRun:
    def __init__(self, wl: StreamWorkload, seed: int, seconds: float, trace: bool, work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.spool = os.path.join(work, "spool")
        self.staging = os.path.join(work, "staging")
        self.ckpt = os.path.join(work, "ckpt")
        self.dlq = os.path.join(work, "dlq")
        self.errors: list[str] = []
        self.spark = None
        self.staged = 0
        self.chunk_envs: list[int] = []
        self.chunk_lines: list[int] = []

    # -- inputs -----------------------------------------------------------
    def generate(self) -> None:
        wl = self.wl
        os.makedirs(self.staging)
        os.makedirs(self.spool)
        spec = wl.spec
        sizes = [spec.chunk_envs] * (wl.warmup_chunks + wl.timed_chunks(self.seconds))
        self.log = gen.Changelog(spec, self.seed, sum(sizes))
        ext = "json" if spec.json else "parquet"
        self.chunks = []
        for i, n in enumerate(sizes):
            data, lg = self.log.chunk(n)
            path = os.path.join(self.staging, f"chunk-{i:05d}.{ext}")
            gen.write_chunk(data, path)
            self.chunks.append(path)
            self.chunk_envs.append(lg.envelopes)
            self.chunk_lines.append(len(data) if spec.json else lg.envelopes)

    def stage(self, n: int) -> int:
        """Move the next ``n`` chunk files into the spool, oldest first
        by modification time (the file source's arrival order)."""
        n = min(n, len(self.chunks) - self.staged)
        now = time.time()
        for i in range(self.staged, self.staged + n):
            dst = os.path.join(self.spool, os.path.basename(self.chunks[i]))
            os.replace(self.chunks[i], dst)
            os.utime(dst, (now + i * 1e-3, now + i * 1e-3))
        self.staged += n
        return n

    # -- engine -----------------------------------------------------------
    def open_sinks(self, tracer: Tracer) -> None:
        nb = self.wl.n_buckets
        root = os.path.join(self.work, "table")
        self.sink = (
            TracedMergeSink(root, n_buckets=nb, tracer=tracer)
            if self.trace
            else MergeParquetSink(root, n_buckets=nb)
        )
        self.view = None
        if self.wl.entry == "ivm":
            vroot = os.path.join(self.work, "view")
            self.view = (
                TracedViewSink(vroot, n_buckets=nb, tracer=tracer)
                if self.trace
                else ivm.GroupedReplaceParquetSink(vroot, n_buckets=nb)
            )

    def drain(self, spark) -> None:
        if self.wl.entry == "ivm":
            ivm.windowed_state_stream(
                spark, self.spool, self.sink, self.view, self.ckpt,
                max_files_per_trigger=1,
            )
        else:
            pl.materialize_stream_from_json(
                spark, self.spool, self.sink, self.ckpt, self.dlq,
                max_files_per_trigger=1,
                lineage_path=os.path.join(self.work, "lineage.jsonl"),
            )

    # -- the run ------------------------------------------------------------
    def run(self, spark_factory) -> dict:
        t_gen = time.perf_counter()
        self.generate()
        t_setup = time.perf_counter()
        gen_s = t_setup - t_gen
        spark = self.spark = spark_factory()
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark)
        listener = EpochListener()
        spark.streams.addListener(listener)
        self.open_sinks(tracer)
        self.stage(self.wl.warmup_chunks)
        self.drain(spark)
        setup_s = time.perf_counter() - t_setup
        warm_chunks = self.staged

        # the timed section: one AvailableNow drain of the remaining chunks
        self.stage(len(self.chunks) - self.staged)
        t0 = time.perf_counter()
        try:
            self.drain(spark)
        except Exception as exc:  # counted in ops_failed_ratio; still checked
            self.errors.append(f"timed drain: {type(exc).__name__}: {exc}")
        wall = time.perf_counter() - t0
        listener.wait_terminated(2)
        spark.streams.removeListener(listener)

        timed_runs = set(listener.run_ids[1:])
        ran = [e for e in listener.epochs if "addBatch" in e["ms"]]
        timed = [e for e in ran if e["run_id"] in timed_runs]
        all_epochs = len(ran)
        envs = sum(self.chunk_envs[warm_chunks : self.staged])

        t_check = time.perf_counter()
        try:
            mismatches = checks.check_stream(self, spark)
        except Exception as exc:  # a check that cannot read the output fails the run
            mismatches = [f"check raised {type(exc).__name__}: {exc}"]
        check_s = time.perf_counter() - t_check
        failed = all_epochs if mismatches or self.errors else 0
        trig = [e["ms"].get("triggerExecution", 0) / 1000.0 for e in timed]
        out = {
            "attempted": max(all_epochs, 1),
            "failed": failed,
            "errors": self.errors + mismatches,
            "e2e": {
                "setup_s": setup_s,
                "replay_env_per_s": envs / wall if wall > 0 else 0.0,
                "epoch_s_p50": p50(trig),
            },
            "info": {
                "epoch_s": trig,
                "envelopes_timed": envs,
                "timed_wall_s": wall,
                "chunks_committed": self.staged,
                "epoch_s_tail": tail(trig),
                "generate_s": gen_s,
                "check_s": check_s,
            },
        }
        if self.trace:
            out["layers"] = self.layer_metrics(
                spark, tracer, listener, timed, session_s, wall, warm_chunks
            )
            tracer.dump(os.path.join(self.work, "spans.jsonl"))
        return out

    def stop(self) -> None:
        """Stop the session (and with it the JVM); safe to call twice."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- per-layer metrics (traced run) -------------------------------------
    def layer_metrics(self, spark, tracer, listener, timed, session_s, wall, warm_chunks):
        wl = self.wl
        by_epoch: dict[int, dict[str, float]] = {}
        counts: dict[str, list[dict]] = {"sink.merge": [], "ivm.replace": []}
        timed_ids = {e["batch_id"] for e in timed}
        # batch ids continue from the checkpoint across the warm-up and
        # the timed drain, so they identify epochs uniquely
        for s in tracer.spans:
            if s.epoch not in timed_ids:
                continue
            d = by_epoch.setdefault(s.epoch, {})
            d[s.name] = d.get(s.name, 0.0) + s.dur
            if s.name in counts:
                counts[s.name].append(s.attrs)

        split = []
        for e in timed:
            ms = e["ms"]
            t = ms.get("triggerExecution", 0) / 1000.0
            a = ms.get("addBatch", 0) / 1000.0
            d = by_epoch.get(e["batch_id"], {})
            m, r, o = d.get("sink.merge", 0.0), d.get("ivm.replace", 0.0), d.get("trace.self", 0.0)
            split.append(
                {"epoch": e["batch_id"], "trigger_s": t, "add_batch_s": a,
                 "engine_overhead_s": t - a, "pipeline_self_s": a - m - r - o,
                 "sink_s": m, "view_s": r, "trace_s": o,
                 "unattributed_s": t - a - sum(ms.get(k, 0) for k in PHASES) / 1000.0}
            )
        self.epoch_split = split
        col = lambda k: [x[k] for x in split]  # noqa: E731

        jobs = 0
        for run_id in listener.run_ids[1:]:
            jobs += tracer.group_jobs(run_id)
        n_ep = max(len(timed), 1)
        envs = max(sum(self.chunk_envs[warm_chunks : self.staged]), 1)
        lines = sum(self.chunk_lines[warm_chunks : self.staged])
        lines_all = sum(self.chunk_lines[: self.staged])
        merges = [c for c in counts["sink.merge"] if not c.get("skipped")]
        replaces = [c for c in counts["ivm.replace"] if not c.get("skipped")]
        stats = self.sink.file_stats()
        mean = lambda xs, k: sum(x[k] for x in xs) / len(xs) if xs else 0.0  # noqa: E731

        probes = self.probes(spark, warm_chunks)
        dlq = {r: 0 for r in gen.REASONS}
        if wl.entry == "json":
            for row in pl.read_dlq(spark, self.dlq).groupBy("reason").count().collect():
                dlq[row["reason"]] = int(row["count"])
        is_ivm = wl.entry == "ivm"
        m = {
            "session.start_s": session_s,
            "pipeline.trigger_s_p50": p50(col("trigger_s")),
            "pipeline.add_batch_s_p50": p50(col("add_batch_s")),
            "pipeline.engine_overhead_s_p50": p50(col("engine_overhead_s")),
            "pipeline.batch_self_s_p50": p50(col("pipeline_self_s")),
            "pipeline.unattributed_s_p50": p50(col("unattributed_s")),
            "pipeline.between_epochs_s": wall - sum(col("trigger_s")),
            "pipeline.spark_jobs_per_epoch": jobs / n_ep,
            "pipeline.epochs": len(timed),
            "sink.merge_s_p50": p50(col("sink_s")),
            "sink.merge_s_sum": sum(col("sink_s")),
            "sink.spark_jobs_per_commit": mean(merges, "spark_jobs"),
            "sink.spark_tasks_per_commit": mean(merges, "spark_tasks"),
            "sink.touched_fraction": mean(merges, "buckets_rewritten") / wl.n_buckets,
            "sink.rows_rewritten_per_delta_row": sum(c["rows_written"] for c in merges) / envs,
            "sink.bytes_written_per_env": sum(c["bytes_written"] for c in merges) / envs,
            "sink.files_written": sum(c["files_written"] for c in merges),
            "sink.table_bytes": stats["referenced_bytes"],
            "sink.referenced_files": stats["referenced_files"],
            "ivm.replace_s_p50": p50(col("view_s")) if is_ivm else 0.0,
            "ivm.recompute_s_p50": p50(col("pipeline_self_s")) if is_ivm else 0.0,
            "ivm.spark_jobs_per_epoch": sum(c["spark_jobs"] for c in replaces) / n_ep if is_ivm else 0.0,
            "ivm.view_rows_written": sum(c["rows_written"] for c in replaces),
            "sources.parse_s": probes["parse"],
            "sources.lines_per_s": lines / probes["parse"] if probes["parse"] else 0.0,
            **{f"sources.dlq_rows.{r}": n for r, n in dlq.items()},
            "sources.quarantine_ratio": sum(dlq.values()) / lines_all if wl.entry == "json" else 0.0,
            "cdc.lww_delta_s": probes["lww"],
            "cdc.derive_s": probes["derive"],
            "trace.overhead_s_p50": p50(col("trace_s")),
        }
        return m

    def probes(self, spark, warm_chunks: int) -> dict:
        """Standalone busy time of the source parse, the event derivation
        and the LWW reduce over the timed chunk files, each forced with
        a ``noop`` write (no tracing inside the program)."""
        out = {"parse": 0.0, "derive": 0.0, "lww": 0.0}
        files = [
            os.path.join(self.spool, os.path.basename(p))
            for p in self.chunks[warm_chunks : self.staged]
        ]

        def force(df):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        for f in files:
            if self.wl.entry == "json":
                t = time.perf_counter()
                parsed = parse_envelope_lines(spark.read.text(f)).persist()
                good, bad = split_quarantine(parsed)
                force(good)
                force(bad)
                out["parse"] += time.perf_counter() - t
                env = good
            else:
                env = spark.read.schema(pl.ENVELOPE_DDL).parquet(f).persist()
                env.count()
                parsed = env
            out["derive"] += force(cdc.derive_turn_events(env))
            out["lww"] += force(lww_delta(env))
            parsed.unpersist()
        return out


def tail(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    k = n - 11  # index with exactly ten samples above it
    return {"pct": round(100.0 * (k + 1) / n, 1), "value_s": s[k], "n": n}
