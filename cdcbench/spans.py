"""Outside-in measurement: epoch listener, spans, Spark job counts, RSS.

Everything here observes the engine from the benchmark's side of its
public API: a ``StreamingQueryListener`` for per-epoch durations,
benchmark-side sink subclasses that wrap the commit calls in spans and
tag their Spark jobs, the committed version directory's parquet footers
for rows / bytes / files written, and ``/proc`` for peak RSS.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from flink_cdc_mysql_sink_to_mysql_spark.streaming.ivm import GroupedReplaceParquetSink
from flink_cdc_mysql_sink_to_mysql_spark.streaming.sink import MergeParquetSink

PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


class EpochListener(StreamingQueryListener):
    """Collects every progress event (one per epoch) and run ids."""

    def __init__(self):
        self.epochs: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.epochs.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": int(p.batchId),
                    "rows": int(p.numInputRows),
                    "ms": {k: int(v) for k, v in dict(p.durationMs).items()},
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously; block until the n-th
        query's termination (posted after its last progress) is seen."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while self.terminated < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"listener saw {self.terminated}/{n} terminations")
                self._cv.wait(left)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    epoch: int | None
    attrs: dict

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store plus Spark job / task counting by job tag.

    Job tags are additive thread-local properties, so tagging a sink
    call from inside ``foreachBatch`` leaves the stream's own job group
    untouched; ``statusTracker`` then resolves tag → jobs → stages."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._seq = 0

    def group_jobs(self, group: str) -> int:
        """Spark jobs run under a job group (a streaming query's run id)."""
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def _tag_counts(self, tag: str) -> tuple[int, int]:
        st = self.spark.sparkContext._jsc.sc().statusTracker()
        jobs = list(st.getJobIdsForTag(tag))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if not info.isDefined():
                continue
            for s in info.get().stageIds():
                stage = st.getStageInfo(s)
                if stage.isDefined():
                    tasks += stage.get().numTasks()
        return len(jobs), tasks

    @contextmanager
    def tagged(self, name: str, epoch: int):
        """Span + Spark job tag around one call into the engine, made
        inside an epoch's ``foreachBatch``. The bookkeeping around the
        call is its own ``trace.self`` span, so the tracing overhead
        inside an epoch is measured, not guessed."""
        sc = self.spark.sparkContext
        t_self = time.perf_counter()
        self._seq += 1
        tag = f"cdcbench-{name}-{epoch}-{self._seq}"
        sc.addJobTag(tag)
        rec = Span(name, time.perf_counter(), 0.0, "pipeline.epoch", epoch, {})
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            sc.removeJobTag(tag)
            rec.attrs["spark_jobs"], rec.attrs["spark_tasks"] = self._tag_counts(tag)
            self.spans.append(rec)
            overhead = (rec.start - t_self) + (time.perf_counter() - rec.end)
            self.spans.append(Span("trace.self", t_self, t_self + overhead, name, epoch, {}))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "epoch": s.epoch, **s.attrs},
                        default=str,
                    )
                    + "\n"
                )


def _manifest(root: str) -> dict:
    try:
        with open(os.path.join(root, "_manifest.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"buckets": {}}


def written_files(root: str, before: dict, after: dict) -> dict:
    """Rows / bytes / files the commit wrote: the bucket directories
    whose manifest entry changed, read from their parquet footers."""
    rows = size = files = 0
    changed = [
        rel for b, rel in after.get("buckets", {}).items()
        if before.get("buckets", {}).get(b) != rel
    ]
    for rel in changed:
        d = os.path.join(root, rel)
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                path = os.path.join(d, name)
                size += os.path.getsize(path)
                rows += pq.read_metadata(path).num_rows
                files += 1
    return {
        "buckets_rewritten": len(changed),
        "rows_written": rows,
        "bytes_written": size,
        "files_written": files,
    }


def _traced_commit(sink, tracer: Tracer, name: str, epoch_id: int, call):
    before = _manifest(sink.root)
    with tracer.tagged(name, epoch_id) as rec:
        result = call()
    t = time.perf_counter()
    rec.attrs.update(written_files(sink.root, before, _manifest(sink.root)))
    rec.attrs["skipped"] = bool(result.get("skipped"))
    tracer.spans.append(Span("trace.self", t, time.perf_counter(), name, epoch_id, {}))
    return result


@dataclass
class TracedMergeSink(MergeParquetSink):
    """MERGE sink whose commits are timed, job-counted and footer-read."""

    tracer: Tracer | None = None

    def merge_changelog(self, batch, epoch_id: int) -> dict:
        parent = super().merge_changelog
        return _traced_commit(self, self.tracer, "sink.merge", epoch_id,
                              lambda: parent(batch, epoch_id))


@dataclass
class TracedViewSink(GroupedReplaceParquetSink):
    """Grouped-replace view sink whose commits are traced the same way."""

    tracer: Tracer | None = None

    def replace_groups(self, keys, rows, epoch_id: int) -> dict:
        parent = super().replace_groups
        return _traced_commit(self, self.tracer, "ivm.replace", epoch_id,
                              lambda: parent(keys, rows, epoch_id))


class RssSampler:
    """Peak resident memory of this process tree (driver JVM and Python
    workers included), sampled from /proc every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        """Sum of proportional set sizes (Pss) over the tree: a page
        shared by several processes counts once in total, so a child
        that was just forked from the JVM does not double its heap."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
            todo.extend(children.get(pid, []))
        return total

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb, self._tree_rss_kb(os.getpid())) / 1024.0
