"""End-to-end curation pipeline job (jobs/curation_job.py): quality →
dedup-clusters → sample → pack (+ SFT from the CDC-materialized state)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))

from curation_job import run  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_curation_job_stage_counts_monotone(spark, tmp_path):
    stats = run(spark, SF, str(tmp_path))
    assert (
        stats["n_docs"]
        >= stats["n_quality"]
        >= stats["n_after_repetition"]
        >= stats["n_decontaminated"]
        >= stats["n_canonical"]
        >= stats["n_sampled"]
        > 0
    )
    assert stats["total_tokens"] > 0 and stats["n_packs"] > 0
    assert stats["n_convs_kept"] > 0
    assert stats["n_sft_examples"] > 0
    # artifacts written
    for sub in ("dup_clusters", "packed", "sft"):
        out = spark.read.parquet(str(tmp_path / sub))
        assert out.count() > 0
    # exactly one canonical per cluster in the persisted artifact
    cl = spark.read.parquet(str(tmp_path / "dup_clusters"))
    from pyspark.sql import functions as F

    per = cl.groupBy("cluster_id").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n")
    )
    assert per.where("n != 1").count() == 0


def test_packed_output_is_shuffled_deterministically(spark, tmp_path):
    from curation_job import run

    run(spark, SF, str(tmp_path))
    packed = spark.read.parquet(str(tmp_path / "packed"))
    assert packed.count() > 0
    # every row carries its train shard + order key, and the shard is
    # consistent with the seeded hash (replay-stable permutation)
    from pyspark.sql import functions as F
    from flink_cdc_mysql_sink_to_mysql_spark.operators import examples

    okey = examples.seeded_hash(
        F.concat_ws("|", "lang", "shard", "pack_id"), examples.SHUFFLE_SEED
    )
    bad = packed.where(
        (F.col("order_key") != okey)
        | (F.col("train_shard") != F.pmod(okey, F.lit(16)).cast("int"))
    )
    assert bad.count() == 0


def test_driver_heap_failfast_message(spark, tmp_path, monkeypatch):
    """Undersized driver heap + large input → one clear SystemExit
    naming --driver-memory BEFORE the funnel starts (review finding:
    the sf10 run otherwise OOMs 2 minutes in)."""
    import pytest

    import curation_job as cj

    # pretend the input is large and the heap small
    monkeypatch.setattr(cj, "_LARGE_INPUT_BYTES", 1)
    monkeypatch.setattr(cj, "_MIN_DRIVER_HEAP_BYTES", 1 << 60)
    with pytest.raises(SystemExit, match="--driver-memory 8g"):
        cj._check_driver_heap(spark, "/root/testdata/sf0.001")
    # adequately sized heap: no-op
    monkeypatch.setattr(cj, "_MIN_DRIVER_HEAP_BYTES", 1)
    cj._check_driver_heap(spark, "/root/testdata/sf0.001")


def test_shared_heap_failfast_helper(spark):
    """plans/heap.py check_driver_heap — the single-sourced fail-fast
    the --check paths of dedup_index_job / ivm_view_job now share
    (round-4 review: apply the curation_job pattern to every
    memory-sensitive entrypoint): undersized heap + large input exits
    with the job name and the exact --driver-memory remedy; an
    adequately sized heap or small input is a no-op; an unreadable
    input defers to its own later error."""
    import pytest

    from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

    events = "/root/testdata/sf0.001/events.parquet"
    with pytest.raises(SystemExit, match=r"ivm_view_job.*--driver-memory 8g"):
        heap.check_driver_heap(
            spark,
            events,
            job="ivm_view_job",
            needs="the --check recompute",
            min_heap_bytes=1 << 60,
            large_input_bytes=1,
        )
    # big heap → no-op; small input → no-op; missing input → no-op
    heap.check_driver_heap(
        spark, events, job="j", needs="x", min_heap_bytes=1,
        large_input_bytes=1,
    )
    heap.check_driver_heap(
        spark, events, job="j", needs="x", min_heap_bytes=1 << 60,
        large_input_bytes=1 << 60,
    )
    heap.check_driver_heap(
        spark, "/nonexistent/input.parquet", job="j", needs="x",
        min_heap_bytes=1 << 60, large_input_bytes=1,
    )


@pytest.mark.parametrize("job_name", ["changelog_apply_job", "dynamic_cohort_job"])
def test_stream_job_heap_failfast(spark, monkeypatch, job_name):
    """The streaming jobs refuse an undersized driver (one SystemExit
    naming the job and --driver-memory) before the spool sort, the
    --bootstrap one-shot MERGE or the stream starts; an adequate heap
    is a no-op."""
    import functools
    import importlib

    from flink_cdc_mysql_sink_to_mysql_spark.plans import heap

    job = importlib.import_module(job_name)
    check = heap.check_driver_heap
    monkeypatch.setattr(heap, "check_driver_heap", functools.partial(
        check, min_heap_bytes=1 << 60, large_input_bytes=1))
    with pytest.raises(SystemExit, match=rf"{job_name}.*--driver-memory 8g"):
        job._check_driver_heap(spark, SF)
    monkeypatch.setattr(heap, "check_driver_heap", functools.partial(
        check, min_heap_bytes=1, large_input_bytes=1))
    job._check_driver_heap(spark, SF)
