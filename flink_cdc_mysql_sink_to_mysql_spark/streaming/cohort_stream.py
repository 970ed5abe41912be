"""Continuously-maintained cohorts (streaming form of reference job 3).

The reference evaluates cohort rules as one-shot pull queries against
the sink table (`UserGroupClickHouseJob.java:83-96`). Here one
Structured Streaming update-mode aggregation maintains the
rule-INDEPENDENT cube (`cohort.events_cube`: SUM/COUNT/MAX of the turn
metric per (conv_id, event_kind, day)) over the derived event stream;
foreachBatch writes each micro-batch's changed cells with the epoch id,
forming a cube changelog whose last-writer-wins materialization is the
current cube. Any rule set — exist or not-exist, any HAVING — is then
evaluated on the cube per micro-batch (:func:`run_dynamic_cohorts`),
exactly: the kind filter and the start-of-day cutoff select whole cube
cells, and the three dimensions re-aggregate algebraically.

Scale: streaming state = one row of 3 numbers per (conv_id, kind,
active day) — bounded by conversations × days, not turns; the changelog
materialization reuses the same LWW shape as the CDC apply. At 10^12
turns this is THE way to keep cohorts fresh — the reference's pull
query would rescan the sink table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cdc, cohort
from .pipeline import envelope_stream, run_available_now


def load_rules(path: str) -> dict[int, cohort.CohortRule]:
    """Rule file → ``{stable_id: CohortRule}``. Format: a JSON array of
    ``{"id": int?, "target": int, "is_exist": bool, "value_days": int,
    "sub_params": [[dimension, operator, value], ...]}`` — the
    UserGroupParam/SubParam wire shape (UserGroupClickHouseJob.java:
    65-78) as data instead of code, so operators ship rule changes
    without a deploy.

    ``id`` defaults to the position for back-compat, but give rules
    EXPLICIT ids in a file that will ever be edited: with positional
    ids, deleting rule 0 renumbers every survivor and the transition
    history reads as a mass exit/enter that never happened (review
    finding). Write the file with an atomic rename (tmp + mv) — it is
    re-read per micro-batch."""
    import json

    with open(path) as f:
        specs = json.load(f)
    out: dict[int, cohort.CohortRule] = {}
    for i, s in enumerate(specs):
        rid = int(s.get("id", i))
        if rid in out:
            raise ValueError(f"duplicate rule id {rid} in {path}")
        out[rid] = cohort.CohortRule(
            target=s["target"],
            is_exist=s["is_exist"],
            value_days=s["value_days"],
            sub_params=tuple(
                cohort.SubParam(*sp) for sp in s.get("sub_params", ())
            ),
        )
    return out


def cube_delta_dir(workdir: str) -> str:
    return os.path.join(workdir, "cube_delta")


def members_dir(workdir: str) -> str:
    return os.path.join(workdir, "members")


def current_cube(spark: SparkSession, delta_dir: str) -> DataFrame:
    """LWW-materialize the cube changelog: the latest emission per
    (conv_id, event_kind, day) cell — same max_by shape as the CDC
    apply, keyed on the cube cell."""
    delta = spark.read.parquet(delta_dir)
    return (
        delta.groupBy("conv_id", "event_kind", "day")
        .agg(
            F.max_by(
                F.struct("sum_metric", "cnt", "max_metric"), F.col("_epoch")
            ).alias("w")
        )
        .select("conv_id", "event_kind", "day", "w.*")
    )


def run_dynamic_cohorts(
    spark: SparkSession,
    spool_dir: str,
    rules_path: str,
    workdir: str,
    now: str,
    snapshot_every: int = 1,
) -> dict:
    """The broadcast-state pattern, Structured-Streaming-first: maintain
    the rule-independent cube (`cohort.events_cube` keys, update-mode)
    and, per micro-batch, RELOAD the rule file and emit an epoch-keyed
    membership snapshot evaluated on the cube so far. A rule change
    lands on the next micro-batch — exactly the visibility Flink's
    broadcast control stream gives — but the heavy state (the cube) is
    rule-independent, so changing rules costs nothing: no state
    restart, no re-aggregation, no checkpoint migration.

    Exactly-once: the cube delta AND the membership snapshot for epoch
    N are idempotent epoch-keyed directory overwrites (a replayed epoch
    rewrites identical content); the checkpoint owns progress.

    ``snapshot_every=N`` evaluates memberships only every Nth batch of
    this run (the final drained state is ALWAYS snapshotted after the
    stream ends): each evaluation re-reads the delta history, so
    per-batch snapshots on a long spool cost O(batches²) I/O — thin
    them out and run :func:`fold_cube_deltas` periodically to keep the
    delta read bounded.

    A torn/unparseable rule file (an operator saving non-atomically
    mid-batch) falls back to the last good rule set instead of killing
    the stream; if no rules ever loaded, the snapshot is empty.

    Returns {"epochs": [...], "last_members": int, "rule_load_errors": n}.
    """
    ckpt = os.path.join(workdir, "ck_dyn")
    delta_dir = cube_delta_dir(workdir)
    mdir = members_dir(workdir)
    lastgood = os.path.join(workdir, "rules_lastgood.json")
    seen: list[int] = []
    state = {"rules": {}, "loaded_once": False, "errors": 0, "batches": 0}

    def _persist_lastgood() -> None:
        # serialize the PARSED rule set, not a copy of the raw file: a
        # non-atomic writer can tear rules_path between our parse and a
        # copy (TOCTOU — review finding), which would persist a torn
        # file as "last good". Re-emitting state["rules"] in the wire
        # shape load_rules parses makes last-good by construction the
        # set that actually loaded.
        import json as _json

        specs = [
            {
                "id": rid,
                "target": r.target,
                "is_exist": r.is_exist,
                "value_days": r.value_days,
                "sub_params": [
                    [sp.dimension, sp.operator, sp.value]
                    for sp in r.sub_params
                ],
            }
            for rid, r in state["rules"].items()
        ]
        tmp = lastgood + ".tmp"
        try:
            with open(tmp, "w") as f:
                _json.dump(specs, f)
            os.replace(tmp, lastgood)
        except OSError:
            pass  # best-effort: the in-run fallback still works

    def _rules() -> dict:
        try:
            state["rules"] = load_rules(rules_path)
            state["loaded_once"] = True
            _persist_lastgood()
        except (OSError, ValueError):
            # torn write or bad edit: keep serving the last good set
            state["errors"] += 1
            if not state["loaded_once"] and os.path.exists(lastgood):
                # fresh run whose FIRST load is torn: fall back to the
                # persisted last-good set instead of evaluating an empty
                # rule set (which would snapshot zero members and read
                # as a fabricated mass EXIT in membership_transitions)
                try:
                    state["rules"] = load_rules(lastgood)
                    state["loaded_once"] = True
                except (OSError, ValueError):
                    pass
        return state["rules"]

    def _snapshot(eid: int) -> None:
        rules = _rules()
        if not state["loaded_once"] and _member_epochs(workdir):
            # no rule set EVER loaded (current file torn, no/bad
            # last-good) but prior snapshots exist: keep the previous
            # epoch's snapshot rather than overwrite with zero members
            return
        cur = current_cube(spark, delta_dir)
        members = cur.select("conv_id").distinct()
        out = cohort.evaluate_rules_cube(cur, members, rules, now)
        out.write.mode("overwrite").parquet(os.path.join(mdir, f"epoch={eid}"))

    env = envelope_stream(spark, spool_dir)
    events = cdc.derive_turn_events(env)
    cube = cohort.events_cube(events)

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        eid = int(epoch_id)
        batch.withColumn("_epoch", F.lit(eid)).write.mode("overwrite").parquet(
            os.path.join(delta_dir, f"epoch={eid}")
        )
        state["batches"] += 1
        if state["batches"] % max(1, snapshot_every) == 0:
            _snapshot(eid)
        seen.append(eid)

    run_available_now(
        cube.writeStream.outputMode("update").foreachBatch(_batch), ckpt
    )
    # the DRAINED state always gets a snapshot (snapshot_every thinning
    # must not leave the final memberships stale)
    if seen and not os.path.isdir(
        os.path.join(mdir, f"epoch={seen[-1]}")
    ):
        _snapshot(seen[-1])
    elif not seen:
        # a prior run crashed between awaitTermination and its final
        # _snapshot: this (no-new-data) re-run sees epochs=[] but the
        # members may lag the cube deltas — catch them up here
        if os.path.isdir(delta_dir):
            delta_epochs = [
                int(n.split("=", 1)[1])
                for n in os.listdir(delta_dir)
                if n.startswith("epoch=")
            ]
            m_epochs = _member_epochs(workdir)
            if delta_epochs and (
                not m_epochs or m_epochs[-1] < max(delta_epochs)
            ):
                _snapshot(max(delta_epochs))
    last = read_members(spark, workdir)
    return {
        "epochs": seen,
        "last_members": last.count() if last is not None else 0,
        "rule_load_errors": state["errors"],
    }


def fold_cube_deltas(spark: SparkSession, workdir: str) -> dict:
    """Compact the cube-delta history: fold every epoch dir into ONE
    base dir holding the current cube (each cell keeping its max
    ``_epoch``), then delete the folded dirs. Keeps :func:`current_cube`
    reads O(cube) instead of O(all deltas ever) on a long-running
    stream — the cube analog of the sink's ``compact()``. Run it
    between stream invocations (single-writer window).

    Crash-safe without a swap: the fold is written as a NEW epoch-style
    dir at a negative id (stream epochs are ≥ 0) and the old dirs are
    deleted afterwards; a crash in between leaves duplicates whose
    per-cell (value, _epoch) pairs are identical, which the LWW max_by
    in :func:`current_cube` collapses deterministically."""
    delta_dir = cube_delta_dir(workdir)
    if not os.path.isdir(delta_dir):
        return {"folded": False, "reason": "no deltas"}
    old = [n for n in os.listdir(delta_dir) if n.startswith("epoch=")]
    if len(old) <= 1:
        return {"folded": False, "reason": "already compact"}
    # next fold id: one below the lowest existing (first fold: -1)
    fold_id = min(int(n.split("=", 1)[1]) for n in old) - 1
    folded = (
        spark.read.parquet(delta_dir)
        .groupBy("conv_id", "event_kind", "day")
        .agg(
            F.max_by(
                F.struct("sum_metric", "cnt", "max_metric"), F.col("_epoch")
            ).alias("w"),
            F.max("_epoch").alias("_epoch"),
        )
        .select("conv_id", "event_kind", "day", "w.*", "_epoch")
    )
    folded.write.mode("overwrite").parquet(
        os.path.join(delta_dir, f"epoch={fold_id}")
    )
    import shutil

    for n in old:
        shutil.rmtree(os.path.join(delta_dir, n))
    return {"folded": True, "into": fold_id, "removed_dirs": len(old)}


def _member_epochs(workdir: str) -> list[int]:
    mdir = members_dir(workdir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(mdir)
        if n.startswith("epoch=")
    )


def read_members(
    spark: SparkSession, workdir: str, epoch: int | None = None
) -> DataFrame | None:
    """The membership snapshot at ``epoch`` (default: latest)."""
    epochs = _member_epochs(workdir)
    if not epochs:
        return None
    eid = epochs[-1] if epoch is None else epoch
    return spark.read.parquet(os.path.join(members_dir(workdir), f"epoch={eid}"))


def membership_transitions(spark: SparkSession, workdir: str) -> DataFrame:
    """ENTER/EXIT changelog across the recorded snapshots: for every
    (rule_id, conv_id) that appears in, or disappears from, consecutive
    epochs, one row (epoch, rule_id, conv_id, change ∈ {enter, exit}).
    Computed AT READ TIME from the idempotent snapshots — the stream
    never carries cross-epoch state, so replays cannot corrupt the
    transition history (recomputing it is free and deterministic)."""
    epochs = _member_epochs(workdir)
    if not epochs:
        return spark.createDataFrame(
            [], "epoch int, rule_id int, conv_id string, change string"
        )
    frames = [
        spark.read.parquet(os.path.join(members_dir(workdir), f"epoch={e}"))
        .select(F.lit(e).alias("epoch"), "rule_id", "conv_id")
        for e in epochs
    ]
    from functools import reduce as _reduce

    snaps = _reduce(lambda a, b: a.unionByName(b), frames)
    # membership interval per key → enter at first epoch present, exit
    # at the epoch AFTER the last one present (if any snapshot follows)
    epochs_df = F.array(*[F.lit(e) for e in epochs])
    spans = snaps.groupBy("rule_id", "conv_id").agg(
        F.collect_set("epoch").alias("present")
    )
    # one pass over each key's presence set vs the global epoch list:
    # a key enters at e if present(e) and not present(prev(e)); exits
    # at e if not present(e) and present(prev(e))
    exploded = spans.select(
        "rule_id",
        "conv_id",
        F.posexplode(epochs_df).alias("pos", "epoch"),
        F.col("present"),
    )
    has = F.array_contains(F.col("present"), F.col("epoch"))
    prev_e = F.element_at(epochs_df, F.col("pos"))  # 1-based = previous
    had = F.when(
        F.col("pos") > 0, F.array_contains(F.col("present"), prev_e)
    ).otherwise(F.lit(False))
    return (
        exploded.withColumn(
            "change",
            F.when(has & ~had, F.lit("enter")).when(
                ~has & had, F.lit("exit")
            ),
        )
        .where(F.col("change").isNotNull())
        .select("epoch", "rule_id", "conv_id", "change")
    )


def prune_member_snapshots(workdir: str, keep_last: int = 8) -> dict:
    """Bound the membership-snapshot history: keep the newest
    ``keep_last`` epoch dirs, delete the rest. Transitions older than
    the retained window are forgotten — run after
    :func:`membership_transitions` has been consumed (alerting,
    audit export) if the full history matters. The LATEST snapshot
    (what :func:`read_members` serves) is always kept."""
    import shutil

    epochs = _member_epochs(workdir)
    drop = epochs[:-keep_last] if keep_last > 0 else epochs[:-1]
    for e in drop:
        shutil.rmtree(os.path.join(members_dir(workdir), f"epoch={e}"))
    return {"kept": len(epochs) - len(drop), "pruned": len(drop)}
