#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload trickle_merge --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines above
it print every metric by name with its unit, plus run details. The exit
code is 1 when any correctness check failed, 2 when the engine package
cannot be imported, 3 when a started process could not be ended. Every
process the run starts (the driver JVM, its Python workers) has ended
before it exits.

    python3 cdcbench/run.py --self-test
    python3 cdcbench/run.py --overhead --workload bulk_ivm --seed 1 --seconds 10

``--self-test`` shows every correctness check firing on corrupted
outputs. ``--overhead`` runs the workload untraced and traced in two
fresh processes and prints the tracing overhead per epoch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DRIVER_MEMORY = "3g"


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _bench_json()[section]}


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not find one above it
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _spark_factory(name: str, work: str):
    from flink_cdc_mysql_sink_to_mysql_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    def start():
        spark = get_spark(
            app_name=f"cdcbench-{name}",
            cpus=_cpus(),
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed, pre-touched heap: peak RSS then measures the
                # program's footprint, not when the collector ran
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
                ),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return start


def _environment() -> None:
    """Pin what the session reads from the environment: one fixed
    driver heap, worker interpreter, and scratch space in the checkout."""
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")


def run_workload(args) -> int:
    import spans
    import streams

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = streams.StreamRun(
        streams.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work
    )
    try:
        with spans.RssSampler() as rss:
            res = run.run(_spark_factory(args.workload, work))
            run.stop()
        res["e2e"]["peak_rss_mb"] = rss.peak_mb
    finally:
        run.stop()
        keep = os.path.join(WORK, "last")
        os.makedirs(keep, exist_ok=True)
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(keep, f"{args.workload}-spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    e2e = res["e2e"]
    e2e["ops_failed_ratio"] = failed / attempted
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark": __import__("pyspark").__version__,
        "cores": _cpus(),
        "driver_memory": DRIVER_MEMORY,
        "git_sha": _git_sha(),
        "info": res.get("info", {}),
    }
    if args.trace:
        record["epoch_split"] = run.epoch_split
    print("# record " + json.dumps(record, default=str))
    for err in res["errors"]:
        print(f"# MISMATCH {err}")

    if args.trace:
        units = _units("per_layer")
        values = res["layers"]
    else:
        units = _units("end_to_end")
        values = e2e
    for name, unit in units.items():
        print(f"# {name} = {values[name]:.6g} {unit}")
    if not args.trace:
        print(f"# ops_failed_ratio = {e2e['ops_failed_ratio']:.6g} ratio ({failed}/{attempted})")
    correct = failed == 0 and not res["errors"]
    result = {
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    if not correct:
        print(f"cdcbench: {args.workload} failed its correctness check", file=sys.stderr)
        return 1
    return 0


def self_test() -> int:
    import checks

    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    spark = _spark_factory("selftest", work)()
    try:
        broken = checks.self_test(spark, work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if broken:
        print(f"self-test FAILED: checks that did not behave: {broken}")
        return 1
    print("self-test ok: every check passes on the truth and fires on each corruption")
    return 0


def overhead(args) -> int:
    """Untraced and traced run of the same workload and seed, each in a
    fresh process; the epoch-time difference is the tracing overhead."""
    out = {}
    for trace in (0, 1):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
            capture_output=True, text=True, timeout=900,
        )
        if proc.returncode != 0:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        out[trace] = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
    base = out[0]["epoch_s_p50"]["value"]
    traced = out[1]["pipeline.trigger_s_p50"]["value"]
    print(
        f"epoch_s_p50 untraced {base:.4f} s, traced {traced:.4f} s, "
        f"tracing overhead {traced - base:+.4f} s per epoch "
        f"({(traced - base) / base * 100 if base else 0:+.1f}%); "
        f"in-epoch tracer self time p50 {out[1]['trace.overhead_s_p50']['value']:.4f} s"
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import flink_cdc_mysql_sink_to_mysql_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cdcbench: cannot import the engine ({exc}); run from a checkout of the repository",
              file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print("cdcbench: BENCHMARK.json not found at the checkout root", file=sys.stderr)
        return 2
    _environment()
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    known = {w["name"] for w in _bench_json()["workloads"]}
    if args.workload not in known:
        ap.error(f"unknown workload {args.workload!r}; BENCHMARK.json lists {sorted(known)}")
    if args.overhead:
        return overhead(args)
    return run_workload(args)


if __name__ == "__main__":
    t = time.perf_counter()
    procs.become_subreaper()
    procs.exit_on_sigterm()
    try:
        code = main()
    finally:
        # every path out, an exception or SIGTERM included, ends the JVM
        # and its workers before this process exits
        left = procs.stop_all()
        if left:
            print(f"cdcbench: processes still alive after SIGKILL: {left}", file=sys.stderr)
    if left and code == 0:
        code = 3
    print(f"cdcbench: exit {code} after {time.perf_counter() - t:.1f} s", file=sys.stderr)
    sys.exit(code)
