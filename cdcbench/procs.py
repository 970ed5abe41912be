"""Make sure every process a benchmark run starts has ended before it exits.

``SparkSession.stop()`` leaves the driver JVM running: the JVM exits only
when its standard input closes, which otherwise happens after this
interpreter has gone, so the JVM (and the Python worker daemon it forked)
would outlive the run by a second or more. The benchmark therefore

- makes itself the child subreaper of its tree, so a descendant whose
  parent dies (a worker of a JVM that was killed, the JVM of an
  ``--overhead`` child run that timed out) is re-parented to it and
  stays visible and reapable;
- on the way out closes the JVM's standard input (its normal shutdown),
  waits for the whole tree to end, then terminates and finally kills
  what is left, reaping every child.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def exit_on_sigterm() -> None:
    """Turn SIGTERM into ``SystemExit`` so ``finally`` blocks, and with
    them :func:`stop_all`, still run."""
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def descendants(root: int | None = None) -> list[int]:
    """Processes below ``root``, this process by default: the live ones,
    and the zombies that are ``root``'s own children and so still wait
    for it to reap them."""
    root = os.getpid() if root is None else root
    children: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append((int(name), fields[0]))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for pid, state in children.get(parent, []):
            if state != "Z" or parent == root:
                out.append(pid)
            todo.append(pid)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_gone(seconds: float) -> list[int]:
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        left = descendants()
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def _close_gateway() -> None:
    """Stop any active Spark context and close the JVM's standard input,
    on which the JVM runs its shutdown and exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as exc:  # the JVM may already be gone; it is ended below
            print(f"cdcbench: stopping the Spark context failed: {exc!r}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all(grace: float = 30.0) -> list[int]:
    """End every descendant of this process and reap it. Returns the
    pids still alive after SIGKILL (normally none)."""
    _close_gateway()
    left = _wait_gone(grace)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(10.0)
    return left
