"""Stop every process the benchmark starts, and wait until each has ended.

The engine's JVM is a child of the Python process and the JVM starts its
own children (Python workers); the set-up probes start a JVM of their
own. A JVM told to end by its stdin closing still takes a moment to go,
so exiting right after ``spark.stop()`` leaves it running behind the
benchmark. Here the benchmark makes itself the subreaper of everything
below it, so that a process whose parent has ended is re-parented to the
benchmark and can be waited for, and waits for all of them before it
exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36
# How long processes get to end on their own, then after SIGTERM.
GRACE_S = 20.0
TERM_S = 10.0


def adopt_orphans() -> None:
    """Re-parent orphaned descendants to this process (Linux prctl)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live or zombie process below ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def stop_spark() -> None:
    """Stop the active Spark session, if any, and close its JVM's stdin,
    which ends the gateway JVM; then wait for the JVM to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass  # the JVM is ended below whatever state it is in
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is None:
        return
    # Not gateway.close(): with a Python streaming listener registered it
    # blocks on the callback server's threads, which end with the JVM.
    if proc.stdin is not None and not proc.stdin.closed:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout=GRACE_S)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_exited() -> None:
    """Collect every child (own or adopted) that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_all() -> None:
    """Stop Spark, then wait for every descendant to end: first on its
    own, then after SIGTERM, then after SIGKILL. Returns when none is left."""
    stop_spark()
    steps = [(GRACE_S, signal.SIGTERM), (TERM_S, signal.SIGKILL), (TERM_S, None)]
    for wait_s, then in steps:
        deadline = time.monotonic() + wait_s
        while True:
            _reap_exited()
            if not descendants():
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if then is not None:
            _signal_all(then)
