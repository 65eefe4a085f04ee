"""Process hygiene: a run ends only after every process it started has.

PySpark starts the driver JVM as a child of this process. The JVM forks
the Python worker daemon, which puts itself in a process group of its
own and forks workers, and ``rdd.pipe`` starts commands from those.
When the JVM exits, such grandchildren would be re-parented to init and
could outlive the run. Making this process a child subreaper re-parents
them here instead, so :func:`stop_descendants` can end and reap all of
them.
"""

from __future__ import annotations

import ctypes
import glob
import os
import signal
import subprocess
import sys
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parent to this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children(pid: int | None = None) -> list[int]:
    """Live (non-zombie) processes whose parent is ``pid`` (default: this
    process)."""
    pid = os.getpid() if pid is None else pid
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid and fields[0] != "Z":
            out.append(int(stat.split("/")[2]))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the active SparkContext, if any, and end the driver JVM by
    closing its stdin, which it watches for end of file.

    The py4j gateway is not shut down first: that joins the callback
    server's threads, and a streaming listener's callback connection
    keeps one of them blocked until the JVM is gone."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:
            print(f"[perfbench] SparkContext.stop failed: {e!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_descendants(grace_s: float = 5.0, term_s: float = 15.0) -> None:
    """Wait for every child (re-parented orphans included) to exit and
    reap it: ``grace_s`` to leave on its own, then SIGTERM, then SIGKILL
    after ``term_s`` more. Returns when none is left."""
    start = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        _reap()
        kids = children()
        if not kids:
            return
        waited = time.monotonic() - start
        if waited >= grace_s:
            sig = signal.SIGKILL if waited >= grace_s + term_s else signal.SIGTERM
            for pid in kids:
                if signalled.get(pid) == sig:
                    continue
                signalled[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
