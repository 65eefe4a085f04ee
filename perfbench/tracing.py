"""Observation helpers: percentiles, process memory, the Spark event log,
Catalyst phase timings and a streaming progress listener.

Everything here watches the engine from outside through public Spark
surfaces; nothing patches the program.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' ``betacf``."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Harrell-Davis estimate of the ``q``-th percentile (0..100) and the
    number of samples it rests on. Raises on an empty sample.

    The estimate weighs every order statistic by a Beta((n+1)p,
    (n+1)(1-p)) kernel instead of interpolating between the two nearest,
    so on the few samples of one pass it moves less when a single
    operation's time does. ``q`` of 0 and 100 give the minimum and
    maximum."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    n, p = len(xs), q / 100.0
    if n == 1 or p <= 0.0:
        return xs[0], n
    if p >= 1.0:
        return xs[-1], n
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs)), n


def cpu_ticks() -> list[int]:
    """System-wide CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: on a shared host, wall times measured while
    it is high are slower for reasons outside the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc parent links."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed peak RSS (VmHWM) of the driver JVM and the Python workers
    it forked."""
    return sum(_vm_hwm_kb(p) for p in _proc_tree(jvm_pid)) / 1024.0


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time Catalyst recorded for the
    query execution behind ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every uncompressed log under ``log_dir`` (plain
    files and Spark 4's rolling ``eventlog_v2_*`` directories)."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus_"))
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def summarize_event_log(events: list[dict]) -> dict[str, float]:
    """Job, stage and task totals from an event log.

    ``build_jobs`` counts jobs whose job group ends in ``:build``.
    ``task_skew`` is max / median task run time (median floored at 1 ms)
    in the stage with the most task time among stages of at least two
    tasks (1.0 when no such stage exists)."""
    jobs = build_jobs = stages = 0
    tasks = 0
    run_ms = gc_ms = 0
    input_bytes = scan_tasks = 0
    shuffle_write = shuffle_read = spill = 0
    per_stage: dict[tuple[int, int], list[int]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs += 1
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.endswith(":build"):
                build_jobs += 1
        elif kind == "SparkListenerStageCompleted":
            stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            tasks += 1
            run = m["Executor Run Time"]
            run_ms += run
            gc_ms += m["JVM GC Time"]
            per_stage[(ev["Stage ID"], ev["Stage Attempt ID"])].append(run)
            inp = m["Input Metrics"]
            input_bytes += inp["Bytes Read"]
            if inp["Records Read"] > 0:
                scan_tasks += 1
            sr = m["Shuffle Read Metrics"]
            shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    skew = 1.0
    multi = [runs for runs in per_stage.values() if len(runs) >= 2]
    if multi:
        worst = max(multi, key=sum)
        skew = max(worst) / max(statistics.median(worst), 1)
    return {
        "jobs": jobs,
        "build_jobs": build_jobs,
        "stages": stages,
        "tasks": tasks,
        "task_s": run_ms / 1000.0,
        "gc_s": gc_ms / 1000.0,
        "input_bytes": input_bytes,
        "scan_tasks": scan_tasks,
        "shuffle_write_bytes": shuffle_write,
        "shuffle_read_bytes": shuffle_read,
        "spill_bytes": spill,
        "task_skew": skew,
    }


def streaming_listener():
    """A StreamingQueryListener that totals micro-batches, their input
    rows and their trigger time, and counts started/terminated queries
    (progress events arrive asynchronously; ``wait_idle`` blocks until
    every started query has reported termination)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started = self.terminated = 0
            self.batches = self.input_rows = 0
            self.drain_ms = 0

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.batches += 1
                self.input_rows += p.numInputRows
                self.drain_ms += p.batchDuration

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def wait_idle(self, timeout_s: float = 10.0) -> None:
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.05)

    return _Listener()
