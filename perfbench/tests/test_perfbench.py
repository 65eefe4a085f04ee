"""Tests of the benchmark's own helpers and a smoke pass of each workload.

Run from the repository root:
    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys
import textwrap
import uuid

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "tools"))

from perfbench.tracing import (  # noqa: E402
    percentile,
    read_event_log,
    summarize_event_log,
)
from perfbench.workloads import QUERY_OPS  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SMOKE_DATA = os.path.join(ROOT, "perfbench", "data", "sf0.001")
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _hd_reference(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate with the Beta weights from mpmath: an
    independent check of ``percentile``."""
    mpmath = pytest.importorskip("mpmath")
    xs, n, p = sorted(xs), len(xs), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    return sum(
        x * float(mpmath.betainc(a, b, i / n, (i + 1) / n, regularized=True))
        for i, x in enumerate(xs)
    )


def test_percentile_is_harrell_davis_and_counts():
    xs = [float(x) for x in range(10, 0, -1)]
    # a symmetric sample's median is its centre
    assert percentile(xs, 50) == pytest.approx((5.5, 10))
    assert percentile([3.0, 1.0, 2.0], 50) == pytest.approx((2.0, 3))
    skewed = [0.5, 0.6, 0.9, 3.1, 4.0, 0.7, 0.8, 1.0, 1.5, 0.4, 0.3]
    for q in (10, 50, 90):
        assert percentile(xs, q)[0] == pytest.approx(_hd_reference(xs, q), abs=1e-9)
        assert percentile(skewed, q)[0] == pytest.approx(
            _hd_reference(skewed, q), abs=1e-9)
    # every order statistic gets weight, so p90 lies strictly inside
    assert 9.0 < percentile(xs, 90)[0] < 10.0
    assert percentile(xs, 0) == (1.0, 10)
    assert percentile(xs, 100) == (10.0, 10)
    assert percentile([3.0], 90) == (3.0, 1)
    assert percentile([2.0] * 7, 90) == pytest.approx((2.0, 7))


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_event_log_summary_of_committed_log():
    events = read_event_log(os.path.join(DATA, "eventlog"))
    s = summarize_event_log(events)
    with open(os.path.join(DATA, "eventlog_expected.json")) as f:
        expected = json.load(f)
    assert s == pytest.approx(expected)
    # the log holds one build-group job and a multi-task stage
    assert s["build_jobs"] >= 1 and s["task_skew"] > 1.0


def test_benchmark_json_metric_names_are_valid_and_unique():
    spec = _benchmark_json()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    for name in names:
        assert METRIC_NAME.fullmatch(name), name
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == set(QUERY_OPS)
    assert METRIC_NAME.fullmatch("bad name") is None


def _processes_with_env(marker: str) -> list[int]:
    """Live processes whose environment holds ``marker``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if marker.encode() in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def _cli(workload: str, trace: int) -> dict:
    # Every process the run starts inherits this variable, so any that
    # outlives the run can be found.
    token = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_RUN=token)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _processes_with_env(f"PERFBENCH_TEST_RUN={token}") == []
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace,key", [
    ("batch", 0, "end_to_end"),
    ("batch", 1, "per_layer"),
    # the traced run registers a streaming listener, whose py4j callback
    # connection must not keep the run from ending
    ("maplejuice", 1, "per_layer"),
])
def test_cli_prints_every_declared_metric(workload, trace, key):
    out = _cli(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _benchmark_json()[key]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared


_ORPHAN_SCRIPT = textwrap.dedent("""
    import json, os, subprocess, sys
    sys.path.insert(0, sys.argv[1])
    from perfbench.procs import become_subreaper, children, stop_descendants

    become_subreaper()
    # The shell exits at once and leaves its background sleep orphaned.
    out = subprocess.run(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True, check=True).stdout
    orphan = int(out)
    adopted = orphan in children()
    stop_descendants(grace_s=0.2, term_s=2.0)
    print(json.dumps({"adopted": adopted, "alive": os.path.exists(f"/proc/{orphan}"),
                      "children": children()}))
""")


def test_stop_descendants_reaps_orphaned_grandchildren():
    proc = subprocess.run([sys.executable, "-c", _ORPHAN_SCRIPT, ROOT],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout) == {"adopted": True, "alive": False, "children": []}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark import cloudpickle

    import perfbench.workloads
    from distributed_mapreduce_spark.session import get_spark

    cloudpickle.register_pickle_by_value(perfbench.workloads)
    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
    })
    yield s
    from perfbench.procs import stop_spark

    stop_spark()


@pytest.mark.parametrize("workload", sorted(QUERY_OPS))
def test_smoke_pass_of_each_workload(workload, spark, tmp_path):
    from perfbench.oracles import Oracles
    from perfbench.run import Context, check_pass, run_pass
    from perfbench.workloads import make_fixtures, pass_ops

    fx = None
    files = [os.path.join(SMOKE_DATA, f) for f in sorted(os.listdir(SMOKE_DATA))]
    views = {}
    if workload == "maplejuice":
        fx = make_fixtures(3, str(tmp_path / "fx"), kv_rows=500, lines_per_machine=50)
        files += fx.files()
        views = fx.views()
    oracles = Oracles(SMOKE_DATA, views, files, str(tmp_path / "digests.json"), str(tmp_path))
    ops = pass_ops(workload, random.Random(3), SMOKE_DATA, fx)
    ctx = Context(spark, SMOKE_DATA, str(tmp_path / "warehouse"), trace=True)
    rec = run_pass(ops, ctx, workload, trace=True)
    check_pass(ops, rec, ctx, oracles)
    oracles.close()
    assert rec.failures == []
    assert [r.name for r in rec.ops] == [op.name for op in ops]
    assert all(r.seconds > 0 for r in rec.ops)
