"""End-to-end benchmark: times each operation of a workload from its
builder call to its last row, and checks every output against a DuckDB
oracle.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` they are the per-layer ones, from a
separate traced session. The line before it records the box and run.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class OpRecord:
    name: str
    layer: str
    seconds: float
    build_s: float
    exec_s: float
    rows: list | None = None
    columns: list | None = None
    error: str | None = None
    phases_ms: dict = field(default_factory=dict)
    persisted_rdds: int = 0


@dataclass
class PassRecord:
    seconds: float
    ops: list[OpRecord]
    failures: list[str]
    catalog: dict = field(default_factory=dict)
    steal: float = 0.0


class Context:
    """What an operation may touch: the session, the inputs and, for the
    REPL session, this pass's Engine over a fresh warehouse."""

    def __init__(self, spark, data_dir: str, warehouse: str, trace: bool):
        from distributed_mapreduce_spark.engine import Engine

        self.spark = spark
        self.data_dir = data_dir
        self.warehouse = warehouse
        shutil.rmtree(warehouse, ignore_errors=True)
        self.engine = Engine(spark, warehouse)
        self.catalog = {"put_s": 0.0, "bytes_written": 0, "source_bytes": 0}
        if trace:
            self._trace_puts()

    def _trace_puts(self) -> None:
        """Span every catalog write, including those Engine.maple and
        Engine.juice make, by shadowing ``put`` on this Catalog instance."""
        catalog, acct = self.engine.catalog, self.catalog
        put = catalog.put

        def traced_put(source, name, fmt="infer"):
            t0 = time.perf_counter()
            put(source, name, fmt)
            acct["put_s"] += time.perf_counter() - t0
            acct["bytes_written"] += catalog.ls(name)["bytes"]
            if isinstance(source, str):
                acct["source_bytes"] += os.path.getsize(source)

        catalog.put = traced_put


def run_pass(ops, ctx: Context, workload: str, trace: bool) -> PassRecord:
    """Run ``ops`` once. Each op is timed from its builder call to its last
    row reaching the driver; ``clearCache`` runs before each, untimed."""
    spark = ctx.spark
    sc = spark.sparkContext
    records = []
    first = last = None
    for op in ops:
        spark.catalog.clearCache()
        if trace:
            sc.setJobGroup(f"{workload}:{op.name}:build", op.name)
        t0 = time.perf_counter()
        first = t0 if first is None else first
        rec = OpRecord(op.name, op.layer, 0.0, 0.0, 0.0)
        df = None
        try:
            df = op.run(ctx)
            t1 = time.perf_counter()
            if trace:
                sc.setJobGroup(f"{workload}:{op.name}:exec", op.name)
            if df is not None:
                rec.rows, rec.columns = df.collect(), df.columns
            t2 = time.perf_counter()
            rec.build_s, rec.exec_s = t1 - t0, t2 - t1
        except Exception:
            t2 = time.perf_counter()
            rec.build_s = t2 - t0
            rec.error = traceback.format_exc()
            print(f"[perfbench] {op.name} raised:\n{rec.error}", file=sys.stderr)
        rec.seconds = t2 - t0
        last = t2
        if trace:
            if df is not None and rec.error is None:
                from perfbench.tracing import catalyst_phases_ms

                rec.phases_ms = catalyst_phases_ms(df)
            rec.persisted_rdds = sc._jsc.getPersistentRDDs().size()
        records.append(rec)
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return PassRecord(last - first, records, [], dict(ctx.catalog))


def check_pass(ops, rec: PassRecord, ctx: Context, oracles) -> None:
    """Compare every op's output with its oracle (outside any timing);
    failures land in ``rec.failures``."""
    from perfbench.oracles import rows_digest

    for op, r in zip(ops, rec.ops):
        problem = None
        if r.error is not None:
            problem = "raised"
        elif op.oracle is not None and rows_digest(r.rows, r.columns) != oracles.digest(op.oracle):
            problem = "rows differ from the DuckDB oracle"
        elif op.verify is not None:
            problem = op.verify(ctx, oracles)
        if problem:
            rec.failures.append(op.name)
            print(f"[perfbench] FAIL {op.name}: {problem}", file=sys.stderr)


def box_info(seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m_start": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "seed": seed,
    }


class Bench:
    """One benchmark run: session set-up, warm-up, timed passes, checks."""

    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.rng = random.Random(args.seed)
        self.data_dir = os.path.join(HERE, "data", f"sf{args.sf}")
        if not os.path.isdir(self.data_dir):
            raise SystemExit(f"no input tables at {self.data_dir}")
        self.work = os.path.join(HERE, ".work")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.event_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        # Python tempfile users (the streaming landing, py4j) and the
        # JVMs' scratch and perf-data files stay inside the checkout.
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.cpus = len(os.sched_getaffinity(0))
        self.fixtures = None
        if self.workload == "maplejuice":
            from perfbench.workloads import make_fixtures

            fx_dir = os.path.join(self.work, "fixtures")
            shutil.rmtree(fx_dir, ignore_errors=True)
            self.fixtures = make_fixtures(args.seed, fx_dir)

    def conf(self, trace: bool) -> dict:
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses with zstd by default; the parser
                # reads plain JSON lines.
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{self.event_dir}",
            })
        return conf

    def session(self, trace: bool):
        from distributed_mapreduce_spark.session import get_spark

        return get_spark("perfbench", cpus=self.cpus, extra_conf=self.conf(trace))

    def oracles(self):
        from perfbench.oracles import Oracles

        files = [os.path.join(self.data_dir, f) for f in sorted(os.listdir(self.data_dir))]
        views = {}
        if self.fixtures is not None:
            files += self.fixtures.files()
            views = self.fixtures.views()
        cache = os.path.join(HERE, ".cache")
        os.makedirs(cache, exist_ok=True)
        return Oracles(self.data_dir, views, files,
                       os.path.join(cache, "oracle_digests.json"), self.tmp)

    def one_pass(self, spark, oracles, trace: bool) -> PassRecord:
        from perfbench.tracing import cpu_ticks, steal_share
        from perfbench.workloads import pass_ops

        ops = pass_ops(self.workload, self.rng, self.data_dir, self.fixtures)
        ctx = Context(spark, self.data_dir, os.path.join(self.work, "warehouse"), trace)
        before = cpu_ticks()
        rec = run_pass(ops, ctx, self.workload, trace)
        rec.steal = steal_share(before, cpu_ticks())
        check_pass(ops, rec, ctx, oracles)
        return rec

    def passes(self, spark, oracles, seconds: float, trace: bool = False) -> list[PassRecord]:
        """Whole passes until ``seconds`` have elapsed, at least one."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(spark, oracles, trace))
        return out

    def setup(self, oracles):
        """Program import, ``get_spark()`` and one untimed warm-up pass:
        JIT warm-up and the program's first-call caches land here."""
        from perfbench.tracing import cpu_ticks, steal_share

        ticks = cpu_ticks()
        t0 = time.perf_counter()
        import distributed_mapreduce_spark.workload  # noqa: F401

        g0 = time.perf_counter()
        spark = self.session(trace=False)
        get_spark_s = time.perf_counter() - g0
        warm = self.one_pass(spark, oracles, trace=False)
        self.setup_steal = steal_share(ticks, cpu_ticks())
        self.setup_parts = {"import_s": g0 - t0, "get_spark_s": get_spark_s,
                            "warmup_pass_s": warm.seconds}
        return spark, warm


def end_to_end(bench: Bench, spark, oracles) -> tuple[dict, list]:
    from perfbench.tracing import percentile

    passes = bench.passes(spark, oracles, bench.args.seconds)
    times = [r.seconds for p in passes for r in p.ops]
    p50, _ = percentile(times, 50)
    p90, _ = percentile(times, 90)
    metrics = {
        "setup_s": (sum(bench.setup_parts.values()), "s"),
        "workload_s": (statistics.median(p.seconds for p in passes), "s"),
        "op_p50_s": (p50, "s"),
        "op_p90_s": (p90, "s"),
    }
    return metrics, passes


def per_layer(bench: Bench, spark, oracles) -> tuple[dict, list]:
    """Traced then untraced passes, each in a fresh SparkContext on the
    warm JVM, so the traced figures and the tracing overhead compare
    like with like. The JIT keeps warming from pass to pass, so running
    the traced half first errs towards overstating the overhead."""
    from perfbench.tracing import (
        peak_rss_mb,
        read_event_log,
        streaming_listener,
        summarize_event_log,
    )

    half = bench.args.seconds / 2
    spark.stop()
    spark = bench.session(trace=True)
    listener = streaming_listener()
    spark.streams.addListener(listener)
    traced = bench.passes(spark, oracles, half, trace=True)
    listener.wait_idle()
    spark.streams.removeListener(listener)
    spark.stop()
    spark = bench.session(trace=False)
    plain = bench.passes(spark, oracles, half)
    rss_mb = peak_rss_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    ev = summarize_event_log(read_event_log(bench.event_dir))

    n = len(traced)
    ops = [r for p in traced for r in p.ops]

    def per_pass(x):
        return x / n

    def layer_s(layer):
        return per_pass(sum(r.seconds for r in ops if r.layer == layer))

    build_s = per_pass(sum(r.build_s for r in ops))
    exec_s = per_pass(sum(r.exec_s for r in ops))
    op_wall = per_pass(sum(r.seconds for r in ops))
    put_s = per_pass(sum(p.catalog["put_s"] for p in traced))
    written = per_pass(sum(p.catalog["bytes_written"] for p in traced))
    source = per_pass(sum(p.catalog["source_bytes"] for p in traced))
    traced_s = statistics.median(p.seconds for p in traced)
    plain_s = statistics.median(p.seconds for p in plain)
    metrics = {
        "session.get_spark_s": (bench.setup_parts["get_spark_s"], "s"),
        "workload.build_s": (build_s, "s"),
        "workload.build_jobs": (per_pass(ev["build_jobs"]), "count"),
        "workload.analysis_ms": (per_pass(sum(r.phases_ms.get("analysis", 0.0) for r in ops)), "ms"),
        "workload.optimization_ms": (per_pass(sum(r.phases_ms.get("optimization", 0.0) for r in ops)), "ms"),
        "workload.planning_ms": (per_pass(sum(r.phases_ms.get("planning", 0.0) for r in ops)), "ms"),
        "workload.persisted_rdds_left": (per_pass(sum(r.persisted_rdds for r in ops)), "count"),
        "spark.exec_s": (exec_s, "s"),
        "spark.jobs": (per_pass(ev["jobs"]), "count"),
        "spark.stages": (per_pass(ev["stages"]), "count"),
        "spark.tasks": (per_pass(ev["tasks"]), "count"),
        "spark.task_s": (per_pass(ev["task_s"]), "s"),
        "spark.gc_s": (per_pass(ev["gc_s"]), "s"),
        "spark.core_busy_frac": (per_pass(ev["task_s"]) / (op_wall * bench.cpus), "frac"),
        "sources.input_bytes": (per_pass(ev["input_bytes"]), "bytes"),
        "sources.scan_tasks": (per_pass(ev["scan_tasks"]), "count"),
        "operators.shuffle_write_bytes": (per_pass(ev["shuffle_write_bytes"]), "bytes"),
        "operators.shuffle_read_bytes": (per_pass(ev["shuffle_read_bytes"]), "bytes"),
        "operators.spill_bytes": (per_pass(ev["spill_bytes"]), "bytes"),
        "operators.task_skew": (ev["task_skew"], "ratio"),
        "maplejuice.maple_s": (layer_s("maplejuice.maple"), "s"),
        "maplejuice.juice_s": (layer_s("maplejuice.juice"), "s"),
        "maplejuice.exe_s": (layer_s("maplejuice.exe"), "s"),
        "catalog.put_s": (put_s, "s"),
        "catalog.bytes_written": (written, "bytes"),
        "catalog.write_amp": (written / source if source else 0.0, "ratio"),
        "engine.select_s": (layer_s("engine.select"), "s"),
        "engine.grep_s": (layer_s("engine.grep"), "s"),
        "streaming.drain_s": (per_pass(listener.drain_ms / 1000.0), "s"),
        "streaming.batches": (per_pass(listener.batches), "count"),
        "streaming.input_rows": (per_pass(listener.input_rows), "count"),
        "peak_rss_mb": (rss_mb, "MB"),
        "trace.workload_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - plain_s, "s"),
    }
    return metrics, traced + plain


def parse_args(argv=None):
    from perfbench.workloads import QUERY_OPS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(QUERY_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", help="input scale under perfbench/data")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    if importlib.util.find_spec("distributed_mapreduce_spark") is None or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_correctness.py")
    ):
        print("perfbench: the engine package or tools/ is missing; run from a full checkout",
              file=sys.stderr)
        return 2
    args = parse_args(argv)

    from perfbench.procs import become_subreaper, stop_descendants, stop_spark

    # Every process the run starts ends before it returns, on every path
    # out: SIGTERM unwinds through the ``finally`` like an exception.
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        box, result = measure(args)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_spark()
        stop_descendants()
    print(json.dumps({"box": box}))
    print(json.dumps(result))
    return 0


def measure(args) -> tuple[dict, dict]:
    """Set up, measure and check one run; returns the box record and the
    result line."""
    box = box_info(args.seed)
    bench = Bench(args)

    from pyspark import cloudpickle

    import perfbench.workloads

    # Maple/juice functions travel to Python workers by value, so the
    # workers need not import this directory.
    cloudpickle.register_pickle_by_value(perfbench.workloads)

    oracles = bench.oracles()
    spark, warm = bench.setup(oracles)
    if args.trace:
        metrics, passes = per_layer(bench, spark, oracles)
    else:
        metrics, passes = end_to_end(bench, spark, oracles)
        spark.stop()
    oracles.close()

    all_passes = [warm] + passes
    attempted = sum(len(p.ops) for p in all_passes)
    failed = sum(len(p.failures) for p in all_passes)
    measured = [r.seconds for p in passes for r in p.ops]
    box.update(
        loadavg_1m_end=os.getloadavg()[0],
        steal_share_setup=bench.setup_steal,
        steal_share_passes=[p.steal for p in passes],
        workload=args.workload,
        trace=args.trace,
        seconds=args.seconds,
        sf=args.sf,
        setup_parts=bench.setup_parts,
        warmup_op_s={r.name: r.seconds for r in warm.ops},
        pass_s=[p.seconds for p in passes],
        op_samples=len(measured),
        failed_ops=sorted({n for p in all_passes for n in p.failures}),
        op_median_s={
            name: statistics.median(r.seconds for p in passes for r in p.ops if r.name == name)
            for name in dict.fromkeys(r.name for p in passes for r in p.ops)
        },
    )
    return box, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())
