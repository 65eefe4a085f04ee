"""The benchmark's workloads and the seeded fixtures they read.

Each workload is a list of operations. An operation calls one public
builder of the program (a registry query or an ``Engine`` verb) and
returns the DataFrame whose rows end it, or None when the verb itself
writes its output. Its output check is a DuckDB oracle over the same
inputs (see oracles.py).

Why these workloads (the README has the full table):

- ``batch``: registry queries of three kinds in one pass: SQL-shaped
  queries where Catalyst and the per-job scheduling floor dominate; an
  iterative fixed point that launches most of its Spark jobs while the
  builder runs, which ``bench.py`` cannot see; and dedup/skew pipelines
  bound by input-scaled shuffles, skew and persist.
- ``maplejuice``: the reference's REPL session through ``Engine``; the
  only workload that crosses into Python workers, writes the catalog
  and drains a stream.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

QUERY_OPS: dict[str, list[str]] = {
    "batch": [
        # relational: Catalyst and the per-job floor dominate
        "flagship_pct", "agg_q1", "wordcount", "join_multiway", "tpch_q3_shipping",
        "tpch_q5_region_volume", "tpch_q18_large_orders", "events_sessionize",
        # iterative: most jobs launch while the builder runs
        "pagerank_converge",
        # corpus: input-scaled exchanges, skew and persist
        "dedup_lsh_recall_audit", "skew_join_plain",
    ],
    "maplejuice": [
        "maplejuice_exe_pipeline", "multimodal_decode_errors", "stream_events_tumbling",
    ],
}

#: Layer a registry query's time is attributed to, where it is not plain
#: ``query`` (see the layer table in the README).
QUERY_LAYER = {
    "maplejuice_exe_pipeline": "maplejuice.exe",
    "stream_events_tumbling": "streaming",
}

GREP_REGEX = "ERROR|FATAL"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

#: The kv fixture's keys (FIXTURES.md §3): skewed, some needing
#: sanitization (``/``, spaces, padding) and one empty.
KV_KEYS = [
    "alpha", "beta", "gamma", "delta", "a/b", "x y", " padded ", "",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
    "omicron", "pi", "rho", "sigma",
]

_SANITIZED_KEY = (
    "CASE WHEN key IS NULL OR trim(key) = '' THEN 'empty' "
    "ELSE replace(replace(trim(key), '/', '_'), ' ', '_') END"
)


@dataclass
class Fixtures:
    """Seeded inputs of the ``maplejuice`` workload."""

    kv_csv: str
    logs_dir: str
    select_priority: str

    def files(self) -> list[str]:
        logs = sorted(os.path.join(self.logs_dir, f) for f in os.listdir(self.logs_dir))
        return [self.kv_csv, *logs]

    def views(self) -> dict[str, str]:
        return {
            "kv": f"SELECT * FROM read_csv('{self.kv_csv}', header=true, all_varchar=true)",
            "logs": (
                "SELECT regexp_extract(filename, '[^/]*$') AS machine, value FROM read_csv("
                f"'{self.logs_dir}/*.log', columns={{'value': 'VARCHAR'}}, delim=chr(1), "
                "quote='', escape='', header=false, auto_detect=false, filename=true)"
            ),
        }


def make_fixtures(seed: int, out_dir: str, kv_rows: int = 20000,
                  lines_per_machine: int = 2000) -> Fixtures:
    """Write the kv pairs and per-machine grep logs of FIXTURES.md §2-3."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    weights = [1.0 / (i + 1) for i in range(len(KV_KEYS))]
    kv_csv = os.path.join(out_dir, "kv.csv")
    with open(kv_csv, "w") as f:
        f.write("key,value\n")
        for key in rng.choices(KV_KEYS, weights=weights, k=kv_rows):
            f.write(f"{key},v{rng.randrange(40)}\n")
    logs_dir = os.path.join(out_dir, "logs")
    os.makedirs(logs_dir, exist_ok=True)
    levels, level_w = ["INFO", "WARN", "ERROR", "FATAL"], [80, 12, 6, 2]
    procs = ["sshd", "cron", "kernel", "nginx", "postgres"]
    msgs = [
        "accepted connection from 10.0.{a}.{b}",
        "request {a} served in {b} ms",
        "disk usage at {a} percent on volume {b}",
        "user{a} session {b} closed",
        "timeout after {a} ms waiting for peer {b}",
    ]
    for m in range(1, 11):  # machines 1-10, as in FIXTURES.md §2
        with open(os.path.join(logs_dir, f"vm{m}.log"), "w") as f:
            for i in range(lines_per_machine):
                msg = rng.choice(msgs).format(a=rng.randrange(256), b=rng.randrange(1000))
                level = rng.choices(levels, weights=level_w)[0]
                f.write(
                    f"2026-01-01T{i // 3600 % 24:02d}:{i // 60 % 60:02d}:{i % 60:02d} "
                    f"vm{m} {rng.choice(procs)}[{rng.randrange(1, 9999)}]: {level} {msg}\n"
                )
    return Fixtures(kv_csv, logs_dir, rng.choice(PRIORITIES))


def kv_maple(pdf: pd.DataFrame):
    """Maple over the kv fixture: sanitize the key, keep the value."""
    for key, value in zip(pdf["key"], pdf["value"]):
        key = "" if key is None else key.strip()
        yield (key.replace("/", "_").replace(" ", "_") or "empty", value)


def kv_juice(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """Juice per key: ``<occurrences>:<distinct values>``."""
    return pd.DataFrame(
        {"key": [key], "value": [f"{len(pdf)}:{pdf['value'].nunique()}"]}
    )


@dataclass
class Op:
    """One timed operation. ``run(ctx)`` calls the builder or verb;
    ``oracle`` is DuckDB SQL the collected rows must match; ``verify``
    returns an error string for checks beyond the rows."""

    name: str
    layer: str
    run: Callable
    oracle: str | None = None
    verify: Callable | None = None


def _query_op(name: str) -> Op:
    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    fn = QUERIES[name]
    return Op(name, QUERY_LAYER.get(name, "query"),
              lambda ctx: fn(ctx.spark, ctx.data_dir), ORACLES[name])


def _put_op(name: str, source: str, source_sql: str) -> Op:
    def run(ctx):
        ctx.engine.put(source, name)

    def verify(ctx, oracles):
        written = oracles.checksum(
            f"SELECT * FROM read_parquet('{ctx.warehouse}/{name}/*.parquet')", cache=False
        )
        expected = oracles.checksum(source_sql)
        return None if written == expected else f"put {name}: {written} != {expected}"

    return Op(f"put_{name}", "catalog.put", run, verify=verify)


def _repl_session(data_dir: str, fx: Fixtures) -> list[Op]:
    """The reference's REPL session (put, maple, juice, select, grep)
    replayed through ``Engine`` verbs."""

    def maple(ctx):
        return ctx.engine.maple("kv", kv_maple, num_maples=4, intermediate="kv_pairs")

    def juice(ctx):
        return ctx.engine.juice("kv_pairs", kv_juice, num_juices=4, dest="kv_counts",
                                partition="range", delete_input=True)

    def juice_deleted_input(ctx, oracles):
        return "juice kept its input" if "kv_pairs" in ctx.engine.store() else None

    def select(ctx):
        return ctx.engine.select("orders", f",{fx.select_priority}$")

    def grep(mode):
        return lambda ctx: ctx.engine.grep(f"{fx.logs_dir}/*.log", GREP_REGEX, mode)

    matched = f"FROM logs WHERE regexp_matches(value, '{GREP_REGEX}')"
    return [
        _put_op("lineitem", f"{data_dir}/lineitem.parquet",
                f"SELECT * FROM read_parquet('{data_dir}/lineitem.parquet')"),
        _put_op("orders", f"{data_dir}/orders.parquet",
                f"SELECT * FROM read_parquet('{data_dir}/orders.parquet')"),
        _put_op("kv", fx.kv_csv, "SELECT * FROM kv"),
        Op("maple_kv", "maplejuice.maple", maple,
           f"SELECT {_SANITIZED_KEY} AS key, value FROM kv"),
        Op("juice_kv", "maplejuice.juice", juice,
           f"SELECT key, CAST(count(*) AS VARCHAR) || ':' || "
           f"CAST(count(DISTINCT value) AS VARCHAR) AS value "
           f"FROM (SELECT {_SANITIZED_KEY} AS key, value FROM kv) GROUP BY key",
           verify=juice_deleted_input),
        Op("select_orders", "engine.select", select,
           f"SELECT * FROM orders WHERE o_orderpriority = '{fx.select_priority}'"),
        Op("grep_a", "engine.grep", grep("a"), f"SELECT machine, value {matched}"),
        Op("grep_m", "engine.grep", grep("m"),
           f"SELECT machine, count(*) AS cnt {matched} GROUP BY machine"),
    ]


def pass_ops(workload: str, rng: random.Random, data_dir: str,
             fx: Fixtures | None) -> list[Op]:
    """One pass of ``workload``: its registry queries in an order drawn
    from ``rng``, after the REPL session for ``maplejuice`` (whose
    steps depend on each other, so their order is fixed)."""
    names = list(QUERY_OPS[workload])
    rng.shuffle(names)
    ops = [_query_op(n) for n in names]
    if workload == "maplejuice":
        ops = _repl_session(data_dir, fx) + ops
    return ops
