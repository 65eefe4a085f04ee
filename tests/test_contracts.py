"""Source- and data-level contracts that need no Spark session.

- Library code has one plan per query: an A/B env switch must not
  come back. The only environment reads allowed in the package are the
  deployment settings and one diagnostic.
- `latest_event_per_user_agg` packs (ts, event_id) into
  ``unix_micros(ts) * 10^11 + event_id``. That order is exact only while
  every event_id is below 10^11 and no ts is before the epoch, so the
  test data and the scaling harness's shifted ids must stay inside it.
- Tools and tests find the checkout from their own ``__file__``: a run
  from another copy must read and write that copy, not this one.
- Every top-level function and class in the package has a caller on a
  program path: a registered query, an `Engine`/CLI verb, perfbench, a
  tool, ``bench.py`` or ``__spark_entry__.py``. A def that only tests
  call is dead code.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "distributed_mapreduce_spark")

#: (path relative to the package, variable) pairs the library may read.
#: JAVA_HOME and SPARK_CONF_DIR are launcher deployment settings that
#: session.py reads to mirror `spark-class` when keying and launching
#: the driver's class-data-sharing archive.
ALLOWED_ENV_READS = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_GRAFT_DRIVER_MEM"),
    ("session.py", "JAVA_HOME"),
    ("session.py", "SPARK_CONF_DIR"),
    ("workload/streaming_q.py", "TZ"),
}

PACK = 10**11


def test_library_reads_no_env_switch():
    reads = set()
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG)
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                if not re.search(r"\b(environ|getenv)\b", line):
                    continue
                m = re.search(r"""(?:environ|getenv)\s*(?:\.get)?\s*[\[(]\s*["'](\w+)["']""", line)
                reads.add((rel, m.group(1) if m else f"<unparsed at line {lineno}>"))
    assert reads <= ALLOWED_ENV_READS, sorted(reads - ALLOWED_ENV_READS)


def test_tools_and_tests_derive_the_checkout():
    hits = []
    for sub in ("tools", "tests"):
        for path in glob.glob(os.path.join(REPO, sub, "**", "*.py"), recursive=True):
            with open(path) as f:
                hits += [
                    f"{os.path.relpath(path, REPO)}:{n}"
                    for n, line in enumerate(f, 1)
                    if REPO in line
                ]
    assert hits == []


def test_latest_event_packing_bounds_hold_on_test_data(sf_dir):
    event_sets = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*", "events.parquet")))
    assert event_sets
    for events in event_sets:
        max_id, ts_ok = duckdb.sql(
            f"SELECT max(event_id), min(ts) >= TIMESTAMP '1970-01-01' "
            f"FROM read_parquet('{events}')"
        ).fetchone()
        assert 0 <= max_id < PACK, events
        assert ts_ok, events


def test_latest_event_packing_bound_covers_scaling_harness(sf_dir):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scaling_bench import ID_OFFSET

    events = os.path.join(os.path.dirname(sf_dir), "sf0.1", "events.parquet")
    (max_id,) = duckdb.sql(f"SELECT max(event_id) FROM read_parquet('{events}')").fetchone()
    # x1000 = 10 replicas of the x100 corpus at id stride 100, so the
    # largest shift is (9 * 100 + 99) * ID_OFFSET.
    assert max_id + 999 * ID_OFFSET < PACK


def _program_files() -> list[str]:
    """The package, perfbench's non-test modules, the tools and the two
    entry scripts."""
    files = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    files += [
        p for p in glob.glob(os.path.join(REPO, "perfbench", "**", "*.py"), recursive=True)
        if "tests" not in os.path.relpath(p, REPO).split(os.sep)
    ]
    files += glob.glob(os.path.join(REPO, "tools", "*.py"))
    return files + [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]


def _loads(nodes) -> set[str]:
    """Names the nodes read: a loaded ``Name`` or any attribute. Imports,
    ``__all__`` strings and comments name nothing."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _registers(decorator: ast.expr) -> bool:
    """``@query(...)`` (a registry builder) or ``@atexit.register``."""
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) in (
        "query", "register",
    )


def test_every_package_def_has_a_program_caller():
    """A package def is reached when program code outside its own body
    reads its name, or when a decorator registers it. Reach grows from
    module-level code to a fixed point, so two dead helpers that only
    call each other stay unreached."""
    defs: dict[str, list[str]] = {}  # name -> ["module:line", ...]
    body_loads: dict[str, set[str]] = {}
    reached: set[str] = set()
    for path in _program_files():
        with open(path) as f:
            tree = ast.parse(f.read())
        in_pkg = path.startswith(PKG + os.sep)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                reached |= _loads([node])
                continue
            reached |= _loads(node.decorator_list)
            body = _loads(n for n in ast.iter_child_nodes(node) if n not in node.decorator_list)
            if not in_pkg:  # a tool's or perfbench's own defs are roots
                reached |= body
                continue
            defs.setdefault(node.name, []).append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
            body_loads.setdefault(node.name, set()).update(body)
            if any(_registers(d) for d in node.decorator_list):
                reached.add(node.name)
    frontier = list(reached)
    while frontier:
        for name in body_loads.get(frontier.pop(), ()):
            if name not in reached:
                reached.add(name)
                frontier.append(name)
    dead = sorted(f"{where} {name}" for name, at in defs.items() if name not in reached for where in at)
    assert dead == [], dead
