"""MapleJuice surface: functional runners, executable shim, SELECT, and
the Engine facade's catalog verbs."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.engine import Engine
from distributed_mapreduce_spark.maplejuice import (
    juice,
    juice_exe,
    maple,
    maple_exe,
    select_where,
)


def wordcount_maple(pdf: pd.DataFrame):
    for line in pdf["value"]:
        for w in str(line).split():
            yield (w, "1")


def sum_juice(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"key": [key], "value": [str(len(pdf))]})


@pytest.fixture()
def lines(spark):
    return spark.createDataFrame(
        [("a b a",), ("b c",), ("a",)], ["value"]
    )


def test_maple_juice_wordcount(spark, lines):
    kv = maple(lines, wordcount_maple, num_maples=3)
    out = juice(kv, sum_juice, num_juices=2, partition="hash")
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_juice_range_partitioning_same_result(spark, lines):
    kv = maple(lines, wordcount_maple, num_maples=2)
    out = juice(kv, sum_juice, num_juices=2, partition="range")
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_exe_runners_pipe(spark, lines):
    # maple exe: awk emits (word, 1) per whitespace token;
    # juice exe: awk sums values per key (order within a partition).
    kv = maple_exe(lines, "awk '{for(i=1;i<=NF;i++) print $i \"\\t\" 1}'", num_maples=2)
    out = juice_exe(
        kv,
        "awk -F'\\t' '{s[$1]+=$2} END {for (k in s) print k \"\\t\" s[k]}'",
        num_juices=2,
    )
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_select_where_whole_line(spark):
    df = spark.createDataFrame([("Video", "Radio"), ("Radio", "Video")], ["a", "b"])
    got = select_where(df, "Video,Radio").collect()
    assert len(got) == 1 and got[0]["a"] == "Video"
    assert select_where(df, "Video,Radio").columns == ["a", "b"]  # no helper column leak


def test_engine_catalog_roundtrip(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "warehouse"))
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    eng.put(df, "t1")
    assert eng.store() == ["t1"]
    assert {tuple(r) for r in eng.get("t1").collect()} == {(1, "x"), (2, "y")}
    meta = eng.ls("t1")
    assert meta["name"] == "t1" and meta["bytes"] > 0
    assert set(eng.filetable()) == {"t1"}
    assert eng.delete("t1") is True
    assert eng.store() == []
    assert eng.delete("t1") is False


def test_engine_maple_juice_with_named_datasets(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.put(spark.createDataFrame([("a b",), ("a",)], ["value"]), "src")
    eng.maple("src", wordcount_maple, num_maples=2, intermediate="inter")
    out = eng.juice("inter", sum_juice, num_juices=2, dest="final", delete_input=True)
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 2, "b": 1}
    assert eng.store() == ["final", "src"]  # intermediate deleted


def test_engine_grep_modes(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "vm1.log").write_text("err x\nok\nerr y\n")
    (logs / "vm2.log").write_text("ok\nerr z\n")
    eng = Engine(spark, str(tmp_path / "wh"))
    glob = str(logs / "*.log")
    assert eng.grep(glob, "^err", "c").collect()[0]["cnt"] == 3
    per = {r["machine"]: r["cnt"] for r in eng.grep(glob, "^err", "m").collect()}
    assert per == {"vm1.log": 2, "vm2.log": 1}
    assert eng.grep(glob, "^err", "a").count() == 3


def test_sink_merged_csv_single_file_roundtrip(spark, tmp_path):
    """conglomerate parity: exactly ONE csv part file, content intact."""
    import glob

    from distributed_mapreduce_spark.sources.sinks import sink_merged_csv

    df = spark.createDataFrame(
        [("Video", 3, "60.00%"), ("Loop", 2, "40.00%")], ["detection", "cnt", "pct"]
    )
    out = str(tmp_path / "merged")
    sink_merged_csv(df, out)
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1  # the reference's single-file contract
    back = spark.read.option("header", True).csv(out)
    assert {tuple(r) for r in back.collect()} == {
        ("Video", "3", "60.00%"),
        ("Loop", "2", "40.00%"),
    }

    # and the at-scale default keeps partitioning
    pq = str(tmp_path / "pq")
    df.write.partitionBy("detection").parquet(pq)
    import os
    assert any(d.startswith("detection=") for d in os.listdir(pq))


@pytest.mark.deepaudit
def test_cli_put_store_select_roundtrip(tmp_path):
    """End-user CLI smoke: put a CSV, list it, run a SELECT — in a
    subprocess, exactly as a user would (fresh JVM, no test session).
    deepaudit tier: three fresh-JVM subprocesses cost ~45 s; the
    in-session CLI roundtrip (test_cli_e2e) and the fresh-subprocess
    driver-contract test (test_workload) keep default coverage."""
    import csv
    import subprocess
    import sys

    src = tmp_path / "traffic_mini.csv"
    with open(src, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Detection_", "Interconne"])
        w.writerows([["Video", "Fiber"], ["Loop", "Radio"], ["Video", "Radio"]])

    wh = str(tmp_path / "wh")
    base = [sys.executable, "-m", "distributed_mapreduce_spark", "--warehouse", wh, "--cpus", "2"]
    env = {"PYTHONPATH": str(Path(__file__).resolve().parents[1]), "PATH": "/usr/bin:/bin", "HOME": str(Path.home()),
           "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")}

    r = subprocess.run(base + ["put", str(src), "traffic"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    r = subprocess.run(base + ["store"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0 and "traffic" in r.stdout, r.stderr[-2000:]
    r = subprocess.run(base + ["select", "traffic", "Video,Radio"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    # Whole-line regex: only the row where Video is adjacent to Radio.
    assert "Video" in r.stdout and "Loop" not in r.stdout
