"""The inferred-schema cache behind `sources.readers.scan_parquet`: a
warm read of an unchanged file runs no Spark job, and a cached schema
is never served for a different file version or inference conf."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from distributed_mapreduce_spark.catalog import Catalog
from distributed_mapreduce_spark.sources.readers import scan_parquet
from distributed_mapreduce_spark.workload.registry import table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_AS_STRING = "spark.sql.parquet.binaryAsString"


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs `fn()` launches. A sentinel job in its own
    group runs after `fn`; the listener bus delivers job starts in
    order, so once the sentinel is visible to `statusTracker`, every
    job `fn` launched is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, sentinel = f"schema-cache-{uuid.uuid4().hex}", f"sentinel-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.setJobGroup(sentinel, sentinel)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached statusTracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def restore_confs(spark):
    saved = {k: spark.conf.get(k) for k in (NANOS_AS_LONG, BINARY_AS_STRING)}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_second_scan_of_unchanged_file_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(10).selectExpr("id", "cast(id AS string) AS s").write.parquet(path)

    assert _jobs_launched(spark, lambda: scan_parquet(spark, path)) >= 1
    assert _jobs_launched(spark, lambda: scan_parquet(spark, path)) == 0
    assert scan_parquet(spark, path).count() == 10


def test_catalog_overwrite_serves_the_new_schema(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "warehouse"))
    cat.put(spark.range(3).selectExpr("id AS a"), "ds")
    assert cat.get("ds").columns == ["a"]
    assert cat.get("ds").columns == ["a"]  # warm

    cat.put(spark.range(3).selectExpr("id AS a", "cast(id AS string) AS b"), "ds")
    got = cat.get("ds")
    assert got.columns == ["a", "b"]
    assert sorted(r.b for r in got.collect()) == ["0", "1", "2"]


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_table_schema_equals_uncached_read(spark, sf_dir, restore_confs, nanos_as_long):
    """Whatever `nanosAsLong` the session held, every harness table's
    cached `table()` schema is the one an uncached read infers under
    the confs `table()` sets (the sf0.001 events `ts` is stored in
    microseconds, so `table()` does not rewrite it)."""
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert "events" in names and len(names) >= 10
    for name in names:
        spark.conf.set(NANOS_AS_LONG, nanos_as_long)
        table(spark, sf_dir, name)
        cached = table(spark, sf_dir, name).schema
        assert cached == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema, name


def test_inference_conf_is_part_of_the_key(spark, tmp_path, restore_confs):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)

    spark.conf.set(BINARY_AS_STRING, "true")
    assert scan_parquet(spark, path).dtypes == [("b", "string")]
    spark.conf.set(BINARY_AS_STRING, "false")
    assert _jobs_launched(spark, lambda: scan_parquet(spark, path)) >= 1
    assert scan_parquet(spark, path).dtypes == [("b", "binary")]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """An in-place rewrite keeps the file name, so only size, mtime and
    inode tell the versions apart."""
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert scan_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "c": ["p", "q"]}), path)
    assert scan_parquet(spark, path).columns == ["a", "c"]


def test_glob_path_reads_uncached(spark, tmp_path):
    for i in range(2):
        pq.write_table(pa.table({"a": [i]}), str(tmp_path / f"part{i}.parquet"))
    glob = str(tmp_path / "part*.parquet")
    assert sorted(r.a for r in scan_parquet(spark, glob).collect()) == [0, 1]
    assert _jobs_launched(spark, lambda: scan_parquet(spark, glob)) >= 1


def test_misspelt_column_still_raises_analysis_exception(spark, sf_dir):
    table(spark, sf_dir, "orders")
    orders = table(spark, sf_dir, "orders")  # warm: read with the cached schema
    with pytest.raises(AnalysisException, match="o_orderkeyy"):
        orders.select("o_orderkeyy")
