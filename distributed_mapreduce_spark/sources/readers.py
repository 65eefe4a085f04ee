"""Scan operators (SURVEY.md §2.1).

The reference reads whole files line-by-line on a single leader
(partition_csv at file_server/fileserver.py:265-289 materializes every
row before splitting). Here every scan is a distributed, splittable
Spark read: filters and projections declared downstream reach the scan
(PushedFilters / ReadSchema in `.explain`), which is the difference
between reading 100 TB and reading the two columns you asked for.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def scan_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    schema: T.StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """Read a CSV dataset (reference: csv.reader at fileserver.py:265-289;
    header skip per hadoop/TrafficMapper.java:33-35 → `header=True`).

    Default is all-StringType (the reference's untyped line model,
    SURVEY.md §1.2): pass `schema` or `infer=True` for typed reads.
    `infer` costs an extra full pass — never use it on production-scale
    inputs; provide the schema.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def scan_text(spark: SparkSession, path: str) -> DataFrame:
    """Read files as raw lines → DataFrame[value: string].

    Reference: bufio.Scanner loops (data/sql-juice.go:49-57,
    data/maple-exe.go:82-93). Serves the grep / whole-line-regex paths.
    """
    return spark.read.text(path)


def scan_prefix_glob(
    spark: SparkSession,
    directory: str,
    prefix: str,
    suffix: str = "",
    fmt: str = "text",
) -> DataFrame:
    """Select input files by name prefix (+ optional suffix).

    Reference: filepath.Walk + strings.HasPrefix
    (data/maple-exe.go:114-126, data/juice-exe.go:45-60). Spark path
    globs resolve on the driver against the file listing — no data read.
    """
    pattern = f"{directory}/{prefix}*{suffix}"
    if fmt == "text":
        return spark.read.text(pattern)
    if fmt == "csv":
        return spark.read.option("header", False).csv(pattern)
    if fmt == "parquet":
        return scan_parquet(spark, pattern)
    raise ValueError(f"unsupported format: {fmt}")


#: Bound on the inferred-schema LRU: one entry per (path, file
#: listing, inference confs) version.
SCHEMA_CACHE_SIZE = 256

#: Confs whose value changes the schema parquet inference returns; their
#: effective values are part of the cache key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: OrderedDict[tuple, T.StructType] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def fingerprint(path: str) -> tuple | None:
    """``(relpath, st_size, st_mtime_ns, st_ino)`` of every file under a
    local path, or None when the path is a URI, a glob or unreadable.
    Any rewrite (Spark writes new part files; an in-place write moves
    size or mtime) yields a new fingerprint, so a memo keyed on it (the
    schema cache here, the graph wedge and dedup pair volumes) is never
    served stale."""
    if "://" in path or any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        files = []
        for dp, dns, fns in os.walk(path):
            dns.sort()
            for f in sorted(fns):
                full = os.path.join(dp, f)
                fst = os.stat(full)
                files.append(
                    (os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns, fst.st_ino)
                )
        return tuple(files)
    except OSError:
        return None


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan — the engine's native storage format, and its only
    parquet read.

    A plain ``spark.read.parquet`` runs a one-task schema-inference job
    (footer read) on every call, although the harness tables never
    change; at small scale that job is a large share of a query's
    driver floor. The inferred schema is therefore cached per file
    version: the key is the path, the fingerprint of every file under
    it and the effective values of the inference confs, and a hit reads
    with the cached schema and runs no job. A path that cannot be
    fingerprinted (a non-local URI or a glob) infers on every call.
    """
    files = fingerprint(path)
    if files is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    key = (os.path.abspath(path), files, confs)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
        _SCHEMAS.move_to_end(key)
        if len(_SCHEMAS) > SCHEMA_CACHE_SIZE:
            _SCHEMAS.popitem(last=False)
    return df


def scan_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written with DIFFERENT
    (evolving) schemas: `mergeSchema` unions the per-file schemas and
    null-fills columns absent from older files.

    Costs a footer read per file at planning time — fine for landing
    dirs, wasteful on huge static tables (there, declare the schema).
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def scan_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read newline-delimited JSON (the interchange format LLM corpora
    actually ship in — one document object per line).

    JSONL is splittable exactly like the reference's line model (the
    record separator is the newline), so a 100 TB corpus parallelizes
    per input split with no coordination. ALWAYS pass `schema` at
    scale: without it Spark runs a full inference pass first, and
    schema drift across files silently widens columns. Malformed lines
    surface in `_corrupt_record` (PERMISSIVE default) instead of
    failing the job — filter or count them as a data-quality signal.
    CAVEAT: with an explicit `schema`, the `_corrupt_record` column
    only materializes if the schema itself includes a
    `StructField("_corrupt_record", StringType())`; otherwise corrupt
    lines silently become all-null rows (tests/test_operators.py
    `test_jsonl_corrupt_record_surface` shows the pattern).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan (Spark-native reader — same predicate-pushdown
    / column-pruning surface as parquet; ORC is the other standard
    lakehouse file format, common in Hive-lineage warehouses). No
    DuckDB oracle exists for ORC, so parity is certified by the
    round-trip test (`tests/test_sources_formats.py`): parquet-read →
    orc-write → orc-read must be content-identical."""
    return spark.read.orc(path)
