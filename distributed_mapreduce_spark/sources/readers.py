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
