"""Bucketed tables — pre-shuffled storage for co-located joins.

The scale story: a 100 TB fact table joined repeatedly on the same key
should pay its shuffle ONCE, at write time. `bucketBy(n, key)` +
`sortBy(key)` persists hash-clustered, pre-sorted buckets; any later
equi-join or aggregation on that key satisfies Catalyst's distribution
requirement with zero exchanges (verified in tests/test_bucketing.py by
asserting the join plan contains no Exchange).

This is the durable version of the reference's juice-time hash
partitioning (fileserver.py:682-698): partition once, reuse forever,
instead of re-partitioning per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist as an external bucketed table (explicit `path` keeps the
    data out of the default warehouse and makes cleanup explicit)."""
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, key)
    )
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read back with bucket metadata intact (must go through the
    catalog — a plain parquet path read loses bucketing)."""
    return spark.table(table_name)
