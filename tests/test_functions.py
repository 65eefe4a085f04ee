"""String-semantics unit tests on crafted messy values — the classes
FIXTURES.md calls load-bearing: whitespace, empties, slashes, the
"empty" sentinel, exact percent formatting."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.strings import (
    normalize_empty,
    pct_of_total_str,
    sanitize_key,
)


def test_normalize_empty(spark):
    df = spark.createDataFrame(
        [(" Fiber/Radio ",), ("",), ("   ",), (None,), ("Loop",)], ["v"]
    )
    got = [r[0] for r in df.select(normalize_empty("v")).collect()]
    assert got == ["Fiber/Radio", "empty", "empty", "empty", "Loop"]


def test_sanitize_key(spark):
    df = spark.createDataFrame(
        [("Fiber/Radio",), ("Loop Video",), ("  ",), ("a/b c",)], ["v"]
    )
    got = [r[0] for r in df.select(sanitize_key("v")).collect()]
    assert got == ["Fiber_Radio", "Loop_Video", "empty", "a_b_c"]


def test_pct_formatting_truncates_to_two_decimals(spark):
    # 1/3 of 100 = 33.33...% -> "33.33%"; 1/32 = 3.125% -> "3.12%"
    # (truncation, engine-portable; never float printf rounding)
    df = spark.createDataFrame([(1, 3), (1, 32), (1, 2), (1, 1)], ["c", "t"])
    got = [
        r[0]
        for r in df.select(pct_of_total_str(F.col("c"), F.col("t"))).collect()
    ]
    assert got == ["33.33%", "3.12%", "50.00%", "100.00%"]


def test_rolling_hash_is_order_sensitive(spark):
    from distributed_mapreduce_spark.workload import ORACLES
    from distributed_mapreduce_spark.workload.registry import to_spark

    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
        ["doc_id", "text"],
    ).createOrReplaceTempView("documents")
    try:
        rows = spark.sql(to_spark(ORACLES["text_rolling_hash"])).collect()
    finally:
        spark.catalog.dropTempView("documents")
    got = {r["doc_id"]: r["rolling_fp"] for r in rows}
    assert got[1] == got[3]          # identical text, identical fp
    assert got[1] != got[2]          # permuted tokens change the fp
    assert got[4] == 0               # empty text folds to the seed
