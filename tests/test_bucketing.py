"""Bucketed tables must eliminate the join/agg shuffle entirely."""

from __future__ import annotations

import pytest

from distributed_mapreduce_spark.plans import explain_str
from distributed_mapreduce_spark.sources.bucketing import read_bucketed, write_bucketed


@pytest.fixture()
def bucketed_pair(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 4, str(tmp_path / "bo"))
    write_bucketed(lineitem, "b_lineitem", "o_orderkey", 4, str(tmp_path / "bl"))
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    a, b = bucketed_pair
    joined = read_bucketed(spark, a).hint("merge").join(read_bucketed(spark, b), "o_orderkey")
    plan = explain_str(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # both sides pre-clustered by bucket


def test_bucketed_join_result_correct(spark, bucketed_pair, sf_dir):
    a, b = bucketed_pair
    got = read_bucketed(spark, a).join(read_bucketed(spark, b), "o_orderkey").count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    expected = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    assert got == expected


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_pair):
    from pyspark.sql import functions as F

    a, _ = bucketed_pair
    agg = read_bucketed(spark, a).groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c"))
    assert "Exchange" not in explain_str(agg)
