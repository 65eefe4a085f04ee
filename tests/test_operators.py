"""Operator behavior on crafted data (trim-compare, whole-line regex,
bucket and shard assignment)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.maplejuice import select_where
from distributed_mapreduce_spark.operators.aggregates import agg_pct_of_total
from distributed_mapreduce_spark.operators.filters import filter_eq_param, filter_min_arity
from distributed_mapreduce_spark.operators.partitioning import (
    hash_bucket,
    range_bucket,
    row_range_shard,
    row_range_shard_scalable,
)


def test_filter_eq_param_trims_before_compare(spark):
    df = spark.createDataFrame([(" F ",), ("F",), ("O",), ("  ",)], ["s"])
    assert filter_eq_param(df, "s", "F").count() == 2


def test_filter_rlike_whole_line_adjacency(spark):
    # 'Video,Radio' must match column ADJACENCY across the joined line
    # (reference README.md:52-56 semantics).
    df = spark.createDataFrame(
        [("Video", "Radio"), ("Radio", "Video"), ("Video", "None")], ["a", "b"]
    )
    assert select_where(df, "Video,Radio").count() == 1
    assert select_where(df, "Video|Radio").count() == 3


def test_filter_min_arity(spark):
    df = spark.createDataFrame([("a,b,c",), ("a,b",), ("a,b,c,d",)], ["line"])
    assert filter_min_arity(df, "line", ",", 3).count() == 2


def test_agg_pct_of_total(spark):
    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, ["g"])
    got = {r["g"]: (r["cnt"], r["pct"]) for r in agg_pct_of_total(df, "g").collect()}
    assert got == {"a": (3, "75.00%"), "b": (1, "25.00%")}


def test_row_range_shard_scalable_matches_parity_op(spark):
    # Same (key → shard) assignment as the single-task parity operator,
    # through the distributed zipWithIndex plan — on a key space shuffled
    # out of order so the range shuffle actually has to re-sort.
    df = spark.createDataFrame([((i * 37) % 1001,) for i in range(1001)], ["key"])
    want = {(r["key"], r["shard"]) for r in row_range_shard(df, ["key"], 7).collect()}
    got = {
        (r["key"], r["shard"])
        for r in row_range_shard_scalable(df, ["key"], 7, num_partitions=8).collect()
    }
    assert got == want


def test_row_range_shard_scalable_has_no_single_task_sort(spark):
    from distributed_mapreduce_spark.plans import explain_str

    df = spark.createDataFrame([(i,) for i in range(100)], ["key"])
    plan = explain_str(row_range_shard_scalable(df, ["key"], 4, num_partitions=8), mode="simple")
    # The heavy data goes through a parallel range exchange and
    # per-partition sorts only. In simple-mode plan strings a global
    # sort prints as `Sort [...], true, 0` — the parity op has one, the
    # scalable plan must have none (its only single-partition work is
    # the P-row offsets window).
    assert "rangepartitioning(key" in plan
    assert ", true, 0" not in plan


def test_global_rank_jvm_numbering_is_exact(spark):
    # The per-partition local row number is a monotonically_increasing_id
    # projection masked to its low 33 bits. The keys (i*53) % 997 are a
    # shuffled permutation of 0..996 spread over 8 range partitions, so
    # the exact global rank of each row is key + 1.
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    df = spark.createDataFrame([((i * 53) % 997,) for i in range(997)], ["key"])
    try:
        rows = global_rank(df, [F.col("key")], num_partitions=8).collect()
    finally:
        spark.catalog.clearCache()
    assert len(rows) == 997
    for r in rows:
        assert r["rank"] == r["key"] + 1
        assert r["total"] == 997


def test_bucket_assignments_are_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], ["key"])
    a = {(r["key"], r["bucket"]) for r in hash_bucket(df, "key", 8).collect()}
    b = {(r["key"], r["bucket"]) for r in hash_bucket(df, "key", 8).collect()}
    assert a == b
    rb = range_bucket(df, "key", 5).collect()
    by_bucket: dict[int, list[int]] = {}
    for r in rb:
        by_bucket.setdefault(r["bucket"], []).append(r["key"])
    sizes = {len(v) for v in by_bucket.values()}
    assert sizes == {10}  # balanced
    # contiguous: bucket i's max < bucket i+1's min
    for i in range(4):
        assert max(by_bucket[i]) < min(by_bucket[i + 1])


def test_orc_roundtrip_documents(spark, sf_dir, tmp_path):
    """ORC write/read round-trips values and schema (second columnar
    format besides parquet; both splittable with predicate pushdown)."""
    from distributed_mapreduce_spark.workload.registry import table

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_snapshot_diff_classifies_changes(spark):
    """Versioning primitive: insert/delete/update classification from a
    full-outer key diff on synthetic snapshots."""
    from distributed_mapreduce_spark.workload.versioning import snapshot_diff

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    v1 = spark.createDataFrame(
        [(1, 10, "O", 5.0), (2, 20, "F", 6.0), (3, 30, "O", 7.0)], cols
    )
    v2 = spark.createDataFrame(
        [(1, 10, "O", 5.0),          # unchanged -> absent from diff
         (2, 20, "P", 6.0),          # status changed -> update
         (4, 40, "O", 8.0)], cols    # new key -> insert; key 3 -> delete
    )
    got = {
        r["o_orderkey"]: (r["change_type"], r["old_status"], r["new_status"])
        for r in snapshot_diff(v1, v2).collect()
    }
    assert got == {
        2: ("update", "F", "P"),
        3: ("delete", "O", None),
        4: ("insert", None, "O"),
    }
