"""Operator behavior on crafted data (trim-compare, whole-line regex,
physical partitioning, joins, top-k)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.aggregates import (
    agg_count_per_value,
    agg_pct_of_total,
)
from distributed_mapreduce_spark.operators.filters import (
    filter_eq_param,
    filter_min_arity,
    filter_rlike_line,
)
from distributed_mapreduce_spark.operators.joins import join_anti, join_inner, join_semi
from distributed_mapreduce_spark.operators.partitioning import (
    hash_bucket,
    partition_hash,
    partition_range,
    range_bucket,
    row_range_shard,
    row_range_shard_scalable,
)
from distributed_mapreduce_spark.operators.setops import top_k, union_all


def test_filter_eq_param_trims_before_compare(spark):
    df = spark.createDataFrame([(" F ",), ("F",), ("O",), ("  ",)], ["s"])
    assert filter_eq_param(df, "s", "F").count() == 2


def test_filter_rlike_whole_line_adjacency(spark):
    # 'Video,Radio' must match column ADJACENCY across the joined line
    # (reference README.md:52-56 semantics).
    df = spark.createDataFrame(
        [("Video", "Radio"), ("Radio", "Video"), ("Video", "None")], ["a", "b"]
    )
    assert filter_rlike_line(df, "Video,Radio").count() == 1
    assert filter_rlike_line(df, "Video|Radio").count() == 3


def test_filter_min_arity(spark):
    df = spark.createDataFrame([("a,b,c",), ("a,b",), ("a,b,c,d",)], ["line"])
    assert filter_min_arity(df, "line", ",", 3).count() == 2


def test_agg_count_per_value_counts_duplicates(spark):
    # duplicated (key,value) lines counted per occurrence
    # (data/juice-exe.go:29)
    df = spark.createDataFrame(
        [("k1", "v"), ("k1", "v"), ("k1", "w"), ("k2", "v")], ["key", "value"]
    )
    got = {(r["key"], r["value"]): r["cnt"] for r in agg_count_per_value(df, "key", "value").collect()}
    assert got == {("k1", "v"): 2, ("k1", "w"): 1, ("k2", "v"): 1}


def test_agg_pct_of_total(spark):
    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, ["g"])
    got = {r["g"]: (r["cnt"], r["pct"]) for r in agg_pct_of_total(df, "g").collect()}
    assert got == {"a": (3, "75.00%"), "b": (1, "25.00%")}


def test_partition_hash_places_equal_keys_together(spark):
    df = spark.createDataFrame([(i % 5, i) for i in range(100)], ["key", "v"])
    parts = (
        partition_hash(df, "key", 4)
        .withColumn("pid", F.spark_partition_id())
        .select("key", "pid")
        .distinct()
        .groupBy("key")
        .count()
        .collect()
    )
    assert partition_hash(df, "key", 4).rdd.getNumPartitions() == 4
    assert all(r["count"] == 1 for r in parts)  # each key in exactly one partition


def test_partition_range_is_contiguous(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], ["key"])
    rngs = (
        partition_range(df, "key", 4)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    # partitions form non-overlapping contiguous key ranges
    for prev, cur in zip(rngs, rngs[1:]):
        assert prev["hi"] < cur["lo"]


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


def test_join_family(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "lv"])
    right = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")], ["k", "rv"])
    assert join_inner(left, right, "k").count() == 3
    assert {r["k"] for r in join_semi(left, right, "k").collect()} == {1, 3}
    assert {r["k"] for r in join_anti(left, right, "k").collect()} == {2}


def test_top_k(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["v"])
    got = [r["v"] for r in top_k(df, 3, F.col("v").desc()).collect()]
    assert got == [99, 98, 97]


def test_union_all_by_name(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "k"])  # reordered columns
    got = {(r["k"], r["v"]) for r in union_all(a, b).collect()}
    assert got == {(1, "x"), (2, "y")}


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    """documents → JSONL → documents round-trips values and schema
    (explicit schema on read — the at-scale contract)."""
    from distributed_mapreduce_spark.sources.readers import scan_jsonl
    from distributed_mapreduce_spark.sources.sinks import sink_jsonl
    from distributed_mapreduce_spark.workload.registry import table

    docs = table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    sink_jsonl(docs, out)
    back = scan_jsonl(spark, out, schema=docs.schema)
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_corrupt_record_surface(spark, tmp_path):
    """Malformed lines land in _corrupt_record instead of failing the
    read (the data-quality contract scan_jsonl documents)."""
    import json as _json

    from pyspark.sql import types as T

    from distributed_mapreduce_spark.sources.readers import scan_jsonl

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        _json.dumps({"doc_id": 1, "text": "ok"})
        + "\n{not json at all\n"
        + _json.dumps({"doc_id": 2, "text": "also ok"})
        + "\n"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = scan_jsonl(spark, str(p), schema=schema).cache()
    assert df.count() == 3
    assert df.filter("_corrupt_record IS NOT NULL").count() == 1
    assert df.filter("doc_id IS NOT NULL").count() == 2
    df.unpersist()


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
