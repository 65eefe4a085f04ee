"""User-visible partitioning operators (SURVEY.md §2.8).

The reference exposes `partition_type ∈ {hash, range}` on the juice
command (README.md:45; hash at file_server/fileserver.py:682-698, range
at 700-732). In Spark, physical placement is `repartition` /
`repartitionByRange`; the *logical* bucket id (which the reference
derived from Python's nondeterministic `hash()` — fileserver.py:693) is
re-expressed with deterministic, engine-portable arithmetic so results
are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def _local_row_number(with_pid: DataFrame, out_col: str) -> DataFrame:
    """1-based row number within each physical partition, attached as a
    pure JVM projection: `monotonically_increasing_id()` encodes
    (partition_id << 33) | row_index_in_partition, so the local index is
    `mid & (2^33 - 1)` — no Arrow transpose, no Python worker, where the
    previous `mapInPandas` numbering shipped EVERY column of every row
    through the Python boundary both ways (guide §4: the numbering needs
    zero columns, yet paid for all of them). Row order is the cached
    `sortWithinPartitions` order — projections preserve it, and a lost
    cache partition recomputes through the deterministic range shuffle,
    the same retry contract `global_cumsum`'s Arrow pass relies on.

    Bound (ADVICE r12): `monotonically_increasing_id` allots 33 bits to
    the per-partition counter, so a SINGLE physical partition holding
    more than 2^33 (~8.6e9) rows would silently wrap the local index.
    Callers size partitions via `num_partitions`/defaultParallelism;
    keeping partitions under ~10^9 rows (they must, to sort in memory
    at all) keeps 2^33 unreachable by orders of magnitude."""
    return with_pid.withColumn(
        out_col,
        (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1)
        .cast("long"),
    )


def hash_bucket(df: DataFrame, key_col: str, num_buckets: int, bucket_col: str = "bucket") -> DataFrame:
    """Deterministic logical hash-bucket id: md5(key)[0:8] as uint32 % n.

    Portable across engines (md5 is standardized), unlike Python
    `hash()` (run-to-run nondeterministic, fileserver.py:693) or Spark's
    Murmur3 `F.hash` (engine-specific). SQL twin:
    ``('0x' || substr(md5(CAST(k AS STRING)), 1, 8))::BIGINT % n``.
    """
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10).cast("long")
    return df.withColumn(bucket_col, (h % F.lit(num_buckets)).cast("int"))


def range_bucket(df: DataFrame, key_col: str, num_buckets: int, bucket_col: str = "bucket") -> DataFrame:
    """Deterministic logical range-bucket id via NTILE over key order.

    Mirrors the reference's balanced-±1 sorted cuts
    (fileserver.py:713-732) exactly: sort keys, deal them into n
    contiguous runs. NTILE is a single window over the key sort — fine
    for bucket *assignment checks*; physical placement at scale uses
    :func:`partition_range` (sampled, no global sort).
    """
    w = Window.orderBy(F.col(key_col))
    return df.withColumn(bucket_col, (F.ntile(num_buckets).over(w) - 1).cast("int"))


def row_range_shard(
    df: DataFrame, order_cols: list[str], num_shards: int, shard_col: str = "shard"
) -> DataFrame:
    """Contiguous row-range shard id — the reference's `partition_csv`
    input split (fileserver.py:265-289): rows in a defined total order
    cut into `num_shards` equal contiguous ranges.

    PARITY OPERATOR ONLY: the global row_number forces a single-task
    sort, which is exactly why Spark replaced row-range splits with
    automatic per-file input splits (`repartition(n)` for explicit
    control). Kept because it is the reference's user-visible semantics;
    never use it as a physical distribution strategy at scale.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    w_all = Window.partitionBy()
    rn = F.row_number().over(w)
    total = F.count(F.lit(1)).over(w_all)
    return df.withColumn(
        shard_col,
        ((rn - F.lit(1)) * num_shards / total).cast("long").cast("int"),
    )


def row_range_shard_scalable(
    df: DataFrame,
    order_cols: list[str],
    num_shards: int,
    shard_col: str = "shard",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale path for :func:`row_range_shard` — identical assignment
    (`shard = (rank - 1) * n // total` in the `order_cols` total order,
    reference `partition_csv` semantics, fileserver.py:265-289) with NO
    single-task global sort.

    Plan (the distributed zipWithIndex):

    1. `repartitionByRange` on the order columns (sampled bounds — the
       parallel sort) + `sortWithinPartitions`.
    2. A JVM projection (`_local_row_number`) attaches a per-partition
       local row number — narrow, order-preserving, no shuffle.
    3. Per-partition row counts (tiny: one row per partition) turn into
       cumulative offsets with a window over that P-row relation —
       global, but over ~hundreds of rows, the benign pct-of-total
       shape.
    4. A broadcast join attaches (offset, total); the global rank is
       `offset + local_rn`, all per-row arithmetic.

    The heavy data is touched by exactly one range shuffle; determinism
    needs `order_cols` to be a total order (same contract as the parity
    op — equal keys land in the same range partition, so any residual
    tie-order never crosses a shard boundary decision for distinct
    keys).
    """
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    # Persist the (narrow) input: `repartitionByRange` pays a sampling
    # pass over its child to compute the partition bounds, so without a
    # cache the whole upstream plan (often a tokenize/explode/aggregate
    # chain much heavier than the narrow rows handed over here) runs
    # twice, once for the sample job and once for the shuffle map stage
    # (measured r12: text_packing's tokenize ran 2x, ks_statistic's
    # per-value aggregate 3x). Callers project down to (order cols,
    # value col) first, so the cache is a small fraction of their raw
    # input. global_cumsum and global_rank do the same.
    src = df.persist()
    ranged = src.repartitionByRange(p, *[F.col(c) for c in order_cols]).sortWithinPartitions(
        *order_cols
    )
    # Persist before the two-branch fan-out, like global_rank/global_cumsum:
    # the numbered rows and the per-partition counts MUST observe one
    # materialized partitioning. Without this the branches rely on exchange
    # reuse; r12 measured that reuse NOT firing once the input is cached —
    # each branch sampled its own range bounds and the shard offsets came
    # out wrong (caught by the sf0.01 differential on partition_rows_scalable).
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()

    numbered = _local_row_number(with_pid, "_lrn")

    counts = with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = _partition_offsets(counts, "_cnt")

    joined = numbered.join(F.broadcast(offsets), "_pid")
    rn = F.col("_off") + F.col("_lrn")
    return joined.withColumn(
        shard_col,
        ((rn - F.lit(1)) * num_shards / F.col("_total")).cast("long").cast("int"),
    ).drop("_pid", "_lrn", "_off", "_total")


def _partition_offsets(counts: DataFrame, cnt_col: str) -> DataFrame:
    """Exclusive prefix offsets + grand total over the tiny per-partition
    counts relation (one row per partition, so P rows ≈ hundreds even on
    a 1000-executor cluster).

    Computed with an explicit `coalesce(1)` + one Arrow pass rather than
    an unpartitioned window: the single partition is a deliberate choice
    on deliberately-tiny data (Spark folds any constant partition key
    out of a window spec and re-raises the WindowExec single-partition
    warning, which drowns out genuine scale hazards in the logs).

    Returns columns `_pid`, `_off` (sum of counts of lower pids),
    `_total` (sum of all counts).
    """
    import pandas as pd

    schema = StructType(
        [
            StructField("_pid", IntegerType(), False),
            StructField("_off", LongType(), False),
            StructField("_total", LongType(), False),
        ]
    )

    def offs(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values("_pid")
        c = pdf[cnt_col].astype("int64")
        yield pd.DataFrame(
            {
                "_pid": pdf["_pid"].astype("int32"),
                "_off": c.cumsum() - c,
                "_total": int(c.sum()),
            }
        )

    return counts.coalesce(1).mapInPandas(offs, schema=schema)


def global_cumsum(
    df: DataFrame,
    order_exprs: list,
    value_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed running sum of ``value_col`` in the total order given
    by ``order_exprs`` — the prefix-sum sibling of :func:`global_rank`,
    for running-total operators (sequence packing, cumulative budgets)
    that must never fall back to an unpartitioned
    ``Window.orderBy`` (single-task sort over every row).

    Plan (two-pass prefix sum):

    1. `repartitionByRange` on the order expressions (sampled bounds —
       the parallel sort) + `sortWithinPartitions`.
    2. One Arrow `mapInPandas` pass attaches the partition-local running
       sum — narrow, order-preserving, no shuffle.
    3. Per-partition value sums (one row per partition) become exclusive
       cumulative offsets via a window over that P-row relation.
    4. A broadcast join adds the offset: global cumsum = offset + local.

    ``order_exprs`` must be a total order for a deterministic result;
    ``value_col`` must be integral (the running sum is carried as long).
    """
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    src = df.persist()  # see row_range_shard_scalable
    ranged = src.repartitionByRange(p, *order_exprs).sortWithinPartitions(*order_exprs)
    # Persist BEFORE fanning out: both consumers below (the local-cumsum
    # mapInPandas and the per-partition sums) must observe the SAME
    # physical partitioning; without a persist that relies on Spark
    # re-planning the two branches onto one reused exchange, which is
    # fragile if the upstream relation is nondeterministic.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()

    out_schema = StructType(
        with_pid.schema.fields + [StructField("_lcs", LongType(), False)]
    )

    def attach_local_cumsum(batches):
        running = 0
        for pdf in batches:
            pdf = pdf.copy()
            s = pdf[value_col].astype("int64").cumsum() + running
            pdf["_lcs"] = s
            if len(pdf):
                running = int(s.iloc[-1])
            yield pdf

    numbered = with_pid.mapInPandas(attach_local_cumsum, schema=out_schema)
    sums = with_pid.groupBy("_pid").agg(F.sum(value_col).cast("long").alias("_psum"))
    offsets = _partition_offsets(sums, "_psum")
    joined = numbered.join(F.broadcast(offsets), "_pid")
    return joined.withColumn(
        cumsum_col, (F.col("_off") + F.col("_lcs")).cast("long")
    ).drop("_pid", "_lcs", "_off", "_total")


def global_rank(
    df: DataFrame,
    order_exprs: list,
    rank_col: str = "rank",
    total_col: str = "total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global rank (1-based, dense in row count) in the
    total order given by ``order_exprs`` (Column expressions; may use
    ``.desc()``), plus the total row count — the same
    range-shuffle + per-partition-offset plan as
    :func:`row_range_shard_scalable`, exposed as a reusable primitive
    so rank-derived operators (ntile, top-percent, median split) never
    need a single-task global sort.

    ``order_exprs`` must be a total order for a deterministic result.
    """
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    src = df.persist()  # see row_range_shard_scalable
    ranged = src.repartitionByRange(p, *order_exprs).sortWithinPartitions(*order_exprs)
    # Persist before the two-branch fan-out (same rationale as
    # global_cumsum): rank offsets are only correct if the numbered rows
    # and the per-partition counts see one materialized partitioning.
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()

    numbered = _local_row_number(with_pid, "_lrn")
    counts = with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = _partition_offsets(counts, "_cnt")
    joined = numbered.join(F.broadcast(offsets), "_pid")
    return (
        joined.withColumn(rank_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .withColumn(total_col, F.col("_total").cast("long"))
        .drop("_pid", "_lrn", "_off", "_total")
    )
