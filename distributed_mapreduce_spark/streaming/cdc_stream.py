"""Streaming CDC apply: a change feed (insert/update/delete rows)
drained through `foreachBatch` into a keyed state table — the streaming
twin of the batch `cdc_apply_patch` workload query (workload/
versioning.py). Each micro-batch is applied with the standard MERGE
decomposition: anti-join out every key the batch touches, union in the
new images of inserts and updates.

Scale notes (100 TB):
- The state rewrite here is a full-table read+write per batch — the
  PARITY implementation (plain parquet has no transactional merge). On
  a lakehouse table format (Delta/Iceberg/Hudi) the same `foreachBatch`
  body becomes a `MERGE INTO`, which rewrites only the files containing
  touched keys; the dataflow (per-batch keyed upsert, idempotent via
  batch replay) is identical.
- Correctness does not depend on how the feed is batched: each key
  appears at most once in the whole feed, so any partition of the feed
  into micro-batches applies to the same final state (asserted by the
  replay test).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.readers import scan_parquet


def read_change_feed(spark: SparkSession, feed_dir: str, max_files: int = 1) -> DataFrame:
    """File-source change feed: each parquet file in `feed_dir` becomes
    (at most `max_files` per trigger) one micro-batch of change rows
    (key + change_type + new-image columns)."""
    schema = scan_parquet(spark, feed_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(feed_dir)
    )


def cdc_upsert_sink(state_dir: str, key: str):
    """`foreachBatch` body applying one micro-batch of changes to the
    parquet state table at `state_dir` via MERGE decomposition."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            state = scan_parquet(spark, state_dir)
            touched = batch_df.select(key).distinct()
            new_images = batch_df.filter(
                F.col("change_type").isin("insert", "update")
            ).select(*state.columns)
            patched = state.join(touched, key, "left_anti").unionByName(new_images)
            # NEVER overwrite a path mid-read (Spark would re-scan the
            # clobbered files on any recompute): stage to a sibling dir,
            # then swap. The local-FS rename models the atomic commit a
            # lakehouse MERGE INTO provides; on object storage use the
            # table format, not this.
            staging = f"{state_dir}.staging"
            patched.write.mode("overwrite").parquet(staging)
            shutil.rmtree(state_dir)
            shutil.move(staging, state_dir)
        finally:
            batch_df.unpersist()

    return apply_batch


def run_cdc_stream(
    spark: SparkSession, feed_dir: str, state_dir: str, key: str, checkpoint: str
) -> None:
    """Drain the whole change feed (availableNow) into the state table."""
    feed = read_change_feed(spark, feed_dir)
    (
        feed.writeStream.foreachBatch(cdc_upsert_sink(state_dir, key))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
