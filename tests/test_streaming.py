"""Structured Streaming: the streaming aggregations must equal their
batch twins on a closed input (availableNow trigger, memory sink)."""

from __future__ import annotations

import pytest

from distributed_mapreduce_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
    stateful_user_counts,
    windowed_counts,
)
from distributed_mapreduce_spark.workload.registry import table


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-land the sf0.001 events as micro-timestamped parquet (the
    original file uses TIMESTAMP(NANOS), unreadable by the stream
    source's schema reader)."""
    out = str(tmp_path_factory.mktemp("events_stream") / "landing")
    ev = table(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(4).write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_matches_batch(spark, events_dir):
    stream = windowed_counts(read_events_stream(spark, events_dir), "1 hour", "2 hours")
    run_to_memory(stream, "win_stream")
    got = {
        (r["ws"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("win_stream").collect()
    }

    batch = spark.read.parquet(events_dir)
    from distributed_mapreduce_spark.workload.events import q_events_tumbling
    import distributed_mapreduce_spark.workload.events as we

    # batch twin over the same frame
    from pyspark.sql import functions as F

    expected_df = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(30,6)").alias("sum_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "sum_value")
    )
    expected = {
        (r["ws"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in expected_df.collect()
    }
    assert got == expected and len(got) > 0


def test_stateful_user_counts_final_state_matches_batch(spark, events_dir):
    stream = stateful_user_counts(read_events_stream(spark, events_dir))
    run_to_memory(stream, "state_stream", output_mode="update")
    # Update-mode memory sink appends per batch; cumulative counts are
    # monotone so the max per user is the final state.
    rows = spark.table("state_stream").collect()
    got: dict[int, int] = {}
    for r in rows:
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["n_events"])
    expected = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(events_dir).groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == expected and len(got) > 0


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1): batch 0 advances the
    watermark past the 10:00 window, batch 1 triggers its eviction (the
    window emits once, with only on-time counts), and batch 2's late
    event for the closed window is dropped by the watermark — asserted
    both on the output and on the state-store drop metric."""
    import datetime as dt
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    landing.mkdir()

    def land(rows, name):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string") \
            .coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        shutil.copy(part, str(landing / f"{name}.parquet"))

    T = dt.datetime(2026, 1, 1, 10, 0, 0)

    def ev(i, minutes):
        return (i, T + dt.timedelta(minutes=minutes), 1, "click", 1.0, "{}")

    # Batch 0: three events in [10:00,11:00) + one at 14:00 that pushes
    # the watermark (1h) to 13:00.
    land([ev(1, 0), ev(2, 10), ev(3, 20), ev(4, 240)], "a")
    time.sleep(1.1)  # file-source orders batches by mod time
    # Batch 1: an on-time event; running it evicts + emits the closed
    # 10:00 window (eviction applies the watermark set by batch 0).
    land([ev(6, 245)], "b")
    time.sleep(1.1)
    # Batch 2: a LATE event at 10:45 — behind the watermark, window
    # already closed → dropped.
    land([ev(5, 45)], "c")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["ws"]: r["n"] for r in spark.table("late_sink").collect()}
    # The closed 10:00 window emitted with ONLY the on-time events; the
    # late 10:45 event was discarded, and the open 14:00 window is held.
    assert got == {T: 3}
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_stream_dedup_within_watermark_removes_redelivery(spark, tmp_path):
    """The same event_id delivered in two micro-batches survives once."""
    import datetime as dt
    import glob
    import shutil
    import time

    from distributed_mapreduce_spark.streaming.events_stream import dedup_events_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def land(rows, name):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], str(landing / f"{name}.parquet")
        )

    T = dt.datetime(2026, 1, 1, 10, 0, 0)
    e1 = (1, T, 7, "click", 1.0, "{}")
    e2 = (2, T, 7, "view", 1.0, "{}")
    land([e1, e2], "a")
    time.sleep(1.1)
    land([e1, (3, T, 8, "click", 1.0, "{}")], "b")  # e1 re-delivered

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    run_to_memory(dedup_events_stream(stream), "dedup_sink", output_mode="append")

    got = spark.table("dedup_sink")
    assert got.count() == 3  # e1 once, e2, e3
    assert got.filter("event_id = 1").count() == 1
    assert got.filter("event_type = 'click'").count() == 2


def test_stream_static_join_enriches_events(spark, events_dir):
    """Stream ⋈ static dimension (the standard enrichment pattern): the
    static side is re-read per micro-batch, joined without state. The
    drained result must equal the equivalent batch join."""
    from pyspark.sql import functions as F

    static_dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
        ["event_type", "type_code"],
    )
    stream = read_events_stream(spark, events_dir)
    enriched = (
        stream.join(F.broadcast(static_dim), "event_type")
        .groupBy("type_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    run_to_memory(enriched, "enrich_sink")
    got = {r["type_code"]: r["n"] for r in spark.table("enrich_sink").collect()}

    batch = spark.read.parquet(events_dir).join(static_dim, "event_type")
    expected = {
        r["type_code"]: r["count"]
        for r in batch.groupBy("type_code").count().collect()
    }
    assert got == expected and len(got) > 0
