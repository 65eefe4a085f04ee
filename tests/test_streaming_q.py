"""The driver-graded streaming row (workload/streaming_q.py) — hermetic
since round 11 (VERDICT r10 #1). Three properties pinned here:

1. Bit-equality with the batch twin at sf0.001 (the driver grades the
   same equality against DuckDB at sf0.01).
2. Batch-split invariance: the graded stream is watermark-free, so a
   drain forced into one-file micro-batches must produce the identical
   result — this is the exact environment sensitivity that made the
   round-10 row red in the driver sandbox (a watermarked complete-mode
   drain drops late rows when the source splits the drain).
3. Landing hermeticity: the landing directory lives under a per-process
   mkdtemp (never a shared cross-session /tmp key) and is cached per
   source fingerprint within the process.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from distributed_mapreduce_spark.workload import ORACLES, QUERIES
from distributed_mapreduce_spark.workload.streaming_q import _LANDED, _landing_dir

SF = "/root/testdata/sf0.001"


def _as_map(df):
    return {
        (r["ws"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in df.collect()
    }


def test_graded_row_matches_batch_twin(spark):
    got = _as_map(QUERIES["stream_events_tumbling"](spark, SF))
    want = _as_map(QUERIES["events_tumbling"](spark, SF))
    assert got == want


@pytest.mark.parametrize("name", ["events_tumbling", "stream_events_tumbling"])
def test_tumbling_frames_equal_duckdb_without_type_normalisation(spark, name):
    """The grader compares pandas frames from both engines. Spark's
    ``toPandas()`` and DuckDB's ``.df()`` must give the same dtypes and
    equal values as they come, with no per-type normalisation (a
    DECIMAL sum is ``Decimal`` objects in one and float64 in the
    other)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    want = con.execute(ORACLES[name]).df()
    got = QUERIES[name](spark, SF).toPandas()
    assert list(want.columns) == list(got.columns)
    keys = ["ws", "event_type"]
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    assert dict(got.dtypes) == dict(want.dtypes)
    pd.testing.assert_frame_equal(got, want)


def test_graded_row_is_batch_split_invariant(spark):
    """Force the same watermark-free complete-mode aggregate through a
    one-file-per-micro-batch drain: the result must be identical to the
    single-batch drain (no watermark → no late-row drops, whatever the
    grading environment's batch planner does)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
        windowed_counts,
    )

    landing = _landing_dir(spark, SF)
    n_files = len([f for f in os.listdir(landing) if f.endswith(".parquet")])
    assert n_files >= 2, "landing must have multiple files to split the drain"
    stream = windowed_counts(
        read_events_stream(spark, landing, max_files_per_trigger=1),
        window="1 hour",
        watermark=None,
    )
    run_to_memory(stream, "split_invariance_sink", output_mode="complete")
    # The graded row emits the DECIMAL(30,6) sum as text.
    got = _as_map(
        spark.table("split_invariance_sink").withColumn(
            "sum_value", F.col("sum_value").cast("string")
        )
    )
    want = _as_map(QUERIES["stream_events_tumbling"](spark, SF))
    assert got == want


def test_self_diagnosis_raises_with_diff_rows(spark, monkeypatch):
    """Negative control for the round-12 self-diagnostic (VERDICT r11
    #1): if the streaming result diverges from the batch twin, the
    graded builder must RAISE with the differing rows embedded in the
    message (so the driver's `err` field carries the evidence out of
    the sandbox), not return a silently-wrong frame. Simulated by
    wrapping the streaming aggregate with an off-by-one count (a
    stateless projection on the aggregate output, so the tampered plan
    is still a valid complete-mode streaming query)."""
    import pytest
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming import events_stream as es

    real = es.windowed_counts

    def tampered(events, window="1 hour", watermark="2 hours"):
        df = real(events, window=window, watermark=watermark)
        return df.withColumn("n_events", (F.col("n_events") + F.lit(1)).cast("long"))

    monkeypatch.setattr(es, "windowed_counts", tampered)
    with pytest.raises(RuntimeError) as ei:
        QUERIES["stream_events_tumbling"](spark, SF)
    msg = str(ei.value)
    assert "DIVERGES" in msg and "batch-only rows" in msg and "ws" in msg


def test_landing_is_per_process_and_cached(spark):
    a = _landing_dir(spark, SF)
    b = _landing_dir(spark, SF)
    assert a == b, "same source fingerprint must reuse the landing in-process"
    tmp_root = tempfile.gettempdir()
    assert os.path.dirname(a) == tmp_root and os.path.basename(a).startswith(
        "spark_graft_stream_landing_"
    ), "landing must be a per-process mkdtemp, not a shared keyed cache"
    assert a in _LANDED.values()
    assert not os.path.isdir(
        "/tmp/spark_graft_stream_landing"
    ) or a != "/tmp/spark_graft_stream_landing", (
        "the round-10 shared cache root must no longer be the landing target"
    )


def test_landing_is_fresh_after_in_place_part_rewrite(spark, tmp_path):
    """A directory source whose part file is rewritten in place keeps
    the directory's size and mtime, so only a per-file key sees the new
    version: the landing must be redone, not reused."""
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF}/events.parquet")
    src = tmp_path / "events.parquet"
    src.mkdir()
    pq.write_table(events, src / "part-0.parquet")
    pq.write_table(events, src / "part-1.parquet")
    first = _landing_dir(spark, str(tmp_path))
    dir_stat = os.stat(src)

    with open(src / "part-1.parquet", "r+b") as fh:  # same inode, new bytes
        fh.truncate(0)
        pq.write_table(events.slice(0, 10), fh)
    assert os.stat(src).st_mtime_ns == dir_stat.st_mtime_ns

    second = _landing_dir(spark, str(tmp_path))
    assert second != first, "a rewritten part file must land afresh"
    assert spark.read.parquet(second).count() == events.num_rows + 10


def test_unfingerprinted_source_is_never_memoized(spark, monkeypatch):
    from distributed_mapreduce_spark.workload import streaming_q

    monkeypatch.setattr(streaming_q, "fingerprint", lambda path: None)
    before = dict(_LANDED)
    a = _landing_dir(spark, SF)
    b = _landing_dir(spark, SF)
    assert a != b
    assert _LANDED == before
