"""Streaming throughput/latency bench (VERDICT r08 #4).

tests/test_streaming.py checks the streaming operators' results
against batch twins; this harness measures their speed. It drives
Spark's `rate` source — a deterministic in-engine generator, no disk
bottleneck — at fixed rows/sec through the three state-store-bearing
operators:

  - windowed_counts        (watermarked tumbling window aggregate)
  - dedup_events_stream    (dropDuplicatesWithinWatermark keyed state)
  - stateful_user_counts   (applyInPandasWithState custom operator —
                            the Python/Arrow state path, expected to be
                            the slowest by construction)

per operator x per input rate, for a fixed wall-clock window, into a
noop sink. Recorded per run: sustained processed rows/sec (total input
rows / total micro-batch wall time), mean/p95 micro-batch latency, and
batch count — straight from StreamingQueryProgress, retention raised so
nothing is evicted (same discipline as the watermark drop audit).

Usage: python tools/stream_bench.py [out_json]
  (default STREAM_BENCH_r10.json in this checkout)
  SPARK_GRAFT_STREAM_SECONDS (default 45) per run;
  SPARK_GRAFT_STREAM_RATES   (default "50000,400000") rows/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

#: The checkout this script belongs to: imported from, and written to.
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

RUN_SECONDS = float(os.environ.get("SPARK_GRAFT_STREAM_SECONDS", "45"))
RATES = [
    int(r)
    for r in os.environ.get("SPARK_GRAFT_STREAM_RATES", "50000,400000").split(",")
]
#: Distinct users: sizes keyed state (dedup keeps ~watermark-horizon
#: rows; stateful counter keeps one row per user).
N_USERS = 100_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def rate_events(spark: SparkSession, rows_per_sec: int) -> DataFrame:
    """Map the rate source onto the events schema. event_id repeats
    every 10 rows per user-slot so the dedup operator sees genuine
    re-deliveries (~10% duplicate rate), not a no-op key stream."""
    r = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_sec))
        .option("numPartitions", "8")
        .load()
    )
    et = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return r.select(
        (F.col("value") - (F.col("value") % 10 == 9).cast("long")).alias(
            "event_id"
        ),
        F.col("timestamp").alias("ts"),
        (F.col("value") % N_USERS).alias("user_id"),
        et.getItem((F.col("value") % len(EVENT_TYPES)).cast("int")).alias(
            "event_type"
        ),
        (F.col("value") % 1000).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )


def run_one(spark: SparkSession, name: str, df: DataFrame, mode: str) -> dict:
    q = (
        df.writeStream.outputMode(mode)
        .format("noop")
        .queryName(f"bench_{name}")
        .start()
    )
    try:
        time.sleep(RUN_SECONDS)
    finally:
        q.stop()
        q.awaitTermination()
    prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if not prog:
        return {"error": "no progress entries"}
    total_rows = sum(p["numInputRows"] for p in prog)
    durations = sorted(
        p["durationMs"]["triggerExecution"] / 1000.0 for p in prog
    )
    wall = sum(durations)
    p95 = durations[min(len(durations) - 1, int(0.95 * len(durations)))]
    return {
        "batches": len(prog),
        "input_rows": total_rows,
        "sustained_rows_per_sec": round(total_rows / wall, 1) if wall else None,
        "mean_batch_sec": round(wall / len(prog), 3),
        "p95_batch_sec": round(p95, 3),
    }


def main() -> int:
    out_json = (
        sys.argv[1] if len(sys.argv) > 1 else str(REPO / "STREAM_BENCH_r10.json")
    )
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.streaming.events_stream import (
        dedup_events_stream,
        stateful_user_counts,
        windowed_counts,
    )

    spark = get_spark("stream_bench", cpus=32, shuffle_partitions=32)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    # (operator, builder, output mode): update mode for the stateful
    # aggregates (append would hold rows until the watermark closes a
    # window — on a bench-length run almost nothing would emit);
    # append for dedup (row pass-through).
    ops = [
        (
            "windowed_counts",
            lambda df: windowed_counts(df, window="1 minute", watermark="2 minutes"),
            "update",
        ),
        (
            "dedup_events",
            lambda df: dedup_events_stream(df, watermark="2 minutes"),
            "append",
        ),
        (
            "stateful_user_counts",
            lambda df: stateful_user_counts(df, watermark="2 minutes"),
            "update",
        ),
    ]

    results: dict[str, dict] = {}
    for rate in RATES:
        for name, build, mode in ops:
            label = f"{name}@{rate}"
            print(f"running {label} for {RUN_SECONDS}s ...", flush=True)
            res = run_one(spark, name, build(rate_events(spark, rate)), mode)
            res["input_rate_rows_per_sec"] = rate
            results[label] = res
            print(f"  {label}: {res}", flush=True)

    artifact = {
        "method": (
            f"rate source at fixed rows/sec -> operator -> noop sink, "
            f"{RUN_SECONDS}s per run on local[32]; sustained = input rows "
            "/ sum(triggerExecution); latency = per-micro-batch "
            "triggerExecution"
        ),
        "run_seconds": RUN_SECONDS,
        "rates": RATES,
        "n_users": N_USERS,
        "results": results,
    }
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    print(f"wrote {out_json}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
