"""Attribution probe for the applyInPandasWithState throughput ceiling
(VERDICT r10 #7): STREAM_BENCH_r10 measured ~12 s micro-batches for
`stateful_user_counts` at BOTH 400 k-row and 3.5 M-row batch sizes —
batch cost is flat in rows, so the ceiling is not Arrow byte volume.
The remaining suspects are per-GROUP overhead (one Python fn call, one
one-row pd.DataFrame, one Arrow batch flush per key per micro-batch)
and state-store I/O (one get+update per key).

Design: hold the input rate fixed and sweep the DISTINCT KEY COUNT.
If batch seconds scale ~linearly with keys at constant rows, the
per-group path is the ceiling; if flat, state I/O or fixed overhead.
Also measures the JVM-state twin (`groupBy(user_id).count()` in update
mode — the built-in aggregate with identical semantics for this
counter) at the same rates, quantifying what moving a custom operator
to built-in state buys.

Usage: python tools/stateful_profile.py [out_json]
  SPARK_GRAFT_STATEFUL_SECONDS (default 40) per run;
  SPARK_GRAFT_STATEFUL_KEYS (default "1000,10000,100000").
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

RUN_SECONDS = float(os.environ.get("SPARK_GRAFT_STATEFUL_SECONDS", "40"))
KEY_COUNTS = [
    int(k)
    for k in os.environ.get(
        "SPARK_GRAFT_STATEFUL_KEYS", "1000,10000,100000"
    ).split(",")
]
RATE = 50_000


def rate_events(spark: SparkSession, rows_per_sec: int, n_users: int) -> DataFrame:
    r = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_sec))
        .option("numPartitions", "8")
        .load()
    )
    return r.select(
        F.col("timestamp").alias("ts"),
        F.pmod(F.col("value"), F.lit(n_users)).alias("user_id"),
    )


def jvm_user_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """The built-in-aggregate twin of stateful_user_counts: cumulative
    per-user count with JVM state (update mode emits changed keys)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def run_one(spark: SparkSession, name: str, stream: DataFrame) -> dict:
    q = (
        stream.writeStream.format("noop")
        .outputMode("update")
        .queryName(name)
        .start()
    )
    time.sleep(RUN_SECONDS)
    # recentProgress yields StreamingQueryProgress objects (dict-like
    # via __getitem__/.get in PySpark 4) — same access style as
    # tools/stream_bench.py.
    prog = list(q.recentProgress)
    q.stop()
    batches = [
        p
        for p in prog
        if p.get("numInputRows", 0) > 0
        and "triggerExecution" in p.get("durationMs", {})
    ]
    rows = sum(p["numInputRows"] for p in batches)
    secs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    tot = sum(secs)
    return {
        "batches": len(batches),
        "input_rows": rows,
        "sustained_rows_per_sec": round(rows / tot, 1) if tot else None,
        "mean_batch_sec": round(tot / len(batches), 3) if batches else None,
        "mean_rows_per_batch": round(rows / len(batches)) if batches else None,
    }


def main() -> int:
    out_json = (
        sys.argv[1] if len(sys.argv) > 1 else str(REPO / "STATEFUL_PROFILE_r11.json")
    )
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.streaming.events_stream import (
        stateful_user_counts,
    )

    spark = get_spark("stateful_profile", cpus=32, shuffle_partitions=32)
    results: dict[str, dict] = {}
    for n_keys in KEY_COUNTS:
        ev = rate_events(spark, RATE, n_keys).withColumn(
            "event_type", F.lit("view")
        )
        results[f"python_state@{n_keys}_keys"] = run_one(
            spark, f"py_{n_keys}", stateful_user_counts(ev, watermark="2 minutes")
        )
    for n_keys in KEY_COUNTS:
        ev = rate_events(spark, RATE, n_keys)
        results[f"jvm_state@{n_keys}_keys"] = run_one(
            spark, f"jvm_{n_keys}", jvm_user_counts(ev, watermark="2 minutes")
        )
    out = {
        "method": (
            f"rate source at {RATE} rows/s -> operator -> noop sink, "
            f"{RUN_SECONDS}s per run on local[32]; key-count sweep at fixed "
            "rate attributes batch cost to per-group overhead vs rows"
        ),
        "rate_rows_per_sec": RATE,
        "key_counts": KEY_COUNTS,
        "results": results,
    }
    print(json.dumps(out))
    with open(out_json, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
