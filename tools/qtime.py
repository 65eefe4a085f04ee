"""Per-query timing probe for the optimization loop.

Usage: python tools/qtime.py [sf_dir] query [query ...] [--trials N]

Times each query with the bench methodology (noop sink, clearCache
between trials, min + median of N) and prints one JSON line. Unlike
bench.py this does not gate on idle load — it is meant for paired
A/B runs where both sides see the same ambient; absolute numbers from
a loaded machine are not comparable to BENCH artifacts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python tools/qtime.py [sf_dir] query [query ...] [--trials N]"


def main() -> int:
    # Accept both `--trials=N` and `--trials N` (ADVICE r12: the
    # space-separated form previously crashed on split and leaked the
    # bare N into the positional query list).
    trials = 5
    argv = sys.argv[1:]
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--trials"):
            if "=" in a:
                trials = int(a.split("=", 1)[1])
            else:
                i += 1
                if i == len(argv):
                    print(USAGE, file=sys.stderr)
                    return 2
                trials = int(argv[i])
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    from bench import MATERIALIZING
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("qtime", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Same warm-up as bench.py.
    QUERIES["flagship_pct"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for name in names:
        ts = []
        for _ in range(trials):
            spark.catalog.clearCache()
            if name in MATERIALIZING:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
            else:
                df = QUERIES[name](spark, sf_dir)
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        out[name] = {
            "min": round(ts[0], 3),
            "median": round(ts[len(ts) // 2], 3),
            "trials": [round(t, 3) for t in ts],
        }
    print(json.dumps({"sf_dir": sf_dir, "loadavg": os.getloadavg()[0], "q": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
