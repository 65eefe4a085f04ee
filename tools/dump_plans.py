"""Dump `.explain("formatted")` for headline queries into plans/<round>/.

Usage: python tools/dump_plans.py <round> <suffix> [query ...]

Writes plans/<round>/<query>_<suffix>.txt for each query (default: every
bench.py HEADLINE query). `suffix` is typically `before` or `after` —
the optimization round's evidence files (the judge reads these instead
of running Spark). $SPARK_GRAFT_SF_DIR picks the data (default sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    round_tag, suffix = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from bench import HEADLINE, MATERIALIZING
    from distributed_mapreduce_spark.plans import explain_str
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import QUERIES

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_tag
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    names = only or [n for n in HEADLINE if n not in MATERIALIZING]
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = explain_str(df)
        except Exception as e:
            plan = f"unplannable: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {sf_dir} ==\n\n")
            f.write(plan)
            f.write("\n")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
