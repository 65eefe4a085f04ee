"""Scale audit: print the scale-critical physical-plan properties of
every registered query — shuffle (Exchange) count, broadcast joins,
sort-merge joins, cartesian products, pushed filters, scan column
widths, and whole-stage-codegen span count.

This is the ".explain(formatted) and iterate" loop from the design
brief, automated over the whole registry. Red flags it surfaces:
CartesianProduct anywhere, a SortMergeJoin where a dimension should
broadcast, a scan reading more columns than the query needs, Exchange
counts growing without a matching semantic need.

Usage: python tools/plan_report.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

#: The checkout this script belongs to (and imports from).
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from distributed_mapreduce_spark.plans import (
        exchange_count,
        explain_str,
        pushed_filters,
        read_schema_columns,
        unbounded_scaling_broadcasts,
        unpartitioned_unbounded_windows,
        wholestage_codegen_count,
    )
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import QUERIES

    spark = get_spark("plan_report", cpus=8, shuffle_partitions=8)

    rows = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = explain_str(df)
        except Exception as e:  # streaming-materializing queries etc.
            rows.append((name, f"unplannable: {type(e).__name__}"))
            continue
        props = {
            "exchanges": exchange_count(df),
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "cartesian": plan.count("CartesianProduct"),
            "topk": int("TakeOrderedAndProject" in plan),
            "codegen": wholestage_codegen_count(df),
            "pushed": len(pushed_filters(df)),
            "scan_cols": [len(c) for c in read_schema_columns(df)],
            "scaling_bcast": unbounded_scaling_broadcasts(df),
            "global_win": unpartitioned_unbounded_windows(df),
        }
        rows.append((name, props))

    for name, props in rows:
        print(f"{name:32s} {props}")

    bad = [
        n
        for n, p in rows
        if isinstance(p, dict) and p["cartesian"] > 0
    ]
    print(f"\ncartesian products: {bad or 'none'}")
    hinted = [
        (n, p["scaling_bcast"])
        for n, p in rows
        if isinstance(p, dict) and p["scaling_bcast"]
    ]
    print(f"unbounded scaling-table broadcast hints: {hinted or 'none'}")
    # Whitelisted single-task-window parity ops (tests/test_plans.py
    # documents each); anything else with a global window over input not
    # bounded by an aggregate/limit is the round-2 class of scale bug.
    from distributed_mapreduce_spark.plans.checks import (
        DOMAIN_BOUNDED_WINDOW_OPS,
        GLOBAL_WINDOW_PARITY_OPS,
    )

    gwin = [
        n
        for n, p in rows
        if isinstance(p, dict)
        and p["global_win"]
        and n not in GLOBAL_WINDOW_PARITY_OPS
        and n not in DOMAIN_BOUNDED_WINDOW_OPS
    ]
    print(f"unpartitioned unbounded windows (non-whitelisted): {gwin or 'none'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
