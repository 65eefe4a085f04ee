"""Static audit for the DuckDB-oracle CTE-inlining blowup class found
by the round-11 sf4 differential: a non-MATERIALIZED CTE that a LATER
chained level references two or more times gets inlined into each
reference, doubling the evaluation tree per level — 2^levels prefix
re-evaluations (graph_sssp_bounded spilled >80 GB; graph_hits_rounds
OOM'd a 24 GB envelope; both fixed by materializing each round).

This tool flags chained (numeric-suffixed) CTE levels that are not
MATERIALIZED yet referenced >= 2 times after their definition. A flag
is a *risk*, not a defect: tiny seed/frontier CTEs (one-row d0, small
gone{k} sets) double negligible work, and every currently-flagged
query passes its certified scale (sf1.0 registry-wide; sf4 for the
scale-sensitive set). Use it when ADDING an iterative oracle: any new
flag on an expensive level should be materialized up front.

Usage: python tools/oracle_cte_audit.py   (exit 0 always; prints flags)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

#: The checkout this script belongs to (and imports from).
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def chained_unmaterialized(sql: str) -> list[tuple[str, int]]:
    """(cte_name, reference_count) for round-numbered CTE levels with a
    successor level, not MATERIALIZED, referenced >= 2 times.

    The round number may sit ANYWHERE in the name (ADVICE r11: the
    original trailing-digit pattern missed `a1raw`/`h1raw` — the exact
    HITS shape that motivated this tool); the chain is detected on the
    (prefix, k+1, suffix) triple, so `d1`→`d2` and `a1raw`→`a2raw`
    both count as levels."""
    defs: dict[tuple[str, int, str], bool] = {}
    for m in re.finditer(
        r"\b(\w*?)(\d+)(\w*)\s+AS\s+(MATERIALIZED\s+)?\(", sql, re.I
    ):
        defs[(m.group(1), int(m.group(2)), m.group(3))] = bool(m.group(4))
    out = []
    for (base, k, tail), mat in defs.items():
        if (base, k + 1, tail) in defs and not mat:
            name = f"{base}{k}{tail}"
            refs = len(re.findall(rf"\b{re.escape(name)}\b", sql)) - 1
            if refs >= 2:
                out.append((name, refs))
    return out


def main() -> int:
    from distributed_mapreduce_spark.workload import ORACLES

    n = 0
    for name, sql in ORACLES.items():
        flags = chained_unmaterialized(sql)
        if flags:
            n += 1
            print(f"{name}: {flags}")
    print(f"\n{n} oracles with chained unmaterialized multi-referenced levels")
    print(
        "(risk flags, not defects — see module docstring; every current "
        "flag passes its certified scale)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
