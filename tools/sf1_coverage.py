"""sf1.0 certification coverage audit (VERDICT r10 #2/#3): union the
PASS/SKIP names across every committed `CORRECTNESS_SF1_*.log` and
compare against the live registry. The round-10 hole (111 queries with
no sf1.0 row, masked by a subset run's ALL PASS) becomes impossible to
miss: this prints the exact uncovered names and exits non-zero if any.

Usage: python tools/sf1_coverage.py [repo_dir]
"""

from __future__ import annotations

import glob
import os
import re
import sys
from pathlib import Path

#: The checkout this script belongs to (and imports from).
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _log_order_key(path: str) -> tuple[int, str]:
    """Chronological sort key: round number first (plain lexicographic
    glob order puts r9 AFTER r10/r11), then filename for same-round
    parts. ADVICE r11: ordering matters because a LATER verdict must
    supersede an earlier one per query. Keyed on the BASENAME only —
    a `_r<digits>` substring in the containing directory must not
    shadow the log's own round number."""
    base = os.path.basename(path)
    m = re.search(r"_r(\d+)", base)
    return (int(m.group(1)) if m else -1, base)


def coverage(repo_dir: str = str(REPO)) -> tuple[set[str], set[str], set[str]]:
    """Returns (passed, skipped, uncovered) query-name sets across all
    committed sf1.0 logs vs the live registry.

    Logs are processed in round order and a later row supersedes an
    earlier one per query (ADVICE r11): a FAIL in a newer log REVOKES
    an older PASS (the query's implementation or oracle changed and
    no longer certifies), and a newer PASS clears an older FAIL.
    Revoked queries count as uncovered."""
    from distributed_mapreduce_spark.workload import QUERIES

    passed: set[str] = set()
    skipped: set[str] = set()
    failed: set[str] = set()
    for log in sorted(glob.glob(f"{repo_dir}/CORRECTNESS_SF1_*.log"), key=_log_order_key):
        text = open(log, errors="replace").read()
        # Anchored to line start: "SPARK_GRAFT_CERT_SKIP at ..." inside
        # a skip message would otherwise match as a query named "at".
        for verdict, name in re.findall(r"^(PASS|SKIP|FAIL) ([a-z0-9_]+)", text, re.M):
            if verdict == "PASS":
                passed.add(name)
                failed.discard(name)
            elif verdict == "SKIP":
                skipped.add(name)
            else:
                failed.add(name)
                passed.discard(name)
    # a PASS supersedes a SKIP; a standing FAIL is not coverage
    skipped -= passed
    skipped -= failed
    uncovered = set(QUERIES) - passed - skipped
    return passed, skipped, uncovered


def main() -> int:
    repo = sys.argv[1] if len(sys.argv) > 1 else str(REPO)
    passed, skipped, uncovered = coverage(repo)
    from distributed_mapreduce_spark.workload import QUERIES

    print(
        f"sf1.0 coverage: {len(passed)} PASS + {len(skipped)} SKIP of "
        f"{len(QUERIES)} registered"
    )
    if skipped:
        print(f"skipped (documented in-log): {sorted(skipped)}")
    if uncovered:
        print(f"UNCOVERED ({len(uncovered)}): {sorted(uncovered)}")
        return 1
    print("full coverage: every registered query has an sf1.0 PASS or SKIP row")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
