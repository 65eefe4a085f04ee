"""Certification coverage assertion (VERDICT r10 #3): a subset run must
report "partial: N/M", never "ALL PASS" — the round-10 sf1.0 artifact
hid a 111-query hole behind a subset's ALL PASS, and the fix is in
tooling, not prose."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))


def test_subset_run_reports_partial_not_all_pass(spark, tmp_path):
    from check_correctness import run

    from distributed_mapreduce_spark.workload import QUERIES

    log = tmp_path / "cert.log"
    failures = run(
        "/root/testdata/sf0.001",
        only={"group_count"},
        log_path=str(log),
        spark=spark,
    )
    text = log.read_text()
    assert failures == 0
    assert "PASS group_count" in text
    assert f"partial: 1/{len(QUERIES)}" in text
    assert "ALL PASS" not in text


def test_start_after_resume_is_registration_order():
    """--start-after NAME must derive the subset from registration
    order (the crashed log's tail), not a hand-picked list. Exercises
    check_correctness.resume_subset — the SAME function main() calls
    (ADVICE r11: re-implementing the slice here couldn't catch a CLI
    regression)."""
    import pytest
    from check_correctness import resume_subset

    from distributed_mapreduce_spark.workload import QUERIES

    names = list(QUERIES)
    anchor = names[5]
    got = resume_subset(anchor)
    assert got == set(names[6:]) and anchor not in got
    assert resume_subset(names[-1]) == set()
    with pytest.raises(KeyError):
        resume_subset("not_a_registered_query")


def test_sf1_coverage_later_fail_revokes_earlier_pass(tmp_path):
    """ADVICE r11: a FAIL in a NEWER log must revoke an older PASS (the
    query changed and no longer certifies), and logs must be processed
    in round order (lexicographic glob order puts r9 after r10).
    Synthetic-log negative control against the live registry."""
    from tools.sf1_coverage import coverage

    from distributed_mapreduce_spark.workload import QUERIES

    names = list(QUERIES)
    victim, recovered = names[0], names[1]
    # r9: everything passes. r10: victim and recovered both FAIL.
    # r11: recovered re-passes. Expect: only victim uncovered.
    (tmp_path / "CORRECTNESS_SF1_r9.log").write_text(
        "".join(f"PASS {n} (1 rows)\n" for n in names)
    )
    (tmp_path / "CORRECTNESS_SF1_r10.log").write_text(
        f"FAIL {victim}: value mismatch\nFAIL {recovered}: spark error\n"
    )
    (tmp_path / "CORRECTNESS_SF1_r11_fix.log").write_text(
        f"PASS {recovered} (1 rows)\n"
    )
    passed, skipped, uncovered = coverage(str(tmp_path))
    assert uncovered == {victim}
    assert recovered in passed and victim not in passed


def test_sf4_set_is_registered_and_matches_certified_logs():
    """The committed deep-scale selection (VERDICT r11 #5) must be
    real: every SF4_SET name registered, and the set exactly the union
    of names certified in the committed CORRECTNESS_SF4_*.log files —
    so "the scale-sensitive set" is enumerable from code and provably
    the one that ran."""
    import glob
    import re

    from check_correctness import SF4_SET

    from distributed_mapreduce_spark.workload import QUERIES

    assert SF4_SET <= set(QUERIES), sorted(SF4_SET - set(QUERIES))
    logged: set[str] = set()
    for log in glob.glob(str(REPO / "CORRECTNESS_SF4_*.log")):
        logged.update(
            re.findall(r"^(?:PASS|FAIL|SKIP) ([a-z0-9_]+)", open(log).read(), re.M)
        )
    assert SF4_SET == logged, (
        f"set/log drift: only-in-code={sorted(SF4_SET - logged)} "
        f"only-in-logs={sorted(logged - SF4_SET)}"
    )


def test_sf1_logs_cover_every_registered_query():
    """The committed CORRECTNESS_SF1_*.log set must give every
    registered query a PASS (or documented SKIP) row — the gate that
    makes the round-10 111-query hole structurally impossible to
    re-open silently. A new query without an sf1.0 row fails here
    until certified."""
    from tools.sf1_coverage import coverage

    passed, skipped, uncovered = coverage()
    assert not uncovered, f"queries with no sf1.0 row: {sorted(uncovered)[:20]}"
