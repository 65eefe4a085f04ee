"""Opt-in full-registry sf0.1 certification (VERDICT r05 #7): the
round-end `CORRECTNESS_SF01_r{N}.log` artifact is produced by a pytest
target instead of a hand-run step.

Run with:

    python -m pytest tests/test_sf01_certification.py --sf01-cert -q

Skipped by default (it re-runs every registered query against its
DuckDB oracle at sf0.1 — ~15-25 min). The round number for the log
filename comes from $SPARK_GRAFT_ROUND (default 7).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

pytestmark = pytest.mark.sf01cert

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))


def test_full_registry_sf01_certification():
    from check_correctness import run

    round_no = os.environ.get("SPARK_GRAFT_ROUND", "8")
    log = str(REPO / f"CORRECTNESS_SF01_r{round_no}.log")
    failures = run("/root/testdata/sf0.1", log_path=log)
    assert failures == 0, f"sf0.1 certification failed — see {log}"
