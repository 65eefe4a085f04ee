"""Registry-cost regression gate (VERDICT r08 #7): perf rot anywhere in
the ~394-query registry fails CI instead of waiting for a bench round.

The opt-in target re-runs the full sf0.01 differential and asserts the
per-query wall time stays within 1.25x of the pinned
REGISTRY_COST_BASELINE.json:

    python -m pytest tests/test_registry_cost_gate.py --reg-cost -q

The comparison itself is a pure function, negative-controlled below in
the always-on tests.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

BASELINE_PATH = REPO / "REGISTRY_COST_BASELINE.json"


def test_gate_passes_within_factor():
    from check_correctness import registry_cost_within

    base = {"total_spark_sec": 300.0, "n_queries": 400}
    ok, msg = registry_cost_within(
        {"total_spark_sec": 360.0, "n_queries": 400}, base
    )
    assert ok, msg
    # more queries at the same per-query cost: still fine
    ok, _ = registry_cost_within(
        {"total_spark_sec": 450.0, "n_queries": 500}, base
    )
    assert ok


def test_gate_fails_on_regression():
    """Negative control: a 1.5x per-query blow-up must trip the gate."""
    from check_correctness import registry_cost_within

    base = {"total_spark_sec": 300.0, "n_queries": 400}
    ok, msg = registry_cost_within(
        {"total_spark_sec": 450.0, "n_queries": 400}, base
    )
    assert not ok
    assert "x1.50" in msg
    # degenerate inputs never pass silently
    ok, _ = registry_cost_within({"total_spark_sec": 1.0, "n_queries": 0}, base)
    assert not ok


def test_cost_artifact_lands_in_the_scripts_own_checkout(tmp_path, monkeypatch):
    """A run from another checkout (a parent copy timed for a paired
    comparison) must import and write that checkout, not this one."""
    import check_correctness

    copy = tmp_path / "tools" / "check_correctness.py"
    copy.parent.mkdir()
    copy.write_text(Path(check_correctness.__file__).read_text())
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location("check_correctness_copy", copy)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.REGISTRY_COST == tmp_path / "REGISTRY_COST.json"
    assert sys.path[0] == str(tmp_path)


def test_pinned_baseline_is_sane():
    base = json.load(open(BASELINE_PATH))
    assert base["n_queries"] >= 394
    assert 0 < base["total_spark_sec"] < 3600
    assert base["sf_dir"].endswith("sf0.01")


@pytest.mark.regcost
def test_full_registry_cost_within_gate():
    """Opt-in (~6 min): run the whole registry at sf0.01, require ALL
    PASS, then gate the freshly written REGISTRY_COST.json against the
    pinned baseline."""
    from check_correctness import REGISTRY_COST, registry_cost_within, run

    failures = run("/root/testdata/sf0.01")
    assert failures == 0, f"{failures} correctness failures"
    measured = json.load(open(REGISTRY_COST))
    baseline = json.load(open(BASELINE_PATH))
    ok, msg = registry_cost_within(measured, baseline)
    assert ok, f"registry cost regression: {msg}"
