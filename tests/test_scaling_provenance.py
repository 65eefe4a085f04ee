"""Provenance rules of the scaling harness's merge (VERDICT r07 #5):
carried rows must keep their ORIGINAL run id, never cite the merge
target, and narrative notes must survive a partial refresh (the
round-8 --merge regression that silently dropped the notes object)."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))


def test_merge_carried_preserves_origin_and_notes():
    from scaling_bench import merge_carried

    prior = {
        "queries": {
            # modern row: has its own origin stamp
            "q_modern": {"x1_sec": 1.0, "measured_in": "SCALING_r08-run1"},
            # legacy row: predates measured_in, carries the old
            # self-referential tag that must be shed
            "q_legacy": {"x1_sec": 2.0, "carried_from": "SCALING_r07.json"},
        },
        "notes": {"diagnosis": "documented"},
    }
    rows, notes = merge_carried(prior, "SCALING_r07")

    assert rows["q_modern"]["measured_in"] == "SCALING_r08-run1"
    assert rows["q_modern"]["carried"] is True
    assert rows["q_legacy"]["measured_in"] == "SCALING_r07"
    assert "carried_from" not in rows["q_legacy"]
    assert notes == {"diagnosis": "documented"}
    # input must not be mutated (rows are copies)
    assert "carried" not in prior["queries"]["q_modern"]


def test_merge_carried_never_cites_merge_target():
    from scaling_bench import merge_carried

    prior = {"queries": {"q": {"x1_sec": 1.0}}}
    rows, _ = merge_carried(prior, "SCALING_r07")
    # the target artifact name (r08) appears nowhere; the source stem is
    # the fallback origin
    assert rows["q"]["measured_in"] == "SCALING_r07"


def test_replica_perm_unique_identity_and_class_preserving():
    """v2 corpus builder (VERDICT r08 #2): per-replica substitution
    alphabets must be identity at r=0, unique far beyond the 26-value
    Caesar ceiling, deterministic, layer-distinct, and class-preserving
    (lower->lower, upper->upper, digit->digit) so the cipher is a
    character bijection that preserves within-replica dup structure."""
    from scaling_bench import DIGITS, LOWER, UPPER, _replica_perm

    assert _replica_perm(0, 1) == LOWER + UPPER + DIGITS
    perms = {_replica_perm(r, 1) for r in range(120)}
    assert len(perms) == 120  # Caesar had only 26
    p = _replica_perm(7, 1)
    assert sorted(p[:26]) == list(LOWER)
    assert sorted(p[26:52]) == list(UPPER)
    assert sorted(p[52:]) == list(DIGITS)
    assert _replica_perm(7, 1) == _replica_perm(7, 1)
    assert _replica_perm(7, 1) != _replica_perm(7, 100)  # layered build


def test_reuse_gate_requires_matching_manifest(tmp_path):
    """--reuse must only accept a corpus whose _manifest.json matches
    (src, factor, id_stride, builder_version) — a stale or mismatched
    /tmp corpus must be rebuilt, not timed (ADVICE r08)."""
    import json

    from scaling_bench import (
        BUILDER_VERSION,
        corpus_manifest,
        manifest_matches,
    )

    out = tmp_path / "x10"
    out.mkdir()
    src = str(tmp_path / "src")

    # no manifest at all (pre-v2 corpus): never reuse
    assert not manifest_matches(str(out), src, 10, 1)

    m = corpus_manifest(src, 10, 1)
    (out / "_manifest.json").write_text(json.dumps(m))
    assert manifest_matches(str(out), src, 10, 1)
    # any parameter drift invalidates
    assert not manifest_matches(str(out), src, 100, 1)
    assert not manifest_matches(str(out), src, 10, 100)
    assert not manifest_matches(str(out), str(tmp_path / "other"), 10, 1)
    # older builder version invalidates
    m["builder_version"] = BUILDER_VERSION - 1
    (out / "_manifest.json").write_text(json.dumps(m))
    assert not manifest_matches(str(out), src, 10, 1)
    # corrupt manifest invalidates rather than raising
    (out / "_manifest.json").write_text("{not json")
    assert not manifest_matches(str(out), src, 10, 1)
