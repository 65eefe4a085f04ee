"""Gate for the DuckDB-oracle CTE-inlining blowup class (VERDICT r11
#3): a non-MATERIALIZED chained CTE level referenced >= 2 times gets
inlined into each reference — the evaluation tree doubles per level
(2^levels prefix re-evaluations: `graph_sssp_bounded` spilled >80 GB
and `graph_hits_rounds` blew a 24 GB envelope at the round-11 sf4
differential before their oracles were MATERIALIZED).

tools/oracle_cte_audit.py was a standalone always-exit-0 audit; this
test wires it into the suite with TODAY's flag set pinned as the
whitelist — every current flag is a tiny seed/frontier level (one-row
d0, <=|types| m_k) certified at sf1.0 (registry-wide) and sf4 (the
scale-sensitive set). A NEW iterative oracle with an expensive
unmaterialized multi-referenced level now fails here at commit time
instead of spilling at the next deep-scale differential.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

from oracle_cte_audit import chained_unmaterialized  # noqa: E402

from distributed_mapreduce_spark.workload import ORACLES  # noqa: E402

#: Flags as of round 12 — seed/frontier levels whose doubling is
#: negligible and whose queries are deep-scale certified. ADDING a name
#: here requires the same justification (bounded level size + certified
#: scale); prefer MATERIALIZED on the new oracle instead.
WHITELIST = {
    "graph_sssp_bounded": {"d0"},
    "graph_temporal_reachability": {"a0"},
    "graph_ktruss_peel": {"sup0"},
    "events_funnel": {"s1", "s2"},
    "funnel_latency_stats": {"s1", "s2"},
    "kmeans_lloyd_converge": {"a1", "a2"},
    "embedding_pca_power_probe": {"w0", "r1", "r2", "r3", "r4", "r5"},
    "graph_ppr_seed": {"m0", "m1", "m2"},
    "graph_mis_luby": {"u0"},
    "graph_greedy_matching": {"live0", "gone1", "gone2"},
}


def test_no_new_unmaterialized_chained_cte_levels():
    offenders = {}
    for name, sql in ORACLES.items():
        flagged = {cte for cte, _ in chained_unmaterialized(sql)}
        extra = flagged - WHITELIST.get(name, set())
        if extra:
            offenders[name] = sorted(extra)
    assert not offenders, (
        "new chained unmaterialized multi-referenced CTE level(s) — "
        "MATERIALIZE each round (see graph.py's _sssp_oracle comment) "
        f"or whitelist with justification: {offenders}"
    )


def test_whitelist_carries_no_stale_entries():
    """A whitelist row whose flag disappeared (oracle materialized or
    removed) must be dropped so the list stays the real risk surface."""
    stale = {}
    for name, ctes in WHITELIST.items():
        sql = ORACLES.get(name)
        flagged = (
            set() if sql is None else {c for c, _ in chained_unmaterialized(sql)}
        )
        gone = ctes - flagged
        if sql is None or gone:
            stale[name] = "oracle missing" if sql is None else sorted(gone)
    assert not stale, f"whitelist entries no longer flagged — remove: {stale}"


def test_negative_control_flags_unmaterialized_level():
    """A deliberately unmaterialized 2-referenced chained level flags;
    materializing it clears the flag; digits mid-name (the a1raw HITS
    shape ADVICE r11 found invisible to the old regex) flag too."""
    bad = """
    WITH d0 AS (SELECT 1 AS x),
    d1 AS (SELECT x FROM d0 UNION ALL SELECT x + 1 FROM d0),
    d2 AS (SELECT x FROM d1 UNION ALL SELECT x + 1 FROM d1)
    SELECT * FROM d2
    """
    flags = dict(chained_unmaterialized(bad))
    assert flags.get("d0") == 2 and flags.get("d1") == 2

    good = bad.replace("d0 AS (", "d0 AS MATERIALIZED (").replace(
        "d1 AS (", "d1 AS MATERIALIZED ("
    )
    assert chained_unmaterialized(good) == []

    midname = """
    WITH a1raw AS (SELECT 1 AS x),
    a2raw AS (SELECT x FROM a1raw UNION ALL SELECT x + 1 FROM a1raw)
    SELECT * FROM a2raw
    """
    assert dict(chained_unmaterialized(midname)).get("a1raw") == 2
