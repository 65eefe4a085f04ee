"""Semantic tests for the round-4 session-B operators (beyond the
differential harness): zone-map layout effect, sweep-line peak
concurrency vs brute force, weighted-sample inclusion bias, PQ/ADC
structure, join-IVM decomposition."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload import QUERIES
from distributed_mapreduce_spark.workload.advanced import (
    ZONEMAP_BUCKETS,
    q_equidepth_histogram,
    q_zonemap_skipping_audit,
)
from distributed_mapreduce_spark.workload.clustering import (
    PQ_K,
    PQ_M,
    q_ann_pq_adc,
)
from distributed_mapreduce_spark.workload.corpus import WPRIO_K
from distributed_mapreduce_spark.workload.journey import (
    q_sessions_peak_concurrency,
)
from distributed_mapreduce_spark.workload.registry import table


def test_zonemap_clustered_layout_skips_more(spark, sf_dir):
    rows = {r["layout"]: r for r in q_zonemap_skipping_audit(spark, sf_dir).collect()}
    assert set(rows) == {"insert_order", "date_clustered"}
    for r in rows.values():
        assert r["n_buckets"] == ZONEMAP_BUCKETS
    # The whole point of clustering: strictly more skippable files.
    assert (
        rows["date_clustered"]["n_skippable"] > rows["insert_order"]["n_skippable"]
    )
    assert rows["date_clustered"]["skip_bp"] >= 8000  # >= 80% skipped


def test_equidepth_buckets_balanced(spark, sf_dir):
    rows = q_equidepth_histogram(spark, sf_dir).collect()
    counts = [r["n_rows"] for r in rows]
    assert len(rows) == 16
    assert max(counts) - min(counts) <= 1
    # bucket boundaries are non-decreasing in price
    ordered = sorted(rows, key=lambda r: r["bucket"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_price"] <= b["min_price"] or a["max_price"] == b["min_price"]


def test_peak_concurrency_matches_bruteforce(spark, sf_dir):
    got = q_sessions_peak_concurrency(spark, sf_dir).first()
    # Brute force in Python over the tiny fixture: sessionize, then
    # scan the merged endpoint list.
    ev = sorted(
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    sessions = []
    prev_user, prev_ts = None, None
    for r in ev:
        if r["user_id"] != prev_user or (r["ts"] - prev_ts).total_seconds() > 1800:
            sessions.append([r["ts"], r["ts"]])
        else:
            sessions[-1][1] = r["ts"]
        prev_user, prev_ts = r["user_id"], r["ts"]
    pts = [(s, 1) for s, _ in sessions] + [(e, -1) for _, e in sessions]
    # +1 strictly before -1 at the same instant; -1 happens just after
    # the end timestamp (matching the +1us shift in the query).
    pts.sort(key=lambda p: (p[0], -p[1]))
    cur = peak = 0
    for _, d in pts:
        cur += d
        peak = max(peak, cur)
    assert got["n_sessions"] == len(sessions)
    assert got["peak_concurrency"] == peak


def test_weighted_sample_prefers_long_docs(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    sample = QUERIES["weighted_sample_priority"](spark, sf_dir)
    assert sample.count() == min(WPRIO_K, docs.count())
    mean_sample = sample.agg(F.avg("weight")).first()[0]
    # Length-weighted inclusion must pull the sampled mean above the
    # corpus mean (deterministic fixture, stable assertion).
    assert mean_sample > mean_all


def test_pq_adc_structure(spark, sf_dir):
    rows = q_ann_pq_adc(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
        assert r["adc_micro"] >= 0
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        ds = [r["adc_micro"] for r in rs]
        assert ds == sorted(ds)
    # A codebook seed vector's nearest ADC neighbor should have ADC
    # distance 0 to itself's code cell only if it IS a centroid; at
    # minimum, every seed vector (vec_id < PQ_K) encodes to itself's
    # subvectors => its own reconstruction error is 0, so when it
    # appears as a query its top hits share its codes.
    assert PQ_M * PQ_K == 32  # geometry documented in the module


def test_ivm_join_delta_decomposition(spark, sf_dir):
    from distributed_mapreduce_spark.workload.frontier import q_ivm_join_delta

    rows = q_ivm_join_delta(spark, sf_dir).collect()
    assert rows
    # Sanity: delta contribution never exceeds the total, and at least
    # one nation saw delta rows (1/17 of orders + 1/19 of customers).
    assert all(0 <= r["delta_orders"] <= r["n_orders"] for r in rows)
    assert any(r["delta_orders"] > 0 for r in rows)


def test_cdc_time_travel_consistency(spark, sf_dir):
    from distributed_mapreduce_spark.workload.versioning import q_cdc_time_travel

    r = q_cdc_time_travel(spark, sf_dir).first()
    # Replaying the remaining batch over the time-travel state must
    # reproduce v2 exactly, and the two batches partition the feed.
    assert r["consistent"] is True
    assert r["n_batch1"] > 0 and r["n_batch2"] > 0
    assert r["n_at_t"] > 0


def test_multimodal_dedup_groups(spark, sf_dir):
    from distributed_mapreduce_spark.workload.multimodal_q import MEDIA_DUP_MOD
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["multimodal_dedup_exact"](spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    # Group count == number of distinct residues present; total copies
    # re-add to the corpus size; keep+discard accounting is exact.
    assert len(rows) == min(MEDIA_DUP_MOD, n_docs)
    assert sum(r["n_copies"] for r in rows) == n_docs
    assert all(r["n_copies"] == r["n_discard"] + 1 for r in rows)
