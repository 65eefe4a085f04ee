"""Dedup operators on crafted near-duplicates (the harness documents
are mostly unique; these tests plant known duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.dedup import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    shingle_table,
    shingles,
    simhash_pairs,
    simhash_table,
)
from distributed_mapreduce_spark.workload.registry import table
from test_schema_cache import _jobs_launched

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill in the afternoon sun"
)
NEAR = BASE.replace("afternoon sun", "evening light")  # small edit
FAR = "completely different content about spark query engines and shuffles everywhere"


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR), (4, BASE)], ["doc_id", "text"]
    )


def test_shingles_width_and_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "x x x x")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", shingles(F.col("text")).alias("sh")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []  # fewer tokens than shingle width
    assert got[3] == ["x x x"]  # distinct shingles


def test_shingle_table_over_table_launches_no_job(spark, sf_dir):
    """`table()` owns the documents spread; building the signature
    relation over it must not execute that exchange (``.rdd`` on the
    spread frame would, under AQE)."""
    docs = table(spark, sf_dir, "documents")
    built = []
    assert _jobs_launched(spark, lambda: built.append(shingle_table(docs))) == 0
    built[0].unpersist()


def test_minhash_finds_near_and_exact_dups_not_far(spark, docs):
    sh_df = shingle_table(docs)
    try:
        pairs = {
            (r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(sh_df).collect()
        }
    finally:
        sh_df.unpersist()
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup collides in some band
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_exact_candidates(spark, docs):
    sh_df = shingle_table(docs)
    try:
        pairs = {
            (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(sh_df).collect()
        }
    finally:
        sh_df.unpersist()
    # Exact inverted index: every pair sharing a rare shingle, no misses.
    assert {(1, 2), (1, 4), (2, 4)} <= pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_max_df_drops_stop_grams(spark):
    # Every doc shares the ubiquitous gram; cap df at 2 → no candidates.
    df = spark.createDataFrame(
        [(i, "common stop gram") for i in range(1, 5)], ["doc_id", "text"]
    )
    sh_df = shingle_table(df)
    try:
        assert ngram_jaccard_pairs(sh_df, max_df=2).count() == 0
        assert ngram_jaccard_pairs(sh_df, max_df=4).count() == 6
    finally:
        sh_df.unpersist()


def test_simhash_pairs_banding_finds_close_pairs(spark, docs):
    sim = simhash_table(docs)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_pairs(sim).collect()}
    assert got.get((1, 4)) == 0  # identical docs: distance 0
    # Pigeonhole guarantee: any pair within distance 3 shares a band, so
    # if (1,2) is within 3 it MUST be found; either way doc 3 never pairs.
    hashes = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    d12 = bin(hashes[1] ^ hashes[2]).count("1")
    assert ((1, 2) in got) == (d12 <= 3)
    assert not any(3 in p for p in got)


def test_simhash_similar_docs_have_close_hashes(spark, docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert got[1] == got[4]  # identical docs, identical simhash
    assert hamming(got[1], got[2]) < hamming(got[1], got[3])  # near < far


def test_connected_components_chain_merges_transitively(spark):
    from distributed_mapreduce_spark.workload.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    # Chain 1-2-3-4 collapses to min label 1 even though (1,4) never pairs.
    assert {got[1], got[2], got[3], got[4]} == {1}
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == 20


def test_prefix_filter_superset_of_capped_index(spark, sf_dir):
    """Prefix filtering is provably complete, so its verified pair set
    must contain every pair the df-capped inverted index finds (and
    every LSH-found pair — both alternatives can only miss)."""
    from distributed_mapreduce_spark.workload import QUERIES

    pf = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_prefix_filter_join"](spark, sf_dir).collect()
    }
    ngram = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    mh = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_pairs"](spark, sf_dir).collect()
    }
    assert ngram <= pf
    assert mh <= pf
    assert len(pf) > 0


@pytest.mark.deepaudit  # ~19 s synthetic chain; operator-internal convergence property
def test_pointer_jump_cc_converges_logarithmically_on_chain(spark):
    """A 41-node path is the adversarial shape: plain min-label needs
    ~40 rounds to drag label 0 to the far end; pointer jumping halves
    chain length per round, so 10 rounds MUST suffice — if the doubling
    step were broken this asserts False, not just slow."""
    from distributed_mapreduce_spark.workload.dedup import (
        connected_components,
        connected_components_pointer_jump,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    jump = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_pointer_jump(pairs, max_iter=10).collect()
    }
    assert jump == {i: 0 for i in range(41)}
    # and the fixed point matches plain min-label given enough rounds
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iter=50).collect()
    }
    assert plain == jump


def _pair_volumes(spark, cache_key, df_values) -> dict:
    """Run the pair-volume sizing for ``cache_key`` over a rare-gram
    index with the given doc frequencies; return the memo entries."""
    from distributed_mapreduce_spark.workload.dedup import (
        _PAIR_ROWS_CACHE,
        _pair_shuffle_parts,
    )

    rare = spark.createDataFrame([(v,) for v in df_values], "df long")
    _pair_shuffle_parts(rare, cache_key)
    return {k: v for k, v in _PAIR_ROWS_CACHE.items() if k[0] == cache_key[0]}


def test_pair_volume_cache_invalidates_on_data_regeneration(spark, tmp_path):
    """The memoized pair-volume sizing must key on dataset CONTENT, not
    path (ADVICE r07): regenerating files in place under the same
    sf_dir changes the file fingerprint, so a stale volume can never
    mis-size the shuffle."""
    import os

    from distributed_mapreduce_spark.workload.dedup import _PAIR_ROWS_CACHE

    d = tmp_path / "sfX"
    d.mkdir()
    f = d / "documents.parquet"
    f.write_bytes(b"v1")
    key = (str(d), 7)
    assert list(_pair_volumes(spark, key, [3, 5]).values()) == [3]
    # untouched data: the memo is hit, the new index is never measured
    assert list(_pair_volumes(spark, key, [9]).values()) == [3]

    # same path, regenerated content -> re-measured (size moves; then
    # mtime alone, so same-size rewrites still register)
    f.write_bytes(b"v2-longer")
    assert sorted(_pair_volumes(spark, key, [9]).values()) == [3, 4]
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert sorted(_pair_volumes(spark, key, [11]).values()) == [3, 4, 5]
    _PAIR_ROWS_CACHE.clear()
    assert list(_pair_volumes(spark, key, [3]).values()) == [1]


def test_pair_volume_key_keeps_nonlocal_paths_distinct(spark, tmp_path):
    """Paths that cannot be fingerprinted (remote URIs, missing dirs)
    must NOT collapse to one memo key — the raw path is part of the key,
    so two different unwalkable datasets never share a cached pair
    volume (ADVICE r08)."""
    a = _pair_volumes(spark, ("s3a://bucket-a/corpus", 7), [3])
    b = _pair_volumes(spark, ("s3a://bucket-b/corpus", 7), [5])
    missing = _pair_volumes(spark, (str(tmp_path / "does_not_exist"), 7), [7])
    assert list(a.values()) == [1] and list(b.values()) == [2]
    assert list(missing.values()) == [3]
    assert list(a) == [("s3a://bucket-a/corpus", None, 7)]
    # a local dir with data keeps the stat-based part of the key
    d = tmp_path / "sfY"
    d.mkdir()
    (d / "x.parquet").write_bytes(b"v1")
    (key,) = _pair_volumes(spark, (str(d), 7), [3])
    assert key[1] is not None and key[1][0][0] == "x.parquet"
