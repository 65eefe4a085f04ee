"""Structural invariants for the co-occurrence graph workload
(`workload/graph.py`) beyond the registry-wide differential."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload import QUERIES
from distributed_mapreduce_spark.workload.graph import _edges


def test_edges_oriented_and_distinct(spark, sf_dir):
    e = _edges(spark, sf_dir).cache()
    assert e.filter(F.col("src") >= F.col("dst")).count() == 0
    assert e.count() == e.distinct().count()
    e.unpersist()


def test_triangle_corner_identity(spark, sf_dir):
    """Σ per-node triangle counts = 3 × total triangles (each triangle
    has exactly three corners)."""
    per_node = QUERIES["graph_triangle_counts"](spark, sf_dir)
    corner_sum = per_node.agg(F.sum("n_triangles")).first()[0]
    assert corner_sum % 3 == 0 and corner_sum > 0


def test_degree_hist_mass(spark, sf_dir):
    e = _edges(spark, sf_dir)
    n_nodes = (
        e.select(F.col("src").alias("n"))
        .unionAll(e.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    hist = QUERIES["graph_degree_hist"](spark, sf_dir)
    assert hist.agg(F.sum("n_nodes")).first()[0] == n_nodes


def test_common_neighbors_positive_and_sorted(spark, sf_dir):
    rows = QUERIES["graph_common_neighbors"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    counts = [r.n_common for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(c >= 1 for c in counts)


def test_degree_ordered_matches_id_ordered(spark, sf_dir):
    """Compact-forward enumeration returns the identical per-node
    counts as the id-oriented plan on the harness graph."""
    a = QUERIES["graph_triangle_counts"](spark, sf_dir)
    b = QUERIES["graph_triangles_degree_ordered"](spark, sf_dir)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_degree_ordered_skewed_fixture(spark):
    """Power-law-ish fixture: hub 0 connected to every spoke, spokes
    chained so each (hub, i, i+1) closes a triangle, plus a detached
    4-clique. Exact counts are known in closed form; the degree
    ordering must not miss or double-count triangles at the hub."""
    from distributed_mapreduce_spark.workload.graph import (
        _triangle_counts_degree_ordered,
    )

    n = 50
    hub_edges = [(0, i) for i in range(1, n + 1)]
    chain = [(i, i + 1) for i in range(1, n)]
    clique = [(a, b) for a in range(100, 104) for b in range(100, 104) if a < b]
    e = spark.createDataFrame(hub_edges + chain + clique, ["src", "dst"])
    got = {
        r.node: r.n_triangles
        for r in _triangle_counts_degree_ordered(e).collect()
    }
    # hub participates in n-1 chain triangles; spoke i in deg-2/3 share
    assert got[0] == n - 1
    assert got[1] == 1 and got[n] == 1
    assert all(got[i] == 2 for i in range(2, n))
    # 4-clique: C(3,2)=3 triangles per node
    assert all(got[c] == 3 for c in range(100, 104))
    assert sum(got.values()) % 3 == 0


def test_kcore_monotone_shrink(spark, sf_dir):
    """Peeling never grows the graph; node/edge counts are
    nonincreasing across rounds."""
    rows = QUERIES["graph_kcore_peel"](spark, sf_dir).orderBy("round").collect()
    assert [r.round for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes
        assert b.n_edges <= a.n_edges


def test_wedge_volume_is_remeasured_after_an_in_place_rewrite(spark, sf_dir, tmp_path):
    """The wedge-volume memo keys on the file version of `lineitem`, not
    on the data directory: rewriting the table in place with fewer rows
    makes the next build measure a new, smaller volume instead of
    sizing the shuffle from the old one."""
    import shutil

    import pyarrow.parquet as pq

    from distributed_mapreduce_spark.workload import graph

    sf = tmp_path / "sf"
    sf.mkdir()
    lineitem = f"{sf}/lineitem.parquet"
    shutil.copy(f"{sf_dir}/lineitem.parquet", lineitem)

    def volumes() -> list[int]:
        return [v for k, v in graph._WEDGE_ROWS_CACHE.items() if k[0] == lineitem]

    QUERIES["graph_resource_allocation"](spark, str(sf))
    (before,) = volumes()
    assert before > 0

    t = pq.read_table(lineitem)
    pq.write_table(t.slice(0, t.num_rows // 2), lineitem)
    QUERIES["graph_resource_allocation"](spark, str(sf))
    assert len(volumes()) == 2
    assert volumes()[1] < before
