"""Lloyd-step invariants for the clustering workload."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload import QUERIES
from distributed_mapreduce_spark.workload.clustering import KMEANS_K
from distributed_mapreduce_spark.workload.registry import table


def test_assignment_total_and_self(spark, sf_dir):
    a = QUERIES["kmeans_assign"](spark, sf_dir).cache()
    n = table(spark, sf_dir, "embeddings").count()
    assert a.count() == n  # every vector assigned exactly once
    assert a.select("vec_id").distinct().count() == n
    # A seed centroid is its own nearest centroid at distance 0.
    seeds = a.filter(F.col("vec_id") < KMEANS_K)
    assert seeds.filter((F.col("cid") != F.col("vec_id")) | (F.col("dist_micro") != 0)).count() == 0
    a.unpersist()


def test_profile_consistent_with_assignment(spark, sf_dir):
    a = QUERIES["kmeans_assign"](spark, sf_dir)
    p = QUERIES["kmeans_cluster_profile"](spark, sf_dir)
    total = p.agg(F.sum("n_members")).first()[0]
    assert total == a.count()
    assert p.filter(F.col("min_dist_micro") > F.col("max_dist_micro")).count() == 0
    assert p.filter(F.col("inertia_micro") < F.col("max_dist_micro")).count() == 0


def test_centroid_update_shape(spark, sf_dir):
    c = QUERIES["kmeans_centroid_update"](spark, sf_dir).cache()
    # K clusters × 64 dims, constant member count across dims of a cluster.
    dims_per_cid = c.groupBy("cid").agg(
        F.countDistinct("dim").alias("nd"), F.countDistinct("n_members").alias("nm")
    )
    assert dims_per_cid.count() <= KMEANS_K
    assert dims_per_cid.filter((F.col("nd") != 64) | (F.col("nm") != 1)).count() == 0
    # centroid_micro = floor(sum/n) stays within member coordinate range.
    assert c.filter(
        (F.col("centroid_micro") > F.col("sum_micro"))
        & (F.col("sum_micro") > 0)
    ).count() == 0
    c.unpersist()


def test_lloyd_converge_query_monotone(spark, sf_dir):
    """The driver-checkable Lloyd loop's inertia is nonincreasing
    across iterations and the vector count is constant."""
    rows = (
        QUERIES["kmeans_lloyd_converge"](spark, sf_dir).orderBy("iter").collect()
    )
    assert [r.iter for r in rows] == list(range(1, len(rows) + 1))
    inertias = [int(r.inertia_sq_micro) for r in rows]
    assert all(b <= a for a, b in zip(inertias, inertias[1:]))
    assert inertias[-1] < inertias[0]
    assert len({r.n_vectors for r in rows}) == 1
