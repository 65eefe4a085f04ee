"""SparkSession factory with scale-ready defaults.

The reference engine hand-rolls its runtime (leader election at
file_server/fileserver.py:1075-1079, round-robin task placement at
fileserver.py:340-341, failure rescheduling at fileserver.py:739-790).
All of that is Spark configuration here, not code: AQE re-plans at
runtime, skew joins are auto-split, and shuffle partitioning is sized
for the local harness while remaining overridable for a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "distributed_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (harness contract) or all
    local cores. On a real cluster, ``master`` comes from spark-submit
    and the local[] default is ignored.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 1)

    # local[N, 3]: up to 3 attempts per task. Plain local[N] runs with
    # maxFailures=1 (any task error fails the job), which hides the
    # failure-recovery semantics the reference hand-rolls (pending-task
    # rescheduling, fileserver.py:739-790) and every real cluster has.
    builder = (
        SparkSession.builder.master(f"local[{cpus}, 3]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, dynamic join
        # strategy switch — the scale posture for 100 TB inputs.
        #
        # Deliberately NOT set: coalescePartitions.initialPartitionNum.
        # Round 9 shipped it globally at 1024 to fix one super-linear
        # gram shuffle (text_ngram_novelty x1000 slope 2.07 at 32
        # partitions) and it taxed every small exchange in the
        # iterative/many-stage queries 3-4.4x (markov / triangles /
        # pca, bisected in VERDICT r09): each tiny per-round exchange
        # paid 1024 map-side buckets plus AQE re-planning, multiplied
        # by stage count. The engine sizes its compute-expanding
        # exchanges explicitly instead — input-scaled repartition at
        # the exchange that needs width (workload/registry.py
        # wide_shuffle_parts, dedup._pair_shuffle_parts,
        # graph._wedge_shuffle_parts); small exchanges keep the
        # cores-sized default and AQE coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Recursive-CTE scale envelope (session posture, ADVICE r09):
        # cteRecursionRowLimit guards TOTAL emitted rows (default 1M),
        # which a terminating linear recursion outgrows with data size
        # (sql_recursive_hierarchy_rollup first trips it at sf1.0:
        # 200k parts x ~9 digit levels). 100M is the data-size
        # envelope; the actual runaway guard — the depth limit,
        # cteRecursionLevelLimit=100 — stays at its default. Set here
        # rather than inside a query builder so no builder mutates
        # shared-session conf as a side effect (the limit is read at
        # execution time, so restore-after-build is impossible).
        .config("spark.sql.cteRecursionRowLimit", "100000000")
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark's DataFrame-debugging origin capture walks the Python
        # stack and sends it over py4j on every Column call (24 py4j
        # commands for `F.col("id").alias("a")` against 4 without it),
        # a per-builder driver cost on every query. The trade: analysis
        # errors still raise AnalysisException with the JVM message,
        # but lose the Python `file:line` query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
