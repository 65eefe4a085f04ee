"""Graph analytics over the part co-occurrence graph — triangle
counting, degree distribution, common-neighbor scoring.

The graph: nodes are parts; an undirected edge (a, b) exists when both
parts appear in the same order (derived from `lineitem`, gated to
``l_orderkey % 7 = 0`` so the edge set stays a bounded sample of the
quadratic per-order pair fan-out). Edges are stored once, oriented
``src < dst`` — the standard de-duplicated representation that makes
each triangle appear exactly once as (a < b < c).

Reference parity note: the reference ships no join or graph jobs (its
JOIN query type is a declared-but-dead stub,
`file_server/fileserver.py:1383-1384`; its maple/juice executables are
wordcount-shaped, `data/maple-exe.go` / `data/juice-exe.go`). These
queries extend the reference's shuffle-aggregate skeleton to multi-way
self-joins (the canonical MapReduce triangle-enumeration algorithm of
Suri & Vassilvitskii, WWW'11, expressed declaratively).

Scale notes (100 TB):
- Edge derivation shuffles once on orderkey; the per-order pair
  blowup is bounded by order arity (≤ 7 lineitems/order in TPC-H).
- Triangle enumeration is two shuffle equi-joins on edge endpoints.
  Worst-case intermediate is the wedge count Σ_b d(b)²; the id
  orientation (src < dst) halves it and AQE handles residual skew.
  For a power-law 100 TB graph, `graph_triangles_degree_ordered`
  re-orients by (degree, id) (compact-forward), bounding the wedge
  intermediate by O(m^1.5) independent of hub degree.
- All outputs are exact integers — no float drift in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.readers import fingerprint
from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: Deterministic order-key gate bounding the sampled co-occurrence set.
EDGE_GATE_MOD = 7

#: Top pairs kept by common-neighbor count.
COMMON_NEIGHBOR_TOP_K = 100

_EDGES_SQL = f"""
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey % {EDGE_GATE_MOD} = 0) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey % {EDGE_GATE_MOD} = 0) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct src<dst co-occurrence edges (one shuffle on orderkey)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % EDGE_GATE_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )


@query(
    "graph_triangle_counts",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation count (local clustering
    numerator). Each triangle (a<b<c) is enumerated once via two
    endpoint equi-joins over the oriented edge set, then exploded to
    its three corners and hash-aggregated — the Suri-Vassilvitskii
    node-iterator, Catalyst-planned."""
    e = _edges(spark, sf_dir).cache()
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _triangle_counts_degree_ordered(e: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge set (columns
    ``src``/``dst``, stored once per edge), using the compact-forward
    (degree-ordered) orientation: each edge points from its
    lower-(degree, id) endpoint to the higher one, so every wedge is
    enumerated at its LOWEST-degree corner. Worst-case intermediate
    drops from Σ d(v)² (id orientation — quadratic in hub degree on a
    power-law graph) to O(m^1.5) [Chiba–Nishizeki / Latapy bound] —
    the variant that survives 100× skew.

    Node order key: the (deg, id) STRUCT, compared lexicographically —
    ties broken by id so the order is total and the enumeration exact.
    A packed deg·2³² + id long would silently collide for ids or
    degrees ≥ 2³² and corrupt the orientation; struct ordering is
    collision-free at any scale and stays whole-stage-codegen'd."""
    tri = _oriented_triangles(e)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """(x, y, z) triangle enumeration of the src<dst edge set `e` in
    the compact-forward degree ordering — each triangle exactly once,
    materialized at its lowest-(deg, id) corner x. The single shared
    implementation behind `graph_triangles_degree_ordered`,
    `_edge_support` and every truss round (the struct-key orientation
    fix must live in exactly one place)."""
    deg = (
        e.select(F.col("src").alias("n"))
        .unionAll(e.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.withColumnsRenamed({"n": "src", "d": "ds"}), "src")
        .join(deg.withColumnsRenamed({"n": "dst", "d": "dd"}), "dst")
        .select(
            "src",
            "dst",
            F.struct(F.col("ds").alias("d"), F.col("src").alias("i")).alias("ks"),
            F.struct(F.col("dd").alias("d"), F.col("dst").alias("i")).alias("kd"),
        )
    )
    fwd = keyed.select(
        F.when(F.col("ks") < F.col("kd"), F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(F.col("ks") < F.col("kd"), F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.greatest("ks", "kd").alias("kv"),
    )
    a = fwd.alias("a")
    b = fwd.alias("b")
    # Wedge at the lowest corner u; the closing edge, if present, is
    # oriented a.v -> b.v because k(a.v) < k(b.v).
    wedges = a.join(
        b, (F.col("a.u") == F.col("b.u")) & (F.col("a.kv") < F.col("b.kv"))
    ).select(F.col("a.u").alias("x"), F.col("a.v").alias("y"), F.col("b.v").alias("z"))
    closing = fwd.select(F.col("u").alias("y"), F.col("v").alias("z"))
    return wedges.join(closing, ["y", "z"])


@query(
    "graph_triangles_degree_ordered",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def q_triangles_degree_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same per-node triangle counts as `graph_triangle_counts`
    (identical oracle — the orientation changes the join plan, never
    the answer), enumerated with the compact-forward degree ordering:
    wedges materialize only at each triangle's lowest-degree corner,
    bounding the intermediate by O(m^1.5) instead of the hub-quadratic
    Σ d(v)² — the 100×-skew-safe variant the id-oriented plan
    documents as its scale follow-up."""
    return _triangle_counts_degree_ordered(_edges(spark, sf_dir).cache())


@query(
    "graph_degree_hist",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      GROUP BY node
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-occurrence graph: per-node degree
    (each undirected edge counted at both endpoints), then a histogram
    degree → node count. Two hash aggregations with map-side partials;
    the histogram relation is tiny regardless of graph size."""
    e = _edges(spark, sf_dir)
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    und AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ),
    wedge AS (
      SELECT w1.v AS a, w2.v AS c, CAST(count(*) AS BIGINT) AS n_common
      FROM und w1 JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
      GROUP BY 1, 2
    )
    SELECT a, c, n_common
    FROM wedge
    ORDER BY n_common DESC, a, c
    LIMIT {COMMON_NEIGHBOR_TOP_K}
    """,
)
def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COMMON_NEIGHBOR_TOP_K} node pairs by common-neighbor count
    (the simplest link-prediction score). Wedges are enumerated by a
    self-join of the undirected incidence list on the center node and
    hash-aggregated per endpoint pair; the global top-k is a
    TakeOrdered (per-partition top-k then merge on the driver — no
    global sort shuffle)."""
    # Cache the derived edge set: the wedge join reads the undirected
    # incidence list twice (w1, w2) — without the cache the
    # lineitem self-join would run twice.
    e = _edges(spark, sf_dir).cache()
    und = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    w1 = und.alias("w1")
    w2 = und.alias("w2")
    wedge = (
        w1.join(
            w2,
            (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.v") < F.col("w2.v")),
        )
        .select(F.col("w1.v").alias("a"), F.col("w2.v").alias("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return wedge.orderBy(F.desc("n_common"), "a", "c").limit(COMMON_NEIGHBOR_TOP_K)


#: k-core parameters: peel nodes with degree < KCORE_K, fixed rounds.
KCORE_K = 4
KCORE_ROUNDS = 4


def _kcore_oracle(k: int, rounds: int) -> str:
    # MATERIALIZED is load-bearing: every n{r}/e{r} is referenced 2-3
    # times downstream, and DuckDB's default CTE inlining re-evaluates
    # the whole peel chain per reference — combinatorial in `rounds`
    # (~25 min at sf0.1). Materializing each round mirrors the Spark
    # side's localCheckpoint and keeps the oracle linear in rounds.
    ctes = [f"WITH e0 AS MATERIALIZED ({_EDGES_SQL})"]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f""", n{r} AS MATERIALIZED (
              SELECT node FROM (
                SELECT node, count(*) AS d FROM (
                  SELECT src AS node FROM e{p}
                  UNION ALL SELECT dst FROM e{p}
                ) GROUP BY node
              ) WHERE d >= {k}
            ), e{r} AS MATERIALIZED (
              SELECT e.src, e.dst FROM e{p} e
              JOIN n{r} a ON e.src = a.node
              JOIN n{r} b ON e.dst = b.node
            ), r{r} AS (
              SELECT CAST({r} AS INTEGER) AS round,
                     (SELECT CAST(count(*) AS BIGINT) FROM n{r}) AS n_nodes,
                     (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges
            )"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{r}" for r in range(1, rounds + 1))
    return "".join(ctes) + "\n" + union


@query("graph_kcore_peel", oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS))
def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling: each round drops
    nodes whose CURRENT degree is below {KCORE_K} and the edges that
    touch them, reporting (round, nodes remaining, edges remaining) —
    the community-core / spam-subgraph extraction pass, and the third
    fixpoint-loop shape in the engine (monotone shrink, vs PageRank's
    contraction and Lloyd's descent).

    Plan per round: degree hash-aggregate over the current edge set +
    two semi-join filters (edges keep both endpoints) — all equi-joins
    on node ids; `localCheckpoint` truncates the loop lineage. The
    readout unions one 1-row aggregate per round, collected lazily."""
    e = _edges(spark, sf_dir).localCheckpoint()
    rows: list[tuple[int, int, int]] = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("node").localCheckpoint()
        e = (
            e.join(keep.withColumnRenamed("node", "src"), "src", "leftsemi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "leftsemi")
            .select("src", "dst")
            .localCheckpoint()
        )
        # Both relations are checkpointed (materialized); the counts are
        # 1-value aggregates, the Lloyd-loop readout pattern.
        rows.append((r, keep.count(), e.count()))
    return spark.createDataFrame(
        [(r, n, m) for r, n, m in rows],
        schema="round int, n_nodes bigint, n_edges bigint",
    )


@query(
    "graph_clustering_coeff",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), tcnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      GROUP BY node
    )
    SELECT deg.node, deg.d AS degree,
           coalesce(tcnt.n_tri, 0) AS n_triangles,
           CAST(CASE WHEN deg.d < 2 THEN 0
                     ELSE coalesce(tcnt.n_tri, 0) * 20000 // (deg.d * (deg.d - 1))
                END AS BIGINT) AS clustering_bp
    FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
    """,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: triangles(v) /
    C(degree(v), 2) in exact basis points (2·tri·10⁴ // d(d−1)) — the
    cohesion score that separates community cores from bridge hubs.
    Composes the triangle enumeration with the degree aggregate; the
    division is integer floor, so the oracle is exact."""
    e = _edges(spark, sf_dir).cache()
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    j = deg.join(tcnt, "node", "left").select(
        "node",
        F.col("d").cast("long").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    return j.select(
        "node",
        "degree",
        "n_triangles",
        F.when(F.col("degree") < 2, F.lit(0))
        .otherwise(
            F.expr("(n_triangles * 20000) DIV (degree * (degree - 1))")
        )
        .cast("long")
        .alias("clustering_bp"),
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
      GROUP BY node
    ), ends AS (
      SELECT da.d AS x, db.d AS y
      FROM e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node
      UNION ALL
      SELECT db.d, da.d
      FROM e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ends
    ), w AS (
      -- widen BEFORE multiplying: BIGINT n*sxy would raise in DuckDB
      -- (and silently wrap in 64-bit engines) once the sums are large
      SELECT n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dx,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dy
      FROM s
    )
    SELECT n,
           CAST(num AS BIGINT) AS cov_num,
           CASE WHEN num > 0 THEN 'assortative'
                WHEN num < 0 THEN 'disassortative'
                ELSE 'neutral' END AS mixing,
           CAST(num * num * 10000 // (dx * dy) AS BIGINT) AS r2_bp
    FROM w
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: the correlation between the degrees of
    edge endpoints (symmetrized over both orientations), as exact
    integer sufficient statistics — covariance sign classifies the
    graph as assortative (hubs link hubs — social networks) or
    disassortative (hubs link leaves — infrastructure/web), r² in
    basis points bounds its strength. The sufficient-statistics shape
    of `column_correlation_audit` applied to the degree-joined edge
    list.

    Plan: degree aggregate, two equi-joins to attach endpoint degrees,
    one 6-statistic reduce — all map-side-combinable."""
    e = _edges(spark, sf_dir).cache()
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.withColumnsRenamed({"node": "src", "d": "dx"})
    db = deg.withColumnsRenamed({"node": "dst", "d": "dy"})
    j = e.join(da, "src").join(db, "dst")
    ends = j.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        j.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    s = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    # Widen the OPERANDS before any product (64-bit n*sxy wraps
    # silently in Spark, raises in DuckDB): every intermediate lives in
    # DECIMAL(38,0)/HUGEINT; only the published cov_num narrows back to
    # BIGINT at the end.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("n")) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy"))
    dx_ = dec(F.col("n")) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx"))
    dy_ = dec(F.col("n")) * dec(F.col("syy")) - dec(F.col("sy")) * dec(F.col("sy"))
    return s.select(
        "n",
        num.cast("long").alias("cov_num"),
        F.when(num > 0, "assortative")
        .when(num < 0, "disassortative")
        .otherwise("neutral")
        .alias("mixing"),
        (num * num * 10000).cast("decimal(38,0)").alias("_r2num"),
        (dx_ * dy_).cast("decimal(38,0)").alias("_r2den"),
    ).withColumn(
        # Spark's decimal DIV rounds the scale-6 quotient before
        # truncating (off-by-one when the true quotient sits within
        # 1e-6 of an integer); correct with the exact remainder test.
        "_q0", F.expr("_r2num DIV _r2den")
    ).withColumn(
        "r2_bp",
        (
            F.col("_q0")
            - F.when(
                F.col("_q0").cast("decimal(38,0)") * F.col("_r2den") > F.col("_r2num"), 1
            ).otherwise(0)
            + F.when(
                (F.col("_q0") + 1).cast("decimal(38,0)") * F.col("_r2den")
                <= F.col("_r2num"),
                1,
            ).otherwise(0)
        ).cast("long"),
    ).drop("_r2num", "_r2den", "_q0")


#: Bounded Bellman-Ford rounds for the weighted shortest-path query.
SSSP_HOPS = 4


def _sssp_oracle(hops: int) -> str:
    # Every d{k} is MATERIALIZED: each round references d{k-1} TWICE
    # (carry + relax), and without the hint DuckDB inlines the CTE into
    # both references — the evaluation tree doubles per level (2^hops
    # re-evaluations of the whole prefix), which is what blew an ~80 GB
    # spill and filled the disk at the sf4 differential (round 11).
    # Materialization makes each round evaluate once; adj likewise
    # (referenced once per round).
    ctes = [
        f"e AS ({_EDGES_SQL})",
        """, ew AS (
          SELECT src, dst, CAST(1 + (src + dst) % 5 AS BIGINT) AS w FROM e
        ), adj AS MATERIALIZED (
          SELECT src, dst, w FROM ew UNION ALL SELECT dst, src, w FROM ew
        ), d0 AS (
          SELECT (SELECT min(src) FROM adj) AS node, CAST(0 AS BIGINT) AS dist
        )""",
    ]
    for k in range(1, hops + 1):
        ctes.append(
            f""", d{k} AS MATERIALIZED (
              SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d{k - 1}
                UNION ALL
                SELECT adj.dst, d{k - 1}.dist + adj.w
                FROM d{k - 1} JOIN adj ON adj.src = d{k - 1}.node
              ) GROUP BY node
            )"""
        )
    return "WITH " + "".join(ctes) + f"\nSELECT node, dist FROM d{hops}"


@query("graph_sssp_bounded", oracle=_sssp_oracle(SSSP_HOPS))
def q_graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths, bounded to {SSSP_HOPS}
    relaxation rounds (distances using ≤{SSSP_HOPS} edges) — the
    weighted sibling of `dedup_cluster_hops`' BFS: per round, every
    frontier distance relaxes through the adjacency list and per-node
    minima fold — exactly Pregel Bellman-Ford. Edge weights are the
    deterministic integer 1 + (src+dst) % 5, source = the minimum node
    id; everything is integer arithmetic, so the unrolled-CTE oracle
    matches bit-for-bit.

    Plan (100 TB posture): the adjacency list is hash-partitioned on
    src once and persisted; each round shuffles only the (node, dist)
    frontier — state is one row per reached node, orders of magnitude
    smaller than the edges; `localCheckpoint` keeps the plan O(1) in
    rounds (the `pagerank_converge` discipline)."""
    par = spark.sparkContext.defaultParallelism
    e = _edges(spark, sf_dir)
    ew = e.select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 5).cast("long").alias("w")
    )
    adj = (
        ew.unionAll(
            ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        .repartition(par, "src")
        .persist()
    )
    dist = (
        adj.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    for _ in range(SSSP_HOPS):
        relax = dist.join(adj, dist.node == adj.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint()
        )
    return dist.select("node", "dist")


#: Synchronous label-propagation rounds (unrolled in the oracle).
LPA_ROUNDS = 3


def _lpa_round_sql(k: int) -> str:
    return f"""
    v{k} AS MATERIALIZED (
      SELECT a.u, l.lbl, CAST(count(*) AS BIGINT) AS cnt
      FROM adj a JOIN l{k} l ON a.v = l.node
      GROUP BY 1, 2
    ), l{k + 1} AS MATERIALIZED (
      SELECT u AS node, lbl FROM (
        SELECT u, lbl,
               row_number() OVER (PARTITION BY u ORDER BY cnt DESC, lbl) AS rn
        FROM v{k}
      ) WHERE rn = 1
    )"""


# Community detection by synchronous label propagation (Raghavan et al.
# 2007), LPA_ROUNDS rounds: every node starts labeled with its own id;
# each round it adopts the label the PLURALITY of its neighbors hold
# (ties → smallest label, making the synchronous schedule fully
# deterministic — no random tie coin, no visit-order dependence).
# Output: surviving communities with size and smallest member.
sql_query(
    "graph_label_propagation",
    f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    adj AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS lbl FROM adj
    ),{",".join(_lpa_round_sql(k) for k in range(LPA_ROUNDS))}
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS min_node
    FROM l{LPA_ROUNDS} GROUP BY 1
    """,
)


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """(labels, adj): the final (node, lbl) assignment of the
    {LPA_ROUNDS}-round synchronous LPA plus the persisted symmetric
    adjacency — shared by `graph_label_propagation` (community sizes)
    and `graph_modularity_score` (partition quality)."""
    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionAll(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .persist()
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    from pyspark.sql import Window

    for _ in range(LPA_ROUNDS):
        votes = (
            adj.join(labels, adj["v"] == labels["node"])
            .groupBy("u", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("u").orderBy(F.col("cnt").desc(), "lbl")
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "lbl")
        )
    # persisted: the modularity query references the final assignment
    # three times (both intra-join sides + the degree-sum aggregate) —
    # without this the whole 3-round loop DAG re-executes per reference
    return labels.persist(), adj


#: Resource-allocation link prediction: pairs kept.
RA_TOP_K = 100

#: Target wedge rows per aggregation task for the RA pair aggregate.
#: Sized so a task's (a, c) hash map stays comfortably in executor
#: memory (3 longs/row): 2 M rows ≈ 50 MB of agg state.
RA_WEDGE_ROWS_PER_TASK = 2_000_000

#: Upper bound on the input-scaled partition count (4096 tasks x 2 M
#: rows ≈ 8 G wedges per job — beyond that a real cluster raises the
#: cap with executor count, but the local harness should not create
#: hundreds of thousands of tiny tasks on a pathological input).
RA_MAX_PARTITIONS = 4096


#: Memoized wedge volumes per version of the edge source: the sizing
#: pass is an eager 2-scan Spark job, and plan-only constructions
#: (plan_report, the full-registry test sweeps, bench warm-ups) build
#: each graph query several times per process — without the cache every
#: build re-pays the job before any action runs. Both callers derive
#: `deg` deterministically from `_edges(spark, sf_dir)`, i.e. from
#: `lineitem` alone, so its path and file fingerprint are a complete
#: key: an in-place rewrite of `lineitem` re-measures the volume.
_WEDGE_ROWS_CACHE: dict[tuple, int] = {}


def _wedge_shuffle_parts(spark: SparkSession, deg: DataFrame, sf_dir: str) -> int:
    """Input-scaled shuffle width for a wedge-pair aggregate: exact
    wedge volume Σ deg·(deg−1)/2 from the ≤|V|-row degree relation
    (1-row collect — the documented bounded-collect class, memoized
    per `lineitem` version so repeated plan-only constructions stay
    job-free), divided into {RA_WEDGE_ROWS_PER_TASK}-row tasks, clamped
    to [shuffle.partitions, {RA_MAX_PARTITIONS}]. See
    `q_graph_resource_allocation` for the measured rationale."""
    lineitem = f"{sf_dir}/lineitem.parquet"
    key = (lineitem, fingerprint(lineitem))
    if key not in _WEDGE_ROWS_CACHE:
        _WEDGE_ROWS_CACHE[key] = int(
            deg.agg(
                F.sum(F.expr("deg * (deg - 1) div 2")).alias("w")
            ).collect()[0][0]
            or 0
        )
    wedge_rows = _WEDGE_ROWS_CACHE[key]
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(
        default_parts,
        min(RA_MAX_PARTITIONS, -(-wedge_rows // RA_WEDGE_ROWS_PER_TASK)),
    )


@query(
    "graph_resource_allocation",
    oracle=f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ),
    deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
    ),
    scored AS (
      SELECT w1.v AS a, w2.v AS c,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(1000000 // deg.deg) AS BIGINT) AS ra_e6
      FROM und w1
      JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
      JOIN deg ON deg.node = w1.u
      GROUP BY 1, 2
    )
    SELECT a, c, n_common, ra_e6
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = s.a AND e.dst = s.c)
    ORDER BY ra_e6 DESC, a, c
    LIMIT {RA_TOP_K}
    """,
)
def q_graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou, Lü &
    Zhang, Eur. Phys. J. B 2009): for every non-adjacent pair (a, c),
    RA = Σ_{{b ∈ N(a)∩N(c)}} 1/deg(b), in exact micro-units
    ⌊10⁶/deg(b)⌋ per common neighbor — the degree-weighted refinement
    of `graph_common_neighbors` (hub-mediated wedges count less).
    Already-connected pairs are anti-joined out: the score predicts
    NEW links. Top-{RA_TOP_K} by (ra_e6, a, c).

    Plan: wedge self-join of the undirected incidence list on the
    center node with the center's degree attached (one extra
    equi-join against the ≤|V|-row degree relation), hash-aggregated
    per endpoint pair, anti-joined against the oriented edge set, and
    TakeOrdered for the global top-k (per-partition top-k + driver
    merge — no global sort shuffle). Same O(Σ deg²) wedge bound as
    the triangle family; AQE handles residual skew.

    Input-scaled shuffle partitioning (round-6 fix for the ×100
    super-linear spill slope): the wedge intermediate is exactly
    Σ deg·(deg−1)/2 rows — linear in input volume but up to ~755 M
    rows at the ×100 scaling point, which through a FIXED
    cpu-count-sized shuffle meant ~24 M rows of aggregation state per
    task and forced spilling. The wedge count is computed exactly from
    the ≤|V|-row degree relation (one 1-row driver collect — the same
    bounded-collect class as the BPE argmax), and the wedge stream is
    explicitly repartitioned on the pair key (a, c) into
    ceil(wedges / {RA_WEDGE_ROWS_PER_TASK}) partitions before the
    aggregate. Catalyst recognises the hash partitioning satisfies the
    groupBy's required distribution, so no second exchange is added;
    AQE never coalesces a user repartition with an explicit count, so
    the width survives runtime re-planning. Map-side partial
    aggregation is deliberately traded away: RA endpoint pairs are
    mostly unique, so partials reduced almost nothing while the
    per-task state blew up — measured, not guessed
    (SCALING_r05 slope 1.51 → the fix targets ≤ 1.0)."""
    e = _edges(spark, sf_dir).cache()
    und = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # Exact wedge volume from the degree relation (1-row collect; the
    # sizing pass is the documented bounded-collect class). The cache
    # only spans this sizing job — unpersisted immediately so repeated
    # plan-only constructions (plan_report / test sweeps) don't
    # accumulate pinned copies; execution re-derives the cheap edge
    # projection instead.
    n_parts = _wedge_shuffle_parts(spark, deg, sf_dir)
    e.unpersist()
    w1 = und.alias("w1")
    w2 = und.alias("w2")
    wedges = (
        w1.join(
            w2,
            (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.v") < F.col("w2.v")),
        )
        .join(deg, F.col("w1.u") == F.col("node"))
        .select(
            F.col("w1.v").alias("a"),
            F.col("w2.v").alias("c"),
            F.expr("1000000 div deg").alias("contrib"),
        )
    )
    scored = (
        wedges.repartition(n_parts, "a", "c")
        .groupBy("a", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("contrib").cast("long").alias("ra_e6"),
        )
    )
    new_pairs = scored.join(
        e,
        (scored["a"] == e["src"]) & (scored["c"] == e["dst"]),
        "left_anti",
    )
    return (
        new_pairs.orderBy(F.desc("ra_e6"), "a", "c")
        .limit(RA_TOP_K)
        .select("a", "c", "n_common", "ra_e6")
    )


#: Jaccard link prediction: pairs kept.
JACC_TOP_K = 100


@query(
    "graph_jaccard_linkpred",
    oracle=f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u
    ),
    pairs AS (
      SELECT w1.v AS a, w2.v AS c, CAST(count(*) AS BIGINT) AS n_common
      FROM und w1
      JOIN und w2 ON w1.u = w2.u AND w1.v < w2.v
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.a, p.c, p.n_common,
             CAST((1000000 * p.n_common)
                  // (da.deg + dc.deg - p.n_common) AS BIGINT) AS jaccard_ppm
      FROM pairs p
      JOIN deg da ON da.node = p.a
      JOIN deg dc ON dc.node = p.c
    )
    SELECT a, c, n_common, jaccard_ppm
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = s.a AND e.dst = s.c)
    ORDER BY jaccard_ppm DESC, a, c
    LIMIT {JACC_TOP_K}
    """,
)
def q_graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard similarity (Liben-Nowell
    & Kleinberg, CIKM'03): for every non-adjacent pair (a, c),
    J = |N(a)∩N(c)| / |N(a)∪N(c)| in exact truncated ppm, with the
    union by inclusion-exclusion deg(a)+deg(c)−common — the normalized
    counterpart of `graph_common_neighbors` (raw overlap) and
    `graph_resource_allocation` (hub-damped overlap): high-degree
    nodes no longer dominate just by having many wedges.

    Plan: the same input-scaled wedge aggregate as the RA family
    (`_wedge_shuffle_parts` sizes the pair shuffle from the exact
    Σ deg² wedge volume), then two equi-joins against the ≤|V|-row
    degree relation for the endpoint degrees — deg is tiny relative
    to pairs, so AQE broadcasts it; the denominator needs no second
    pass over wedges. Anti-join removes existing edges; TakeOrdered
    yields the global top-{JACC_TOP_K} without a global sort."""
    e = _edges(spark, sf_dir).cache()
    und = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    n_parts = _wedge_shuffle_parts(spark, deg, sf_dir)
    e.unpersist()
    w1 = und.alias("w1")
    w2 = und.alias("w2")
    pairs = (
        w1.join(
            w2,
            (F.col("w1.u") == F.col("w2.u")) & (F.col("w1.v") < F.col("w2.v")),
        )
        .select(F.col("w1.v").alias("a"), F.col("w2.v").alias("c"))
        .repartition(n_parts, "a", "c")
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    dc = deg.select(F.col("node").alias("c"), F.col("deg").alias("deg_c"))
    scored = (
        pairs.join(da, "a")
        .join(dc, "c")
        .select(
            "a",
            "c",
            "n_common",
            F.expr(
                "CAST((1000000 * n_common) DIV (deg_a + deg_c - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    new_pairs = scored.join(
        e,
        (scored["a"] == e["src"]) & (scored["c"] == e["dst"]),
        "left_anti",
    )
    return (
        new_pairs.orderBy(F.desc("jaccard_ppm"), "a", "c")
        .limit(JACC_TOP_K)
        .select("a", "c", "n_common", "jaccard_ppm")
    )


#: Temporal reachability: rounds and seed gate.
TEMPORAL_HOPS = 3
TEMPORAL_SEED_MOD = 17


def _temporal_oracle(hops: int) -> str:
    ctes = [
        f"""li AS MATERIALIZED (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_orderkey % {EDGE_GATE_MOD} = 0
        ), te AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v,
                 epoch_us(o.o_orderdate) AS t
          FROM li a
          JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
          JOIN orders o ON o.o_orderkey = a.l_orderkey
        ), a0 AS (
          SELECT DISTINCT u AS node, CAST(-1 AS BIGINT) AS arr
          FROM te WHERE u % {TEMPORAL_SEED_MOD} = 0
        )"""
    ]
    for k in range(1, hops + 1):
        ctes.append(
            f""", a{k} AS MATERIALIZED (
              SELECT node, CAST(min(arr) AS BIGINT) AS arr FROM (
                SELECT node, arr FROM a{k - 1}
                UNION ALL
                SELECT te.v AS node, te.t AS arr
                FROM a{k - 1} p JOIN te ON te.u = p.node AND te.t > p.arr
              ) GROUP BY node
            )"""
        )
    return "WITH " + "".join(ctes) + f"\nSELECT node, arr AS arr_us FROM a{hops}"


# Time-respecting reachability (earliest-arrival): an edge (u, v, t) —
# parts co-ordered on a day t — is traversable only STRICTLY AFTER the
# walker reached u, so influence propagates forward in time (the
# temporal-graph semantics of Holme & Saramäki, Phys. Rep. 2012; static
# reachability over-counts paths that go backwards in time).
# TEMPORAL_HOPS Bellman-Ford-style rounds from seed parts (id %
# TEMPORAL_SEED_MOD = 0, arrival −1 = before all edges); per round each
# frontier node relaxes through its temporal adjacency and per-node
# arrivals fold to the minimum — the supply-chain-contagion / diffusion
# shape.
sql_query(
    "graph_temporal_reachability",
    _temporal_oracle(TEMPORAL_HOPS),
)


# ---------------------------------------------------------------------------
# Per-edge triangle support — the k-truss building block.
# ---------------------------------------------------------------------------


def _edge_support(e: DataFrame) -> DataFrame:
    """(src, dst, support) for every edge of the src<dst set `e` that
    sits in ≥1 triangle: degree-ordered compact-forward enumeration
    (`_oriented_triangles`, O(m^1.5) wedge intermediate, hub-safe),
    each triangle exploded to its three sides canonicalized back to id
    orientation, one hash-agg per edge. Shared by `graph_edge_support`
    (round 0) and the `graph_ktruss_peel` rounds."""
    tri = _oriented_triangles(e)
    side = lambda p, q: F.struct(  # noqa: E731
        F.least(p, q).alias("src"), F.greatest(p, q).alias("dst")
    )
    sides = tri.select(
        F.explode(
            F.array(
                side(F.col("x"), F.col("y")),
                side(F.col("x"), F.col("z")),
                side(F.col("y"), F.col("z")),
            )
        ).alias("s")
    ).select("s.src", "s.dst")
    return sides.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


# Per-EDGE triangle support — the quantity k-truss decomposition peels
# on (an edge is in the k-truss iff its support survives >= k-2 through
# peeling; support is round 0 of that loop, and the peel itself composes
# this query with the bounded-round pattern of `graph_kcore_peel`).
# Edges in no triangle are absent (support 0).
sql_query(
    "graph_edge_support",
    f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    tri AS MATERIALIZED (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), sides AS (
      SELECT a AS src, b AS dst FROM tri
      UNION ALL SELECT a, c FROM tri
      UNION ALL SELECT b, c FROM tri
    )
    SELECT src, dst, CAST(count(*) AS BIGINT) AS support
    FROM sides GROUP BY 1, 2
    """,
)


def _support_sql(e: str, out: str) -> str:
    """Oracle CTE block computing per-edge triangle support `{out}`
    over the src<dst edge CTE `{e}` (id-oriented enumeration — same
    triangle set as the degree-ordered Spark plan). tri_{out} is
    MATERIALIZED: sides_{out} references it three times, and DuckDB
    re-evaluates an inlined CTE per reference."""
    return f"""
    tri_{out} AS MATERIALIZED (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM {e} e1
      JOIN {e} e2 ON e1.dst = e2.src
      JOIN {e} e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), sides_{out} AS (
      SELECT a AS src, b AS dst FROM tri_{out}
      UNION ALL SELECT a, c FROM tri_{out}
      UNION ALL SELECT b, c FROM tri_{out}
    ), {out} AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS support
      FROM sides_{out} GROUP BY 1, 2
    )"""


#: Truss order: an edge survives a peel round iff its support in the
#: CURRENT surviving subgraph is ≥ KTRUSS_K − 2.
KTRUSS_K = 4
#: Bounded peel rounds (the `graph_kcore_peel` discipline: fixed-round
#: over-approximation of the fixpoint, exact-checkable because the
#: oracle unrolls the identical rounds).
KTRUSS_ROUNDS = 2


def _ktruss_oracle(rounds: int) -> str:
    """Unrolled peel oracle generated FROM the same constant the Spark
    loop runs on (the `_pagerank_oracle` discipline — a hand-unrolled
    literal would silently desynchronize if KTRUSS_ROUNDS changed)."""
    parts = [f"WITH e0 AS MATERIALIZED ({_EDGES_SQL}),", _support_sql("e0", "sup0")]
    for r in range(1, rounds):
        parts.append(
            f""", e{r} AS MATERIALIZED (
      SELECT e{r - 1}.src, e{r - 1}.dst FROM e{r - 1}
      JOIN sup{r - 1} ON sup{r - 1}.src = e{r - 1}.src
                     AND sup{r - 1}.dst = e{r - 1}.dst
      WHERE sup{r - 1}.support >= {KTRUSS_K - 2}
    ),"""
        )
        parts.append(_support_sql(f"e{r}", f"sup{r}"))
    parts.append(
        f"\n    SELECT src, dst, support FROM sup{rounds - 1}"
        f" WHERE support >= {KTRUSS_K - 2}"
    )
    return "".join(parts)


@query("graph_ktruss_peel", oracle=_ktruss_oracle(KTRUSS_ROUNDS))
def q_graph_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KTRUSS_ROUNDS} rounds of k-truss peeling at k={KTRUSS_K}
    (Cohen, 2008): each round recomputes per-edge triangle support
    within the SURVIVING subgraph and drops edges below k−2 — the
    cohesive-subgraph gate a graph-curation pipeline uses to keep only
    strongly-embedded co-occurrence edges. Output: the edges alive
    after round {KTRUSS_ROUNDS} with the support that certified them.
    Bounded-round semantics exactly as `graph_kcore_peel`: a fixed
    number of peels (an over-approximation of the truss fixpoint,
    which needs O(peeling-depth) rounds), bit-exact against the
    unrolled oracle.

    Plan: each round is one degree-ordered support computation
    (O(m^1.5) wedge bound via `_edge_support`) plus an equi-join
    filter; the surviving edge set is `localCheckpoint`ed per round so
    the plan stays O(1) in round count and the next round's
    enumeration reads the materialized survivor set."""
    cur = _edges(spark, sf_dir).localCheckpoint()
    for _ in range(KTRUSS_ROUNDS - 1):
        sup = _edge_support(cur)
        cur = (
            cur.join(sup, ["src", "dst"])
            .filter(F.col("support") >= KTRUSS_K - 2)
            .select("src", "dst")
            .localCheckpoint()
        )
    return _edge_support(cur).filter(F.col("support") >= KTRUSS_K - 2)


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CAST(da.d AS HUGEINT) * db.d) AS HUGEINT) AS s_jk,
             CAST(sum(CAST(da.d AS HUGEINT) + db.d) AS HUGEINT) AS s_sum,
             CAST(sum(CAST(da.d AS HUGEINT) * da.d
                      + CAST(db.d AS HUGEINT) * db.d) AS HUGEINT) AS s_sq
      FROM und
      JOIN deg da ON da.node = und.u
      JOIN deg db ON db.node = und.v
    )
    SELECT m,
           CAST(s_jk AS BIGINT) AS sum_jk,
           CAST(s_sum AS BIGINT) AS sum_j_plus_k,
           CAST(s_sq AS BIGINT) AS sum_j2_k2,
           CAST((4 * m * s_jk - s_sum * s_sum) * 1000000
                // (2 * m * s_sq - s_sum * s_sum) AS BIGINT) AS assort_ppm
    FROM s
    """,
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over all directed edge instances —
    positive means hubs attach to hubs (social-network shape), negative
    means hubs attach to leaves (hub-and-spoke). Cleared of halves by
    multiplying through by 4:
    r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²),
    reported in exact truncated ppm — every sum an integer, the single
    division at the very end (DIV/`//` truncate identically, including
    the negative-r case).

    Plan: one degree aggregate (≤|V| rows, AQE-broadcast back over the
    edge list), two equi-joins, one 1-row fold. Sums are
    DECIMAL(38,0)/HUGEINT so 10¹²-edge graphs with 10⁶-degree hubs
    (Σj²k² ≤ M·d_max⁴ ~ 10³⁶) stay in range."""
    e = _edges(spark, sf_dir)
    und = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.withColumnsRenamed({"node": "u", "d": "da"})
    db = deg.withColumnsRenamed({"node": "v", "d": "db"})
    s = (
        und.join(da, "u")
        .join(db, "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.expr("sum(CAST(da AS DECIMAL(38,0)) * db)").alias("s_jk"),
            F.expr("sum(CAST(da AS DECIMAL(38,0)) + db)").alias("s_sum"),
            F.expr(
                "sum(CAST(da AS DECIMAL(38,0)) * da"
                " + CAST(db AS DECIMAL(38,0)) * db)"
            ).alias("s_sq"),
        )
    )
    return s.select(
        "m",
        F.col("s_jk").cast("long").alias("sum_jk"),
        F.col("s_sum").cast("long").alias("sum_j_plus_k"),
        F.col("s_sq").cast("long").alias("sum_j2_k2"),
        F.expr(
            "CAST((4 * m * s_jk - s_sum * s_sum) * 1000000"
            " DIV (2 * m * s_sq - s_sum * s_sum) AS BIGINT)"
        ).alias("assort_ppm"),
    )


@query(
    "graph_modularity_score",
    oracle=f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    adj AS MATERIALIZED (
      SELECT src AS u, dst AS v FROM e
      UNION ALL
      SELECT dst AS u, src AS v FROM e
    ), l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS lbl FROM adj
    ),{",".join(_lpa_round_sql(k) for k in range(LPA_ROUNDS))},
    lab AS MATERIALIZED (SELECT node, lbl FROM l{LPA_ROUNDS}),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY u),
    intra AS (
      SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS intra_edges
      FROM e JOIN lab la ON e.src = la.node
             JOIN lab lb ON e.dst = lb.node
      WHERE la.lbl = lb.lbl GROUP BY la.lbl
    ), dc AS MATERIALIZED (
      SELECT l.lbl AS community,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS degree_sum
      FROM lab l JOIN deg d ON l.node = d.node GROUP BY l.lbl
    ), terms AS MATERIALIZED (
      SELECT dc.community, dc.n_nodes,
             COALESCE(i.intra_edges, 0) AS intra_edges,
             dc.degree_sum,
             CAST(4 AS HUGEINT) * COALESCE(i.intra_edges, 0) * m.m_edges
               - CAST(dc.degree_sum AS HUGEINT) * dc.degree_sum AS t,
             m.m_edges
      FROM dc LEFT JOIN intra i USING (community) CROSS JOIN m
    ), tot AS (SELECT CAST(sum(t) AS HUGEINT) AS t_all FROM terms)
    SELECT community, n_nodes, intra_edges, degree_sum,
           CAST((CASE WHEN t >= 0 THEN 1 ELSE -1 END)
                * (abs(t) * 1000000
                   // (CAST(4 AS HUGEINT) * m_edges * m_edges)) AS BIGINT)
             AS contrib_ppm,
           CAST((CASE WHEN t_all >= 0 THEN 1 ELSE -1 END)
                * (abs(t_all) * 1000000
                   // (CAST(4 AS HUGEINT) * m_edges * m_edges)) AS BIGINT)
             AS q_ppm
    FROM terms CROSS JOIN tot
    """,
)
def q_graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition — the
    number that says whether the communities LPA found are real
    structure or noise (Q = Σ_c [m_c/m − (D_c/2m)²]; > 0.3 is the
    usual "has community structure" bar). Exact truncated-ppm
    integers: per-community term t_c = 4·m_c·m − D_c², global
    Q·10⁶ = sign(Σt)·|Σt|·10⁶ / 4m² — every division on a
    non-negative numerator, HUGEINT/DECIMAL(38) intermediates
    (t_c ≤ 4·10²⁴ at 10¹² edges, inside int128).

    Plan: reuses the LPA loop's persisted adjacency and final labels
    (`_lpa_labels`); modularity adds one degree aggregate, one
    two-sided label join over the EDGE list (equi-joins on node ids —
    candidate volume |E|, never pairs), two ≤|communities| aggregates,
    and a broadcast 1-row total."""
    labels, adj = _lpa_labels(spark, sf_dir)
    e = _edges(spark, sf_dir)
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    la = labels.withColumnsRenamed({"node": "src", "lbl": "la"})
    lb = labels.withColumnsRenamed({"node": "dst", "lbl": "lb"})
    intra = (
        e.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    dc = (
        labels.join(deg, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    terms = (
        dc.join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            F.expr(
                "CAST(4 AS DECIMAL(38,0)) * coalesce(intra_edges, 0) * m_edges"
                " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum"
            ).alias("t"),
            "m_edges",
        )
    )
    # Persist `terms` so the global Σt aggregate and the final readout
    # share ONE execution: referencing it twice re-executed the whole
    # two-sided label join over the edge list + both community
    # aggregates (the r12 plan audit flagged this query's 5245-line
    # physical plan — the terms subtree printed twice). A window-sum
    # rewrite was tried first and REJECTED: |communities| scales with
    # the graph, so an unpartitioned window here is exactly the
    # single-task class the plan audit guards against (it flagged it).
    terms = terms.persist()
    tot = terms.agg(F.sum("t").alias("t_all"))
    return terms.crossJoin(F.broadcast(tot)).select(
        "community",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        F.expr(
            "CAST((CASE WHEN t >= 0 THEN 1 ELSE -1 END)"
            "     * (abs(t) * 1000000"
            "        DIV (CAST(4 AS DECIMAL(38,0)) * m_edges * m_edges))"
            " AS BIGINT)"
        ).alias("contrib_ppm"),
        F.expr(
            "CAST((CASE WHEN t_all >= 0 THEN 1 ELSE -1 END)"
            "     * (abs(t_all) * 1000000"
            "        DIV (CAST(4 AS DECIMAL(38,0)) * m_edges * m_edges))"
            " AS BIGINT)"
        ).alias("q_ppm"),
    )


#: Rich-club degree thresholds audited.
RICHCLUB_KS = (2, 4, 8, 16)


# Rich-club coefficient (Zhou & Mondragón 2004).
sql_query(
    "graph_richclub_coefficient",
    f"""
    WITH e AS MATERIALIZED ({_EDGES_SQL}),
    adj AS (
      SELECT src AS u FROM e UNION ALL SELECT dst AS u FROM e
    ), deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u
    ), ks AS (SELECT unnest([{", ".join(str(k) for k in RICHCLUB_KS)}]) AS k),
    rich AS MATERIALIZED (
      SELECT ks.k, deg.node
      FROM ks JOIN deg ON deg.d > ks.k
    ), nk AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_rich FROM rich GROUP BY k
    ), ek AS (
      SELECT r1.k, CAST(count(*) AS BIGINT) AS e_rich
      FROM e JOIN rich r1 ON e.src = r1.node
             JOIN rich r2 ON e.dst = r2.node AND r1.k = r2.k
      GROUP BY r1.k
    )
    SELECT nk.k AS k, nk.n_rich,
           COALESCE(ek.e_rich, 0) AS e_rich,
           CAST(CASE WHEN nk.n_rich < 2 THEN 0
                     ELSE CAST(COALESCE(ek.e_rich, 0) AS HUGEINT) * 2000000
                          // (CAST(nk.n_rich AS HUGEINT) * (nk.n_rich - 1))
                END AS BIGINT) AS phi_ppm
    FROM nk LEFT JOIN ek ON nk.k = ek.k
    """,
)
