"""Iterative fixed-point graph algorithms — damped PageRank power
iteration to a convergence readout.

Reference parity note: the reference runs iterative algorithms by
re-submitting maple/juice commands to the fileserver
(`file_server/fileserver.py`, per MP4-RUN-Command.txt); each Spark
iteration here is one join + aggregate
over the edge list — the same Pregel superstep, with
`localCheckpoint()` truncating lineage per round (without it the plan
nests every iteration; cf. connected components and the k-means Lloyd
loop in `clustering.py`).

All arithmetic is integer (micro-unit masses, floor division) so the
iteration is bit-exact across engines — float PageRank is
summation-order-dependent and cannot be oracle-checked exactly. The
DuckDB oracle is the same recurrence unrolled into one CTE per
iteration.

Scale notes (100 TB):
- The adjacency list is hash-partitioned on the source node and
  persisted once; every iteration reuses that partitioning for the
  mass join (no re-shuffle of the big side), then shuffles only the
  (dst, share) contributions into the per-node aggregate — the
  standard Pregel/GraphX message-passing plan.
- Per-iteration state is one (node, mass) row per node — orders of
  magnitude smaller than the edge list; `localCheckpoint` keeps the
  plan O(1) in iteration count.
- The convergence readout (L1 delta between successive mass vectors)
  is a one-row aggregate per iteration, unioned lazily — no driver
  collect in the query path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, table

#: Initial mass per node, in micro-units.
PR_M0 = 1_000_000

#: Damping 0.85 as an exact integer ratio; teleport floor = (1-d)*M0.
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_BASE = PR_M0 * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN

#: Fixed power-iteration count (bounded loop; the readout shows the
#: contraction so a caller can pick its own stopping rule).
PR_ITERS = 4

# MATERIALIZED throughout: DuckDB 1.0 INLINES non-materialized CTEs at
# every reference, so the unrolled per-iteration chain (m{k} references
# m{k-1} twice) re-computed exponentially — first observed at sf1.0,
# where the oracle filled the disk with spilled hash tables before
# failing. Forced materialization evaluates each CTE once, which is
# also the cost model the Spark side runs under (localCheckpoint per
# iteration). Semantics are unchanged.
_ADJ_SQL = """
    edges0 AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), adj AS MATERIALIZED (
      SELECT s * 2 AS u, p * 2 + 1 AS v FROM edges0
      UNION ALL
      SELECT p * 2 + 1 AS u, s * 2 AS v FROM edges0
    ), deg AS MATERIALIZED (
      SELECT u, count(*) AS d FROM adj GROUP BY u
    )
"""


def _pagerank_oracle(iters: int) -> str:
    ctes = [
        _ADJ_SQL,
        f", m0 AS MATERIALIZED (SELECT u, CAST({PR_M0} AS BIGINT) AS m FROM deg)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f""", m{k} AS MATERIALIZED (
              SELECT a.v AS u,
                     CAST({PR_BASE} + ({PR_DAMP_NUM} * sum(m{k - 1}.m // deg.d))
                          // {PR_DAMP_DEN} AS BIGINT) AS m
              FROM adj a
              JOIN m{k - 1} ON a.u = m{k - 1}.u
              JOIN deg ON a.u = deg.u
              GROUP BY a.v
            ), d{k} AS (
              SELECT CAST({k} AS INTEGER) AS iter,
                     CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(n.m) AS BIGINT) AS total_mass,
                     CAST(sum(abs(n.m - p.m)) AS BIGINT) AS l1_delta
              FROM m{k} n JOIN m{k - 1} p ON n.u = p.u
            )"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM d{k}" for k in range(1, iters + 1))
    return "WITH " + "".join(ctes) + "\n" + union


def _bipartite_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier↔part bipartite adjacency shared by every iterative
    query in this module (`_ADJ_SQL`'s Spark twin — one definition so
    the node-id encoding can never diverge between PageRank and PPR):
    distinct lineitem edges, supplier node 2s / part node 2p+1, both
    directions, hash-partitioned on the source node and persisted so
    every iteration reuses the partitioning."""
    li = table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    return (
        e0.select((F.col("s") * 2).alias("u"), (F.col("p") * 2 + 1).alias("v"))
        .unionAll(e0.select((F.col("p") * 2 + 1).alias("u"), (F.col("s") * 2).alias("v")))
        .repartition(spark.sparkContext.defaultParallelism, "u")
        .persist()
    )


@query("pagerank_converge", oracle=_pagerank_oracle(PR_ITERS))
def q_pagerank_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped integer PageRank on the supplier↔part bipartite graph
    (distinct lineitem edges, both directions; supplier node id 2s,
    part node id 2p+1), run for {PR_ITERS} power iterations. Returns
    one row per iteration: node count, total mass, and the L1 delta
    vs the previous mass vector — the convergence readout (deltas
    contract by roughly the damping factor per round).

    mass'(v) = BASE + (85 · Σ_{u→v} mass(u) DIV deg(u)) DIV 100 —
    all integer floor arithmetic, matching the unrolled-CTE oracle
    bit-for-bit."""
    adj = _bipartite_adj(spark, sf_dir)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    mass = deg.select("u", F.lit(PR_M0).cast("long").alias("m")).localCheckpoint()

    readouts: list[DataFrame] = []
    for k in range(1, PR_ITERS + 1):
        contrib = (
            adj.join(mass, "u")
            .join(deg, "u")
            .select("v", F.expr("m DIV d").cast("long").alias("share"))
        )
        mass_next = (
            contrib.groupBy("v")
            .agg(F.sum("share").alias("insum"))
            .select(
                F.col("v").alias("u"),
                (
                    F.lit(PR_BASE)
                    + F.expr(f"({PR_DAMP_NUM} * insum) DIV {PR_DAMP_DEN}")
                ).cast("long").alias("m"),
            )
            .localCheckpoint()
        )
        prev = mass.withColumnRenamed("m", "pm")
        readouts.append(
            mass_next.join(prev, "u").agg(
                F.lit(k).cast("int").alias("iter"),
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
                F.sum("m").cast("long").alias("total_mass"),
                F.sum(F.abs(F.col("m") - F.col("pm"))).cast("long").alias("l1_delta"),
            )
        )
        mass = mass_next

    out = readouts[0]
    for r in readouts[1:]:
        out = out.unionAll(r)
    return out


#: Personalized PageRank: restart mass concentrates on one seed node
#: (supplier 1 → bipartite node id 2); µµ-unit masses give the integer
#: floor divisions three rounds of headroom.
PPR_SEED_NODE = 2
PPR_M0 = 1_000_000_000_000
PPR_RESTART = PPR_M0 * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
PPR_ROUNDS = 3
PPR_TOP_K = 20


def _ppr_oracle(rounds: int) -> str:
    ctes = [
        _ADJ_SQL,
        f""", m0 AS (
          SELECT CAST({PPR_SEED_NODE} AS BIGINT) AS u,
                 CAST({PPR_M0} AS BIGINT) AS m
        )""",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f""", m{k} AS (
              SELECT u, CAST(sum(m) AS BIGINT) AS m FROM (
                SELECT a.v AS u,
                       CAST(({PR_DAMP_NUM} * sum(m{k - 1}.m // deg.d))
                            // {PR_DAMP_DEN} AS BIGINT) AS m
                FROM adj a
                JOIN m{k - 1} ON a.u = m{k - 1}.u
                JOIN deg ON a.u = deg.u
                GROUP BY a.v
                UNION ALL
                SELECT CAST({PPR_SEED_NODE} AS BIGINT),
                       CAST({PPR_RESTART} AS BIGINT)
              ) GROUP BY u
            )"""
        )
    return (
        "WITH "
        + "".join(ctes)
        + f"""
        SELECT u, m FROM m{rounds}
        ORDER BY m DESC, u LIMIT {PPR_TOP_K}"""
    )


@query("graph_ppr_seed", oracle=_ppr_oracle(PPR_ROUNDS))
def q_graph_ppr_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a single seed (supplier 1) on the
    supplier↔part bipartite graph, {PPR_ROUNDS} power rounds of
    m'(v) = (85 · Σ_{{u→v}} m(u) DIV deg(u)) DIV 100, with the
    15% restart mass re-injected at the SEED each round instead of
    spread uniformly — the seed-relative relevance score used for
    crawl frontier prioritization and "quality flows from trusted
    seeds" corpus curation (the TrustRank shape). Output: the
    top-{PPR_TOP_K} nodes by final mass.

    Plan: mass lives ONLY on reached nodes — round k touches the
    k-hop ball of the seed, not the whole graph (the frontier-sparse
    property that makes seed-PPR cheap at 100 TB); adjacency is
    hash-partitioned once and reused every round; per-round state is
    `localCheckpoint`ed. Integer µµ-unit masses, floor divisions in a
    fixed order — bit-exact vs the unrolled-CTE oracle. Final top-k is
    TakeOrdered (per-partition heads + driver merge), not a global
    sort."""
    adj = _bipartite_adj(spark, sf_dir)
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    spark_seed = spark.range(1).select(
        F.lit(PPR_SEED_NODE).cast("long").alias("u"),
        F.lit(PPR_M0).cast("long").alias("m"),
    )
    mass = spark_seed.localCheckpoint()
    restart = spark.range(1).select(
        F.lit(PPR_SEED_NODE).cast("long").alias("u"),
        F.lit(PPR_RESTART).cast("long").alias("m"),
    )
    for _ in range(PPR_ROUNDS):
        spread = (
            adj.join(mass, "u")
            .join(deg, "u")
            .select("v", F.expr("m DIV d").cast("long").alias("share"))
            .groupBy("v")
            .agg(F.sum("share").alias("insum"))
            .select(
                F.col("v").alias("u"),
                F.expr(f"({PR_DAMP_NUM} * insum) DIV {PR_DAMP_DEN}")
                .cast("long")
                .alias("m"),
            )
        )
        mass = (
            spread.unionAll(restart)
            .groupBy("u")
            .agg(F.sum("m").cast("long").alias("m"))
            .localCheckpoint()
        )
    return mass.orderBy(F.desc("m"), "u").limit(PPR_TOP_K)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg '99) with integer max-rescaling.

#: HITS on the DIRECTED supplier->part graph: suppliers are hubs,
#: parts are authorities. Each half-step rescales so the maximum
#: score is exactly HITS_M0 (score*M0 DIV max) — the integer stand-in
#: for the usual L2 normalization, contraction-free and portable.
HITS_M0 = 1_000_000
HITS_ROUNDS = 2
HITS_TOP_K = 10


def _hits_oracle(rounds: int) -> str:
    ctes = [
        """edges AS MATERIALIZED (
          SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ), h0 AS (
          SELECT s, CAST(%d AS BIGINT) AS h FROM (SELECT DISTINCT s FROM edges)
        )"""
        % HITS_M0
    ]
    # a{k}raw / h{k}raw are each referenced TWICE (the scalar max and
    # the FROM) and every half-round chains on the previous one —
    # without MATERIALIZED DuckDB inlines each reference, doubling the
    # evaluation tree per half-round (2^(2*rounds) re-evaluations of
    # the prefix): that is what OOM'd the 24 GB oracle envelope at the
    # round-11 sf4 differential. Materialization evaluates each
    # half-round once; a{k}/h{k} are normalized projections kept
    # MATERIALIZED too since each also has two consumers.
    for k in range(1, rounds + 1):
        ctes.append(
            f""", a{k}raw AS MATERIALIZED (
              SELECT e.p, CAST(sum(h.h) AS BIGINT) AS a
              FROM edges e JOIN h{k - 1} h ON e.s = h.s GROUP BY e.p
            ), a{k} AS MATERIALIZED (
              SELECT p, CAST(a * {HITS_M0} // (SELECT max(a) FROM a{k}raw)
                        AS BIGINT) AS a
              FROM a{k}raw
            ), h{k}raw AS MATERIALIZED (
              SELECT e.s, CAST(sum(a.a) AS BIGINT) AS h
              FROM edges e JOIN a{k} a ON e.p = a.p GROUP BY e.s
            ), h{k} AS MATERIALIZED (
              SELECT s, CAST(h * {HITS_M0} // (SELECT max(h) FROM h{k}raw)
                        AS BIGINT) AS h
              FROM h{k}raw
            )"""
        )
    return (
        "WITH "
        + "".join(ctes)
        + f"""
    SELECT kind, node_id, score, rnk FROM (
      SELECT 'hub' AS kind, s AS node_id, h AS score,
             row_number() OVER (ORDER BY h DESC, s) AS rnk
      FROM h{rounds}
      UNION ALL
      SELECT 'authority' AS kind, p AS node_id, a AS score,
             row_number() OVER (ORDER BY a DESC, p) AS rnk
      FROM a{rounds}
    ) WHERE rnk <= {HITS_TOP_K}
    """
    )


@query("graph_hits_rounds", oracle=_hits_oracle(HITS_ROUNDS))
def q_graph_hits_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the directed supplier->part graph
    ({HITS_ROUNDS} mutual-reinforcement rounds): authority(p) = sum of
    hub scores pointing at p, hub(s) = sum of authority scores s
    points at, each half-step max-rescaled to HITS_M0 in exact integer
    floor arithmetic (the integer stand-in for L2 normalization — it
    fixes the scale so the iteration can't overflow, and both engines
    floor identically). Returns the top-{HITS_TOP_K} of each side.

    Plan: per round, two shuffle aggregates keyed by the receiving
    node (map-side partials) and a 1-row broadcast max for the
    rescale; the edge list is persisted and reused so its shuffle
    partitioning amortizes across rounds. Top-k via orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, never a global
    window over the full node set), then row_number over the bounded
    {HITS_TOP_K} rows on a total order (score desc, id).

    Reference parity: no counterpart; pairs with `pagerank_converge`
    (iterative.py) as the second classic eigenvector-style ranking,
    sharing the lineitem-derived graph.
    """
    li = table(spark, sf_dir, "lineitem")
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .persist()
    )
    hubs = edges.select("s").distinct().withColumn(
        "h", F.lit(HITS_M0).cast("long")
    ).localCheckpoint()
    auths = None
    for _ in range(HITS_ROUNDS):
        a_raw = (
            edges.join(hubs, "s")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("amax"))
        auths = (
            a_raw.crossJoin(F.broadcast(a_max))
            .select("p", F.expr(f"CAST(a * {HITS_M0} DIV amax AS BIGINT)").alias("a"))
            .localCheckpoint()
        )
        h_raw = (
            edges.join(auths, "p")
            .groupBy("s")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("hmax"))
        hubs = (
            h_raw.crossJoin(F.broadcast(h_max))
            .select("s", F.expr(f"CAST(h * {HITS_M0} DIV hmax AS BIGINT)").alias("h"))
            .localCheckpoint()
        )
    edges.unpersist()
    from pyspark.sql import Window as W

    top_h = (
        hubs.orderBy(F.desc("h"), "s")
        .limit(HITS_TOP_K)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("h"), "s"))
        )
        .select(
            F.lit("hub").alias("kind"),
            F.col("s").cast("long").alias("node_id"),
            F.col("h").alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
    top_a = (
        auths.orderBy(F.desc("a"), "p")
        .limit(HITS_TOP_K)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("a"), "p"))
        )
        .select(
            F.lit("authority").alias("kind"),
            F.col("p").cast("long").alias("node_id"),
            F.col("a").alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
    return top_h.unionAll(top_a)


# ---------------------------------------------------------------------------
# Luby-style Maximal Independent Set with deterministic hash priorities.

#: Rounds of the Luby iteration (each removes an MIS wave plus its
#: neighborhood; O(log n) rounds decide everything w.h.p. — the
#: readout shows the residual so callers see exactly how far a fixed
#: budget got).
MIS_ROUNDS = 3


def _mis_prio_sql(u: str) -> str:
    # 31-bit md5 prefix * 2^32 + node id: a TOTAL priority order
    # (unique per node even on hash collisions) that fits int64 for
    # node ids < 2^32.
    return (
        f"((('0x' || substr(md5('mis_' || CAST({u} AS STRING)), 1, 8))::BIGINT >> 1)"
        f" * 4294967296 + {u})"
    )


def _mis_oracle(rounds: int) -> str:
    ctes = [
        _ADJ_SQL,
        f""", nodes AS (
      SELECT u, {_mis_prio_sql('u')} AS p FROM (SELECT DISTINCT u FROM adj)
    ), u0 AS (SELECT u, p FROM nodes)""",
    ]
    reads = []
    for k in range(1, rounds + 1):
        ctes.append(
            f""", nb{k} AS (
      SELECT a.u, min(w.p) AS nbmin
      FROM adj a JOIN u{k - 1} w ON a.v = w.u
      WHERE a.u IN (SELECT u FROM u{k - 1})
      GROUP BY a.u
    ), mis{k} AS MATERIALIZED (
      SELECT c.u FROM u{k - 1} c LEFT JOIN nb{k} n ON c.u = n.u
      WHERE n.nbmin IS NULL OR c.p < n.nbmin
    ), gone{k} AS (
      SELECT u FROM mis{k}
      UNION
      SELECT a.v AS u FROM adj a JOIN mis{k} m ON a.u = m.u
    ), u{k} AS MATERIALIZED (
      SELECT u, p FROM u{k - 1} WHERE u NOT IN (SELECT u FROM gone{k})
    )"""
        )
        reads.append(
            f"""SELECT CAST({k} AS BIGINT) AS iter,
               (SELECT CAST(count(*) AS BIGINT) FROM mis{k}) AS n_joined,
               (SELECT CAST(count(*) AS BIGINT) FROM u{k}) AS n_undecided"""
        )
    return "WITH " + "".join(ctes) + "\n" + "\nUNION ALL\n".join(reads)


@query("graph_mis_luby", oracle=_mis_oracle(MIS_ROUNDS))
def q_graph_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Independent Set by Luby's algorithm with DETERMINISTIC
    hash priorities (31-bit md5 prefix * 2^32 + node id — a total
    order, so no RNG and both engines agree exactly): each round every
    undecided node joins the MIS iff its priority beats every
    undecided neighbor's, then winners and their neighborhoods leave
    the graph. {MIS_ROUNDS} rounds with a per-round readout (wave
    size, residual) — the O(log n) contraction made visible, the same
    convergence-surface contract as `pagerank_converge`.

    Plan: per round one neighbor-min aggregate keyed by the receiving
    node (map-side combinable) and one anti-join to shrink the
    frontier; the adjacency is persisted once and reused. This is THE
    symmetry-breaking primitive under distributed coloring/matching —
    greedy sequential MIS cannot parallelize, priority waves can.

    Reference parity: no counterpart; joins PageRank/PPR/HITS in the
    iterative family on the same lineitem-derived graph.
    """
    adj = _bipartite_adj(spark, sf_dir)
    nodes = adj.select("u").distinct().select(
        "u",
        F.expr(
            "(CAST(conv(substring(md5(concat('mis_', CAST(u AS STRING))), 1, 8),"
            " 16, 10) AS BIGINT) DIV 2) * 4294967296 + u"
        ).alias("p"),
    )
    undecided = nodes.localCheckpoint()
    readouts = []
    joined_cum = None
    for k in range(1, MIS_ROUNDS + 1):
        w = undecided.select(F.col("u").alias("v"), F.col("p").alias("wp"))
        nb = (
            adj.join(undecided.select("u"), "u")
            .join(w, "v")
            .groupBy("u")
            .agg(F.min("wp").alias("nbmin"))
        )
        mis_k = (
            undecided.join(nb, "u", "left")
            .filter(F.col("nbmin").isNull() | (F.col("p") < F.col("nbmin")))
            .select("u")
            .localCheckpoint()
        )
        gone = mis_k.unionAll(
            adj.join(mis_k, "u").select(F.col("v").alias("u"))
        ).distinct()
        undecided = undecided.join(gone, "u", "left_anti").localCheckpoint()
        readouts.append(
            mis_k.agg(F.count(F.lit(1)).cast("long").alias("n_joined"))
            .crossJoin(
                undecided.agg(
                    F.count(F.lit(1)).cast("long").alias("n_undecided")
                )
            )
            .select(
                F.lit(k).cast("long").alias("iter"),
                "n_joined",
                "n_undecided",
            )
        )
        joined_cum = mis_k if joined_cum is None else joined_cum.unionAll(mis_k)
    out = readouts[0]
    for r in readouts[1:]:
        out = out.unionAll(r)
    return out


# ---------------------------------------------------------------------------
# Greedy maximal matching by mutual-minimum edge proposals.

#: Rounds of the Israeli-Itai-style proposal iteration; the readout
#: carries the residual so a caller sees how far the budget got.
MATCH_ROUNDS = 3


def _match_prio_sql() -> str:
    return (
        "(('0x' || substr(md5('me_' || CAST(u AS STRING) || '_' ||"
        " CAST(v AS STRING)), 1, 8))::BIGINT)"
    )


def _matching_oracle(rounds: int) -> str:
    # Per-node minimum incident edge via a row_number window, NOT
    # min(struct_pack(...)): DuckDB's struct-min aggregate allocates
    # per-row struct copies OUTSIDE its memory accounting — at sf1.0
    # (5.9 M edges -> 11.8 M proposal rows) the aggregate blew through
    # memory_limit=24GB to >120 GB and OOM-killed the round-10 AND the
    # first round-11 certification runs (bisected in-round: count(*)
    # over the same GROUP BY passes only because the optimizer drops
    # the unused struct aggregate). The window sort spills; semantics
    # are identical (struct comparison is lexicographic in field
    # order h, u, v — exactly ORDER BY h, u, v).
    ctes = [
        _ADJ_SQL,
        f""", edges AS MATERIALIZED (
      SELECT u, v, {_match_prio_sql()} AS h FROM adj WHERE u < v
    ), live0 AS (SELECT u, v, h FROM edges)""",
    ]
    reads = []
    for k in range(1, rounds + 1):
        ctes.append(
            f""", pick{k} AS MATERIALIZED (
      SELECT node, h, u, v FROM (
        SELECT node, h, u, v,
               row_number() OVER (PARTITION BY node ORDER BY h, u, v) AS rn
        FROM (
          SELECT u AS node, h, u, v FROM live{k - 1}
          UNION ALL
          SELECT v AS node, h, u, v FROM live{k - 1}
        )
      ) WHERE rn = 1
    ), matched{k} AS MATERIALIZED (
      SELECT a.u AS u, a.v AS v
      FROM pick{k} a JOIN pick{k} b
        ON a.u = b.u AND a.v = b.v AND a.h = b.h
       AND a.node = a.u AND b.node = b.v
    ), gone{k} AS (
      SELECT u AS node FROM matched{k}
      UNION
      SELECT v AS node FROM matched{k}
    ), live{k} AS MATERIALIZED (
      SELECT u, v, h FROM live{k - 1}
      WHERE u NOT IN (SELECT node FROM gone{k})
        AND v NOT IN (SELECT node FROM gone{k})
    )"""
        )
        reads.append(
            f"""SELECT CAST({k} AS BIGINT) AS iter,
               (SELECT CAST(count(*) AS BIGINT) FROM matched{k}) AS n_matched,
               (SELECT CAST(count(*) AS BIGINT) FROM live{k}) AS n_live_edges"""
        )
    return "WITH " + "".join(ctes) + "\n" + "\nUNION ALL\n".join(reads)


@query("graph_greedy_matching", oracle=_matching_oracle(MATCH_ROUNDS))
def q_graph_greedy_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal matching by mutual-minimum proposals (the
    Israeli-Itai symmetry-breaking scheme, deterministic): every live
    node proposes its minimum-priority incident edge (md5 edge hash,
    ties broken by the (u,v) key inside the struct order), an edge
    matches when BOTH endpoints proposed it, matched endpoints leave.
    {MATCH_ROUNDS} rounds with a (matched, live-edge) readout — the
    contraction surface, like the MIS and PageRank readouts.

    Plan: per round one union-explode of live edges into endpoint
    proposals, one min-struct aggregate per node (map-side partials),
    a self-equi-join of the proposal table on the proposed edge key,
    and one anti-join to retire matched endpoints. Matching is the
    primitive under distributed assignment/auction algorithms; the
    mutual-proposal wave is its standard scale-out form.

    Reference parity: no counterpart; completes the symmetry-breaking
    pair begun by `graph_mis_luby` on the same lineitem graph.
    """
    adj = _bipartite_adj(spark, sf_dir)
    edges = adj.filter(F.col("u") < F.col("v")).select(
        "u",
        "v",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("me_"),
                        F.col("u").cast("string"),
                        F.lit("_"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    live = edges.localCheckpoint()
    readouts = []
    for k in range(1, MATCH_ROUNDS + 1):
        props = live.select(
            F.col("u").alias("node"), "h", "u", "v"
        ).unionAll(live.select(F.col("v").alias("node"), "h", "u", "v"))
        pick = props.groupBy("node").agg(
            F.min(F.struct("h", "u", "v")).alias("e")
        )
        a = pick.select(
            F.col("node").alias("na"), F.col("e").alias("ea")
        )
        b = pick.select(
            F.col("node").alias("nb"), F.col("e").alias("eb")
        )
        matched = (
            a.join(
                b,
                (F.col("ea") == F.col("eb"))
                & (F.col("na") == F.col("ea.u"))
                & (F.col("nb") == F.col("ea.v")),
            )
            .select(F.col("ea.u").alias("u"), F.col("ea.v").alias("v"))
            .localCheckpoint()
        )
        gone = matched.select(F.col("u").alias("node")).unionAll(
            matched.select(F.col("v").alias("node"))
        )
        live = (
            live.join(gone.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(gone.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v", "h")
            .localCheckpoint()
        )
        readouts.append(
            matched.agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
            .crossJoin(
                live.agg(F.count(F.lit(1)).cast("long").alias("n_live_edges"))
            )
            .select(F.lit(k).cast("long").alias("iter"), "n_matched", "n_live_edges")
        )
    out = readouts[0]
    for r in readouts[1:]:
        out = out.unionAll(r)
    return out
