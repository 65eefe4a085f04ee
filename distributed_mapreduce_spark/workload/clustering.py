"""K-means (one Lloyd iteration) over `embeddings` — assignment,
cluster profiling, and a fixed-point centroid update, all with exact
DuckDB oracles.

Floats are kept portable the same way the ANN family does it
(`workload/similarity.py`): every distance is an identical IEEE
left-fold on both engines, and every aggregated surface is integer
(counts, floor-scaled micros) so no order-dependent float sum ever
reaches the comparator.

Reference parity note: the reference's iterative story is re-running
maple/juice jobs (driver-side command loop over the fileserver's
maple/juice handlers, `file_server/fileserver.py`); one Lloyd
iteration is the canonical such loop body, expressed here as a single
declarative plan per stage.

Scale notes (100 TB):
- K is a fixed constant (8): the centroid table is broadcast by
  construction — this is the legitimate broadcast case (does not scale
  with SF), unlike dimension tables which are left to AQE.
- Assignment is a broadcast nested-loop over K rows per vector — linear
  scan, embarrassingly parallel, no shuffle until the tiny per-cluster
  aggregate.
- The centroid update explodes vectors to (cluster, dim) pairs —
  64× fan-out with map-side partial aggregation; shuffle carries only
  K×64 partial sums per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, table
from distributed_mapreduce_spark.workload.similarity import (
    N_QUERIES as _N_QUERIES,
)
from distributed_mapreduce_spark.workload.similarity import TOP_K as _TOP_K
from distributed_mapreduce_spark.workload.similarity import _sql_cos_u

#: Number of clusters; centroids seed from vec_id < KMEANS_K.
KMEANS_K = 8

#: Fixed-point scale for distance / centroid surfaces.
MICRO = 1_000_000


def _sqdist(a, b):
    """Deterministic squared L2: widen to double, (x-y)*(x-y), left fold
    from 0.0 — the identical operation sequence as the oracle's
    list_reduce (0.0 + x == x)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _sql_sqdist(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )


_ASSIGN_SQL = f"""
    SELECT vec_id, cid,
           CAST(floor({_sql_sqdist('embedding', 'cvec')} * {MICRO}) AS BIGINT)
             AS dist_micro
    FROM (
      SELECT e.vec_id, c.vec_id AS cid, e.embedding, c.embedding AS cvec,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
             ) AS rn
      FROM embeddings e
      CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {KMEANS_K}) c
    )
    WHERE rn = 1
"""


def _assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        "embedding",
        _sqdist(F.col("embedding"), F.col("cvec")).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cid",
            "embedding",
            F.floor(F.col("d") * MICRO).cast("long").alias("dist_micro"),
        )
    )


@query("kmeans_assign", oracle=_ASSIGN_SQL)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd assignment step: each vector to its nearest of
    {KMEANS_K} seed centroids by squared L2 (ties broken by lowest
    centroid id); distance surfaced as floor-micros.

    Plan: broadcast the K-row centroid table, score K candidates per
    vector in a single projection, keep the argmin with a per-vector
    window (bounded K-row state per key)."""
    return _assignment(spark, sf_dir).select("vec_id", "cid", "dist_micro")


@query(
    "kmeans_cluster_profile",
    oracle=f"""
    WITH a AS ({_ASSIGN_SQL})
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           min(dist_micro) AS min_dist_micro,
           max(dist_micro) AS max_dist_micro,
           CAST(sum(dist_micro) AS BIGINT) AS inertia_micro
    FROM a GROUP BY cid
    """,
)
def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster profile after assignment: member count, nearest /
    farthest member distance, and exact fixed-point inertia (sum of
    floor-micro distances — integer arithmetic, order-independent)."""
    a = _assignment(spark, sf_dir)
    return a.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("dist_micro").alias("min_dist_micro"),
        F.max("dist_micro").alias("max_dist_micro"),
        F.sum("dist_micro").cast("long").alias("inertia_micro"),
    )


@query(
    "kmeans_centroid_update",
    oracle=f"""
    WITH a AS ({_ASSIGN_SQL}),
    m AS (
      SELECT a.cid, e.embedding FROM a JOIN embeddings e ON a.vec_id = e.vec_id
    ),
    ex AS (
      SELECT cid, i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {MICRO}) AS BIGINT) AS v
      FROM m, unnest(generate_series(1, len(embedding))) AS u(i)
    )
    SELECT cid, CAST(dim AS INTEGER) AS dim,
           CAST(sum(v) AS BIGINT) AS sum_micro,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
             AS centroid_micro
    FROM ex GROUP BY cid, dim
    """,
)
def q_kmeans_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd update step in fixed-point: per (cluster, dimension) the
    mean member coordinate, computed as exact integer micro-sums then a
    floor-divide — every value portable, no float accumulation order
    anywhere.

    Plan: assignment (broadcast argmin) → 64× posexplode fan-out →
    hash aggregate on (cid, dim) with map-side partials; shuffle volume
    is K×64 partials per task regardless of corpus size."""
    a = _assignment(spark, sf_dir)
    ex = a.select(
        "cid", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "cid",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * MICRO).cast("long").alias("v"),
    )
    agg = ex.groupBy("cid", F.col("dim").cast("int").alias("dim")).agg(
        F.sum("v").cast("long").alias("sum_micro"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return agg.select(
        "cid",
        "dim",
        "sum_micro",
        "n_members",
        F.floor(F.col("sum_micro").cast("double") / F.col("n_members"))
        .cast("long")
        .alias("centroid_micro"),
    )


_TRAINED_IVF_SQL = f"""
    WITH a AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT e.vec_id, c.vec_id AS cid, e.embedding,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {KMEANS_K}) c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, cid AS cell, embedding AS qv
      FROM a WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'a.embedding')} AS cos_u
      FROM q JOIN a ON a.cid = q.cell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_TOP_K}
"""


@query("ann_ivf_trained", oracle=_TRAINED_IVF_SQL)
def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: the inverted-file cells are
    the k-means assignment (broadcast K-row centroid argmin) instead of
    `ann_ivf`'s pre-labeled column — the composition a production
    vector index actually runs (train quantizer → assign corpus →
    probe query's cell).

    Plan: one broadcast argmin pass labels corpus and queries alike
    (the assignment relation is computed once and reused for both
    sides via cache), then the probe is the same cell equi-join +
    per-query window top-k as `ann_ivf` — cost scales with cell size,
    not corpus size."""
    from distributed_mapreduce_spark.workload.similarity import (
        cosine_u,
        topk_per_query,
    )

    a = _assignment(spark, sf_dir).select("vec_id", "cid", "embedding").cache()
    q = a.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("cell"),
        F.col("embedding").alias("qv"),
    )
    scored = a.join(
        F.broadcast(q),
        (F.col("cid") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
    )
    return topk_per_query(scored, _TOP_K).select(
        "query_id", "neighbor_id", "cos_u", "rnk"
    )


#: Lloyd iterations in the driver-checkable convergence query.
LLOYD_ITERS = 3


def _sql_int_sqdist(a: str, b: str) -> str:
    """Integer squared L2 between BIGINT micro arrays — exact in any
    engine, no IEEE considerations at all."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), (x, y) -> x + y)"
    )


def _lloyd_oracle(iters: int) -> str:
    ctes = [
        f"""e AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT)) AS vm
          FROM embeddings
        ), c0 AS (
          SELECT vec_id AS cid, vm AS cm FROM e WHERE vec_id < {KMEANS_K}
        )"""
    ]
    for k in range(1, iters + 1):
        prev = f"c{k - 1}"
        ctes.append(
            f""", a{k} AS (
              SELECT vec_id, cid, d FROM (
                SELECT e.vec_id, c.cid,
                       {_sql_int_sqdist('e.vm', 'c.cm')} AS d,
                       row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY {_sql_int_sqdist('e.vm', 'c.cm')}, c.cid
                       ) AS rn
                FROM e CROSS JOIN {prev} c
              ) WHERE rn = 1
            ), i{k} AS (
              SELECT CAST({k} AS INTEGER) AS iter,
                     CAST(count(*) AS BIGINT) AS n_vectors,
                     CAST(sum(d) AS DECIMAL(38,0)) AS inertia_sq_micro
              FROM a{k}
            ), c{k} AS (
              SELECT cid, list(cmv ORDER BY dim) AS cm FROM (
                SELECT a.cid, i AS dim,
                       CAST(floor(CAST(sum(e.vm[i]) AS DOUBLE) / count(*)) AS BIGINT)
                         AS cmv
                FROM a{k} a
                JOIN e ON a.vec_id = e.vec_id,
                     unnest(generate_series(1, len(e.vm))) AS u(i)
                GROUP BY a.cid, i
              ) GROUP BY cid
            )"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM i{k}" for k in range(1, iters + 1))
    return "WITH " + "".join(ctes) + "\n" + union


@query("kmeans_lloyd_converge", oracle=_lloyd_oracle(LLOYD_ITERS))
def q_kmeans_lloyd_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd LOOP as a driver-checkable query: {LLOYD_ITERS}
    assign→update rounds over ALL-INTEGER micro coordinates (vectors
    and centroids both live as floor-micro BIGINT arrays, distances
    are integer squared L2 — zero IEEE surface anywhere), returning
    one row per iteration with the exact inertia. Inertia is
    nonincreasing across rounds — the convergence readout — and the
    oracle is the same recurrence unrolled CTE-per-iteration (the
    pagerank_converge treatment applied to Lloyd).

    Plan per round: broadcast K-row centroid table → per-vector argmin
    window (K-bounded state) → posexplode fan-out → (cid, dim) hash
    aggregate with map-side partials → K×dims relation re-assembled
    into arrays; `localCheckpoint` truncates lineage so the plan stays
    O(1) in iteration count. Inertia is summed as DECIMAL(38,0) —
    overflow-proof at any corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    vm = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * MICRO).cast("long"),
    )
    e = emb.select("vec_id", vm.alias("vm")).persist()
    cents = e.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("vm").alias("cm")
    )

    def int_sqdist(a, b):
        diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
        return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)

    readouts: list[DataFrame] = []
    for k in range(1, LLOYD_ITERS + 1):
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cid", "vm", int_sqdist(F.col("vm"), F.col("cm")).alias("d")
        )
        w = Window.partitionBy("vec_id").orderBy("d", "cid")
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "vm", "d")
            .localCheckpoint()
        )
        readouts.append(
            assigned.agg(
                F.lit(k).cast("int").alias("iter"),
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum(F.col("d").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("inertia_sq_micro"),
            )
        )
        upd = (
            assigned.select("cid", F.posexplode("vm").alias("dim0", "v"))
            .groupBy("cid", "dim0")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cmv")
            )
        )
        cents = (
            upd.groupBy("cid")
            .agg(F.sort_array(F.collect_list(F.struct("dim0", "cmv"))).alias("ps"))
            .select("cid", F.transform("ps", lambda s: s["cmv"]).alias("cm"))
            .localCheckpoint()
        )

    out = readouts[0]
    for r in readouts[1:]:
        out = out.unionAll(r)
    return out


#: Cells probed per query in the multi-probe trained IVF.
IVF_NPROBE = 2

_TRAINED_IVF_NPROBE_SQL = f"""
    WITH a AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT e.vec_id, c.vec_id AS cid, e.embedding,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {KMEANS_K}) c
      ) WHERE rn = 1
    ), qcells AS (
      SELECT vec_id AS query_id, cid AS cell, embedding AS qv FROM (
        SELECT e.vec_id, c.vec_id AS cid, e.embedding,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {KMEANS_K}) c
        WHERE e.vec_id < {_N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'a.embedding')} AS cos_u
      FROM qcells q JOIN a ON a.cid = q.cell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {_TOP_K}
"""


@query("ann_ivf_trained_nprobe", oracle=_TRAINED_IVF_NPROBE_SQL)
def q_ann_ivf_trained_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe trained IVF: each query probes its {IVF_NPROBE}
    nearest k-means cells instead of one — THE recall/latency knob of
    a production IVF index (recall rises with nprobe, cost stays
    bounded at nprobe × cell size, independent of corpus size).

    Plan: corpus assignment is the rn=1 argmin; query cells keep
    rn <= {IVF_NPROBE} of the same broadcast-K window; the probe is
    one cell equi-join (a corpus vector lives in exactly one cell, so
    the union of probes needs no dedup) + per-query window top-k."""
    from pyspark.sql import Window as W

    from distributed_mapreduce_spark.workload.similarity import (
        cosine_u,
        topk_per_query,
    )

    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    a = _assignment(spark, sf_dir).select("vec_id", "cid", "embedding")
    qscored = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("cell"),
            F.col("embedding").alias("qv"),
            _sqdist(F.col("embedding"), F.col("cvec")).alias("d"),
        )
    )
    wq = W.partitionBy("query_id").orderBy("d", "cell")
    qcells = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("query_id", "cell", "qv")
    )
    scored = a.join(
        F.broadcast(qcells),
        (F.col("cid") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
    )
    return topk_per_query(scored, _TOP_K).select(
        "query_id", "neighbor_id", "cos_u", "rnk"
    )


#: Product-quantization geometry: M subspaces of SUB_DIM dims each.
PQ_M = 4
PQ_SUB = 16  # 64-dim embeddings / PQ_M
#: Codes per subspace codebook (seeded from vec_id < PQ_K, the same
#: deterministic seeding rule as the coarse quantizer above).
PQ_K = 8

_PQ_SQL = f"""
    WITH cb AS MATERIALIZED (
      SELECT e.vec_id AS code, t.s,
             list_slice(e.embedding, t.s*{PQ_SUB}+1, t.s*{PQ_SUB}+{PQ_SUB})
               AS cvec
      FROM embeddings e, range(0, {PQ_M}) t(s)
      WHERE e.vec_id < {PQ_K}
    ), enc AS MATERIALIZED (
      SELECT vec_id, s, code FROM (
        SELECT e.vec_id, c.s, c.code,
               row_number() OVER (
                 PARTITION BY e.vec_id, c.s
                 ORDER BY {_sql_sqdist(
                     f'list_slice(e.embedding, c.s*{PQ_SUB}+1, c.s*{PQ_SUB}+{PQ_SUB})',
                     'c.cvec')}, c.code
               ) AS rn
        FROM embeddings e CROSS JOIN cb c
      ) WHERE rn = 1
    ), lut AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.s, c.code,
             CAST(floor({_sql_sqdist(
                 f'list_slice(q.embedding, c.s*{PQ_SUB}+1, c.s*{PQ_SUB}+{PQ_SUB})',
                 'c.cvec')} * {MICRO}) AS BIGINT) AS d_micro
      FROM embeddings q CROSS JOIN cb c
      WHERE q.vec_id < {_N_QUERIES}
    ), adc AS (
      SELECT l.query_id, x.vec_id AS neighbor_id,
             CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
      FROM enc x JOIN lut l ON l.s = x.s AND l.code = x.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_micro, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_micro, neighbor_id) AS rnk
      FROM adc WHERE neighbor_id <> query_id
    ) WHERE rnk <= {_TOP_K}
"""


@query("ann_pq_adc", oracle=_PQ_SQL)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC), the memory-side scale technique the IVF/LSH family lacks:
    vectors are compressed to {PQ_M} one-byte codes (argmin against a
    per-subspace codebook), and each query scores the WHOLE corpus
    through a per-query lookup table of subspace distances — the
    compressed corpus is {PQ_M} ints per vector instead of 64 floats
    (16x), which is what lets a 100 TB embedding store fit an
    in-memory scan.

    Exactness contract: per-subspace distances are floored to integer
    micros BEFORE the cross-subspace sum, so the ADC total is an
    integer sum (order-independent) — the float fold only ever runs on
    identical operand sequences in both engines.

    Plan: codebook ({PQ_M}x{PQ_K} rows) and LUT (queries x {PQ_M} x
    {PQ_K}) are broadcast by construction (fixed-size, SF-independent);
    encoding is a broadcast argmin over the corpus (one shuffle-free
    pass; the (vec_id, s, code) long form IS the PQ-compressed
    column); the ADC scan is encoded-corpus >< broadcast-LUT + an
    integer hash-agg over (query, vector) — per-query window top-k
    last, the `ann_bruteforce` shape over compressed codes. At real
    scale this composes with the IVF cell filter (`ann_ivf_trained`)
    to avoid the full scan; the full-scan form here is the recall
    baseline of that composition.
    """
    emb = table(spark, sf_dir, "embeddings")
    subs = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s")

    def sub_slice(vec, s):
        return F.slice(vec, s * PQ_SUB + 1, F.lit(PQ_SUB))

    cb = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("code"), "embedding", subs)
        .select("code", "s", sub_slice(F.col("embedding"), F.col("s")).alias("cvec"))
    )

    scored = emb.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "s",
        "code",
        _sqdist(sub_slice(F.col("embedding"), F.col("s")), F.col("cvec")).alias("d"),
    )
    w = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    enc = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )

    lut = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "code",
            F.floor(
                _sqdist(sub_slice(F.col("embedding"), F.col("s")), F.col("cvec"))
                * MICRO
            )
            .cast("long")
            .alias("d_micro"),
        )
    )

    adc = (
        enc.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_micro").cast("long").alias("adc_micro"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wq = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    return (
        adc.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_micro", F.col("rnk").cast("long").alias("rnk"))
    )


#: Hard negatives returned per anchor.
HARD_NEG_K = 3

_HARD_NEG_SQL = f"""
    WITH a AS MATERIALIZED (
      SELECT vec_id, cid, embedding, label FROM (
        SELECT e.vec_id, c.vec_id AS cid, e.embedding, e.label,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {KMEANS_K}) c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, cid AS cell, embedding AS qv,
             label AS anchor_label
      FROM a WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id, q.anchor_label,
             a.label AS neg_label,
             {_sql_cos_u('q.qv', 'a.embedding')} AS cos_u
      FROM q JOIN a ON a.cid = q.cell AND a.label <> q.anchor_label
                   AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, anchor_label, neg_label, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {HARD_NEG_K}
"""


@query("ann_hard_negatives", oracle=_HARD_NEG_SQL)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the most-similar vectors that carry a DIFFERENT label — found
    inside the anchor's k-means cell, which is exactly where hard
    (geometrically close, semantically wrong) negatives live. The
    standard batch-mining step behind embedding-model fine-tuning.

    Plan: one broadcast argmin assignment labels the corpus (shared
    shape with `ann_ivf_trained`), then a cell equi-join with the
    label-inequality predicate and a per-anchor top-k window over
    cell-bounded candidates — no corpus cross join; negatives-per-
    anchor cost scales with cell size, not corpus size.
    """
    from distributed_mapreduce_spark.workload.similarity import (
        cosine_u,
    )

    emb = table(spark, sf_dir, "embeddings")
    a = (
        _assignment(spark, sf_dir)
        .join(emb.select("vec_id", "label"), "vec_id")
        .select("vec_id", "cid", "embedding", "label")
        .cache()
    )
    q = a.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("cell"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("anchor_label"),
    )
    scored = a.join(
        F.broadcast(q),
        (F.col("cid") == F.col("cell"))
        & (F.col("label") != F.col("anchor_label"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "anchor_label",
        F.col("label").alias("neg_label"),
        cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_u").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .select(
            "query_id", "neighbor_id", "anchor_label", "neg_label", "cos_u",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Silhouette audit from sufficient statistics (no point-pair join).


def _sil_oracle() -> str:
    k = KMEANS_K
    return f"""
    WITH asn AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT e.vec_id, c.vec_id AS cid, e.embedding,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_sql_sqdist('e.embedding', 'c.embedding')}, c.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {k}) c
      ) WHERE rn = 1
    ),
    pts AS (
      SELECT vec_id, cid,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT)) AS v
      FROM asn
    ),
    pq AS (
      SELECT vec_id, cid, v,
             list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS q
      FROM pts
    ),
    comp AS (
      SELECT cid, s.pos AS pos, s.val AS val
      FROM (SELECT cid,
                   unnest(list_transform(range(1, len(v) + 1),
                          i -> struct_pack(pos := i, val := v[i]))) AS s
            FROM pq)
    ),
    svec AS (
      SELECT cid,
             list_transform(list_sort(list(struct_pack(pos := pos, s := s))),
                            x -> x.s) AS sv
      FROM (SELECT cid, pos, CAST(sum(val) AS BIGINT) AS s
            FROM comp GROUP BY cid, pos)
      GROUP BY cid
    ),
    cstat AS (
      SELECT pq.cid, CAST(count(*) AS BIGINT) AS n_c,
             CAST(sum(q) AS BIGINT) AS qc, any_value(sv) AS sv
      FROM pq JOIN svec ON pq.cid = svec.cid
      GROUP BY pq.cid
    ),
    scored AS (
      SELECT p.vec_id, p.cid AS own_cid, c.cid AS other_cid, c.n_c,
             c.n_c * p.q
               - 2 * list_reduce(list_transform(list_zip(p.v, c.sv),
                       z -> z[1] * z[2]), (a, b) -> a + b)
               + c.qc AS num
      FROM pq p CROSS JOIN cstat c
    ),
    ab AS (
      SELECT vec_id, own_cid,
             max(CASE WHEN other_cid = own_cid AND n_c > 1
                      THEN num // (n_c - 1) END) AS a,
             min(CASE WHEN other_cid <> own_cid
                      THEN num // n_c END) AS b,
             max(CASE WHEN other_cid = own_cid THEN n_c END) AS n_own
      FROM scored GROUP BY vec_id, own_cid
    ),
    sil AS (
      SELECT vec_id, own_cid AS cid,
             CASE WHEN n_own <= 1 OR greatest(a, b) = 0 THEN 0
                  ELSE CAST((CASE WHEN b >= a THEN 1 ELSE -1 END)
                       * (CAST(abs(b - a) AS HUGEINT) * 1000000
                          // greatest(a, b)) AS BIGINT)
             END AS s_ppm
      FROM ab
    )
    SELECT cid, CAST(count(*) AS BIGINT) AS n,
           CAST((CASE WHEN sum(s_ppm) >= 0 THEN 1 ELSE -1 END)
                * (abs(CAST(sum(s_ppm) AS HUGEINT)) // count(*)) AS BIGINT)
               AS mean_s_ppm,
           CAST(min(s_ppm) AS BIGINT) AS min_s_ppm,
           CAST(max(s_ppm) AS BIGINT) AS max_s_ppm,
           CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM sil GROUP BY cid
    """


@query("clustering_silhouette_ss", oracle=_sil_oracle())
def q_clustering_silhouette_ss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster silhouette audit of the Lloyd assignment WITHOUT a
    point-pair join: for squared L2, the mean distance from a point to
    a cluster decomposes over sufficient statistics — sum(||x - j||^2,
    j in C) = n_C*||x||^2 - 2*x.S_C + Q_C with S_C = sum of member
    vectors and Q_C = sum of member norms — so a(i)/b(i)/s(i) for
    every point costs one broadcast join against K stat rows instead
    of the O(n^2) pairwise silhouette. Vectors are floor-quantized to
    integer micros first, making every sum/dot/min exact integer
    arithmetic (the oracle replays the identical quantization); s(i)
    is reported in ppm of the standard (b-a)/max(a,b), with singleton
    clusters and coincident-point zeros pinned to 0.

    Plan: assignment (broadcast K centroids) -> per-dim integer sums
    via posexplode hash-agg (64*K grouped rows) -> K-row stat table
    broadcast back -> per-point K-candidate scoring in one projection
    -> per-cluster aggregate. Integer bounds: n_C*||v||^2 < 2^63 up to
    ~10^5 vectors per cluster at unit-norm micro scale; the only
    wider product, |b-a|*10^6, runs in DECIMAL(38)/HUGEINT.

    Reference parity: no counterpart (the reference has no vector
    surface); completes the engine's clustering family with the
    standard cluster-quality audit at scale.
    """
    asn = _assignment(spark, sf_dir)
    pts = asn.select(
        "vec_id",
        "cid",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * MICRO).cast("long"),
        ).alias("v"),
    )
    pq = pts.withColumn(
        "q",
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    comp = pq.select("cid", F.posexplode("v").alias("pos", "val"))
    svec = (
        comp.groupBy("cid", "pos")
        .agg(F.sum("val").cast("long").alias("s"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda st: st.getField("s"),
            ).alias("sv")
        )
    )
    cstat = (
        pq.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_c"),
            F.sum("q").cast("long").alias("qc"),
        )
        .join(svec, "cid")
    )
    scored = pq.crossJoin(
        F.broadcast(
            cstat.select(
                F.col("cid").alias("other_cid"), "n_c", "qc", "sv"
            )
        )
    ).select(
        "vec_id",
        F.col("cid").alias("own_cid"),
        "other_cid",
        "n_c",
        (
            F.col("n_c") * F.col("q")
            - 2
            * F.aggregate(
                F.zip_with(F.col("v"), F.col("sv"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            + F.col("qc")
        ).alias("num"),
    )
    ab = scored.groupBy("vec_id", "own_cid").agg(
        F.max(
            F.when(
                (F.col("other_cid") == F.col("own_cid")) & (F.col("n_c") > 1),
                F.expr("num DIV (n_c - 1)"),
            )
        ).alias("a"),
        F.min(
            F.when(F.col("other_cid") != F.col("own_cid"), F.expr("num DIV n_c"))
        ).alias("b"),
        F.max(
            F.when(F.col("other_cid") == F.col("own_cid"), F.col("n_c"))
        ).alias("n_own"),
    )
    sil = ab.selectExpr(
        "own_cid AS cid",
        "CASE WHEN n_own <= 1 OR greatest(a, b) = 0 THEN CAST(0 AS BIGINT)"
        "     ELSE CAST((CASE WHEN b >= a THEN 1 ELSE -1 END)"
        "          * (CAST(abs(b - a) AS DECIMAL(38,0)) * 1000000"
        "             DIV greatest(a, b)) AS BIGINT)"
        " END AS s_ppm",
    )
    return sil.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "CAST((CASE WHEN sum(s_ppm) >= 0 THEN 1 ELSE -1 END)"
            " * (abs(CAST(sum(s_ppm) AS DECIMAL(38,0))) DIV count(*)) AS BIGINT)"
        ).alias("mean_s_ppm"),
        F.min("s_ppm").cast("long").alias("min_s_ppm"),
        F.max("s_ppm").cast("long").alias("max_s_ppm"),
        F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_negative"),
    )


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN on a quantized 2-D projection).

#: Density grid: cell edge in integer micro-projection units, the
#: absolute density threshold (DBSCAN-style minPts), and the +-1
#: projection planes (seeded like the LSH/JL planes, "dg_" namespace).
DG_CELL = 200_000
DG_MINPTS = 4
DG_BIAS = 1 << 20  # grid coordinates are biased non-negative pre-pack


def _dg_sign(j: int, i: int) -> int:
    import hashlib

    return (
        1
        if int(hashlib.md5(f"dg_{j}_{i}".encode()).hexdigest()[0], 16) < 8
        else -1
    )


_DG_PLANES = [[_dg_sign(j, i) for i in range(64)] for j in range(2)]

#: Offset added before the floor division so truncating integer DIV
#: (both engines) equals mathematical floor: OFF = CELL * BIAS keeps
#: every shifted projection positive, and OFF/CELL = BIAS is exactly
#: the bias the packed key wants.
_DG_OFF = DG_CELL * DG_BIAS


def _dg_oracle() -> str:
    # The 9-offset lateral above is awkward in DuckDB; generate the
    # offsets as a plain VALUES list instead.
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )

    def proj(plane):
        body = " + ".join(
            f"({s} * CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {MICRO}) AS BIGINT))"
            for i, s in enumerate(plane)
        )
        return f"({body})"

    return f"""
    WITH RECURSIVE cells AS MATERIALIZED (
      SELECT ({proj(_DG_PLANES[0])} + {_DG_OFF}) // {DG_CELL} AS bx,
             ({proj(_DG_PLANES[1])} + {_DG_OFF}) // {DG_CELL} AS by,
             count(*) AS n
      FROM embeddings GROUP BY 1, 2
    ),
    dense AS MATERIALIZED (
      SELECT bx * {1 << 21} + by AS k, bx, by, CAST(n AS BIGINT) AS n
      FROM cells WHERE n >= {DG_MINPTS}
    ),
    edges AS MATERIALIZED (
      SELECT a.k AS s, b.k AS t
      FROM dense a
      CROSS JOIN (VALUES {offs}) ofs(dx, dy)
      JOIN dense b ON b.k = (a.bx + ofs.dx) * {1 << 21} + (a.by + ofs.dy)
    ),
    reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ),
    labels AS (
      SELECT s AS k, min(t) AS cluster_id FROM reach GROUP BY s
    )
    SELECT l.cluster_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(d.n) AS BIGINT) AS n_points,
           CAST(min(d.bx) - {DG_BIAS} AS BIGINT) AS min_cx,
           CAST(max(d.bx) - {DG_BIAS} AS BIGINT) AS max_cx,
           CAST(min(d.by) - {DG_BIAS} AS BIGINT) AS min_cy,
           CAST(max(d.by) - {DG_BIAS} AS BIGINT) AS max_cy
    FROM dense d JOIN labels l ON d.k = l.k
    GROUP BY l.cluster_id
    """


@query("clustering_density_grid", oracle=_dg_oracle())
def q_clustering_density_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (the scalable DBSCAN formulation):
    embeddings project to 2-D through two fixed +-1 planes in exact
    integer micros, land in {DG_CELL}-wide grid cells, cells with >=
    {DG_MINPTS} points are dense, and 8-adjacent dense cells merge via
    min-label connected components. Density clustering without any
    point-point distance join: the grid aggregate is the only pass
    over the data, and the merge graph has one node per DENSE CELL
    (thousands at most), not per point — the standard way DBSCAN
    survives 100 TB, since cell counts are a map-side-combinable
    aggregate and the CC loop runs on the tiny cell graph.

    Floor-div portability: projections are offset by CELL*2^20 before
    the truncating integer division, so Spark's DIV and DuckDB's //
    both compute mathematical floor; the offset IS the packed-key bias
    (k = bx*2^21 + by), and |projection| < 2^26 keeps biased coords
    far inside the 2^21 packing lanes.

    Reference parity: no counterpart; completes the clustering family
    with the density-based member alongside Lloyd k-means.
    """
    from distributed_mapreduce_spark.workload.dedup import (
        connected_components_pointer_jump,
    )

    emb = table(spark, sf_dir, "embeddings")
    v = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * MICRO).cast("long"),
    )

    def proj(plane):
        arr = F.array(*[F.lit(s).cast("long") for s in plane])
        return F.aggregate(
            F.zip_with(F.col("v"), arr, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    cells = (
        emb.select(v.alias("v"))
        .select(proj(_DG_PLANES[0]).alias("p0"), proj(_DG_PLANES[1]).alias("p1"))
        .select(
            F.expr(f"(p0 + {_DG_OFF}) DIV {DG_CELL}").alias("bx"),
            F.expr(f"(p1 + {_DG_OFF}) DIV {DG_CELL}").alias("by"),
        )
        .groupBy("bx", "by")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dense = cells.filter(F.col("n") >= DG_MINPTS).select(
        (F.col("bx") * (1 << 21) + F.col("by")).alias("k"),
        "bx",
        "by",
        F.col("n").cast("long").alias("n"),
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    nbrs = dense.select(
        F.col("k").alias("doc_a"),
        F.explode(
            F.array(
                *[
                    (F.col("bx") + dx) * (1 << 21) + (F.col("by") + dy)
                    for dx, dy in offsets
                ]
            )
        ).alias("nk"),
    )
    edges = nbrs.join(
        dense.select(F.col("k").alias("doc_b")),
        nbrs.nk == F.col("doc_b"),
    ).select("doc_a", "doc_b")
    # Pointer jumping since round 10: at sf1.0 the denser grid fuses
    # into a SINGLE long component (adjacent-cell chains — the classic
    # grid-graph deep-diameter shape) and plain min-label's 25 rounds
    # raised the convergence guard; doubling converges in O(log
    # diameter) with the identical fixed point and shared oracle.
    labels = connected_components_pointer_jump(edges).withColumnRenamed(
        "doc_id", "k"
    )
    return (
        dense.join(labels, "k")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
            (F.min("bx") - DG_BIAS).cast("long").alias("min_cx"),
            (F.max("bx") - DG_BIAS).cast("long").alias("max_cx"),
            (F.min("by") - DG_BIAS).cast("long").alias("min_cy"),
            (F.max("by") - DG_BIAS).cast("long").alias("max_cy"),
        )
    )


# ---------------------------------------------------------------------------
# Power-iteration PCA probe with convergence readout.

#: Geometry: vectors in milli-units; the exact centered covariance
#: NUMERATOR C = n*sum(v v^T) - S S^T is scale-reduced once by
#: PCA_C_DIV so each iterate sum_j C'_ij*w_j stays inside int64 with
#: |w| rescaled to PCA_W0 per round.
PCA_MILLI = 1_000
PCA_C_DIV = 1_000_000
PCA_W0 = 1_000_000
PCA_ITERS = 6
PCA_DIM = 64


def _pca_oracle() -> str:
    milli = (
        "list_transform(embedding, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {PCA_MILLI}) AS BIGINT))"
    )
    ctes = [
        f"""v AS MATERIALIZED (
      SELECT {milli} AS v FROM embeddings
    ),
    flat AS (
      SELECT u.i, u.j, u.p FROM (
        SELECT unnest(flatten(list_transform(range(1, {PCA_DIM} + 1),
                 i -> list_transform(range(1, {PCA_DIM} + 1),
                      j -> struct_pack(i := i, j := j, p := v[i] * v[j])))))
               AS u
        FROM v)
    ),
    sums AS (
      SELECT i, j, CAST(sum(p) AS BIGINT) AS vv FROM flat GROUP BY i, j
    ),
    svec AS (
      SELECT u.i AS i, CAST(sum(u.x) AS BIGINT) AS s FROM (
        SELECT unnest(list_transform(range(1, {PCA_DIM} + 1),
                 i -> struct_pack(i := i, x := v[i]))) AS u
        FROM v) GROUP BY u.i
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    cmat AS MATERIALIZED (
      SELECT m.i, m.j,
             (CASE WHEN n * m.vv - a.s * b.s >= 0 THEN 1 ELSE -1 END)
             * (abs(n * m.vv - a.s * b.s) // {PCA_C_DIV}) AS c
      FROM sums m
      JOIN svec a ON m.i = a.i
      JOIN svec b ON m.j = b.i
      CROSS JOIN nn
    ),
    w0 AS (
      SELECT i, CAST({PCA_W0} AS BIGINT) AS w
      FROM (SELECT unnest(range(1, {PCA_DIM} + 1)) AS i)
    )"""
    ]
    reads = []
    for k in range(1, PCA_ITERS + 1):
        ctes.append(
            f""", r{k} AS (
      SELECT m.i, CAST(sum(m.c * w.w) AS BIGINT) AS raw
      FROM cmat m JOIN w{k - 1} w ON m.j = w.i GROUP BY m.i
    ), w{k} AS MATERIALIZED (
      SELECT i, (CASE WHEN raw >= 0 THEN 1 ELSE -1 END)
                * (abs(raw) * {PCA_W0} // (SELECT max(abs(raw)) FROM r{k}))
                AS w
      FROM r{k}
    ), d{k} AS (
      SELECT CAST({k} AS BIGINT) AS iter,
             (SELECT CAST((CASE WHEN sum(wi.w * m.c * wj.w) >= 0
                           THEN 1 ELSE -1 END)
                     * (abs(CAST(sum(wi.w * m.c * wj.w) AS HUGEINT))
                        // (SELECT sum(w * w) FROM w{k}))
                     AS BIGINT)
              FROM cmat m
              JOIN w{k} wi ON m.i = wi.i
              JOIN w{k} wj ON m.j = wj.i) AS rayleigh_c,
             (SELECT CAST(sum(abs(n.w - p.w)) AS BIGINT)
              FROM w{k} n JOIN w{k - 1} p ON n.i = p.i) AS l1_delta
    )"""
        )
        reads.append(f"SELECT * FROM d{k}")
    return "WITH " + "".join(ctes) + "\n" + "\nUNION ALL\n".join(reads)


@query("embedding_pca_power_probe", oracle=_pca_oracle())
def q_embedding_pca_power_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PCA probe over the embedding cloud with a
    per-round convergence readout (the `pagerank_converge` idiom):
    the exact integer centered-covariance numerator C = n*sum(v v^T) -
    S S^T drives w <- C w with sign-preserving max-rescaling, and each
    round reports the Rayleigh quotient w'Cw/w'w (variance captured,
    in C-units) plus the L1 step delta. On a spectrum with gap g the
    contraction goes as 1/g per round — near-isotropic clouds (like
    this synthetic table: g ~ 1.01-1.07) converge slowly, WHICH IS THE
    POINT of surfacing the trajectory instead of pretending a fixed
    round count yields "the" eigenvector; callers read the readout and
    pick their stopping rule, exactly as with PageRank deltas.

    Plan: ONE data pass builds the {PCA_DIM}x{PCA_DIM} covariance
    (per-row flattened outer product into a single hash-agg — the
    tree-aggregated Gram matrix; at 10^9 rows still one pass); every
    round then joins the persisted 4096-row matrix against a broadcast
    64-row vector. Sign-preserving rescale is explicit sign*(|x|*W0
    DIV max|x|) because Spark DIV truncates and DuckDB // floors on
    negatives. Rayleigh numerators run in DECIMAL(38)/HUGEINT.

    Reference parity: no counterpart; the PCA-direction primitive
    beside `embedding_random_projection`'s JL transform.
    """
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * PCA_MILLI).cast("long"),
        ).alias("v")
    ).persist()
    pairs = v.select(
        F.posexplode(
            F.flatten(
                F.transform(
                    F.col("v"),
                    lambda x: F.transform(F.col("v"), lambda y: x * y),
                )
            )
        ).alias("idx", "p")
    )
    sums_ij = (
        pairs.groupBy("idx")
        .agg(F.sum("p").cast("long").alias("vv"))
        .select(
            (F.expr(f"idx DIV {PCA_DIM}") + 1).alias("i"),
            (F.col("idx") % PCA_DIM + 1).alias("j"),
            "vv",
        )
    )
    svec = (
        v.select(F.posexplode("v").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum("x").cast("long").alias("s"))
    )
    nn = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sa = svec.select((F.col("i0") + 1).alias("i"), F.col("s").alias("s_i"))
    sb = svec.select((F.col("i0") + 1).alias("j"), F.col("s").alias("s_j"))
    cmat = (
        sums_ij.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "i",
            "j",
            "(CASE WHEN n * vv - s_i * s_j >= 0 THEN 1 ELSE -1 END)"
            f" * (abs(n * vv - s_i * s_j) DIV {PCA_C_DIV}) AS c",
        )
        .persist()
    )
    w = (
        spark.range(1, PCA_DIM + 1)
        .select(F.col("id").alias("i"), F.lit(PCA_W0).cast("long").alias("w"))
        .localCheckpoint()
    )
    readouts = []
    for k in range(1, PCA_ITERS + 1):
        r = (
            cmat.join(F.broadcast(w.withColumnRenamed("i", "j").withColumnRenamed("w", "wj")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("wj")).cast("long").alias("raw"))
        )
        # max|raw| as a window over the PCA_DIM-row aggregate instead of
        # a crossJoin branch: referencing `r` twice re-ran the cmat join
        # + aggregate per reference inside every round's checkpoint.
        w_new = (
            r.withColumn(
                "mab", F.max(F.abs(F.col("raw"))).over(Window.partitionBy())
            )
            .selectExpr(
                "i",
                f"(CASE WHEN raw >= 0 THEN 1 ELSE -1 END)"
                f" * (abs(raw) * {PCA_W0} DIV mab) AS w",
            )
            .localCheckpoint()
        )
        wi = w_new.select("i", F.col("w").alias("w_i"))
        wj = w_new.select(F.col("i").alias("j"), F.col("w").alias("w_j"))
        num = (
            cmat.join(F.broadcast(wi), "i")
            .join(F.broadcast(wj), "j")
            .agg(
                F.expr(
                    "CAST(sum(CAST(w_i AS DECIMAL(38,0)) * c * w_j)"
                    " AS DECIMAL(38,0))"
                ).alias("wcw")
            )
        )
        # den + delta fused into ONE aggregate over the joined 64-row
        # vectors (they were two separate jobs + two crossJoin branches
        # per round — 12 avoidable tiny stages across the 6 rounds).
        den_delta = (
            w_new.join(w.withColumnRenamed("w", "pw"), "i")
            .agg(
                F.sum(F.col("w") * F.col("w")).cast("long").alias("ww"),
                F.sum(F.abs(F.col("w") - F.col("pw")))
                .cast("long")
                .alias("l1_delta"),
            )
        )
        readouts.append(
            num.crossJoin(den_delta)
            .selectExpr(
                f"CAST({k} AS BIGINT) AS iter",
                "CAST((CASE WHEN wcw >= 0 THEN 1 ELSE -1 END)"
                " * (abs(wcw) DIV ww) AS BIGINT) AS rayleigh_c",
                "l1_delta",
            )
        )
        w = w_new
    out = readouts[0]
    for rdf in readouts[1:]:
        out = out.unionAll(rdf)
    return out
