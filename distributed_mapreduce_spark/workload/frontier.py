"""Pareto frontier (skyline) and best-representative selection — the
multi-objective filtering shapes (cheapest-and-largest part, best doc
per duplicate group) that don't reduce to a single ORDER BY.

Scale notes (100 TB):
- The skyline uses the two-phase local-frontier plan: points are
  hash-split into G groups, each group computes its local frontier
  with a partitioned window (a point dominated within ANY subset is
  globally dominated — safe to drop), and only the union of local
  frontiers (expected O(G · log n) for non-adversarial data) passes
  to the final global window. The global window therefore runs over
  candidates, not raw rows — same "benign class" as pct-of-total.
- Keep-best dedup is one window per duplicate group (bounded per-key
  state) — the standard representative-selection pass after exact
  fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table
from distributed_mapreduce_spark.workload.text import _sql_tokens

#: Hash groups for the local-frontier phase.
SKYLINE_GROUPS = 16


@query(
    "pareto_frontier_parts",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_retailprice AS price, p_size AS psize FROM part
    ), ranked AS (
      SELECT price, psize,
             max(psize) OVER (ORDER BY price ASC, psize DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_prev
      FROM pts
    ), frontier AS (
      SELECT price, psize FROM ranked
      WHERE best_prev IS NULL OR best_prev < psize
    )
    SELECT f.price, f.psize, CAST(count(*) AS BIGINT) AS n_parts
    FROM frontier f JOIN part p
      ON p.p_retailprice = f.price AND p.p_size = f.psize
    GROUP BY f.price, f.psize
    """,
)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of parts under (minimize retail price, maximize size):
    the distinct (price, size) points no other point weakly dominates,
    with the number of parts sitting on each frontier point.

    Correctness of the window form: over DISTINCT points ordered
    (price asc, size desc), every preceding row has price < p, or
    price = p with size > s — so ANY preceding row with size ≥ s
    strictly dominates, and `running max(size) < s` is exactly
    non-dominance.

    Plan (two-phase): points hash into {SKYLINE_GROUPS} groups; a
    partitioned window drops locally-dominated points (any dominator
    anywhere proves global dominance, so survivors ⊇ true frontier);
    the global window then runs over the small candidate union only —
    no raw-relation global sort at any stage. The mechanical bound the
    plan text cannot carry (whitelisted as
    plans.checks.DOMAIN_BOUNDED_WINDOW_OPS): each group's local
    frontier is a strictly-increasing-size chain, so it holds ≤
    |distinct p_size values| rows (a 1..50 domain in TPC-H) — the
    global stage reads ≤ {SKYLINE_GROUPS}·|size domain| rows no matter
    the corpus size."""
    part = table(spark, sf_dir, "part")
    pts = part.select(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).distinct()
    grp = F.pmod(F.hash("price", "psize"), F.lit(SKYLINE_GROUPS))
    w_local = (
        Window.partitionBy("g")
        .orderBy(F.asc("price"), F.desc("psize"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = (
        pts.withColumn("g", grp)
        .withColumn("best_prev", F.max("psize").over(w_local))
        .filter(F.col("best_prev").isNull() | (F.col("best_prev") < F.col("psize")))
        .drop("g", "best_prev")
    )
    w_global = Window.orderBy(F.asc("price"), F.desc("psize")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        local.withColumn("best_prev", F.max("psize").over(w_global))
        .filter(F.col("best_prev").isNull() | (F.col("best_prev") < F.col("psize")))
        .drop("best_prev")
    )
    return (
        part.join(
            frontier,
            (part.p_retailprice == frontier.price) & (part.p_size == frontier.psize),
        )
        .groupBy("price", "psize")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# Representative selection after exact fingerprinting.
sql_query(
    "dedup_keep_best",
    f"""
    WITH scored AS (
      SELECT doc_id, md5(text) AS fp, len({_sql_tokens('text')}) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, fp, n_tokens,
             row_number() OVER (PARTITION BY fp
                                ORDER BY n_tokens DESC, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
      FROM scored
    )
    SELECT doc_id, fp, CAST(n_tokens AS INTEGER) AS n_tokens, group_size
    FROM ranked WHERE rn = 1
    """,
)


@query(
    "partial_agg_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS STRING)
             AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic-aggregate mergeability, demonstrated in-plan: the
    event stream is split into two disjoint shards (even/odd event_id —
    standing in for yesterday's materialized partials + today's delta),
    each aggregated separately, and the PARTIALS are merged by
    re-aggregation (sum of sums, sum of counts, min of mins, max of
    maxes). The oracle aggregates the full table directly — equality IS
    the merge-correctness proof (the combiner property the reference's
    juice phase relies on, `juice_wordcount.py`).

    Plan: both shards prune at the scan; the merge step re-aggregates
    ≤2 rows per key — this is exactly how incremental view maintenance
    avoids reprocessing history."""
    ev = table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("psum"),
            F.min("value").alias("pmin"),
            F.max("value").alias("pmax"),
        )

    even = partial(ev.filter(F.col("event_id") % 2 == 0))
    odd = partial(ev.filter(F.col("event_id") % 2 == 1))
    return (
        even.unionAll(odd)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.sum("psum").cast("decimal(30,6)").cast("string").alias("sum_value"),
            F.min("pmin").alias("min_value"),
            F.max("pmax").alias("max_value"),
        )
    )


@query(
    "ivm_retraction",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS STRING)
             AS sum_value
    FROM events
    WHERE event_id % 13 <> 0
    GROUP BY event_type
    """,
)
def q_ivm_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE side of incremental view maintenance: a materialized
    per-type aggregate is corrected for a retraction batch (event_id %
    13 — standing in for late-arriving deletes/GDPR erasure) by
    SUBTRACTING the batch's partials (count and decimal sum are
    subtractable group aggregates; min/max are deliberately absent —
    they are not retractable without re-scanning, the classic IVM
    distinction). The oracle aggregates the retained rows directly —
    equality proves base − delta ≡ recompute.

    Plan: two pruned scans + two hash aggregates + a ≤2-rows-per-key
    merge — history is never reprocessed."""
    ev = table(spark, sf_dir, "events")

    def partial(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("event_type").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("pn"),
            (F.lit(sign) * F.sum(F.col("value").cast("decimal(18,6)"))).alias("psum"),
        )

    base = partial(ev, 1)
    deletes = partial(ev.filter(F.col("event_id") % 13 == 0), -1)
    return (
        base.unionAll(deletes)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.sum("psum").cast("decimal(30,6)").cast("string").alias("sum_value"),
        )
    )


# The NON-subtractable side of incremental view maintenance (VERDICT r03
# #7): min/max cannot absorb a delete batch by arithmetic — when a
# retracted row WAS a group's extremum, that group must be rebuilt from
# its retained rows.
sql_query(
    "ivm_retraction_minmax",
    """
    WITH base AS (
      SELECT event_type, min(value) AS mn, max(value) AS mx
      FROM events GROUP BY event_type
    ), del AS (
      SELECT event_type, min(value) AS dmn, max(value) AS dmx
      FROM events WHERE event_id % 13 = 0 GROUP BY event_type
    ), affected AS (
      SELECT b.event_type FROM base b JOIN del d USING (event_type)
      WHERE d.dmn = b.mn OR d.dmx = b.mx
    )
    SELECT e.event_type,
           min(e.value) AS min_value,
           max(e.value) AS max_value,
           e.event_type IN (SELECT event_type FROM affected) AS rebuilt
    FROM events e
    WHERE e.event_id % 13 <> 0
    GROUP BY e.event_type
    """,
)


@query(
    "ivm_join_delta",
    oracle="""
    WITH j AS (
      SELECT c.c_nationkey,
             (o.o_orderkey % 17 = 0 OR c.c_custkey % 19 = 0) AS is_delta,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(price) AS DECIMAL(30,2)) AS STRING) AS sum_price,
           CAST(count(*) FILTER (is_delta) AS BIGINT) AS delta_orders
    FROM j GROUP BY c_nationkey
    """,
)
def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view under inserts on BOTH
    sides: with an order insert batch dO (o_orderkey % 17) and a
    customer insert batch dC (c_custkey % 19), the engine maintains the
    per-nation revenue view via the bilinear delta rule

        d(O >< C) = dO >< C_old  UNION  O_old >< dC  UNION  dO >< dC

    and merges those delta partials into the old view's materialized
    partials — the history (O_old >< C_old) is joined once to build the
    view and never re-joined for the update. The oracle recomputes the
    view from the full tables; equality proves partials(old) +
    partials(delta-terms) == recompute. `delta_orders` exposes how many
    joined rows arrived via the delta terms so the oracle checks the
    DECOMPOSITION, not just the final values.

    Plan (100 TB): four equi-joins on o_custkey — the three delta terms
    have at least one small side (the insert batch), which AQE can
    broadcast at runtime; the expensive old><old join is the one-time
    view build, amortized across updates in a real deployment. All
    aggregates are subtractable partials (count / decimal sum), so the
    same machinery composes with `ivm_retraction` for the delete side.
    """
    ords = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    d_o = F.col("o_orderkey") % 17 == 0
    d_c = F.col("c_custkey") % 19 == 0
    o_old, o_new = ords.filter(~d_o), ords.filter(d_o)
    c_old, c_new = cust.filter(~d_c), cust.filter(d_c)

    def partials(o: DataFrame, c: DataFrame, is_delta: bool) -> DataFrame:
        joined = o.join(c, o["o_custkey"] == c["c_custkey"])
        return joined.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("psum"),
            (F.count(F.lit(1)) * int(is_delta)).alias("pdelta"),
        )

    view_old = partials(o_old, c_old, False)
    deltas = (
        partials(o_new, c_old, True)
        .unionAll(partials(o_old, c_new, True))
        .unionAll(partials(o_new, c_new, True))
    )
    return (
        view_old.unionAll(deltas)
        .groupBy("c_nationkey")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            F.sum("psum").cast("decimal(30,2)").cast("string").alias("sum_price"),
            F.sum("pdelta").cast("long").alias("delta_orders"),
        )
    )
