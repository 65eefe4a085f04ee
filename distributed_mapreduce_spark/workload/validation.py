"""Data-quality validation and snapshot-diff workload — the
constraint-checking and change-detection passes a warehouse runs on
every load.

Reference parity note: the reference's only integrity mechanism is
the SDFS replication check (`file_server/fileserver.py` re-replication
on membership change); these queries are the *data*-level analogue:
declared constraints evaluated as aggregates, and a two-snapshot diff
in one plan.

Scale notes (100 TB):
- Every constraint is an aggregate or anti-join that reduces to a
  single counter — the shuffles carry keys only, and all checks scan
  each table once (the per-table checks share one scan via a single
  aggregate projection where possible).
- The YoY diff is a full-outer self-join of two *aggregated* per-key
  relations (one row per customer each side), not of raw facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table

YOY_YEAR_A = 1996
YOY_YEAR_B = 1997


# Declarative data-quality suite: PK uniqueness, FK integrity (anti-
# joins), domain membership, range checks, and a cross-table temporal
# sanity rule — one (check_name, n_violations) row each.
sql_query(
    "dq_checks",
    """
    SELECT 'orders_pk_unique' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST(count(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(count(*) AS BIGINT)
    FROM orders WHERE o_orderstatus NOT IN ('F', 'O', 'P')
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(count(*) AS BIGINT)
    FROM orders WHERE o_totalprice <= 0 OR o_totalprice IS NULL
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'ship_before_order',
           CAST(count(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
)


# Snapshot diff: per-customer order counts in YOY_YEAR_A vs
# YOY_YEAR_B, the delta, and a new/lost/retained classification — the
# CDC-style comparison shape (two aggregated snapshots, full-outer
# joined on the business key).
sql_query(
    "yoy_customer_orders",
    f"""
    WITH a AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_a
      FROM orders WHERE year(o_orderdate) = {YOY_YEAR_A} GROUP BY 1
    ), b AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_b
      FROM orders WHERE year(o_orderdate) = {YOY_YEAR_B} GROUP BY 1
    )
    SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
           coalesce(a.n_a, 0) AS n_{YOY_YEAR_A},
           coalesce(b.n_b, 0) AS n_{YOY_YEAR_B},
           coalesce(b.n_b, 0) - coalesce(a.n_a, 0) AS delta,
           CASE WHEN a.o_custkey IS NULL THEN 'new'
                WHEN b.o_custkey IS NULL THEN 'lost'
                ELSE 'retained' END AS cohort
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
)


# Exact join-size prediction from per-key histograms — the sum-of-
# products identity |A ⋈ B| = Σ_k c_A(k)·c_B(k) every cost-based
# optimizer approximates, computed exactly and certified against the
# materialized join count in one plan.
sql_query(
    "join_cardinality_audit",
    """
    WITH a AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
      FROM orders GROUP BY 1
    ), b AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
      FROM lineitem GROUP BY 1
    ), p AS (
      SELECT CAST(sum(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS predicted
      FROM a JOIN b USING (k)
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS actual
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT predicted, actual, predicted = actual AS consistent
    FROM p, c
    """,
)


# Cross-modal-table reconciliation: the documents↔embeddings id
# alignment a training pipeline must verify before embedding-keyed dedup
# or retrieval — documents still awaiting embedding (pipeline backlog)
# and orphan vectors whose source text is gone (must be purged, e.g.
# after a takedown).
sql_query(
    "embedding_doc_reconcile",
    """
    WITH d AS (SELECT doc_id FROM documents),
    e AS (SELECT vec_id FROM embeddings)
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
      (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_vectors,
      (SELECT CAST(count(*) AS BIGINT) FROM d JOIN e ON d.doc_id = e.vec_id)
        AS n_matched,
      (SELECT CAST(count(*) AS BIGINT) FROM d
       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.vec_id = d.doc_id))
        AS n_docs_unembedded,
      (SELECT CAST(count(*) AS BIGINT) FROM e
       WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = e.vec_id))
        AS n_orphan_vectors
    """,
)


#: k-anonymity threshold for the governance audit.
KANON_K = 10


@query(
    "kanonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS grp_n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(grp_n) AS BIGINT) AS min_group,
           CAST(count(*) FILTER (grp_n < {KANON_K}) AS BIGINT) AS risky_groups,
           CAST(coalesce(sum(grp_n) FILTER (grp_n < {KANON_K}), 0) AS BIGINT)
             AS risky_rows,
           CAST(sum(grp_n) AS BIGINT) AS n_rows
    FROM g
    """,
)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance k-anonymity audit: treating (nation, market
    segment) as the quasi-identifier, report how many QI groups fall
    below k={KANON_K} members and how many rows sit in those
    re-identifiable groups — the release-gate check a privacy review
    runs before sharing a derived table (complements `text_scrub_pii`,
    which handles direct identifiers).

    Plan: one hash-agg to QI group sizes, one re-agg over |groups|
    rows; at 100 TB the second stage is negligible by construction.
    """
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_n")
    )
    risky = F.col("grp_n") < KANON_K
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("grp_n").alias("min_group"),
        F.sum(risky.cast("long")).alias("risky_groups"),
        F.coalesce(F.sum(F.when(risky, F.col("grp_n"))), F.lit(0))
        .cast("long")
        .alias("risky_rows"),
        F.sum("grp_n").cast("long").alias("n_rows"),
    )


#: Minimum distinct-sensitive-values per QI group (distinct l-diversity).
LDIV_L = 2


@query(
    "ldiversity_audit",
    oracle=f"""
    WITH s AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS sens
      FROM customer
    ), g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS grp_n,
             CAST(count(DISTINCT sens) AS BIGINT) AS l
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(count(*) FILTER (l < {LDIV_L}) AS BIGINT) AS weak_groups,
           CAST(coalesce(sum(grp_n) FILTER (l < {LDIV_L}), 0) AS BIGINT)
             AS weak_rows,
           CAST(sum(grp_n) AS BIGINT) AS n_rows
    FROM g
    """,
)
def q_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate to `kanonymity_audit`:
    a QI group can be large (k-anonymous) yet still leak if every
    member shares the SAME sensitive value. Treating (nation, market
    segment) as the quasi-identifier and the account-balance band
    (neg/mid/high) as the sensitive attribute, report the minimum
    distinct-sensitive count per group and how many groups/rows fall
    below l={LDIV_L} (homogeneity-attack exposure).

    Plan: one hash-agg with a distinct-combine to QI group rows, one
    re-agg over |groups| rows — identical scale posture to the
    k-anonymity gate."""
    cust = table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    g = (
        cust.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("grp_n"),
            F.countDistinct("sens").cast("long").alias("l"),
        )
    )
    weak = F.col("l") < LDIV_L
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("l").alias("min_l"),
        F.sum(weak.cast("long")).alias("weak_groups"),
        F.coalesce(F.sum(F.when(weak, F.col("grp_n"))), F.lit(0))
        .cast("long")
        .alias("weak_rows"),
        F.sum("grp_n").cast("long").alias("n_rows"),
    )


#: t-closeness threshold in ppm of total-variation distance (0.20).
TCLOSE_T_PPM = 200_000


@query(
    "tcloseness_audit",
    oracle=f"""
    WITH s AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS sens
      FROM customer
    ), cnt AS MATERIALIZED (
      SELECT c_nationkey, c_mktsegment, sens,
             CAST(count(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2, 3
    ), grp AS MATERIALIZED (
      SELECT c_nationkey, c_mktsegment, CAST(sum(cnt) AS BIGINT) AS grp_n
      FROM cnt GROUP BY 1, 2
    ), gband AS MATERIALIZED (
      SELECT sens, CAST(sum(cnt) AS BIGINT) AS band_n FROM cnt GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(band_n) AS BIGINT) AS n_rows FROM gband
    ), grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.grp_n, b.sens
      FROM grp g CROSS JOIN (SELECT unnest(['neg','mid','high']) AS sens) b
    ), sh AS (
      SELECT grid.c_nationkey, grid.c_mktsegment, grid.grp_n,
             (1000000 * coalesce(c.cnt, 0)) // grid.grp_n AS share_ppm,
             (1000000 * gl.band_n) // t.n_rows AS glob_ppm
      FROM grid
      LEFT JOIN cnt c
        ON c.c_nationkey = grid.c_nationkey
       AND c.c_mktsegment = grid.c_mktsegment
       AND c.sens = grid.sens
      JOIN gband gl ON gl.sens = grid.sens
      CROSS JOIN tot t
    ), tv AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(any_value(grp_n) AS BIGINT) AS grp_n,
             CAST(sum(abs(share_ppm - glob_ppm)) // 2 AS BIGINT) AS tv_ppm
      FROM sh GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(max(tv_ppm) AS BIGINT) AS max_tv_ppm,
           CAST(count(*) FILTER (tv_ppm > {TCLOSE_T_PPM}) AS BIGINT)
             AS far_groups,
           CAST(coalesce(sum(grp_n) FILTER (tv_ppm > {TCLOSE_T_PPM}), 0)
             AS BIGINT) AS far_rows,
           CAST(sum(grp_n) AS BIGINT) AS n_rows
    FROM tv
    """,
)
def q_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third gate of the governance triad
    (`kanonymity_audit`, `ldiversity_audit`): a QI group can be large
    AND diverse yet still leak if its sensitive-value DISTRIBUTION
    deviates sharply from the global one (skewness attack). Treating
    (nation, market segment) as the quasi-identifier and the
    account-balance band as the sensitive attribute, compute each
    group's total-variation distance to the global band distribution
    in exact ppm (shares as truncated micro-unit integers, TV =
    sum(|p_g - p|)/2) and report the max plus how many groups/rows
    exceed t=0.20.

    Plan: one hash-agg to (QI x band) counts (|groups| x 3 rows), a
    dense 3-band grid via a literal unnest, one broadcast join against
    the 3-row global distribution, re-agg per group, final re-agg to
    one row. Every post-scan relation is bounded by |groups| x 3 —
    the 100 TB cost is the single scan.
    """
    cust = table(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    cnt = (
        cust.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment", "sens")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    grp = cnt.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").cast("long").alias("grp_n")
    )
    glob = cnt.groupBy("sens").agg(F.sum("cnt").cast("long").alias("band_n"))
    tot = glob.agg(F.sum("band_n").cast("long").alias("n_rows"))
    grid = grp.select(
        "c_nationkey",
        "c_mktsegment",
        "grp_n",
        F.explode(F.array(F.lit("neg"), F.lit("mid"), F.lit("high"))).alias(
            "sens"
        ),
    )
    sh = (
        grid.join(cnt, ["c_nationkey", "c_mktsegment", "sens"], "left")
        .join(F.broadcast(glob), "sens")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "grp_n",
            F.expr("(1000000 * coalesce(cnt, 0)) DIV grp_n").alias(
                "share_ppm"
            ),
            F.expr("(1000000 * band_n) DIV n_rows").alias("glob_ppm"),
        )
    )
    tv = sh.groupBy("c_nationkey", "c_mktsegment").agg(
        F.first("grp_n").cast("long").alias("grp_n"),
        F.expr("CAST(sum(abs(share_ppm - glob_ppm)) DIV 2 AS BIGINT)").alias(
            "tv_ppm"
        ),
    )
    far = F.col("tv_ppm") > TCLOSE_T_PPM
    return tv.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max("tv_ppm").cast("long").alias("max_tv_ppm"),
        F.sum(far.cast("long")).cast("long").alias("far_groups"),
        F.coalesce(F.sum(F.when(far, F.col("grp_n"))), F.lit(0))
        .cast("long")
        .alias("far_rows"),
        F.sum("grp_n").cast("long").alias("n_rows"),
    )


#: Benford first-digit expectation, exact ppm of log10(1+1/d) — the
#: nine constants sum to exactly 1,000,000 (public values, inlined as
#: literals so no in-engine log is ever taken; same device as the
#: NDCG weights in workload/similarity.py).
BENFORD_PPM = {
    1: 301_030, 2: 176_091, 3: 124_939, 4: 96_910, 5: 79_181,
    6: 66_947, 7: 57_992, 8: 51_153, 9: 45_757,
}


# Benford's-law first-digit audit over order totals — the data-quality
# screen fraud/anomaly reviews run on financial columns (Benford 1938;
# Nigrini's forensic-accounting usage): compare the observed
# first-significant-digit distribution against log10(1+1/d), digit by
# digit, in exact ppm. The nine expected shares are inlined as integer
# literals (they sum to exactly 10⁶), so no in-engine logarithm is taken
# and both engines agree bit-for-bit. Deviations flag synthetic or
# truncated data — note TPC-H totalprice is a bounded uniform-ish
# synthetic, so large dev_ppm here is the CORRECT verdict, which is
# exactly what makes it a useful fixture for the audit.
sql_query(
    "dq_benford_audit",
    f"""
    WITH exp_p(digit, exp_ppm) AS (VALUES {", ".join(
        f"({d}, {p})" for d, p in sorted(BENFORD_PPM.items())
    )}),
    obs AS MATERIALIZED (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1)
                  AS INTEGER) AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT e.digit,
           CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST((1000000 * coalesce(o.n_obs, 0)) // t.n AS BIGINT) AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(abs((1000000 * coalesce(o.n_obs, 0)) // t.n - e.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM exp_p e
    LEFT JOIN obs o ON o.digit = e.digit
    CROSS JOIN tot t
    ORDER BY e.digit
    """,
)


# ---------------------------------------------------------------------------
# Differentially-private noisy counts (two-sided geometric mechanism).
# ---------------------------------------------------------------------------


@query(
    "dp_noisy_counts",
    oracle="""
    WITH g AS MATERIALIZED (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS true_n
      FROM documents GROUP BY 1, 2
    ), h AS (
      SELECT source, lang, true_n,
             ('0x' || substr(md5('dpA_' || source || '|' || lang), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5('dpB_' || source || '|' || lang), 1, 8))::BIGINT AS h2
      FROM g
    )
    SELECT source, lang, true_n,
           CAST((bit_count(xor(h1, h1 + 1)) - 1)
                - (bit_count(xor(h2, h2 + 1)) - 1) AS BIGINT) AS noise,
           CAST(true_n + (bit_count(xor(h1, h1 + 1)) - 1)
                - (bit_count(xor(h2, h2 + 1)) - 1) AS BIGINT) AS noisy_n
    FROM h
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release — the two-sided
    geometric (discrete Laplace) mechanism at epsilon = ln 2: noise =
    G1 - G2 with G_i ~ Geometric(1/2), giving P(noise = k) proportional
    to 2^-|k| — the standard integer mechanism for count queries
    (Ghosh-Roughgarden-Sundararajan's geometric mechanism, the
    universally-optimal one for counts).

    Geometric(1/2) draws come from md5-u32 bits: the trailing-ones
    count of a uniform 32-bit word is exactly Geometric(1/2)
    (P(k) = 2^-(k+1)), computed as bit_count(h XOR (h+1)) - 1 — pure
    integer bit ops, bit-identical on both engines. Determinism (hash
    of the group key as the randomness source) is the test-harness
    posture; a production release would swap in a sealed RNG, keeping
    the mechanism and this audit shape unchanged. true_n sits beside
    noisy_n because this query is the MECHANISM audit (noise
    distribution + utility check), not the release itself.

    Plan: one map-side-combinable count per (source, lang) group; the
    noise expression runs on the <=|groups|-row aggregate. At 100 TB
    the only shuffle is the group-by — the mechanism adds zero data
    movement."""
    docs = table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    key = F.concat(F.col("source"), F.lit("|"), F.col("lang"))

    def geom(tag: str) -> F.Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), key)), 1, 8), 16, 10
        ).cast("long")
        return F.bit_count(h.bitwiseXOR(h + 1)) - 1

    noise = (geom("dpA_") - geom("dpB_")).cast("long")
    return g.select(
        "source",
        "lang",
        "true_n",
        noise.alias("noise"),
        (F.col("true_n") + noise).cast("long").alias("noisy_n"),
    )


# ---------------------------------------------------------------------------
# Subsample-replication variance (error bars without a second pass).
# ---------------------------------------------------------------------------

#: Number of half-sample replicas.
SUBSAMPLE_B = 16


@query(
    "subsample_variance_audit",
    oracle=f"""
    WITH m AS MATERIALIZED (
      SELECT t.b AS b,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(n_chars) AS BIGINT) AS s_b
      FROM documents,
           unnest([{', '.join(str(b) for b in range(SUBSAMPLE_B))}]) AS t(b)
      WHERE ('0x' || substr(md5('bs' || CAST(t.b AS STRING) || '_'
                                 || CAST(doc_id AS STRING)), 1, 8))::BIGINT
            % 2 = 0
      GROUP BY 1
    ), mm AS (
      SELECT b, CAST(CAST(s_b AS HUGEINT) * 1000000 // n_b AS BIGINT) AS mean_e6
      FROM m
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_replicas,
             sum(CAST(mean_e6 AS HUGEINT)) AS sm,
             sum(CAST(mean_e6 AS HUGEINT) * mean_e6) AS sm2
      FROM mm
    ), whole AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(CAST(sum(n_chars) AS HUGEINT) * 1000000 // count(*)
                  AS BIGINT) AS full_mean_e6
      FROM documents
    )
    SELECT whole.n_docs, whole.full_mean_e6, agg.n_replicas,
           CAST(sm // n_replicas AS BIGINT) AS grand_mean_e6,
           CAST((n_replicas * sm2 - sm * sm)
                // (n_replicas * (n_replicas - 1)) AS BIGINT) AS var_between_e12
    FROM agg, whole
    """,
)
def q_subsample_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error bars for a corpus statistic from ONE pass: {SUBSAMPLE_B}
    deterministic half-sample replicas (doc in replica b iff
    md5('bs{{b}}_'||doc_id) is even — the hash-seeded analogue of
    half-sample bootstrap / delete-d jackknife), per-replica mean
    n_chars in exact micro-units, then the between-replica variance
    (B*sum(m^2) - (sum m)^2) DIV (B*(B-1)) — every step integer.

    This is how a 100 TB profile job reports a standard error without
    re-scanning: the replica fan-out is a 16-way explode FILTERED to
    ~8 memberships per row before any shuffle, per-replica sums are
    map-side partials, and the variance runs on a {SUBSAMPLE_B}-row
    aggregate. Replica membership by content-independent doc_id hash
    keeps replicas exchangeable; the audit pins the full-data mean
    beside the replica grand mean (they agree to within the replica
    spread — tests assert the sandwich)."""
    from distributed_mapreduce_spark.workload.dedup import _hash_u32

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    memb = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("b"),
                    (
                        _hash_u32(F.col("doc_id").cast("string"), f"bs{b}_") % 2
                    ).alias("r"),
                )
                for b in range(SUBSAMPLE_B)
            ]
        ),
        lambda s: s["r"] == 0,
    )
    m = (
        docs.select("n_chars", F.explode(memb).alias("s"))
        .groupBy(F.col("s.b").alias("b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("n_chars").cast("long").alias("s_b"),
        )
    )
    mm = m.select(
        "b",
        F.expr(
            "CAST(CAST(s_b AS DECIMAL(38,0)) * 1000000 DIV n_b AS BIGINT)"
        ).alias("mean_e6"),
    )
    agg = mm.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.sum(F.col("mean_e6").cast("decimal(38,0)")).alias("sm"),
        F.sum(
            (F.col("mean_e6").cast("decimal(38,0)") * F.col("mean_e6")).cast(
                "decimal(38,0)"
            )
        ).alias("sm2"),
    )
    whole = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("full_mean_e6"),
    )
    return agg.crossJoin(F.broadcast(whole)).select(
        "n_docs",
        "full_mean_e6",
        "n_replicas",
        F.expr("CAST(sm DIV n_replicas AS BIGINT)").alias("grand_mean_e6"),
        F.expr(
            "CAST((n_replicas * sm2 - sm * sm)"
            " DIV (n_replicas * (n_replicas - 1)) AS BIGINT)"
        ).alias("var_between_e12"),
    )

# ---------------------------------------------------------------------------
# Right-to-be-forgotten deletion propagation
# ---------------------------------------------------------------------------

#: Deterministic deletion gate (89 is unused by any other residue gate,
#: so the deletion set is independent of every other family's sampling).
RTBF_MOD = 89

#: Index terms whose posting rows the cascade must erase (a fixed
#: vocabulary slice, same device as the BM25 query terms).
RTBF_TERMS = ("spark", "join", "hash", "window", "vector", "scan")


@query(
    "governance_deletion_propagation",
    oracle=f"""
    WITH del AS MATERIALIZED (
      SELECT doc_id FROM documents WHERE doc_id % {RTBF_MOD} = 0
    ), fp AS MATERIALIZED (
      SELECT doc_id, md5(text) AS fp FROM documents
    ), grp AS (
      SELECT f.fp,
             count(*) AS n_members,
             min(f.doc_id) AS keeper,
             sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_del,
             min(CASE WHEN d.doc_id IS NULL THEN f.doc_id END) AS new_keeper
      FROM fp f LEFT JOIN del d ON d.doc_id = f.doc_id
      GROUP BY f.fp
    ), post AS MATERIALIZED (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(list_intersect(
                 list_filter(string_split(text, ' '), x -> x <> ''),
                 [{", ".join(f"'{t}'" for t in RTBF_TERMS)}])) AS tok
        FROM documents)
    ), grp_stats AS (
      SELECT CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_touched,
             CAST(sum(CASE WHEN n_del = n_members THEN 1 ELSE 0 END)
               AS BIGINT) AS groups_emptied,
             CAST(sum(CASE WHEN n_del > 0 AND new_keeper IS NOT NULL
                           AND new_keeper <> keeper THEN 1 ELSE 0 END)
               AS BIGINT) AS keepers_reassigned
      FROM grp
    ), post_stats AS (
      SELECT CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS postings_removed,
             CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS postings_kept
      FROM post p LEFT JOIN del d ON d.doc_id = p.doc_id
    ), counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN doc_id % {RTBF_MOD} = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_deleted
      FROM documents
    ), resid AS (
      SELECT CAST(count(*) AS BIGINT) AS residual_refs FROM (
        SELECT p.doc_id FROM post p
        WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.doc_id = p.doc_id)
        UNION ALL
        SELECT f.doc_id FROM fp f
        WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.doc_id = f.doc_id)
      ) s JOIN del ON del.doc_id = s.doc_id
    )
    SELECT n_docs, n_deleted, groups_touched, groups_emptied,
           keepers_reassigned, postings_removed, postings_kept,
           residual_refs
    FROM counts CROSS JOIN grp_stats CROSS JOIN post_stats CROSS JOIN resid
    """,
)
def q_governance_deletion_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten cascade audit: given a deletion list
    (doc_id % {RTBF_MOD} = 0 — standing in for a GDPR/CCPA erasure
    batch), propagate the erasure through the pipeline's derived
    relations and PROVE completion in the output. Cascaded relations:
    the exact-dup fingerprint index (groups whose canonical keeper is
    erased get their keeper reassigned to the smallest surviving
    member; groups losing every member are dropped) and the inverted
    posting index (rows of erased docs removed). `residual_refs`
    re-scans the post-cascade relations for any reference to a
    deleted id — 0 by construction, published as a column instead of
    trusted (the `group_split_audit` proof-column discipline).

    Plan: the deletion list is a residue gate evaluated in-scan (no
    separate delete table to join at scale — at 100 TB it would be a
    broadcast Bloom/exact filter); group stats are one hash-agg over
    the fingerprint relation; posting stats one agg over the
    term-filtered explode. All outputs 1 row."""
    docs = table(spark, sf_dir, "documents")
    is_del = F.col("doc_id") % RTBF_MOD == 0
    fp = docs.select("doc_id", F.md5("text").alias("fp"), is_del.alias("d"))
    grp = fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("keeper"),
        F.sum(F.when(F.col("d"), 1).otherwise(0)).alias("n_del"),
        F.min(F.when(~F.col("d"), F.col("doc_id"))).alias("new_keeper"),
    )
    grp_stats = grp.agg(
        F.sum(F.when(F.col("n_del") > 0, 1).otherwise(0))
        .cast("long")
        .alias("groups_touched"),
        F.sum(F.when(F.col("n_del") == F.col("n_members"), 1).otherwise(0))
        .cast("long")
        .alias("groups_emptied"),
        F.sum(
            F.when(
                (F.col("n_del") > 0)
                & F.col("new_keeper").isNotNull()
                & (F.col("new_keeper") != F.col("keeper")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("keepers_reassigned"),
    )
    from distributed_mapreduce_spark.workload.text import _tokens

    post = docs.select(
        "doc_id",
        is_del.alias("d"),
        F.explode(
            F.array_intersect(
                _tokens(F.col("text")), F.array(*[F.lit(t) for t in RTBF_TERMS])
            )
        ).alias("tok"),
    )
    post_stats = post.agg(
        F.sum(F.when(F.col("d"), 1).otherwise(0))
        .cast("long")
        .alias("postings_removed"),
        F.sum(F.when(~F.col("d"), 1).otherwise(0))
        .cast("long")
        .alias("postings_kept"),
    )
    counts = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(is_del, 1).otherwise(0)).cast("long").alias("n_deleted"),
    )
    # post-cascade residual scan: survivors of both relations that are
    # still in the deletion set — empty by construction, proven here
    surv = (
        post.filter(~F.col("d"))
        .select("doc_id")
        .unionAll(fp.filter(~F.col("d")).select("doc_id"))
    )
    resid = surv.agg(
        F.sum(F.when(F.col("doc_id") % RTBF_MOD == 0, 1).otherwise(0))
        .cast("long")
        .alias("residual_refs")
    )
    return (
        counts.crossJoin(F.broadcast(grp_stats))
        .crossJoin(F.broadcast(post_stats))
        .crossJoin(F.broadcast(resid))
    )
