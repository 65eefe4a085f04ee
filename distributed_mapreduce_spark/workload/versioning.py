"""Data-versioning operators: snapshot diff, CDC patch application, and
Merkle-style bucketed checksums — the table-maintenance layer a 100 TB
corpus needs around its query engine (what did yesterday's snapshot
change? apply a change feed without rewriting history; localize replica
divergence without rescanning the world).

Reference parity note: the reference's closest machinery is the SDFS
re-replication audit (fileserver.py:739-790), which compares file
*presence* across replicas; these operators are the content-level
generalization (row diffs, not file lists), expressed as single-shuffle
equi-joins.

The "old snapshot" (v1) is derived DETERMINISTICALLY from the current
orders table so both engines reconstruct the identical version history
with no stored state:
- rows with ``o_orderkey % 11 = 0`` are absent from v1  → inserts in v2
- rows with ``o_orderkey % 13 = 0`` carried status 'X' in v1 → updates
- for ``o_orderkey % 17 = 0``, v1 holds an extra tombstone-to-be row
  with key ``o_orderkey + 10^9``                          → deletes

Scale notes (100 TB):
- snapshot diff = one full outer equi-join on the primary key, both
  sides hash-partitioned once; comparison is a row-encoding equality —
  no sort, no window, no driver state.
- CDC apply = anti-join (drop touched keys) + union (insert new
  images): the standard MERGE decomposition; history rows never
  rewrite unless their key is in the change feed.
- Merkle checksums = one map-side-combinable aggregate per bucket; a
  divergent replica is then re-scanned only for the buckets whose
  digests differ (log-style narrowing instead of full re-checksum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: Deterministic version-history gates (see module docstring).
INS_MOD, UPD_MOD, DEL_MOD = 11, 13, 17

#: Key offset for v1-only (deleted-in-v2) rows.
DEL_KEY_OFFSET = 10**9

#: Bucket count for the Merkle checksum tree's leaf level.
MERKLE_BUCKETS = 64

_ENC_SPARK = lambda: F.concat_ws(  # noqa: E731
    "|",
    F.col("o_orderkey").cast("string"),
    F.col("o_custkey").cast("string"),
    F.col("o_orderstatus"),
    F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
)

_ENC_SQL = (
    "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING) || '|' "
    "|| o_orderstatus || '|' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)"
)

#: v1 (previous snapshot) in SQL — keep in lockstep with _snapshot_v1.
_V1_SQL = f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % {UPD_MOD} = 0 THEN 'X' ELSE o_orderstatus END
             AS o_orderstatus,
           o_totalprice
    FROM orders WHERE o_orderkey % {INS_MOD} <> 0
    UNION ALL
    SELECT o_orderkey + {DEL_KEY_OFFSET}, o_custkey, 'D', o_totalprice
    FROM orders WHERE o_orderkey % {DEL_MOD} = 0
"""


def _snapshot_v1(orders: DataFrame) -> DataFrame:
    """The deterministic previous snapshot (see module docstring)."""
    kept = orders.filter(F.col("o_orderkey") % INS_MOD != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % UPD_MOD == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    extinct = orders.filter(F.col("o_orderkey") % DEL_MOD == 0).select(
        (F.col("o_orderkey") + DEL_KEY_OFFSET).alias("o_orderkey"),
        "o_custkey",
        F.lit("D").alias("o_orderstatus"),
        "o_totalprice",
    )
    return kept.unionAll(extinct)


def snapshot_diff(v1: DataFrame, v2: DataFrame, key: str = "o_orderkey") -> DataFrame:
    """Row-level diff of two snapshots: one full outer equi-join on the
    key, change classified by presence and by row-encoding equality.
    Returns (key, change_type, old_status, new_status)."""
    a = v1.select(
        F.col(key).alias("k"),
        _ENC_SPARK().alias("enc_old"),
        F.col("o_orderstatus").alias("old_status"),
    )
    b = v2.select(
        F.col(key).alias("k"),
        _ENC_SPARK().alias("enc_new"),
        F.col("o_orderstatus").alias("new_status"),
    )
    j = a.join(b, "k", "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("enc_old").isNull(), "insert")
            .when(F.col("enc_new").isNull(), "delete")
            .when(F.col("enc_old") != F.col("enc_new"), "update"),
        )
        .filter(F.col("change_type").isNotNull())
        .select(F.col("k").alias(key), "change_type", "old_status", "new_status")
    )


# Snapshot diff: insert / delete / update per key between the derived
# previous snapshot and the current orders, by one full outer equi-join.
sql_query(
    "snapshot_diff_orders",
    f"""
    WITH v1 AS ({_V1_SQL}),
    a AS (SELECT o_orderkey AS k, {_ENC_SQL} AS enc_old, o_orderstatus AS old_status
          FROM v1),
    b AS (SELECT o_orderkey AS k, {_ENC_SQL} AS enc_new, o_orderstatus AS new_status
          FROM orders),
    j AS (SELECT coalesce(a.k, b.k) AS k, enc_old, enc_new, old_status, new_status
          FROM a FULL OUTER JOIN b ON a.k = b.k)
    SELECT k AS o_orderkey,
           CASE WHEN enc_old IS NULL THEN 'insert'
                WHEN enc_new IS NULL THEN 'delete'
                WHEN enc_old <> enc_new THEN 'update' END AS change_type,
           old_status, new_status
    FROM j
    WHERE enc_old IS NULL OR enc_new IS NULL OR enc_old <> enc_new
    """,
)


@query(
    "cdc_apply_patch",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_patched,
           CAST(sum(('0x' || substr(md5({_ENC_SQL}), 1, 8))::BIGINT) AS BIGINT)
             AS checksum_patched,
           CAST(count(*) AS BIGINT) AS n_v2,
           CAST(sum(('0x' || substr(md5({_ENC_SQL}), 1, 8))::BIGINT) AS BIGINT)
             AS checksum_v2,
           true AS consistent
    FROM orders
    """,
)
def q_cdc_apply_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip proof: diff the snapshots, apply the change feed
    to v1 with the standard MERGE decomposition (anti-join out every
    touched key, union in the new images of inserts+updates), and
    certify the patched table equals v2 by order-independent content
    checksum. The oracle computes v2's checksum directly and asserts
    the patched side reproduces it bit-for-bit — a wrong patch (lost
    delete, duplicated insert, stale update) shifts the sum and fails
    the hash compare.

    Plan: diff join + anti join + union + one map-side-combinable
    aggregate; v1's untouched mass streams through the anti join
    without rewrite. The 4-column base projection and the diff are
    persisted: five consumers (v1's two branches, v2, the patch, both
    checksums) would otherwise each re-scan the fact table — at 100 TB
    you materialize the change feed once, never re-derive it."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).persist()
    v2 = orders
    v1 = _snapshot_v1(orders)
    diff = snapshot_diff(v1, v2).persist()
    touched = diff.select(F.col("o_orderkey"))
    new_images = v2.join(
        diff.filter(F.col("change_type").isin("insert", "update")).select("o_orderkey"),
        "o_orderkey",
        "left_semi",
    )
    patched = v1.join(touched, "o_orderkey", "left_anti").unionAll(new_images)

    def cksum(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        h = F.conv(F.substring(F.md5(_ENC_SPARK()), 1, 8), 16, 10).cast("long")
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.sum(h).cast("long").alias(c_name),
        )

    p = cksum(patched, "n_patched", "checksum_patched")
    v = cksum(v2, "n_v2", "checksum_v2")
    return p.crossJoin(v).select(
        "n_patched",
        "checksum_patched",
        "n_v2",
        "checksum_v2",
        (
            (F.col("n_patched") == F.col("n_v2"))
            & (F.col("checksum_patched") == F.col("checksum_v2"))
        ).alias("consistent"),
    )


# Merkle leaf level of the replication audit: content checksums per
# deterministic key bucket (MERKLE_BUCKETS leaves), so two replicas that
# disagree compare MERKLE_BUCKETS digests and re-scan ONLY the divergent
# buckets — `table_checksum`'s single digest says *whether* replicas
# diverged; this says *where*. Bucketing uses the portable md5-u32
# (engine-independent, unlike Murmur3 `F.hash`); the digest is a
# commutative sum of row hashes, so the whole thing is one
# map-side-combinable aggregate at any scale.
sql_query(
    "partition_merkle_checksums",
    f"""
    SELECT CAST(('0x' || substr(md5('mk_' || CAST(l_orderkey AS STRING)), 1, 8))::BIGINT
                % {MERKLE_BUCKETS} AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(
               CAST(l_orderkey AS STRING) || '|' || CAST(l_linenumber AS STRING)
               || '|' || CAST(l_partkey AS STRING) || '|' || l_returnflag
           ), 1, 8))::BIGINT) AS BIGINT) AS checksum
    FROM lineitem
    GROUP BY 1
    """,
)


#: Target rows per compacted output file.
COMPACT_TARGET_ROWS = 12000


# Small-file compaction planning: treat the MERKLE_BUCKETS Merkle
# buckets as the file inventory (bucket id = file, n_rows = file size)
# and deal them, in id order, into output files of ~COMPACT_TARGET_ROWS
# rows by running-sum grouping — the maintenance pass that turns a
# small-file-riddled table back into scan-efficient files. Grouping key
# is the bucket's STARTING offset ÷ target (the `text_packing`
# convention), so the plan is a pure function of the inventory.
sql_query(
    "compaction_plan",
    f"""
    WITH buckets AS (
      SELECT CAST(('0x' || substr(md5('mk_' || CAST(l_orderkey AS STRING)), 1, 8))::BIGINT
                  % {MERKLE_BUCKETS} AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT bucket, n_rows,
             CAST(sum(n_rows) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_rows
      FROM buckets
    )
    SELECT bucket, n_rows, cum_rows,
           CAST((cum_rows - n_rows) // {COMPACT_TARGET_ROWS} AS BIGINT)
             AS file_group
    FROM c
    """,
)


@query(
    "cdc_time_travel",
    oracle=f"""
    WITH v1 AS MATERIALIZED ({_V1_SQL}),
    v2 AS MATERIALIZED (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ), v1e AS MATERIALIZED (SELECT *, {_ENC_SQL} AS enc FROM v1),
    v2e AS MATERIALIZED (SELECT *, {_ENC_SQL} AS enc FROM v2),
    d AS MATERIALIZED (
      SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.enc <> b.enc THEN 'update' END AS change_type
      FROM v1e a FULL OUTER JOIN v2e b ON a.o_orderkey = b.o_orderkey
      WHERE (CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.enc <> b.enc THEN 'update' END) IS NOT NULL
    ), state_t AS MATERIALIZED (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM v1
      WHERE o_orderkey NOT IN (SELECT k FROM d WHERE k % 2 = 0)
      UNION ALL
      SELECT v2.o_orderkey, v2.o_custkey, v2.o_orderstatus, v2.o_totalprice
      FROM v2 JOIN d ON v2.o_orderkey = d.k
      WHERE d.k % 2 = 0 AND d.change_type IN ('insert', 'update')
    ), final AS MATERIALIZED (
      SELECT * FROM state_t
      WHERE o_orderkey NOT IN (SELECT k FROM d WHERE k % 2 <> 0)
      UNION ALL
      SELECT v2.o_orderkey, v2.o_custkey, v2.o_orderstatus, v2.o_totalprice
      FROM v2 JOIN d ON v2.o_orderkey = d.k
      WHERE d.k % 2 <> 0 AND d.change_type IN ('insert', 'update')
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM state_t) AS n_at_t,
      (SELECT CAST(sum(('0x' || substr(md5({_ENC_SQL}), 1, 8))::BIGINT)
              AS BIGINT) FROM state_t) AS checksum_at_t,
      (SELECT CAST(count(*) AS BIGINT) FROM d WHERE k % 2 = 0) AS n_batch1,
      (SELECT CAST(count(*) AS BIGINT) FROM d WHERE k % 2 <> 0) AS n_batch2,
      (SELECT CAST(count(*) AS BIGINT) FROM final)
        = (SELECT CAST(count(*) AS BIGINT) FROM v2)
      AND (SELECT CAST(sum(('0x' || substr(md5({_ENC_SQL}), 1, 8))::BIGINT)
                  AS BIGINT) FROM final)
        = (SELECT CAST(sum(('0x' || substr(md5({_ENC_SQL}), 1, 8))::BIGINT)
                  AS BIGINT) FROM v2) AS consistent
    """,
)
def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over an ordered change log: the v1→v2 change feed is
    split into two commit batches (even keys land first, odd keys
    second — a deterministic stand-in for commit timestamps), and the
    engine reconstructs the table AS OF the intermediate version T =
    v1 + batch 1, reporting its row count and content checksum plus a
    round-trip proof that replaying batch 2 on top of T reproduces v2
    exactly. This is the read-side contract of a lakehouse commit log
    (Delta/Iceberg-style): any historical version is base + a prefix
    of the log.

    Plan (r13 restructure, VERDICT r12 #6 — previously the MERGE
    decomposition ran one full-outer diff join plus two anti + two
    semi joins, 23 key-grain SortMergeJoins at sf0.01): every join in
    that decomposition was an equi-join on the SAME key between
    relations derived from the SAME table, so the whole merge is
    computable as ONE cogroup on the key. v1 and v2 row encodings are
    unioned (tagged by side) and hash-aggregated per key; from the
    per-key pair (enc1, enc2) the change classification, the AS-OF-T
    row, and the replayed-final row are pure CASE expressions, and the
    readout is one global map-side-combinable aggregate. Per-key state
    math (key unique in each snapshot — o_orderkey is the primary key
    and tombstone keys are offset out of range):

      change  = insert (enc1 null) / delete (enc2 null) /
                update (enc1 <> enc2) / untouched (equal)
      as-of-T = enc1 if untouched or key in batch 2 (odd, unapplied);
                enc2 if key in batch 1 and insert/update;
                absent if key in batch 1 and delete
      final   = enc1 if untouched else (enc2 if insert/update)

    Checksums are commutative sums of per-row hashes and every key
    contributes at most one row per relation, so summing per-key
    terms equals summing per-row terms. SortMergeJoin count: 23 → 0;
    orders is scanned for the three snapshot branches only (persisted
    narrow projection), and the only shuffles are the one hash
    aggregate on the key plus the single-row global fold."""
    orders = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .persist()
    )
    v2 = orders
    v1 = _snapshot_v1(orders)

    tagged = v1.select(
        F.col("o_orderkey").alias("k"),
        _ENC_SPARK().alias("enc1"),
        F.lit(None).cast("string").alias("enc2"),
    ).unionAll(
        v2.select(
            F.col("o_orderkey").alias("k"),
            F.lit(None).cast("string").alias("enc1"),
            _ENC_SPARK().alias("enc2"),
        )
    )
    per_key = tagged.groupBy("k").agg(
        F.max("enc1").alias("enc1"), F.max("enc2").alias("enc2")
    )

    e1, e2 = F.col("enc1"), F.col("enc2")
    change = (
        F.when(e1.isNull(), "insert")
        .when(e2.isNull(), "delete")
        .when(e1 != e2, "update")
    )
    even = F.col("k") % 2 == 0
    ins_upd = F.col("change").isin("insert", "update")
    state_enc = (
        F.when(F.col("change").isNull(), e1)
        .when(even, F.when(ins_upd, e2))
        .otherwise(e1)
    )
    final_enc = F.when(F.col("change").isNull(), e1).when(ins_upd, e2)

    def h(enc_col):
        return F.conv(F.substring(F.md5(enc_col), 1, 8), 16, 10).cast("long")

    rows = per_key.withColumn("change", change).select(
        state_enc.alias("s"),
        final_enc.alias("f"),
        e2.alias("v"),
        (F.col("change").isNotNull() & even).cast("long").alias("b1"),
        (F.col("change").isNotNull() & ~even).cast("long").alias("b2"),
    )
    return rows.agg(
        F.count("s").cast("long").alias("n_at_t"),
        F.sum(h(F.col("s"))).cast("long").alias("checksum_at_t"),
        F.sum("b1").cast("long").alias("n_batch1"),
        F.sum("b2").cast("long").alias("n_batch2"),
        (
            (F.count("f") == F.count("v"))
            & (F.sum(h(F.col("f"))) == F.sum(h(F.col("v"))))
        ).alias("consistent"),
    ).select(
        "n_at_t", "checksum_at_t", "n_batch1", "n_batch2", "consistent"
    )
