"""Skew-mitigation benchmark queries (VERDICT r03 #5): a deliberately
pathological heavy-hitter join measured in two physical strategies —
plain shuffle join (the hot key serializes through one task) vs the
:func:`distributed_mapreduce_spark.operators.skew.salted_join` rewrite
(the hot key spreads over `salt` tasks). Both compute the SAME exact
checksum, so the salted plan's semantics are oracle-certified, and both
sit in bench.py's HEADLINE so BENCH_r04 records the measured effect.

Workload shape: two-thirds of events collapse onto join key 0 (the
heavy-hitter), the rest spread over {HOT_MOD} keys; the probe side is a
{HOT_MOD}-row dimension joined with a `merge` hint — locally the dim
would broadcast (and broadcasting IS the first-line fix for skew when
the dim fits), so the hint models the 100 TB case the salted join
exists for: a dimension too large to broadcast. Per joined row the
query pays a real CPU cost (SHA-256 over a {SEED_REPEAT}x-repeated
seed, ~16 KB), so the hot key's two-thirds of the work lands in ONE
task in the plain plan and in `salt` tasks in the salted plan — wall-clock
difference = the skew effect, not shuffle-byte noise.

AQE note: the session's AQE skew-join splitting only triggers past
`skewedPartitionThresholdInBytes` (256 MB); a CPU-skewed-but-small
partition like this one sails under it — exactly the regime where
manual salting is the right tool (AQE sizes partitions by BYTES, not
by downstream CPU).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.skew import salted_join
from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: Key-space size of the cold keys (and the dimension row count).
HOT_MOD = 5000

#: Per-row hashing cost: seed (32-char md5) repeated this many times
#: (~16 KB hashed per joined row).
SEED_REPEAT = 512

#: Salt fan-out for the salted variant.
SKEW_SALT = 16

_SKEW_SQL = f"""
    WITH big AS (
      SELECT CASE WHEN event_id % 3 < 2 THEN 0
                  ELSE user_id % {HOT_MOD} END AS k,
             event_id
      FROM events
    ), small AS (
      SELECT CAST(i AS BIGINT) AS k, md5(CAST(i AS STRING)) AS seed
      FROM range(0, {HOT_MOD}) t(i)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(
               sha256(repeat(seed, {SEED_REPEAT}) || CAST(event_id AS STRING)),
               1, 8))::BIGINT) AS BIGINT) AS checksum
    FROM big JOIN small USING (k)
"""


def _skew_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = table(spark, sf_dir, "events")
    big = ev.select(
        F.when(F.col("event_id") % 3 < 2, F.lit(0).cast("long"))
        .otherwise(F.pmod(F.col("user_id"), F.lit(HOT_MOD)).cast("long"))
        .alias("k"),
        "event_id",
    )
    small = spark.range(HOT_MOD).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("seed")
    )
    return big, small


def _skew_checksum(joined: DataFrame) -> DataFrame:
    digest = F.sha2(
        F.concat(
            F.repeat(F.col("seed"), SEED_REPEAT), F.col("event_id").cast("string")
        ),
        256,
    )
    word = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(word).cast("long").alias("checksum"),
    )


@query("skew_join_plain", oracle=_SKEW_SQL)
def q_skew_join_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew baseline: plain sort-merge join on the heavy-hitter key
    (merge hint = 'dimension too large to broadcast'); the hot key's
    ~2/3 of all post-join hashing runs in ONE reduce task. Compare its
    bench time against `skew_join_salted` — same bytes, same result,
    different task-level parallelism."""
    big, small = _skew_inputs(spark, sf_dir)
    return _skew_checksum(big.join(small.hint("merge"), "k"))


@query("skew_join_salted", oracle=_SKEW_SQL)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted rewrite of `skew_join_plain`: the big side gains a
    deterministic row-hash salt, the {HOT_MOD}-row dimension is
    replicated {SKEW_SALT}x, and the join key becomes (k, salt) — the
    hot key's work spreads over {SKEW_SALT} tasks. Identical oracle to
    the plain variant: salting must never change results, only
    placement. Replication cost is {SKEW_SALT}x the DIMENSION's bytes
    (tiny here, bounded in general) — the documented trade for
    flattening a heavy hitter no byte-based AQE split will touch."""
    big, small = _skew_inputs(spark, sf_dir)
    return _skew_checksum(salted_join(big, small.hint("merge"), "k", salt=SKEW_SALT))


# Heavy-hitter diagnostic over the same skewed join key the benchmark
# pair exercises: the top keys with their exact share (basis points),
# hotness factor (x100 multiple of the mean per-key load), and the salt
# fan-out the salted-join rewrite would need so the hot key's rows
# spread to no more than an average task's load at 32-way parallelism —
# ceil(cnt * 32 / n_rows), the sizing rule `operators.skew.salted_join`
# callers use.
sql_query(
    "skew_key_audit",
    f"""
    WITH big AS (
      SELECT CASE WHEN event_id % 3 < 2 THEN 0
                  ELSE user_id % {HOT_MOD} END AS k
      FROM events
    ), counts AS (
      SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM big GROUP BY k
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS n_rows
      FROM counts
    )
    SELECT c.k, c.cnt,
           CAST(c.cnt * 10000 // t.n_rows AS BIGINT) AS share_bp,
           CAST(c.cnt * 100 * t.n_keys // t.n_rows AS BIGINT) AS hot_x100,
           CAST((c.cnt * 32 + t.n_rows - 1) // t.n_rows AS BIGINT)
             AS suggested_salt,
           t.n_keys, t.n_rows
    FROM counts c, tot t
    ORDER BY c.cnt DESC, c.k LIMIT 5
    """,
)
