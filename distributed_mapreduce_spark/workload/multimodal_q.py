"""Multimodal workload queries: the Arrow/`mapInPandas` plumbing of
:mod:`distributed_mapreduce_spark.multimodal` run over the harness
`documents` table with EXACT DuckDB oracles.

The codec is a deterministic stub (media libs aren't in this
container), which is precisely what makes these differential-testable:
the fake blob is md5-derived, so the oracle reconstructs the expected
widths/heights/frames in pure SQL while the Spark side exercises the
real distributed path — binary columns, Arrow batches, Python-worker
fan-out, row-explosion. Swapping in a real codec changes none of the
plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.multimodal import (
    attach_fake_media,
    extract_image_features,
    sample_frames,
)
from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: Fake-blob layout (multimodal.attach_fake_media): 128 hex chars =
#: 64 bytes = md5 || reverse(md5) || md5 || reverse(md5).
_SQL_HEXBLOB = (
    "md5(CAST(doc_id AS STRING)) || reverse(md5(CAST(doc_id AS STRING)))"
    " || md5(CAST(doc_id AS STRING)) || reverse(md5(CAST(doc_id AS STRING)))"
)


@query(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 2))::INT + 1 AS INTEGER) AS width,
           CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 3, 2))::INT + 1 AS INTEGER) AS height,
           CAST(64 AS BIGINT) AS n_bytes,
           CAST(NULL AS STRING) AS decode_error
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction over binary media columns.

    Spark path: JVM-side blob synthesis (`unhex`) → `mapInPandas` decode
    stub over Arrow batches → typed feature rows. The oracle re-derives
    the stub's (first_byte+1, second_byte+1) dimensions from the md5 hex
    directly — an exact check that the batch plumbing neither drops,
    duplicates, nor reorders payload bytes. All blobs are well-formed
    here, so the `decode_error` channel is null throughout (exercised
    with injected corruption by `multimodal_decode_errors`).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return extract_image_features(attach_fake_media(docs))


@query(
    "multimodal_decode_errors",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 2))::INT + 1
                          AS INTEGER) END AS width,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 3, 2))::INT + 1
                          AS INTEGER) END AS height,
           CASE WHEN doc_id % 7 = 0 THEN CAST(1 AS BIGINT)
                ELSE CAST(64 AS BIGINT) END AS n_bytes,
           CASE WHEN doc_id % 7 = 0 THEN 'undecodable: payload too short'
                ELSE CAST(NULL AS STRING) END AS decode_error
    FROM documents
    """,
)
def q_multimodal_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-media tolerance (VERDICT r03 #6): every 7th document's
    blob is truncated to a single undecodable byte BEFORE the decode
    stage; the decode must turn those into error ROWS (null dims,
    `decode_error` reason, actual corrupt size in n_bytes) while every
    healthy blob still decodes exactly — one bad payload in a 100 TB
    corpus must never fail the stage. The oracle reconstructs both
    populations in pure SQL, so dropped/duplicated/misattributed error
    rows are caught exactly.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs)
    corrupted = media.withColumn(
        "media",
        F.when(
            F.col("doc_id") % 7 == 0, F.expr("substring(media, 1, 1)")
        ).otherwise(F.col("media")),
    )
    return extract_image_features(corrupted)


@query(
    "multimodal_frames",
    oracle=f"""
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           substr({_SQL_HEXBLOB}, i * 32 + 1, 32) AS frame_hex
    FROM documents, range(0, 4) r(i)
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one blob → N fixed-size frame rows (the row
    explosion real video sampling produces), checked frame-by-frame.

    The 64-byte blob yields 4×16-byte frames; each frame's lowercase hex
    must equal the corresponding 32-char slice of the md5-derived hex
    string the blob was built from.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    frames = sample_frames(attach_fake_media(docs))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.lower(F.hex(F.col("frame"))).alias("frame_hex"),
    )


@query(
    "multimodal_resample",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_transform(range(0, 16),
               i -> substr({_SQL_HEXBLOB}, i * 8 + 1, 2)), '') AS resampled_hex
    FROM documents
    """,
)
def q_multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/resample stub over binary media: every 4th byte of the
    64-byte blob survives (16 bytes out). The oracle reconstructs the
    expected bytes from the md5 hex directly — stride arithmetic over
    the blob is checked byte-for-byte."""
    from distributed_mapreduce_spark.multimodal import resample_media

    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = resample_media(attach_fake_media(docs))
    return out.select(
        "doc_id", F.lower(F.hex(F.col("resampled"))).alias("resampled_hex")
    )


@query(
    "multimodal_audio_features",
    oracle=f"""
    SELECT doc_id,
           CAST(32 AS INTEGER) AS n_samples,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(2 AS BIGINT) AS duration_ms,
           CAST(list_sum(list_transform(range(0, 64),
               i -> ('0x' || substr({_SQL_HEXBLOB}, i * 2 + 1, 2))::INT))
             AS BIGINT) AS loudness,
           CAST(NULL AS STRING) AS decode_error
    FROM documents
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality decode over the same binary-column convention:
    64-byte fake PCM → sample count (2 bytes/sample), duration at the
    typed-metadata rate (32 samples / 16 kHz = 2 ms), and an exact
    integer loudness (sum of payload bytes, the codec-free stand-in
    for RMS). The oracle recomputes the byte sum from the md5 hex
    directly, so any dropped/reordered byte in the Arrow round trip
    shifts the sum and fails the compare."""
    from distributed_mapreduce_spark.multimodal import (
        attach_fake_audio,
        extract_audio_features,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return extract_audio_features(attach_fake_audio(docs))


#: Duplicate-group modulus for the synthetic media corpus: doc_ids that
#: agree mod this share byte-identical blobs.
MEDIA_DUP_MOD = 97

_SQL_DUP_HEXBLOB = (
    "md5(CAST(doc_id % 97 AS STRING))"
    " || reverse(md5(CAST(doc_id % 97 AS STRING)))"
    " || md5(CAST(doc_id % 97 AS STRING))"
    " || reverse(md5(CAST(doc_id % 97 AS STRING)))"
)


# Exact dedup of binary media: each BINARY blob (`unhex` of the fake
# media's hex) is fingerprinted as md5 of its hex encoding (DuckDB's md5
# takes text only), grouped per fingerprint, lowest doc_id kept. Blobs
# repeat across doc_id % MEDIA_DUP_MOD, so groups hold real duplicates.
sql_query(
    "multimodal_dedup_exact",
    f"""
    WITH m AS (
      SELECT doc_id, md5(hex(media)) AS fingerprint
      FROM (SELECT doc_id, unhex({_SQL_DUP_HEXBLOB}) AS media FROM documents)
    )
    SELECT fingerprint,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS keep_doc,
           CAST(count(*) - 1 AS BIGINT) AS n_discard
    FROM m GROUP BY fingerprint
    """,
)


def _sql_phash() -> str:
    """DuckDB twin of `multimodal.perceptual_hash` over the fake blob:
    byte i = ('0x' || substr(hexblob, 2i+1, 2))::INT; 63 adjacent
    comparisons summed as powers of two (generated, not hand-written)."""
    b = lambda i: f"('0x' || substr(hb, {2 * i + 1}, 2))::INT"  # noqa: E731
    terms = " + ".join(
        f"CASE WHEN {b(i)} > {b(i + 1)} THEN {1 << i} ELSE 0 END"
        for i in range(63)
    )
    return f"""
    SELECT doc_id,
           CAST({terms} AS BIGINT) AS phash,
           CAST(NULL AS STRING) AS decode_error
    FROM (SELECT doc_id, {_SQL_HEXBLOB} AS hb FROM documents)
    """


@query("multimodal_phash", oracle=_sql_phash())
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (difference) hash per image blob — the
    dedup-BEYOND-byte-identity stage of a multimodal pipeline: after
    `multimodal_dedup_exact` removes byte-identical blobs, dHash
    buckets catch re-encoded/resized variants (on the stub codec the
    hash is computed from the same deterministic bytes the oracle
    reconstructs in SQL, so the Arrow plumbing is certified
    bit-exactly).

    Plan: blob synthesis is JVM `unhex`; the hash is one Arrow-batched
    `mapInPandas` pass (the genuinely-Python codec boundary); nothing
    shuffles — at 100 TB this runs scan-local, and downstream
    Hamming-band self-joins reuse the `dedup_simhash_pairs` pattern
    verbatim on the phash column."""
    from distributed_mapreduce_spark.multimodal import perceptual_hash

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return perceptual_hash(attach_fake_media(docs))


#: Duplicated-blob hex stream for the PAIRS query: blobs shared across
#: doc_id % MEDIA_DUP_MOD (the `multimodal_dedup_exact` corpus shape),
#: so perceptual pairs genuinely exist and the differential compares
#: real rows instead of two empty sets.
_SQL_HEXBLOB_DUP = _SQL_HEXBLOB.replace(
    "CAST(doc_id AS STRING)", f"CAST(doc_id % {MEDIA_DUP_MOD} AS STRING)"
)


def _sql_phash_pairs() -> str:
    from distributed_mapreduce_spark.workload.dedup import _sql_simhash_pairs

    b = lambda i: f"('0x' || substr(hb, {2 * i + 1}, 2))::INT"  # noqa: E731
    terms = " + ".join(
        f"CASE WHEN {b(i)} > {b(i + 1)} THEN {1 << i} ELSE 0 END"
        for i in range(63)
    )
    return (
        f"""WITH sim AS (
          SELECT doc_id, CAST({terms} AS BIGINT) AS simhash
          FROM (SELECT doc_id, {_SQL_HEXBLOB_DUP} AS hb FROM documents) src
        )"""
        + _sql_simhash_pairs()
    )


@query("multimodal_phash_pairs", oracle=_sql_phash_pairs())
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs: the Hamming-band
    self-join the `multimodal_phash` docstring promises — dHash values
    explode into byte bands, candidates equi-join on (band, value)
    (pigeonhole-complete for Hamming ≤ 3), and `bit_count(xor)`
    verifies. This is the cross-modal reuse of `dedup_simhash_pairs`'s
    machinery (one implementation — `workload/dedup.py:simhash_pairs`
    — applied to a different 64-bit perceptual fingerprint), closing
    the image-dedup chain: byte-exact (`multimodal_dedup_exact`) →
    perceptual hash (`multimodal_phash`) → perceptual pairs (here) →
    clustering (the `dedup_clusters` loop applies unchanged).

    Plan: hashing is the Arrow codec pass; banding/joining shuffles
    16-byte band keys, never blobs; the verify runs only on band
    collisions. At 100 TB the shuffle volume is 4 small rows per
    image. The stub corpus shares blobs across doc_id %
    {MEDIA_DUP_MOD} (same shape as `multimodal_dedup_exact`) so the
    pair set is non-empty and the certification compares real rows."""
    from distributed_mapreduce_spark.multimodal import perceptual_hash
    from distributed_mapreduce_spark.workload.dedup import simhash_pairs

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % MEDIA_DUP_MOD).alias("media_key")
    )
    sim = (
        perceptual_hash(attach_fake_media(docs, id_col="media_key"))
        .select("doc_id", F.col("phash").alias("simhash"))
        .persist()
    )
    return simhash_pairs(sim)
