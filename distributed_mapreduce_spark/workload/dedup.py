"""Deduplication workload over `documents` — exact, MinHash+LSH, and
SimHash near-dup detection: the first pass of any 100 TB corpus
pipeline.

Everything is Catalyst higher-order array expressions + md5-derived
hashes — no Python UDFs, no driver-side loops. The md5-based hash
family (uint32 from the first 8 hex chars) is engine-portable, so every
stage has an exact DuckDB oracle.

Scale shape: shingling/minhashing is embarrassingly parallel per row;
the only shuffles are (a) the LSH band-bucket self-join, whose keys are
the band signatures (tiny, uniform), and (b) the final pair-verify
join. That is the standard scalable MinHash-LSH plan: candidate pairs
only, never the O(n²) cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.readers import fingerprint
from distributed_mapreduce_spark.workload.registry import query, sql_query, table

#: MinHash parameters: k = bands * rows hash functions.
MINHASH_BANDS = 4
MINHASH_ROWS = 2
#: Jaccard threshold for verified near-dup pairs: inter/union >= 0.7.
JACCARD_NUM, JACCARD_DEN = 7, 10
#: Shingle width (words).
SHINGLE_W = 3
#: SimHash width in bits.
SIMHASH_BITS = 32


def _hash_u32(col: Column, seed: str) -> Column:
    """Portable uint32 hash: first 8 hex chars of md5(seed || s)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 8), 16, 10).cast("long")


def _sql_hash_u32(expr: str, seed: str) -> str:
    return f"('0x' || substr(md5('{seed}' || {expr}), 1, 8))::BIGINT"


def _tokens(col: Column) -> Column:
    return F.filter(F.split(col, " ", -1), lambda x: x != "")


_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def shingles(col: Column, w: int = SHINGLE_W) -> Column:
    """Distinct w-word shingles of a text column (empty array if < w
    tokens)."""
    toks = _tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), n - w)
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, w), " "))
    return F.when(n >= w, F.array_distinct(sh)).otherwise(F.array().cast("array<string>"))


def _sql_shingles(w: int = SHINGLE_W) -> str:
    # DuckDB list slices are 1-based inclusive: toks[i+1 : i+w].
    return f"""
    CASE WHEN len({_SQL_TOKS}) >= {w}
         THEN list_distinct(list_transform(range(0, len({_SQL_TOKS}) - {w - 1}),
              i -> array_to_string(({_SQL_TOKS})[i + 1 : i + {w}], ' ')))
         ELSE [] END
    """


# Universal-hash family over a single md5 base hash: h_j(x) = (a_j*x + b_j) mod P.
# One md5 per shingle instead of k — the standard minhash trick; the affine
# family is exact 64-bit integer arithmetic, portable to any SQL engine.
MH_PRIME = 4294967311  # smallest prime > 2^32
# Multipliers < 2^31 so a*x stays under 2^63 for x < 2^32 (no int64
# overflow in either engine).
MH_A = [1640531527, 1999999973, 668265263, 374761393, 1103515245, 2027808447, 1013904223, 694847539]
MH_B = [1013904223, 1367130551, 2027808447, 40503, 694847539, 12345, 377, 104395301]


def minhash_signature(bh: Column, k: int) -> Column:
    """Array of k minhash values over a base-hash array (max-long
    sentinel when the shingle set is empty, applied identically in the
    oracle)."""

    def affine(j):
        return lambda x: (F.lit(MH_A[j]) * x + F.lit(MH_B[j])) % F.lit(MH_PRIME)

    return F.array(
        *[
            F.coalesce(F.array_min(F.transform(bh, affine(j))), F.lit(2**62))
            for j in range(k)
        ]
    )


def _sql_minhash(bh_expr: str, k: int) -> str:
    parts = ", ".join(
        f"coalesce(list_min(list_transform({bh_expr}, x -> ({MH_A[j]} * x + {MH_B[j]}) % {MH_PRIME})), 4611686018427387904)"
        for j in range(k)
    )
    return f"[{parts}]"


def _sql_bh() -> str:
    """DuckDB twin of :func:`shingle_table`'s `bh` column."""
    return f"list_distinct(list_transform({_sql_shingles()}, s -> {_sql_hash_u32('s', 'mh_')}))"


# ---------------------------------------------------------------------------


# Exact dedup: hash-groupBy on the content fingerprint, keep the
# smallest doc_id as the canonical representative.
sql_query(
    "dedup_exact",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS cnt
    FROM documents GROUP BY md5(text)
    """,
)


def shingle_table(docs: DataFrame) -> DataFrame:
    """Materialized (persisted) per-doc hashed-shingle set.

    `bh` is the DISTINCT md5-derived uint32 hash set of the document's
    shingles — every downstream stage (LSH banding, inverted index,
    Jaccard verify) runs on these longs; the shingle strings themselves
    are never stored or shuffled (≈3× smaller cache/exchange rows, and
    set-intersection on longs beats string comparison).

    Persisting is load-bearing twice over: the LSH self-join and the
    verify join both reuse this relation, and the cache boundary stops
    Catalyst's projection collapse from re-inlining (= re-computing)
    the md5 shingle hashing into every downstream reference. At real
    scale this is the signature table a pipeline would checkpoint.

    The hash map is the CPU-bound stage; its input spread is the one
    ``table()`` gives ``documents``. Building the relation launches no
    job (``.rdd`` on a spread frame would run the pending exchange).
    """
    sh = shingles(F.col("text"))
    out = docs.select(F.col("doc_id"), sh.alias("sh")).select(
        F.col("doc_id"),
        F.array_distinct(F.transform("sh", lambda s: _hash_u32(s, "mh_"))).alias("bh"),
    )
    return out.persist()


def minhash_candidate_pairs(sh_df: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (doc_a < doc_b), deduplicated.

    bands×rows minhash signature; docs sharing all `rows` values inside
    any band become a candidate pair. Only candidates are ever joined —
    the scalable alternative to the O(n²) similarity cross join.
    """
    k = MINHASH_BANDS * MINHASH_ROWS
    base = F.col("bh")

    def affine(j):
        return lambda x: (F.lit(MH_A[j]) * x + F.lit(MH_B[j])) % F.lit(MH_PRIME)

    sig = [
        F.coalesce(F.array_min(F.transform(base, affine(j))), F.lit(2**62))
        for j in range(k)
    ]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[sig[b * MINHASH_ROWS + r].alias(f"h{r}") for r in range(MINHASH_ROWS)],
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    exploded = sh_df.select(F.col("doc_id"), F.explode(bands).alias("bk")).select(
        "doc_id", "bk.*"
    )
    left = exploded.alias("l")
    right = exploded.alias("r")
    on = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in ["band"] + [f"h{r}" for r in range(MINHASH_ROWS)]]
    pairs = left.join(right, on + [F.col("l.doc_id") < F.col("r.doc_id")], "inner")
    return pairs.select(
        F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
    ).distinct()


def _sql_minhash_pairs() -> str:
    k = MINHASH_BANDS * MINHASH_ROWS
    band_rows = ", ".join(
        "(" + ", ".join([str(b)] + [f"sig[{b * MINHASH_ROWS + r + 1}]" for r in range(MINHASH_ROWS)]) + ")"
        for b in range(MINHASH_BANDS)
    )
    hcols = ", ".join(f"h{r}" for r in range(MINHASH_ROWS))
    on = " AND ".join(
        ["l.band = r.band"] + [f"l.h{r} = r.h{r}" for r in range(MINHASH_ROWS)]
    )
    return f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), sig AS MATERIALIZED (
      SELECT doc_id, bh, {_sql_minhash('bh', k)} AS sig FROM bh
    ), bands AS MATERIALIZED (
      SELECT doc_id, b.* FROM sig,
      LATERAL (SELECT * FROM (VALUES {band_rows}) v(band, {hcols})) b
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands l JOIN bands r ON {on} AND l.doc_id < r.doc_id
    )
    """


#: Shared verify tail: exact Jaccard >= 0.7 over the hashed shingle
#: sets, integer cross-multiplication (no float division). Both engines
#: intersect the same md5-derived sets, so the check is exact.
_SQL_VERIFY_TAIL = f"""
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(a.bh, b.bh)) AS BIGINT) AS inter_cnt,
           CAST(len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh)) AS BIGINT) AS union_cnt
    FROM cand
    JOIN bh a ON a.doc_id = doc_a
    JOIN bh b ON b.doc_id = doc_b
    WHERE len(list_intersect(a.bh, b.bh)) * {JACCARD_DEN}
          >= (len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh))) * {JACCARD_NUM}
    """


def _verify_pairs(
    sh_df: DataFrame, cand: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Join candidate pairs back to the hashed shingle sets and keep
    pairs with exact Jaccard >= 0.7 (Spark twin of _SQL_VERIFY_TAIL).
    `carry` names extra candidate columns to pass through (e.g. origin
    flags when several candidate generators share one verify pass)."""
    sh = sh_df.select("doc_id", "bh")
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
    )
    inter = F.size(F.array_intersect(F.col("a.bh"), F.col("b.bh")))
    union = F.size(F.col("a.bh")) + F.size(F.col("b.bh")) - inter
    return (
        joined.select(
            "doc_a",
            "doc_b",
            *carry,
            inter.cast("long").alias("inter_cnt"),
            union.cast("long").alias("union_cnt"),
        )
        .filter(F.col("inter_cnt") * JACCARD_DEN >= F.col("union_cnt") * JACCARD_NUM)
    )


@query("dedup_minhash_pairs", oracle=_sql_minhash_pairs() + _SQL_VERIFY_TAIL)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified by exact hashed-shingle
    Jaccard >= 0.7.

    Plan: per-row shingle hash set (parallel map, persisted) → band
    explode → self-equi-join on band keys (shuffle on tiny band
    signatures) → verify join against hash sets for candidates only.
    """
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    return _verify_pairs(sh_df, minhash_candidate_pairs(sh_df))


@query(
    "dedup_lsh_candidates",
    oracle=_sql_minhash_pairs()
    + f"""
    , scored AS (
      SELECT len(list_intersect(a.bh, b.bh)) * {JACCARD_DEN}
             >= (len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh)))
                * {JACCARD_NUM} AS ok
      FROM cand
      JOIN bh a ON a.doc_id = doc_a
      JOIN bh b ON b.doc_id = doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(COALESCE(sum(CASE WHEN ok THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_verified,
           CAST(CASE WHEN count(*) = 0 THEN 10000
                     ELSE sum(CASE WHEN ok THEN 1 ELSE 0 END) * 10000
                          // count(*)
                END AS BIGINT) AS precision_bp
    FROM scored
    """,
)
def q_dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION half of `dedup_lsh_recall_audit` in isolation:
    band-bucket candidate generation plus the exact-Jaccard verify,
    WITHOUT the exact inverted-index truth set — reported as the
    candidate-stage statistics (candidate count, verified count,
    candidate precision in basis points). Together with the audit's
    recall_bp this completes the band geometry's precision/recall
    characterization, and unlike the audit this path has no
    quadratic-by-definition stage, so it carries the ×100 scaling
    decade the audit cannot (VERDICT r07 #4): at 100 TB this is the
    query you actually run per ingest batch; the truth-set audit runs
    once per geometry change.

    Plan: persisted shingle table → band explode → band-key self-join
    (tiny uniform signature keys) → ONE verify join that keeps every
    candidate with a pass flag → single 1-row fold. The candidate set
    is never materialized twice and nothing is all-pairs.

    Reference parity: scalable twin of the reference's value-grouping
    juice phase (SURVEY.md section 2.4) applied to near-dup candidate
    evaluation.
    """
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    cand = minhash_candidate_pairs(sh_df)
    sh = sh_df.select("doc_id", "bh")
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
    )
    inter = F.size(F.array_intersect(F.col("a.bh"), F.col("b.bh")))
    union = F.size(F.col("a.bh")) + F.size(F.col("b.bh")) - inter
    scored = joined.select(
        (inter * JACCARD_DEN >= union * JACCARD_NUM).alias("ok")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.when(F.col("ok"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_verified"),
        F.expr(
            "CAST(CASE WHEN count(*) = 0 THEN 10000"
            "          ELSE sum(CASE WHEN ok THEN 1 ELSE 0 END) * 10000"
            "               DIV count(*)"
            "     END AS BIGINT)"
        ).alias("precision_bp"),
    )


#: Inverted-index stop-gram cap: shingles appearing in more documents
#: than this are too common to generate candidates (skew guard — at
#: 100 TB a ubiquitous shingle would otherwise emit a quadratic pair
#: blowout from one reducer key). Pairs whose every shared shingle is
#: frequent are missed by construction; the oracle applies the same cap
#: so the check is exact. 0.7-Jaccard near-dups of non-boilerplate text
#: always share rare shingles in practice.
NGRAM_MAX_DF = 50


def ngram_jaccard_pairs(
    sh_df: DataFrame,
    max_df: int = NGRAM_MAX_DF,
    prune: tuple[int, int, str] | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted index.

    Plan: explode the distinct hashed shingles → drop grams with
    doc-freq > `max_df` (window over the gram key — one shuffle) →
    self-join the inverted index on the gram (shuffle keyed by a long,
    bounded fan-out thanks to the cap) → distinct candidate pairs →
    exact `array_intersect` verify. Unlike MinHash this has no
    probabilistic misses for pairs sharing any rare shingle.

    `prune=(num, den, base)` turns on a LOSSLESS count-based prune
    before the expensive verify join: the true intersection of a pair
    is at most shared_rare + min(capped_a, capped_b) (a gram missing
    from the capped index can be shared only if BOTH docs hold it
    among their over-cap grams), and the verify denominator is at
    least max(|A|,|B|) for Jaccard (base='max') or exactly min for
    containment (base='min'). A pair whose UPPER bound already fails
    num/den cannot verify, so dropping it never changes the output —
    it just skips the array_intersect. The shared-count aggregate
    replaces the `.distinct()` (same shuffle, one extra long), and the
    per-doc size/capped stats are an equi-join on doc_id.
    """
    rare, joined = _rare_index_pairs(sh_df, max_df)
    n_parts = _pair_shuffle_parts(
        rare, (sf_dir, max_df) if sf_dir is not None else None
    )
    if n_parts is not None:
        joined = joined.repartition(n_parts, "doc_a", "doc_b")
    if prune is None:
        return joined.select("doc_a", "doc_b").distinct()
    num, den, base = prune
    annotated = _annotate_shared_stats(sh_df, rare, joined)
    bound = (
        F.greatest(F.col("sz_a"), F.col("sz_b"))
        if base == "max"
        else F.least(F.col("sz_a"), F.col("sz_b"))
    )
    ub = F.col("shared") + F.least(F.col("cap_a"), F.col("cap_b"))
    return annotated.filter(ub * den >= bound * num).select("doc_a", "doc_b")


#: Input-scaled shuffle sizing for the inverted-index pair stream —
#: the same cure `graph_resource_allocation` needed (VERDICT r05 #1):
#: a pair stream that grows with the corpus through a FIXED number of
#: shuffle partitions blows the partial-aggregation budget and goes
#: super-linear on spill. Pair volume is exactly sum over kept grams
#: of df*(df-1)/2 = sum over rare rows of (df-1)/2 — one memoized
#: aggregate, no distinct.
PAIR_ROWS_PER_TASK = 2_000_000
PAIR_MAX_PARTITIONS = 4096
_PAIR_ROWS_CACHE: dict[tuple, int] = {}


def _pair_shuffle_parts(rare: DataFrame, cache_key: tuple | None) -> int | None:
    """Partition count for the shared-gram pair aggregate, or None to
    keep the session default (when no cache key is supplied — plan-only
    constructions stay job-free for uncached keys only on first use,
    like the wedge twin).

    NOTE (plan tests): supplying a cache key makes the FIRST
    construction of the ngram/edit-distance pipelines launch one tiny
    sizing job (a 1-row sum over the rare-gram index) — plan-only
    tests that must stay job-free pass ``sf_dir=None``.

    The memo key is (path, file fingerprint, params), not (path,
    params): if the files under ``sf_dir`` are regenerated mid-session
    the fingerprint changes and the volume is re-measured instead of
    reusing a stale size (ADVICE r07). A path that cannot be
    fingerprinted (a remote URI) keeps its own entry under its path
    (ADVICE r08)."""
    if cache_key is None:
        return None
    sf_dir, *params = cache_key
    cache_key = (sf_dir, fingerprint(sf_dir), *params)
    if cache_key not in _PAIR_ROWS_CACHE:
        row = rare.agg(
            F.coalesce(
                F.sum(F.col("df") - 1), F.lit(0)
            ).alias("s")
        ).collect()[0]
        _PAIR_ROWS_CACHE[cache_key] = int(row.s or 0) // 2
    vol = _PAIR_ROWS_CACHE[cache_key]
    spark = rare.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(
        default_parts,
        min(PAIR_MAX_PARTITIONS, -(-vol // PAIR_ROWS_PER_TASK)),
    )


def _rare_index_pairs(
    sh_df: DataFrame, max_df: int
) -> tuple[DataFrame, DataFrame]:
    """The capped inverted index (`rare`: doc_id/gram rows with
    doc-freq <= max_df, carrying the doc's set size and over-cap count)
    and its raw self-join pair stream (`joined`: one (doc_a < doc_b)
    row per shared rare gram, carrying BOTH sides' stats inline).

    The stats ride the index rows, not pair-level joins: annotating
    the corpus-scale pair stream via two post-aggregate equi-joins
    sort-merges the whole pair relation twice and goes super-linear on
    spill at x100 (measured slope 4.2 before this layout); inlining
    them widens the one existing shuffle by four longs instead."""
    from pyspark.sql import Window

    inv = sh_df.select("doc_id", F.size("bh").alias("sz"),
                       F.explode("bh").alias("gram"))
    df_w = Window.partitionBy("gram")
    doc_w = Window.partitionBy("doc_id")
    rare = (
        inv.withColumn("df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("df") <= max_df)
        .withColumn("capped", F.col("sz") - F.count(F.lit(1)).over(doc_w))
    )
    # Persist the capped index: the self-join below references it twice
    # (plus the memoized sizing aggregate once per dataset), and without
    # a cache boundary EACH reference re-runs the explode and both
    # window sorts off the shingle cache (r12 before-plan: the
    # Generate→Window(gram)→Window(doc) chain appears once per join
    # side). Same checkpoint rationale as `shingle_table`; the cached
    # rows are the df-capped inverted index, strictly smaller than the
    # raw one.
    rare = rare.persist()
    l = rare.alias("l")
    r = rare.alias("r")
    joined = l.join(
        r,
        (F.col("l.gram") == F.col("r.gram"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.doc_id").alias("doc_a"),
        F.col("r.doc_id").alias("doc_b"),
        F.col("l.sz").alias("sz_a"),
        F.col("l.capped").alias("cap_a"),
        F.col("r.sz").alias("sz_b"),
        F.col("r.capped").alias("cap_b"),
    )
    return rare, joined


def _annotate_shared_stats(
    sh_df: DataFrame, rare: DataFrame, joined: DataFrame
) -> DataFrame:
    """Candidate pairs annotated with the prune statistics: shared rare
    grams per pair plus each side's shingle-set size and over-cap gram
    count — the inputs to any intersection upper bound
    (shared + min(cap_a, cap_b) >= true |A n B|). The stats arrive
    inline on the pair stream (see `_rare_index_pairs`), so this is
    ONE map-side-combinable aggregate and nothing else."""
    del sh_df, rare  # stats ride the pair stream now
    return joined.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("shared"),
        F.min("sz_a").alias("sz_a"),
        F.min("cap_a").alias("cap_a"),
        F.min("sz_b").alias("sz_b"),
        F.min("cap_b").alias("cap_b"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(bh) AS gram FROM bh
    ), rare AS MATERIALIZED (
      -- df gate as an aggregate + equi-join (identical to the previous
      -- count(*) OVER (PARTITION BY gram) formulation, without the
      -- full-relation window sort)
      SELECT inv.doc_id, inv.gram
      FROM inv JOIN (
        SELECT gram FROM inv GROUP BY gram HAVING count(*) <= {NGRAM_MAX_DF}
      ) g ON inv.gram = g.gram
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM rare l JOIN rare r ON l.gram = r.gram AND l.doc_id < r.doc_id
    )
    """
    + _SQL_VERIFY_TAIL,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup (>= 0.7), inverted-index candidates.

    The exact counterpart to `dedup_minhash_pairs` — same hashed
    shingles, same verify predicate, but candidates come from shared
    rare shingles instead of LSH bands. Reference analog: value-grouping
    by emitted key (data/maple-exe.go:41, data/juice-exe.go:19-31)
    generalized to set overlap.
    """
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    return _verify_pairs(
        sh_df,
        ngram_jaccard_pairs(
            sh_df, prune=(JACCARD_NUM, JACCARD_DEN, "max"), sf_dir=sf_dir
        ),
    )


def _sql_simhash() -> str:
    h = _sql_hash_u32("t.tok", "sh_")
    bit_sum = ", ".join(
        f"sum(CASE WHEN (({h} >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ), t AS (SELECT doc_id, tok FROM tok),
    bits AS (
      SELECT doc_id, {bit_sum} FROM t GROUP BY doc_id
    )
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM bits
    """


def simhash_table(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per document: explode tokens, hash each (portable
    md5 family), per-bit ±1 vote sum, recombine sign bits. Pure
    groupBy-aggregate — one shuffle keyed by doc_id; near-dup lookup is
    then a Hamming-ball probe over the 32-bit key."""
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    h = _hash_u32(F.col("tok"), "sh_")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(((h.bitwiseAND(F.lit(1 << i))) != 0), 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


# SimHash over the harness documents (see :func:`simhash_table`).
sql_query(
    "dedup_simhash",
    _sql_simhash(),
)


#: SimHash near-dup: pairs within this Hamming distance. With
#: SIMHASH_BANDS bands over SIMHASH_BITS bits, pigeonhole guarantees any
#: pair with distance <= SIMHASH_BANDS - 1 shares at least one exact
#: band — so banding finds ALL such pairs (no probabilistic misses).
SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def simhash_pairs(sim_df: DataFrame, max_hamming: int = SIMHASH_HAMMING_MAX) -> DataFrame:
    """Near-dup pairs by banded SimHash: explode each hash into
    SIMHASH_BANDS byte-bands, self-equi-join on (band, value) — the
    shuffle key is a tiny int pair, never the O(n²) cross join — then
    verify Hamming distance via `bit_count(xor)`.
    """
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * _SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    exploded = sim_df.select("doc_id", "simhash", F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", "bk.*"
    )
    l = exploded.alias("l")
    r = exploded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def _sql_simhash_pairs() -> str:
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    band_rows = ", ".join(
        f"({b}, (simhash >> {b * _SIMHASH_BAND_BITS}) & {mask})"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    , bands AS (
      SELECT doc_id, simhash, b.* FROM sim,
      LATERAL (SELECT * FROM (VALUES {band_rows}) v(band, bv)) b
    )
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= {SIMHASH_HAMMING_MAX}
    """


@query(
    "dedup_simhash_pairs",
    oracle=f"WITH sim AS ({_sql_simhash()})" + _sql_simhash_pairs(),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming <= 3) via byte-banding.

    Completes the dedup family: exact (hash groupBy), MinHash-LSH
    (Jaccard), inverted-index n-gram (exact Jaccard), and SimHash
    (Hamming ball) all share the same candidate-pairs-only plan shape.
    """
    sim = simhash_table(table(spark, sf_dir, "documents")).persist()
    return simhash_pairs(sim)


# ---------------------------------------------------------------------------
# Dedup clustering: pairwise near-dups → connected components → one
# canonical representative per cluster (what a pipeline actually keeps).
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, max_iter: int = 25, require_convergence: bool = True
) -> DataFrame:
    """Min-label propagation over an undirected pair graph:
    (doc_id, cluster_id) where cluster_id = smallest doc_id reachable.

    Pregel-style iteration on DataFrames: each round joins current
    labels across edges, takes the min per node, and stops when a round
    changes nothing (left-anti probe). Near-dup graphs are
    shallow-diameter (clusters are cliques-ish), so rounds ≈ log of the
    largest cluster, not of n. Each round ends in an eager
    `localCheckpoint`, which BOTH materializes the round and truncates
    lineage — without it the returned plan nests every iteration
    (hundreds of phantom exchanges) and the analyzer, not the data,
    becomes the bottleneck. On a cluster where executor loss must be
    survivable, swap for reliable `checkpoint()`.

    ``require_convergence``: plain min-label needs O(diameter) rounds,
    and a graph whose diameter exceeds ``max_iter`` would previously
    return silently WRONG labels — exactly what happened to
    `embedding_dedup_clusters` at the round-10 sf1.0 certification
    (the replicated embedding graph chains across replicas; the sf0.1
    graph converges in <10 rounds). Exhausting the budget while still
    changing now raises loudly; callers that deliberately bound
    propagation to match a bounded oracle (`bfs_hops_to_root`) pass
    False. Deep-diameter graphs should use
    :func:`connected_components_pointer_jump` (O(log diameter), same
    fixed point) instead of raising this limit.
    """
    fwd = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    rev = pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
    edges = fwd.unionAll(rev).persist()
    labels = (
        edges.select(F.col("s").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iter):
        msgs = edges.join(labels, edges.s == labels.doc_id).select(
            F.col("t").alias("doc_id"), F.col("cluster_id")
        )
        new_labels = (
            msgs.unionAll(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels, ["doc_id", "cluster_id"], "left_anti")
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0 and require_convergence:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the budget); use "
            "connected_components_pointer_jump for deep-diameter graphs"
        )
    return labels


def _sql_dedup_clusters() -> str:
    # Same candidate+verify chain as dedup_minhash_pairs, then connected
    # components via a recursive transitive closure (the graph is tiny
    # after verification, so closure-then-min is exact and cheap).
    base = _sql_minhash_pairs().replace("WITH bh", "WITH RECURSIVE bh", 1)
    return (
        base
        + f", verified AS MATERIALIZED ({_SQL_VERIFY_TAIL})"
        + """
    , edges AS (
      SELECT doc_a AS s, doc_b AS t FROM verified
      UNION
      SELECT doc_b AS s, doc_a AS t FROM verified
    ), reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    )
    SELECT s AS doc_id, least(s, min(t)) AS cluster_id
    FROM reach GROUP BY s
    """
    )


@query("dedup_clusters", oracle=_sql_dedup_clusters())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash-LSH verified pairs → connected
    components → cluster id = min doc_id (the canonical keeper). The
    iterative Spark loop is checked against DuckDB's recursive
    transitive closure — an exact oracle for a genuinely iterative
    algorithm."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    pairs = _verify_pairs(sh_df, minhash_candidate_pairs(sh_df))
    return connected_components(pairs.select("doc_a", "doc_b"))


#: BFS hop bound for cluster-distance queries: both engines bound the
#: search identically, so paths longer than this are excluded from BOTH
#: sides (near-dup clusters are shallow; at sf0.1 the deepest observed
#: chain is 3 hops).
MAX_HOPS = 10


def bfs_hops_to_root(pairs: DataFrame, max_hops: int = MAX_HOPS) -> DataFrame:
    """(doc_id, cluster_id, hops): BFS distance from each node to its
    cluster representative (min doc_id), by bounded min-plus iteration.

    The relaxation loop is the distributed Bellman-Ford specialization
    for unit weights: each round joins current distances across edges
    and keeps the min. `localCheckpoint` per round bounds lineage (same
    pattern as `connected_components`).
    """
    # max_iter == max_hops so label propagation explores exactly as many
    # hops as the oracle's bounded recursive CTE (ADVICE r01: +1 here
    # could diverge from the oracle on chains deeper than the bound).
    # require_convergence=False: the bound IS the semantics here — both
    # engines truncate identically, so non-convergence is not an error.
    labels = connected_components(
        pairs, max_iter=max_hops, require_convergence=False
    )
    fwd = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    rev = pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
    edges = fwd.unionAll(rev).persist()

    dist = labels.select(
        "doc_id",
        "cluster_id",
        F.when(F.col("doc_id") == F.col("cluster_id"), 0)
        .otherwise(None)
        .cast("int")
        .alias("hops"),
    ).localCheckpoint()
    for _ in range(max_hops):
        msgs = (
            edges.join(dist, edges.s == dist.doc_id)
            .filter(F.col("hops").isNotNull())
            .select(
                F.col("t").alias("doc_id"),
                F.col("cluster_id"),
                (F.col("hops") + 1).alias("hops"),
            )
        )
        dist = (
            dist.unionByName(msgs)
            .groupBy("doc_id", "cluster_id")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint()
        )
    edges.unpersist()
    return dist.filter(F.col("hops").isNotNull())


@query(
    "dedup_cluster_hops",
    oracle=_sql_minhash_pairs().replace("WITH bh", "WITH RECURSIVE bh", 1)
    + f", verified AS MATERIALIZED ({_SQL_VERIFY_TAIL})"
    + f"""
    , edges AS MATERIALIZED (
      SELECT doc_a AS s, doc_b AS t FROM verified
      UNION
      SELECT doc_b AS s, doc_a AS t FROM verified
    ), reach(s, t, d) AS (
      SELECT s, t, 1 FROM edges
      UNION
      SELECT r.s, e.t, r.d + 1 FROM reach r JOIN edges e ON r.t = e.s
      WHERE r.d < {MAX_HOPS}
    ), mind AS MATERIALIZED (
      -- min BFS distance per (s, t); materialized so the closure is
      -- evaluated ONCE (the previous correlated `(SELECT min(d) FROM
      -- reach ...)` re-ran the whole recursion per root row — 91 s at
      -- sf0.1 vs ~2 s now, identical result)
      SELECT s, t, min(d) AS d FROM reach GROUP BY s, t
    ), roots AS (
      SELECT s AS doc_id, least(s, min(t)) AS cluster_id FROM mind GROUP BY s
    )
    SELECT r.doc_id, r.cluster_id,
           CAST(CASE WHEN r.doc_id = r.cluster_id THEN 0
                ELSE m.d END AS INTEGER) AS hops
    FROM roots r
    LEFT JOIN mind m ON m.s = r.doc_id AND m.t = r.cluster_id
    """,
)
def q_dedup_cluster_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance to each near-dup cluster's representative — a
    second iterative algorithm (bounded Bellman-Ford) with an exact
    bounded-recursive-CTE oracle. Useful downstream: hops measure how
    indirect a document's duplication is (1 = direct near-dup of the
    keeper, 2+ = transitive)."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    pairs = _verify_pairs(sh_df, minhash_candidate_pairs(sh_df)).select(
        "doc_a", "doc_b"
    )
    return bfs_hops_to_root(pairs)


@query(
    "near_dup_rate_by_source",
    oracle=f"""
    WITH pairs AS (
      {_sql_minhash_pairs() + _SQL_VERIFY_TAIL}
    ), labeled AS (
      SELECT least(da.source, db.source) AS source_x,
             greatest(da.source, db.source) AS source_y
      FROM pairs
      JOIN documents da ON da.doc_id = pairs.doc_a
      JOIN documents db ON db.doc_id = pairs.doc_b
    )
    SELECT source_x, source_y, CAST(count(*) AS BIGINT) AS n_pairs
    FROM labeled GROUP BY source_x, source_y
    """,
)
def q_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate density by source pair: verified MinHash pairs
    joined back to document metadata, rolled up by (canonical) source
    pair — the audit that tells a corpus pipeline WHICH feeds mirror
    each other (cross-source mass) and which self-duplicate (diagonal
    mass), i.e. where to spend dedup budget.

    Plan: reuses the production LSH+verify pipeline, then two
    metadata equi-joins (doc_id → source; AQE picks broadcast while
    the pair set is small) and one hash aggregate."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = q_dedup_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labeled = (
        pairs.join(
            docs.withColumnsRenamed({"doc_id": "doc_a", "source": "sa"}), "doc_a"
        )
        .join(docs.withColumnsRenamed({"doc_id": "doc_b", "source": "sb"}), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
    )
    return labeled.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


#: Composite (df, hash) sort-key base: df * 2^40 + h (h < 2^32 < 2^40,
#: so the key is unique per hash and orders by ascending frequency).
_PF_BASE = 1 << 40

_SQL_PREFIX_CAND = f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(bh) AS h FROM bh
    ), freq AS (
      SELECT h, CAST(count(*) AS BIGINT) AS df FROM inv GROUP BY h
    ), keyed AS (
      SELECT inv.doc_id, freq.df * {_PF_BASE} + inv.h AS k
      FROM inv JOIN freq ON inv.h = freq.h
    ), lists AS (
      SELECT doc_id, list_sort(list(k)) AS ks, count(*) AS n
      FROM keyed GROUP BY doc_id
    ), pre AS (
      SELECT doc_id, unnest(ks[1 : CAST(n - (({JACCARD_NUM} * n + {JACCARD_DEN - 1})
                                           // {JACCARD_DEN}) + 1 AS INTEGER)]) AS k
      FROM lists
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM pre l JOIN pre r ON l.k = r.k AND l.doc_id < r.doc_id
    )
"""


@query("dedup_prefix_filter_join", oracle=_SQL_PREFIX_CAND + _SQL_VERIFY_TAIL)
def q_dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (PPJoin family):
    order every document's shingle hashes by ascending global
    frequency (rarest first, composite key df·2⁴⁰+h), index only the
    first n − ⌈t·n⌉ + 1 of them — if Jaccard(a,b) ≥ t the two
    prefixes MUST share a key, so candidate generation is provably
    complete (unlike the df-capped inverted index of
    `dedup_ngram_jaccard`, which trades a recall bound for hot-key
    safety). Verification is the shared exact-Jaccard predicate.

    Plan: one frequency aggregate, one equi-join to attach keys, a
    per-doc sort of its OWN hash list (array_sort inside the row —
    no global sort), prefix explode (rare keys → small, well-spread
    join groups; that is the point of rarest-first ordering), then
    the candidates-only verify join."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    inv = sh_df.select("doc_id", F.explode("bh").alias("h"))
    freq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    keyed = inv.join(freq, "h").select(
        "doc_id", (F.col("df") * _PF_BASE + F.col("h")).alias("k")
    )
    lists = keyed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("k")).alias("ks")
    )
    plen = F.expr(
        f"size(ks) - (({JACCARD_NUM} * size(ks) + {JACCARD_DEN - 1})"
        f" DIV {JACCARD_DEN}) + 1"
    ).cast("int")
    pre = lists.select(
        "doc_id", F.explode(F.slice(F.col("ks"), F.lit(1), plen)).alias("k")
    )
    l, r = pre.alias("l"), pre.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(sh_df, cand)


#: Containment threshold: |A ∩ B| / min(|A|, |B|) >= 9/10.
CONTAIN_NUM, CONTAIN_DEN = 9, 10


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(bh) AS gram FROM bh
    ), rare AS MATERIALIZED (
      -- df gate as an aggregate + equi-join (identical to the previous
      -- count(*) OVER (PARTITION BY gram) formulation, without the
      -- full-relation window sort)
      SELECT inv.doc_id, inv.gram
      FROM inv JOIN (
        SELECT gram FROM inv GROUP BY gram HAVING count(*) <= {NGRAM_MAX_DF}
      ) g ON inv.gram = g.gram
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM rare l JOIN rare r ON l.gram = r.gram AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(a.bh, b.bh)) AS BIGINT) AS inter_cnt,
           CAST(least(len(a.bh), len(b.bh)) AS BIGINT) AS min_cnt
    FROM cand
    JOIN bh a ON a.doc_id = doc_a
    JOIN bh b ON b.doc_id = doc_b
    WHERE len(list_intersect(a.bh, b.bh)) * {CONTAIN_DEN}
          >= least(len(a.bh), len(b.bh)) * {CONTAIN_NUM}
    """,
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-CONTAINMENT dedup: pairs where the smaller document's
    shingle set is >= {CONTAIN_NUM}/{CONTAIN_DEN} inside the larger's
    (|A∩B| / min(|A|,|B|)) — catches truncated or
    boilerplate-padded copies whose symmetric Jaccard falls below the
    near-dup threshold (B = A + chrome has high containment, mediocre
    Jaccard). The asymmetric-similarity complement of
    `dedup_minhash_pairs`/`dedup_ngram_jaccard`.

    Plan: same rare-shingle candidate index as the Jaccard variant
    (one inverted index serves every similarity measure), verify join
    computes the containment predicate on the candidate set only."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    cand = ngram_jaccard_pairs(
        sh_df, prune=(CONTAIN_NUM, CONTAIN_DEN, "min"), sf_dir=sf_dir
    )
    sh = sh_df.select("doc_id", "bh")
    a, b = sh.alias("a"), sh.alias("b")
    joined = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
    )
    inter = F.size(F.array_intersect(F.col("a.bh"), F.col("b.bh")))
    mn = F.least(F.size(F.col("a.bh")), F.size(F.col("b.bh")))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter_cnt"),
            mn.cast("long").alias("min_cnt"),
        )
        .filter(F.col("inter_cnt") * CONTAIN_DEN >= F.col("min_cnt") * CONTAIN_NUM)
    )


@query(
    "dedup_cluster_size_hist",
    oracle=_sql_dedup_clusters().replace(
        "SELECT s AS doc_id, least(s, min(t)) AS cluster_id\n    FROM reach GROUP BY s",
        """, clusters AS (
      SELECT s AS doc_id, least(s, min(t)) AS cluster_id
      FROM reach GROUP BY s
    ), sizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size""",
    ),
)
def q_dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-effort readout: histogram of near-dup cluster sizes
    (size → cluster count → docs involved) — tells the pipeline
    whether duplication is many small pairs (cheap keep-best) or a
    few giant mirror families (worth upstream source fixes). Composes
    the connected-components output with two tiny aggregates."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    pairs = _verify_pairs(sh_df, minhash_candidate_pairs(sh_df))
    clusters = connected_components(pairs.select("doc_a", "doc_b"))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


def _count_leg(df: DataFrame, method: str) -> DataFrame:
    return df.agg(
        F.lit(method).alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


@query(
    "dedup_effectiveness_report",
    oracle=f"""
    SELECT 'exact' AS method,
           CAST(sum(cnt * (cnt - 1) / 2) AS BIGINT) AS n_pairs
    FROM (SELECT count(*) AS cnt FROM documents GROUP BY md5(text))
    UNION ALL
    SELECT 'minhash_lsh',
           (SELECT CAST(count(*) AS BIGINT)
            FROM ({_sql_minhash_pairs() + _SQL_VERIFY_TAIL}))
    UNION ALL
    SELECT 'ngram_inverted',
           (SELECT CAST(count(*) AS BIGINT) FROM (
              WITH bh AS (SELECT doc_id, {_sql_bh()} AS bh FROM documents),
              inv AS (SELECT doc_id, unnest(bh) AS gram FROM bh),
              rare AS (
                SELECT doc_id, gram FROM (
                  SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df
                  FROM inv
                ) WHERE df <= {NGRAM_MAX_DF}
              ), cand AS (
                SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                FROM rare l JOIN rare r ON l.gram = r.gram AND l.doc_id < r.doc_id
              )
              {_SQL_VERIFY_TAIL}))
    UNION ALL
    SELECT 'prefix_filter',
           (SELECT CAST(count(*) AS BIGINT)
            FROM ({_SQL_PREFIX_CAND + _SQL_VERIFY_TAIL}))
    """,
)
def q_dedup_effectiveness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-strategy scorecard in long format: verified pair counts
    per method — exact fingerprint pairs (Σ C(group,2)), MinHash-LSH
    (approximate candidates), the df-capped inverted index, and the
    provably-complete prefix filter — on the same corpus with the same
    verify predicate, so the rows directly expose each method's recall
    (prefix_filter ≥ ngram_inverted ≥/≈ minhash_lsh) and the exact-dup
    floor. The audit a pipeline runs before picking its dedup budget.

    Plan: each leg reuses its production pipeline; results are 1-row
    aggregates unioned lazily (never a join of 1-row relations)."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    exact = (
        docs.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.lit("exact").alias("method"),
            F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_pairs"),
        )
    )
    mh = _count_leg(
        _verify_pairs(sh_df, minhash_candidate_pairs(sh_df)), "minhash_lsh"
    )
    ng = _count_leg(
        _verify_pairs(
            sh_df,
            ngram_jaccard_pairs(
                sh_df, prune=(JACCARD_NUM, JACCARD_DEN, "max"), sf_dir=sf_dir
            ),
        ),
        "ngram_inverted"
    )
    pf = _count_leg(q_dedup_prefix_filter_join(spark, sf_dir), "prefix_filter")
    return exact.unionAll(mh).unionAll(ng).unionAll(pf)


def connected_components_pointer_jump(
    pairs: DataFrame, max_iter: int = 40
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping (path doubling): each round first relaxes labels across
    edges (as :func:`connected_components` does), then additionally
    contracts label chains by one dereference — l(v) ← min(l(v),
    l(l(v))). On a path graph min-label alone needs O(diameter)
    rounds; the doubling step halves chain length per round, giving
    O(log diameter) — the Kiveris-et-al. star-contraction behavior for
    the long-chain graphs (串-shaped passage-overlap clusters) where
    plain propagation is the bottleneck at 100 TB.

    Same fixed point as plain min-label (dereferencing can only lower
    a label toward the component minimum), so the recursive-closure
    oracle is shared verbatim with `dedup_clusters`.

    Budget: rounds after convergence never run (the changed-probe
    breaks first), so `max_iter` only caps the adversarial case. Do
    NOT size the cap with pure-doubling math (2^max_iter): each round
    performs ONE dereference on top of the edge relaxation, so the
    measured shrink is sub-exponential — the sf1.0 embedding near-dup
    graph, an ~870-node chain-shaped component, needed 21 rounds (the
    old default of 15 raised the convergence guard there, round 10;
    pure doubling would have predicted ~10). Size `max_iter` from that
    measured rate (~diameter^(2/3)-ish empirically), and rely on the
    guard raising loudly rather than on the cap being provably
    sufficient (ADVICE r10).
    """
    fwd = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
    rev = pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
    edges = fwd.unionAll(rev).persist()
    labels = (
        edges.select(F.col("s").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iter):
        msgs = edges.join(labels, edges.s == labels.doc_id).select(
            F.col("t").alias("doc_id"), F.col("cluster_id")
        )
        relaxed = (
            msgs.unionAll(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # pointer jump: dereference each label through the label table
        # (labels are node ids, so the self-join always resolves)
        parent = relaxed.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_cl")
        )
        new_labels = (
            relaxed.join(parent, relaxed.cluster_id == parent.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("p_cl"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels, ["doc_id", "cluster_id"], "left_anti")
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # 2^max_iter-diameter budget: exhausting it means something is
        # structurally wrong with the graph, never a tuning knob.
        raise RuntimeError(
            "connected_components_pointer_jump did not converge in "
            f"{max_iter} doubling rounds"
        )
    return labels


@query("dedup_clusters_pointer_jump", oracle=_sql_dedup_clusters())
def q_dedup_clusters_pointer_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_clusters` recomputed with the pointer-jumping variant
    (identical oracle — the doubling step changes the ROUND COUNT, not
    the fixed point): min-label propagation plus per-round label
    dereference, O(log diameter) rounds instead of O(diameter). The
    second scale-variant pair in the repo next to the triangle
    orientations (`graph_triangle_counts` vs
    `graph_triangles_degree_ordered`): same answer, provably better
    asymptotics on the adversarial shape (long chains)."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    pairs = _verify_pairs(sh_df, minhash_candidate_pairs(sh_df))
    return connected_components_pointer_jump(pairs.select("doc_a", "doc_b"))


def _fp_norm() -> Column:
    """Normalization fingerprint: md5 of lowercased text with
    non-alphanumerics collapsed and trimmed — the ONE definition shared
    by `dedup_exact_normalized`, `er_blocking_audit`'s truth set, and
    the governance cascade (their cross-query agreement depends on the
    three sites staying byte-identical)."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    )


# Exact dedup after text normalization (lowercase, collapse non-
# alphanumerics, trim).
sql_query(
    "dedup_exact_normalized",
    """
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp_norm,
             md5(text) AS fp_raw
      FROM documents
    )
    SELECT fp_norm,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw_variants,
           min(doc_id) AS keep_doc
    FROM n GROUP BY fp_norm
    """,
)


#: Stand-in license tag: sources whose numeric suffix ≡ 0 (mod 4) are
#: "restricted" (src0, src4, ...) — a deterministic proxy for the
#: per-source license metadata a real corpus carries.
LICENSE_RESTRICTED_MOD = 4


def _sql_cluster_license() -> str:
    base = _sql_minhash_pairs().replace("WITH bh", "WITH RECURSIVE bh", 1)
    return (
        base
        + f", verified AS MATERIALIZED ({_SQL_VERIFY_TAIL})"
        + f"""
    , edges AS (
      SELECT doc_a AS s, doc_b AS t FROM verified
      UNION
      SELECT doc_b AS s, doc_a AS t FROM verified
    ), reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ), comp AS (
      SELECT s AS doc_id, least(s, min(t)) AS cluster_id
      FROM reach GROUP BY s
    ), allc AS (
      SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             CAST(regexp_extract(d.source, '([0-9]+)$', 1) AS INTEGER)
               % {LICENSE_RESTRICTED_MOD} = 0 AS restricted
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN restricted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_restricted,
           sum(CASE WHEN restricted THEN 1 ELSE 0 END) > 0
             AS cluster_restricted,
           min(doc_id) AS keep_doc
    FROM allc GROUP BY cluster_id
    """
    )


@query("dedup_cluster_license_propagation", oracle=_sql_cluster_license())
def q_dedup_cluster_license_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance/license propagation through near-dup clusters: after
    MinHash clustering, each cluster inherits the MOST RESTRICTIVE tag
    of any member — the governance rule a corpus pipeline applies
    before keeping one representative per cluster (keeping an
    unrestricted copy of a restricted document does not launder it).
    Singleton documents (no near-dup) are their own cluster, so the
    audit covers the WHOLE corpus, not just paired docs.

    Plan: components from the same bounded LSH pair graph as
    `dedup_clusters` (band-bucket self-join, iterative min-label with
    per-round localCheckpoint); one LEFT join attaches labels to the
    corpus scan (missing label → own id); the license rule is a pure
    row expression on `source`; one final hash aggregate per cluster."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    pairs = _verify_pairs(sh_df, minhash_candidate_pairs(sh_df))
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    restricted = (
        F.regexp_extract(F.col("source"), "([0-9]+)$", 1).cast("int")
        % LICENSE_RESTRICTED_MOD
        == 0
    )
    allc = (
        docs.select("doc_id", restricted.alias("restricted"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "restricted",
        )
    )
    n_restricted = F.sum(F.when(F.col("restricted"), 1).otherwise(0))
    return allc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        n_restricted.cast("long").alias("n_restricted"),
        (n_restricted > 0).alias("cluster_restricted"),
        F.min("doc_id").alias("keep_doc"),
    )


#: Content-defined chunking: boundary gram width and the divisor that
#: sets the expected chunk length (hash % 64 == 0 → ~64-char chunks).
CDC_GRAM = 8
CDC_DIV = 64

_SQL_CDC_BOUNDS = (
    f"list_filter(range({CDC_GRAM}, n), i -> "
    f"((('0x' || substr(md5('cdck_' || substr(text, i - {CDC_GRAM - 1}, "
    f"{CDC_GRAM})), 1, 8))::BIGINT % {CDC_DIV}) = 0))"
)


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text, length(text) AS n FROM documents
    ), b AS (
      SELECT doc_id, source, text, n, {_SQL_CDC_BOUNDS} AS bl FROM d
    ), p AS (
      SELECT doc_id, source, text,
             list_concat(list_concat([0], bl), [n]) AS pl
      FROM b
    ), c AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(pl)), j -> struct_pack(
               chunk_idx := j,
               chunk := substr(text, pl[j] + 1, pl[j + 1] - pl[j])
             ))) AS ch
      FROM p
    ), r AS (
      SELECT source, doc_id,
             ch.chunk_idx AS chunk_idx,
             length(ch.chunk) AS clen,
             md5('cdcid_' || ch.chunk) AS cid
      FROM c
    ), rk AS (
      SELECT source, clen,
             row_number() OVER (PARTITION BY cid ORDER BY doc_id, chunk_idx)
               AS rn
      FROM r
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (rn > 1) AS BIGINT) AS dup_instances,
           CAST(sum(clen) AS BIGINT) AS total_chars,
           CAST(coalesce(sum(clen) FILTER (rn > 1), 0) AS BIGINT)
             AS chars_saved
    FROM rk GROUP BY source ORDER BY source
    """,
)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS shape — Muthitacharoen
    et al., SOSP'01 — at the granularity storage dedup and CAS blob stores
    use): split every document at positions where the rolling 8-gram hash
    satisfies h % {CDC_DIV} == 0 (so chunk boundaries are CONTENT-anchored
    and survive insertions, unlike fixed-size blocks), then dedupe chunks
    globally by content hash and report, per source, how many chunk
    instances are redundant and how many characters a chunk-level store
    would save. The first global occurrence (by doc_id, chunk_idx) is the
    kept copy. Complements `dedup_exact_substring_runs` (position-aligned
    window granularity) and `dedup_exact` (whole-doc granularity).

    Plan: boundary detection and chunk slicing are pure JVM columnar
    higher-order functions (filter/transform over sequence — no UDF, no
    explode until chunks exist), one explode to O(total_chars / {CDC_DIV})
    chunk rows, one hash-window over chunk_id for first-occurrence ranking
    (shuffle keyed on content hash — uniform by construction), one
    per-source re-agg. At 100 TB this is the standard chunk-store
    ingest: a single scan, a single content-hash shuffle, no all-pairs
    anything."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").alias("n")
    )
    bounds = (
        f"filter(sequence({CDC_GRAM}, n - 1), i -> "
        f"CAST(conv(substring(md5(concat('cdck_', "
        f"substring(text, i - {CDC_GRAM - 1}, {CDC_GRAM}))), 1, 8), 16, 10) "
        f"AS BIGINT) % {CDC_DIV} = 0)"
    )
    withp = docs.selectExpr(
        "doc_id",
        "source",
        "text",
        f"concat(array(0), CASE WHEN n >= {CDC_GRAM + 1} THEN {bounds} "
        "ELSE CAST(array() AS ARRAY<INT>) END, array(n)) AS pl",
    )
    chunks = withp.selectExpr(
        "doc_id",
        "source",
        "explode(transform(sequence(1, size(pl) - 1), j -> named_struct("
        "'chunk_idx', j, "
        "'chunk', substring(text, element_at(pl, j) + 1, "
        "element_at(pl, j + 1) - element_at(pl, j))))) AS ch",
    ).select(
        "source",
        "doc_id",
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.length("ch.chunk").alias("clen"),
        F.md5(F.concat(F.lit("cdcid_"), F.col("ch.chunk"))).alias("cid"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cid").orderBy("doc_id", "chunk_idx")
    rk = chunks.withColumn("rn", F.row_number().over(w))
    dup = F.col("rn") > 1
    return (
        rk.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("n_kept"),
            F.sum(dup.cast("long")).cast("long").alias("dup_instances"),
            F.sum("clen").cast("long").alias("total_chars"),
            F.coalesce(F.sum(F.when(dup, F.col("clen"))), F.lit(0))
            .cast("long")
            .alias("chars_saved"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-accuracy audit over the LSH candidate set.
# ---------------------------------------------------------------------------


@query(
    "dedup_minhash_estimate_audit",
    oracle=_sql_minhash_pairs()
    + f"""
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig),
                                p -> p[1] = p[2])) AS BIGINT) AS n_match,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
                * 10000 // {MINHASH_BANDS * MINHASH_ROWS} AS BIGINT) AS est_bp,
           CAST(len(list_intersect(a.bh, b.bh)) * 10000
                // (len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh)))
                AS BIGINT) AS exact_bp,
           CAST(len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
                * 10000 // {MINHASH_BANDS * MINHASH_ROWS}
                - len(list_intersect(a.bh, b.bh)) * 10000
                  // (len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh)))
                AS BIGINT) AS err_bp
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    JOIN bh a ON a.doc_id = c.doc_a
    JOIN bh b ON b.doc_id = c.doc_b
    """,
)
def q_dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy certification for the MinHash near-dup pipeline:
    for every LSH candidate pair, the k-component signature estimate of
    Jaccard (matching components / k, the unbiased MinHash estimator)
    next to the EXACT hashed-shingle Jaccard, error in basis points.
    This is the audit that justifies the signature size: if |err_bp|
    concentrates past the k=8 binomial bound, the band geometry needs
    more rows before anyone trusts `dedup_minhash_pairs` at 100 TB.

    Plan: same persisted shingle table and band self-join as
    `dedup_minhash_pairs` (candidates only, never all pairs); the
    estimate adds one zip_with over two 8-element arrays per candidate
    and the exact side reuses the verify join's array_intersect."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    k = MINHASH_BANDS * MINHASH_ROWS
    sigs = sh_df.select(
        "doc_id", minhash_signature(F.col("bh"), k).alias("sig"), "bh"
    )
    cand = minhash_candidate_pairs(sh_df)
    a = sigs.alias("a")
    b = sigs.alias("b")
    joined = (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
    )
    n_match = F.aggregate(
        F.zip_with(
            F.col("a.sig"),
            F.col("b.sig"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    inter = F.size(F.array_intersect(F.col("a.bh"), F.col("b.bh"))).cast("long")
    union = (F.size(F.col("a.bh")) + F.size(F.col("b.bh"))).cast("long") - inter
    est_bp = F.expr(f"CAST(n_match * 10000 DIV {k} AS BIGINT)")
    exact_bp = F.expr("CAST(inter_cnt * 10000 DIV union_cnt AS BIGINT)")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            inter.alias("inter_cnt"),
            union.alias("union_cnt"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            est_bp.alias("est_bp"),
            exact_bp.alias("exact_bp"),
            (est_bp - exact_bp).cast("long").alias("err_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage (Fellegi-Sunter)
# ---------------------------------------------------------------------------

#: Blocking key: records only compare within (lang, length-bucket)
#: blocks — the standard quadratic-blowup guard of record linkage.
ER_LEN_BUCKET = 50
#: Fixed integer agreement weights (centi-units of the log-likelihood
#: ratio log(m/u); fixed literals rather than EM-estimated so the
#: scoring is engine-portable and auditable — the Fellegi-Sunter 1969
#: decision rule itself, with weights as configuration).
ER_W = {
    "source": (240, -30),   # same source: strong evidence
    "tokbkt": (120, -60),   # same token-count bucket
    "firsttok": (300, -20), # same leading token: near-identifying
}
ER_TOK_BUCKET = 20
#: Decision thresholds (centi-units): >= T_MATCH -> match,
#: >= T_POSSIBLE -> possible (clerical review), else non-match
#: (dropped from the output — the non-match set is O(pairs)).
ER_T_MATCH = 500
ER_T_POSSIBLE = 200


# Probabilistic record linkage by the Fellegi-Sunter decision rule
# (Fellegi & Sunter, JASA 1969).
sql_query(
    "er_fellegi_sunter",
    f"""
    WITH rec AS MATERIALIZED (
      SELECT doc_id, lang, source,
             length(text) // {ER_LEN_BUCKET} AS lenbkt,
             len(list_filter(string_split(text, ' '), x -> x <> '')) // {ER_TOK_BUCKET} AS tokbkt,
             COALESCE(list_filter(string_split(text, ' '), x -> x <> '')[1], '') AS firsttok
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(CASE WHEN a.source = b.source
                       THEN {ER_W['source'][0]} ELSE {ER_W['source'][1]} END
                + CASE WHEN a.tokbkt = b.tokbkt
                       THEN {ER_W['tokbkt'][0]} ELSE {ER_W['tokbkt'][1]} END
                + CASE WHEN a.firsttok = b.firsttok
                       THEN {ER_W['firsttok'][0]} ELSE {ER_W['firsttok'][1]} END
               AS BIGINT) AS score_c
      FROM rec a
      JOIN rec b ON a.lang = b.lang AND a.lenbkt = b.lenbkt
                AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, score_c,
           CASE WHEN score_c >= {ER_T_MATCH} THEN 'match'
                ELSE 'possible' END AS verdict
    FROM pairs WHERE score_c >= {ER_T_POSSIBLE}
    """,
)


# ---------------------------------------------------------------------------
# LSH band-scheme recall audit vs the exact inverted-index truth set.
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    from distributed_mapreduce_spark.workload.registry import ORACLES

    truth = ORACLES["dedup_ngram_jaccard"]
    lsh = ORACLES["dedup_minhash_pairs"]
    return f"""
    WITH t AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({truth})
    ), l AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({lsh})
    ), u AS (
      SELECT COALESCE(t.doc_a, l.doc_a) AS doc_a,
             CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
      FROM t FULL OUTER JOIN l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
           CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
           CAST(sum(in_truth * in_lsh) AS BIGINT) AS n_both,
           CAST(sum(in_lsh * (1 - in_truth)) AS BIGINT) AS n_lsh_only,
           CAST(CASE WHEN sum(in_truth) = 0 THEN 10000
                     ELSE sum(in_truth * in_lsh) * 10000 // sum(in_truth)
                END AS BIGINT) AS recall_bp
    FROM u
    """


@query("dedup_lsh_recall_audit", oracle=_lsh_recall_oracle())
def q_dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the probabilistic MinHash band scheme against
    the EXACT near-dup truth set — the audit that justifies the
    (bands x rows) geometry before anyone runs it at 100 TB. Truth =
    `dedup_ngram_jaccard` (inverted-index candidates, exact Jaccard
    >= 0.7 verify, stop-gram cap NGRAM_MAX_DF); probe =
    `dedup_minhash_pairs` (band-bucket candidates, same exact verify).
    recall_bp = 1e4 * |probe AND truth| / |truth| — the band scheme's
    miss rate made a number (an S-curve P[collide] = 1-(1-j^rows)^bands
    gives ~0.97 at j = 0.7 for 4x2). `n_lsh_only` counts verified
    near-dup pairs the TRUTH side itself missed (pairs whose every
    shared shingle is more frequent than the stop-gram cap) — nonzero
    values measure the cap's documented blind spot, not LSH false
    positives (both sides verify exact Jaccard >= 0.7).

    Plan: both pipelines share the persisted shingle table, and the
    two CANDIDATE sets full-outer-merge BEFORE the exact-Jaccard
    verify, so each unique pair is verified once (the sets overlap
    almost entirely at recall ~0.97 — separate verifies would double
    the intersect work and the shingle-set joins). One 1-row fold at
    the end. Nothing all-pairs anywhere."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    tc = ngram_jaccard_pairs(
        sh_df, prune=(JACCARD_NUM, JACCARD_DEN, "max"), sf_dir=sf_dir
    ).select(
        "doc_a", "doc_b", F.lit(1).alias("c_truth")
    )
    lc = minhash_candidate_pairs(sh_df).select(
        "doc_a", "doc_b", F.lit(1).alias("c_lsh")
    )
    cand = tc.join(lc, ["doc_a", "doc_b"], "full_outer").select(
        "doc_a",
        "doc_b",
        F.coalesce(F.col("c_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("c_lsh"), F.lit(0)).alias("in_lsh"),
    )
    u = _verify_pairs(sh_df, cand, carry=("in_truth", "in_lsh")).select(
        "in_truth", "in_lsh"
    )
    return u.agg(
        F.sum("in_truth").cast("long").alias("n_truth"),
        F.sum("in_lsh").cast("long").alias("n_lsh"),
        F.sum(F.col("in_truth") * F.col("in_lsh")).cast("long").alias("n_both"),
        F.sum(F.col("in_lsh") * (1 - F.col("in_truth")))
        .cast("long")
        .alias("n_lsh_only"),
        F.expr(
            "CAST(CASE WHEN sum(in_truth) = 0 THEN 10000"
            "          ELSE sum(in_truth * in_lsh) * 10000 DIV sum(in_truth)"
            "     END AS BIGINT)"
        ).alias("recall_bp"),
    )


# ---------------------------------------------------------------------------
# Blocking-scheme quality audit (pairs completeness / reduction ratio).
# ---------------------------------------------------------------------------


@query(
    "er_blocking_audit",
    oracle=f"""
    WITH rec AS MATERIALIZED (
      SELECT doc_id, lang, length(text) // {ER_LEN_BUCKET} AS lenbkt,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp_norm
      FROM documents
    ), bs AS MATERIALIZED (
      SELECT lang, lenbkt, CAST(count(*) AS BIGINT) AS nb
      FROM rec GROUP BY lang, lenbkt
    ), blockstats AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(max(nb) AS BIGINT) AS max_block,
             CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2) AS BIGINT)
               AS cand_pairs
      FROM bs
    ), truth AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CASE WHEN a.lang = b.lang AND a.lenbkt = b.lenbkt
                  THEN 1 ELSE 0 END AS covered
      FROM rec a JOIN rec b
        ON a.fp_norm = b.fp_norm AND a.doc_id < b.doc_id
    ), truthstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
             CAST(COALESCE(sum(covered), 0) AS BIGINT) AS n_covered
      FROM truth
    )
    SELECT n_docs, n_blocks, max_block, cand_pairs,
           CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2 AS BIGINT)
             AS all_pairs,
           CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2 - cand_pairs)
                * 10000 // (CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2)
                AS BIGINT) AS reduction_bp,
           n_truth_pairs, n_covered,
           CAST(CASE WHEN n_truth_pairs = 0 THEN 10000
                     ELSE n_covered * 10000 // n_truth_pairs
                END AS BIGINT) AS completeness_bp
    FROM blockstats CROSS JOIN truthstats
    """,
)
def q_er_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality audit for the record-linkage family —
    the two numbers every ER textbook demands before trusting a
    blocking key (Christen, "Data Matching", 2012): REDUCTION RATIO
    (what fraction of the O(n²) comparison space the (lang, lenbkt)
    key of `er_fellegi_sunter` prunes; from block sizes alone, no pair
    is ever enumerated) and PAIRS COMPLETENESS (what fraction of known
    true pairs lands inside a block — truth = the normalization-exact
    duplicate pairs of `dedup_exact_normalized`, computed WITHOUT the
    blocking key, so the audit can actually observe pairs the key
    splits, e.g. a punctuation-only edit that shifts the length
    bucket). A high reduction with low completeness says the key is
    too aggressive; both high says it is production-ready.

    Plan: block stats are one hash-agg over the key (Σ nb·(nb−1)/2 in
    HUGEINT/DECIMAL — no pair blowup at any block size); truth pairs
    are a fingerprint self-equi-join (group sizes bounded by real
    duplication rates); the final row is two 1-row aggregates
    broadcast-crossed. Counts stay exact to 10¹²-doc corpora."""
    docs = table(spark, sf_dir, "documents")
    # persisted: both self-join legs consume rec, and the md5-over-
    # normalized-text projection is the CPU-dominant stage (the
    # shingle_table discipline applied to fingerprints)
    rec = docs.select(
        "doc_id",
        "lang",
        (F.length("text") / ER_LEN_BUCKET).cast("long").alias("lenbkt"),
        _fp_norm().alias("fp_norm"),
    ).persist()
    bs = rec.groupBy("lang", "lenbkt").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    blockstats = bs.agg(
        F.sum("nb").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("nb").cast("long").alias("max_block"),
        F.expr(
            "CAST(sum(CAST(nb AS DECIMAL(38,0)) * (nb - 1) DIV 2) AS BIGINT)"
        ).alias("cand_pairs"),
    )
    a = rec.alias("a")
    b = rec.alias("b")
    truth = a.join(
        b,
        (F.col("a.fp_norm") == F.col("b.fp_norm"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.when(
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lenbkt") == F.col("b.lenbkt")),
            1,
        )
        .otherwise(0)
        .alias("covered")
    )
    truthstats = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth_pairs"),
        F.coalesce(F.sum("covered"), F.lit(0)).cast("long").alias("n_covered"),
    )
    return (
        blockstats.crossJoin(F.broadcast(truthstats))
        .select(
            "n_docs",
            "n_blocks",
            "max_block",
            "cand_pairs",
            F.expr(
                "CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2"
                " AS BIGINT)"
            ).alias("all_pairs"),
            F.expr(
                "CAST((CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2"
                "      - cand_pairs) * 10000"
                " DIV (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) DIV 2)"
                " AS BIGINT)"
            ).alias("reduction_bp"),
            "n_truth_pairs",
            "n_covered",
            F.expr(
                "CAST(CASE WHEN n_truth_pairs = 0 THEN 10000"
                "          ELSE n_covered * 10000 DIV n_truth_pairs"
                "     END AS BIGINT)"
            ).alias("completeness_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Band-geometry tuning: the same 8 signature components regrouped.
# ---------------------------------------------------------------------------

#: Geometries compared by the tuning audit: (bands, rows) with
#: bands*rows = MINHASH_BANDS*MINHASH_ROWS (same signature, regrouped).
BAND_GEOMETRIES = ((4, 2), (2, 4))


def _sql_geom_cand(name: str, bands: int, rows: int) -> str:
    """Candidate-pair CTE for one (bands, rows) regrouping of the
    shared signature (mirrors `_sql_minhash_pairs`'s band VALUES)."""
    band_rows = ", ".join(
        "("
        + ", ".join(
            [str(b)] + [f"sig[{b * rows + r + 1}]" for r in range(rows)]
        )
        + ")"
        for b in range(bands)
    )
    hcols = ", ".join(f"h{r}" for r in range(rows))
    on = " AND ".join(
        ["l.band = r.band"] + [f"l.h{r} = r.h{r}" for r in range(rows)]
    )
    return f"""
    bands_{name} AS (
      SELECT doc_id, b.* FROM sig,
      LATERAL (SELECT * FROM (VALUES {band_rows}) v(band, {hcols})) b
    ), cand_{name} AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands_{name} l JOIN bands_{name} r ON {on} AND l.doc_id < r.doc_id
    ), ver_{name} AS MATERIALIZED (
      SELECT doc_a, doc_b FROM cand_{name}
      JOIN bh a ON a.doc_id = doc_a
      JOIN bh b ON b.doc_id = doc_b
      WHERE len(list_intersect(a.bh, b.bh)) * {JACCARD_DEN}
            >= (len(a.bh) + len(b.bh) - len(list_intersect(a.bh, b.bh)))
               * {JACCARD_NUM}
    )"""


def _band_geometry_oracle() -> str:
    k = MINHASH_BANDS * MINHASH_ROWS
    geoms = [(f"b{b}r{r}", b, r) for b, r in BAND_GEOMETRIES]
    ctes = ",".join(_sql_geom_cand(n, b, r) for n, b, r in geoms)
    stats = " UNION ALL ".join(
        f"""
      SELECT '{n}' AS geometry, {b} AS n_bands, {r} AS n_rows,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_{n}) AS n_candidates,
             (SELECT CAST(count(*) AS BIGINT) FROM ver_{n}) AS n_verified"""
        for n, b, r in geoms
    )
    union_ver = " UNION ".join(
        f"SELECT doc_a, doc_b FROM ver_{n}" for n, _, _ in geoms
    )
    return f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), sig AS MATERIALIZED (
      SELECT doc_id, bh, {_sql_minhash('bh', k)} AS sig FROM bh
    ),{ctes},
    allver AS (SELECT CAST(count(*) AS BIGINT) AS n_union
               FROM ({union_ver})),
    stats AS ({stats})
    SELECT s.geometry, CAST(s.n_bands AS BIGINT) AS n_bands,
           CAST(s.n_rows AS BIGINT) AS n_rows,
           s.n_candidates, s.n_verified,
           CAST(CASE WHEN s.n_candidates = 0 THEN 10000
                     ELSE s.n_verified * 10000 // s.n_candidates
                END AS BIGINT) AS precision_bp,
           CAST(CASE WHEN a.n_union = 0 THEN 10000
                     ELSE s.n_verified * 10000 // a.n_union
                END AS BIGINT) AS rel_recall_bp
    FROM stats s CROSS JOIN allver a
    """


@query("dedup_band_geometry_tuning", oracle=_band_geometry_oracle())
def q_dedup_band_geometry_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-geometry tuning table: the SAME 8-component MinHash
    signature regrouped as 4 bands x 2 rows vs 2 bands x 4 rows, each
    geometry reporting candidate volume, verified (exact Jaccard >=
    0.7) pairs, precision, and recall RELATIVE to the union of
    verified pairs across geometries — the measured S-curve trade
    (P[collide] = 1-(1-j^rows)^bands: more rows per band = stricter =
    fewer false candidates but more misses) that picks a geometry
    from data instead of the textbook plot. Candidate cost (the
    shuffle) and miss rate move in opposite directions; this table
    prices both sides.

    Plan: ONE shared persisted shingle/signature pass; per geometry a
    band-bucket self-equi-join (band keys only, never all pairs) and
    the candidates-only verify join; stats are 1-row aggregates
    broadcast-crossed. Adding a geometry costs one more band join,
    not another corpus scan."""
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    k = MINHASH_BANDS * MINHASH_ROWS
    base = F.col("bh")

    def affine(j):
        return lambda x: (F.lit(MH_A[j]) * x + F.lit(MH_B[j])) % F.lit(MH_PRIME)

    sig = [
        F.coalesce(F.array_min(F.transform(base, affine(j))), F.lit(2**62))
        for j in range(k)
    ]
    per_geom = []
    vers = []
    for bands_n, rows_n in BAND_GEOMETRIES:
        name = f"b{bands_n}r{rows_n}"
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    *[
                        sig[b * rows_n + r].alias(f"h{r}")
                        for r in range(rows_n)
                    ],
                )
                for b in range(bands_n)
            ]
        )
        exploded = sh_df.select(
            F.col("doc_id"), F.explode(bands).alias("bk")
        ).select("doc_id", "bk.*")
        l = exploded.alias("l")
        r_ = exploded.alias("r")
        on = [
            F.col(f"l.{c}") == F.col(f"r.{c}")
            for c in ["band"] + [f"h{r}" for r in range(rows_n)]
        ]
        cand = (
            l.join(r_, on + [F.col("l.doc_id") < F.col("r.doc_id")], "inner")
            .select(
                F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
            )
            .distinct()
            .persist()
        )
        ver = _verify_pairs(sh_df, cand).select("doc_a", "doc_b").persist()
        vers.append(ver)
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        n_ver = ver.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
        per_geom.append(
            n_cand.crossJoin(F.broadcast(n_ver)).select(
                F.lit(name).alias("geometry"),
                F.lit(bands_n).cast("long").alias("n_bands"),
                F.lit(rows_n).cast("long").alias("n_rows"),
                "n_candidates",
                "n_verified",
            )
        )
    union_ver = vers[0]
    for v in vers[1:]:
        union_ver = union_ver.unionAll(v)
    allver = union_ver.distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_union")
    )
    stats = per_geom[0]
    for g in per_geom[1:]:
        stats = stats.unionAll(g)
    return stats.crossJoin(F.broadcast(allver)).select(
        "geometry",
        "n_bands",
        "n_rows",
        "n_candidates",
        "n_verified",
        F.expr(
            "CAST(CASE WHEN n_candidates = 0 THEN 10000"
            "          ELSE n_verified * 10000 DIV n_candidates"
            "     END AS BIGINT)"
        ).alias("precision_bp"),
        F.expr(
            "CAST(CASE WHEN n_union = 0 THEN 10000"
            "          ELSE n_verified * 10000 DIV n_union"
            "     END AS BIGINT)"
        ).alias("rel_recall_bp"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
# MOSS algorithm): guaranteed-coverage local document fingerprinting.

#: Winnowing k-gram size (tokens per gram) and window width (grams per
#: window). Guarantee: every match of >= WINNOW_K + WINNOW_W - 1 tokens
#: shares at least one selected fingerprint; density ~= 2/(W+1).
WINNOW_K = 4
WINNOW_W = 5


def _winnow_oracle() -> str:
    toks = _SQL_TOKS
    k, w = WINNOW_K, WINNOW_W
    # Packed key h*2^31 + pos makes the window min lexicographic in
    # (hash, pos): ties on hash select the LEFTMOST gram, identically
    # in both engines. pos < 2^31 is asserted by construction (pos is
    # bounded by the doc's token count; a 2^31-token single document
    # would be a 10+ GiB row, rejected far upstream).
    return f"""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN len({toks}) >= {k}
                  THEN list_transform(range(1, len({toks}) - {k - 1} + 1),
                       i -> {_sql_hash_u32(f"array_to_string(({toks})[i : i + {k - 1}], ' ')", 'wn_')}
                            * 2147483648 + i)
                  ELSE [] END AS pk
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(1, greatest(len(pk) - {w - 1}, 1) + 1),
                 s -> list_min(pk[s : s + {w - 1}]))) AS fps
      FROM g WHERE len(pk) > 0
    )
    SELECT doc_id,
           CAST(u >> 31 AS BIGINT) AS fp_hash,
           CAST(u & 2147483647 AS BIGINT) AS fp_pos
    FROM (SELECT doc_id, unnest(fps) AS u FROM f)
    """


@query("dedup_winnowing_fingerprints", oracle=_winnow_oracle())
def q_dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint relation (doc_id, fp_hash, fp_pos): the
    MOSS local fingerprinting scheme — hash every K-token gram, slide a
    W-gram window, keep each window's minimum (leftmost on hash ties).
    Guarantees any shared run of >= K+W-1 tokens between two documents
    shares a fingerprint (MinHash gives no such locality guarantee),
    at ~2/(W+1) selection density, so a fingerprint equi-join finds
    partial overlaps/plagiarism that document-level signatures miss.

    Scale: the entire select runs as per-row array expressions inside
    whole-stage codegen — gram hashes, packed (hash,pos) keys, window
    minima, and dedup all happen within the document's own row, so the
    operator is embarrassingly parallel with ZERO shuffles (explode is
    pipelined); output volume is ~2/(W+1) of gram count. The packed
    key h*2^31+pos is safe: h < 2^32 by construction (md5 prefix) and
    pos < 2^31 bounded by per-document token count.

    Reference parity: the reference has no fingerprinting operator;
    this extends its grep/wordcount text surface (SURVEY.md section 2)
    with the standard training-corpus overlap primitive.
    """
    k, w = WINNOW_K, WINNOW_W
    docs = table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    n = F.size(F.col("toks"))
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: _hash_u32(
                F.array_join(F.slice(F.col("toks"), i, k), " "), "wn_"
            )
            * F.lit(2147483648)
            + i.cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # Guard docs shorter than K tokens AFTER the explode (u IS NULL —
    # array_min over an empty slice), NOT with where(size(pk) > 0) on
    # the gram column: predicate pushdown INLINES a deterministic
    # alias, so that filter re-computed the entire gram-hash transform
    # below the repartition exchange — i.e. the whole heavy expression
    # ran twice, once of those on the single scan task the exchange
    # exists to escape (measured: a 2.6 s one-task stage at sf0.1).
    # A predicate on the generator's output cannot be pushed below the
    # Generate, so the gram transform is computed exactly once, at
    # full post-exchange parallelism. Result set is identical: short
    # docs contributed no rows before, and only they produce null u.
    g = toked.select("doc_id", grams.alias("pk"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("pk") - (w - 1), F.lit(1)))
    fps = F.array_distinct(
        F.transform(starts, lambda s: F.array_min(F.slice(F.col("pk"), s, w)))
    )
    return (
        g.select("doc_id", F.explode(fps).alias("u"))
        .where(F.col("u").isNotNull())
        .select(
            "doc_id",
            F.shiftrightunsigned("u", 31).alias("fp_hash"),
            F.col("u").bitwiseAND(F.lit(2147483647)).alias("fp_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Capped edit-distance near-dup pairs (fuzzy dedup).

#: Levenshtein acceptance threshold in characters. The q-gram prune is
#: lossless for it: one character edit touches at most 2 whitespace
#: words (a space insert/delete merges or splits a pair), so it can
#: remove at most 2*SHINGLE_W = 6 distinct word-shingles from either
#: side's set; hence lev(a,b) <= D implies |A n B| >= max(|A|,|B|) - 6D.
EDIT_MAX = 8


def _edit_pairs_oracle() -> str:
    return f"""
    WITH bh AS MATERIALIZED (
      SELECT doc_id, {_sql_bh()} AS bh FROM documents
    ), inv AS (
      SELECT doc_id, unnest(bh) AS gram FROM bh
    ), rare AS MATERIALIZED (
      SELECT inv.doc_id, inv.gram
      FROM inv JOIN (
        SELECT gram FROM inv GROUP BY gram HAVING count(*) <= {NGRAM_MAX_DF}
      ) g ON inv.gram = g.gram
    ), shared AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS shared
      FROM rare l JOIN rare r ON l.gram = r.gram AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    ), stats AS (
      SELECT b.doc_id, len(b.bh) AS sz,
             len(b.bh) - coalesce(n.nr, 0) AS capped
      FROM bh b LEFT JOIN (
        SELECT doc_id, count(*) AS nr FROM rare GROUP BY doc_id
      ) n ON b.doc_id = n.doc_id
    ), cand AS (
      SELECT s.doc_a, s.doc_b
      FROM shared s
      JOIN stats a ON s.doc_a = a.doc_id
      JOIN stats b ON s.doc_b = b.doc_id
      WHERE s.shared + least(a.capped, b.capped)
            >= greatest(a.sz, b.sz) - {6 * EDIT_MAX}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN documents da ON c.doc_a = da.doc_id
    JOIN documents db ON c.doc_b = db.doc_id
    WHERE abs(length(da.text) - length(db.text)) <= {EDIT_MAX}
      AND levenshtein(da.text, db.text) <= {EDIT_MAX}
    """


@query("dedup_edit_distance_pairs", oracle=_edit_pairs_oracle())
def q_dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by capped Levenshtein distance (<=
    {EDIT_MAX} chars): the character-level complement of the
    set-similarity family, catching small in-place edits (typo fixes,
    value substitutions) whatever they do to shingle Jaccard.

    Never all-pairs: candidates come from the shared rare-shingle
    index with a LOSSLESS q-gram count prune — lev(a,b) <= D implies
    the shingle intersection is at least max(|A|,|B|) - 6D (one char
    edit touches <= 2 words, killing <= 6 word-shingles), so a pair
    whose intersection upper bound (shared + min over-cap) misses that
    floor cannot pass the verify and is dropped BEFORE the O(len^2)
    levenshtein. A |len_a - len_b| <= D band (another necessary
    condition) prunes again after the text join. At sf0.1 the verify
    set is a few hundred pairs out of 12.5M possible.

    Plan: shared persisted shingle table -> pair-count aggregate ->
    stat joins -> text equi-joins for survivors only -> levenshtein
    projection. Both engines ship the identical levenshtein (exact DP
    definition), so the distances compare as integers.
    """
    docs = table(spark, sf_dir, "documents")
    sh_df = shingle_table(docs)
    rare, joined = _rare_index_pairs(sh_df, NGRAM_MAX_DF)
    n_parts = _pair_shuffle_parts(rare, (sf_dir, NGRAM_MAX_DF))
    if n_parts is not None:
        joined = joined.repartition(n_parts, "doc_a", "doc_b")
    ann = _annotate_shared_stats(sh_df, rare, joined)
    ub = F.col("shared") + F.least(F.col("cap_a"), F.col("cap_b"))
    floor_ = F.greatest(F.col("sz_a"), F.col("sz_b")) - 6 * EDIT_MAX
    cand = ann.filter(ub >= floor_).select("doc_a", "doc_b")
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.abs(F.length("ta") - F.length("tb")) <= EDIT_MAX
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= EDIT_MAX)
    )


#: Minimum shared winnowing fingerprints for an overlap-pair report.
WINNOW_PAIR_MIN = 3


def _winnow_pairs_oracle() -> str:
    return f"""
    WITH fp AS MATERIALIZED (
      SELECT doc_id, fp_hash FROM ({_winnow_oracle()})
    ),
    df AS (
      SELECT fp_hash FROM fp GROUP BY fp_hash
      HAVING count(DISTINCT doc_id) <= {NGRAM_MAX_DF}
    ),
    pairs AS (
      SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
             count(DISTINCT l.fp_hash) AS shared_fp
      FROM fp l
      JOIN df USING (fp_hash)
      JOIN fp r ON l.fp_hash = r.fp_hash AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared_fp AS BIGINT) AS shared_fp
    FROM pairs WHERE shared_fp >= {WINNOW_PAIR_MIN}
    """


@query("dedup_winnowing_pairs", oracle=_winnow_pairs_oracle())
def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document overlap pairs from the winnowing fingerprint
    relation: documents sharing >= {WINNOW_PAIR_MIN} selected
    fingerprints (distinct hashes, positions ignored — the same
    passage at different offsets still matches). By the winnowing
    guarantee, ANY shared run of >= K+W-1 tokens contributes at least
    one shared fingerprint, so long shared passages cannot hide —
    the partial-overlap detector document-level MinHash cannot be.

    Plan: the fingerprint relation (zero-shuffle per-row selection)
    feeds a df-capped fingerprint equi-join — identical scale shape to
    the shingle inverted index (bounded fan-out per fingerprint), with
    selection density ~2/(W+1) making the index ~3x smaller than the
    full-shingle inverted index.

    Reference parity: composes `dedup_winnowing_fingerprints` into the
    pair surface of SURVEY.md section 2's dedup family.
    """
    fps = q_dedup_winnowing_fingerprints(spark, sf_dir).select(
        "doc_id", "fp_hash"
    ).distinct().persist()
    df_ok = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("dfc"))
        .filter(F.col("dfc") <= NGRAM_MAX_DF)
        .select("fp_hash")
    )
    capped = fps.join(df_ok, "fp_hash")
    l = capped.alias("l")
    r = fps.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fp_hash") == F.col("r.fp_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fp"))
        .filter(F.col("shared_fp") >= WINNOW_PAIR_MIN)
    )
