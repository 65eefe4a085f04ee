"""Corpus-quality and vocabulary workload over `documents` — the
repetition / vocabulary / tf-idf stages of an LLM training-data
pipeline (Gopher-style repetition filters, vocabulary construction,
token-id encoding, salience ranking).

Reference parity note: the reference engine (Ky-Lee-375
Distributed_MapReduce) expresses corpus statistics as maple/juice
word-count jobs (`maple_wordcount.py` / `juice_wordcount.py`); these
queries are the scaled-up Spark-native generalization: same
tokenize→aggregate skeleton, but per-document repetition signals,
df-thresholded vocabularies and tf-idf scoring on top.

Scale notes (100 TB):
- Per-document n-gram signals are pure Catalyst higher-order array
  expressions — no shuffle at all for the within-row stats; the
  top-bigram stage shuffles (doc_id, gram) pairs once with map-side
  partial aggregation.
- The vocabulary is a df-thresholded aggregate: its size follows
  Heaps' law (sublinear in corpus size) but is NOT fixed, so joins
  against it are left to AQE rather than force-broadcast (same policy
  as `plans.unbounded_scaling_broadcasts`).
- tf-idf uses an integer-scaled idf (floor(N*1000/df)) so the oracle
  comparison is exact integer arithmetic, not float log — documented
  as a monotone surrogate of ln(N/df) for ranking purposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import (
    query,
    sql_query,
    table,
    wide_shuffle_parts,
)
from distributed_mapreduce_spark.workload.text import (
    STOPWORDS,
    _bp,
    _count_in,
    _sql_bp,
    _sql_count_in,
    _sql_tokens,
    _tokens,
)

#: Minimum document frequency for a token to enter the vocabulary.
VOCAB_MIN_DF = 5

#: Tokens encoded per document (prefix) by `vocab_encode`.
ENCODE_LEN = 32

#: Integer idf scale: idf_scaled = floor(N_docs * IDF_SCALE / df).
IDF_SCALE = 1000

#: Top terms kept per document by tf-idf rank.
TFIDF_TOP_K = 3


def _ngrams(toks, n: int):
    """1-indexed n-gram strings of a token array (JVM-side); empty
    array when the document has fewer than ``n`` tokens (guarded
    because a short array would make the slice length negative).

    Formulated as ``zip_with`` over ``n`` aligned slices — every
    reference to ``toks`` sits OUTSIDE the lambda bodies. The earlier
    ``transform(sequence(...), i -> element_at(toks, i+j))`` shape
    referenced ``toks`` inside the lambda, and higher-order functions
    are interpreted (no codegen, no common-subexpression
    elimination), so a caller passing an inline tokenizer expression
    re-ran the tokenizer PER ELEMENT — measured ~4x whole-query cost
    on the gram-heavy families. Here an inline expression costs at
    most ~2n+1 per-row evaluations, and a materialized column costs
    nothing. Tokens are non-empty and non-null, so ``concat`` with a
    literal space is exactly ``concat_ws``."""
    length = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _sql_ngrams(toks: str, n: int) -> str:
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks})-{n - 1}), i -> {parts}) "
        f"ELSE CAST([] AS STRING[]) END"
    )


@query(
    "quality_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             {_sql_ngrams('toks', 3)} AS tri,
             {_sql_ngrams('toks', 2)} AS bi
      FROM t
    ), bg AS (
      SELECT doc_id, b AS gram, count(*) AS cnt
      FROM g, unnest(bi) AS u(b)
      GROUP BY 1, 2
    ), ba AS (
      SELECT doc_id, max(cnt) AS top_bigram_n, CAST(sum(cnt) AS BIGINT) AS bi_total
      FROM bg GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(len(tri) AS INTEGER) AS tri_total,
           CAST(len(list_distinct(tri)) AS INTEGER) AS tri_distinct,
           {_sql_bp('len(tri) - len(list_distinct(tri))', 'len(tri)')} AS dup_tri_bp,
           coalesce(ba.top_bigram_n, 0) AS top_bigram_n,
           {_sql_bp('coalesce(ba.top_bigram_n, 0)', 'coalesce(ba.bi_total, 0)')}
             AS top_bigram_bp
    FROM g LEFT JOIN ba ON g.doc_id = ba.doc_id
    """,
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-trigram
    fraction and the mass of the single most frequent bigram (both in
    exact basis points).

    Plan: the trigram stats are within-row array expressions (zero
    shuffle); the top-bigram stage explodes bigrams and hash-aggregates
    (doc_id, gram) with map-side partials, then reduces per doc — the
    wordcount skeleton of the reference's `maple_wordcount.py` applied
    per-document.
    """
    # `table()` spreads documents for the CPU-bound n-gram build. Each
    # branch materializes only the array it needs — tri stats never
    # build the bigram array and vice versa.
    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    tri_stats = docs.select(
        "doc_id", _ngrams(toks, 3).alias("tri")
    ).select(
        "doc_id",
        F.size("tri").alias("tri_total"),
        F.size(F.array_distinct("tri")).alias("tri_distinct"),
    )
    bi_stats = (
        docs.select("doc_id", F.explode(_ngrams(toks, 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_bigram_n"),
            F.sum("cnt").alias("bi_total"),
        )
    )

    def bp(num, den):
        return (
            F.when(den == 0, F.lit(0))
            .otherwise(F.floor(num.cast("double") * 10000.0 / den.cast("double")))
            .cast("long")
        )

    joined = tri_stats.join(bi_stats, "doc_id", "left")
    return joined.select(
        "doc_id",
        "tri_total",
        "tri_distinct",
        bp(F.col("tri_total") - F.col("tri_distinct"), F.col("tri_total")).alias("dup_tri_bp"),
        F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias("top_bigram_n"),
        bp(
            F.coalesce(F.col("top_bigram_n"), F.lit(0)),
            F.coalesce(F.col("bi_total"), F.lit(0)),
        ).alias("top_bigram_bp"),
    )


_VOCAB_SQL = f"""
    SELECT token,
           CAST(count(*) AS BIGINT) AS tf_corpus,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(row_number() OVER (ORDER BY count(*) DESC, token) AS BIGINT) AS vocab_id
    FROM (SELECT doc_id, tok AS token
          FROM (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents),
               unnest(toks) AS u(tok))
    GROUP BY token
    HAVING count(DISTINCT doc_id) >= {VOCAB_MIN_DF}
"""


def _vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    # Input-scaled width for the token exchange (x1000 slope was 1.04
    # at the 32-part default, SCALING_r08): hash by `token` — a subset
    # of both aggregation keys the distinct-count plan shuffles on
    # ((token, doc_id) then (token)) — so this one wide exchange
    # replaces both default-width ones. No-op below the default width.
    n_wide = wide_shuffle_parts(spark, sf_dir)
    if n_wide:
        toks = toks.repartition(n_wide, "token")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_corpus"),
        F.countDistinct("doc_id").alias("df"),
    )
    kept = counts.filter(F.col("df") >= VOCAB_MIN_DF)
    # Dense id assignment in (tf_corpus desc, token) order via the
    # distributed global_rank (range shuffle + per-partition offsets,
    # operators/partitioning.py). The vocabulary is aggregated and
    # Heaps'-law sublinear, but a web-scale corpus still yields 1e8+
    # tokens — a single-partition row_number window would be the
    # bottleneck, so the id assignment is distributed too.
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    return global_rank(
        kept,
        [F.col("tf_corpus").desc(), F.col("token").asc()],
        rank_col="vocab_id",
        total_col="_vocab_total",
    ).drop("_vocab_total")


@query("vocab_build", oracle=_VOCAB_SQL)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: df-thresholded token table with dense ids
    assigned by (corpus frequency desc, token asc).

    Plan: explode → hash-aggregate with map-side partials carries
    (token, partial counts), never raw text; the id-assigning window
    runs over the aggregated vocabulary only."""
    return _vocab_df(spark, sf_dir)


@query(
    "vocab_encode",
    oracle=f"""
    WITH vocab AS ({_VOCAB_SQL}),
    t AS (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents),
    ex AS (
      SELECT doc_id, i AS pos, toks[i] AS token
      FROM t, unnest(generate_series(1, least(len(toks), {ENCODE_LEN}))) AS u(i)
    ),
    enc AS (
      SELECT ex.doc_id, ex.pos, CAST(coalesce(v.vocab_id, -1) AS BIGINT) AS tid
      FROM ex LEFT JOIN vocab v ON ex.token = v.token
    )
    SELECT doc_id, array_agg(tid ORDER BY pos) AS token_ids
    FROM enc GROUP BY doc_id
    """,
)
def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the first {ENCODE_LEN} tokens of every document as
    vocabulary ids (OOV → -1) — the tokenizer-application stage of a
    training pipeline, minus the learned merges.

    Plan: posexplode the bounded prefix (fan-out ≤ {ENCODE_LEN}×),
    equi-join tokens against the vocabulary (AQE picks the strategy —
    the vocab is sublinear but unbounded, so no forced broadcast),
    then reassemble per doc via sort_array(collect_list(struct)) —
    order restored without a window."""
    docs = table(spark, sf_dir, "documents")
    vocab = _vocab_df(spark, sf_dir).select("token", "vocab_id")
    prefix = docs.select(
        "doc_id", F.slice(_tokens(F.col("text")), 1, ENCODE_LEN).alias("toks")
    )
    ex = prefix.select(
        "doc_id", F.posexplode("toks").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    enc = ex.join(vocab, "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("vocab_id"), F.lit(-1)).cast("long").alias("tid")
    )
    return (
        enc.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "tid"))).alias("ps"))
        .select("doc_id", F.transform("ps", lambda s: s["tid"]).alias("token_ids"))
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tok AS term
      FROM (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents),
           unnest(toks) AS u(tok)
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * CAST(floor(n.n_docs * {IDF_SCALE} / df.df) AS BIGINT) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} salient terms per document by integer-scaled
    tf-idf (idf surrogate floor(N*{IDF_SCALE}/df) — monotone in
    ln(N/df), exact in integer arithmetic).

    Plan: tf = one exploded hash-aggregate; df = re-aggregate of the
    (already small) tf relation; N attaches via a 1-row aggregate
    broadcast cross-join (never a global window over raw rows); the
    per-doc ranking window is keyed by doc_id — fully partitioned."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * F.floor(F.col("n_docs") * IDF_SCALE / F.col("df")).cast("long")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


@query(
    "text_token_gini",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents),
           unnest(toks) AS u(tok)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(floor((sum(tf)*sum(tf) - sum(tf*tf)) * 10000.0
                      / (sum(tf)*sum(tf))) AS BIGINT) AS gini_bp
    FROM tf GROUP BY doc_id
    """,
)
def q_text_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity score per document: Gini impurity of the
    token distribution, 1 - Σ(tf/n)², in exact integer basis points
    ((n² - Σtf²)·10000 // n²) — a repetition-complementary quality
    signal (low gini = document dominated by few tokens).

    Plan: one exploded hash aggregate to (doc, term) tf, then a per-doc
    re-aggregate — same two-level wordcount skeleton as the vocabulary,
    all integer arithmetic."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("tf")).alias("sum_sq"),
    )
    n = F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_terms",
        "n_tokens",
        F.floor((n * n - F.col("sum_sq")).cast("double") * 10000.0 / (n * n).cast("double"))
        .cast("long")
        .alias("gini_bp"),
    )


#: Power-of-2 rank bands for the Zipf audit (covers ranks to 2^20).
ZIPF_BANDS = 20


def _band_case_sql(rank: str) -> str:
    whens = " ".join(
        f"WHEN {rank} < {1 << (b + 1)} THEN {b}" for b in range(ZIPF_BANDS)
    )
    return f"CASE {whens} ELSE {ZIPF_BANDS} END"


# Zipf rank-frequency audit: vocabulary ranked by corpus frequency
# (total order: tf desc, token), rolled into power-of-2 rank bands (band
# b = ranks [2^b, 2^(b+1))) with token count and frequency mass per band
# — the corpus-shape diagnostic (a healthy natural corpus has roughly
# constant mass per band; a template-heavy crawl does not). Banding is
# integer comparison, never a float log.
sql_query(
    "zipf_rank_bands",
    f"""
    WITH counts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT unnest({_sql_tokens('text')}) AS tok FROM documents)
      GROUP BY tok
    ), ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, tok) AS rank
      FROM counts
    )
    SELECT CAST({_band_case_sql('rank')} AS INTEGER) AS band,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM ranked GROUP BY 1
    """,
)


#: Coverage-curve cutoffs (top-K vocabulary ranks).
COVERAGE_KS = (100, 500, 2000)


# Vocabulary coverage curve: what fraction of all corpus token
# OCCURRENCES the top-K vocabulary entries cover, at K ∈ COVERAGE_KS —
# the readout that sizes a tokenizer's vocab (the knee of this curve is
# where bigger vocabularies stop paying).
sql_query(
    "vocab_coverage_curve",
    f"""
    WITH counts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT unnest({_sql_tokens('text')}) AS tok FROM documents)
      GROUP BY tok
    ), ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, tok) AS rank
      FROM counts
    ), tot AS (
      SELECT CAST(sum(tf) AS BIGINT) AS total FROM ranked
    )
    SELECT k, CAST(sum(CASE WHEN rank <= k THEN tf ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(sum(CASE WHEN rank <= k THEN tf ELSE 0 END) * 10000
                // min(total) AS BIGINT) AS coverage_bp
    FROM ranked CROSS JOIN tot
    CROSS JOIN (VALUES {', '.join(f'({k})' for k in COVERAGE_KS)}) ks(k)
    GROUP BY k
    """,
)


#: Curriculum phases (quartile buckets).
CURRICULUM_PHASES = 4

_CURRICULUM_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             {_sql_bp(_sql_count_in('toks', STOPWORDS), 'len(toks)')} AS score
      FROM t
    ), r AS (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank,
             CAST(count(*) OVER () AS BIGINT) AS total
      FROM s
    )
    SELECT doc_id, score, rank, total,
           CAST(((rank - 1) * {CURRICULUM_PHASES}) // total AS INTEGER) AS phase
    FROM r
"""


@query("curriculum_phase_assign", oracle=_CURRICULUM_SQL)
def q_curriculum_phase_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: rank every document by a
    quality proxy (stopword basis points — higher reads as more
    natural prose) and deal the corpus into {CURRICULUM_PHASES}
    contiguous phases, best documents first — the data-ordering pass
    curriculum-learning pipelines run before sharding.

    Plan: the global order comes from the distributed `global_rank`
    (range shuffle + per-partition offsets) — at 1e9+ documents a
    row_number() window over the raw corpus would single-task; the
    oracle's window IS that naive form, which is exactly why the
    differential matters: the scalable plan must reproduce the naive
    semantics bit-for-bit."""
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    scored = docs.select(
        "doc_id", _bp(_count_in(toks, STOPWORDS), F.size(toks)).alias("score")
    )
    ranked = global_rank(
        scored,
        [F.col("score").desc(), F.col("doc_id").asc()],
        rank_col="rank",
        total_col="total",
    )
    return ranked.select(
        "doc_id",
        "score",
        "rank",
        "total",
        F.expr(f"CAST(((rank - 1) * {CURRICULUM_PHASES}) DIV total AS INT)").alias(
            "phase"
        ),
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest({_sql_ngrams(_sql_tokens('text'), 3)}) AS gram
        FROM documents
      )
    ), first_seen AS MATERIALIZED (
      SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tri,
           CAST(count(*) FILTER (f.first_doc = g.doc_id) AS BIGINT)
             AS n_novel_tri,
           {_sql_bp('count(*) FILTER (f.first_doc = g.doc_id)', 'count(*)')}
             AS novelty_bp
    FROM g JOIN first_seen f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty against everything ingested before
    it (doc_id as ingestion order): the fraction of a document's
    distinct trigrams whose FIRST corpus occurrence is this document.
    Low novelty = boilerplate/near-duplicate mass; the streaming-order
    twin of the repetition filters, and the signal behind
    "contributes nothing new, drop it" corpus pruning.

    Plan: one explode to distinct (doc, gram) pairs (over the spread
    `table()` gives documents, like `quality_repetition`), a
    gram-level min-aggregate (the first-occurrence inverted index,
    map-side partials), and one equi-join back on gram — the
    decontamination join shape; no self-join of the corpus.
    """
    g = (
        table(spark, sf_dir, "documents")
        # materialize the token array in its own projection: _ngrams
        # references it ~5x (and inside a HOF lambda), and higher-order
        # functions don't codegen, so an inlined split+filter would
        # re-tokenize per reference instead of once per row
        .select("doc_id", _tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.explode(_ngrams(F.col("__toks"), 3)).alias("gram"),
        )
    )
    # Input-scaled width for the gram exchanges (x1000 slope 2.07 at
    # the 32-part default — the measurement behind round 9's global
    # initialPartitionNum, now scoped here): hash by `gram` once, and
    # the distinct ((doc_id, gram) ⊇ gram), the first-seen aggregate
    # (gram), and the equi-join back on gram ALL reuse the
    # partitioning — one wide exchange where the plan had three
    # default-width ones. No-op below the default width.
    n_wide = wide_shuffle_parts(spark, sf_dir)
    if n_wide:
        g = g.repartition(n_wide, "gram")
    g = g.distinct()
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = g.join(first_seen, "gram")
    if n_wide:
        # The per-doc rollup re-keys the full distinct-pair stream from
        # gram to doc_id — the same volume crosses the wire again, so
        # the same width applies (partial aggregation barely collapses
        # here: a doc's grams are spread across every gram partition).
        per_doc = per_doc.repartition(n_wide, "doc_id")
    return (
        per_doc
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tri"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel_tri"
            ),
            _bp(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")),
                F.count(F.lit(1)),
            ).alias("novelty_bp"),
        )
    )


# Per-language quality calibration.
sql_query(
    "quality_by_language",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ), r AS (
      SELECT lang, n_tokens,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_tokens, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM t
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END) AS BIGINT)
             AS p50_tokens,
           CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tokens END)
             AS BIGINT) AS p90_tokens
    FROM r GROUP BY lang
    """,
)


#: Rank-blend selection depth.
RANK_BLEND_TOP = 10


@query(
    "quality_rank_blend",
    oracle=f"""
    WITH sig AS MATERIALIZED (
      SELECT doc_id,
             {_sql_bp(_sql_count_in(_sql_tokens('text'), STOPWORDS),
                      f"len({_sql_tokens('text')})")} AS stop_bp,
             {_sql_bp("length(text) - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))",
                      'length(text)')} AS punct_bp
      FROM documents
    ), ranked AS (
      SELECT doc_id, stop_bp, punct_bp,
             CAST(row_number() OVER (ORDER BY stop_bp DESC, doc_id)
               AS BIGINT) AS r_stop,
             CAST(row_number() OVER (ORDER BY punct_bp ASC, doc_id)
               AS BIGINT) AS r_punct
      FROM sig
    )
    SELECT doc_id, stop_bp, punct_bp, r_stop, r_punct,
           r_stop + r_punct AS blend
    FROM ranked
    ORDER BY blend, doc_id LIMIT {RANK_BLEND_TOP}
    """,
)
def q_quality_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile/rank-blended quality selection: two incomparable
    quality signals (stopword ratio — higher is better; punctuation
    ratio — lower is better) are each converted to a GLOBAL rank and
    blended by rank sum, the scale-free way to combine signals with
    different units (the Borda-count / rank-aggregation device; mean
    percentile is rank sum divided by a constant, so the top set is
    identical). Output: the top-{RANK_BLEND_TOP} blended documents.

    Plan: the oracle's two global row_number windows would each be a
    single-task global sort over raw corpus rows — the round-2 scale
    bug. The Spark side instead computes both ranks with the
    distributed `global_rank` primitive (range shuffle +
    per-partition Arrow numbering + broadcast offsets), joins them on
    doc_id, and takes the final blend cut with TakeOrdered. Nothing
    ever funnels through one task."""
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_chars = F.length(F.col("text"))
    punct = n_chars - F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", ""))
    sig = docs.select(
        "doc_id",
        _bp(_count_in(toks, STOPWORDS), F.size(toks)).alias("stop_bp"),
        _bp(punct, n_chars).alias("punct_bp"),
    )
    r1 = global_rank(
        sig, [F.col("stop_bp").desc(), F.col("doc_id")], rank_col="r_stop"
    ).select("doc_id", "stop_bp", "punct_bp", F.col("r_stop").cast("long").alias("r_stop"))
    r2 = global_rank(
        sig, [F.col("punct_bp").asc(), F.col("doc_id")], rank_col="r_punct"
    ).select("doc_id", F.col("r_punct").cast("long").alias("r_punct"))
    blended = r1.join(r2, "doc_id").select(
        "doc_id",
        "stop_bp",
        "punct_bp",
        "r_stop",
        "r_punct",
        (F.col("r_stop") + F.col("r_punct")).alias("blend"),
    )
    return blended.orderBy("blend", "doc_id").limit(RANK_BLEND_TOP)


#: RAKE phrase cap: top keywords kept (score desc, phrase asc).
RAKE_TOP_K = 20
#: Word-score scale (deg/freq in 1e-3 units).
RAKE_SCALE = 1000

_SQL_RAKE_STOPS = ", ".join(f"'{s}'" for s in STOPWORDS)


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, {{toks}} AS toks FROM documents)
    ), nonstop AS (
      SELECT doc_id, tok, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tk WHERE tok NOT IN ({_SQL_RAKE_STOPS})
    ), phrases AS MATERIALIZED (
      SELECT doc_id, grp,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM nonstop GROUP BY doc_id, grp
    ), occ AS MATERIALIZED (
      SELECT n.doc_id, n.grp, n.tok, p.plen, p.phrase
      FROM nonstop n JOIN phrases p
        ON n.doc_id = p.doc_id AND n.grp = p.grp
    ), wordstats AS MATERIALIZED (
      SELECT tok,
             CAST(sum(plen) AS BIGINT) AS deg,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) * {RAKE_SCALE} // count(*) AS BIGINT) AS wscore
      FROM occ GROUP BY tok
    ), pscore AS (
      SELECT o.doc_id, o.grp, o.phrase,
             CAST(sum(w.wscore) AS BIGINT) AS score_e3
      FROM occ o JOIN wordstats w ON o.tok = w.tok
      GROUP BY o.doc_id, o.grp, o.phrase
    )
    SELECT phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(score_e3) AS score_e3
    FROM pscore GROUP BY phrase
    ORDER BY score_e3 DESC, phrase LIMIT {RAKE_TOP_K}
    """.format(toks=_sql_tokens("text")),
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-free token runs; each word scores
    deg/freq (deg = Σ length of the candidate runs it appears in,
    freq = its occurrences in candidates — co-occurrence degree favors
    words living in long phrases); a phrase scores the sum of its
    words' scores. Integer-exact with deg·{RAKE_SCALE}//freq truncated
    per word (identical phrase text ⇒ identical score, so min() per
    phrase is a no-op aggregator). Top-{RAKE_TOP_K} by (score, phrase).

    Plan (restructured round 11, PERF_PROBE_r11.json): one posexplode,
    the gaps-and-islands run id from a window PARTITIONED BY doc_id,
    then the run length `plen` from a COUNT window over (doc_id, grp)
    — the same doc_id exchange serves both windows, which ELIMINATES
    the phrases⋈occurrences shuffle join the previous plan paid (and
    its third scan of the explode chain: ~25% wall-clock at sf0.1,
    and one fewer full shuffle of the token stream at any scale).
    Word stats aggregate the windowed rows directly; the phrase string
    is assembled in the SAME (doc_id, grp) aggregate that sums the
    word scores; TakeOrdered caps — no global sort, no raw-row global
    window."""
    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    wrun = Window.partitionBy("doc_id", "grp")
    nonstop = (
        tk.filter(~F.col("tok").isin(*STOPWORDS))
        .withColumn("grp", F.col("pos") - F.row_number().over(wd))
        .withColumn("plen", F.count(F.lit(1)).over(wrun).cast("long"))
    )
    # Persist the windowed run table: `wordstats` and the pscore join
    # both read it, and without the cache each reference re-runs the
    # explode + BOTH window sorts (the r12 before-plan shows the
    # Generate→Window→Window chain once per branch). Cache rows are the
    # nonstop token stream — the same class as the rare-gram index
    # cache, where recomputing window sorts measured strictly worse
    # than the cache write.
    nonstop = nonstop.persist()
    wordstats = nonstop.groupBy("tok").agg(
        F.expr(f"CAST(sum(plen) * {RAKE_SCALE} DIV count(*) AS BIGINT)").alias(
            "wscore"
        ),
    )
    pscore = (
        nonstop.join(wordstats, "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.getField("tok"),
                ),
            ).alias("phrase"),
            F.sum("wscore").cast("long").alias("score_e3"),
        )
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("score_e3").alias("score_e3"),
        )
        .orderBy(F.col("score_e3").desc(), "phrase")
        .limit(RAKE_TOP_K)
    )


#: Burstiness: minimum document frequency for a term to be audited.
BURST_MIN_DF = 200


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id, u.tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, {{toks}} AS toks FROM documents),
           unnest(toks) AS u(tok)
      GROUP BY doc_id, u.tok
    ), stats AS MATERIALIZED (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS s_x,
             CAST(sum(CAST(tf AS HUGEINT) * tf) AS BIGINT) AS s_xx
      FROM tf GROUP BY tok HAVING count(*) >= {BURST_MIN_DF}
    )
    SELECT tok, df, s_x, s_xx,
           CAST((CAST(n_docs AS HUGEINT) * s_xx - CAST(s_x AS HUGEINT) * s_x)
                // (CAST(s_x AS HUGEINT) * (n_docs - 1)) * 1000000
                + (CAST(n_docs AS HUGEINT) * s_xx - CAST(s_x AS HUGEINT) * s_x)
                  % (CAST(s_x AS HUGEINT) * (n_docs - 1)) * 1000000
                  // (CAST(s_x AS HUGEINT) * (n_docs - 1))
             AS BIGINT) AS vmr_e6
    FROM stats CROSS JOIN n
    """.format(toks=_sql_tokens("text")),
)
def q_text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale's dispersion test): the
    variance-to-mean ratio of a term's per-document count over ALL
    documents (zeros included implicitly — Σx and Σx² only need the
    docs that contain the term, N enters as the population size). A
    Poisson-scattered term sits at 10⁶; content words clump and score
    far above — the statistic behind burst-aware term weighting and
    stopword detection. VMR·10⁶ = (N·Σx²−(Σx)²)/(Σx·(N−1)), expanded
    div-first (q·10⁶ + r·10⁶/d) so nothing overflows int128 at
    10¹²-doc corpora; the numerator is ≥ 0 by Cauchy-Schwarz
    (Σx² ≥ (Σx)²/N), so no sign handling is needed.

    Plan: one (doc, term) hash-agg off the token explode, one
    |vocab|-row moment aggregate with the DF gate pushed into HAVING,
    and a broadcast 1-row N."""
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = (
        tf.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("s_x"),
            F.expr("CAST(sum(CAST(tf AS DECIMAL(38,0)) * tf) AS BIGINT)").alias(
                "s_xx"
            ),
        )
        .filter(F.col("df") >= BURST_MIN_DF)
    )
    return stats.crossJoin(F.broadcast(n)).select(
        "tok",
        "df",
        "s_x",
        "s_xx",
        F.expr(
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * s_xx"
            "      - CAST(s_x AS DECIMAL(38,0)) * s_x)"
            "     DIV (CAST(s_x AS DECIMAL(38,0)) * (n_docs - 1)) * 1000000"
            "     + (CAST(n_docs AS DECIMAL(38,0)) * s_xx"
            "        - CAST(s_x AS DECIMAL(38,0)) * s_x)"
            "       % (CAST(s_x AS DECIMAL(38,0)) * (n_docs - 1)) * 1000000"
            "       DIV (CAST(s_x AS DECIMAL(38,0)) * (n_docs - 1))"
            " AS BIGINT)"
        ).alias("vmr_e6"),
    )
