"""Text-analysis workload over `documents` — the training-data-pipeline
operators (language ID, quality scoring, token counting, fingerprinting)
that a 100 TB corpus pipeline runs before dedup/filtering.

All operators are pure Catalyst expressions (higher-order array
functions, regex, md5) — no Python UDFs — so they run JVM-side inside
whole-stage codegen and scale linearly with executors. Ratios are
reported in exact integer basis points (floor(x*10000/y)) because
float division then rounding is not portable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.partitioning import global_cumsum
from distributed_mapreduce_spark.workload.registry import (
    query,
    sql_query,
    table,
    wide_shuffle_parts,
)

#: Stopword list for quality scoring (tiny, deterministic).
STOPWORDS = ("the", "a", "of", "and", "in", "to")

#: Marker words per language for the n-gram/stopword language-ID
#: heuristic. Deterministic preference order: en, de, es, fr, unknown.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "das", "ist"),
    "es": ("el", "los", "de", "es"),
    "fr": ("le", "les", "des", "est"),
}


def _tokens(col: Column) -> Column:
    """Non-empty whitespace tokens of a text column (JVM-side)."""
    return F.filter(F.split(col, " ", -1), lambda x: x != "")


def _sql_tokens(c: str) -> str:
    return f"list_filter(string_split({c}, ' '), x -> x <> '')"


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


def _sql_count_in(tokens: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens}, x -> x IN ({lst})))"


def _bp(num: Column, den: Column) -> Column:
    """Exact integer basis points: floor(num*10000/den); 0 if den=0."""
    return F.when(den == 0, F.lit(0)).otherwise(
        F.floor(num.cast("double") * 10000.0 / den.cast("double"))
    ).cast("long")


def _sql_bp(num: str, den: str) -> str:
    return (
        f"CAST(CASE WHEN ({den}) = 0 THEN 0 "
        f"ELSE floor(({num}) * 10000.0 / ({den})) END AS BIGINT)"
    )


# ---------------------------------------------------------------------------


# Whitespace token count per document.
sql_query(
    "text_token_count",
    f"""
    SELECT doc_id, CAST(len({_sql_tokens('text')}) AS INTEGER) AS n_tokens
    FROM documents
    """,
)


# Document quality signals.
sql_query(
    "text_quality_score",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_sql_tokens('text')} AS toks,
             length(text) AS n_chars_m
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_m AS BIGINT) AS n_chars_m,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           {_sql_bp(_sql_count_in('toks', STOPWORDS), 'len(toks)')} AS stopword_bp,
           {_sql_bp("length(text) - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))",
                    'length(text)')} AS punct_bp
    FROM t
    """,
)


def _lang_case_sql() -> str:
    toks = _sql_tokens("text")
    scores = {k: _sql_count_in(toks, v) for k, v in LANG_MARKERS.items()}
    en, de, es, fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    return f"""
    CASE
      WHEN ({en}) = 0 AND ({de}) = 0 AND ({es}) = 0 AND ({fr}) = 0 THEN 'unknown'
      WHEN ({en}) >= ({de}) AND ({en}) >= ({es}) AND ({en}) >= ({fr}) THEN 'en'
      WHEN ({de}) >= ({es}) AND ({de}) >= ({fr}) THEN 'de'
      WHEN ({es}) >= ({fr}) THEN 'es'
      ELSE 'fr'
    END
    """


# Marker-word language-ID heuristic with a deterministic argmax
# preference order (en > de > es > fr), aggregated to a histogram.
sql_query(
    "text_lang_id",
    f"""
    SELECT lang_pred, count(*) AS cnt FROM (
      SELECT {_lang_case_sql()} AS lang_pred FROM documents
    ) GROUP BY lang_pred
    """,
)


# Document fingerprint: md5 of whitespace-normalized lowercased text —
# the exact-dedup key at corpus scale (hash once, group on the 128-bit
# key instead of the full text).
sql_query(
    "text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)


#: BPE-ish pre-tokenizer regex (GPT-2-style splitting, simplified to
#: constructs whose semantics are identical in Java regex and DuckDB's
#: RE2): letter runs, SINGLE digits (BPE tokenizers split numbers), and
#: runs of non-alphanumeric-non-space symbols.
BPE_REGEX = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]+"


# BPE-ish token count.
sql_query(
    "text_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS INTEGER) AS n_bpe_tokens,
           CAST(len({_sql_tokens('text')}) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)


#: Rolling-hash base/mask: h = fold(acc*31 + tok_hash) & (2^32-1).
#: The 2^32 mask (not a prime mod) keeps the fold's first step equal to
#: the bare first element, which is exactly DuckDB list_reduce's seed —
#: so both engines execute the identical operation sequence.
ROLLING_MASK = 0xFFFFFFFF


# Order-sensitive document fingerprint.
sql_query(
    "text_rolling_hash",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_transform({_sql_tokens('text')},
                            s -> ('0x' || substr(md5('rh_' || s), 1, 8))::BIGINT) AS th
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN len(th) = 0 THEN 0
                ELSE list_reduce(th, (acc, x) -> (acc * 31 + x) & {ROLLING_MASK})
                END AS BIGINT) AS rolling_fp
    FROM t
    """,
)


#: Deterministic split fractions (percent): train/val/test = 80/10/10.
SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 80, 90


# Reproducible train/val/test assignment.
sql_query(
    "text_split_assign",
    f"""
    SELECT split, count(*) AS n_docs,
           CAST(sum(len({_sql_tokens('text')})) AS BIGINT) AS n_tokens
    FROM (
      SELECT text,
             CASE WHEN ('0x' || substr(md5('split_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN ('0x' || substr(md5('split_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT % 100 < {SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split
    """,
)


# Top-3 distinctive terms per document: rank by (term frequency desc,
# corpus document-frequency asc, term) — the TF-IDF ordering with exact
# integer keys instead of a float idf (log() is not bit-portable across
# engines; the integer (tf, df) sort induces the same ranking for fixed
# tf). Plan: one explode, two aggregations (per-doc tf, global df), a df
# join left to AQE (the vocabulary grows with the corpus — broadcast
# while small, shuffle join at scale), and a per-doc window top-k — no
# global sort.
sql_query(
    "text_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_sql_tokens('text')}) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok
    )
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, rnk
    FROM (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(row_number() OVER (PARTITION BY tf.doc_id
                                     ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS INTEGER) AS rnk
      FROM tf JOIN df ON tf.tok = df.tok
    ) WHERE rnk <= 3
    """,
)


# ---------------------------------------------------------------------------
# PII scrubbing: ordered regex redaction classes. Patterns restricted to
# syntax with identical semantics in Java regex (Spark) and RE2 (DuckDB)
# so the oracle is a genuinely independent second implementation.
# Email first (its local part contains digits), then IP (dots), then
# SSN-shaped ids, then phone numbers — each later class sees the
# previous classes' redactions, never their raw text.
# ---------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    (r"\d{3}-\d{2}-\d{4}", "<ID>"),
    (r"\d{3}-\d{3}-\d{4}", "<PHONE>"),
)


def scrub_pii(col: Column) -> Column:
    """Redact email / IPv4 / SSN-shaped / phone-shaped spans, in the
    fixed PII_PATTERNS order. Pure Catalyst `regexp_replace` chain —
    JVM-side, codegen-fused, no Python in the hot path."""
    out = col
    for pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def _sql_scrub(c: str) -> str:
    out = c
    for pat, rep in PII_PATTERNS:
        escaped = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{escaped}', '{rep}', 'g')"
    return out


# PII scrub, differentially verified end-to-end. The fixture corpus
# contains no digits or '@', so the query first injects deterministic
# doc_id-derived PII (an email, a phone, an SSN-shaped id, an IPv4),
# then scrubs in the PII_PATTERNS order and returns the scrubbed text
# plus a `clean` audit bit (no digit or '@' may survive). Spark runs the
# text with Java regex and DuckDB with RE2, so equal values prove the
# patterns mean the same in both engines.
sql_query(
    "text_scrub_pii",
    f"""
    WITH injected AS (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS STRING)
                  || '@example.com or 415-555-'
                  || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')
                  || ' ssn 987-65-4321 from 192.168.'
                  || CAST(doc_id % 256 AS STRING) || '.'
                  || CAST((doc_id * 7) % 256 AS STRING) AS dirty
      FROM documents
    )
    SELECT doc_id, {_sql_scrub('dirty')} AS scrubbed,
           NOT regexp_matches({_sql_scrub('dirty')}, '[0-9@]') AS clean
    FROM injected
    """,
)


def build_corpus_prep(docs: DataFrame, with_telemetry: bool = False):
    """Corpus-prep plan builder: PII scrub → quality filter (length +
    stopword ratio) → exact dedup (md5 groupBy, min doc_id survives) →
    deterministic split assignment → per-split counts.

    With `with_telemetry`, attaches `df.observe()` per-stage counters
    (rows in, rows dropped by the quality filter, rows surviving) and
    returns `(df, observations)`. Observation metrics ride the action
    itself — unlike accumulators they are exactly-once under task
    retries and cost no extra job. Returns `df` alone otherwise.
    """
    from pyspark.sql import Observation

    toks = _tokens(F.col("text"))
    scrubbed = docs.select("doc_id", scrub_pii(F.col("text")).alias("text"))
    scored = scrubbed.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        _bp(_count_in(toks, STOPWORDS), F.size(toks)).alias("stop_bp"),
    )
    observations: dict[str, Observation] = {}
    if with_telemetry:
        keep_cond = (F.col("n_tokens") >= 40) & (F.col("stop_bp") >= 300)
        obs = Observation("quality_gate")
        scored = scored.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.when(~keep_cond, 1).otherwise(0)).alias("dropped_quality"),
            F.sum(F.when(keep_cond, 1).otherwise(0)).alias("rows_kept"),
        )
        observations["quality_gate"] = obs
    kept = scored.filter((F.col("n_tokens") >= 40) & (F.col("stop_bp") >= 300))
    deduped = kept.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    if with_telemetry:
        obs_d = Observation("dedup_gate")
        deduped = deduped.observe(obs_d, F.count(F.lit(1)).alias("rows_unique"))
        observations["dedup_gate"] = obs_d
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    out = deduped.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (out, observations) if with_telemetry else out



@query(
    "pipeline_corpus_prep",
    oracle=f"""
    WITH scrubbed AS (
      SELECT doc_id, {_sql_scrub('text')} AS text FROM documents
    ), scored AS (
      SELECT doc_id, text,
             len({_sql_tokens('text')}) AS n_tokens,
             {_sql_bp(_sql_count_in(_sql_tokens('text'), STOPWORDS), f"len({_sql_tokens('text')})")} AS stop_bp
      FROM scrubbed
    ), kept AS (
      SELECT doc_id, text FROM scored WHERE n_tokens >= 40 AND stop_bp >= 300
    ), deduped AS (
      SELECT min(doc_id) AS doc_id, any_value(text) AS text
      FROM kept GROUP BY md5(text)
    )
    SELECT split, count(*) AS n_docs FROM (
      SELECT CASE WHEN ('0x' || substr(md5('split_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN ('0x' || substr(md5('split_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT % 100 < {SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM deduped
    ) GROUP BY split
    """,
)
def q_pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep chain as ONE declarative plan: PII scrub →
    quality filter → exact dedup → deterministic split assignment →
    per-split counts. Catalyst fuses scrub+filter into the scan and
    pipelines the rest — at 100 TB the chain is exactly this plan with
    more partitions, not a different program. (Scrub is the identity on
    the digit-free fixture corpus; `text_scrub_pii` exercises it on
    injected PII. Telemetry: see `build_corpus_prep(with_telemetry=
    True)`, asserted in tests/test_workload.py.)
    """
    return build_corpus_prep(table(spark, sf_dir, "documents"))


#: Chunking geometry: window of CHUNK_W tokens, stride CHUNK_S (25%
#: overlap) — the RAG/pretraining chunker shape.
CHUNK_W, CHUNK_S = 32, 24


@query(
    "text_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(toks[i * {CHUNK_S} + 1 : i * {CHUNK_S} + {CHUNK_W}], ' ') AS chunk,
           CAST(least(len(toks) - i * {CHUNK_S}, {CHUNK_W}) AS INTEGER) AS n_tokens
    FROM t, range(0, 100) r(i)
    WHERE i * {CHUNK_S} < len(toks)
      AND (i = 0 OR i * {CHUNK_S} + {CHUNK_W} <= len(toks) + {CHUNK_S} - 1)
    """,
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, stride 24):
    the doc→chunks explosion every RAG/pretraining
    pipeline runs. JVM-side: sequence of starts → slice+join per chunk
    → explode; chunk count per doc is ceil((len-W)/S)+1 capped by the
    start-in-range rule, mirrored exactly in the oracle."""
    docs = table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    starts = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(99)), lambda i: i * CHUNK_S),
        lambda s: (s < n)
        & ((s == 0) | (s + CHUNK_W <= n + CHUNK_S - 1)),
    )
    chunks = t.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("chunk_idx", "start"),
        n.alias("n"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, CHUNK_W), " "
        ).alias("chunk"),
        F.least(F.col("n") - F.col("start"), F.lit(CHUNK_W)).cast("int").alias("n_tokens"),
    )


#: Packing budget in tokens per training sequence.
PACK_BUDGET = 512


@query(
    "text_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_sql_tokens('text')}) AS n_tokens FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM t
    )
    SELECT CAST((c - 1) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM cum GROUP BY 1
    """,
)
def q_text_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (in stable doc_id order) to
    ~512-token training packs by cumulative-token binning —
    the throughput trick that keeps pretraining batches dense. The
    running sum is the distributed two-pass prefix sum
    (`operators/partitioning.py::global_cumsum`: range shuffle +
    per-partition local cumsum + broadcast P-row offsets), NOT an
    unpartitioned window — no single-task global sort at any scale.
    Pack boundaries are pure integer arithmetic, so the oracle is
    exact."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens"))
    cum = global_cumsum(t, [F.col("doc_id")], "n_tokens", cumsum_col="c")
    return (
        cum.select(
            F.floor((F.col("c") - 1) / PACK_BUDGET).cast("long").alias("pack_id"),
            "n_tokens",
        )
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
    )


#: Mixture weights in basis points by source tier: heads (src0-4) kept
#: whole, mids (src5-14) quartered, tails (src15+) at 5%.
MIX_HEAD_BP, MIX_MID_BP, MIX_TAIL_BP = 10000, 2500, 500


# Training-data mixture construction: per-source sampling rates
# (up-weight curated sources, thin the crawl tail) applied as the same
# order-independent hash gate as `events_stratified_sample` — the
# mixture is a pure function of (doc_id, source), so a re-run on any
# cluster reproduces the exact corpus. Returns per-source counts for the
# mixture audit.
sql_query(
    "corpus_mixture_sample",
    f"""
    SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc
    FROM documents
    WHERE ('0x' || substr(md5('mix_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT % 10000
          < CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN {MIX_HEAD_BP}
                 WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN {MIX_MID_BP}
                 ELSE {MIX_TAIL_BP} END
    GROUP BY source
    """,
)


@query(
    "packing_efficiency",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_sql_tokens('text')}) AS n_tokens FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM t
    ), packs AS (
      SELECT CAST((c - 1) // {PACK_BUDGET} AS BIGINT) AS pack_id,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      FROM cum GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(sum(pack_tokens) * 1.0 / {PACK_BUDGET}) AS BIGINT)
             AS optimal_packs,
           CAST(floor(sum(pack_tokens) * 10000.0 / (count(*) * {PACK_BUDGET}))
                AS BIGINT) AS fill_bp
    FROM packs
    """,
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality readout for `text_packing`: pack count vs the
    information-theoretic optimum (ceil(total/budget)) and the mean
    fill rate in basis points — the metric that tells a pretraining
    pipeline whether its batch packing wastes compute.

    Plan: same cumulative-binning lineage as `text_packing`, reduced to
    a single summary row; the running sum uses the distributed
    `global_cumsum` prefix-sum (no unpartitioned window)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens"))
    cum = global_cumsum(t, [F.col("doc_id")], "n_tokens", cumsum_col="c")
    packs = (
        cum.select(
            F.floor((F.col("c") - 1) / PACK_BUDGET).cast("long").alias("pack_id"),
            "n_tokens",
        )
        .groupBy("pack_id")
        .agg(F.sum("n_tokens").cast("long").alias("pack_tokens"))
    )
    return packs.agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("pack_tokens").cast("long").alias("total_tokens"),
        F.ceil(F.sum("pack_tokens") * 1.0 / PACK_BUDGET).cast("long").alias("optimal_packs"),
        F.floor(F.sum("pack_tokens") * 10000.0 / (F.count(F.lit(1)) * PACK_BUDGET))
        .cast("long")
        .alias("fill_bp"),
    )


# Classifier-quality audit.
sql_query(
    "lang_id_confusion",
    f"""
    WITH pred AS (
      SELECT lang AS lang_true, {_lang_case_sql()} AS lang_pred FROM documents
    )
    SELECT lang_true, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang_true, lang_pred
    """,
)


# Grouped top-k over corpus counts: the 5 most frequent tokens per
# language — the per-language frequency table a stopword list or
# language-specific quality rule is built from (global counts hide which
# tokens dominate WHICH language).
sql_query(
    "top_terms_by_lang",
    f"""
    WITH tok AS (
      SELECT lang, unnest({_sql_tokens('text')}) AS term FROM documents
    ), cnt AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY 1, 2
    )
    SELECT lang, term, n, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, term) AS rnk
      FROM cnt
    ) WHERE rnk <= 5
    """,
)


# Power-of-two document-length histogram per source (band =
# floor(log2(n_chars))): the heavy-tail shape check run before setting
# chunking and packing parameters.
sql_query(
    "docs_length_bands",
    """
    WITH b AS (
      SELECT source,
             CAST(length(bin(CAST(n_chars AS BIGINT))) - 1 AS INTEGER)
               AS band,
             n_chars
      FROM documents WHERE n_chars > 0
    )
    SELECT source, band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# Simpson diversity gate: the exact-rational repetitiveness signal.

#: Repetitive-document gate: flag when the Simpson diversity index
#: 1 - sum(c_i^2)/n^2 falls below this many ppm (i.e. the chance two
#: random token draws collide exceeds 10%). Exact integer arithmetic —
#: the Shannon-entropy gate's role without the non-portable libm log.
SIMPSON_GATE_PPM = 900_000


@query(
    "text_simpson_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_sql_tokens('text')}) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    st AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           CAST(1000000 * (n_tokens * n_tokens - s2)
                // (n_tokens * n_tokens) AS BIGINT) AS simpson_ppm,
           CAST(100 * n_tokens * n_tokens // s2 AS BIGINT) AS eff_vocab_x100,
           (1000000 * (n_tokens * n_tokens - s2) // (n_tokens * n_tokens))
               < {SIMPSON_GATE_PPM} AS repetitive
    FROM st
    """,
)
def q_text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson token-diversity gate per document: diversity = 1 -
    sum(c_i^2)/n^2 (the probability two random tokens differ) in exact
    ppm, plus the inverse-Simpson "effective vocabulary size" n^2/S in
    centi-units. This is the repetitive-junk filter role that Shannon
    entropy plays in corpus pipelines (Rae et al.'s Gopher rules),
    expressed as an exact rational so Spark and any oracle agree
    bit-for-bit — no libm log, no float summation order.

    Plan: explode tokens -> ONE hash aggregate keyed (doc_id, token)
    with map-side partials -> one (doc_id) re-aggregate. Both keys
    carry doc_id, so AQE-coalesced shuffles stay balanced even with
    hot vocabulary (the token key is never aggregated globally).
    Integer bounds: n^2 * 10^6 stays under 2^63 for docs < ~3M tokens
    (a 3M-token document is a >10 MiB row — bound documented here, far
    above any realistic per-document size after length gating).

    Reference parity: extends the reference's wordcount surface
    (SURVEY.md section 2.4) from corpus-global counts to the per-doc
    diversity statistic used as a quality gate.
    """
    docs = table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    # Input-scaled width for the token exchange (x1000 slope was 1.03
    # at the 32-part default, SCALING_r08): hash by doc_id — a subset
    # of the (doc_id, tok) aggregation keys AND the (doc_id) re-agg
    # keys — so this one wide exchange replaces both default-width
    # ones and the re-agg becomes shuffle-free. No-op below the
    # default width.
    n_wide = wide_shuffle_parts(spark, sf_dir)
    if n_wide:
        ex = ex.repartition(n_wide, "doc_id")
    tf = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    nn = F.col("n_tokens") * F.col("n_tokens")
    simpson = F.expr(
        "CAST(1000000 * (n_tokens * n_tokens - s2)"
        " DIV (n_tokens * n_tokens) AS BIGINT)"
    )
    return st.select(
        "doc_id",
        "n_tokens",
        "n_types",
        simpson.alias("simpson_ppm"),
        F.expr("CAST(100 * n_tokens * n_tokens DIV s2 AS BIGINT)").alias(
            "eff_vocab_x100"
        ),
        (simpson < SIMPSON_GATE_PPM).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# Severity-weighted blocklist gate (safety-filter surface).

#: Blocklist tiers: severity 3 terms block outright; lower tiers
#: accumulate into a weighted score with review/block thresholds.
BLOCK_SEV3 = ("dup", "leak")
BLOCK_SEV2 = ("slow", "crash")
BLOCK_SEV1 = ("stale", "skew")
BLOCK_SCORE_BLOCK = 8
BLOCK_SCORE_REVIEW = 4


# Severity-weighted blocklist gate.
sql_query(
    "text_blocklist_gate",
    f"""
    WITH hits AS (
      SELECT doc_id,
             {_sql_count_in(_sql_tokens('text'), BLOCK_SEV3)} AS n_sev3,
             {_sql_count_in(_sql_tokens('text'), BLOCK_SEV2)} AS n_sev2,
             {_sql_count_in(_sql_tokens('text'), BLOCK_SEV1)} AS n_sev1
      FROM documents
    )
    SELECT doc_id,
           CAST(n_sev3 AS BIGINT) AS n_sev3,
           CAST(n_sev2 AS BIGINT) AS n_sev2,
           CAST(n_sev1 AS BIGINT) AS n_sev1,
           CAST(3 * n_sev3 + 2 * n_sev2 + n_sev1 AS BIGINT) AS score,
           CASE WHEN n_sev3 > 0
                  OR 3 * n_sev3 + 2 * n_sev2 + n_sev1 >= {BLOCK_SCORE_BLOCK}
                THEN 'block'
                WHEN 3 * n_sev3 + 2 * n_sev2 + n_sev1 >= {BLOCK_SCORE_REVIEW}
                THEN 'review'
                ELSE 'pass' END AS verdict
    FROM hits
    """,
)


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve over the shingle space.


@query(
    "vocab_heaps_curve",
    oracle=f"""
    WITH bh AS MATERIALIZED (
      SELECT d.doc_id, u.gram
      FROM (SELECT doc_id,
                   list_distinct(list_transform(
                     CASE WHEN len({_sql_tokens('text')}) >= 3
                          THEN list_transform(range(0, len({_sql_tokens('text')}) - 2),
                               i -> array_to_string(({_sql_tokens('text')})[i + 1 : i + 3], ' '))
                          ELSE [] END,
                     s -> ('0x' || substr(md5('mh_' || s), 1, 8))::BIGINT)) AS bh
            FROM documents) d, unnest(d.bh) AS u(gram)
    ),
    mx AS (SELECT max(doc_id) AS mx FROM documents),
    cuts AS (
      SELECT i AS decile, ((mx + 1) * i) // 10 AS cut
      FROM mx CROSS JOIN (SELECT unnest(range(1, 11)) AS i)
    ),
    firsts AS (
      SELECT gram, min(doc_id) AS first_doc FROM bh GROUP BY gram
    ),
    occs AS (
      SELECT doc_id, count(*) AS n_occ FROM bh GROUP BY doc_id
    )
    SELECT c.decile AS decile,
           CAST((SELECT count(*) FROM documents d WHERE d.doc_id < c.cut)
                AS BIGINT) AS n_docs,
           CAST((SELECT coalesce(sum(o.n_occ), 0) FROM occs o
                 WHERE o.doc_id < c.cut) AS BIGINT) AS n_occurrences,
           CAST((SELECT count(*) FROM firsts f WHERE f.first_doc < c.cut)
                AS BIGINT) AS n_types
    FROM cuts c
    """,
)
def q_vocab_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth readout: distinct 3-gram shingle
    types vs corpus prefix size at ten doc-id deciles — the curve
    whose log-log slope (the Heaps beta) tells a pipeline how vocab
    tables, first-occurrence indexes, and novelty filters will grow
    on the next 10x of data. Unigram vocab saturates instantly on any
    real corpus; the shingle space is where growth lives.

    Plan: one shingle explode feeding BOTH a min-per-gram aggregate
    (first occurrence) and a per-doc occurrence count; ten broadcast
    cut rows then turn each into a 10-row grouped count via a range
    condition on the aggregated relations (never re-scanning text).
    Equivalent to ten prefix queries for the price of one pass.

    Reference parity: growth-curve extension of the reference's
    wordcount (SURVEY.md section 2.4).
    """
    from distributed_mapreduce_spark.workload.dedup import shingle_table

    docs = table(spark, sf_dir, "documents")
    sh = shingle_table(docs)
    bh = sh.select("doc_id", F.explode("bh").alias("gram"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    cuts = (
        spark.range(1, 11)
        .select(F.col("id").cast("long").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select("decile", F.expr("((mx + 1) * decile) DIV 10").alias("cut"))
    )
    firsts = bh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    occs = bh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_occ"))
    c = F.broadcast(cuts)
    n_docs = (
        docs.select("doc_id")
        .join(c, F.col("doc_id") < F.col("cut"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    n_occ = (
        occs.join(c, F.col("doc_id") < F.col("cut"))
        .groupBy("decile")
        .agg(F.sum("n_occ").cast("long").alias("n_occurrences"))
    )
    n_types = (
        firsts.join(c, F.col("first_doc") < F.col("cut"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    )
    return (
        cuts.select("decile")
        .join(n_docs, "decile", "left")
        .join(n_occ, "decile", "left")
        .join(n_types, "decile", "left")
        .select(
            "decile",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_occurrences", F.lit(0)).cast("long").alias("n_occurrences"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
        )
    )
