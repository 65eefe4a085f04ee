"""Corpus-level training-data preparation: benchmark decontamination,
n-gram language-model statistics, tokenizer fertility.

These are the remaining table-stakes operators of an LLM data pipeline
(after dedup/quality/vocab/packing, which live in `dedup.py`,
`text.py`, `quality.py`): strip evaluation-set contamination from the
training corpus, build the count tables a statistical LM (or a
data-mixing heuristic) consumes, and audit how many model tokens each
written word costs per language.

Reference parity note: all three are explode → hash-aggregate → join
pipelines — the reference's wordcount/grep skeleton
(`data/maple-exe.go` / `data/juice-exe.go`) with a second relation
joined in; no operator here exceeds the shuffle vocabulary the
reference's maple/juice surface implies.

Scale notes (100 TB):
- Decontamination joins the exploded training n-grams against the
  DISTINCT benchmark n-gram relation — the benchmark side is
  aggregated first (eval suites are millions of grams, not billions),
  so AQE broadcasts it when small and falls back to a shuffle join
  when not; the training side streams through one explode + one
  equi-join, never a cross product. Grams travel as portable u32
  hashes (md5-derived, same scheme as MinHash shingles), not strings.
- LM bigram counts are two hash aggregations (bigram, unigram) plus
  an equi-join on the first token — map-side partials everywhere;
  the df >= threshold filter caps the output like vocab_build.
- Fertility is a pure per-row expression folded into one per-language
  aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.dedup import (
    _hash_u32,
    _sql_hash_u32,
)
from distributed_mapreduce_spark.workload.quality import (
    VOCAB_MIN_DF as _VOCAB_MIN_DF,
)
from distributed_mapreduce_spark.workload.quality import _ngrams, _sql_ngrams
from distributed_mapreduce_spark.workload.registry import (
    query,
    sql_query,
    table,
    wide_shuffle_parts,
)
from distributed_mapreduce_spark.workload.text import (
    BPE_REGEX,
    STOPWORDS,
    _sql_bp,
    _sql_count_in,
    _sql_tokens,
    _tokens,
)

#: Deterministic eval-set gate: ~1% of docs stand in for the benchmark
#: suite (doc_id % DECON_EVAL_MOD == 0).
DECON_EVAL_MOD = 97

#: Contamination n-gram size. Production decontamination uses 8-13-gram
#: windows; the harness corpus is synthetic with near-zero 8-gram
#: collision mass, so the registered query uses 3 to keep the result
#: set meaningful — the plan is length-independent.
DECON_N = 3

#: Shared-gram count at/above which a training doc is flagged.
DECON_FLAG_MIN = 2

_DECON_SQL = f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_sql_ngrams(_sql_tokens('text'), DECON_N)}) AS grams
      FROM (SELECT doc_id, text FROM documents)
    ), eg AS (
      SELECT DISTINCT {_sql_hash_u32('gram', 'dc_')} AS gh
      FROM t, unnest(grams) AS u(gram)
      WHERE doc_id % {DECON_EVAL_MOD} = 0
    ), tg AS (
      SELECT doc_id, {_sql_hash_u32('gram', 'dc_')} AS gh
      FROM t, unnest(grams) AS u(gram)
      WHERE doc_id % {DECON_EVAL_MOD} <> 0
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shared,
           count(*) >= {DECON_FLAG_MIN} AS contaminated
    FROM tg JOIN eg USING (gh)
    GROUP BY doc_id
"""


@query("decontam_ngram_overlap", oracle=_DECON_SQL)
def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training document, the number of
    distinct {DECON_N}-grams it shares with the (deterministic ~1%)
    eval split, plus a contamination flag at >= {DECON_FLAG_MIN}
    shared grams — the pre-training hygiene pass that keeps test-set
    text out of the training corpus.

    Plan: per-doc DISTINCT gram sets on both sides; the eval side is
    globally deduplicated into a compact (gh) relation BEFORE the join
    (AQE broadcasts it while it fits, shuffle-joins otherwise); one
    equi-join on the u32 gram hash + one per-doc aggregate. Gram
    strings never shuffle — only their hashes."""
    docs = table(spark, sf_dir, "documents")

    def side_grams(pred) -> DataFrame:
        # Filter BEFORE the CPU-heavy shingle+md5 stage: the eval side
        # is ~1% of the corpus, so hashing it from the full relation
        # would do 100x the needed work (measured 4x whole-query cost).
        side = docs.filter(pred).select("doc_id", "text")
        # token array materialized once per row: _ngrams references its
        # input ~5x inside non-codegen HOF lambdas, so an inlined
        # tokenizer would re-run per reference
        return (
            side.select("doc_id", _tokens(F.col("text")).alias("__toks"))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(_ngrams(F.col("__toks"), DECON_N))
                ).alias("gram"),
            )
            .select("doc_id", _hash_u32(F.col("gram"), "dc_").alias("gh"))
        )

    eval_grams = (
        side_grams(F.col("doc_id") % DECON_EVAL_MOD == 0).select("gh").distinct()
    )
    train_grams = side_grams(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        train_grams.join(eval_grams, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= DECON_FLAG_MIN).alias("contaminated"),
        )
    )


#: Bigrams kept in the LM table: corpus count at/above this.
LM_MIN_COUNT = 3


@query(
    "lm_bigram_counts",
    oracle=f"""
    WITH t AS (
      SELECT {_sql_tokens('text')} AS toks FROM documents
    ), bg AS (
      SELECT gram,
             string_split(gram, ' ')[1] AS w1,
             CAST(count(*) AS BIGINT) AS c2
      FROM t, unnest({_sql_ngrams('toks', 2)}) AS u(gram)
      GROUP BY gram
    ), ug AS (
      SELECT tok AS w1, CAST(count(*) AS BIGINT) AS c1
      FROM t, unnest(toks) AS u(tok)
      GROUP BY tok
    )
    SELECT bg.gram AS bigram, bg.c2 AS n_bigram, ug.c1 AS n_unigram,
           CAST(bg.c2 * 10000 // ug.c1 AS BIGINT) AS cond_bp
    FROM bg JOIN ug ON bg.w1 = ug.w1
    WHERE bg.c2 >= {LM_MIN_COUNT}
    """,
)
def q_lm_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM count table: corpus bigram counts joined with the
    first token's unigram count, and the conditional probability
    P(w2|w1) in exact basis points (integer floor — bit-portable,
    unlike float log-probs). Thresholded like vocab_build so the
    output is the Heaps'-law-sublinear head, not the raw tail.

    Plan: one explode per granularity, two hash aggregations with
    map-side partials, one equi-join on w1 (AQE-chosen strategy — the
    unigram table is sublinear but unbounded)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(_tokens(F.col("text")).alias("toks"))
    bg = (
        toks.select(F.explode(_ngrams(F.col("toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .filter(F.col("n_bigram") >= LM_MIN_COUNT)
        .select(
            F.col("gram").alias("bigram"),
            F.split(F.col("gram"), " ").getItem(0).alias("w1"),
            "n_bigram",
        )
    )
    ug = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n_unigram"))
    )
    return bg.join(ug, "w1").select(
        "bigram",
        "n_bigram",
        "n_unigram",
        F.expr("(n_bigram * 10000) DIV n_unigram").cast("long").alias("cond_bp"),
    )


@query(
    "quality_lm_fluency",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    ), db AS MATERIALIZED (
      SELECT doc_id, gram FROM t, unnest({_sql_ngrams('toks', 2)}) AS u(gram)
    ), bg AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS c2 FROM db GROUP BY gram
    ), ug AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c1
      FROM t, unnest(toks) AS u(tok) GROUP BY tok
    ), cond AS (
      SELECT bg.gram, CAST(bg.c2 * 10000 // ug.c1 AS BIGINT) AS cond_bp
      FROM bg JOIN ug ON string_split(bg.gram, ' ')[1] = ug.tok
    )
    SELECT db.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cond_bp) // count(*) AS BIGINT) AS fluency_bp
    FROM db JOIN cond USING (gram)
    GROUP BY db.doc_id
    """,
)
def q_quality_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM fluency score — the CCNet-style perplexity
    filter reshaped to integer arithmetic: each document's mean
    conditional bigram probability P(w2|w1) under the corpus's own
    bigram LM, in exact basis points. Low fluency_bp = improbable word
    sequences (gibberish, shuffled text, OCR noise); the per-doc score
    a quality pipeline thresholds where a neural LM would threshold
    perplexity. (Mean of P rather than of -log P: a monotone integer
    surrogate — the repo-wide no-in-engine-log policy.)

    Plan: the doc-bigram stream is exploded ONCE and reused for both
    the corpus count table (hash-agg, Heaps'-sublinear output) and the
    per-doc scoring join (equi-join on the bigram, shuffle carries
    gram + two ints); unigram denominators join on the first token.
    No windows, no cross joins; docs with < 2 tokens have no bigrams
    and drop out, matching the oracle."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    db = t.select("doc_id", F.explode(_ngrams(F.col("toks"), 2)).alias("gram"))
    bg = db.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    ug = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    cond = (
        bg.join(ug, F.split(F.col("gram"), " ").getItem(0) == F.col("tok"))
        .select("gram", F.expr("(c2 * 10000) DIV c1").cast("long").alias("cond_bp"))
    )
    return (
        db.join(cond, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(cond_bp) DIV count(1)").cast("long").alias("fluency_bp"),
        )
    )


# Tokenizer fertility audit per language.
sql_query(
    "tokenizer_fertility",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_sql_tokens('text')})) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(text, '{BPE_REGEX}'))) AS BIGINT)
             AS n_bpe_tokens,
           CAST(sum(len(regexp_extract_all(text, '{BPE_REGEX}'))) * 10000
                // sum(len({_sql_tokens('text')})) AS BIGINT) AS fertility_bp,
           CAST(sum(n_chars) * 10000
                // sum(len(regexp_extract_all(text, '{BPE_REGEX}'))) AS BIGINT)
             AS chars_per_token_bp
    FROM documents
    GROUP BY lang
    """,
)


#: Incremental-dedup batch gate: the top decile of doc_ids stands in
#: for "today's crawl"; everything else is the existing corpus.
INCR_BATCH_MOD, INCR_BATCH_REM = 10, 9

_INCR_SQL = f"""
    WITH fp AS (
      SELECT doc_id, md5(text) AS fp,
             doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_REM} AS is_new
      FROM documents
    ), corpus AS (
      SELECT DISTINCT fp FROM fp WHERE NOT is_new
    ), batch AS (
      SELECT doc_id, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp WHERE is_new
    )
    SELECT b.doc_id,
           CASE WHEN c.fp IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.rn > 1 THEN 'dup_within_batch'
                ELSE 'new' END AS status
    FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
"""


# Incremental dedup — the shape a daily ingestion run executes: classify
# each NEW document (deterministic batch gate) as a duplicate of the
# existing corpus, a duplicate within its own batch, or genuinely new.
sql_query("dedup_incremental", _INCR_SQL)


#: Filter thresholds (Gopher-rule-shaped, tuned to the harness corpus):
#: bit 1 too-short, bit 2 punctuation-heavy, bit 4 stopword-poor,
#: bit 8 repetitive (duplicate-trigram mass).
QF_MIN_TOKENS = 20
QF_MAX_PUNCT_BP = 1500
QF_MIN_STOPWORD_BP = 200
QF_MAX_DUP_TRI_BP = 2000


# Explainable quality filtering.
q_quality_filter_reasons = sql_query(
    "quality_filter_reasons",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_sql_tokens('text')} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             {_sql_bp("length(text) - length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))",
                      'length(text)')} AS punct_bp,
             {_sql_bp(_sql_count_in('toks', STOPWORDS), 'len(toks)')} AS stopword_bp,
             {_sql_bp(f"len({_sql_ngrams('toks', 3)}) - len(list_distinct({_sql_ngrams('toks', 3)}))",
                      f"len({_sql_ngrams('toks', 3)})")} AS dup_tri_bp
      FROM t
    )
    SELECT doc_id,
           CAST(CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 1 ELSE 0 END
              + CASE WHEN punct_bp > {QF_MAX_PUNCT_BP} THEN 2 ELSE 0 END
              + CASE WHEN stopword_bp < {QF_MIN_STOPWORD_BP} THEN 4 ELSE 0 END
              + CASE WHEN dup_tri_bp > {QF_MAX_DUP_TRI_BP} THEN 8 ELSE 0 END
             AS INTEGER) AS reason_mask,
           (n_tokens >= {QF_MIN_TOKENS} AND punct_bp <= {QF_MAX_PUNCT_BP}
            AND stopword_bp >= {QF_MIN_STOPWORD_BP}
            AND dup_tri_bp <= {QF_MAX_DUP_TRI_BP}) AS kept
    FROM s
    """,
)


#: Passage width (tokens) for cross-document boilerplate detection.
PASSAGE_N = 3


@query(
    "dedup_repeated_passages",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_sql_ngrams(_sql_tokens('text'), PASSAGE_N)}) AS grams
      FROM documents
    ), g AS (
      SELECT doc_id, {_sql_hash_u32('gram', 'pp_')} AS gh
      FROM t, unnest(grams) AS u(gram)
    ), idx AS (
      SELECT gh, count(*) AS nd FROM g GROUP BY gh
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(count(*) FILTER (idx.nd > 1) AS BIGINT) AS n_shared,
           {_sql_bp('count(*) FILTER (idx.nd > 1)', 'count(*)')} AS boilerplate_bp
    FROM g JOIN idx USING (gh)
    GROUP BY g.doc_id
    """,
)
def q_dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage mass: per document, how many of
    its distinct {PASSAGE_N}-token passages also occur in OTHER
    documents (in basis points) — the boilerplate/template signal a
    corpus pipeline uses to strip navigation chrome, license headers,
    and mirrored text (the passage-level complement of whole-doc
    dedup).

    Plan: per-doc DISTINCT passage hashes (strings never leave the
    projection); one hash aggregate builds the corpus passage index
    (gh → doc count, the Heaps'-sublinear relation); one equi-join
    back + per-doc aggregate. Map-side partials throughout, no
    self-join of the raw corpus."""
    docs = table(spark, sf_dir, "documents")
    g = (
        # token array materialized once per row (see decontam note)
        docs.select("doc_id", _tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_ngrams(F.col("__toks"), PASSAGE_N))
            ).alias("gram"),
        )
        .select("doc_id", _hash_u32(F.col("gram"), "pp_").alias("gh"))
    )
    # Input-scaled width for the passage-hash exchanges (same shape and
    # fix as text_ngram_novelty): at x1000 the 32-wide default buffers
    # ~20x more per task and the run died on shuffle spill + GC thrash
    # (round-10 re-measure crash, SCALING r10). Hash by gh once — the
    # index aggregate and the equi-join reuse it; re-key the same
    # volume by doc_id for the final rollup. No-op below the default.
    n_wide = wide_shuffle_parts(spark, sf_dir)
    if n_wide:
        g = g.repartition(n_wide, "gh")
    idx = g.groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
    joined = g.join(idx, "gh")
    if n_wide:
        joined = joined.repartition(n_wide, "doc_id")
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        shared.cast("long").alias("n_shared"),
        F.floor(shared * 10000 / F.count(F.lit(1))).cast("long").alias("boilerplate_bp"),
    )


# --- model-based quality gate (fastText-style hashed linear model) ----------

#: Hashed bag-of-words dimensionality of the quality classifier.
QM_DIM = 64
#: Per-occurrence weight added to a stopword's hash bucket / the
#: negative prior every token pays (micro-units per token).
QM_W_STOP, QM_W_BASE = 205, -5


def _qm_bucket_py(tok: str) -> int:
    """Python twin of `_hash_u32(tok, 'qm_') % QM_DIM` (same md5
    scheme, so the weight table below lines up with both engines)."""
    import hashlib

    return int(hashlib.md5(("qm_" + tok).encode()).hexdigest()[:8], 16) % QM_DIM


#: The model: a literal integer weight per hash bucket, "trained" to
#: reproduce the stopword-density signal (the dominant rule-gate
#: feature) — every bucket carries the QM_W_BASE prior, buckets that a
#: stopword hashes into additionally carry QM_W_STOP per stopword
#: (collisions simply stack, as in any hashed-feature model). The
#: table is computed ONCE here in Python and inlined as literals into
#: BOTH engines, so scoring is integer-exact and platform-independent
#: (the ndcg literal-weights pattern). At real scale this is exactly a
#: broadcast of a trained weight vector.
def _qm_weights() -> list[int]:
    w = [QM_W_BASE] * QM_DIM
    for s in STOPWORDS:
        w[_qm_bucket_py(s)] += QM_W_STOP
    return w


QM_WEIGHTS = _qm_weights()

_QM_SQL_W = "[" + ", ".join(str(x) for x in QM_WEIGHTS) + "]"
#: Keep iff the 1e6-fixed-point per-token mean weight clears this bar.
#: 40e6 (mean weight ≥ 40/token ≈ 22% of token mass in positive buckets,
#: collisions included) sits at the harness corpus's median score, so
#: the learned gate produces a real split for the agreement audit
#: rather than a constant verdict.
QM_KEEP_MIN_MICRO = 40_000_000

_QM_SCORE_SQL = f"""
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(toks,
                    t -> ({_QM_SQL_W})[({_sql_hash_u32('t', 'qm_')} % {QM_DIM}) + 1])), 0)
               AS BIGINT) AS logit_sum
      FROM (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents)
"""


def _qm_score_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, logit_sum): the hashed-linear score, fully
    JVM-side — one transform+aggregate over the token array against the
    64-literal weight table; no explode, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    warr = F.array(*[F.lit(x) for x in QM_WEIGHTS])
    toks = _tokens(F.col("text"))
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(
            warr, (_hash_u32(t, "qm_") % QM_DIM + 1).cast("int")
        ).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score.alias("logit_sum"),
    )


@query(
    "quality_model_logit",
    oracle=f"""
    WITH s AS ({_QM_SCORE_SQL})
    SELECT doc_id, n_tokens, logit_sum,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                     ELSE (logit_sum * 1000000) // n_tokens END AS BIGINT)
             AS logit_pt_micro,
           (n_tokens > 0 AND
            (logit_sum * 1000000) // n_tokens >= {QM_KEEP_MIN_MICRO}) AS model_keep
    FROM s
    """,
)
def q_quality_model_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a fastText-style linear classifier
    over hashed bag-of-words features, scored entirely in-plan — the
    standard learned corpus-quality gate alongside the rule-based
    `quality_filter_reasons`. The weight vector (QM_WEIGHTS, {QM_DIM}
    buckets) is inlined as literals — at 100 TB this is a broadcast
    variable and the score remains one columnar fold per row (zero
    shuffle, zero Python).

    `logit_pt_micro` is the integer per-token mean logit (micro-units,
    truncated toward zero identically by Spark `DIV` and DuckDB `//`);
    `model_keep` thresholds it at {QM_KEEP_MIN_MICRO}."""
    s = _qm_score_df(spark, sf_dir)
    per_tok = F.expr(
        "CASE WHEN n_tokens = 0 THEN 0 ELSE (logit_sum * 1000000) DIV n_tokens END"
    ).cast("long")
    return s.select(
        "doc_id",
        "n_tokens",
        "logit_sum",
        per_tok.alias("logit_pt_micro"),
        (
            (F.col("n_tokens") > 0)
            & (
                F.expr("(logit_sum * 1000000) DIV n_tokens")
                >= F.lit(QM_KEEP_MIN_MICRO)
            )
        ).alias("model_keep"),
    )


def _agreement_oracle() -> str:
    """Compose the agreement oracle from the REGISTERED gate oracles
    (both defined earlier in this module, so no cross-module import
    -order dependency — the `_combined_decontam_oracle` pattern): the
    rule expression lives in exactly one SQL string, mirroring how the
    Spark side reuses q_quality_filter_reasons/q_quality_model_logit."""
    from distributed_mapreduce_spark.workload.registry import ORACLES

    mk = ORACLES["quality_model_logit"]
    rk = ORACLES["quality_filter_reasons"]
    return f"""
    WITH mk AS MATERIALIZED (SELECT doc_id, model_keep FROM ({mk})),
    rk AS MATERIALIZED (SELECT doc_id, kept AS rule_keep FROM ({rk}))
    SELECT model_keep, rule_keep, CAST(count(*) AS BIGINT) AS n_docs
    FROM mk JOIN rk USING (doc_id)
    GROUP BY model_keep, rule_keep
    """


@query("quality_model_rule_agreement", oracle=_agreement_oracle())
def q_quality_model_rule_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between the learned gate (`quality_model_logit`)
    and the rule gate (`quality_filter_reasons`): the 2×2 confusion
    counts a pipeline reviews before swapping gates. Both verdicts are
    computed per-row in the same scan pass (the equi-join on doc_id is
    the oracle's formulation; Catalyst sees two projections of the same
    relation), and the output is ≤4 rows."""
    m = q_quality_model_logit(spark, sf_dir).select("doc_id", "model_keep")
    r = q_quality_filter_reasons(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("rule_keep")
    )
    return (
        m.join(r, "doc_id")
        .groupBy("model_keep", "rule_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


#: Exact-substring window width (tokens) for duplicated-span runs.
ES_K = 4


@query(
    "dedup_exact_substring_runs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_sql_ngrams(_sql_tokens('text'), ES_K)} AS grams
      FROM documents
    ), g0 AS (
      SELECT doc_id, unnest(grams) AS gram,
             generate_subscripts(grams, 1) - 1 AS pos
      FROM t
    ), g AS MATERIALIZED (
      SELECT doc_id, pos, {_sql_hash_u32('gram', 'es_')} AS gh FROM g0
    ), idx AS (
      SELECT gh FROM g GROUP BY gh HAVING count(*) > 1
    ), d AS (
      SELECT doc_id, pos FROM g JOIN idx USING (gh)
    ), r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS run_start,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) + {ES_K - 1} AS BIGINT) AS span_tokens
    FROM r GROUP BY doc_id, grp
    """,
)
def q_dedup_exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans, Lee et al. "Deduplicating
    Training Data" granularity: per document, the MAXIMAL runs of
    consecutive token positions whose {ES_K}-token window occurs more
    than once in the corpus — the exact spans an ExactSubstr pass would
    cut, the granularity between whole-doc fingerprints
    (`dedup_exact`) and per-window counts (`dedup_repeated_passages`).

    A run starting at `run_start` covering `n_windows` consecutive
    duplicated windows marks a duplicated substring of
    `n_windows + {ES_K - 1}` tokens.

    Plan (suffix-array-free, shuffle-bounded): positions + window
    hashes via one posexplode projection (strings die in the map
    stage); ONE hash aggregate builds the duplicated-window index
    (HAVING count>1 — the Heaps'-sublinear relation); one equi-join
    marks duplicated positions; the gaps-and-islands merge is a
    row_number window PARTITIONED BY doc_id (per-doc rows, never a
    global sort). Nothing here is the O(corpus²) pairwise compare and
    nothing needs the 100 TB suffix array — the index relation is the
    only shuffled state.
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    g = (
        # token array materialized once per row (see decontam note)
        docs.select("doc_id", _tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.posexplode(_ngrams(F.col("__toks"), ES_K)).alias("pos", "gram"),
        )
        .select("doc_id", "pos", _hash_u32(F.col("gram"), "es_").alias("gh"))
    )
    idx = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gh")
    )
    dup = g.join(idx, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    r = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return r.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("run_start"),
        F.count(F.lit(1)).alias("n_windows"),
        (F.count(F.lit(1)) + F.lit(ES_K - 1)).cast("long").alias("span_tokens"),
    ).select("doc_id", "run_start", "n_windows", "span_tokens")


@query(
    "dedup_exact_substring_strip",
    oracle=f"""
    WITH t0 AS MATERIALIZED (
      SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents
    ), tk AS MATERIALIZED (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS t
      FROM t0
    ), gr AS (
      SELECT doc_id, {_sql_ngrams('toks', ES_K)} AS grams FROM t0
    ), g0 AS (
      SELECT doc_id, unnest(grams) AS gram,
             generate_subscripts(grams, 1) - 1 AS pos
      FROM gr
    ), g AS MATERIALIZED (
      SELECT doc_id, pos, {_sql_hash_u32('gram', 'es_')} AS gh FROM g0
    ), idx AS MATERIALIZED (
      SELECT gh, MIN(doc_id) AS cd FROM g GROUP BY gh HAVING count(*) > 1
    ), can AS MATERIALIZED (
      SELECT g.gh, idx.cd, MIN(g.pos) AS cp
      FROM g JOIN idx ON g.gh = idx.gh AND g.doc_id = idx.cd
      GROUP BY g.gh, idx.cd
    ), occ AS (
      SELECT g.doc_id, g.pos,
             (g.doc_id = can.cd AND g.pos = can.cp) AS is_canon
      FROM g JOIN can ON g.gh = can.gh
    ), cover AS (
      SELECT doc_id, pos + k.i AS t, is_canon
      FROM occ, unnest(generate_series(0, {ES_K - 1})) AS k(i)
    ), rem AS MATERIALIZED (
      SELECT doc_id, t FROM cover GROUP BY doc_id, t
      HAVING max(CASE WHEN is_canon THEN 1 ELSE 0 END) = 0
    ), kept AS (
      SELECT tk.doc_id, tk.t, tk.tok
      FROM tk LEFT JOIN rem ON tk.doc_id = rem.doc_id AND tk.t = rem.t
      WHERE rem.doc_id IS NULL
    ), cl AS MATERIALIZED (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY t) AS clean_text,
             COUNT(*)::BIGINT AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len({_sql_tokens('text')}) AS BIGINT) AS n_tokens,
           COALESCE(cl.n_kept, 0) AS n_kept,
           CAST(len({_sql_tokens('text')}) - COALESCE(cl.n_kept, 0) AS BIGINT)
             AS n_removed,
           COALESCE(cl.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN cl USING (doc_id)
    """,
)
def q_dedup_exact_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORMATION twin of `dedup_exact_substring_runs`: emit the
    cleaned corpus itself, Lee et al. "keep one occurrence" semantics. A
    token is dropped iff it is covered by a duplicated {ES_K}-token
    window AND none of its covering windows is the canonical (global
    min-(doc_id,pos)) occurrence of that window's hash — so exactly one
    copy of every duplicated substring survives, and tokens shared
    between a canonical and a non-canonical span stay put.

    `clean_text` is the single-space re-join of the surviving token
    stream (token-stream semantics, as any whitespace tokenizer sees
    the document).

    Plan (nothing all-pairs, nothing driver-side): the duplicated-
    window index and its canonical occurrence are one aggregate each
    over the window-hash relation; coverage explodes ONLY duplicated
    occurrences ({ES_K}× those rows, not the corpus); removal verdicts
    and reassembly group by (doc, pos) / doc — per-doc bounded state.
    At 100 TB the canonical choice is the same corpus-global
    min-(doc, pos) rule Lee et al.'s suffix-array pass applies, found
    here with a hash aggregate instead of a suffix array."""
    from pyspark.sql import Window as _W  # noqa: F401 (parity with runs)

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("t", "tok")
    )
    g = (
        # token array materialized once per row (see decontam note)
        docs.select("doc_id", _tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.posexplode(_ngrams(F.col("__toks"), ES_K)).alias("pos", "gram"),
        )
        .select("doc_id", "pos", _hash_u32(F.col("gram"), "es_").alias("gh"))
    )
    # Canonical occurrence via two HASH aggregates instead of
    # min(struct(doc_id, pos)): a struct min cannot live in an UnsafeRow
    # aggregation buffer, so Catalyst planned a SortAggregate — two full
    # sorts (partial+final) of the corpus-wide gram relation (r12
    # before-plan nodes 21-25). The lexicographic pair minimum
    # decomposes exactly: min doc_id per hash, then that doc's min pos
    # (min_by over the per-(gh, doc) partials, unique doc_id per group
    # so no tie). Both levels are fixed-width longs — partial-agg,
    # hash-agg, no sort.
    per_doc = g.groupBy("gh", "doc_id").agg(
        F.min("pos").alias("mp"), F.count(F.lit(1)).alias("c")
    )
    idx = (
        per_doc.groupBy("gh")
        .agg(
            F.sum("c").alias("cnt"),
            F.min("doc_id").alias("cd"),
            F.min_by("mp", "doc_id").alias("cp"),
        )
        .filter(F.col("cnt") > 1)
        .select(
            "gh",
            F.struct(
                F.col("cd").alias("doc_id"), F.col("cp").alias("pos")
            ).alias("canon"),
        )
    )
    occ = g.join(idx, "gh").select(
        "doc_id",
        "pos",
        (
            (F.col("canon.doc_id") == F.col("doc_id"))
            & (F.col("canon.pos") == F.col("pos"))
        ).alias("is_canon"),
    )
    cover = occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (ES_K - 1))).alias("t"),
        "is_canon",
    )
    rem = (
        cover.groupBy("doc_id", "t")
        .agg(F.max(F.col("is_canon").cast("int")).alias("has_canon"))
        .filter(F.col("has_canon") == 0)
        .select("doc_id", "t")
    )
    kept = toks.join(rem, ["doc_id", "t"], "left_anti")
    cl = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        docs.select(
            "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
        )
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


#: Priority-sample size (uniform-without-replacement via hash order).
PRIO_K = 100
#: Per-source quota for the balanced annotation subset.
QUOTA_PER_SOURCE = 5


# Deterministic uniform k-sample (priority sampling): the k smallest md5
# priorities win, reproducible across engines and cluster sizes.
sql_query(
    "priority_sample_k",
    f"""
    SELECT doc_id, source,
           {_sql_hash_u32("CAST(doc_id AS STRING)", 'prio_')} AS prio
    FROM documents
    ORDER BY prio, doc_id
    LIMIT {PRIO_K}
    """,
)


# Balanced subset: QUOTA_PER_SOURCE docs per source, picked by md5
# priority within the source (one window per source partition).
sql_query(
    "stratified_quota_sample",
    f"""
    SELECT doc_id, source, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_sql_hash_u32("CAST(doc_id AS STRING)", 'quota_')}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= {QUOTA_PER_SOURCE}
    """,
)


@query(
    "corpus_report",
    oracle=f"""
    SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM documents
    UNION ALL
    SELECT 'total_tokens', CAST(sum(len({_sql_tokens('text')})) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'n_dup_docs',
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'vocab_size', CAST(count(*) AS BIGINT) FROM (
      SELECT tok FROM (SELECT doc_id, unnest({_sql_tokens('text')}) AS tok
                       FROM documents)
      GROUP BY tok HAVING count(DISTINCT doc_id) >= {_VOCAB_MIN_DF}
    )
    UNION ALL
    SELECT 'n_contaminated', CAST(count(*) AS BIGINT) FROM ({_DECON_SQL})
    WHERE contaminated
    """,
)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health dashboard in long (metric, value) format: document
    count, total whitespace tokens, exact-duplicate surplus, surviving
    vocabulary size, and eval-contaminated doc count — the one-glance
    readout a data pipeline publishes per snapshot.

    Plan: each metric is an independent aggregate over its own pruned
    scan, unioned as 1-row relations (long format deliberately avoids
    joining 1-row aggregates, which would plan as nested-loop
    products). Each leg inherits its source query's scale posture."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"), "doc_id")

    n_docs = docs.agg(
        F.lit("n_docs").alias("metric"), F.count(F.lit(1)).cast("long").alias("value")
    )
    total_tokens = docs.agg(
        F.lit("total_tokens").alias("metric"),
        F.sum(F.size(_tokens(F.col("text")))).cast("long").alias("value"),
    )
    n_dup = docs.agg(
        F.lit("n_dup_docs").alias("metric"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5(F.col("text"))))
        .cast("long")
        .alias("value"),
    )
    vocab_size = (
        toks.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _VOCAB_MIN_DF)
        .agg(
            F.lit("vocab_size").alias("metric"),
            F.count(F.lit(1)).cast("long").alias("value"),
        )
    )
    contaminated = (
        q_decontam_ngram_overlap(spark, sf_dir)
        .filter(F.col("contaminated"))
        .agg(
            F.lit("n_contaminated").alias("metric"),
            F.count(F.lit(1)).cast("long").alias("value"),
        )
    )
    return (
        n_docs.unionAll(total_tokens)
        .unionAll(n_dup)
        .unionAll(vocab_size)
        .unionAll(contaminated)
    )


# Adaptive quality gate.
sql_query(
    "quality_percentile_gate",
    f"""
    WITH t AS (
      SELECT doc_id, source, len({_sql_tokens('text')}) AS n_tokens FROM documents
    ), b AS (
      SELECT quantile_cont(n_tokens, 0.10) AS p10,
             quantile_cont(n_tokens, 0.90) AS p90
      FROM t
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t, b
    WHERE n_tokens >= b.p10 AND n_tokens <= b.p90
    GROUP BY source
    """,
)


#: Epoch weights in centi-repeats by source tier: heads duplicated
#: 2.5x, mids kept once, tails down at 0.4x.
EPOCH_HEAD_CW, EPOCH_MID_CW, EPOCH_TAIL_CW = 250, 100, 40


# Epoch construction manifest: per-document repeat counts under
# fractional source weights (floor(w) guaranteed copies + one more with
# probability frac(w), decided by the deterministic hash gate) — the
# up-sampling complement of `corpus_mixture_sample`'s down-sampling:
# curated heads repeat 2.5x per epoch, the crawl tail thins to 0.4x. A
# re-run on any cluster reproduces the exact same epoch. Rolled up per
# source for the mixture audit.
sql_query(
    "epoch_repeat_manifest",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) < 5 THEN {EPOCH_HEAD_CW}
                  WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN {EPOCH_MID_CW}
                  ELSE {EPOCH_TAIL_CW} END AS cw,
             ('0x' || substr(md5('epoch_' || CAST(doc_id AS STRING)), 1, 8))::BIGINT
               % 100 AS h
      FROM documents
    ), r AS (
      SELECT doc_id, source,
             CAST(cw // 100 + CASE WHEN h < cw % 100 THEN 1 ELSE 0 END AS BIGINT)
               AS n_repeats
      FROM w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_repeats) AS BIGINT) AS epoch_copies,
           CAST(sum(CASE WHEN n_repeats = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM r GROUP BY source
    """,
)


#: Minimum support for a token pair to be reported (low enough to
#: yield rules even on the sf0.001 fixture's 200 parts).
FP_MIN_SUPPORT = 5


@query(
    "frequent_token_pairs",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey, list_distinct({_sql_tokens('p_name')}) AS toks FROM part
    ), pairs AS (
      SELECT ua.tok AS tok_a, ub.tok AS tok_b
      FROM t, unnest(toks) AS ua(tok), unnest(t.toks) AS ub(tok)
      WHERE ua.tok < ub.tok
    )
    SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS support
    FROM pairs GROUP BY tok_a, tok_b
    HAVING count(*) >= {FP_MIN_SUPPORT}
    """,
)
def q_frequent_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise frequent-itemset mining over part names: co-occurring
    token pairs with support >= {FP_MIN_SUPPORT} — the first (and at
    scale, usually only materialized) level of market-basket / FP
    analysis. Within-row pair generation is bounded by row arity
    (names are a few tokens), so the fan-out is a constant factor,
    not a cross join; the count is one hash aggregate with map-side
    partials.

    Plan: distinct tokens per row → within-row ordered pair explode →
    (tok_a, tok_b) hash aggregate + support filter."""
    part = table(spark, sf_dir, "part")
    t = part.select(F.array_distinct(_tokens(F.col("p_name"))).alias("toks"))
    a = t.select(F.explode("toks").alias("tok_a"), "toks")
    pairs = a.select(
        "tok_a", F.explode("toks").alias("tok_b")
    ).filter(F.col("tok_a") < F.col("tok_b"))
    return (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= FP_MIN_SUPPORT)
    )


@query(
    "association_rules",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey, list_distinct({_sql_tokens('p_name')}) AS toks FROM part
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows FROM t
    ), item AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS s1
      FROM t, unnest(toks) AS u(tok) GROUP BY tok
    ), pairs AS (
      SELECT ua.tok AS tok_a, ub.tok AS tok_b, CAST(count(*) AS BIGINT) AS s2
      FROM t, unnest(toks) AS ua(tok), unnest(t.toks) AS ub(tok)
      WHERE ua.tok < ub.tok
      GROUP BY ua.tok, ub.tok
      HAVING count(*) >= {FP_MIN_SUPPORT}
    )
    SELECT p.tok_a AS antecedent, p.tok_b AS consequent, p.s2 AS support,
           CAST(p.s2 * 10000 // ia.s1 AS BIGINT) AS confidence_bp,
           CAST(p.s2 * n.n_rows * 10000 // (ia.s1 * ib.s1) AS BIGINT) AS lift_bp
    FROM pairs p
    JOIN item ia ON ia.tok = p.tok_a
    JOIN item ib ON ib.tok = p.tok_b
    CROSS JOIN n
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b from the frequent pairs: exact integer
    confidence (support(ab)/support(a)) and lift
    (support(ab)·N / (support(a)·support(b))), both in basis points —
    the market-basket readout layer over `frequent_token_pairs`
    (lift > 10000 ⇔ positive association).

    Plan: the item-support and pair-support aggregates, two equi-joins
    on the single-token key (AQE broadcast while the item table is
    small), and the 1-row total broadcast — integer floor arithmetic
    end to end."""
    part = table(spark, sf_dir, "part")
    t = part.select(F.array_distinct(_tokens(F.col("p_name"))).alias("toks"))
    n = t.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    item = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("s1"))
    )
    pairs = (
        t.select(F.explode("toks").alias("tok_a"), "toks")
        .select("tok_a", F.explode("toks").alias("tok_b"))
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("s2"))
        .filter(F.col("s2") >= FP_MIN_SUPPORT)
    )
    ia = item.withColumnsRenamed({"tok": "tok_a", "s1": "sa"})
    ib = item.withColumnsRenamed({"tok": "tok_b", "s1": "sb"})
    j = pairs.join(ia, "tok_a").join(ib, "tok_b").crossJoin(F.broadcast(n))
    return j.select(
        F.col("tok_a").alias("antecedent"),
        F.col("tok_b").alias("consequent"),
        F.col("s2").alias("support"),
        F.expr("(s2 * 10000) DIV sa").cast("long").alias("confidence_bp"),
        F.expr("(s2 * n_rows * 10000) DIV (sa * sb)").cast("long").alias("lift_bp"),
    )


#: Drift gate in basis points of absolute proportion difference.
DRIFT_BP_MIN = 20

#: Top tokens (by corpus count) screened for drift.
DRIFT_TOPK = 50

_DRIFT_SQL = f"""
    WITH toks AS (
      SELECT source, unnest({_sql_tokens('text')}) AS term FROM documents
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all FROM toks
    ), topk AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt_all FROM toks
      GROUP BY term ORDER BY cnt_all DESC, term LIMIT {DRIFT_TOPK}
    ), per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM toks GROUP BY source
    ), src_tok AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM toks
      GROUP BY source, term
    ), j AS (
      SELECT p.source, t.term, coalesce(st.c, 0) AS a,
             p.n_src, t.cnt_all, n.n_all
      FROM per_src p CROSS JOIN topk t
      LEFT JOIN src_tok st ON st.source = p.source AND st.term = t.term
      CROSS JOIN tot n
    )
    SELECT source, term,
           CAST(a AS BIGINT) AS cnt_src,
           n_src,
           CAST(cnt_all - a AS BIGINT) AS cnt_rest,
           CAST(n_all - n_src AS BIGINT) AS n_rest,
           CAST(CASE WHEN n_src * (n_all - n_src) = 0 THEN 0
                ELSE abs(CAST(a AS HUGEINT) * (n_all - n_src)
                         - CAST(cnt_all - a AS HUGEINT) * n_src) * 10000
                     // (CAST(n_src AS HUGEINT) * (n_all - n_src)) END AS BIGINT)
             AS drift_bp,
           CASE WHEN n_src * (n_all - n_src) = 0 THEN false
                ELSE abs(CAST(a AS HUGEINT) * (n_all - n_src)
                         - CAST(cnt_all - a AS HUGEINT) * n_src) * 10000
                     >= {DRIFT_BP_MIN}
                        * (CAST(n_src AS HUGEINT) * (n_all - n_src)) END
             AS drifted
    FROM j
"""


# Corpus-mixture drift monitor.
sql_query(
    "source_token_drift",
    _DRIFT_SQL,
)


#: Sample size for the weighted priority sample.
WPRIO_K = 64


# Weight-proportional sample (Duffield-Lund-Thorup priority sampling):
# priority n_chars / (1 + md5 uniform), k largest win. One IEEE division
# of exact integers, so both engines compute bit-identical doubles.
sql_query(
    "weighted_sample_priority",
    f"""
    WITH pr AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
             CAST(n_chars AS DOUBLE)
               / (1 + {_sql_hash_u32("CAST(doc_id AS STRING)", 'wprio_')})
               AS prio
      FROM documents
    )
    SELECT doc_id, source, weight, prio
    FROM pr ORDER BY prio DESC, doc_id LIMIT {WPRIO_K}
    """,
)


# Deduplicated token budget per source.
sql_query(
    "source_effective_tokens",
    f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(len({_sql_tokens('text')}) AS BIGINT)
               AS n_tokens,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fp
      FROM documents
    ), first_d AS (
      SELECT fp, min(doc_id) AS first_doc FROM d GROUP BY fp
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_tokens) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN f.first_doc = d.doc_id
                    THEN d.n_tokens ELSE 0 END) AS BIGINT)
             AS effective_tokens,
           {_sql_bp(
               "sum(CASE WHEN f.first_doc = d.doc_id THEN 0 ELSE d.n_tokens END)",
               "sum(d.n_tokens)")} AS dup_token_bp
    FROM d JOIN first_d f ON d.fp = f.fp
    GROUP BY d.source
    """,
)


@query(
    "vocab_oov_rate_by_source",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT source, unnest({_sql_tokens('text')}) AS term FROM documents
    ), vocab AS MATERIALIZED (
      SELECT term FROM (
        SELECT unnest({_sql_tokens('text')}) AS term, doc_id FROM documents
      ) GROUP BY term HAVING count(DISTINCT doc_id) >= 5
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (v.term IS NULL) AS BIGINT) AS oov_tokens,
           {_sql_bp("count(*) FILTER (v.term IS NULL)", "count(*)")}
             AS oov_bp
    FROM tok t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.source
    """,
)
def q_vocab_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per source against the
    df-thresholded vocabulary (`vocab_build`'s df >= 5 rule): a high
    OOV share marks a source whose token distribution the tokenizer /
    vocab under-serves — the per-source drill-down behind
    `vocab_coverage_curve`.

    Plan: explode tokens once, hash-agg the vocabulary (Heaps-law
    sized, AQE decides the join side), one left equi-join + source
    hash-agg with map-side partials.
    """
    from distributed_mapreduce_spark.workload.text import _bp as _bp_t
    from distributed_mapreduce_spark.workload.text import _tokens as _toks

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_toks(F.col("text"))).alias("term"))
    vocab = (
        docs.select("doc_id", F.explode(_toks(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    j = tok.join(vocab, "term", "left")
    oov = F.col("in_vocab").isNull()
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(oov.cast("long")).alias("oov_tokens"),
        _bp_t(F.sum(oov.cast("long")), F.count(F.lit(1))).alias("oov_bp"),
    )


#: Collocation support floor: pairs seen fewer times carry no signal.
COLL_MIN_COUNT = LM_MIN_COUNT


@query(
    "collocation_pmi_lift",
    oracle=f"""
    WITH t AS (
      SELECT {{tok}} AS toks FROM documents
    ), bg AS (
      SELECT gram,
             string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             CAST(count(*) AS BIGINT) AS c2
      FROM t, unnest({{ng}}) AS u(gram)
      GROUP BY gram
    ), ug AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c1
      FROM t, unnest(toks) AS u(tok)
      GROUP BY tok
    ), tot AS (
      SELECT (SELECT CAST(sum(c2) AS BIGINT) FROM bg) AS n_bg,
             (SELECT CAST(sum(c1) AS BIGINT) FROM ug) AS n_uni
    )
    SELECT bg.gram AS bigram, bg.c2 AS n_pair, ua.c1 AS n_w1, ub.c1 AS n_w2,
           CAST(CAST(bg.c2 AS HUGEINT) * n_uni * n_uni * 10000
                // (CAST(ua.c1 AS HUGEINT) * ub.c1 * n_bg)
                AS BIGINT) AS pmi_lift_bp
    FROM bg JOIN ug ua ON bg.w1 = ua.tok JOIN ug ub ON bg.w2 = ub.tok, tot
    WHERE bg.c2 >= {COLL_MIN_COUNT}
    """.format(
        tok=_sql_tokens("text"), ng=_sql_ngrams("toks", 2)
    ),
)
def q_collocation_pmi_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by PMI lift: for every bigram above the
    support floor, the ratio p(w1w2) / (p(w1)·p(w2)) in exact basis
    points — the association measure behind multi-word-expression
    mining (``pmi_lift_bp`` is monotone in PMI, so ranking by it ==
    ranking by PMI without a single float log). Complements
    `lm_bigram_counts` (conditional P(w2|w1)) with the symmetric
    marginal-normalized measure.

    Exactness: c2·N_uni²·10⁴ ⫽ (c1a·c1b·N_bg) with operands widened to
    DECIMAL(38,0)/HUGEINT per the wide-arithmetic policy. Overflow
    bound (worst case c2≈N_uni, i.e. a degenerate one-bigram corpus):
    the numerator is ≤ N_uni³·10⁴, which stays inside 38 digits up to
    N_uni ≈ 2×10¹¹ corpus tokens; with realistic marginals
    (c2 ≪ N_uni) the practical ceiling is far higher. Past the bound
    the engines diverge loudly-vs-silently (DuckDB HUGEINT raises,
    non-ANSI Spark NULLs), so corpora beyond ~10¹¹ tokens should shard
    this query per source before aggregating — do not widen the
    arithmetic silently.

    Plan: one explode per granularity, two hash aggregates with
    map-side partials, the bigram head joined to the unigram table
    twice on different keys (AQE-chosen strategy — sublinear but
    unbounded sides), and a single-row totals relation broadcast
    (bounded-hint class)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(_tokens(F.col("text")).alias("toks")).persist()
    bg = (
        toks.select(F.explode(_ngrams(F.col("toks"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    ).persist()
    ug = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    tot = bg.agg(F.sum("c2").cast("long").alias("n_bg")).crossJoin(
        ug.agg(F.sum("c1").cast("long").alias("n_uni"))
    )
    head = bg.where(F.col("c2") >= COLL_MIN_COUNT).select(
        F.col("gram").alias("bigram"),
        F.split(F.col("gram"), " ").getItem(0).alias("w1"),
        F.split(F.col("gram"), " ").getItem(1).alias("w2"),
        "c2",
    )
    ua = ug.select(F.col("tok").alias("w1"), F.col("c1").alias("n_w1"))
    ub = ug.select(F.col("tok").alias("w2"), F.col("c1").alias("n_w2"))
    j = (
        head.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
    )
    return j.select(
        "bigram",
        F.col("c2").alias("n_pair"),
        "n_w1",
        "n_w2",
        F.expr(
            "CAST(CAST(c2 AS DECIMAL(38,0)) * n_uni * n_uni * 10000"
            " DIV (CAST(n_w1 AS DECIMAL(38,0)) * n_w2 * n_bg) AS BIGINT)"
        ).alias("pmi_lift_bp"),
    )


# Temperature-balanced mixture shares (the multilingual-sampling rule
# behind XLM-R-style corpora, alpha = 0.5).
sql_query(
    "mixture_temperature_shares",
    f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS n_tok
      FROM (SELECT source, {{tok}} AS toks FROM documents)
      GROUP BY source
    ), w AS (
      SELECT s.*, CAST(floor(sqrt(CAST(n_tok AS DOUBLE))) AS BIGINT) AS sqrt_w
      FROM s
    ), t AS (
      SELECT CAST(sum(n_tok) AS BIGINT) AS tot_tok,
             CAST(sum(sqrt_w) AS BIGINT) AS tot_w
      FROM w
    )
    SELECT source, n_docs, n_tok,
           CAST(n_tok * 10000 // tot_tok AS BIGINT) AS raw_share_bp,
           CAST(sqrt_w * 10000 // tot_w AS BIGINT) AS temp_share_bp,
           CAST(CASE WHEN n_tok * 10000 // tot_tok = 0 THEN 0
                ELSE (sqrt_w * 10000 // tot_w) * 100
                     // (n_tok * 10000 // tot_tok) END AS BIGINT)
             AS boost_x100
    FROM w, t
    """.format(tok=_sql_tokens("text")),
)


#: Waterfilling token budget: keep this share of total corpus tokens.
WATERFILL_BUDGET_BP = 6000


# Waterfilling token-budget allocation.
sql_query(
    "mixture_waterfill_caps",
    f"""
    WITH s AS MATERIALIZED (
      SELECT source, CAST(sum(len({_sql_tokens('text')})) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ), ranked AS MATERIALIZED (
      SELECT source, n_tok,
             CAST(row_number() OVER (ORDER BY n_tok, source) AS BIGINT) AS k,
             CAST(sum(n_tok) OVER (ORDER BY n_tok, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS pfx
      FROM s
    ), tot AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_src,
             CAST(sum(n_tok) AS BIGINT) AS t_tok,
             CAST(CAST(sum(n_tok) AS HUGEINT) * {WATERFILL_BUDGET_BP}
                  // 10000 AS BIGINT) AS budget
      FROM s
    ), cand AS MATERIALIZED (
      SELECT k, n_tok, (budget - pfx) // (n_src - k) AS c
      FROM ranked CROSS JOIN tot WHERE k < n_src
    ), feas AS (
      SELECT max(k) AS kbest FROM cand WHERE n_tok <= c
    ), cap AS (
      SELECT CASE
               WHEN t_tok <= budget THEN t_tok
               WHEN kbest IS NULL THEN budget // n_src
               ELSE (SELECT c FROM cand WHERE cand.k = feas.kbest)
             END AS cap_tok
      FROM feas CROSS JOIN tot
    )
    SELECT source, n_tok,
           CAST(least(n_tok, cap_tok) AS BIGINT) AS alloc_tok,
           n_tok > cap_tok AS capped,
           CAST(cap_tok AS BIGINT) AS cap_tok,
           budget AS budget_tok
    FROM ranked CROSS JOIN cap CROSS JOIN tot
    """,
)


#: Greedy max-coverage selection rounds.
COVER_ROUNDS = 5


def _coverage_oracle() -> str:
    """Unrolled greedy max-coverage: K rounds, each picking the
    not-yet-chosen source with the most still-uncovered distinct terms
    (ties → lexicographically first source)."""
    parts = [
        f"WITH st AS MATERIALIZED (\n"
        f"  SELECT DISTINCT source, gram AS term\n"
        f"  FROM (SELECT source, {_sql_tokens('text')} AS toks FROM documents),\n"
        f"       unnest({_sql_ngrams('toks', 2)}) AS u(gram)\n"
        f")"
    ]
    rows = []
    for r in range(1, COVER_ROUNDS + 1):
        prev_picks = " UNION ALL ".join(
            f"SELECT source FROM pick_{i}" for i in range(1, r)
        )
        not_picked = f"WHERE source NOT IN ({prev_picks})" if prev_picks else ""
        not_covered = (
            f"AND term NOT IN (SELECT term FROM cov_{r - 1})" if r > 1 else ""
        )
        parts.append(
            f""", g_{r} AS (
              SELECT source, CAST(count(*) AS BIGINT) AS gain
              FROM st
              {not_picked or 'WHERE 1=1'} {not_covered}
              GROUP BY source
            ), pick_{r} AS MATERIALIZED (
              SELECT a.source, COALESCE(g.gain, 0) AS gain
              FROM (SELECT DISTINCT source FROM st {not_picked}) a
              LEFT JOIN g_{r} g ON a.source = g.source
              ORDER BY COALESCE(g.gain, 0) DESC, a.source
              LIMIT 1
            ), cov_{r} AS MATERIALIZED (
              SELECT DISTINCT term FROM st
              WHERE source IN ({(prev_picks + ' UNION ALL ' if prev_picks else '')}SELECT source FROM pick_{r})
            )"""
        )
        rows.append(
            f"SELECT {r} AS round, source, gain,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM cov_{r}) AS covered_total"
            f" FROM pick_{r}"
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@query("corpus_coverage_greedy", oracle=_coverage_oracle())
def q_corpus_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage source selection: {COVER_ROUNDS} rounds of
    "acquire the source adding the most still-unseen bigram vocabulary" — the
    classic (1−1/e)-approximate submodular-maximization primitive
    behind data-acquisition and subset-selection pipelines (which
    corpora to license/crawl next for vocabulary coverage).

    Plan: the (source, term) distinct incidence is built once and
    persisted; each round is one anti-join against the covered-term
    set (keyed on term), a hash aggregate to ≤|sources| rows and a
    TakeOrdered(1) selection — the per-round driver transfer is one
    scalar row (the same bounded-scalar loop contract as the k-means
    inertia readout, `workload/clustering.py:234`). K is a constant:
    the unrolled-CTE oracle is the exact same greedy trajectory."""
    docs = table(spark, sf_dir, "documents")
    st = (
        # token array materialized once per row (see decontam note)
        docs.select("source", _tokens(F.col("text")).alias("__toks"))
        .select(
            "source",
            F.explode(_ngrams(F.col("__toks"), 2)).alias("term"),
        )
        .distinct()
        .persist()
    )
    sources = st.select("source").distinct()
    covered = None
    picked: list[str] = []
    out_rows: list[tuple[int, str, int, int]] = []
    for r in range(1, COVER_ROUNDS + 1):
        avail = sources
        if picked:
            avail = sources.filter(~F.col("source").isin(picked))
        unc = st if covered is None else st.join(covered, "term", "left_anti")
        g = unc.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("gain")
        )
        top = (
            avail.join(g, "source", "left")
            .select("source", F.coalesce("gain", F.lit(0)).alias("gain"))
            .orderBy(F.desc("gain"), "source")
            .limit(1)
            .collect()[0]
        )
        picked.append(top["source"])
        covered = (
            st.filter(F.col("source").isin(picked))
            .select("term")
            .distinct()
            .localCheckpoint()
        )
        out_rows.append((r, top["source"], top["gain"], covered.count()))
    st.unpersist()
    return spark.createDataFrame(
        out_rows, "round INT, source STRING, gain BIGINT, covered_total BIGINT"
    )


def _combined_decontam_oracle() -> str:
    # Import the module that REGISTERS the semantic-overlap oracle
    # before reading it from the registry: this helper runs at
    # corpus.py import time, so without the explicit import it would
    # only work when workload/__init__ happens to import similarity
    # first (importing workload.corpus standalone raised KeyError).
    from distributed_mapreduce_spark.workload import similarity  # noqa: F401
    from distributed_mapreduce_spark.workload.registry import ORACLES

    sem = ORACLES["decontam_semantic_overlap"]
    return f"""
    WITH ng AS MATERIALIZED (
      SELECT doc_id, n_shared FROM ({_DECON_SQL}) WHERE contaminated
    ), sem AS MATERIALIZED (
      SELECT vec_id AS doc_id, max_cos_u FROM ({sem})
    )
    SELECT COALESCE(ng.doc_id, sem.doc_id) AS doc_id,
           ng.doc_id IS NOT NULL AS ngram_hit,
           sem.doc_id IS NOT NULL AS semantic_hit,
           ng.n_shared, sem.max_cos_u,
           CASE WHEN ng.doc_id IS NOT NULL AND sem.doc_id IS NOT NULL
                THEN 'both'
                WHEN ng.doc_id IS NOT NULL THEN 'ngram_only'
                ELSE 'semantic_only' END AS verdict
    FROM ng FULL JOIN sem ON ng.doc_id = sem.doc_id
    """


@query("decontam_combined_verdict", oracle=_combined_decontam_oracle())
def q_decontam_combined_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination verdict table a pipeline actually acts on:
    the union of the VERBATIM gate (`decontam_ngram_overlap`, flagged
    docs only) and the PARAPHRASE gate (`decontam_semantic_overlap`,
    embedding cosine), full-outer joined with method attribution —
    'both' is the highest-confidence removal, 'ngram_only' catches
    below-embedding-threshold verbatim spans, 'semantic_only' catches
    reworded contamination with no shared {DECON_N}-grams. Composing
    the two registered queries (not re-deriving them) keeps this
    verdict definitionally consistent with each gate.

    Plan: both inputs end at flagged-docs cardinality (≪ corpus); the
    fusion join is key-only on doc_id."""
    from distributed_mapreduce_spark.workload.similarity import (
        q_decontam_semantic_overlap,
    )

    ng = (
        q_decontam_ngram_overlap(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id", "n_shared")
        .withColumn("_ng", F.lit(True))
    )
    sem = (
        q_decontam_semantic_overlap(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"), "max_cos_u")
        .withColumn("_sem", F.lit(True))
    )
    fused = ng.join(sem, "doc_id", "full_outer")
    return fused.select(
        "doc_id",
        F.coalesce("_ng", F.lit(False)).alias("ngram_hit"),
        F.coalesce("_sem", F.lit(False)).alias("semantic_hit"),
        "n_shared",
        "max_cos_u",
        F.when(F.col("_ng").isNotNull() & F.col("_sem").isNotNull(), "both")
        .when(F.col("_ng").isNotNull(), "ngram_only")
        .otherwise("semantic_only")
        .alias("verdict"),
    )


#: Per-source document cap (C4/RefinedWeb-style "no domain dominates"
#: gate). The harness ships 25 docs/source at sf0.01, so 15 exercises
#: both the kept and dropped branches at every SF.
DOMAIN_CAP = 15


# Domain / source frequency capping.
sql_query(
    "corpus_domain_cap",
    f"""
    WITH scored AS MATERIALIZED (
      SELECT doc_id, source,
             {_sql_bp(_sql_count_in(_sql_tokens('text'), STOPWORDS),
                      f"len({_sql_tokens('text')})")} AS q_bp
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, q_bp,
             row_number() OVER (PARTITION BY source
                                ORDER BY q_bp DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rnk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(count(*) - sum(CASE WHEN rnk <= {DOMAIN_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(min(CASE WHEN rnk <= {DOMAIN_CAP} THEN q_bp END)
                AS BIGINT) AS min_kept_q_bp
    FROM ranked GROUP BY source
    """,
)


#: Calibration-curve bucket width over the per-token logit (µ-units).
QM_CAL_BUCKET_MICRO = 20_000_000


def _sql_bucketed_verdicts() -> str:
    """Shared oracle prelude of the calibration and PR-curve queries:
    (bucket, y) rows joining the learned gate score bin to the rule
    verdict — one definition so the two curves can never drift."""
    from distributed_mapreduce_spark.workload.registry import ORACLES

    mk = ORACLES["quality_model_logit"]
    rk = ORACLES["quality_filter_reasons"]
    return f"""
    WITH mk AS MATERIALIZED (
      SELECT doc_id, logit_pt_micro FROM ({mk})
    ), rk AS MATERIALIZED (
      SELECT doc_id, kept AS rule_keep FROM ({rk})
    ), joined AS (
      SELECT logit_pt_micro // {QM_CAL_BUCKET_MICRO} AS bucket,
             CASE WHEN rule_keep THEN 1 ELSE 0 END AS y
      FROM mk JOIN rk USING (doc_id)
    )"""


def _bucketed_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, y): the Spark twin of `_sql_bucketed_verdicts` — both
    verdicts are projections of the same documents scan."""
    m = q_quality_model_logit(spark, sf_dir).select(
        "doc_id",
        F.expr(f"logit_pt_micro DIV {QM_CAL_BUCKET_MICRO}").alias("bucket"),
    )
    r = q_quality_filter_reasons(spark, sf_dir).select(
        "doc_id", F.when(F.col("kept"), 1).otherwise(0).alias("y")
    )
    return m.join(r, "doc_id").select("bucket", "y")


def _calibration_oracle() -> str:
    return _sql_bucketed_verdicts() + """
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_rule_keep,
           CAST(sum(y) * 10000 // count(*) AS BIGINT) AS keep_rate_bp
    FROM joined GROUP BY bucket
    """


@query("quality_model_calibration", oracle=_calibration_oracle())
def q_quality_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) curve of the learned quality gate
    against the rule gate: documents bucketed by model score
    ({QM_CAL_BUCKET_MICRO} µ per bin), each bin reporting how often the
    rule gate keeps — a well-calibrated score shows the keep rate
    rising monotonically with the bin, and the curve is what picks the
    production threshold (the reliability-diagram practice from
    calibration literature, integer-exact).

    Plan: both verdicts are projections of the same scan (the
    agreement-audit shape); the curve is one hash-agg to
    ≤|score range / bucket| rows."""
    return (
        _bucketed_verdicts(spark, sf_dir)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_rule_keep"),
            F.expr("CAST(sum(y) * 10000 DIV count(*) AS BIGINT)").alias(
                "keep_rate_bp"
            ),
        )
    )


def _pr_curve_oracle() -> str:
    return _sql_bucketed_verdicts() + """
    , per AS MATERIALIZED (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM joined GROUP BY bucket
    ), cum AS (
      SELECT bucket,
             CAST(sum(n) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_ge,
             CAST(sum(pos) OVER (ORDER BY bucket DESC) AS BIGINT) AS tp,
             CAST(sum(pos) OVER () AS BIGINT) AS p_all
      FROM per
    )
    SELECT bucket, n_ge, tp,
           CAST(tp * 10000 // n_ge AS BIGINT) AS precision_bp,
           CAST(CASE WHEN p_all = 0 THEN 0
                     ELSE tp * 10000 // p_all END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN tp = 0
                       OR (tp * 10000 // n_ge) + (tp * 10000 // p_all) = 0
                      THEN 0
                     ELSE (2 * (tp * 10000 // n_ge) * (tp * 10000 // p_all))
                          // ((tp * 10000 // n_ge) + (tp * 10000 // p_all))
                END AS BIGINT) AS f1_bp
    FROM cum
    """


@query("quality_model_pr_curve", oracle=_pr_curve_oracle())
def q_quality_model_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the learned quality gate against the
    rule gate: one row per score bucket treated as the keep threshold
    ("keep every document scoring >= this bucket"), reporting the
    cumulative TP / predicted-positive counts and integer basis-point
    precision, recall, and F1 (harmonic mean of the truncated-bp pair
    — the documented integer surrogate; a 0 precision+recall yields
    F1 = 0 by the CASE guard, and tp = 0 implies both are 0). With
    `auc_rank_audit` (threshold-free) and `quality_model_calibration`
    (per-bin reliability) this completes the standard model-quality
    triad used to pick a production corpus gate.

    Plan: both verdicts are projections of the same documents scan;
    one hash-agg to ≤|score range / bucket| rows; the cumulative
    windows run over those aggregated rows (bounded-window class —
    same whitelist as the calibration family)."""
    from pyspark.sql import Window

    per = (
        _bucketed_verdicts(spark, sf_dir)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    wd = Window.orderBy(F.col("bucket").desc())
    cum = per.select(
        "bucket",
        F.sum("n").over(wd).cast("long").alias("n_ge"),
        F.sum("pos").over(wd).cast("long").alias("tp"),
        F.sum("pos").over(Window.partitionBy()).cast("long").alias("p_all"),
    )
    return cum.select(
        "bucket",
        "n_ge",
        "tp",
        F.expr("CAST(tp * 10000 DIV n_ge AS BIGINT)").alias("precision_bp"),
        F.expr(
            "CAST(CASE WHEN p_all = 0 THEN 0"
            "          ELSE tp * 10000 DIV p_all END AS BIGINT)"
        ).alias("recall_bp"),
        # tp > 0 does NOT imply a nonzero denominator: both truncated
        # bp terms can floor to 0 (first positive buried past 10^4
        # negatives AND p_all > 10^4*tp) — Spark ANSI raises on DIV 0
        # while DuckDB // returns NULL, so the guard covers both
        F.expr(
            "CAST(CASE WHEN tp = 0"
            "            OR (tp * 10000 DIV n_ge) + (tp * 10000 DIV p_all) = 0"
            "          THEN 0"
            "          ELSE (2 * (tp * 10000 DIV n_ge) * (tp * 10000 DIV p_all))"
            "               DIV ((tp * 10000 DIV n_ge) + (tp * 10000 DIV p_all))"
            "     END AS BIGINT)"
        ).alias("f1_bp"),
    )


def _kappa_oracle() -> str:
    from distributed_mapreduce_spark.workload.registry import ORACLES

    mk = ORACLES["quality_model_logit"]
    rk = ORACLES["quality_filter_reasons"]
    return f"""
    WITH mk AS MATERIALIZED (SELECT doc_id, model_keep FROM ({mk})),
    rk AS MATERIALIZED (SELECT doc_id, kept AS rule_keep FROM ({rk})),
    cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN model_keep AND rule_keep THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN model_keep AND NOT rule_keep THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN NOT model_keep AND rule_keep THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN NOT model_keep AND NOT rule_keep THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM mk JOIN rk USING (doc_id)
    ), p AS (
      SELECT n, a, b, c, d,
             CAST((a + d) * 1000000 // n AS BIGINT) AS po_ppm,
             CAST((CAST(a + b AS HUGEINT) * (a + c)
                   + CAST(c + d AS HUGEINT) * (b + d)) * 1000000
                  // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
      FROM cm
    )
    SELECT n AS n_docs, a AS n_both_keep, b AS n_model_only,
           c AS n_rule_only, d AS n_both_reject, po_ppm, pe_ppm,
           CAST(CASE WHEN pe_ppm >= 1000000 THEN 0
                     ELSE (CASE WHEN po_ppm >= pe_ppm THEN 1 ELSE -1 END)
                          * (abs(CAST(po_ppm AS HUGEINT) - pe_ppm) * 1000000
                             // (1000000 - pe_ppm))
                END AS BIGINT) AS kappa_ppm
    FROM p
    """


@query("quality_gates_cohen_kappa", oracle=_kappa_oracle())
def q_quality_gates_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the learned and rule quality gates — the
    chance-corrected agreement statistic (Cohen, 1960) that the raw
    agreement audit (`quality_model_rule_agreement`) cannot express:
    two gates that both keep ~90% agree ~82% by chance alone, and
    kappa measures only the agreement ABOVE that. Exact truncated-ppm
    integer arithmetic: po and pe from the 2x2 counts, kappa =
    (po-pe)/(1e6-pe) with abs+sign so every division sees a
    non-negative numerator (floor vs truncate agree); a degenerate
    pe = 1 (both gates constant) reports 0 by the documented guard.

    Plan: both verdicts are projections of the same documents scan;
    ONE 1-row conditional-sum aggregate carries the whole confusion
    matrix — the 2x2 never materializes as rows."""
    m = q_quality_model_logit(spark, sf_dir).select("doc_id", "model_keep")
    r = q_quality_filter_reasons(spark, sf_dir).select(
        "doc_id", F.col("kept").alias("rule_keep")
    )
    cm = m.join(r, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("model_keep") & F.col("rule_keep"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(
            F.when(F.col("model_keep") & ~F.col("rule_keep"), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(~F.col("model_keep") & F.col("rule_keep"), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(~F.col("model_keep") & ~F.col("rule_keep"), 1).otherwise(0)
        )
        .cast("long")
        .alias("d"),
    )
    p = cm.select(
        "n",
        "a",
        "b",
        "c",
        "d",
        F.expr("CAST((a + d) * 1000000 DIV n AS BIGINT)").alias("po_ppm"),
        F.expr(
            "CAST((CAST(a + b AS DECIMAL(38,0)) * (a + c)"
            "      + CAST(c + d AS DECIMAL(38,0)) * (b + d)) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("pe_ppm"),
    )
    return p.select(
        F.col("n").alias("n_docs"),
        F.col("a").alias("n_both_keep"),
        F.col("b").alias("n_model_only"),
        F.col("c").alias("n_rule_only"),
        F.col("d").alias("n_both_reject"),
        "po_ppm",
        "pe_ppm",
        F.expr(
            "CAST(CASE WHEN pe_ppm >= 1000000 THEN 0"
            "          ELSE (CASE WHEN po_ppm >= pe_ppm THEN 1 ELSE -1 END)"
            "               * (abs(CAST(po_ppm AS DECIMAL(38,0)) - pe_ppm)"
            "                  * 1000000 DIV (1000000 - pe_ppm))"
            "     END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def _dup_quality_oracle() -> str:
    from distributed_mapreduce_spark.workload.registry import ORACLES

    rk = ORACLES["quality_filter_reasons"]
    return f"""
    WITH rk AS MATERIALIZED (SELECT doc_id, kept FROM ({rk})),
    fp AS (
      SELECT doc_id, md5(text) AS f FROM documents
    ), gs AS (
      SELECT f, count(*) AS n FROM fp GROUP BY f
    ), flagged AS MATERIALIZED (
      SELECT fp.doc_id, gs.n > 1 AS is_dup
      FROM fp JOIN gs USING (f)
    ), cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(sum(CASE WHEN is_dup AND kept THEN 1 ELSE 0 END) AS BIGINT)
               AS keep_dup,
             CAST(sum(CASE WHEN NOT is_dup AND kept THEN 1 ELSE 0 END) AS BIGINT)
               AS keep_nondup
      FROM flagged JOIN rk USING (doc_id)
    )
    SELECT n_docs, n_dup,
           CAST(n_docs - n_dup AS BIGINT) AS n_nondup,
           keep_dup, keep_nondup,
           CAST(CASE WHEN n_dup = 0 THEN 0
                     ELSE keep_dup * 10000 // n_dup END AS BIGINT)
             AS dup_keep_bp,
           CAST(CASE WHEN n_docs - n_dup = 0 THEN 0
                     ELSE keep_nondup * 10000 // (n_docs - n_dup)
                END AS BIGINT) AS nondup_keep_bp,
           CAST(CASE WHEN n_dup = 0 OR n_docs - n_dup = 0
                       OR keep_nondup = 0 THEN 0
                     ELSE (CAST(keep_dup AS HUGEINT) * (n_docs - n_dup)
                           * 1000000)
                          // (CAST(keep_nondup AS HUGEINT) * n_dup)
                END AS BIGINT) AS keep_lift_ppm
    FROM cm
    """


# Cross-family pipeline audit.
sql_query(
    "dedup_quality_interaction",
    _dup_quality_oracle(),
)


def _isotonic_oracle() -> str:
    return _sql_bucketed_verdicts() + """
    , per AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM joined GROUP BY bucket
    ), cum AS MATERIALIZED (
      SELECT bucket,
             CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY bucket) AS BIGINT) AS cp,
             CAST(sum(n) OVER (ORDER BY bucket) - n AS BIGINT) AS cn0,
             CAST(sum(pos) OVER (ORDER BY bucket) - pos AS BIGINT) AS cp0
      FROM per
    ), spans AS MATERIALIZED (
      SELECT j.bucket AS jb, k.bucket AS kb,
             (k.cp - j.cp0) * 1000000000 // (k.cn - j.cn0) AS rate_e9
      FROM cum j JOIN cum k ON j.bucket <= k.bucket
    ), inner_min AS (
      SELECT i.bucket AS ib, s.jb,
             min(s.rate_e9) AS lo
      FROM per i JOIN spans s ON s.jb <= i.bucket AND i.bucket <= s.kb
      GROUP BY i.bucket, s.jb
    ), iso AS (
      SELECT ib AS bucket, CAST(max(lo) AS BIGINT) AS iso_rate_e9
      FROM inner_min GROUP BY ib
    )
    SELECT p.bucket, p.n AS n_docs,
           CAST(p.pos * 10000 // p.n AS BIGINT) AS raw_rate_bp,
           i.iso_rate_e9,
           CAST(i.iso_rate_e9 // 100000 AS BIGINT) AS iso_rate_bp
    FROM per p JOIN iso i USING (bucket)
    """


@query("quality_isotonic_calibration", oracle=_isotonic_oracle())
def q_quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the learned quality gate
    against the rule gate — the PAV fit computed by the minimax
    identity iso(i) = max_{{j<=i}} min_{{k>=i}} rate(j..k), which is
    embarrassingly parallel over the BOUNDED bin relation (B bins ->
    B^2 spans, B^3 triples; B ~ tens) instead of the sequential
    pool-adjacent-violators merge loop. Span rates compare in floor
    e9-units — deterministic in both engines — so the fitted curve is
    non-decreasing by construction and this query is the production
    calibration mapping the reliability curve only diagnoses.

    Plan: the same shared bucketed-verdicts projection as the
    calibration/PR curves, one hash-agg to B bins, then bin-bounded
    broadcast-nested-loop joins (the score-range-bounded bin relation
    is the provably tiny side — never a cartesian); nothing touches
    the corpus twice.

    Reference parity: no counterpart; completes the quality-curve
    triptych (reliability `quality_model_calibration`, ranking
    `quality_model_pr_curve`, monotone fit here).
    """
    from pyspark.sql import Window

    per = (
        _bucketed_verdicts(spark, sf_dir)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    w = Window.orderBy("bucket")
    cum = per.select(
        "bucket",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
        (F.sum("n").over(w) - F.col("n")).alias("cn0"),
        (F.sum("pos").over(w) - F.col("pos")).alias("cp0"),
    )
    j = cum.select(
        F.col("bucket").alias("jb"), F.col("cn0"), F.col("cp0")
    )
    k = cum.select(F.col("bucket").alias("kb"), F.col("cn"), F.col("cp"))
    spans = j.join(F.broadcast(k), F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        F.expr("(cp - cp0) * 1000000000 DIV (cn - cn0)").alias("rate_e9"),
    )
    bins = per.select(F.col("bucket").alias("ib"))
    inner = (
        spans.join(
            F.broadcast(bins),
            (F.col("jb") <= F.col("ib")) & (F.col("ib") <= F.col("kb")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("rate_e9").alias("lo"))
    )
    iso = inner.groupBy("ib").agg(F.max("lo").cast("long").alias("iso_rate_e9"))
    return (
        per.join(iso, per.bucket == iso.ib)
        .select(
            "bucket",
            F.col("n").alias("n_docs"),
            F.expr("CAST(pos * 10000 DIV n AS BIGINT)").alias("raw_rate_bp"),
            "iso_rate_e9",
            F.expr("CAST(iso_rate_e9 DIV 100000 AS BIGINT)").alias(
                "iso_rate_bp"
            ),
        )
    )
