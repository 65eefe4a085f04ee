"""Empirical scaling-slope harness (VERDICT r03 #1): measure the
runtime of the costliest query families at x1 and x10 data volume and
record sec + sec/row, so the "designed for 100 TB" story has a measured
slope instead of only plan-shape arguments.

Corpus construction (deterministic, no RNG):
- Each replica r in 0..9 shifts every id column by ``r * ID_OFFSET``.
  ID_OFFSET is divisible by 97 (decontam's eval gate) and by every
  modulus <= 16 used anywhere in the registry, so id-residue gates
  (l_orderkey % 7, doc_id % 97, ...) keep identical selectivity in
  every replica.
- Document text goes through a per-replica seeded substitution cipher
  (builder v2: one shuffled alphabet per character class per replica,
  still a single JVM-side `translate`). Within a replica the cipher is
  a character bijection — dup structure, shingle equality, and edit
  distances are preserved EXACTLY; across replicas text is unique at
  ANY factor (v1's Caesar rotation had only 26 values, so x100+
  replicas collided and pair families measured corpus
  self-similarity). Replica token/shingle spaces are therefore
  DISJOINT: dedup/decontam never pair rows across replicas, so the
  x10 corpus is 10 independent copies of the x1 workload — the correct
  shape for measuring ENGINE scaling.
- Replica 0 is the identity, so the x1 directory is byte-equivalent in
  content to the source scale factor.

Interpretation: slope = (sec_x10 / sec_x1) / 10 = relative cost per
row at 10x the data. 1.0 is perfectly linear; < 1 means fixed overhead
(session/scan setup) still dominates at x10; values well above ~1.3
indicate a super-linear stage that would not survive 100 TB.

Usage: python tools/scaling_bench.py [src_sf_dir] [out_json] [--x100]
       [--x1000] [--only=fam1,fam2] [--merge=prior.json] [--reuse]
--reuse skips rebuilding a scaled corpus whose directory already exists
(the build is deterministic, so an existing dir from an earlier run of
the SAME harness version is byte-equivalent; row counts are re-read
from the parquet metadata).
Writes the JSON artifact (default SCALING_r09.json — keep in sync with
the filename bench.py embeds) that bench.py
embeds under its "scaling" key. With --x100, additionally builds a
100x corpus and re-times the X100_FAMILIES subset (one warm-up + one
timed run — at 6 GB+ input the run time dwarfs trial noise), recording
the second decade's slope (x100 vs x10). With --x1000, builds a
1000x corpus (10 replicas OF the x100 corpus, id stride 100) and
times the cheap X1000_FAMILIES at the third decade — 600 M+ input
rows, the strongest 100 TB-posture evidence one box can produce.
--only restricts to a family subset (fast re-measure after a fix);
--merge seeds the output with a prior artifact's rows so untouched
families carry forward.

Provenance (VERDICT r07 #5): every fresh measurement is stamped with
``measured_in`` = the run id of THIS invocation (out-file stem +
wall-clock stamp). Merged rows keep their ORIGINAL ``measured_in``
(legacy rows without one get the merge-source stem) plus
``carried: true``; a partial refresh (x100/x1000 added onto a carried
row) stamps ``x100_measured_in``/``x1000_measured_in`` instead of
rewriting the row's origin — the artifact never cites itself.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

#: The checkout this script belongs to: imported from, and written to.
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

#: divisible by every modulus <= 16 (LCM(1..16) = 720720) and by 97.
ID_OFFSET = 720720 * 97

FACTOR = 10
TRIALS = 3

FAMILIES = [
    "dedup_repeated_passages",
    "quality_repetition",
    "decontam_ngram_overlap",
    "vocab_build",
    "dedup_minhash_pairs",
    "graph_triangle_counts",
    # round-4 second wave: tokenizer training (word-table loop),
    # first-occurrence inverted index, sweep-line prefix sum
    "tokenizer_bpe_merges",
    "text_ngram_novelty",
    "sessions_peak_concurrency",
    # round-5: per-user grid explode (scales with replicated user
    # spaces) and the wedge join + degree join + TakeOrdered pipeline
    # over the replica-disjoint co-occurrence graphs. (bm25/rrf are NOT
    # here by design: replica text is Caesar-rotated, so the fixed
    # query terms match only replica 0 — the x10 corpus would measure
    # scan scaling, not retrieval scaling.)
    "events_gap_fill_interpolate",
    "graph_resource_allocation",
    # round-6: positional window hashes + island merge — the heaviest
    # new per-token pipeline (posexplode ~ one row per token).
    "dedup_exact_substring_runs",
    # round-6: the strip TRANSFORMATION on top of the runs index — adds
    # canonical-occurrence selection, coverage explode (duplicated
    # occurrences only), and full token-stream reassembly per doc.
    "dedup_exact_substring_strip",
    # round-11: the two replanned queries (PERF_PROBE_r11.json) get
    # measured decades. rake: the cipher replicas keep token/phrase
    # structure intact per replica and disjoint across replicas — a
    # fair explode+window+join scaling shape. skew: event_id%3
    # residues survive the ID_OFFSET stride (divisible by 3), so the
    # hot key keeps its 2/3 share at every factor and the pinned salt
    # exchange is measured under constant skew intensity.
    "text_rake_keywords",
    "skew_join_salted",
    # round-6: DSIR importance weights — explode-to-bucket counts with a
    # fixed 256-row model relation; data-derived hashed features, so the
    # Caesar-rotated replicas exercise it fairly (unlike fixed-literal
    # retrieval terms) and `source` survives replication, keeping the
    # target share at 20% across factors.
    "dsir_importance_weights",
    # round-6 late: content-defined chunking — O(total chars) boundary
    # hashes via columnar higher-order fns, chunk explode, one
    # content-hash shuffle. Boundaries are data-derived hashes, so
    # Caesar rotation re-chunks each replica fairly.
    "dedup_cdc_chunks",
    # round-6 late: grid quantile sketch — O(n) scan into a fixed
    # <=1024-bin aggregate (merge = sum) plus the global_rank range
    # shuffle on the exact-audit side; price values are replica-
    # invariant so the sketch shape is identical at every factor.
    "quantile_grid_sketch_audit",
    # round-7: two peel rounds of degree-ordered triangle support over
    # the replica-disjoint co-occurrence graphs — the heaviest new
    # iterative join pipeline (2x the O(m^1.5) wedge enumeration per
    # run, localCheckpoint between rounds).
    "graph_ktruss_peel",
    # round-7: per-source top-N quality cap — scan-wide columnar quality
    # signal plus a window shuffle keyed on the 20 fixed sources (the
    # coarse-key skew case: per-source partitions grow with factor).
    "corpus_domain_cap",
    # round-7 late: positional phrase retrieval. The phrase is the
    # corpus-global argmax trigram, so at x10 it belongs to ONE replica
    # and the match stage stays constant — what scales (and dominates)
    # is the gram-count aggregate + the tokenizer pass over all text,
    # the stages the anchor-alignment rewrite targets.
    "retrieval_phrase_match",
    # round-7 late: order-2 Markov trigrams — one user-partitioned
    # double-lag window over the replicated (disjoint) user space plus
    # a |types|^3 aggregate; the window shuffle carries every event.
    "event_type_trigrams",
    # round-7 late: blocking audit — md5 normalization fingerprints
    # (replica-disjoint after Caesar rotation), a fingerprint SMJ
    # self-join, and block-size aggregates whose (lang, lenbkt) keys
    # are shared ACROSS replicas (block rows grow ~10x per key — the
    # audit's arithmetic is sizes-only, so no pair blowup).
    "er_blocking_audit",
    # round-7 late 2: the recall audit runs BOTH dedup pair pipelines
    # (band self-join + capped inverted index, replica-disjoint
    # shingle spaces) plus a full-outer pair join — the heaviest
    # composed dedup query, so its slope certifies the family's
    # worst case end-to-end.
    "dedup_lsh_recall_audit",
    # round-7 late 2: Markov fixed point — the matrix build is one
    # user-partitioned lag window over the replicated user space;
    # the 8 iterations are |types|-sized and factor-invariant, so the
    # slope isolates the window+aggregate stage.
    "events_markov_stationary",
    # round-7 closing: winnowing is the zero-shuffle per-row baseline —
    # its slope certifies the scan+explode floor every other family
    # sits above.
    "dedup_winnowing_fingerprints",
    # round-7 closing: one (doc, token) hash-agg + doc re-agg; the
    # canonical two-level aggregate shape.
    "text_simpson_diversity",
    # round-7 closing: the q-gram-pruned candidate chain + levenshtein
    # verify over replica-disjoint shingle spaces — certifies that the
    # lossless prune keeps the O(len^2) verify set per-replica-bounded.
    "dedup_edit_distance_pairs",
    # round-7 closing: distributed two-pass prefix sum over the
    # per-value count relation; replica prices are value-invariant so
    # the distinct-value grid is constant and the slope isolates the
    # per-value counting scan.
    "ks_statistic_returnflag",
    # round-7 closing: per-user moment agg + two 1-row closed-form
    # aggregates over the replicated user space.
    "cuped_adjusted_lift",
    # round-8 (VERDICT r07 #4): the PRODUCTION half of the LSH recall
    # audit — band candidates + exact-Jaccard verify, no truth set —
    # so the certified dedup ingest path carries its own x100 decade
    # (the audit itself stays x100-excluded for its quadratic-by-
    # definition exact side).
    "dedup_lsh_candidates",
]
# NOT here by design: `contrastive_negatives` pairs anchors x pool, so
# replication grows the candidate set quadratically (more anchors AND a
# bigger pool) — a different problem than engine scaling, same reason
# bm25/rrf are excluded. `graph_ppr_seed` keeps its mass inside replica
# 0's component (seed id is not replicated), so a scaled run would
# measure adjacency-build scan cost, not the iteration. `auc_rank_audit`
# and `semdedup_keep_verdicts` read orders/embeddings, which the scaled
# corpus does not replicate.

#: Families measured at x1/x10 only: the recall audit's x100 run
#: spills past the harness disk (the df-gate window over the ~750 M-row
#: inverted index plus verify joins that carry the per-doc shingle-set
#: arrays overflowed a 250 GB volume before finishing) — a local-disk
#: provisioning limit, not an asymptotic blowup (both constituent pair
#: pipelines measure sub-linear x100 on their own: dedup_minhash_pairs
#: 0.39, and the index shape matches dedup_repeated_passages' 0.29).
#: dedup_edit_distance_pairs REJOINED the x100 decade in round 9:
#: its old exclusion was the v1 builder's 26-Caesar-rotation ceiling
#: (4 replicas per rotation at x100 shared IDENTICAL text, so the
#: shared-gram pair stream measured corpus self-similarity — 12.7M ->
#: 339M rows, 26.8x for 10x data). Builder v2's seeded per-replica
#: substitution alphabets are unique at any factor, so replicas are
#: pairwise text-disjoint and the decade measures the engine again.
X100_EXCLUDE = {"dedup_lsh_recall_audit"}

#: Second-decade (x100) families — every family except the
#: disk-excluded carries both decades.
X100_FAMILIES = [q for q in FAMILIES if q not in X100_EXCLUDE]

#: Third-decade (x1000) families (VERDICT r07 #2, widened to 18 in
#: round 9 per VERDICT r08 #5): runnable at 600 M - 6 B input rows /
#: 5 M docs inside the single-box sandbox. Builder v2's replica-unique
#: text (no rotation ceiling) makes the pair/near-dup production paths
#: x1000-eligible — replicas are pairwise text-disjoint, so pair
#: streams grow linearly in replicas, which IS the engine signal.
X1000_FAMILIES = [
    "ks_statistic_returnflag",
    "cuped_adjusted_lift",
    "events_markov_stationary",
    "vocab_build",
    # round-8 widening: three more third-decade shapes, all
    # replication-invariant per row.
    "text_simpson_diversity",   # two-level hash-agg @ 5 M docs
    "corpus_domain_cap",        # coarse-key (20 sources) window @ 5 M docs
    "event_type_trigrams",      # per-user double-lag window @ 100 M events
    "events_gap_fill_interpolate",  # per-user grid explode + interpolation window @ 100 M events
    # round-9 widening (builder v2 unlocks the text-pair families; the
    # rest are the cheapest remaining x100 rows, keeping the decade's
    # wall cost bounded):
    "dedup_lsh_candidates",     # banded self-join + Jaccard verify @ 5 M docs (VERDICT r08 #5's named priority)
    "dedup_minhash_pairs",      # MinHash band candidates @ 5 M docs
    "dedup_repeated_passages",  # cross-doc passage inverted index @ 5 M docs
    "er_blocking_audit",        # fingerprint blocking audit @ 5 M docs (v2: fingerprints replica-disjoint)
    "decontam_ngram_overlap",   # hashed-gram eval-overlap join @ 5 M docs
    "quality_repetition",       # per-doc repetition signals @ 5 M docs
    "retrieval_phrase_match",   # positional phrase retrieval @ 5 M docs
    "text_ngram_novelty",       # first-occurrence novelty index @ 5 M docs
    "tokenizer_bpe_merges",     # BPE word-table loop @ 5 M docs
    "dedup_cdc_chunks",         # content-defined chunking @ 5 M docs
]

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()
DIGITS = "0123456789"

#: Bump when the builder's output for the same (src, factor, id_stride)
#: changes; _manifest.json records it so --reuse never times a corpus
#: built by an older builder (ADVICE r08).
BUILDER_VERSION = 2


def _replica_perm(r: int, id_stride: int) -> str:
    """Deterministic substitution alphabet for replica ``r``: an
    independent seeded shuffle WITHIN each character class (lower /
    upper / digit), so case and digit-ness are preserved and the
    mapping is a bijection on characters.

    v2 replaces the Caesar rotation of v1: rotations have only 26
    distinct values, so replica 26 was byte-identical to replica 0 and
    x100+ corpora measured their own self-similarity (duplicate density
    grew with factor), forcing pair-family exclusions (VERDICT r08 #2).
    Seeded permutations are unique per replica at any realistic factor
    (26! per class), while staying a single JVM-side ``translate`` —
    within one replica the cipher is a character bijection, so shingle
    equality, duplicate structure, and edit distances are preserved
    EXACTLY; across replicas text is unique. Replica 0 is the identity,
    keeping the first slice byte-equal to the source at every layer."""
    import random

    if r == 0:
        return LOWER + UPPER + DIGITS
    rng = random.Random(f"spark-graft-replica:{id_stride}:{r}")
    out = []
    for cls in (LOWER, UPPER, DIGITS):
        chars = list(cls)
        rng.shuffle(chars)
        out.append("".join(chars))
    return "".join(out)


def build_scaled(
    spark, src_dir: str, out_dir: str, factor: int, id_stride: int = 1
) -> dict:
    """Write documents.parquet and lineitem.parquet at `factor`x volume
    (disjoint id ranges + per-replica substitution-cipher text).

    ``id_stride`` composes scale layers: building x1000 as 10 replicas
    OF the x100 corpus needs each second-layer replica to shift ids by
    ``r * 100 * ID_OFFSET`` so the layers' id ranges stay disjoint
    (ID_OFFSET's residue-gate divisibility is preserved under any
    integer multiple). Permutations compose to permutations, so a
    second translate layer stays a per-replica character bijection with
    deterministic, replica-unique text (the layer is part of the perm
    seed so layers never reuse an alphabet)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.workload.registry import table

    out = Path(out_dir)
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)

    step = id_stride * ID_OFFSET
    docs = table(spark, src_dir, "documents")
    li = table(spark, src_dir, "lineitem")

    doc_parts = []
    src = LOWER + UPPER + DIGITS
    for r in range(factor):
        dst = _replica_perm(r, id_stride)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + r * step).alias("doc_id"),
                F.translate(F.col("text"), src, dst).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    docs_x = doc_parts[0]
    for p in doc_parts[1:]:
        docs_x = docs_x.unionAll(p)
    docs_x.repartition(32).write.mode("overwrite").parquet(
        str(out / "documents.parquet")
    )

    li_parts = []
    for r in range(factor):
        li_parts.append(
            li.select(
                (F.col("l_orderkey") + r * step).alias("l_orderkey"),
                (F.col("l_partkey") + r * step).alias("l_partkey"),
                (F.col("l_suppkey") + r * step).alias("l_suppkey"),
                "l_linenumber",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_returnflag",
                "l_linestatus",
                "l_shipdate",
            )
        )
    li_x = li_parts[0]
    for p in li_parts[1:]:
        li_x = li_x.unionAll(p)
    li_x.repartition(32).write.mode("overwrite").parquet(
        str(out / "lineitem.parquet")
    )

    ev = table(spark, src_dir, "events")
    ev_parts = []
    for r in range(factor):
        # user offset keeps each replica's sessions disjoint; identical
        # timestamps mean the replicas' sessions OVERLAP in time, so the
        # sweep-line's peak grows ~factor-x — the concurrency analog of
        # "10 independent copies of the x1 workload".
        ev_parts.append(
            ev.select(
                (F.col("event_id") + r * step).alias("event_id"),
                "ts",
                (F.col("user_id") + r * step).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    ev_x = ev_parts[0]
    for p in ev_parts[1:]:
        ev_x = ev_x.unionAll(p)
    ev_x.repartition(32).write.mode("overwrite").parquet(
        str(out / "events.parquet")
    )

    # count the WRITTEN parquet (metadata-only) rather than re-running
    # the replication pipeline a second time
    rows = {
        "documents": spark.read.parquet(str(out / "documents.parquet")).count(),
        "lineitem": spark.read.parquet(str(out / "lineitem.parquet")).count(),
        "events": spark.read.parquet(str(out / "events.parquet")).count(),
    }
    with open(out / "_manifest.json", "w") as f:
        json.dump(
            corpus_manifest(src_dir, factor, id_stride) | {"rows": rows}, f
        )
    return rows


def corpus_manifest(src_dir: str, factor: int, id_stride: int) -> dict:
    """The identity of a scaled corpus: reusing a directory built from
    different parameters (or an older builder) would publish timings
    against the wrong input with no trace (ADVICE r08)."""
    return {
        "src": str(Path(src_dir).resolve()),
        "factor": factor,
        "id_stride": id_stride,
        "builder_version": BUILDER_VERSION,
    }


def manifest_matches(out_dir: str, src_dir: str, factor: int, id_stride: int) -> bool:
    """True iff ``out_dir`` holds a corpus built by THIS builder from
    exactly these parameters (--reuse gate)."""
    p = Path(out_dir) / "_manifest.json"
    try:
        with open(p) as f:
            have = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    want = corpus_manifest(src_dir, factor, id_stride)
    return all(have.get(k) == v for k, v in want.items())


def run_query(spark, name: str, sf_dir: str) -> float:
    """Min-of-TRIALS wall seconds to fully execute the query (noop sink
    — everything runs, nothing is collected to the driver). One untimed
    warm-up run per (query, scale) point first, so codegen/JIT/page-cache
    effects don't masquerade as scaling signal (the first cut of this
    harness measured vocab_build FASTER at x10 than x1 for exactly that
    reason)."""
    from distributed_mapreduce_spark.workload import QUERIES

    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(TRIALS):
        # Round-8 methodology fix: several queries persist() an
        # intermediate INSIDE one invocation (legitimate intra-query
        # reuse: shingle table, Markov matrix, global_rank's ranged
        # relation). Spark's CacheManager matches re-built identical
        # plans, so WITHOUT this clear the timed run silently rides the
        # warm-up run's cache and measures only the post-cache stages
        # (events_markov_stationary timed flat ~1.2 s from 1 M to
        # 100 M input rows before this fix). Clearing between runs
        # kills cross-invocation riding; each timed run still
        # re-populates and reuses its OWN persist within the run.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def merge_carried(prior: dict, merge_source_stem: str) -> tuple[dict, dict]:
    """Seed a results dict from a prior artifact with honest provenance
    (VERDICT r07 #5, unit-tested): every carried row keeps its ORIGINAL
    ``measured_in`` (legacy rows that predate the field get the
    merge-source stem — the closest honest origin on record), gains
    ``carried: true``, and sheds the legacy self-referential
    ``carried_from`` tag. The merge TARGET's name is never written into
    a row. Returns (rows, carried_notes) — narrative notes survive the
    merge too (a partial refresh must not drop documented diagnoses)."""
    rows = {}
    for name, row in prior["queries"].items():
        row = dict(row)
        row.pop("carried_from", None)
        row.setdefault("measured_in", merge_source_stem)
        row["carried"] = True
        rows[name] = row
    return rows, prior.get("notes", {})


def main() -> int:
    only: list[str] | None = None
    merge_from: str | None = None
    args = []
    do_x100 = False
    do_x1000 = False
    reuse = False
    for a in sys.argv[1:]:
        if a == "--x100":
            do_x100 = True
        elif a == "--x1000":
            do_x1000 = True
        elif a == "--reuse":
            reuse = True
        elif a.startswith("--only="):
            only = [f for f in a.split("=", 1)[1].split(",") if f]
        elif a.startswith("--merge="):
            merge_from = a.split("=", 1)[1]
        else:
            args.append(a)
    src_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    out_json = args[1] if len(args) > 1 else str(REPO / "SCALING_r09.json")
    run_id = f"{Path(out_json).stem}-{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}"
    families = [q for q in FAMILIES if only is None or q in only]
    x100_families = [q for q in X100_FAMILIES if only is None or q in only]
    x1000_families = [q for q in X1000_FAMILIES if only is None or q in only]

    from distributed_mapreduce_spark.session import get_spark

    spark = get_spark("scaling_bench", cpus=32, shuffle_partitions=32)

    base = "/tmp/spark_graft_scaling"

    def maybe_build(src, out, factor, id_stride=1):
        # --reuse is manifest-gated: a directory left by a different
        # (src, factor, id_stride) or an older builder version is
        # rebuilt, not silently timed (ADVICE r08).
        if reuse and manifest_matches(out, src, factor, id_stride):
            return {
                t: spark.read.parquet(f"{out}/{t}.parquet").count()
                for t in ("documents", "lineitem", "events")
            }
        return build_scaled(spark, src, out, factor, id_stride)

    print("building x1 / x10 corpora ...", flush=True)
    rows_x1 = maybe_build(src_dir, f"{base}/x1", 1)
    rows_x10 = maybe_build(src_dir, f"{base}/x10", FACTOR)
    print(f"rows x1={rows_x1} x10={rows_x10}", flush=True)

    input_table = {
        q: "lineitem"
        if q.startswith("graph_")
        else (
            "events"
            if q.startswith(("sessions_", "events_", "event_"))
            else "documents"
        )
        for q in FAMILIES
    }
    # prefix rule exceptions (per-query dominant input)
    input_table["ks_statistic_returnflag"] = "lineitem"
    input_table["cuped_adjusted_lift"] = "events"

    results = {}
    carried_notes: dict = {}
    if merge_from:
        # See merge_carried: originating run ids preserved, carried flag
        # added, no self-citation, notes survive (the round-7 bug and
        # its round-8 regression are both unit-pinned).
        results, carried_notes = merge_carried(
            json.loads(Path(merge_from).read_text()), Path(merge_from).stem
        )
    for q in families:
        t1 = run_query(spark, q, f"{base}/x1")
        t10 = run_query(spark, q, f"{base}/x10")
        n1 = rows_x1[input_table[q]]
        n10 = rows_x10[input_table[q]]
        slope = (t10 / n10) / (t1 / n1)
        # A fresh x1/x10 measurement UPDATES the row; it must not drop
        # a carried row's higher-decade fields (x100/x1000 + their
        # provenance stamps) — replacing the dict wholesale did, which
        # silently erased merged x100 data and NaN'd the x1000 slope
        # whenever --x1000 ran with --only + --merge (round-9 bug).
        prev = results.get(q, {})
        kept = {
            k: v
            for k, v in prev.items()
            if k.startswith(("x100", "x1000", "rows_x100", "rows_x1000"))
            or k.startswith("sec_per_mrow_x100")
            or k.startswith("sec_per_mrow_x1000")
            or k.startswith("slope_x100")
            or k.startswith("slope_x1000")
        }
        if kept and prev.get("carried") and "x100_measured_in" not in kept:
            # higher-decade numbers came from the merge source; keep
            # their origin visible now that the row itself is fresh
            kept["x100_measured_in"] = prev.get("measured_in")
        # Carried SLOPES were computed against the merge source's
        # x1/x10 baseline; placing them beside a freshly measured
        # x1_sec would mix decade metrics derived from different
        # baselines in one row (ADVICE r09). Recompute every carried
        # slope from the retained RAW seconds+rows and the fresh
        # baseline; a slope whose raw inputs were not retained is
        # dropped rather than kept stale.
        kept.pop("slope_x100_vs_x10", None)
        kept.pop("slope_x1000_vs_x100", None)
        kept.pop("slope_x100_vs_x10_baseline", None)
        if "x100_sec" in kept and "rows_x100" in kept:
            kept["slope_x100_vs_x10"] = round(
                (kept["x100_sec"] / kept["rows_x100"]) / (t10 / n10), 3
            )
            # Cross-run provenance (ADVICE r10): the recomputed slope
            # divides a carried x100 (merge-source run, possibly a
            # different machine load/session) by THIS run's fresh
            # x10 baseline — stamp both run ids so the mixed origin
            # is visible in the artifact. run_id is stamped into the
            # row as `measured_in` below; the carried decade's origin
            # is `x100_measured_in`.
            if kept.get("x100_measured_in"):
                kept["slope_x100_vs_x10_baseline"] = run_id
            if "x1000_sec" in kept and "rows_x1000" in kept:
                kept["slope_x1000_vs_x100"] = round(
                    (kept["x1000_sec"] / kept["rows_x1000"])
                    / (kept["x100_sec"] / kept["rows_x100"]),
                    3,
                )
        results[q] = kept | {
            "x1_sec": round(t1, 3),
            "x10_sec": round(t10, 3),
            "rows_x1": n1,
            "rows_x10": n10,
            "sec_per_mrow_x1": round(t1 / n1 * 1e6, 3),
            "sec_per_mrow_x10": round(t10 / n10 * 1e6, 3),
            "slope_vs_linear": round(slope, 3),
            "measured_in": run_id,
        }
        print(f"{q:28s} x1={t1:6.2f}s x10={t10:6.2f}s slope={slope:5.2f}", flush=True)

    if do_x100 or do_x1000:
        print("building x100 corpus ...", flush=True)
        rows_x100 = maybe_build(src_dir, f"{base}/x100", 100)
    if do_x100:
        for q in x100_families:
            # one warm-up + one timed run: at this volume run time
            # dwarfs trial noise, and 4 full runs would double the
            # harness cost for no information
            QUERIES_RUN = f"{base}/x100"
            from distributed_mapreduce_spark.workload import QUERIES

            QUERIES[q](spark, QUERIES_RUN).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()  # no cross-run cache riding
            t0 = time.perf_counter()
            QUERIES[q](spark, QUERIES_RUN).write.format("noop").mode(
                "overwrite"
            ).save()
            t100 = time.perf_counter() - t0
            n100 = rows_x100[input_table[q]]
            r = results[q]
            # Stamp semantics: x100_measured_in is present only when
            # the x100 numbers came from a DIFFERENT run than the
            # row's base measured_in. A fresh x100 in this run either
            # matches a fresh base (drop the stamp) or refreshes a
            # carried base (stamp this run). The old carried-flag
            # check left a STALE prior-run stamp on rows whose x1/x10
            # had just been re-measured in the same run (round-10 bug).
            if r.get("measured_in") == run_id:
                r.pop("x100_measured_in", None)
            else:
                r["x100_measured_in"] = run_id
            r["x100_sec"] = round(t100, 3)
            r["rows_x100"] = n100
            r["sec_per_mrow_x100"] = round(t100 / n100 * 1e6, 3)
            r["slope_x100_vs_x10"] = round(
                (t100 / n100) / (r["x10_sec"] / r["rows_x10"]), 3
            )
            print(
                f"{q:28s} x100={t100:7.2f}s slope(x100/x10)={r['slope_x100_vs_x10']:5.2f}",
                flush=True,
            )

    if do_x1000:
        # Third decade: 10 replicas OF the x100 corpus (id stride 100
        # keeps every layer's id ranges disjoint while preserving the
        # residue-gate divisibility of ID_OFFSET).
        print("building x1000 corpus (10 x the x100 corpus) ...", flush=True)
        rows_x1000 = maybe_build(f"{base}/x100", f"{base}/x1000", 10, id_stride=100)
        print(f"rows x1000={rows_x1000}", flush=True)
        from distributed_mapreduce_spark.workload import QUERIES

        for q in x1000_families:
            QUERIES[q](spark, f"{base}/x1000").write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()  # no cross-run cache riding
            t0 = time.perf_counter()
            QUERIES[q](spark, f"{base}/x1000").write.format("noop").mode(
                "overwrite"
            ).save()
            t1000 = time.perf_counter() - t0
            n1000 = rows_x1000[input_table[q]]
            r = results[q]
            # Same stamp semantics as x100 above.
            if r.get("measured_in") == run_id:
                r.pop("x1000_measured_in", None)
            else:
                r["x1000_measured_in"] = run_id
            r["x1000_sec"] = round(t1000, 3)
            r["rows_x1000"] = n1000
            r["sec_per_mrow_x1000"] = round(t1000 / n1000 * 1e6, 3)
            if "x100_sec" in r and "rows_x100" in r:
                r["slope_x1000_vs_x100"] = round(
                    (t1000 / n1000) / (r["x100_sec"] / r["rows_x100"]), 3
                )
            print(
                f"{q:28s} x1000={t1000:8.2f}s "
                f"slope(x1000/x100)={r.get('slope_x1000_vs_x100', float('nan')):5.2f}",
                flush=True,
            )

    decades = "10x"
    if do_x100:
        decades += " + 100x"
    if do_x1000:
        decades += " + 1000x (10 replicas of the x100 corpus, id stride 100)"
    artifact = {
        "method": (
            f"{decades} deterministic "
            f"replication of {src_dir} (disjoint id ranges preserving "
            "residue gates, per-replica Caesar-rotated text so token "
            "spaces are disjoint); 1 untimed warm-up + min of "
            f"{TRIALS} trials per point (x100/x1000: warm-up + 1 run), "
            "noop sink, local[32]; spark.catalog.clearCache() before "
            "every timed run (intra-query persist unaffected; no "
            "cross-invocation cache riding — round-8 methodology fix)"
        ),
        "run_id": run_id,
        "src": src_dir,
        "factor": FACTOR,
        "trials": TRIALS,
        # Self-contained provenance semantics (VERDICT r11 #8): future
        # readers should not need the round-10/11 notes to interpret
        # the stamps.
        "provenance_schema": (
            "v2: measured_in = run that produced the row's x1/x10 "
            "numbers; carried:true = row merged from a prior artifact "
            "unchanged; x100_measured_in / x1000_measured_in present "
            "ONLY when that decade was measured in a different run "
            "than the row's base (absent = same run as measured_in)"
        ),
        "queries": results,
    }
    if carried_notes:
        artifact["notes"] = carried_notes
    Path(out_json).write_text(json.dumps(artifact, indent=2) + "\n")
    print(f"wrote {out_json}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
