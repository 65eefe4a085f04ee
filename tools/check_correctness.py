"""Local differential harness: run every registered query on Spark and
its oracle on DuckDB, compare row count, column names, and
order-insensitive values. Mirrors the driver's CORRECTNESS check so
mismatches surface before a round ends.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] [query ...] --dtype-audit
"""

from __future__ import annotations

import json
import os
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

#: The checkout this script belongs to: imported from, and written to.
REPO = Path(__file__).resolve().parents[1]
REGISTRY_COST = REPO / "REGISTRY_COST.json"
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: The deep-scale (sf4, factor-40 data) differential set — committed as
#: code so "the scale-sensitive selection" is reproducible from the repo
#: (VERDICT r11 #5), runnable via `--sf4-set`. Selection criteria, in
#: order: (1) every iterative/convergence query (graph family, PageRank,
#: CC/dedup clustering, k-means — where the r10 silent-non-convergence
#: class lives); (2) every query whose shuffle width or cap is
#: input-scaled (LSH bands, edit-distance pairs, substring dedup,
#: phash pairs); (3) the sketch family (CMS/HLL/KMV — error bounds
#: tighten with scale, so drift is visible); (4) one representative per
#: remaining family with non-trivial sf4 cost (events/journey,
#: retrieval, quality, multimodal, skew). Certified in
#: CORRECTNESS_SF4_r11*.log (31 + 20 queries, zero engine failures);
#: `multimodal_phash_pairs` additionally checksum-certified at 206 M
#: output rows via tools/checksum_check.py.
SF4_SET = frozenset(
    """
    ann_ivf_trained auc_rank_audit bm25_top_docs cdc_time_travel
    cms_heavy_hitters corpus_domain_cap dedup_clusters
    dedup_clusters_pointer_jump dedup_edit_distance_pairs dedup_exact
    dedup_exact_substring_runs dedup_exact_substring_strip
    dsir_importance_weights embedding_dedup_clusters events_funnel
    events_markov_stationary events_sessionize flagship_pct
    graph_greedy_matching graph_hits_rounds graph_kcore_peel
    graph_ktruss_peel graph_label_propagation graph_mis_luby
    graph_ppr_seed graph_sssp_bounded graph_temporal_reachability
    graph_triangle_counts hll_merge_audit kmv_distinct_by_source
    ks_statistic_returnflag maplejuice_flagship multimodal_decode_errors
    multimodal_phash_pairs pagerank_converge partition_consistent_ring
    quality_gates_cohen_kappa retention_cohorts retrieval_hard_negatives
    retrieval_phrase_match retrieval_rrf_fusion semdedup_keep_verdicts
    sessionize_gap_sweep sessions_peak_concurrency skew_join_salted
    text_ngram_novelty text_packing tokenizer_bpe_merges
    tpch_q18_large_orders vocab_build window_running
    """.split()
)


def normalize_cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, list):
        return tuple(normalize_cell(x) for x in v)
    return v


def canonical(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(normalize_cell(r[i]) for i in order))
    out.sort(key=repr)
    return out


def registry_cost_within(
    measured: dict, baseline: dict, factor: float = 1.25
) -> tuple[bool, str]:
    """Regression gate (VERDICT r08 #7): is the measured full-registry
    sf0.01 wall time within ``factor`` of the pinned baseline?

    Normalized PER QUERY so legitimately adding queries to the registry
    never trips the gate — only the average cost of a query rotting
    does. Returns (ok, human-readable verdict)."""
    mt, mn = measured["total_spark_sec"], measured["n_queries"]
    bt, bn = baseline["total_spark_sec"], baseline["n_queries"]
    if mn <= 0 or bn <= 0 or bt <= 0:
        return False, f"degenerate inputs: measured={mt}/{mn} baseline={bt}/{bn}"
    per_m, per_b = mt / mn, bt / bn
    ok = per_m <= factor * per_b
    return ok, (
        f"per-query {per_m:.3f}s vs baseline {per_b:.3f}s "
        f"(x{per_m / per_b:.2f}, gate x{factor}) over {mn} queries"
    )


def run(
    sf_dir: str,
    only: set[str] | None = None,
    log_path: str | None = None,
    spark=None,
) -> int:
    """Differential-check the registry (or `only` subset) at `sf_dir`;
    optionally tee every PASS/FAIL line to `log_path` (the per-round
    certification artifact). Returns the failure count."""
    only = only or set()
    import builtins

    log_fh = open(log_path, "w") if log_path else None
    _stdout_print = builtins.print

    def print(*args, **kwargs):  # noqa: A001 - deliberate local tee
        # flush both sinks per line: a mid-run crash (the round-10
        # sf1.0 OOM kill) must not lose the buffered PASS/FAIL tail.
        _stdout_print(*args, **{**kwargs, "flush": True})
        if log_fh:
            _stdout_print(*args, **{**kwargs, "file": log_fh, "flush": True})

    try:
        return _run_inner(sf_dir, only, spark, print)
    finally:
        # close on EVERY exit path so a mid-certification exception
        # still flushes the buffered PASS/FAIL tail to the artifact
        if log_fh:
            log_fh.close()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per harness table at ``sf_dir``."""
    con = duckdb.connect()
    # Bound the oracle engine's memory so a heavy sf1.0 oracle SPILLS
    # instead of ballooning: DuckDB's default limit is 80% of RAM
    # (~100 GB here), and the round-10 sf1.0 certification was
    # OOM-killed at 120 GB RSS mid-oracle. 24 GB + a disk spill dir
    # keeps the whole differential inside the machine's envelope.
    # SPARK_GRAFT_ORACLE_MEM overrides for deep-scale reruns (the sf4
    # differential's closure/iteration oracles need more than the
    # default envelope; the engine side is unaffected either way).
    con.execute(
        f"SET memory_limit='{os.environ.get('SPARK_GRAFT_ORACLE_MEM', '24GB')}'"
    )
    con.execute("SET temp_directory='/tmp/duckdb_cert_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _run_inner(sf_dir, only, spark, print):  # noqa: A002
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    if spark is None:
        spark = get_spark("check_correctness", cpus=8, shuffle_partitions=8)
    con = oracle_connection(sf_dir)

    failures = []
    spark_secs: dict[str, float] = {}
    families: dict[str, str] = {}
    # Queries this certification run must not execute at this scale —
    # the quadratic-by-definition oracles at sf1.0 (e.g. the LSH recall
    # audit's exact truth set: DuckDB-side multi-hour there). Same
    # pattern as the anchor's SPARK_GRAFT_ANCHOR_SKIP: every skip is
    # printed and counted in the artifact, never silently dropped.
    skip = {
        s for s in os.environ.get("SPARK_GRAFT_CERT_SKIP", "").split(",") if s
    }
    # Queries routed through the collect-free distributed-checksum
    # differential (tools/checksum_check.py): outputs too large to
    # collect at deep scale (round 11: multimodal_phash_pairs emits
    # 206 M rows at sf4 — engine fine, collect impossible). A PASS here
    # is count+checksum equality computed inside each engine.
    checksum_only = {
        s
        for s in os.environ.get("SPARK_GRAFT_CERT_CHECKSUM", "").split(",")
        if s
    }
    skipped: list[str] = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in skip:
            skipped.append(name)
            print(f"SKIP {name} (via SPARK_GRAFT_CERT_SKIP at {sf_dir})")
            continue
        if name in checksum_only:
            import checksum_check as cc

            try:
                t0 = time.perf_counter()
                sn, ss = cc.spark_checksum(fn(spark, sf_dir))
                spark_secs[name] = round(time.perf_counter() - t0, 3)
                families[name] = getattr(fn, "__module__", "?").rsplit(".", 1)[-1]
                dn, ds = cc.duckdb_checksum(con, ORACLES[name])
            except Exception as e:
                failures.append(name)
                print(f"FAIL {name}: checksum-mode error: {e}")
                continue
            if (sn, ss) != (dn, ds):
                failures.append(name)
                print(
                    f"FAIL {name}: checksum mismatch spark=({sn},{ss}) "
                    f"duckdb=({dn},{ds})"
                )
            else:
                print(f"PASS {name} ({sn} rows, checksum mode)")
            continue
        families[name] = getattr(fn, "__module__", "?").rsplit(".", 1)[-1]
        try:
            t0 = time.perf_counter()
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            spark_secs[name] = round(time.perf_counter() - t0, 3)
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in ORACLES:
            print(f"ok?  {name}: rows-only ({len(srows)} rows) — no oracle")
            continue
        try:
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            continue
        sc = canonical([tuple(r) for r in srows], scols)
        dc = canonical(drows, dcols)
        if len(sc) != len(dc):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sc)} duckdb={len(dc)}")
            continue
        if sc != dc:
            failures.append(name)
            bad = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            continue
        print(f"PASS {name} ({len(sc)} rows)")

    # Full-registry cost accounting (VERDICT r03 #8): when the whole
    # registry ran, persist total + per-family Spark seconds so the
    # bench artifact (bench.py embeds this file) doubles as a
    # regression signal for registry growth.
    if not only and sf_dir.rstrip("/").endswith("sf0.01"):
        # Cost accounting is pinned to the canonical sf0.01 dir so a
        # full sf0.1 certification run doesn't clobber the artifact
        # with timings at a different scale.
        fam_tot: dict[str, float] = {}
        for n, s in spark_secs.items():
            fam_tot[families[n]] = round(fam_tot.get(families[n], 0.0) + s, 3)
        cost = {
            "sf_dir": sf_dir,
            "n_queries": len(spark_secs),
            "total_spark_sec": round(sum(spark_secs.values()), 3),
            "per_family_sec": dict(sorted(fam_tot.items(), key=lambda kv: -kv[1])),
            "top_queries_sec": dict(
                sorted(spark_secs.items(), key=lambda kv: -kv[1])[:15]
            ),
        }
        with open(REGISTRY_COST, "w") as f:
            json.dump(cost, f, indent=2)
            f.write("\n")
        print(f"registry cost: {cost['total_spark_sec']} s over {cost['n_queries']} queries")

    if skipped:
        print(f"\n{len(skipped)} skipped via SPARK_GRAFT_CERT_SKIP: {skipped}")
    if failures:
        print(f"\n{len(failures)} failures: {failures}")
    else:
        # Coverage assertion (VERDICT r10 #3): "ALL PASS" may only be
        # printed when every registered query has a PASS or SKIP line
        # in THIS run — a truncated or subset run must visibly report
        # "partial" so a resumed certification can never mask a hole
        # (the round-10 sf1.0 artifact hid 111 never-ran queries
        # behind a subset's ALL PASS).
        covered = set(spark_secs) | set(skipped)
        missing = [n for n in QUERIES if n not in covered]
        if missing:
            print(
                f"\npartial: {len(covered)}/{len(QUERIES)} covered, 0 failures "
                f"in the attempted subset; NOT certified: {len(missing)} "
                f"missing (first 10: {missing[:10]})"
            )
        else:
            print(f"\nALL PASS (coverage {len(covered)}/{len(QUERIES)})")
    return len(failures)


def frame_dtypes(pdf) -> dict[str, str]:
    """Each column's pandas dtype, exactly as the frame carries it. An
    ``object`` column also names the Python type of its first non-null
    value (``object[Decimal]``), since that is what a row hasher sees."""
    out = {}
    for col in pdf.columns:
        s = pdf[col]
        label = str(s.dtype)
        if label == "object":
            vals = s.dropna()
            if len(vals):
                label += f"[{type(vals.iloc[0]).__name__}]"
        out[col] = label
    return out


def dtype_audit(sf_dir: str, only: set[str] | None = None, spark=None) -> dict:
    """Compare Spark ``toPandas()`` dtypes with DuckDB ``.df()`` dtypes
    per query and column, with no normalisation. Returns the audit
    record; every mismatch is also printed, one line per column."""
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    if spark is None:
        spark = get_spark("dtype_audit", cpus=8, shuffle_partitions=8)
    con = oracle_connection(sf_dir)
    mismatches: dict[str, dict[str, list[str | None]]] = {}
    errors: dict[str, str] = {}
    n = 0
    for name, fn in QUERIES.items():
        if (only and name not in only) or name not in ORACLES:
            continue
        n += 1
        try:
            got = frame_dtypes(fn(spark, sf_dir).toPandas())
            want = frame_dtypes(con.execute(ORACLES[name]).df())
        except Exception as e:
            errors[name] = str(e).splitlines()[0][:200]
            print(f"ERROR {name}: {errors[name]}", flush=True)
            continue
        diff = {
            c: [got.get(c), want.get(c)]
            for c in sorted(set(got) | set(want))
            if got.get(c) != want.get(c)
        }
        if diff:
            mismatches[name] = diff
            for c, (a, b) in diff.items():
                print(f"DTYPE {name}.{c}: spark={a} duckdb={b}", flush=True)
    classes: dict[str, int] = {}
    for diff in mismatches.values():
        for a, b in diff.values():
            k = f"spark={a} duckdb={b}"
            classes[k] = classes.get(k, 0) + 1
    print(
        f"dtype audit: {len(mismatches)} of {n} queries differ in "
        f"{sum(classes.values())} columns; {len(errors)} errors"
    )
    return {
        "sf_dir": sf_dir,
        "n_queries": n,
        "n_queries_differing": len(mismatches),
        "classes": dict(sorted(classes.items(), key=lambda kv: -kv[1])),
        "mismatches": mismatches,
        "errors": errors,
    }


def resume_subset(start_after: str) -> set[str]:
    """The queries to run when resuming after `start_after`: everything
    STRICTLY AFTER it in registration order (the crashed log's tail —
    never a hand-picked list). Raises KeyError for unknown names.
    Factored out of main() so the test suite exercises the SAME
    derivation the CLI uses (ADVICE r11: the old test re-implemented
    the slice expression and could not catch a CLI regression)."""
    from distributed_mapreduce_spark.workload import QUERIES

    names = list(QUERIES)
    if start_after not in names:
        raise KeyError(start_after)
    return set(names[names.index(start_after) + 1 :])


def main() -> int:
    """CLI: check_correctness.py [sf_dir] [query ...]
                                 [--start-after NAME] [--sf4-set]
                                 [--dtype-audit]

    `--sf4-set` runs exactly the committed deep-scale selection
    (SF4_SET above) — use with an sf4 directory built by
    tools/gen_sf.py.

    `--start-after NAME` resumes a crashed certification at the query
    AFTER `NAME` in registration order (VERDICT r10 #3: resumes must be
    derived from the crashed log's tail, not a hand-picked subset, and
    the partial-coverage footer above makes the remaining hole visible
    either way).

    `--dtype-audit` compares pandas dtypes instead of values (see
    :func:`dtype_audit`); a whole-registry run writes the record to
    ``DTYPE_AUDIT.json`` in this checkout."""
    args = sys.argv[1:]
    start_after = None
    if "--start-after" in args:
        i = args.index("--start-after")
        start_after = args[i + 1]
        del args[i : i + 2]
    audit = "--dtype-audit" in args
    if audit:
        args.remove("--dtype-audit")
    use_sf4_set = "--sf4-set" in args
    if use_sf4_set:
        args.remove("--sf4-set")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if use_sf4_set:
        only |= SF4_SET
        print(f"--sf4-set: {len(SF4_SET)} deep-scale queries (see SF4_SET)")
    if start_after is not None:
        from distributed_mapreduce_spark.workload import QUERIES

        try:
            only = resume_subset(start_after)
        except KeyError:
            print(f"--start-after {start_after!r}: not a registered query")
            return 1
        print(
            f"resuming after {start_after!r}: {len(only)} of {len(QUERIES)} "
            f"queries (registration order)"
        )
    if audit:
        record = dtype_audit(sf_dir, only)
        if not only:
            with open(REPO / "DTYPE_AUDIT.json", "w") as f:
                json.dump(record, f, indent=2)
                f.write("\n")
        return 1 if record["errors"] else 0
    return 1 if run(sf_dir, only) else 0


if __name__ == "__main__":
    raise SystemExit(main())
