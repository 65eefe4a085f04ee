"""SQL-first census: one SQL text per relational query.

A query whose DuckDB oracle Spark analyzes through the spelling map
(`workload.registry.to_spark`) registers that text as its builder too
(`workload.registry.sql_query`). Every other oracle that analyzes keeps
its DataFrame builder only with a reason in `BUILDER_KEPT`. The census
itself is analysis only: no query runs.

A/B figures are paired runs on 4 cores (8 alternating pairs, timed from
the builder call to the last collected row, medians): the parent's
DataFrame builder against `spark.sql(to_spark(oracle))` over `table()`
views.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.errors import AnalysisException, PySparkException

from distributed_mapreduce_spark.plans.checks import explain_str
from distributed_mapreduce_spark.workload import ORACLES, QUERIES
from distributed_mapreduce_spark.workload.registry import (
    SQL_FIRST,
    TABLES,
    table,
    to_spark,
)

#: Builders kept although Spark analyzes their oracle through the map.
#: A builder is kept for speed only when its win beyond the SQL side's
#: IQR reproduces in a second paired run in a fresh JVM; a near-tie
#: verdict can flip between runs, so a win seen once converts.
BUILDER_KEPT = {
    # The operator under test is an engine surface the SQL text skips.
    "maplejuice_exe_pipeline": "engine surface: maple and juice run awk through rdd.pipe",
    "events_stateful_user_counts": "engine surface: applyInPandasWithState streaming drain; the oracle is its batch twin",
    "bucketed_join_agg": "engine surface: joins bucketed tables with no join shuffle (test_bucketed_join_has_no_join_shuffle)",
    "skew_salted_count": "engine surface: two-phase salted count; the oracle is the plain group count",
    "skew_salted_join": "engine surface: salted join with a replicated dim; the oracle is the plain join",
    "hll_merge_audit": "engine surface: merges per-shard HLL sketches; the oracle returns only the exact count",
    "approx_distinct_counts": "engine surface: approx_count_distinct certified against the exact count; the oracle pins TRUE",
    "approx_percentile_prices": "engine surface: approx_percentile certified against the exact percentile; the oracle pins TRUE",
    "partition_range_assign": "engine surface: the graded row for operators.range_bucket (SQL ties: sf0.1 0.28 vs 0.28 s)",
    "pareto_frontier_parts": "scale: the SQL skyline is one unpartitioned window over every distinct point; the builder prunes per hash group first (SQL faster at sf0.1: 0.31 vs 0.43 s)",
    "graph_triangles_degree_ordered": "engine surface: the degree-ordered O(m^1.5) wedge plan; its oracle is graph_triangle_counts' id-ordered text",
    "latest_event_per_user_agg": "engine surface: the window-free packed hash-aggregate plan; its oracle is latest_event_per_user's window text",
    "partition_hash_assign": "engine surface: the graded row for operators.hash_bucket, twin of partition_range_assign",
    "multimodal_features": "engine surface: blobs decode through multimodal.extract_image_features (mapInPandas); the oracle re-derives the dimensions from md5 hex",
    "multimodal_decode_errors": "engine surface: corrupt blobs become error rows in multimodal.extract_image_features; the oracle re-derives both populations",
    "multimodal_frames": "engine surface: multimodal.sample_frames explodes each blob into frame rows; the oracle slices the md5 hex",
    "multimodal_phash": "engine surface: multimodal.perceptual_hash over Arrow batches; the oracle re-derives the dHash from md5 hex",
    "cdc_apply_patch": "engine surface: the MERGE decomposition (anti join + union) certified by checksum; the oracle checksums v2 twice and pins TRUE",
    "partial_agg_merge": "engine surface: per-shard partial aggregates merged by re-aggregation; the oracle is the plain aggregate they must equal",
    "ivm_retraction": "engine surface: a retraction batch's partials subtracted from the base aggregate; the oracle is the recompute it must equal",
    "ntile_spend_quartiles": "scale: the SQL ntile is one unpartitioned window over every customer; the builder ranks with operators.global_rank (SQL faster at sf0.1: 0.43 vs 0.65 s)",
    "weighted_median_price": "scale: the SQL running weight is one unpartitioned window over lineitem; the builder uses operators.global_cumsum (SQL faster at sf0.1: 1.47 vs 2.77 s)",
    "grep_lines": "engine surface: the graded row for operators.filters.grep_filter (Engine.grep's line mode)",
    "grep_count": "engine surface: the graded row for operators.aggregates.agg_global_count over grep_filter (Engine.grep's count mode)",
    "grep_per_machine": "engine surface: the graded row for operators.aggregates.agg_count_per_machine over grep_filter",
    "partition_rows_scalable": "engine surface: the graded row for operators.partitioning.row_range_shard_scalable",
    "partition_rows_assign": "engine surface: the only row for operators.partitioning.row_range_shard, the reference's partition_csv parity split (SQL ties: sf0.1 0.30 vs 0.28 s, 6/8)",
    "range_join_conversions": "engine surface: the only row for operators.asof.range_join_binned, the binned interval join (SQL faster: sf0.1 0.34 vs 0.23 s, 8/8)",
    "zorder_assign": "engine surface: the only row for sources.layout.morton2, the z-order key (SQL ties: sf0.1 0.83 vs 0.78 s, 7/8)",
    "text_simpson_diversity": "scale: the builder hash-partitions the token stream on doc_id at an input-scaled width (wide_shuffle_parts, test_wide_shuffle.py); the SQL keeps the default width (SQL ties: sf0.1 0.46 vs 0.46 s, 4/8)",
    "graph_resource_allocation": "scale: the builder sizes its pair exchange from the measured wedge volume (_wedge_shuffle_parts, test_graph.py); the SQL keeps the default width (sf0.1: builder 4.89 vs SQL 5.41 s, 2/8)",
    "equidepth_histogram": "scale: the SQL ranks every row in one unpartitioned window; the builder uses operators.global_rank (SQL faster at sf0.1: 2.68 vs 1.59 s)",
    "quantile_grid_sketch_audit": "scale: the SQL ranks every row in one unpartitioned window; the builder uses operators.global_rank (SQL faster at sf0.1: 2.78 vs 1.89 s)",
    "quantile_normalize_sources": "scale: the SQL ranks every row in one unpartitioned window; the builder uses operators.global_rank (SQL faster at sf0.1: 1.09 vs 0.37 s)",
    "trimmed_mean_by_flag": "scale: the SQL ranks lineitem in one window per l_returnflag, about n/3 rows of window state on each of three tasks; the builder uses operators.global_rank (SQL faster at sf0.1: 2.81 vs 1.42 s)",
    "sessions_peak_concurrency": "scale: the SQL running sum is one unpartitioned window over every session endpoint; the builder uses operators.global_cumsum (SQL faster at sf0.1: 1.76 vs 1.45 s)",
    "flagship_pct": "engine surface: the graded flagship row for operators.filters.filter_eq_param and operators.aggregates.agg_pct_of_total",
    "filter_eq_param": "engine surface: the graded row for operators.filters.filter_eq_param",
    "filter_min_arity": "engine surface: the only row for operators.filters.filter_min_arity",
    "normalize_empty": "engine surface: the graded row for functions.strings.normalize_empty",
    "sanitize_key": "engine surface: the only row for functions.strings.sanitize_key",
    "maplejuice_flagship": "engine surface: the flagship through maple (mapInPandas) and juice (applyInPandas)",
    "pipeline_corpus_prep": "engine surface: the only row for text.build_corpus_prep, whose observe() stage counters test_corpus_prep_telemetry_matches_oracle_case_sums checks (SQL ties: sf0.1 1.14 vs 1.08 s, 6/8)",
    "curriculum_phase_assign": "scale: the SQL ranks every document in one unpartitioned window; the builder uses operators.global_rank (SQL faster at sf0.1: 0.74 vs 0.47 s)",
    "quality_rank_blend": "scale: the SQL ranks every document in two unpartitioned windows; the builder uses operators.global_rank (SQL faster at sf0.1: 1.12 vs 0.51 s)",
    "orders_rfm_segments": "scale: the SQL ranks every customer in three unpartitioned windows; the builder uses operators.global_rank (SQL faster at sf0.1: 1.50 vs 0.68 s)",
    "packing_efficiency": "scale: the SQL running token sum is one unpartitioned window over every document; the builder uses operators.global_cumsum (SQL faster at sf0.1: 1.20 vs 0.26 s)",
    "text_packing": "scale: the SQL running token sum is one unpartitioned window over every document; the builder uses operators.global_cumsum (SQL faster at sf0.1: 1.34 vs 0.31 s)",
    # The SQL plan runs or scales worse.
    "parse_extract_ids": "SQL fails at run time: CAST_INVALID_INPUT on '' under ANSI",
    "cuped_adjusted_lift": "SQL fails at run time: ARITHMETIC_OVERFLOW (long overflow) at sf0.01; its HUGEINT columns reach DIV",
    # The SQL would read another value once a quotient passes 2^63.
    "column_correlation_audit": "HUGEINT column under //: Spark's DIV returns a BIGINT that wraps past 2^63 (test_no_sql_first_plan_divs_a_hugeint)",
    "graph_assortativity": "HUGEINT column under //: Spark's DIV returns a BIGINT that wraps past 2^63",
    "graph_degree_assortativity": "HUGEINT column under //: Spark's DIV returns a BIGINT that wraps past 2^63",
    "subsample_variance_audit": "HUGEINT column under //: Spark's DIV returns a BIGINT that wraps past 2^63",
    "price_qty_ols_trend": "HUGEINT column under //: Spark's DIV returns a BIGINT that wraps past 2^63",
    "join_not_in_null_aware": "scale: SQL NOT IN plans a broadcast-only null-aware anti join of customer; the builder shuffles",
    "tpch_q18_large_orders": "sf0.01 A/B: builder 0.22 s vs SQL 0.34 s, 0/8; single lineitem scan (test_tpch_q18_single_lineitem_pass)",
    "events_funnel": "sf0.01 A/B: builder 0.16 s vs SQL 0.29 s, 0/8; staged min-aggregates, no window over raw events",
    "asof_last_click": "sf0.01 A/B: builder 0.19 s vs SQL 1.01 s, 0/8; the SQL range join's first sf0.1 run had not finished after 7 min",
    "asof_next_purchase": "sf0.01 A/B: builder 0.19 s vs SQL 0.55 s, 0/8; as asof_last_click",
    "graph_triangle_counts": "sf0.1 A/B: builder 0.74 s vs SQL 2.17 s, 0/8 (sf0.01: 0.32 vs 0.68 s, 0/8)",
    "graph_degree_hist": "sf0.01 A/B: builder 0.17 s vs SQL 0.27 s, 0/8 (sf0.1: 0.64 vs 0.66 s, 0/8)",
    "graph_common_neighbors": "sf0.1 A/B: builder 1.87 s vs SQL 3.61 s, 0/8 (sf0.01: 0.40 vs 0.57 s, 0/8)",
    "tpch_q5_region_volume": "sf0.1 A/B: builder 0.77 s vs SQL 1.07 s, 1/8 (SQL wins sf0.01: 0.33 vs 0.40 s)",
    "cdc_time_travel": "sf0.01 A/B: builder 0.95 s vs SQL 2.59 s, 0/8, beyond the SQL IQR 0.79 s",
    "graph_kcore_peel": "sf0.01 A/B: builder 2.14 s vs SQL 19.01 s, 0/8",
    "graph_sssp_bounded": "sf0.01 A/B: builder 1.46 s vs SQL 3.53 s, 0/8",
    "graph_ktruss_peel": "sf0.01 A/B: builder 1.66 s vs SQL 3.37 s, 0/8",
    "graph_clustering_coeff": "sf0.1 A/B: builder 1.77 s vs SQL 2.28 s, 1/8, beyond the SQL IQR 0.24 s (sf0.01: 0.69 vs 0.72 s, 3/8)",
    "graph_jaccard_linkpred": "sf0.1 A/B: builder 4.36 s vs SQL 5.09 s, 0/8, beyond the SQL IQR 0.52 s (sf0.01: 0.92 vs 0.89 s, 4/8)",
    "graph_ppr_seed": "sf0.1 A/B: builder 3.69 s vs SQL 5.18 s, 1/8, beyond the SQL IQR 0.62 s (an earlier sf0.1 run: 4.73 vs 5.24 s, 1/8, IQR 0.70 s)",
    "pagerank_converge": "sf0.1 A/B: builder 5.10 s vs SQL 6.92 s, 4/8, beyond the SQL IQR 1.42 s (an earlier sf0.1 run: 7.70 vs 7.88 s, 3/8, IQR 4.21 s)",
    "graph_modularity_score": "sf0.1 A/B: builder 1.59 s vs SQL 8.10 s, 0/8 (sf0.01: 1.60 vs 5.30 s, 0/8)",
    "er_blocking_audit": "sf0.1 A/B: builder 0.57 s vs SQL 0.82 s, 0/8, beyond the SQL IQR 0.08 s (a second sf0.1 run: 0.86 vs 1.12 s, 0/8)",
    "target_encode_loo": "sf0.1 A/B: builder 1.30 s vs SQL 1.48 s, 2/8, beyond the SQL IQR 0.14 s (a second sf0.1 run: 1.52 vs 1.61 s, 2/8, IQR 0.09 s)",
    "order_gap_stats": "sf0.1 A/B: builder 0.60 s vs SQL 0.65 s, 2/8, beyond the SQL IQR 0.02 s (an earlier sf0.1 run: 0.53 vs 0.57 s, 2/8, IQR 0.05 s)",
    "graph_mis_luby": "SQL does not finish: Spark inlines the chained round CTEs; no result within 240 s at sf0.001",
    "graph_greedy_matching": "SQL does not finish: Spark inlines the chained round CTEs; no result within 240 s at sf0.001",
    # The SQL returns the builder's rows with another output type.
    "graph_hits_rounds": "dtype: the SQL rnk is Spark row_number's INT where the oracle and the builder give BIGINT",
}


def test_oracles_use_the_shared_dialect():
    """Spark rejects DuckDB's bare ``VARCHAR``; ``STRING`` is the same
    type in both engines."""
    bare_varchar = re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE)
    assert sorted(n for n, sql in ORACLES.items() if bare_varchar.search(sql)) == []


#: The spelling map, rule by rule: what the rule matches in DuckDB text,
#: and one DuckDB example with its Spark spelling.
SPELLINGS = {
    "div": (r"//", "SELECT a // 2 FROM t", "SELECT a DIV 2 FROM t"),
    "materialized": (
        r"\bMATERIALIZED\b",
        "WITH c AS MATERIALIZED (SELECT 1 AS x) SELECT x FROM c",
        "WITH c AS (SELECT 1 AS x) SELECT x FROM c",
    ),
    "unnest": (r"\bunnest\(", "SELECT unnest(l) FROM t", "SELECT explode(l) FROM t"),
    "hex": (
        r"'0x'\s*\|\|",
        "SELECT ('0x' || substr(md5(s), 1, 8))::BIGINT, ('0x' || substr(h, 3, 2))::INT",
        "SELECT CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT),"
        " CAST(conv(substr(h, 3, 2), 16, 10) AS INT)",
    ),
    "string_split": (r"\bstring_split\(", "SELECT string_split(s, ' ')", "SELECT split(s, ' ')"),
    "list_filter": (
        r"\blist_filter\(",
        "SELECT list_filter(l, x -> x <> '')",
        "SELECT filter(l, x -> x <> '')",
    ),
    "regexp_matches": (
        r"\bregexp_matches\(",
        "SELECT regexp_matches(s, '^a')",
        "SELECT regexp_like(s, '^a')",
    ),
    "quantile_cont": (
        r"\bquantile_cont\(",
        "SELECT quantile_cont(v, 0.5)",
        "SELECT percentile(v, 0.5)",
    ),
    "epoch_us": (r"\bepoch_us\(", "SELECT epoch_us(ts)", "SELECT unix_micros(ts)"),
    "list_literal": (
        r"\[",
        "SELECT [1, 2], f(x)[1:2], CASE WHEN b THEN [3] ELSE [] END",
        "SELECT array(1, 2), f(x)[1:2], CASE WHEN b THEN array(3) ELSE array() END",
    ),
    "list_index": (
        r"[\w)\]]\[",
        "SELECT l[1], f(x)[i + 1], [5, 6][2], m['k']",
        "SELECT try_element_at(l, nullif(1, 0)), try_element_at(f(x), nullif(i + 1, 0)),"
        " try_element_at(array(5, 6), nullif(2, 0)), m['k']",
    ),
    "hugeint": (
        r"\bHUGEINT\b",
        "SELECT CAST(a AS HUGEINT) * b, c // 2, c::HUGEINT * 10 // (d + 1)",
        "SELECT CAST(a AS DECIMAL(38, 0)) * b, c DIV 2,"
        " CAST(((c::DECIMAL(38, 0) * 10) - (c::DECIMAL(38, 0) * 10) % ((d + 1)))"
        " / ((d + 1)) AS DECIMAL(38, 0))",
    ),
    "len": (r"\blen\(", "SELECT len(l)", "SELECT size(l)"),
    "list_transform": (
        r"\blist_transform\(",
        "SELECT list_transform(l, x -> x + 1)",
        "SELECT transform(l, x -> x + 1)",
    ),
    "typed_array": (
        r"\w\s*\[\]",
        "SELECT CAST(l AS STRING[]), m::BIGINT[]",
        "SELECT CAST(l AS ARRAY<STRING>), m::ARRAY<BIGINT>",
    ),
    "regexp_replace_g": (
        r"'g'\s*\)",
        "SELECT regexp_replace(s, '[0-9]', '#', 'g')",
        "SELECT regexp_replace(s, '[0-9]', '#')",
    ),
    "regexp_extract_all": (
        r"\bregexp_extract_all\([^(),]+,\s*'[^']*'\)",
        "SELECT regexp_extract_all(s, '([a-z])[0-9]')",
        "SELECT regexp_extract_all(s, '([a-z])[0-9]', 0)",
    ),
    "date_diff": (
        r"\bdate_diff\(",
        "SELECT date_diff('day', a, b)",
        "SELECT timestampdiff(DAY, date_trunc('DAY', a), date_trunc('DAY', b))",
    ),
    "generate_series": (
        r"\bgenerate_series\(",
        "SELECT generate_series(1, n), generate_series(a, b, INTERVAL 1 HOUR)",
        "SELECT CASE WHEN 1 <= n THEN sequence(1, n) ELSE array() END,"
        " sequence(a, b, INTERVAL 1 HOUR)",
    ),
    "list_distinct": (
        r"\blist_distinct\(",
        "SELECT list_distinct(l)",
        "SELECT array_distinct(filter(l, x -> x IS NOT NULL))",
    ),
    "list_reduce": (
        r"\blist_reduce\(",
        "SELECT list_reduce(l, (a, b) -> a + b)",
        "SELECT aggregate(slice(l, 2, size(l)), element_at(l, 1), (a, b) -> a + b)",
    ),
    "backslash": (
        r"(?<!\\)\\(?!\\)",
        r"SELECT regexp_replace(s, '\s+', ' ', 'g'), 'it''s \d'",
        r"SELECT regexp_replace(s, '\\s+', ' '), 'it''s \\d'",
    ),
}


def _fires(pattern: str, sql: str) -> bool:
    """Whether :func:`to_spark` rewrote a ``pattern`` spelling in ``sql``."""
    return len(re.findall(pattern, to_spark(sql), re.I)) < len(re.findall(pattern, sql, re.I))


@pytest.mark.parametrize("rule", sorted(SPELLINGS))
def test_to_spark_rewrites_each_spelling(rule):
    pattern, duck, spark = SPELLINGS[rule]
    assert to_spark(duck) == spark
    assert _fires(pattern, duck)


def test_to_spark_leaves_literals_and_comments_verbatim():
    sql = (
        "/*+ MERGE(lineitem) */ SELECT 'a // b [1]', \"unnest(\" -- x // 2 [y]\n"
        "FROM t WHERE s = 'it''s // unnest(' /* quantile_cont( */"
    )
    assert to_spark(sql) == sql
    assert "/*+ MERGE(lineitem) */" in to_spark(ORACLES["tpch_q10_returned_items"])


def test_every_spelling_rule_fires_on_a_sql_first_oracle():
    """A rule that no SQL-first text needs is dead code."""
    dead = [
        rule for rule, (pattern, _, _) in SPELLINGS.items()
        if not any(_fires(pattern, ORACLES[n]) for n in SQL_FIRST)
    ]
    assert dead == []


#: DuckDB texts whose values Spark must read the same through the map,
#: at the edges where the two engines' functions differ.
SAME_VALUES = (
    # The '0x' cast and conv read the same digits, high bit set included.
    "SELECT s, ('0x' || substr(md5(s), 1, 8))::BIGINT AS b,"
    " ('0x' || substr(md5(s), 7, 2))::INT AS i"
    " FROM (VALUES ('a'), ('b'), ('ab_17'), ('')) AS t(s)",
    # DuckDB counts day boundaries crossed (1 here); Spark's bare
    # timestampdiff counts whole days elapsed (0), hence the truncation.
    "SELECT date_diff('day', TIMESTAMP '2020-01-01 23:00:00', TIMESTAMP '2020-01-02 01:00:00') AS d,"
    " date_diff('day', DATE '2020-01-01', DATE '2020-03-01') AS e,"
    " date_diff('microsecond', TIMESTAMP '2020-01-01 00:00:00', TIMESTAMP '2020-01-01 00:00:01') AS u",
    # DuckDB reads NULL past either end and counts -1 from the back;
    # Spark's x[i] is 0-based and raises past the end.
    "SELECT [1, 2, 3][4] AS a, [1, 2, 3][0] AS b, [1, 2, 3][-1] AS c, [1, 2, 3][2] AS d",
    "SELECT len([1, 2, 3]) AS n, len(CAST(NULL AS INT[])) AS z",
    # DuckDB's default group is 0, Spark's 1.
    "SELECT regexp_extract_all('a1b22', '([a-z])([0-9]+)') AS g",
    # The 'g' flag maps only because Spark always replaces every match.
    "SELECT regexp_replace('a1b22', '[0-9]', '#', 'g') AS r",
    # DuckDB's series is empty when start > stop; Spark's sequence counts down.
    "SELECT generate_series(1, 3) AS up, generate_series(3, 1) AS down,"
    " generate_series(0, 6, 2) AS step",
    # DuckDB drops NULL; Spark's array_distinct keeps one.
    "SELECT len(list_distinct([1, NULL, 1, 2])) AS n, list_distinct([3, 3]) AS l",
    "SELECT list_transform([1, 2], x -> x * 10) AS t, CAST(['a'] AS STRING[]) AS s",
    "SELECT list_reduce([1, 2, 3], (a, b) -> a * 10 + b) AS r,"
    " list_reduce([5], (a, b) -> a + b) AS one",
    # DuckDB keeps a backslash in a literal; Spark's parser unescapes it
    # ('\s+' would read 's+'), and a raw r'...' would end at a doubled quote.
    r"SELECT regexp_replace('a  b', '\s+', ' ') AS r, 'it''s \d' AS q",
    # A HUGEINT quotient past 2^63, and truncation toward zero (last:
    # the test below checks its value).
    "SELECT CAST(10 AS HUGEINT) * 100000000000000000000 // 3 AS q, CAST(-7 AS HUGEINT) // 2 AS r",
)


def test_spelling_map_reads_duckdbs_values(spark):
    """The rule tests above compare text; this one compares the values
    both engines read from the same DuckDB text."""
    for duck in SAME_VALUES:
        want = sorted(duckdb.sql(duck).fetchall())
        assert sorted(tuple(r) for r in spark.sql(to_spark(duck)).collect()) == want, duck
    # DIV would wrap the HUGEINT quotient past 2^63 to a BIGINT.
    assert want[0][0] >= 2**63
    # `len` becomes `size`, which rejects a string, so DuckDB's string
    # `len` can never read a wrong value in Spark.
    with pytest.raises(AnalysisException, match="DATATYPE_MISMATCH"):
        spark.sql(to_spark("SELECT len('abc')"))


@pytest.fixture(scope="module")
def analyzable(spark, sf_dir) -> set[str]:
    """Names of the oracles Spark's SQL front-end analyzes through the
    spelling map."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    ok = set()
    for name, sql in ORACLES.items():
        try:
            spark.sql(to_spark(sql))
        except PySparkException:  # parse, analysis or constant-folding error
            continue
        ok.add(name)
    return ok


def test_every_analyzable_oracle_is_sql_first_or_kept(analyzable):
    unexplained = analyzable - SQL_FIRST - set(BUILDER_KEPT)
    assert not unexplained, sorted(unexplained)


def test_builder_kept_entries_are_not_stale(analyzable):
    stale = set(BUILDER_KEPT) - analyzable
    assert not stale, f"oracle no longer analyzes in Spark: {sorted(stale)}"
    assert not set(BUILDER_KEPT) & SQL_FIRST


def test_sql_first_queries_run_their_oracle_text(analyzable):
    assert SQL_FIRST <= analyzable
    assert SQL_FIRST <= set(QUERIES)


def _wide_decimal_divs(df) -> list[str]:
    """The ``DIV`` expressions in ``df``'s analyzed plan whose dividend
    is a DECIMAL with more integer digits than a BIGINT holds. Spark's
    ``DIV`` returns a BIGINT, so such a quotient wraps past 2^63 where
    DuckDB's ``//`` on a HUGEINT stays exact."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    found, plans = [], [df._jdf.queryExecution().analyzed()]
    while plans:
        plan = plans.pop()
        plans += seq(plan.children()) + seq(plan.subqueries())
        exprs = seq(plan.expressions())
        while exprs:
            e = exprs.pop()
            exprs += seq(e.children())
            if e.getClass().getSimpleName() == "IntegralDivide":
                t = e.left().dataType()
                if t.getClass().getSimpleName() == "DecimalType" and t.precision() - t.scale() > 18:
                    found.append(e.sql())
    return found


def test_no_sql_first_plan_divs_a_hugeint(spark, analyzable):
    """The map spells ``//`` exactly where an operand's text names
    ``HUGEINT``; a query whose HUGEINT reaches ``//`` through a column
    keeps its builder."""
    assert _wide_decimal_divs(spark.sql(to_spark(ORACLES["column_correlation_audit"])))
    wide = [
        n for n in sorted(SQL_FIRST)
        if "//" in ORACLES[n] and _wide_decimal_divs(spark.sql(to_spark(ORACLES[n])))
    ]
    assert wide == []


def test_queries_report_their_family_module():
    """`tools/check_correctness.py` files each query's cost under
    ``fn.__module__``; a SQL-first builder must name its family."""
    registry = "distributed_mapreduce_spark.workload.registry"
    assert [n for n, fn in QUERIES.items() if fn.__module__ == registry] == []


def test_sql_first_frame_is_bound_at_build(spark, sf_dir):
    """The temp views are session-wide, so a frame must not change when
    a later call re-points them at another data directory."""
    sf01 = sf_dir.replace("sf0.001", "sf0.01")
    small = QUERIES["join_inner"](spark, sf_dir)
    want = small.count()
    larger = QUERIES["join_inner"](spark, sf01)
    assert larger.count() > want
    assert small.count() == want


def test_approx_distinct_counts_runs_the_hll_sketch(spark, sf_dir):
    """The oracle pins ``within_5pct`` to TRUE, so only the builder's
    plan shows that the sketch is computed and checked at all."""
    df = QUERIES["approx_distinct_counts"](spark, sf_dir)
    assert explain_str(df).count("approx_count_distinct") >= 3
    assert all(r.within_5pct for r in df.collect())


def test_approx_percentile_prices_runs_the_sketch(spark, sf_dir):
    """As above: the oracle pins ``within_1pct`` to TRUE, so only the
    builder's plan shows that the percentile sketch runs at all."""
    df = QUERIES["approx_percentile_prices"](spark, sf_dir)
    assert explain_str(df).count("approx_percentile") >= 3
    assert all(r.within_1pct for r in df.collect())
