"""Physical-plan assertions — the feedback loop that keeps operators
scale-honest (the instructions every operator must pass: filters reach
the scan, small dims broadcast, hot paths stay in whole-stage codegen).

The reference has no optimizer at all (SURVEY.md §4.1); here the
optimizer is Catalyst and these helpers verify we didn't accidentally
defeat it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what `.explain()` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (ReadSchema) — the
    column-pruning check."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def wholestage_codegen_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider/fewer = better fusion).

    Formatted mode tags fused operators `[codegen id : N]`; the legacy
    tree mode prints `WholeStageCodegen (N)` — count either.
    """
    s = explain_str(df)
    ids = set(re.findall(r"codegen id : (\d+)", s))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", s))
    return len(ids)


#: Tables whose row count scales with SF — an *unbounded* broadcast
#: hint on one of these is a plan that wins locally and OOMs at 100×.
#: Fixed-size dims (nation, region) and the judged-acceptable supplier
#: are fine to hint explicitly.
SCALING_TABLES = frozenset(
    {"customer", "orders", "lineitem", "part", "partsupp", "events", "documents", "embeddings"}
)

_COL_PREFIX_TO_TABLE = {
    "c_": "customer",
    "o_": "orders",
    "l_": "lineitem",
    "ps_": "partsupp",
    "p_": "part",
    "s_": "supplier",
    "n_": "nation",
    "r_": "region",
    "doc_": "documents",
    "vec_": "embeddings",
    "event_": "events",
}


def _node_depth(line: str) -> int:
    """Depth of a node in Catalyst's tree-art plan string (the offset of
    the node text past the ` : + -` scaffolding)."""
    return len(line) - len(line.lstrip(" :+-"))


def _relation_table(line: str) -> str | None:
    m = re.search(r"Relation \[([A-Za-z_][A-Za-z0-9_]*)", line)
    if not m:
        return None
    col = m.group(1)
    for prefix in sorted(_COL_PREFIX_TO_TABLE, key=len, reverse=True):
        if col.startswith(prefix):
            return _COL_PREFIX_TO_TABLE[prefix]
    return None


def broadcast_hint_audit(df: DataFrame) -> list[dict]:
    """Inventory of broadcast hints in the analyzed logical plan.

    For each `ResolvedHint (strategy=broadcast)` node, report which base
    tables its subtree scans and whether the subtree is *bounded* (a
    Filter or Limit sits between the hint and the scan — e.g. the 8-row
    ANN query set). An **unbounded** hint over a SCALING_TABLES relation
    is the scale red flag VERDICT r01 called out on broadcast(customer):
    the build side grows linearly with SF until it OOMs.
    """
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    out: list[dict] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        depth = _node_depth(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= depth:
                break
            subtree.append(nxt)
        tables = sorted({t for s in subtree if (t := _relation_table(s)) is not None})
        bounded = any(
            "Filter " in s or "GlobalLimit" in s or "Aggregate [" in s for s in subtree
        )
        out.append({"tables": tables, "bounded": bounded})
    return out


def unbounded_scaling_broadcasts(df: DataFrame) -> list[str]:
    """Names of SF-scaling tables that sit under an unbounded broadcast
    hint — should be [] for every registered query."""
    flagged: list[str] = []
    for hint in broadcast_hint_audit(df):
        if not hint["bounded"]:
            flagged.extend(t for t in hint["tables"] if t in SCALING_TABLES)
    return sorted(set(flagged))


def _top_level_groups(s: str) -> list[str]:
    """Split ``[...], [...], [...]`` into its top-level bracket groups
    (brackets may nest inside window/frame expressions)."""
    groups: list[str] = []
    depth = 0
    cur: list[str] | None = None
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0 and cur is not None:
                groups.append("".join(cur))
                cur = None
                continue
        if cur is not None:
            cur.append(ch)
    return groups


#: Leaf nodes whose row count scales with input — logical (Relation/
#: LogicalRDD) and physical (FileScan/Scan ExistingRDD/InMemoryTableScan,
#: which appear verbatim when an InMemoryRelation prints its cached
#: physical plan as inner children).
_UNBOUNDED_LEAVES = (
    "Relation ",
    "LogicalRDD",
    "FileScan",
    "Scan ",
    "InMemoryTableScan",
)
#: Ancestors that bound a leaf's contribution to ≤|groups| (or ≤limit)
#: rows — logical and physical spellings ("Limit" also covers
#: LocalLimit/GlobalLimit-prefixed logical nodes). An aggregate whose
#: grouping keys cover ALL its output columns (a distinct) is NOT
#: bounding — its group count is the input's distinct-row count, which
#: scales with input (`_is_distinct_aggregate` carves it out); the
#: salted two-stage top-k idiom that legitimately follows a
#: corpus-scale distinct is recognized separately (a Filter on a rank
#: produced by a PARTITIONED window bounds to ≤|parts|·k rows — same
#: ≤|groups| standard as an aggregate).
_BOUNDING_ANCESTORS = (
    "Aggregate [",
    "GlobalLimit",
    "LocalLimit",
    "Limit",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "CollectLimit",
    "TakeOrderedAndProject",
)

#: row_number aliases inside a Window node's function list — the ONLY
#: window output whose `<= k` filter bounds row count (rank() and
#: dense_rank() assign 1 to every tied row, so a `rank <= k` filter can
#: keep arbitrarily many rows; percent_rank bounds nothing). The
#: lookbehind stops `percent_rank()`/`dense_rank()` from matching via a
#: substring.
_RANK_ALIAS_RE = re.compile(
    r"(?<![\w.])row_number\(\).*? AS ([A-Za-z_]\w*#\d+)"
)


#: Aggregate-function tokens as they print inside a logical Aggregate's
#: output list — presence of any means the node genuinely aggregates.
_AGG_FN_RE = re.compile(
    r"\b(?:count|sum|min|max|avg|mean|first|last|any_value|collect_list|"
    r"collect_set|approx_\w+|percentile\w*|median|mode|stddev\w*|var\w*|"
    r"skewness|kurtosis|corr|covar\w*|bit_\w+|bool_\w+|max_by|min_by|"
    r"count_if|hll_\w+|regr_\w+|listagg|string_agg|grouping\w*)\("
)

_ATTR_REF_RE = re.compile(r"\w+#\d+")


def _is_distinct_aggregate(st: str) -> bool:
    """Whether a (logical or physical) aggregate node text is
    distinct-like: no aggregate functions, and every output expression
    built only from grouping attributes (Catalyst may merge a trailing
    Project into the output list, so string equality of the two groups
    is not enough). Such a node's cardinality is the input's
    distinct-row count — it reduces nothing in the worst case and must
    not count as a bounding ancestor. Bias: an unrecognized aggregate
    function makes this return True (a visible false FLAG in the
    sweep), never a silent false pass."""
    if st.startswith("Aggregate ["):
        groups = _top_level_groups(st[len("Aggregate ") :])
        if len(groups) < 2:
            return False
        if _AGG_FN_RE.search(groups[1]):
            return False
        key_refs = set(_ATTR_REF_RE.findall(groups[0]))
        # strip ` AS alias#n` definitions before collecting references
        out_refs = set(_ATTR_REF_RE.findall(re.sub(r" AS \w+#\d+", "", groups[1])))
        return out_refs <= key_refs
    if st.startswith(("HashAggregate(", "SortAggregate(", "ObjectHashAggregate(")):
        return "functions=[]" in st
    return False


def _window_is_partitioned(groups: list[str]) -> bool:
    """Whether a Window node's top-level bracket groups carry a
    non-empty partition spec (see `window_partition_audit` for the
    four node arities)."""
    if len(groups) >= 3:
        return groups[1].strip() != ""
    if len(groups) == 2:
        g1 = groups[1]
        return g1.strip() != "" and not (" ASC" in g1 or " DESC" in g1)
    return False


def _node_text(line: str) -> str:
    """Node text past tree scaffolding and any `*(n) ` codegen tag."""
    return re.sub(r"^\*\(\d+\) ", "", line.lstrip(" :+-"))


def _leaves_covered(sub: list[str]) -> bool:
    """Whether every unbounded leaf in `sub` (a tree-art plan fragment,
    logical or physical) passes through a bounding aggregate/limit on
    its ancestor path inside the fragment. Used both for a Window's
    subtree and for an InMemoryRelation's printed cached plan: a cache
    over a grouped/global aggregate is ≤|groups| rows (bounded); a cache
    wrapped directly around a raw FileScan is just the scan with a
    StorageLevel and must stay flagged.

    Two refinements on the bounding rule (round-7):
    - an all-column distinct aggregate does NOT bound (its group count
      is the distinct-row count of a scaling input);
    - a Filter `rank <= k` on a rank produced by a PARTITIONED window
      on the same ancestor path DOES bound (≤|parts|·k rows — the
      salted two-stage top-k idiom)."""
    for ri, s in enumerate(sub):
        st = _node_text(s)
        if st.startswith("InMemoryRelation"):
            # with printed inner children, the cached plan's own scan
            # leaves are audited directly below (FileScan + physical
            # bounders); a childless IMR print must count as a leaf
            has_children = ri + 1 < len(sub) and _node_depth(
                sub[ri + 1]
            ) > _node_depth(s)
            if has_children:
                continue
        elif not st.startswith(_UNBOUNDED_LEAVES):
            continue
        min_d = _node_depth(s)
        covered = False
        rank_aliases: list[str] = []
        for j in range(ri - 1, -1, -1):
            dj = _node_depth(sub[j])
            if dj < min_d:
                min_d = dj
                aj = _node_text(sub[j])
                if aj.startswith("Window "):
                    groups = _top_level_groups(aj[len("Window ") :])
                    if groups and _window_is_partitioned(groups):
                        rank_aliases.extend(_RANK_ALIAS_RE.findall(groups[0]))
                elif aj.startswith("Filter ") and any(
                    re.search(r"(?<!\w)" + re.escape(a) + r" (?:<=?|=) \d+", aj)
                    for a in rank_aliases
                ):
                    covered = True
                    break
                elif aj.startswith(
                    _BOUNDING_ANCESTORS
                ) and not _is_distinct_aggregate(aj):
                    covered = True
                    break
        if not covered:
            return False
    return True


def window_partition_audit(df: DataFrame) -> list[dict]:
    """Inventory of Window nodes in the optimized logical plan: is the
    partition spec empty, and is the window's input *bounded*?

    An unpartitioned window is a single-task global sort+fold — the
    round-2 class of scale bug when it runs over raw rows. It is FINE
    over the documented bounded-window class: inputs already reduced to
    ≤|groups| rows by an aggregate (or truncated by a limit) before the
    window. Bounded here = every scan leaf under the window passes
    through an Aggregate/Limit on its ancestor path inside the window's
    subtree (a lone Aggregate on the OTHER side of a join does not
    launder an unbounded branch).

    Logical-node syntax (all four arities occur):
    ``Window [funcs], [partSpec], [orderSpec]`` — partitioned+ordered;
    ``Window [funcs], [partSpec]`` — partitioned, unordered (bare
    attribute refs, e.g. ``[fp#5]``);
    ``Window [funcs], [orderSpec]`` — GLOBAL ordered window (entries
    carry ``ASC``/``DESC`` sort directions);
    ``Window [funcs]`` — global unordered. The second group is an
    order spec iff it contains a sort direction keyword.
    """
    lines = (
        df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )
    out: list[dict] = []
    for i, line in enumerate(lines):
        stripped = _node_text(line)
        if not stripped.startswith("Window "):
            continue
        depth = _node_depth(line)
        groups = _top_level_groups(stripped[len("Window ") :])
        partitioned = _window_is_partitioned(groups)
        subtree = []
        for nxt in lines[i + 1 :]:
            if _node_depth(nxt) <= depth:
                break
            subtree.append(nxt)
        # every unbounded leaf (logical Relation/LogicalRDD, or the
        # physical FileScan/Scan lines an InMemoryRelation prints as its
        # cached plan — a .cache() must not launder a scaling scan) must
        # have a bounding Aggregate/Limit ancestor within the window's
        # subtree
        out.append(
            {"partitioned": partitioned, "bounded_input": _leaves_covered(subtree)}
        )
    return out


#: Queries ALLOWED an unpartitioned window over unbounded input — each
#: is a documented reference-parity op whose semantics ARE a global
#: sequential numbering, with a scalable twin or a bounded real input:
#: - `partition_rows_assign`: contiguous row-range split parity
#:   (fileserver.py:265-289); scale path is `partition_rows_scalable`
#:   (range shuffle + Arrow numbering + broadcast offsets).
#: - `partition_range_assign`: NTILE parity of the balanced range cut
#:   (fileserver.py:700-732); physical placement at scale is
#:   `repartitionByRange` (no global window).
#: - `maplejuice_flagship`: pct-of-total window over the juice-phase
#:   output, which is ≤ |distinct keys| rows by the juice contract —
#:   the reduction happens inside the Arrow stage (FlatMapGroupsInPandas),
#:   so the logical plan cannot prove boundedness mechanically.
GLOBAL_WINDOW_PARITY_OPS = frozenset(
    {"partition_rows_assign", "partition_range_assign", "maplejuice_flagship"}
)

#: Queries whose global window runs over input bounded by a DOMAIN
#: argument the plan text cannot carry (each documented in the query's
#: own docstring; everything here was re-derived when the round-7
#: audit stopped accepting all-column distincts as bounding):
#: - `pareto_frontier_parts`: the global skyline pass reads only the
#:   union of per-group local frontiers. A local frontier ordered
#:   (price asc, size desc) keeps a strictly-increasing-size chain, so
#:   each of the {SKYLINE_GROUPS} groups contributes ≤ |distinct
#:   p_size values| rows (TPC-H sizes are a 1..50 domain) — the global
#:   window input is ≤ G·|size domain| regardless of row count.
DOMAIN_BOUNDED_WINDOW_OPS = frozenset({"pareto_frontier_parts"})


def unpartitioned_unbounded_windows(df: DataFrame) -> int:
    """Count of Window nodes with an empty partition spec over input
    not provably bounded by an aggregate/limit — should be 0 for every
    registered query (whitelist documented exceptions explicitly)."""
    return sum(
        1
        for w in window_partition_audit(df)
        if not w["partitioned"] and not w["bounded_input"]
    )


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast) operators in the plan —
    counted from the formatted details section so each operator counts
    once."""
    return len(re.findall(r"\(\d+\) Exchange", explain_str(df)))
