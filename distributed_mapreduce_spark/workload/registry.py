"""Query/oracle registry backing ``__spark_entry__.py``.

Contract (driver-imposed): each named query is a callable
``(spark, sf_dir) -> DataFrame``; its oracle is an ANSI-SQL string
DuckDB runs over the same parquet tables. Column names and values must
match exactly (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_spark.sources.readers import scan_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: Queries whose builder runs their oracle text (:func:`sql_query`).
SQL_FIRST: set[str] = set()

#: The harness tables (TESTDATA.md), one ``{name}.parquet`` each.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_TABLE_WORD = re.compile(r"\b(" + "|".join(TABLES) + r")\b")

#: Quoted literals, quoted identifiers and comments: :func:`to_spark`
#: never rewrites inside them.
_OPAQUE = re.compile(r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|--[^\n]*|/\*.*?\*/", re.S)
_HOLE = re.compile(r"\x00(\d+)\x00")

#: DuckDB spelling -> Spark spelling, one token each.
_RENAMES = (
    (re.compile(r"\bAS\s+MATERIALIZED\s*\(", re.I), "AS ("),
    (re.compile(r"\bunnest\s*\(", re.I), "explode("),
    (re.compile(r"\bstring_split\s*\(", re.I), "split("),
    (re.compile(r"\blist_filter\s*\(", re.I), "filter("),
    (re.compile(r"\bregexp_matches\s*\(", re.I), "regexp_like("),
    (re.compile(r"\bquantile_cont\s*\(", re.I), "percentile("),
    (re.compile(r"\bepoch_us\s*\(", re.I), "unix_micros("),
    (re.compile(r"\bHUGEINT\b", re.I), "DECIMAL(38, 0)"),
    (re.compile(r"\blen\s*\(", re.I), "size("),
    (re.compile(r"\blist_transform\s*\(", re.I), "transform("),
    (re.compile(r"\b(STRING|BIGINT|INTEGER|INT|DOUBLE)\s*\[\s*\]", re.I), r"ARRAY<\1>"),
)
_HEX_OPEN = re.compile(r"\(\s*\x00(\d+)\x00\s*\|\|")
_HEX_TYPE = re.compile(r"\s*::\s*(BIGINT|INT)\b", re.I)


def _series(a: list[str], lit: Callable[[str], str | None]) -> str | None:
    # Spark's two-argument sequence counts down when start > stop;
    # DuckDB's generate_series is empty there.
    if len(a) == 2:
        return f"CASE WHEN {a[0]} <= {a[1]} THEN sequence({a[0]}, {a[1]}) ELSE array() END"
    return f"sequence({', '.join(a)})"


def _date_diff(a: list[str], lit: Callable[[str], str | None]) -> str | None:
    # DuckDB counts unit boundaries crossed, Spark whole units elapsed;
    # the two agree once both ends are truncated to the unit.
    unit = lit(a[0]) if len(a) == 3 else None
    if unit is None or not unit[1:-1].isalpha():
        return None
    u = unit[1:-1].upper()
    return f"timestampdiff({u}, date_trunc('{u}', {a[1]}), date_trunc('{u}', {a[2]}))"


#: DuckDB call -> Spark spelling, given the call's top-level arguments
#: and a reader for a quoted-literal argument; ``None`` leaves the call.
_CALLS = (
    (re.compile(r"\bregexp_replace\s*\(", re.I),
     lambda a, lit: f"regexp_replace({', '.join(a[:3])})"
     if len(a) == 4 and lit(a[3]) == "'g'" else None),
    (re.compile(r"\bregexp_extract_all\s*\(", re.I),
     lambda a, lit: f"regexp_extract_all({a[0]}, {a[1]}, 0)" if len(a) == 2 else None),
    (re.compile(r"\bdate_diff\s*\(", re.I), _date_diff),
    (re.compile(r"\bgenerate_series\s*\(", re.I), _series),
    (re.compile(r"\blist_distinct\s*\(", re.I),
     lambda a, lit: f"array_distinct(filter({a[0]}, x -> x IS NOT NULL))" if len(a) == 1 else None),
    (re.compile(r"\blist_reduce\s*\(", re.I),
     lambda a, lit: f"aggregate(slice({a[0]}, 2, size({a[0]})), element_at({a[0]}, 1), {a[1]})"
     if len(a) == 2 else None),
)
#: A ``[`` after one of these (or after no word at all) opens a list
#: literal; after any other word, ``)`` or ``]`` it indexes.
_LIST_AFTER = re.compile(
    r"(?:^|\b(?:SELECT|THEN|ELSE|WHEN|AND|OR|NOT|IN|BY|RETURN)|[^\w)\]\x00\s])\s*$", re.I
)
_DIV = re.compile(r"\s*//\s*")
_WORD = re.compile(r"[\w.]+")
#: Words that end an operand of ``//`` rather than name a column or call.
_KEYWORDS = frozenset(
    "SELECT DISTINCT FROM WHERE HAVING THEN ELSE WHEN CASE END AND OR NOT IN IS "
    "LIKE BETWEEN BY ON AS RETURN DIV".split()
)


def _close(s: str, i: int) -> int:
    """Index of the bracket closing the one at ``s[i]``."""
    pair = {"(": ")", "[": "]"}[s[i]]
    depth = 0
    for j in range(i, len(s)):
        if s[j] == s[i]:
            depth += 1
        elif s[j] == pair:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced {s[i]!r} at {i}")


def _open(s: str, i: int) -> int:
    """Index of the bracket opening the one that closes at ``s[i]``."""
    pair = {")": "(", "]": "["}[s[i]]
    depth = 0
    for j in range(i, -1, -1):
        if s[j] == s[i]:
            depth += 1
        elif s[j] == pair:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced {s[i]!r} at {i}")


def _split(body: str, sep: str) -> list[str]:
    """``body`` cut at each ``sep`` outside brackets, parts stripped."""
    parts, depth, start = [], 0, 0
    for j, ch in enumerate(body):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(body[start:j].strip())
            start = j + 1
    return [*parts, body[start:].strip()]


def _name_start(s: str, j: int) -> int:
    """Start of the name (word characters, ``.`` and literal holes)
    that ends at ``s[j]``; ``j`` when none does."""
    while j and (s[j - 1].isalnum() or s[j - 1] in "_.\x00"):
        j -= 1
    return j


def _factor_start(s: str, j: int) -> int | None:
    """Start of the operand factor ending at ``s[:j]`` (a name, a call,
    a bracketed group, any of them with ``::T`` casts), or ``None``."""
    while True:
        j = len(s[:j].rstrip())
        if j and s[j - 1] in ")]":
            j = _open(s, j - 1)
            if s[j] == "[":  # an index: its base comes before it
                continue
            k = len(s[:j].rstrip())
            if (n := _name_start(s, k)) < k and s[n:k].upper() not in _KEYWORDS:
                j = n
        elif (n := _name_start(s, j)) < j and s[n:j].upper() not in _KEYWORDS:
            j = n
        else:
            return None
        k = len(s[:j].rstrip())
        if s[k - 2:k] != "::":
            return j
        j = k - 2


def _operator_before(s: str, j: int) -> int | None:
    """Start of the ``*``, ``/``, ``%`` or ``DIV`` ending at ``s[:j]``."""
    k = len(s[:j].rstrip())
    if k and s[k - 1] in "*%/":
        return k - 1
    return k - 3 if s[k - 3:k] == "DIV" and _name_start(s, k) == k - 3 else None


def _factor_end(s: str, j: int) -> int | None:
    """End of the operand factor starting at or after ``s[j]``, or ``None``."""
    j += len(s[j:]) - len(s[j:].lstrip())
    if s[j:j + 1] == "(":
        end = _close(s, j) + 1
    elif (name := _WORD.match(s, j)) and name.group().upper() not in _KEYWORDS:
        end = name.end()
    else:
        return None
    while True:
        k = end + len(s[end:]) - len(s[end:].lstrip())
        if s[k:k + 1] in ("(", "["):
            end = _close(s, k) + 1
        elif s[k:k + 2] == "::" and (name := _WORD.match(s, k + 2)):
            end = name.end()
        else:
            return end


def _spell_div(s: str) -> str:
    """``a // b`` -> ``a DIV b``, except where an operand is a
    ``HUGEINT``: ``DIV`` returns a BIGINT that wraps past 2^63, so that
    quotient is spelled ``CAST((a - a % b) / b AS HUGEINT)``, exact in
    DECIMAL(38, 0) and truncated toward zero like DuckDB's."""
    pos, huge = 0, "HUGEINT" in s.upper()
    while m := _DIV.search(s, pos):
        start = end = None
        if huge:
            start = m.start()
            # The left operand runs back over factors joined by * / % DIV.
            while (start := _factor_start(s, start)) is not None:
                if (op := _operator_before(s, start)) is None:
                    break
                start = op
            end = _factor_end(s, m.end())
        if start is None or end is None or "HUGEINT" not in s[start:end].upper():
            s = f"{s[:m.start()]} DIV {s[m.end():]}"
            pos = m.start() + 5
            continue
        a, b = s[start:m.start()].strip(), s[m.end():end].strip()
        s = f"{s[:start]}CAST((({a}) - ({a}) % ({b})) / ({b}) AS HUGEINT){s[end:]}"
        pos = start + 1
    return s


def _unhide(text: str) -> str:
    r"""A quoted literal as Spark's parser must read it: Spark unescapes
    a backslash (``'\s+'`` reads ``s+``) where DuckDB keeps it, so each
    one is doubled. A raw ``r'…'`` would not do: ``r'it''s'`` reads
    ``its``."""
    return text.replace("\\", "\\\\") if text.startswith("'") else text


def to_spark(sql: str) -> str:
    """Spell a DuckDB oracle for Spark's parser with a closed map of
    twenty-two rules. Renames: ``a // b`` -> ``a DIV b``; ``AS
    MATERIALIZED (`` -> ``AS (``; ``unnest``, ``string_split``,
    ``list_filter``, ``regexp_matches``, ``quantile_cont``,
    ``epoch_us``, ``len`` and ``list_transform`` -> ``explode``,
    ``split``, ``filter``, ``regexp_like``, ``percentile``,
    ``unix_micros``, ``size`` and ``transform``; ``HUGEINT`` ->
    ``DECIMAL(38, 0)``; ``T[]`` -> ``ARRAY<T>``. Calls:
    ``('0x' || e)::BIGINT`` (or ``::INT``) -> ``CAST(conv(e, 16, 10) AS
    BIGINT)``; ``regexp_replace(s, p, r, 'g')`` drops the flag (Spark
    always replaces every match); ``regexp_extract_all(s, p)`` gains
    DuckDB's default group 0; ``date_diff('unit', a, b)`` ->
    ``timestampdiff`` between the unit-truncated ends;
    ``generate_series`` -> ``sequence`` (empty, not descending, when
    start > stop); ``list_distinct(l)`` -> ``array_distinct`` over
    ``l``'s non-NULL elements; ``list_reduce(l, f)`` -> ``aggregate``
    from ``l``'s first element. Brackets: a ``[a, b]`` list literal ->
    ``array(a, b)``; DuckDB's 1-based ``x[i]`` -> ``try_element_at(x,
    nullif(i, 0))``, which like DuckDB reads NULL past either end and
    counts a negative ``i`` from the back (a ``'key'`` or a slice is
    left as it is). Literals: each backslash in a quoted literal is
    doubled, since Spark's parser unescapes it and DuckDB does not.
    Otherwise literals and comments pass through verbatim, so a
    ``/*+ … */`` hint survives.

    Not every rule keeps the value: DuckDB's ``//`` on a DOUBLE divides
    exactly where ``DIV`` truncates, a ``HUGEINT`` that reaches ``//``
    through a column still meets ``DIV``, ``split`` takes a Java regex
    where ``string_split`` takes a plain separator, and the regex
    dialects differ (RE2 against Java). A query runs through this map
    only once its rows and dtypes equal the oracle's."""
    opaque: list[str] = []

    def hide(m: re.Match) -> str:
        opaque.append(m.group(0))
        return f"\x00{len(opaque) - 1}\x00"

    def lit(arg: str) -> str | None:
        hole = _HOLE.fullmatch(arg)
        return opaque[int(hole.group(1))] if hole else None

    s = _spell_div(_OPAQUE.sub(hide, sql))
    for pat, repl in _RENAMES:
        s = pat.sub(repl, s)
    pos = 0
    while m := _HEX_OPEN.search(s, pos):
        end = _close(s, m.start())
        cast = _HEX_TYPE.match(s, end + 1)
        if opaque[int(m.group(1))] != "'0x'" or cast is None:
            pos = m.end()
            continue
        inner = s[m.end():end].strip()
        s = f"{s[:m.start()]}CAST(conv({inner}, 16, 10) AS {cast.group(1)}){s[cast.end():]}"
    for pat, spell in _CALLS:
        pos = 0
        while m := pat.search(s, pos):
            end = _close(s, m.end() - 1)
            new = spell(_split(s[m.end():end], ","), lit)
            if new is not None:
                s = f"{s[:m.start()]}{new}{s[end + 1:]}"
            pos = m.start() + 1
    pos = 0
    while (i := s.find("[", pos)) >= 0:
        end = _close(s, i)
        body = s[i + 1:end]
        pos = i + 1
        j = len(s[:i].rstrip())
        # The lookbehind needs only the word before the bracket.
        if _LIST_AFTER.search(s, max(0, j - 8), i):
            s = f"{s[:i]}array({body}){s[end + 1:]}"
        elif lit(body.strip()) is None and len(_split(body.replace("::", ""), ":")) == 1:
            while s[j - 1] in ")]" and s[(j := _open(s, j - 1))] == "[":
                pass
            j = _name_start(s, j)
            s = f"{s[:j]}try_element_at({s[j:i].rstrip()}, nullif({body}, 0)){s[end + 1:]}"
            pos = j + len("try_element_at(")
    return _HOLE.sub(lambda m: _unhide(opaque[int(m.group(1))]), s)


def _ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship `distributed_mapreduce_spark` to Python workers via
    `addPyFile` (once per SparkContext).

    Queries that cross the Arrow boundary (`mapInPandas` /
    `applyInPandas`) serialize closures that reference this package BY
    MODULE NAME; the worker then has to import it. That works when the
    driver's cwd is the repo root (cwd lands on the worker's
    sys.path), but a grading harness launched from elsewhere with a
    default session would fail with ModuleNotFoundError on exactly the
    Python-boundary queries. Shipping the package as a zip makes the
    contract location-independent — addPyFile entries are placed on
    every task's sys.path.
    """
    sc = spark.sparkContext
    # The marker lives on the context object, so it dies with it: a
    # successor context never inherits it (an `id(sc)` set would, when
    # the successor lands at the stopped context's address), and the
    # check costs no py4j call.
    if getattr(sc, "_graft_shipped", False):
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(tempfile.gettempdir(), "spark_graft_pkg.zip")
    # rebuild if missing or stale vs any source file
    try:
        zmtime = os.path.getmtime(zip_path)
    except OSError:
        zmtime = -1.0
    newest = max(
        (
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(pkg_root)
            for f in fs
            if f.endswith(".py")
        ),
        default=0.0,
    )
    if newest > zmtime:
        # Stage under a unique name so concurrent processes never
        # publish each other's half-written zip; os.replace is atomic.
        fd, tmp = tempfile.mkstemp(prefix="spark_graft_pkg.", suffix=".zip.tmp")
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as z:
                for dp, _, fs in os.walk(pkg_root):
                    for f in fs:
                        if f.endswith(".py"):
                            full = os.path.join(dp, f)
                            rel = os.path.join(
                                "distributed_mapreduce_spark",
                                os.path.relpath(full, pkg_root),
                            )
                            z.write(full, rel)
            os.replace(tmp, zip_path)
        except BaseException:
            os.unlink(tmp)
            raise
    sc.addPyFile(zip_path)
    sc._graft_shipped = True


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a workload query; ``oracle=None`` → rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def sql_query(name: str, sql: str) -> QueryFn:
    """Register ONE SQL text as both the oracle and the builder: the
    oracle is ``sql`` byte for byte, and the builder gives every harness
    table the text names a temp view through :func:`table` and returns
    ``spark.sql(to_spark(sql))``, so Spark's SQL front-end and DuckDB
    run the same query.

    A query is SQL-first when its oracle analyzes in Spark through
    :func:`to_spark`, returns the same rows and dtypes, and the
    DataFrame form does not beat it in a paired A/B; the kept builders
    and their measured reasons are listed in ``tests/test_sql_first.py``.
    Views are bound at analysis, so a later call for another ``sf_dir``
    never changes a frame already returned. The builder reports its
    caller's module, which keeps per-family attribution
    (``tools/check_correctness.py`` groups cost by ``fn.__module__``).

    Oracles write ``STRING``, not DuckDB's bare ``VARCHAR``, which Spark
    rejects. Spellings outside the :func:`to_spark` map (``list_zip``,
    ``range``, ``list_sum``, an ``ORDER BY`` inside an aggregate,
    ``xor``, ``time_bucket``) keep a query on its DataFrame builder."""
    names = sorted(set(_TABLE_WORD.findall(sql)))
    spark_sql = to_spark(sql)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in names:
            table(spark, sf_dir, t).createOrReplaceTempView(t)
        return spark.sql(spark_sql)

    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    fn.__name__ = fn.__qualname__ = f"q_{name}"
    query(name, oracle=sql)(fn)
    SQL_FIRST.add(name)
    return fn


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a harness table (see TESTDATA.md).

    Timestamp normalization (applied to whatever session the driver
    passes in — all three confs are runtime-settable):

    - NTZ-annotated parquet timestamps read as plain TIMESTAMP
      (`inferTimestampNTZ.enabled=false`): the stored micros become
      UTC instants, so `unix_micros` etc. see exactly the values
      DuckDB's naive TIMESTAMP exposes, independent of machine zone.
    - Session timezone pinned to UTC so zone-dependent derivations
      (date_trunc, hour, casts to string/date) agree with the naive
      oracle arithmetic.
    - Historic generators stored TIMESTAMP(NANOS), which Spark's
      vectorized reader rejects; read nanos as long and truncate to
      micros (what DuckDB does on the oracle side). The conf is set
      for every table, not only events, so a table's read confs (and
      with them its schema-cache key, `sources.readers.scan_parquet`)
      do not depend on which table the session read first.
    """
    _ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "events":
        from pyspark.sql import functions as F

        ev = _read_spread(spark, f"{sf_dir}/{name}.parquet", spread=False)
        if dict(ev.dtypes).get("ts") == "bigint":
            ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return ev
    return _read_spread(
        spark,
        f"{sf_dir}/{name}.parquet",
        spread=name in ("documents", "embeddings"),
    )


def _read_spread(spark: SparkSession, path: str, spread: bool):
    """Read a parquet table, optionally guarding source parallelism:
    the harness parquet ships ONE row group per file, and Spark cannot
    split a row group across tasks, so every base scan here is a
    SINGLE task no matter spark.sql.files.maxPartitionBytes.

    ``spread`` is True for the COMPUTE-DENSE tables only — documents
    (text) and embeddings (vectors), whose every consumer runs heavy
    per-row kernels (tokenization, gram hashing, dot products) directly
    above the scan, so a serialized first stage dominates the query
    (winnowing's gram-hash/window-min ran as one 2.6 s task at sf0.1;
    ann_range_search's cosine scan as one 3 s task at sf1.0). For
    those, one round-robin exchange of the raw rows — megabytes, and
    linear always — buys back full parallelism for the ~100x-the-bytes
    compute above it. At real scale the source has many splits and the
    gate below makes this a NO-OP plan-wise.

    Deliberately NOT applied to the relational/scalar tables
    (VERDICT r09 #8 asked for uniformity; measured and rejected): their
    plans reach a Catalyst exchange after cheap narrow ops, so the
    single-task scan pipelines into the first shuffle's map side and
    the extra exchange is pure cost — spreading every table regressed
    the 69-query sf0.1 bench by +21.8 s spread over 66 queries
    (+0.3-1.1 s each, BENCH r10 bisect) with no winner outside the
    compute-dense pair. The distinction is a semantic property of the
    table's columns (per-row kernel inputs vs relational scalars), not
    a byte heuristic.

    This helper OWNS the read rather than wrapping arbitrary plans
    (ADVICE r09): the parallelism probe `df.rdd.getNumPartitions()` is
    job-free only on a bare file-source scan — under AQE, `.rdd` on a
    plan with pending exchanges would silently execute them. Filters
    and projections callers add later still reach the scan: Catalyst
    pushes predicates/pruning through RepartitionOperation, so the
    exchange carries only post-filter rows.

    Safe by construction: the engine has no input-order- or
    partition-dependent operator (grep-verified: no
    monotonically_increasing_id / input_file_name / spark_partition_id
    anywhere in the workload) and every oracle comparison is
    order-insensitive."""
    df = scan_parquet(spark, path)
    if not spread:
        return df
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target)


#: wide_shuffle_parts sizing: one shuffle task per this many SOURCE
#: parquet bytes. A token/gram explode inflates text ~10-30x in flight,
#: so 2 MiB of source parquet ≈ 20-60 MiB of shuffle per task — inside
#: executor memory with headroom. Derived from the measured x1000
#: point: documents at x1000 is ~850 MB → ~420 tasks, the width class
#: AQE picked (and that fixed the 2.07 slope) under round 9's global
#: initialPartitionNum=1024 before it was scoped away.
WIDE_BYTES_PER_TASK = 2 << 20

#: Hard cap on an input-scaled exchange width (same role as
#: PAIR_MAX_PARTITIONS / RA_MAX_PARTITIONS in the pair families).
WIDE_MAX_PARTITIONS = 2048


def wide_shuffle_parts(
    spark: SparkSession,
    sf_dir: str,
    table_name: str = "documents",
    bytes_per_task: int = WIDE_BYTES_PER_TASK,
) -> int | None:
    """Input-scaled width for a compute-EXPANDING exchange (token/gram
    explode streams, per-key window sorts over the full fact table), or
    None when the session default already suffices — callers skip the
    repartition entirely, so small-SF plans are byte-identical to the
    ungated ones.

    This is the scoped replacement for round 9's global
    `initialPartitionNum=1024` (VERDICT r09 #1): that conf fixed the
    gram shuffles (text_ngram_novelty x1000 slope 2.07→1.01) but taxed
    every tiny exchange in the iterative queries 3-4.4x. Width belongs
    to the exchange that needs it, sized from the exchange's own input
    volume, not to the session.

    Sizing reads ONLY filesystem metadata for the source table (file
    size on disk; no Spark job — plan-only constructions stay
    job-free, unlike the sizing-job helpers `_pair_shuffle_parts` /
    `_wedge_shuffle_parts` whose volumes are super-linear in input and
    must be measured). A gram/token/window stream is linear in source
    bytes, so compressed parquet bytes are an honest proxy. Callers
    hash-partition by (a subset of) the downstream aggregation or
    window keys, so the explicit exchange REPLACES the default-width
    one Catalyst would insert rather than adding a shuffle."""
    path = os.path.join(sf_dir, f"{table_name}.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return None
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n = -(-nbytes // bytes_per_task)
    if n <= default_parts:
        return None
    return int(min(WIDE_MAX_PARTITIONS, n))
