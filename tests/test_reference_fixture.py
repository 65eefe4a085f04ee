"""Golden-fixture parity: the flagship pipeline on the REFERENCE'S OWN
dataset (`/root/reference/data/traffic.csv`, read-only) for the exact
worked examples in its README (`maple maple-exe 3 bear traffic.csv
Fiber/Radio` → `juice ...` and the Radio/Fiber variants,
README.md:39-56, MP4-RUN-Command.txt:1-15), differentially checked
against DuckDB over the same CSV.

This is the closest available substitute for the reference's Hadoop
cross-check (its own test strategy, SURVEY.md §5): same input file,
same filter/group/percent semantics, independent engine.
"""

from __future__ import annotations

import pytest

duckdb = pytest.importorskip("duckdb")

from distributed_mapreduce_spark.functions.strings import (
    normalize_empty,
    pct_of_total_sql,
)
from distributed_mapreduce_spark.maplejuice import select_where
from distributed_mapreduce_spark.operators.aggregates import agg_pct_of_total
from distributed_mapreduce_spark.operators.filters import filter_eq_param

TRAFFIC = "/root/reference/data/traffic.csv"

_T = "regexp_replace({c}, '^[ \t\n\r\f]+|[ \t\n\r\f]+$', '', 'g')"
_NORM = "CASE WHEN {c} IS NULL OR " + _T + " = '' THEN 'empty' ELSE " + _T + " END"


def _oracle(param: str):
    con = duckdb.connect()
    # all_varchar mirrors Catalog.put's untyped StringType CSV read.
    return con.execute(
        f"""
        WITH t AS (
          SELECT * FROM read_csv('{TRAFFIC}', header=true, all_varchar=true)
        ), g AS (
          SELECT {_NORM.format(c='"Detection_"')} AS detection, count(*) AS cnt
          FROM t WHERE trim("Interconne") = ?
          GROUP BY 1
        )
        SELECT detection, cnt,
               {pct_of_total_sql('cnt', 'sum(cnt) OVER ()')} AS pct
        FROM g
        """,
        [param],
    ).fetchall()


@pytest.mark.parametrize("param", ["Fiber/Radio", "Radio", "Fiber"])
def test_flagship_on_reference_traffic_csv(spark, param):
    df = spark.read.option("header", True).csv(TRAFFIC)
    filtered = filter_eq_param(df, "Interconne", param)
    got = {
        (r["detection"], r["cnt"], r["pct"])
        for r in agg_pct_of_total(
            filtered.select(normalize_empty("Detection_").alias("detection")),
            "detection",
        ).collect()
    }
    expected = set(map(tuple, _oracle(param)))
    assert got == expected and len(got) > 0


@pytest.mark.parametrize("pattern", ["Video|Radio", "Video,Radio", "Fiber/Radio"])
def test_select_regex_on_reference_traffic_csv(spark, pattern):
    """The reference's `SELECT ALL FROM traffic.csv WHERE <regex>`
    examples (README.md:52-56): whole-RAW-LINE regex — `Video,Radio`
    expresses column adjacency, `Video|Radio` alternation. Checked
    against Python re over the same lines (the regex subset used has
    identical Java/PCRE semantics)."""
    import re

    got = select_where(spark.read.text(TRAFFIC), pattern).count()
    with open(TRAFFIC, encoding="utf-8") as fh:
        expected = sum(1 for line in fh if re.search(pattern, line.rstrip("\n")))
    assert got == expected and got > 0
