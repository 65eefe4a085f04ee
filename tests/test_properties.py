"""Property-based parity tests (hypothesis): the engine's semantics
functions must agree with straight-line Python reference
implementations on arbitrary inputs — a strictly stronger test
strategy than the reference's (which has none, SURVEY.md §5).

Each example runs a real Spark job, so example counts are kept small;
the value is in the adversarial inputs hypothesis finds (whitespace
mixes, empty strings, unicode, duplicate keys), not in volume.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.strings import (
    normalize_empty,
    pct_of_total_str,
    sanitize_key,
)

# Printable-ish text incl. whitespace-only and slash/space-heavy values.
VALUES = st.text(
    alphabet=st.sampled_from(list("ab /\t") + ["é"]), min_size=0, max_size=8
)


def _py_normalize(s: str | None) -> str:
    # The engine's trim class is exactly [ \t\n\r\f] (functions.strings.WS_CLASS).
    t = (s or "").strip(" \t\n\r\f")
    return t if t else "empty"


def _py_sanitize(s: str | None) -> str:
    return _py_normalize(s).replace("/", "_").replace(" ", "_")


@settings(max_examples=5, deadline=None)
@given(st.lists(VALUES, min_size=1, max_size=30))
def test_normalize_and_sanitize_match_python(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = df.select(
        normalize_empty("v").alias("n"), sanitize_key("v").alias("s")
    ).collect()
    for v, row in zip(vals, got):
        assert row["n"] == _py_normalize(v), repr(v)
        assert row["s"] == _py_sanitize(v), repr(v)


@settings(max_examples=5, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=50))
def test_group_count_and_pct_match_counter(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    grouped = df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    total = len(keys)
    got = {
        r["k"]: (r["cnt"], r["pct"])
        for r in grouped.withColumn(
            "pct", pct_of_total_str(F.col("cnt"), F.lit(total))
        ).collect()
    }
    expected = Counter(keys)
    assert set(got) == set(expected)
    for k, n in expected.items():
        bp = n * 10000 // total
        assert got[k] == (n, f"{bp // 100}.{bp % 100:02d}%"), k


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y", "z"]), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    )
)
def test_maple_juice_sum_matches_python(spark, pairs):
    """The functional maple/juice runners must equal a plain Python
    reduce on arbitrary keyed integers."""
    import pandas as pd

    from distributed_mapreduce_spark.maplejuice import juice, maple

    df = spark.createDataFrame(pairs, ["k", "v"])

    def mapper(pdf):
        yield from zip(pdf["k"], pdf["v"].astype(str))

    def reducer(key, pdf):
        return pd.DataFrame(
            {"key": [key], "value": [str(pdf["value"].astype(int).sum())]}
        )

    kv = maple(df, mapper)
    out = {
        r["key"]: int(r["value"])
        for r in juice(kv, reducer, num_juices=4).collect()
    }
    expected: dict[str, int] = {}
    for k, v in pairs:
        expected[k] = expected.get(k, 0) + v
    assert out == expected


def _py_quantize(x: int, lo: int, hi: int, bits: int) -> int:
    n = 1 << bits
    q = ((x - lo) * n) // (hi - lo + 1)
    return max(0, min(n - 1, q))


def _py_morton2(qa: int, qb: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((qa >> i) & 1) << (2 * i)
        z |= ((qb >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=1100),
            st.integers(min_value=-50, max_value=1100),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_morton_quantize_matches_python_reference(spark, pts):
    from distributed_mapreduce_spark.sources.layout import morton2, quantize

    bits = 6
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"], r["z"])
        for r in df.select(
            "x",
            "y",
            morton2(
                quantize(F.col("x"), 0, 999, bits),
                quantize(F.col("y"), 0, 999, bits),
                bits,
            ).alias("z"),
        ).collect()
    }
    want = {
        (x, y, _py_morton2(_py_quantize(x, 0, 999, bits), _py_quantize(y, 0, 999, bits), bits))
        for x, y in pts
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(-100, 100)),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 8),
)
def test_salted_join_equals_plain_join(spark, big_rows, salt):
    """salted_join must be a pure physical rewrite: identical multiset
    of joined rows for ANY key distribution and salt fan-out."""
    from distributed_mapreduce_spark.operators.skew import salted_join

    big = spark.createDataFrame(big_rows, ["k", "v"])
    small = spark.createDataFrame([(k, f"d{k}") for k in range(6)], ["k", "payload"])
    plain = sorted(map(tuple, big.join(small, "k").select("k", "v", "payload").collect()))
    salted = sorted(
        map(
            tuple,
            salted_join(big, small, "k", salt=salt)
            .select("k", "v", "payload")
            .collect(),
        )
    )
    assert plain == salted
