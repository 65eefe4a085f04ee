"""Z-order (Morton) data layout — multi-column range pruning for the
warehouse.

Bucketing (bucketing.py) solves repeated equi-joins; it does nothing
for range predicates over several columns. Sorting a table by column A
clusters A-ranges but scatters B; a filter on B then touches every
file. Interleaving the bits of (A, B) into one Morton code and
range-partitioning + sorting by that code clusters BOTH dimensions:
a box predicate (a_lo..a_hi AND b_lo..b_hi) lands in O(perimeter)
files instead of O(all), and parquet min/max row-group stats skip the
rest. This is the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER
BY`; this module supplies the keys (`tests/test_layout.py` writes and
prunes such a layout).

The code path is pure integer arithmetic (quantize → interleave), so
z-values are engine-portable and differentially checkable in DuckDB
(`zorder_assign` query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Map an integer-valued column from [lo, hi] onto [0, 2^bits),
    clamped: `floor((x - lo) * 2^bits / (hi - lo + 1))`. The floor of
    the double quotient equals exact integer division for these
    magnitudes (numerator < 2^53 and |true quotient - nearest int| >>
    double ulp), so it matches DuckDB's `//` bit-for-bit."""
    n = 1 << bits
    span = hi - lo + 1
    q = ((col.cast("long") - F.lit(lo)) * F.lit(n)).cast("long") / F.lit(span)
    q = F.floor(q).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), q))


def _sql_quantize(c: str, lo: int, hi: int, bits: int) -> str:
    n = 1 << bits
    span = hi - lo + 1
    return f"greatest(0, least({n - 1}, (({c} - {lo}) * {n}) // {span}))"


def morton2(qa: Column, qb: Column, bits: int) -> Column:
    """Interleave the low `bits` bits of two quantized columns into one
    Morton code (a in even positions, b in odd). Pure JVM bit ops."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(qa.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(qb.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z.cast("long")


def _sql_morton2(a: str, b: str, bits: int) -> str:
    parts = []
    for i in range(bits):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def with_hilbert2(
    df: DataFrame, xq: Column, yq: Column, bits: int, out_col: str = "h"
) -> DataFrame:
    """Attach the Hilbert-curve distance of two pre-quantized
    coordinates (each in [0, 2^bits)) — the layout key that preserves
    multi-dimensional locality strictly better than the Morton code
    (no Z-shaped seams: every curve step moves to an adjacent cell, so
    a box predicate touches fewer file ranges; the reason table
    formats moved OPTIMIZE from ZORDER to Hilbert).

    The classic xy2d bit loop (s = 2^(bits-1) … 1: quadrant digit
    d += s²·((3·rx) XOR ry), then conditional reflect + swap) is
    unrolled one PROJECTION per level — each level's (x, y, d) are
    named columns referencing the previous level's columns, so the
    expression tree stays linear (a single nested Column expression
    would double per level; Catalyst's CollapseProject keeps the
    per-level aliases because re-inlining would duplicate non-cheap
    expressions). Pure integer arithmetic — portable to any engine.
    """
    df = (
        df.withColumn("_hx", xq.cast("long"))
        .withColumn("_hy", yq.cast("long"))
        .withColumn("_hd", F.lit(0).cast("long"))
    )
    for i in reversed(range(bits)):
        s = 1 << i
        df = df.withColumn(
            "_rx", F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ).withColumn(
            "_ry", F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        )
        df = df.withColumn(
            "_hd",
            F.col("_hd")
            + F.lit(s) * F.lit(s)
            * (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry")).cast("long"),
        )
        tx = F.when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
            F.col("_hx")
        )
        ty = F.when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
            F.col("_hy")
        )
        df = df.withColumn("_tx", tx).withColumn("_ty", ty)
        df = df.withColumn(
            "_nx", F.when(F.col("_ry") == 0, F.col("_ty")).otherwise(F.col("_hx"))
        ).withColumn(
            "_ny", F.when(F.col("_ry") == 0, F.col("_tx")).otherwise(F.col("_hy"))
        )
        df = (
            df.drop("_hx", "_hy", "_tx", "_ty", "_rx", "_ry")
            .withColumnRenamed("_nx", "_hx")
            .withColumnRenamed("_ny", "_hy")
        )
    return df.withColumn(out_col, F.col("_hd")).drop("_hx", "_hy", "_hd")


def _sql_hilbert2_ctes(
    base_sql: str, x_expr: str, y_expr: str, bits: int, keep: str
) -> str:
    """DuckDB twin of :func:`with_hilbert2`: one CTE per bit level,
    mirroring the identical integer recurrence. Returns a WITH body
    whose final CTE `hl{bits}` has columns (``keep``, h)."""
    ctes = [
        f"hl0 AS (SELECT {keep}, CAST({x_expr} AS BIGINT) AS x,"
        f" CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM ({base_sql}))"
    ]
    lvl = 0
    for i in reversed(range(bits)):
        s = 1 << i
        lvl += 1
        ctes.append(
            f"""hr{lvl} AS (
              SELECT {keep}, x, y, d,
                     CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                     CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
              FROM hl{lvl - 1}
            ), hl{lvl} AS (
              SELECT {keep},
                     CASE WHEN ry = 0 THEN
                       CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END
                     ELSE x END AS x,
                     CASE WHEN ry = 0 THEN
                       CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END
                     ELSE y END AS y,
                     d + {s * s} * CAST(xor(3 * rx, ry) AS BIGINT) AS d
              FROM hr{lvl}
            )"""
        )
    return ", ".join(ctes)
