"""Extended scalar-function suites — math/bit, conditional/null
handling, and regex — rounding out the function library beyond the
string/array/map/date suites in `workload/relational.py`.

Reference parity note: the reference's scalar repertoire is the four
Go helpers (split/trim/replace/empty-check) invoked per line
(`data/maple-exe.go`); SURVEY §2.10 upgrades that to a full library. Each
suite here is one projection over a harness table so every function
is exercised JVM-side inside whole-stage codegen and differentially
checked value-exact against DuckDB.

Portability notes (verified): DuckDB `sign` → TINYINT vs Spark
`signum` → DOUBLE (cast both to INT); DuckDB `factorial` → HUGEINT
(cast BIGINT); `bit_count` TINYINT vs Spark INT (cast INT); shifts and
`%` agree on BIGINT; `power` is DOUBLE on both and exact for small
integer operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.workload.registry import query, sql_query, table


# Math/bit scalar library in one projection: abs, sign, mod, pmod,
# greatest/least, popcount, shifts, factorial, integer powers, and a
# floor-scaled sqrt (sqrt is IEEE correctly-rounded on both engines, so
# floor(×1000) is portable).
sql_query(
    "math_functions_suite",
    """
    SELECT p_partkey,
           CAST(abs(p_size - 25) AS INTEGER) AS abs_off,
           CAST(sign(p_size - 25) AS INTEGER) AS sign_off,
           CAST(p_partkey % 7 AS BIGINT) AS mod7,
           CAST(((p_partkey % 7) + 7) % 7 AS BIGINT) AS pmod7,
           CAST(greatest(p_size, 25) AS INTEGER) AS hi25,
           CAST(least(p_size, 25) AS INTEGER) AS lo25,
           CAST(bit_count(CAST(p_partkey AS BIGINT)) AS INTEGER) AS popcount,
           CAST(CAST(p_size AS BIGINT) << 3 AS BIGINT) AS shl3,
           CAST(CAST(p_partkey AS BIGINT) >> 2 AS BIGINT) AS shr2,
           CAST(factorial(p_size % 10) AS BIGINT) AS fact_mod,
           power(2, p_size % 16) AS pow2,
           CAST(floor(sqrt(CAST(p_partkey AS DOUBLE)) * 1000) AS BIGINT)
             AS sqrt_milli
    FROM part
    """,
)


# Conditional / null-handling library in one projection: nullif,
# coalesce, boolean flags, simple + searched CASE, null-safe presence
# checks, greatest/least on doubles (comparison-only — no float
# arithmetic, so exact).
sql_query(
    "conditional_functions_suite",
    """
    SELECT o_orderkey,
           nullif(o_orderstatus, 'F') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'F'), 'FINAL') AS status_filled,
           CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS INTEGER)
             AS is_final,
           CASE o_orderstatus WHEN 'F' THEN 'done'
                              WHEN 'O' THEN 'open'
                              ELSE 'partial' END AS status_word,
           CAST(CASE WHEN nullif(o_orderpriority, o_orderstatus) IS NULL
                     THEN 1 ELSE 0 END AS INTEGER) AS prio_eq_status,
           greatest(o_totalprice, 100000.0) AS price_hi,
           least(o_totalprice, 100000.0) AS price_lo,
           CASE WHEN o_totalprice IS NULL THEN 'missing' ELSE 'present' END
             AS price_presence
    FROM orders
    """,
)


@query(
    "regexp_functions_suite",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, 's[a-z]+', 0) AS first_s_word,
           CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS INTEGER)
             AS n_ta_words,
           regexp_matches(text, 'join') AS mentions_join,
           substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40)
             AS devoweled40,
           CAST(len(string_split_regex(text, ' +')) AS INTEGER) AS n_fields
    FROM documents
    """,
)
def q_regexp_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex library in one projection: first-match extraction, match
    counting, boolean match, global replacement, regex splitting —
    conservative character-class patterns only (Java regex ≡ RE2
    semantics for these, per the PII-scrub portability analysis)."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.regexp_extract(t, "s[a-z]+", 0).alias("first_s_word"),
        F.regexp_count(t, F.lit("ta[a-z]+")).cast("int").alias("n_ta_words"),
        t.rlike("join").alias("mentions_join"),
        F.substring(F.regexp_replace(t, "[aeiou]", "_"), 1, 40).alias("devoweled40"),
        F.size(F.split(t, " +", -1)).cast("int").alias("n_fields"),
    )
