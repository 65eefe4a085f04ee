"""Collect-free differential for huge-output queries: row count + a
distributed order-insensitive checksum computed INSIDE each engine.

The standard checker (tools/check_correctness.py) collects both result
sets into Python — infeasible when the result itself is hundreds of
millions of rows (found at the round-11 sf4 differential:
`multimodal_phash_pairs` emits ~206 M pairs there because the synthetic
blob scheme shares payloads across doc_id % 97 and the corpus
replicator's ID offset deliberately preserves residues — a quadratic
pair multiplicity the query semantically owes on that input; the Spark
job was fine, the checker's collect blew spark.driver.maxResultSize).

Checksum: every row is canonicalized to a '|'-joined string of its
columns in sorted-column-name order (floats are excluded by
construction — use it for integer/string outputs), md5'd, the first 8
hex chars read as a BIGINT, and SUMmed. Both engines implement md5 over
identical strings, so equal multisets of rows give equal sums — an
order-insensitive equality check with O(1) driver memory in both
engines. Collisions: a disagreement would need colliding 32-bit sums
over the whole multiset — fine for a differential (a systematic bug
moves the sum; an adversary is not the threat model).

Usage: python tools/checksum_check.py SF_DIR QUERY [QUERY ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

#: The checkout this script belongs to (and imports from).
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def spark_checksum(df) -> tuple[int, int]:
    """(row_count, checksum) computed distributed; only 2 scalars reach
    the driver."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cols]
    )
    word = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(word).alias("s")
    ).collect()[0]
    return row["n"], row["s"]


def duckdb_checksum(con, sql: str) -> tuple[int, int]:
    # Column names via LIMIT 0 (ADVICE r11): executing the bare oracle
    # just for `description` ran the full query a second time — at the
    # deep-scale outputs this tool exists for (~206 M rows at sf4) that
    # doubled DuckDB wall-clock and spill.
    res = con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
    cols = sorted(d[0] for d in res.description)
    canon = " || '|' || ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(0))" for c in cols
    )
    row = con.execute(
        f"SELECT count(*), sum(('0x' || substr(md5({canon}), 1, 8))::BIGINT) "
        f"FROM ({sql})"
    ).fetchone()
    return row[0], row[1]


def main() -> int:
    import duckdb

    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("checksum_check", cpus=16, shuffle_partitions=32)
    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory='/tmp/duckdb_cert_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for name in names:
        sn, ss = spark_checksum(QUERIES[name](spark, sf_dir))
        dn, ds = duckdb_checksum(con, ORACLES[name])
        ok = (sn, ss) == (dn, ds)
        failures += 0 if ok else 1
        print(
            f"{'PASS' if ok else 'FAIL'} {name}: spark n={sn} sum={ss} | "
            f"duckdb n={dn} sum={ds}",
            flush=True,
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
