"""DuckDB oracles for the benchmark's output check, with an on-disk digest
cache.

An oracle digest is computed only from DuckDB over the benchmark's
input files, never from Spark output. Rows are put in the canonical
form of ``tools/check_correctness.py`` (columns sorted by name, cells
normalized, rows sorted) and hashed, so a Spark result matches when
its canonical rows hash the same. The cache key covers the SQL and a
content hash of every input file, so a new seed's fixtures or a
changed oracle never reuse a stale digest.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def rows_digest(rows, columns: list[str]) -> str:
    """Digest of a result in check_correctness's canonical row form."""
    from check_correctness import canonical

    canon = canonical([tuple(r) for r in rows], list(columns))
    payload = repr((sorted(columns), canon)).encode()
    return hashlib.sha256(payload).hexdigest()


class Oracles:
    """One DuckDB connection over the benchmark inputs plus the digest
    cache file. ``views`` maps extra view names to SQL (fixtures)."""

    def __init__(self, data_dir: str, views: dict[str, str], input_files: list[str],
                 cache_path: str, spill_dir: str):
        self.cache_path = cache_path
        self.input_key = file_digest(input_files)
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET temp_directory='{spill_dir}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for name, sql in views.items():
            self.con.execute(f"CREATE VIEW {name} AS {sql}")

    def _key(self, kind: str, sql: str) -> str:
        return hashlib.sha256(f"{kind}|{self.input_key}|{sql}".encode()).hexdigest()

    def _cached(self, kind: str, sql: str, compute):
        key = self._key(kind, sql)
        if key not in self.cache:
            self.cache[key] = compute()
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        return self.cache[key]

    def digest(self, sql: str) -> str:
        """Canonical-row digest of ``sql``'s result."""

        def compute():
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            return rows_digest(res.fetchall(), cols)

        return self._cached("rows", sql, compute)

    def checksum(self, sql: str, cache: bool = True) -> list[int]:
        """(row count, order-insensitive checksum) of ``sql`` in DuckDB,
        via tools/checksum_check.py. ``cache=False`` for SQL over
        program output, which must be read fresh every time."""
        from checksum_check import duckdb_checksum

        if not cache:
            return list(duckdb_checksum(self.con, sql))
        return self._cached("checksum", sql, lambda: list(duckdb_checksum(self.con, sql)))

    def close(self) -> None:
        self.con.close()
