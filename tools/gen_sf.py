"""Generate an sf1.0-scale dataset from /root/testdata/sf0.1 (VERDICT
r08 #1: the largest driver-shipped scale is sf0.1; certifying and
benching at sf1.0 amortizes Spark's fixed per-query scheduling floor so
the heavy-set comparison becomes the headline number).

Method: 10 FK-consistent replicas of sf0.1 — every key column shifts by
``r * ID_OFFSET`` (the scaling harness's offset: divisible by
LCM(1..16) and 97, so residue-gated queries keep their semantics),
document text goes through the per-replica substitution cipher
(builder v2, unique text per replica at any factor), and embedding
vectors get a per-replica seeded DIMENSION permutation (identity at
r=0) so no vector has exact-duplicate twins across replicas (which
would create degenerate distance ties for the ANN families). Fixed
dimension tables (region, nation) copy through unchanged, exactly like
TPC-H scaling. Correctness at sf1.0 is differential (Spark vs DuckDB
on the SAME files), so fidelity to the driver's exact generator is not
required — volume and structure are what the scale point certifies.

Built with DuckDB so each table lands as ONE .parquet file, matching
the driver's testdata layout (registry.table() and the anchor both
read `{dir}/{table}.parquet`).

Usage: python tools/gen_sf.py [out_dir] [factor] [src_dir]
  (defaults: /tmp/spark_graft_sf1.0  10  /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import duckdb

#: The checkout this script belongs to (and imports from).
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from scaling_bench import (  # noqa: E402
    BUILDER_VERSION,
    DIGITS,
    ID_OFFSET,
    LOWER,
    UPPER,
    _replica_perm,
)

#: (table, [key columns to offset]) — offsets preserve FK integrity
#: within each replica because every side of every FK shifts equally.
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["region", "nation"]
EMB_DIM = 64


def _dim_perm(r: int) -> list[int]:
    """Seeded permutation of embedding dimensions for replica r
    (identity at r=0): preserves norms and within-replica pairwise
    distances exactly, while making cross-replica vectors distinct."""
    perm = list(range(EMB_DIM))
    if r:
        random.Random(f"spark-graft-dimperm:{r}").shuffle(perm)
    return perm


def replica_select(table: str, cols: list[tuple[str, str]], r: int) -> str:
    off = r * ID_OFFSET
    keys = set(KEYED[table])
    exprs = []
    for name, _typ in cols:
        if name in keys:
            exprs.append(f'("{name}" + {off}) AS "{name}"')
        elif table == "documents" and name == "text":
            src = LOWER + UPPER + DIGITS
            dst = _replica_perm(r, 1)
            exprs.append(f"translate(text, '{src}', '{dst}') AS text")
        elif table == "embeddings" and name == "embedding":
            idx = ", ".join(
                f"embedding[{i + 1}]" for i in _dim_perm(r)
            )  # duckdb lists are 1-indexed
            exprs.append(f"list_value({idx})::FLOAT[] AS embedding")
        else:
            exprs.append(f'"{name}"')
    return f"SELECT {', '.join(exprs)} FROM src"


def main() -> int:
    out_dir = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1.0")
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    out_dir.mkdir(parents=True, exist_ok=True)

    con = duckdb.connect()
    rows: dict[str, int] = {}
    for t in FIXED:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src_dir}/{t}.parquet')) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        rows[t] = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {rows[t]} rows (copied)", flush=True)

    for t in KEYED:
        con.execute(
            f"CREATE OR REPLACE VIEW src AS SELECT * FROM "
            f"read_parquet('{src_dir}/{t}.parquet')"
        )
        cols = [
            (c[0], c[1])
            for c in con.execute("DESCRIBE SELECT * FROM src").fetchall()
        ]
        union = "\nUNION ALL\n".join(
            replica_select(t, cols, r) for r in range(factor)
        )
        con.execute(
            f"COPY ({union}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        rows[t] = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {rows[t]} rows (x{factor})", flush=True)

    with open(out_dir / "_manifest.json", "w") as f:
        json.dump(
            {
                "src": str(Path(src_dir).resolve()),
                "factor": factor,
                "builder_version": BUILDER_VERSION,
                "generator": "tools/gen_sf.py",
                "rows": rows,
            },
            f,
            indent=1,
        )
    print(f"wrote {out_dir}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
