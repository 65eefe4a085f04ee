"""Format breadth: gzip-compressed CSV ingestion through `Catalog.put`
(Spark-native, no extra packages)."""

from __future__ import annotations

import gzip
import os

from distributed_mapreduce_spark.catalog import Catalog


def test_gzip_csv_scan(spark, tmp_path):
    rows = [f"{i},val{i}" for i in range(100)]
    gz = tmp_path / "part-000.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write("id,v\n" + "\n".join(rows) + "\n")
    cat = Catalog(spark, str(tmp_path / "store"))
    cat.put(str(gz), "gz", fmt="csv")
    df = cat.get("gz")
    assert df.count() == 100
    got = {r["id"] for r in df.collect()}
    assert got == {str(i) for i in range(100)}
    assert os.path.getsize(gz) < 1000  # actually compressed
