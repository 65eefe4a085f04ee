"""Sink operators (SURVEY.md §2.1).

The reference's terminal step merges every reducer output into ONE csv
on the leader (`conglomerate`, file_server/fileserver.py:598-635) — a
deliberate single-node bottleneck we reproduce only as an opt-in parity
sink. Everything else the engine writes is parquet (`Catalog.put`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sink_merged_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    mode: str = "overwrite",
    options: dict | None = None,
) -> None:
    """Merge the result into a single CSV file (parity with
    `conglomerate` + `put`, fileserver.py:598-635).

    `coalesce(1)` narrows to one task WITHOUT a shuffle; upstream
    stages still run at full parallelism. Only the final write is
    single-threaded — acceptable for small results, never for raw data.
    """
    w = df.coalesce(1).write.mode(mode).option("header", header)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.csv(path)
