"""Sink operators (SURVEY.md §2.1).

The reference's terminal step merges every reducer output into ONE csv
on the leader (`conglomerate`, file_server/fileserver.py:598-635) — a
deliberate single-node bottleneck we reproduce only as an opt-in parity
sink. The default sink is a partitioned parquet write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Partitioned columnar write — the at-scale default."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


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


def sink_jsonl(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """Parallel newline-delimited JSON write — the export format for
    handing a prepared corpus to a training framework. One JSON object
    per line, one file per task; compose with `partition_by` (e.g.
    split/source) so downstream loaders read only the shard they need."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def sink_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Partitioned ORC sink (zlib default), mirroring `sink_parquet` —
    scale posture identical: one file per task, partition directories
    prune at scan time."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
