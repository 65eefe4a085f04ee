"""Sources and sinks (SURVEY.md §2.1)."""

from distributed_mapreduce_spark.sources.readers import scan_parquet
from distributed_mapreduce_spark.sources.sinks import sink_merged_csv

__all__ = ["scan_parquet", "sink_merged_csv"]
