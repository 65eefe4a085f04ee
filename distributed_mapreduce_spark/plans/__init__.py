"""Plan inspection utilities (scale-posture checks)."""

from distributed_mapreduce_spark.plans.checks import (
    SCALING_TABLES,
    broadcast_hint_audit,
    exchange_count,
    explain_str,
    pushed_filters,
    read_schema_columns,
    unbounded_scaling_broadcasts,
    unpartitioned_unbounded_windows,
    wholestage_codegen_count,
    window_partition_audit,
)

__all__ = [
    "SCALING_TABLES",
    "broadcast_hint_audit",
    "exchange_count",
    "explain_str",
    "pushed_filters",
    "read_schema_columns",
    "unbounded_scaling_broadcasts",
    "unpartitioned_unbounded_windows",
    "wholestage_codegen_count",
    "window_partition_audit",
]
