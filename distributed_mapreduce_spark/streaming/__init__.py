"""Structured Streaming surface (new capability — SURVEY.md §2.11:
the reference has no streaming; its only stream-shaped artifact is the
dead container_queue poller at fileserver.py:39,1187-1196). The
registered `stream_events_tumbling` and `events_stateful_user_counts`
queries run on it."""

from distributed_mapreduce_spark.streaming.events_stream import (
    read_events_stream,
    windowed_counts,
)

__all__ = ["read_events_stream", "windowed_counts"]
