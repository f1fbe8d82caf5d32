"""Structured-Streaming extensions (beyond reference — the reference is a
pure batch OLAP engine, SURVEY.md §2.9). Streaming twins of the batch
event-table operators (events: tumbling/sliding windows, sessionization,
stateful dedup) and foreachBatch maintainers of persisted state (ingest:
corpus dedup, indexes, sketches, snapshots), every maintainer wired into
a stream by the one ``run_ingest``."""

from blazingsql_spark.streaming.ingest import DedupIngest, run_ingest
from blazingsql_spark.streaming.events import (
    user_running_totals,
    sessionize_stream,
    stream_events,
    streaming_dedup,
    tumbling_counts,
)

__all__ = [
    "stream_events",
    "tumbling_counts",
    "sessionize_stream",
    "streaming_dedup",
    "user_running_totals",
    "DedupIngest",
    "run_ingest",
]
