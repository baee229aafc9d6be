"""Structured Streaming: incremental archive, windowed aggregation,
bounded-state deduplication, stream joins."""

from .archive import incremental_archive, windowed_event_counts
from .dedup import dedup_stream
from .joins import enrich_stream, interval_join

__all__ = [
    "incremental_archive",
    "windowed_event_counts",
    "dedup_stream",
    "enrich_stream",
    "interval_join",
]
