"""Structured Streaming extension (beyond-reference, SURVEY.md §2.5).

The reference is batch-only (cron micro-batching every 2 h); this
module adds true streaming versions of the engine's event-table
operators so the same logical queries run unbounded: file-source
ingestion, watermarked tumbling-window aggregation, session windows,
an interval stream-stream join and stateful running totals.
Batch/stream parity is the design rule —
every streaming query here has a batch twin in the query bank, and
the tests assert both produce identical results when the stream is
drained with ``trigger(availableNow=True)``.
"""

from .events import (
    click_view_interval_join,
    events_stream,
    hourly_counts_stream,
    run_to_memory,
    sessionize_stream,
)
from .sink import stream_merge_to_table
from .stateful import running_user_totals

__all__ = [
    "stream_merge_to_table",
    "click_view_interval_join",
    "events_stream",
    "hourly_counts_stream",
    "run_to_memory",
    "sessionize_stream",
    "running_user_totals",
]
