from .events import asof_last_event, dedup_counts_stream, hourly_counts_stream, sessionize
from .stateful import (
    running_user_totals_stream,
    user_stats_batch,
    user_stats_stateful,
)

__all__ = [
    "sessionize",
    "dedup_counts_stream",
    "hourly_counts_stream",
    "asof_last_event",
    "running_user_totals_stream",
    "user_stats_stateful",
    "user_stats_batch",
]
