from .events import asof_last_event, dedup_counts_stream, hourly_counts_stream, sessionize

__all__ = [
    "sessionize",
    "dedup_counts_stream",
    "hourly_counts_stream",
    "asof_last_event",
]
