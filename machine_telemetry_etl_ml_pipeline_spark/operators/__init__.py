from .core import (
    distinct_values,
    grouped_stats,
    latest_n,
    latest_per_key,
    range_scan,
    stats,
    top_k_by,
)

__all__ = [
    "distinct_values",
    "grouped_stats",
    "latest_n",
    "latest_per_key",
    "range_scan",
    "stats",
    "top_k_by",
]
