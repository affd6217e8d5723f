from .inspect import audit_counts, broadcast_join_count, explain_str, pushed_filters, scan_columns, shuffle_count

__all__ = [
    "audit_counts",
    "broadcast_join_count",
    "explain_str",
    "pushed_filters",
    "scan_columns",
    "shuffle_count",
]
