from .registry import (
    REGISTRY,
    QuerySpec,
    all_specs,
    oracle_sql_map,
    queries_map,
)

__all__ = [
    "REGISTRY",
    "QuerySpec",
    "all_specs",
    "queries_map",
    "oracle_sql_map",
]
