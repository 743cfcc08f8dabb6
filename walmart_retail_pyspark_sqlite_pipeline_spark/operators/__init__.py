from .chunking import chunk_text_batched
from .projections import enforce_schema, rename_columns
from .range_join import binned_range_join
from .scd import scd2_apply, scd2_as_of, scd2_init
from .skew import salted_agg

__all__ = [
    "rename_columns",
    "enforce_schema",
    "salted_agg",
    "chunk_text_batched",
    "binned_range_join",
    "scd2_init",
    "scd2_apply",
    "scd2_as_of",
]
