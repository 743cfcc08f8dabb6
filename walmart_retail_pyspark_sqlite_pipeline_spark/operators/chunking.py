"""Fixed-width document chunking from built-in expressions — the scale path
for context-window prep.

Chunk i of a document covers characters [i*width, (i+1)*width): the chunk
indexes are one ``explode(sequence(...))`` over the document's own length
and each chunk is one ``substr``, so the whole operator stays inside the
JVM (no Python worker, no Arrow round trip) and Catalyst prunes and fuses
it like any other projection. Verified against the DuckDB oracle
``plans/llm.py::TEXT_CHUNKS_SQL`` in tests/test_chunking.py.

At scale the plan is embarrassingly parallel: no shuffle at all — each input
partition expands independently, and output size is input size (every char
appears in exactly one chunk). Partition count should be sized on the
EXPANDED row count (docs × chunks/doc) if a shuffle follows downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_text_batched(
    df: DataFrame,
    width: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode ``df[id_col, text_col]`` into fixed-width chunks.

    Output schema: (id_col, chunk_idx int, chunk string, chunk_len int);
    rows with NULL or empty text produce no chunks.
    """
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    if id_col not in df.columns:
        raise ValueError(f"missing id column {id_col!r}")

    n = F.length(text_col)
    # (n - 1) / width is an exact double quotient of two ints, so the int
    # cast floors it: the last chunk index for n > 0
    last = ((n - 1) / width).cast("int")
    idx = F.explode(F.when(n > 0, F.sequence(F.lit(0), last)))
    return (
        df.select(id_col, text_col, idx.alias("chunk_idx"))
        .select(
            id_col,
            "chunk_idx",
            F.col(text_col)
            .substr(F.col("chunk_idx") * width + 1, F.lit(width))
            .alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk"))
    )


__all__ = ["chunk_text_batched"]
