"""Vector primitives over ``array<float>`` embedding columns.

Dot products and norms are computed JVM-side with ``zip_with`` +
``aggregate`` after an element-wise cast to double — a left-to-right fold,
which is exactly what DuckDB's ``list_dot_product`` over ``DOUBLE[]`` does,
so both engines produce bit-identical doubles.

At 100 TB these are per-row projections (no shuffle, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin: explicit dot/norm over DOUBLE[] (avoids
    list_cosine_similarity's float32 path so both engines fold the same
    doubles in the same order)."""
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as an ORDERED left fold of per-dim squared
    diffs — the summation order is part of the cross-engine contract
    (same discipline as :func:`dot`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2sq_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`l2sq`: the identical ordered fold.

    Dimension-agnostic by construction (indices derived from ``len(a)``,
    not a baked-in constant): a hardcoded dim would silently truncate the
    oracle's distance for wider embeddings or NULL it for narrower ones,
    splitting the engines (ADVICE r5)."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        "(acc, x) -> acc + x)"
    )


def int8_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two int8 code arrays (an ordered left
    fold of integer products — no rounding anywhere)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`int8_dot`."""
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))\n"
        "         AS BIGINT)"
    )


def int8_quantize(v: Column) -> Column:
    """Symmetric int8 quantization: ``q_i = floor(x_i * 127 / max|x|)``
    (floor, not round — IEEE ``floor(double)`` is bit-identical across
    engines while round-half cases are not; see plans/registry.py).

    PRECONDITION: ``v`` must contain at least one nonzero element. An
    all-zero vector makes ``scale`` +Infinity and every element
    ``floor(0 * Inf)`` = NaN — silent poison, not an error. Every
    in-package caller feeds vectors through ``read_embeddings``, whose
    quarantine drops all-zero rows before they reach this kernel
    (sources/tables.py); a new caller on unquarantined input must apply
    the same gate first (ADVICE r9).

    PERF (found by timing the kernel across data sizes): the scale expression
    must NOT be captured inside a ``transform()`` lambda — Catalyst
    inlines the captured subtree into the per-element lambda body, so
    ``array_max(transform(v, abs))`` is re-evaluated (and its two
    intermediate arrays re-allocated) for EVERY element: O(d²) work and
    O(d) allocations per row. Measured at the 200k-vector/64-d decade:
    52.9 s vs 4.1 s — 12.9x. ``zip_with`` against
    ``array_repeat(scale, size(v))`` evaluates the scale once per row
    and keeps the whole kernel in whole-stage codegen. The SQL twin
    (``x * s`` with ``s`` a per-row column) was never affected — DuckDB
    materializes the alias.

    Its consumers are the int8-ANN queries: ``ann_int8_topk``,
    ``ann_rrf_fusion`` and the ``ann_rerank_*`` cascade.
    """
    scale = F.lit(127.0) / F.array_max(F.transform(v, F.abs))
    return F.zip_with(
        v, F.array_repeat(scale, F.size(v)), lambda x, s: F.floor(x * s)
    )
