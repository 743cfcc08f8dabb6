"""Morton (Z-order) bit interleaving for multi-dimensional data layout.

A single-column sort gives perfect row-group skipping on that column and
none on any other. Interleaving the bits of two quantized key columns into
one Morton code and sorting on it gives *every* interleaved column
locality: each file/row group covers a small rectangle of the key space,
so min/max stats prune scans filtered on either column — the layout trick
behind Delta/Iceberg OPTIMIZE ZORDER. :func:`_interleave` is the pure
projection that computes the code; ``plans.sketches``'s
``layout_zorder_clustering`` quantizes its two dimensions and calls it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def _interleave(a: Column, b: Column, bits: int) -> Column:
    """Morton-interleave the low ``bits`` bits of two quantized ints: a's
    bit i -> position 2i+1, b's bit i -> position 2i. A fixed-depth
    expression tree (2*bits ORs), entirely whole-stage-codegen-able."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        parts.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return reduce(lambda x, y: x.bitwiseOR(y), parts)
