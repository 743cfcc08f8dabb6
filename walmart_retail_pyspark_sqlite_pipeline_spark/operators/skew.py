"""Skew-mitigation operators.

AQE handles skewed SHUFFLE JOINS automatically
(``spark.sql.adaptive.skewJoin``), but a groupBy on a handful of hot keys
still funnels each key through one reducer. :func:`salted_agg` is the
classic two-phase rewrite: explode each hot key into ``n_salts`` synthetic
sub-keys, partially aggregate per (key, salt), then finish per key. Works
for any algebraic aggregate (sum/count/min/max — pass the partial and final
combiners).

Result-identical to the direct groupBy — verified by the q19 oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Callable[[Column], Column]]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over skewed ``keys``.

    ``aggs`` maps output name -> (partial_agg_expr, final_agg_expr_builder)
    where the partial expr runs per (keys, salt) and the final expr runs
    over the partial column of the same name.
    """
    salted = df.withColumn(
        "__salt", (F.spark_partition_id() + F.monotonically_increasing_id()) % n_salts
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[p.alias(name) for name, (p, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[fin(F.col(name)).alias(name) for name, (_, fin) in aggs.items()]
    )
