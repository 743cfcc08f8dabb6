"""Parquet sink — the scale-friendly default (SURVEY §7 phase 2).

Unlike the SQLite hand-off this writes executor-parallel; partition columns
give downstream readers partition pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite ``path`` with ``df`` as parquet, hive-partitioned by
    ``partition_by`` when given."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
