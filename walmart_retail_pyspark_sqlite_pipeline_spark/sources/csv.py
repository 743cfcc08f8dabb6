"""CSV sources (SURVEY §2.1 S1).

:func:`read_csv_raw` is the reference's load-then-cast idiom: header-aware,
every column a string, ``multiLine`` + quote-escape enabled (which also
makes the univocity parser tolerate the CR-only line endings of the
checked-in stores.csv — SURVEY §1.4). Types are imposed afterwards by
``quality.run_quality_checks`` / ``operators.enforce_schema``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import refresh_if_changed


def read_csv_raw(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    for path in [paths] if isinstance(paths, str) else paths:
        refresh_if_changed(spark, path)
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(paths)
    )
