"""Data-quality operators (the reference's distinctive analytics surface,
SURVEY §2.12 Q1-Q4) — rebuilt as ONE aggregate pass.

The reference profiles null fractions with one ``count()`` job per column
plus separate count/distinct jobs for duplicates
(/root/reference/src/quality_checks.py:73-96) — N+3 full scans per table.
Here the whole profile (row count, per-column null-or-empty fractions,
full-row duplicate count) is a single ``agg`` — one scan, one job, and the
same shape at 100 TB: partial aggregation map-side, a few hundred bytes to
the driver.

Full-row distinct counting uses ``countDistinct(struct(*cols))``: a struct
with null fields is itself non-null, so rows containing NULLs are counted
exactly like ``df.distinct().count()`` does (a bare multi-column
``COUNT(DISTINCT a, b)`` would silently drop them).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class QualityReport:
    """Mirror of the reference's report record
    (/root/reference/src/quality_checks.py:31-37)."""

    dataset: str
    schema_ok: bool
    row_count: int
    null_fractions: dict[str, float]
    duplicate_count: int
    issues: list[str] = field(default_factory=list)


def _null_or_empty(df: DataFrame, colname: str):
    c = F.col(colname)
    for f_ in df.schema.fields:
        if f_.name == colname and f_.dataType.simpleString() == "string":
            return c.isNull() | (c == "")
    return c.isNull()


def profile(df: DataFrame) -> tuple[int, dict[str, float], int]:
    """One-pass profile: (row_count, null_or_empty_fraction per column,
    full_row_duplicate_count)."""
    aggs = [F.count(F.lit(1)).alias("__n"), F.countDistinct(F.struct(*df.columns)).alias("__nd")]
    aggs += [
        F.avg(F.when(_null_or_empty(df, c), 1.0).otherwise(0.0)).alias(f"__nf_{c}")
        for c in df.columns
    ]
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    fractions = {c: (row[f"__nf_{c}"] if n else 0.0) or 0.0 for c in df.columns}
    dup = n - row["__nd"] if n else 0
    return n, fractions, dup


def run_quality_checks(
    df: DataFrame,
    expected: dict[str, str],
    dataset: str,
    *,
    max_null_fraction: float = 0.6,
    drop_duplicates: bool = True,
    fail_on_schema_mismatch: bool = False,
    register_view: bool = True,
) -> tuple[DataFrame, QualityReport]:
    """Q4 composite: enforce schema (extra and missing columns are
    reported as issues) → one-pass profile → conditional dedup →
    threshold issues → temp view → report.

    The typed frame is not cached: the pipeline reads it only in the one
    job that builds the curated fact, which is cached where it is built.

    Job count: exactly one aggregate job (the profile); the reference runs
    N_columns + 3 jobs per table for the same information.
    """
    from ..operators import enforce_schema

    typed, extras = enforce_schema(df, expected)
    missing = [c for c in expected if c not in df.columns]
    issues: list[str] = []
    if extras:
        issues.append(f"unexpected columns dropped: {extras}")
    if missing:
        issues.append(f"missing columns filled with NULL: {missing}")
    schema_ok = not (fail_on_schema_mismatch and (extras or missing))

    n, fractions, dup = profile(typed)
    if dup and drop_duplicates:
        typed = typed.dropDuplicates()
        issues.append(f"dropped {dup} duplicate rows")
        n -= dup
    for c, frac in fractions.items():
        if frac > max_null_fraction:
            issues.append(f"high null fraction in {c}: {frac:.2%}")

    if register_view:
        typed.createOrReplaceTempView(f"typed_{dataset}")
    return typed, QualityReport(
        dataset=dataset,
        schema_ok=schema_ok,
        row_count=n,
        null_fractions=fractions,
        duplicate_count=dup,
        issues=issues,
    )
