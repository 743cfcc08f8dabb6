"""Declarative constraint validation (Deequ-style checks, Spark-first).

A constraint suite compiles to the MINIMUM number of Spark jobs:

- every row-level constraint (``not_null``, ``in_range``,
  ``accepted_values``, ``matches_regex``, ``satisfies``) becomes one
  ``sum(when(violated, 1))`` term in a SINGLE aggregate pass over the
  table — adding a constraint adds a column to one job, not a job; a
  suite without row-level constraints skips that pass (and its row
  count) entirely;
- each ``unique`` key set needs its own groupBy (a shuffle per key set —
  that is inherent: different keys, different partitioning);
- each ``foreign_key`` is a left-anti join against the (broadcast-sized or
  shuffled, Catalyst's call) referenced key column.

At 100 TB the row-level pass is one scan with map-side partial aggregation
(a few hundred bytes per executor to the driver), uniqueness is one
shuffle per key, and FK anti-joins ride AQE join selection. Violation
*samples* are only computed on demand (``sample_violations``) so the
validation pass itself never widens beyond counters.

The reference has no counterpart (its QC is profile-based —
/root/reference/src/quality_checks.py:105-130); this is the
constraint-assertion layer a production pipeline puts in front of a sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Constraint:
    """One named check. ``kind`` picks the evaluation strategy."""

    name: str
    kind: str  # row | unique | foreign_key
    violated: Column | None = None  # row-level predicate (True = violation)
    keys: tuple[str, ...] = ()  # unique
    fk_col: str | None = None  # foreign_key: child column
    ref: DataFrame | None = None  # foreign_key: referenced table
    ref_col: str | None = None  # foreign_key: referenced key column


def not_null(col: str) -> Constraint:
    return Constraint(f"not_null({col})", "row", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Constraint:
    c = F.col(col)
    return Constraint(
        f"in_range({col},{lo},{hi})", "row", c.isNull() | (c < lo) | (c > hi)
    )


def accepted_values(col: str, values: tuple) -> Constraint:
    c = F.col(col)
    return Constraint(
        f"accepted_values({col})", "row", c.isNull() | ~c.isin(*values)
    )


def matches_regex(col: str, pattern: str) -> Constraint:
    c = F.col(col)
    return Constraint(
        f"matches_regex({col})", "row", c.isNull() | ~c.rlike(pattern)
    )


def satisfies(name: str, predicate: Column) -> Constraint:
    """Arbitrary row predicate that must hold (violation = NOT predicate,
    with NULL counted as a violation — ANSI three-valued logic would
    otherwise let NULL rows slip through a CHECK)."""
    return Constraint(f"satisfies({name})", "row", ~F.coalesce(predicate, F.lit(False)))


def unique(*keys: str) -> Constraint:
    return Constraint(f"unique({','.join(keys)})", "unique", keys=tuple(keys))


def foreign_key(col: str, ref: DataFrame, ref_col: str) -> Constraint:
    return Constraint(
        f"foreign_key({col})", "foreign_key", fk_col=col, ref=ref, ref_col=ref_col
    )


@dataclass
class ConstraintReport:
    #: rows in the validated table; ``None`` when the suite has no row-level
    #: constraint, because the count rides the row-level pass and is not
    #: worth a scan of its own
    row_count: int | None
    #: constraint name -> number of violating rows (for ``unique``: number of
    #: rows in key groups of size > 1, i.e. rows that would collide)
    violations: dict[str, int]
    passed: bool = field(init=False)

    def __post_init__(self) -> None:
        self.passed = all(v == 0 for v in self.violations.values())


def validate(df: DataFrame, constraints: list[Constraint]) -> ConstraintReport:
    """Run a constraint suite with the minimal job count (see module doc)."""
    row_cs = [c for c in constraints if c.kind == "row"]
    uniq_cs = [c for c in constraints if c.kind == "unique"]
    fk_cs = [c for c in constraints if c.kind == "foreign_key"]

    violations: dict[str, int] = {}

    n = None
    if row_cs:
        row = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.when(c.violated, 1).otherwise(0)).alias(f"__v{i}")
                for i, c in enumerate(row_cs)
            ],
        ).collect()[0]
        n = int(row["__n"])
        for i, c in enumerate(row_cs):
            violations[c.name] = int(row[f"__v{i}"] or 0)

    for c in uniq_cs:
        collisions = (
            df.groupBy(*c.keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .agg(F.coalesce(F.sum("__cnt"), F.lit(0)).alias("__rows"))
            .collect()[0]["__rows"]
        )
        violations[c.name] = int(collisions)

    for c in fk_cs:
        orphans = (
            df.filter(F.col(c.fk_col).isNotNull())
            .join(
                c.ref.select(F.col(c.ref_col).alias(c.fk_col)).distinct(),
                c.fk_col,
                "left_anti",
            )
            .count()
        )
        violations[c.name] = int(orphans)

    return ConstraintReport(row_count=n, violations=violations)


def sample_violations(
    df: DataFrame, constraint: Constraint, limit: int = 5
) -> DataFrame:
    """On-demand violating-row samples for debugging (separate job by
    design — the validation pass stays counters-only)."""
    if constraint.kind == "row":
        return df.filter(constraint.violated).limit(limit)
    if constraint.kind == "unique":
        keys = list(constraint.keys)
        dupkeys = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .select(*keys)
        )
        return df.join(dupkeys, keys, "left_semi").limit(limit)
    if constraint.kind == "foreign_key":
        return (
            df.filter(F.col(constraint.fk_col).isNotNull())
            .join(
                constraint.ref.select(
                    F.col(constraint.ref_col).alias(constraint.fk_col)
                ).distinct(),
                constraint.fk_col,
                "left_anti",
            )
            .limit(limit)
        )
    raise ValueError(f"unknown constraint kind {constraint.kind!r}")


def validation_frame(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """The suite as a DataFrame of ``(constraint, violations)`` rows instead
    of a collected report — composable into larger plans (and into the
    oracle gate). Same job shape as :func:`validate`: all row-level
    constraints share ONE aggregate; each unique/FK constraint contributes
    its own 1-row aggregate; the tiny per-constraint rows are unioned."""
    row_cs = [c for c in constraints if c.kind == "row"]
    uniq_cs = [c for c in constraints if c.kind == "unique"]
    fk_cs = [c for c in constraints if c.kind == "foreign_key"]

    parts = []
    if row_cs:
        one_pass = df.agg(
            *[
                F.sum(F.when(c.violated, 1).otherwise(0))
                .cast("bigint")
                .alias(f"__v{i}")
                for i, c in enumerate(row_cs)
            ]
        )
        # unpivot the single counters row to (constraint, violations)
        stack = ", ".join(
            f"'{c.name}', __v{i}" for i, c in enumerate(row_cs)
        )
        parts.append(
            one_pass.selectExpr(
                f"stack({len(row_cs)}, {stack}) AS (constraint, violations)"
            )
        )
    for c in uniq_cs:
        parts.append(
            df.groupBy(*c.keys)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .agg(
                F.coalesce(F.sum("__cnt"), F.lit(0))
                .cast("bigint")
                .alias("violations")
            )
            .select(F.lit(c.name).alias("constraint"), "violations")
        )
    for c in fk_cs:
        orphans = (
            df.filter(F.col(c.fk_col).isNotNull())
            .join(
                c.ref.select(F.col(c.ref_col).alias(c.fk_col)).distinct(),
                c.fk_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
            .select(F.lit(c.name).alias("constraint"), "violations")
        )
        parts.append(orphans)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
