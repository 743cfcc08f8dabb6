"""Declarative constraint validation (Deequ-style checks, Spark-first).

Each constraint kind has ONE definition of what it counts, and every
consumer builds from it (:func:`validate`, :func:`validation_frame`,
:func:`sample_violations` and the pipeline's write-time ``observe()``):

- row-level constraints (``not_null``, ``in_range``, ``accepted_values``,
  ``matches_regex``, ``satisfies``) are counter terms
  (:func:`row_counters`) that share a SINGLE aggregate pass — adding a
  constraint adds a column to one job, not a job; a suite without
  row-level constraints skips that pass (and its row count) entirely;
- a ``unique`` key set is its collision groups (one groupBy — a shuffle
  per key set, inherent: different keys, different partitioning); NULL
  keys form one group, as in SQL ``GROUP BY``;
- a ``foreign_key`` is its orphan rows, a left-anti join against the
  referenced key column (broadcast or shuffled, Catalyst's call).

Violation *samples* are only computed on demand (``sample_violations``) so
the validation pass itself never widens beyond counters.

The reference has no counterpart (its QC is profile-based —
/root/reference/src/quality_checks.py:105-130); this is the
constraint-assertion layer a production pipeline puts in front of a sink.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

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


def row_counters(constraints: list[Constraint]) -> list[Column]:
    """One aggregate term ``__v{i}`` per row-level constraint of the suite
    (others are skipped): its number of violating rows, 0 on an empty
    table. Usable in ``agg`` and in ``observe``."""
    rows = [c for c in constraints if c.kind == "row"]
    return [
        F.count(F.when(c.violated, 1)).alias(f"__v{i}") for i, c in enumerate(rows)
    ]


def row_violations(counters, constraints: list[Constraint]) -> dict[str, int]:
    """Read the :func:`row_counters` terms back from a collected ``Row`` or
    an observation's metrics dict."""
    rows = [c for c in constraints if c.kind == "row"]
    return {c.name: int(counters[f"__v{i}"]) for i, c in enumerate(rows)}


def _collisions(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """The key groups of more than one row, with their size ``__cnt``."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > 1)
    )


def _orphans(df: DataFrame, c: Constraint) -> DataFrame:
    """The rows whose non-NULL ``fk_col`` has no match in the reference."""
    ref = c.ref.select(F.col(c.ref_col).alias(c.fk_col)).distinct()
    return df.filter(F.col(c.fk_col).isNotNull()).join(ref, c.fk_col, "left_anti")


def _key_count(df: DataFrame, c: Constraint) -> DataFrame:
    """A unique / foreign-key constraint's count as one
    ``(constraint, violations)`` row."""
    if c.kind == "unique":
        src, n = _collisions(df, c.keys), F.coalesce(F.sum("__cnt"), F.lit(0))
    elif c.kind == "foreign_key":
        src, n = _orphans(df, c), F.count(F.lit(1))
    else:
        raise ValueError(f"unknown constraint kind {c.kind!r}")
    return src.agg(n.cast("bigint").alias("violations")).select(
        F.lit(c.name).alias("constraint"), "violations"
    )


def validate(df: DataFrame, constraints: list[Constraint]) -> ConstraintReport:
    """Run a constraint suite with the minimal job count (see module doc)."""
    n = None
    violations: dict[str, int] = {}
    if any(c.kind == "row" for c in constraints):
        row = df.agg(
            F.count(F.lit(1)).alias("__n"), *row_counters(constraints)
        ).collect()[0]
        n = int(row["__n"])
        violations.update(row_violations(row, constraints))
    for c in constraints:
        if c.kind != "row":
            violations[c.name] = int(_key_count(df, c).collect()[0]["violations"])
    return ConstraintReport(row_count=n, violations=violations)


def sample_violations(
    df: DataFrame, constraint: Constraint, limit: int = 5
) -> DataFrame:
    """On-demand violating-row samples for debugging (separate job by
    design — the validation pass stays counters-only). A ``unique`` sample
    matches keys NULL-safely, so NULL-key collisions show up as counted."""
    if constraint.kind == "row":
        return df.filter(constraint.violated).limit(limit)
    if constraint.kind == "unique":
        keys = constraint.keys
        dup = _collisions(df, keys).select(
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)]
        )
        on = [F.col(k).eqNullSafe(F.col(f"__k{i}")) for i, k in enumerate(keys)]
        return df.join(dup, on, "left_semi").limit(limit)
    if constraint.kind == "foreign_key":
        return _orphans(df, constraint).limit(limit)
    raise ValueError(f"unknown constraint kind {constraint.kind!r}")


def validation_frame(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """The suite as a DataFrame of ``(constraint, violations)`` rows instead
    of a collected report — composable into larger plans (and into the
    oracle gate). Same job shape as :func:`validate`: all row-level
    constraints share ONE aggregate; each unique/FK constraint contributes
    its own 1-row aggregate; the tiny per-constraint rows are unioned."""
    row_cs = [c for c in constraints if c.kind == "row"]
    parts = [_key_count(df, c) for c in constraints if c.kind != "row"]
    if row_cs:
        # unpivot the single counters row to (constraint, violations)
        stack = ", ".join(f"'{c.name}', __v{i}" for i, c in enumerate(row_cs))
        parts.insert(
            0,
            df.agg(*row_counters(row_cs)).selectExpr(
                f"stack({len(row_cs)}, {stack}) AS (constraint, violations)"
            ),
        )
    return reduce(DataFrame.unionByName, parts)
