from .checks import QualityReport, profile, run_quality_checks
from .constraints import (
    Constraint,
    ConstraintReport,
    accepted_values,
    foreign_key,
    in_range,
    matches_regex,
    not_null,
    sample_violations,
    satisfies,
    unique,
    validate,
    validation_frame,
)

__all__ = [
    "QualityReport",
    "profile",
    "run_quality_checks",
    "Constraint",
    "ConstraintReport",
    "not_null",
    "in_range",
    "accepted_values",
    "matches_regex",
    "satisfies",
    "unique",
    "foreign_key",
    "validate",
    "validation_frame",
    "sample_violations",
]
