"""SCD Type-2 dimension maintenance (history-tracked upsert) on plain
DataFrames — the MERGE-INTO-with-history pattern a warehouse runs on
every dimension load, emulated exactly as anti-join + union (no table
format required; with Delta/Iceberg the same frames feed MERGE INTO).

Contract: a history table carries the business key columns, the tracked
attribute columns, and three bookkeeping columns —
``effective_from`` (timestamp-like, inclusive), ``effective_to`` (null =
open), ``is_current`` (bool). :func:`scd2_apply` folds one update batch
in:

- a NEW key inserts an open current row;
- a changed row (any tracked attribute differs, null-safely) CLOSES the
  open version (``effective_to`` = batch ts) and inserts a new open one;
- an unchanged row is untouched (no version churn);
- closed history is never rewritten.

Scale shape: one join of the update batch against CURRENT rows only
(dimension-sized, usually broadcast-able), plus unions — history rows
ride through untouched. Deterministic: no generated surrogate keys; the
version identity is (key, effective_from).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _any_attr_differs(track_cols: list[str]) -> Column:
    # null-safe inequality per attribute: NULL -> value IS a change
    diffs = [
        ~F.col(f"u.{c}").eqNullSafe(F.col(f"c.{c}")) for c in track_cols
    ]
    return functools.reduce(lambda a, b: a | b, diffs)


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    track_cols: list[str],
    batch_ts,
) -> DataFrame:
    """Fold one update batch into an SCD2 history table; returns the new
    history DataFrame (the caller persists it, e.g. with a table-format
    MERGE).

    ``updates`` carries ``key_cols + track_cols`` (one row per key;
    duplicate keys in one batch are an error the caller must resolve —
    batches are per-snapshot). ``batch_ts`` is the effective timestamp of
    the batch (a literal or Column-convertible value).
    """
    ts = F.lit(batch_ts)
    closed_history = history.filter(~F.col("is_current"))
    cur = history.filter(F.col("is_current"))

    u, c = updates.alias("u"), cur.alias("c")
    joined = u.join(c, key_cols, "left")

    is_new = F.col("c.is_current").isNull()
    changed = _any_attr_differs(track_cols)

    # rows to insert as the new open version: new keys + changed keys
    inserts = joined.filter(is_new | changed).select(
        *key_cols,
        *[F.col(f"u.{col}").alias(col) for col in track_cols],
        ts.alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )

    # current versions being superseded -> closed
    superseded_keys = joined.filter(~is_new & changed).select(*key_cols)
    closing = cur.join(superseded_keys, key_cols, "left_semi").select(
        *key_cols,
        *track_cols,
        "effective_from",
        ts.cast("timestamp").alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    # current versions NOT superseded stay open (incl. keys absent from
    # the batch — absence is not deletion in SCD2)
    surviving = cur.join(superseded_keys, key_cols, "left_anti")

    cols = key_cols + track_cols + ["effective_from", "effective_to", "is_current"]
    return (
        closed_history.select(*cols)
        .unionByName(surviving.select(*cols))
        .unionByName(closing)
        .unionByName(inserts)
    )


def scd2_init(
    snapshot: DataFrame,
    key_cols: list[str],
    track_cols: list[str],
    batch_ts,
) -> DataFrame:
    """Bootstrap an SCD2 history from an initial dimension snapshot."""
    return snapshot.select(
        *key_cols,
        *track_cols,
        F.lit(batch_ts).cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_as_of(history: DataFrame, ts) -> DataFrame:
    """Point-in-time view: the dimension exactly as it stood at ``ts``."""
    t = F.lit(ts).cast("timestamp")
    return history.filter(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
    )
