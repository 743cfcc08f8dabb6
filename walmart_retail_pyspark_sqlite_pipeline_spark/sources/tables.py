"""Parquet star-schema sources (the driver-generated TPC-H-ish testdata).

Scans are plain ``spark.read.parquet`` so Catalyst gets full predicate
pushdown / column pruning / partition pruning on the file source — at 100 TB
these tables would be directory-partitioned and the same code path prunes
partitions for free.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The relational star only (no extension tables).
STAR_TABLES = TABLES[:7]


#: each source path's file listing (name, size, mtime) at its last read
_LISTINGS: dict[str, list] = {}


def refresh_if_changed(spark: SparkSession, path: str) -> None:
    """Invalidate the frames cached over ``path`` when its files changed
    since the last read: a cache entry is matched by plan, whose scan names
    only the path, so it would otherwise answer for the new files. Only on
    a change, because a refresh re-plans every cached frame over the path,
    and a frame cached on top of another one then scans the files itself.
    A path that lists no local files (a glob, a remote URI) always
    refreshes."""
    root = Path(path)
    files = [root] if root.is_file() else sorted(root.rglob("*"))
    listing = [(str(f), f.stat().st_size, f.stat().st_mtime_ns) for f in files]
    if not listing or _LISTINGS.get(path) != listing:
        spark.catalog.refreshByPath(path)
        _LISTINGS[path] = listing


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    refresh_if_changed(spark, path)
    return spark.read.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _read_events(spark, sf_dir)
    return _read_parquet(spark, sf_dir, name)


#: DuckDB twin of the :func:`read_embeddings` ingestion contract. Every
#: embedding oracle reads the table through :data:`EMB_SOURCE_SQL`, and
#: tests/test_registry.py asserts no oracle reads it any other way, so a
#: contract change is one edit here.
EMB_VALID_SQL = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)
#: the embeddings table as the oracles read it: the gated subquery, aliased
#: back to ``embeddings``
EMB_SOURCE_SQL = f"(SELECT * FROM embeddings WHERE {EMB_VALID_SQL}) embeddings"


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings SOURCE contract: every yielded vector is non-NULL,
    has no NULL element, and has at least one nonzero component. A real
    vector store enforces exactly this at ingestion (a NULL row is a
    failed embed job; an all-zero vector has no direction, so every
    cosine-metric op — the table's primary consumers — is undefined on
    it), and quarantining here once keeps all ~20 downstream ANN/dedup/
    clustering queries and their DuckDB twins on one shared semantics
    instead of 20 per-query guards. The pushdown-friendly IS NOT NULL
    lands in the scan; the element predicates run post-scan. Edge rows
    exercised by tools/make_edge_sf.py.

    A separate entry point rather than a branch inside
    :func:`read_table`, which returns every table as stored: the
    quarantine is a contract between the vector queries and their DuckDB
    twins (:data:`EMB_VALID_SQL`), so only readers that opt into it
    apply it.
    """
    from pyspark.sql import functions as F

    df = _read_parquet(spark, sf_dir, "embeddings")
    return df.filter(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
        & F.exists("embedding", lambda x: x != 0)
    )


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain ``TimestampType`` regardless
    of how the parquet writer encoded it:

    - TIMESTAMP(NANOS) read as long via ``spark.sql.legacy.parquet.
      nanosAsLong`` → exact integer ``div 1000`` to micros (ns epoch values
      ~1.7e18 exceed double's 2^53 mantissa, so float division would drift);
    - ``timestamp[us]`` with isAdjustedToUTC=false, which Spark 4 infers as
      TIMESTAMP_NTZ → cast to TimestampType. Callers pin the session
      timezone to UTC first, so the cast is epoch-preserving and the
      downstream ``cast(ts AS long)`` epoch-seconds idiom (which is illegal
      on NTZ) matches DuckDB's ``epoch(ts)`` on the same naive storage.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def pin_event_confs(spark: SparkSession) -> None:
    """Set the two session confs every events read relies on (batch and
    stream alike); they stay set after the read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # queries over events export epoch seconds (window starts, session
    # bounds); epoch extraction from a naive-storage timestamp depends on
    # the session timezone, so pin UTC to match the SQL oracle regardless
    # of the caller's session default. (Wall-clock functions like year()
    # are timezone-independent for naive data, so this is a no-op for the
    # relational tables.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_event_confs(spark)
    return normalize_event_ts(_read_parquet(spark, sf_dir, "events"))
