"""SQLite → Spark reader via the Spark 4 Python DataSource API — no JDBC jar.

The reference round-trips its curated tables through SQLite with the xerial
JDBC driver (``/root/reference/src/pipeline_orchestrator.py:81-97``); this
engine ships no driver jar. Spark 4's Python DataSource API removes the jar
dependency entirely: schema inference, partition planning, and row reading
run in Python workers against the sqlite3 stdlib.

Scale shape (the parts that matter even though SQLite itself is a
single-file source):

- **partition-parallel scan** — ``numPartitions`` rowid ranges, one
  ``InputPartition`` each, so executors read disjoint slices concurrently
  (the same contract as JDBC's partitionColumn/lowerBound/upperBound);
- **filter pushdown** — ``pushFilters`` converts Catalyst's simple
  predicates (=, <, <=, >, >=, IS NULL, IS NOT NULL, IN) into a
  parameterized SQLite WHERE clause, so filtered reads ship only matching
  rows out of the database; unsupported filters are returned to Spark and
  re-applied post-scan (correctness never depends on the pushdown);
- **column pruning by schema** — the SELECT list is exactly the read
  schema's fields.

Typing: SQLite declared affinities map INTEGER→bigint, REAL→double,
BLOB→binary, everything else→string — the mirror of the deterministic type
map ``sinks/sqlite.py`` writes with, so sink→source round-trips preserve
schema.
"""

from __future__ import annotations

import sqlite3
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


def _spark_type(decl: str) -> str:
    d = (decl or "").upper()
    if "INT" in d:
        return "bigint"
    if "REAL" in d or "FLOA" in d or "DOUB" in d:
        return "double"
    if "BLOB" in d:
        return "binary"
    return "string"


def _quote(ident: str) -> str:
    if '"' in ident:
        raise ValueError(f"illegal identifier {ident!r}")
    return f'"{ident}"'


@dataclass
class _RowidRange(InputPartition):
    lo: int
    hi: int


# (filter class, SQL operator) for the binary comparison pushdowns
_COMPARISONS = [
    (EqualTo, "="),
    (GreaterThan, ">"),
    (GreaterThanOrEqual, ">="),
    (LessThan, "<"),
    (LessThanOrEqual, "<="),
]


class SQLiteReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        self.table = options.get("table")
        if not self.path or not self.table:
            raise ValueError("pysqlite requires 'path' and 'table' options")
        self.num_partitions = int(options.get("numpartitions", 4))
        self.schema_fields = [f.name for f in schema.fields]
        self.where: list[str] = []
        self.params: list = []

    # -- filter pushdown ---------------------------------------------------
    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            clause = self._to_sql(f)
            if clause is None:
                yield f  # unsupported: Spark evaluates it post-scan
            else:
                self.where.append(clause[0])
                self.params.extend(clause[1])

    def _to_sql(self, f: Filter):
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = attr[0]
        if col not in self.schema_fields:
            return None
        qcol = _quote(col)
        if isinstance(f, IsNull):
            return (f"{qcol} IS NULL", [])
        if isinstance(f, IsNotNull):
            return (f"{qcol} IS NOT NULL", [])
        for cls, op in _COMPARISONS:
            if isinstance(f, cls) and isinstance(f.value, (int, float, str)):
                return (f"{qcol} {op} ?", [f.value])
        if isinstance(f, In) and all(
            isinstance(v, (int, float, str)) for v in f.value
        ):
            marks = ", ".join("?" for _ in f.value)
            return (f"{qcol} IN ({marks})", list(f.value))
        return None

    # -- partition planning ------------------------------------------------
    def partitions(self):
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            lo, hi = con.execute(
                f"SELECT MIN(rowid), MAX(rowid) FROM {_quote(self.table)}"
            ).fetchone()
        finally:
            con.close()
        if lo is None:
            return [_RowidRange(0, -1)]
        n = max(1, min(self.num_partitions, hi - lo + 1))
        step = (hi - lo + 1 + n - 1) // n
        return [
            _RowidRange(lo + i * step, min(hi, lo + (i + 1) * step - 1))
            for i in range(n)
        ]

    # -- per-partition read (runs in the Python worker) --------------------
    def read(self, partition: _RowidRange):
        cols = ", ".join(_quote(c) for c in self.schema_fields)
        where = " AND ".join(["rowid BETWEEN ? AND ?", *self.where])
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            cur = con.execute(
                f"SELECT {cols} FROM {_quote(self.table)} WHERE {where}",
                [partition.lo, partition.hi, *self.params],
            )
            yield from cur
        finally:
            con.close()


class SQLiteDataSource(DataSource):
    """``spark.read.format("pysqlite").option("path", db).option("table", t)``"""

    @classmethod
    def name(cls) -> str:
        return "pysqlite"

    def schema(self) -> str:
        path = self.options.get("path")
        table = self.options.get("table")
        if not path or not table:
            raise ValueError("pysqlite requires 'path' and 'table' options")
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            info = con.execute(f"PRAGMA table_info({_quote(table)})").fetchall()
        finally:
            con.close()
        if not info:
            raise ValueError(f"table {table!r} not found in {path}")
        return ", ".join(f"{row[1]} {_spark_type(row[2])}" for row in info)

    def reader(self, schema: StructType) -> SQLiteReader:
        return SQLiteReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> "SQLiteStreamReader":
        return SQLiteStreamReader(self.options, schema)


def stream_sqlite(spark, db_path, table: str):
    """Open ``table`` as an append-only Structured Streaming source (rowid
    offsets; see :class:`SQLiteStreamReader`)."""
    spark.dataSource.register(SQLiteDataSource)
    return (
        spark.readStream.format("pysqlite")
        .option("path", str(db_path))
        .option("table", table)
        .load()
    )


def read_sqlite(spark, db_path, table: str, num_partitions: int = 4):
    """Register the source (idempotent) and load ``table`` from ``db_path``
    as a DataFrame with a partition-parallel, pushdown-capable scan."""
    spark.dataSource.register(SQLiteDataSource)
    # Python-data-source pushdown is opt-in (Spark 4.1); without it, a
    # reader that implements pushFilters() fails at planning time
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("pysqlite")
        .option("path", str(db_path))
        .option("table", table)
        .option("numPartitions", str(num_partitions))
        .load()
    )


class SQLiteStreamReader(SimpleDataSourceStreamReader):
    """Append-only incremental (CDC-lite) streaming read: the offset is the
    last rowid seen; each micro-batch ships rows with ``rowid > offset``.
    ``readBetweenOffsets`` replays a committed range deterministically for
    recovery, so the source is exactly-once under checkpointing (SQLite
    rowids are monotonic for INSERTs and this reader assumes an
    insert-only table — the honest contract for a CDC-lite source)."""

    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        self.table = options.get("table")
        if not self.path or not self.table:
            raise ValueError("pysqlite requires 'path' and 'table' options")
        self.schema_fields = [f.name for f in schema.fields]

    def initialOffset(self) -> dict:
        return {"rowid": 0}

    def _select(self, lo: int, hi: int) -> list[tuple]:
        # a LIST, not a generator: the simple stream reader ships the
        # batch's rows through pickle (prefetch-on-driver contract)
        cols = ", ".join(_quote(c) for c in self.schema_fields)
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            return con.execute(
                f"SELECT {cols} FROM {_quote(self.table)} "
                "WHERE rowid > ? AND rowid <= ? ORDER BY rowid",
                [lo, hi],
            ).fetchall()
        finally:
            con.close()

    def read(self, start: dict):
        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            (hi,) = con.execute(
                f"SELECT COALESCE(MAX(rowid), 0) FROM {_quote(self.table)}"
            ).fetchone()
        finally:
            con.close()
        lo = int(start["rowid"])
        hi = max(lo, int(hi))
        return self._select(lo, hi), {"rowid": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._select(int(start["rowid"]), int(end["rowid"]))
