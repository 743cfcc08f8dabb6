"""SQLite sink (the reference's BI hand-off, SURVEY §2.1 S5 / §4.4).

The reference writes through the xerial JDBC driver with default
parallelism — which only works because SQLite locks the whole file and the
data is tiny. SQLite is inherently a SINGLE-WRITER sink, so parallel
executor writes buy nothing; this implementation collects the table to the
driver as ONE Arrow table (``toArrow``) and bulk-inserts it with
``executemany`` in 50k-row batches — no JDBC jar dependency. The whole
table is held on the driver while it is inserted; ``MAX_SQLITE_ROWS``
bounds that.

Concurrent calls (the pipeline writes its four tables from four threads)
overlap their Spark collects, which run before the file is touched. The
file then has one writer at a time by construction: the DROP/CREATE/INSERT
of a table run as ONE transaction under the module's ``_WRITE_LOCK``, so
no call waits on SQLite's busy timeout, and a failed write (over the
ceiling, or an insert error) leaves the file as it was — an existing table
keeps its old rows, a new one is never created.

Type fidelity fixes over the reference (SURVEY §1.4): DateType is stored as
ISO 'YYYY-MM-DD' TEXT (not driver-dependent epoch-millis), booleans as 0/1
INTEGER — deterministic across driver versions.
"""

from __future__ import annotations

import sqlite3
import threading
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SQLITE_TYPES = {
    "int": "INTEGER", "bigint": "INTEGER", "smallint": "INTEGER",
    "tinyint": "INTEGER", "boolean": "INTEGER",
    "float": "REAL", "double": "REAL",
    "string": "TEXT", "date": "TEXT", "timestamp": "TEXT",
}


def _normalize(df: DataFrame) -> DataFrame:
    """Pre-cast for deterministic SQLite affinity."""
    cols = []
    for f_ in df.schema.fields:
        t = f_.dataType.simpleString()
        c = F.col(f_.name)
        if t == "boolean":
            c = c.cast("int")
        elif t == "date":
            c = F.date_format(c, "yyyy-MM-dd")
        elif t == "timestamp":
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSS")
        cols.append(c.alias(f_.name))
    return df.select(*cols)


#: Hard ceiling on rows routed through the driver to SQLite. SQLite is the
#: single-writer local BI hand-off, NOT the scale sink — a table 100× the
#: reference's (~420k rows) pointed here by accident should fail fast, not
#: materialize on the driver. The collect is limited to ``max_rows + 1``
#: rows and the count is checked once that table is on the driver, so an
#: oversized input costs at most one row more than the ceiling, its plan
#: runs once, and the file is never opened.
MAX_SQLITE_ROWS = 10_000_000

#: one writer per process: held from BEGIN to COMMIT of each table write
_WRITE_LOCK = threading.Lock()


def write_sqlite(
    df: DataFrame,
    db_path: str | Path,
    table: str,
    mode: str = "overwrite",
    max_rows: int = MAX_SQLITE_ROWS,
) -> int:
    """Write ``df`` into ``db_path`` as ``table``; returns rows written
    (so callers don't re-execute the plan just to log a count — the
    reference runs every table twice for that, SURVEY §4.3).

    Raises ``ValueError`` (the file untouched) if the input exceeds
    ``max_rows`` — at that size use the distributed parquet sink and query
    it in place instead of a driver-side SQLite file."""
    df = _normalize(df)
    ddl_types = [
        _SQLITE_TYPES.get(f_.dataType.simpleString(), "TEXT")
        for f_ in df.schema.fields
    ]
    names = df.columns
    col_ddl = ", ".join(f'"{n}" {t}' for n, t in zip(names, ddl_types))
    placeholders = ", ".join("?" for _ in names)

    # limit(max_rows+1) is pushed into the plan, so an oversized table
    # never materializes on the driver — the one extra row is the
    # overflow detector
    arrow_table = df.limit(max_rows + 1).toArrow()
    if arrow_table.num_rows > max_rows:
        raise ValueError(
            f"write_sqlite: input exceeds max_rows={max_rows:,} "
            f"(table {table!r}); SQLite is the single-writer local "
            "BI sink — write this table with the parquet sink "
            "(df.write.parquet) and query it in place instead"
        )
    with _WRITE_LOCK:
        # autocommit mode plus an explicit BEGIN puts the DDL inside the
        # one transaction, so a rollback also undoes the DROP
        con = sqlite3.connect(str(db_path), isolation_level=None)
        try:
            with con:  # COMMIT, or ROLLBACK on any exception
                con.execute("BEGIN IMMEDIATE")
                if mode == "overwrite":
                    con.execute(f'DROP TABLE IF EXISTS "{table}"')
                con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({col_ddl})')
                n = 0
                for batch in arrow_table.to_batches(max_chunksize=50_000):
                    rows = list(zip(*(col.to_pylist() for col in batch.columns)))
                    con.executemany(
                        f'INSERT INTO "{table}" VALUES ({placeholders})', rows
                    )
                    n += len(rows)
            return n
        finally:
            con.close()
