"""Output checks against DuckDB, run outside the timed region.

- retail ETL: the SQLite file's four table row counts and
  ``SUM(weekly_sales)`` against DuckDB over the generated CSVs, and the
  quality report flagging MarkDown2;
- corpus prep: the kept documents against the engine's ``CORPUS_PREP_SQL``;
- query mix: each query's result against its registry oracle SQL, through
  the comparison in ``tools/oracle_check.py`` (results too large to compare
  row by row in Python are compared as multisets inside DuckDB).
"""

from __future__ import annotations

import importlib.util
import math
import sqlite3
from pathlib import Path

import duckdb

CURATED_TABLES = (
    "sales_curated", "agg_store_dept", "agg_store_type_year", "holidays_vs_normal",
)
#: results with more rows than this are compared inside DuckDB
BULK_ROWS = 20_000


def _csv(path: Path) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true)"


def retail_expected(raw_dir: Path) -> dict:
    """Row counts per curated table and the fact's weekly-sales sum, from
    the deduplicated train rows left-joined to stores."""
    con = duckdb.connect()
    con.execute(
        f"""
        CREATE VIEW t AS
        SELECT CAST(Store AS INTEGER) AS store_id,
               CAST(Dept AS INTEGER) AS dept,
               CAST(Date AS DATE) AS d,
               CAST(Weekly_Sales AS DOUBLE) AS ws,
               IsHoliday AS hol
        FROM (SELECT DISTINCT * FROM {_csv(raw_dir / 'train.csv')});
        CREATE VIEW s AS
        SELECT CAST(Store AS INTEGER) AS store_id, Type AS store_type
        FROM {_csv(raw_dir / 'stores.csv')};
        """
    )
    row = con.execute(
        """
        SELECT
          (SELECT COUNT(*) FROM t),
          (SELECT COUNT(*) FROM (SELECT DISTINCT store_id, dept, year(d), month(d) FROM t)),
          (SELECT COUNT(*) FROM (SELECT DISTINCT s.store_type, year(t.d)
                                 FROM t LEFT JOIN s USING (store_id))),
          (SELECT COUNT(*) FROM (SELECT DISTINCT year(d), hol FROM t)),
          (SELECT SUM(ws) FROM t)
        """
    ).fetchone()
    con.close()
    return {"rows": dict(zip(CURATED_TABLES, row[:4])), "sales_sum": row[4]}


def check_retail(db_path: Path, reports: dict, expected: dict) -> list[str]:
    """Problems found in one lap's SQLite output and quality reports."""
    problems = []
    con = sqlite3.connect(str(db_path))
    try:
        for table, want in expected["rows"].items():
            got = con.execute(f'SELECT COUNT(*) FROM "{table}"').fetchone()[0]
            if got != want:
                problems.append(f"{table}: {got} rows, expected {want}")
        got_sum = con.execute("SELECT SUM(weekly_sales) FROM sales_curated").fetchone()[0]
    finally:
        con.close()
    if got_sum is None or not math.isclose(got_sum, expected["sales_sum"], rel_tol=1e-9):
        problems.append(f"SUM(weekly_sales) {got_sum}, expected {expected['sales_sum']}")
    if not any("MarkDown2" in issue for issue in reports.get("features", [])):
        problems.append(f"quality report does not flag MarkDown2: {reports.get('features')}")
    return problems


def corpus_expected(corpus_dir: Path) -> dict:
    """Kept doc ids by ``CORPUS_PREP_SQL`` plus the corpus shares that pass
    the quality gate and that the exact and near dedup stages remove."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import text
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans import llm

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{corpus_dir / 'documents.parquet'}')"
    )
    kept = {r[0] for r in con.execute(f"SELECT doc_id FROM ({llm.CORPUS_PREP_SQL})").fetchall()}
    n, gate, after_exact = con.execute(
        f"""
        WITH tk AS (SELECT doc_id, text, {text.tokens_sql('text')} AS tok FROM documents),
        sc AS (SELECT doc_id, md5(text) AS h,
                      {text.quality_score_sql()} >= {llm.QUALITY_MIN} AS pass FROM tk),
        first AS (SELECT MIN(doc_id) AS doc_id FROM sc GROUP BY h)
        SELECT COUNT(*), SUM(CAST(pass AS INTEGER)),
               SUM(CAST(pass AND doc_id IN (SELECT doc_id FROM first) AS INTEGER))
        FROM sc
        """
    ).fetchone()
    con.close()
    return {
        "kept": kept,
        "gate_pass_share": gate / n,
        "exact_removed_share": (gate - after_exact) / n,
        "near_removed_share": (after_exact - len(kept)) / n,
    }


def lsh_counts(corpus_dir: Path) -> tuple[int, int]:
    """(banded-LSH candidate pairs, verified pairs) by the engine's shared
    oracle CTEs — the exact candidate definition the Spark plan uses."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans import llm

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{corpus_dir / 'documents.parquet'}')"
    )
    row = con.execute(
        f"WITH {llm.MINHASH_SIG_CTE}, {llm.VERIFIED_PAIRS_CTES} "
        "SELECT (SELECT COUNT(*) FROM cand), (SELECT COUNT(*) FROM pairs)"
    ).fetchone()
    con.close()
    return int(row[0]), int(row[1])


def check_corpus(out_dir: Path, expected: dict) -> list[str]:
    con = duckdb.connect()
    got = {
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{out_dir}/*/*/*.parquet')"
        ).fetchall()
    }
    con.close()
    want = expected["kept"]
    if got == want:
        return []
    return [f"kept docs differ: {len(got - want)} extra, {len(want - got)} missing"]


# --- query mix ------------------------------------------------------------------


def load_oracle_check(root: Path):
    """Import ``tools/oracle_check.py`` of the checkout as a module."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", root / "tools" / "oracle_check.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def check_query(oc, con, name: str, df, oracle_sql: str) -> list[str]:
    """Compare one query's Spark result with its oracle. Small results go
    through ``oracle_check.compare``; large ones are fetched as Arrow and
    compared as multisets (EXCEPT ALL both ways) inside DuckDB."""
    n_oracle = con.execute(f"SELECT COUNT(*) FROM ({oracle_sql})").fetchone()[0]
    if n_oracle <= BULK_ROWS:
        ok, problems = oc.compare(name, df, con, oracle_sql)
        return [] if ok else problems
    con.register("got", df.toArrow())
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {oracle_sql}")
        got_cols = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
        want_cols = sorted(r[0] for r in con.execute("DESCRIBE want").fetchall())
        if got_cols != want_cols:
            return [f"schema: spark={got_cols} duck={want_cols}"]
        cols = ", ".join(f'"{c}"' for c in want_cols)
        extra, missing = con.execute(
            f"SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)),"
            f"       (SELECT COUNT(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))"
        ).fetchone()
    finally:
        con.unregister("got")
    if extra or missing:
        return [f"{extra} unexpected and {missing} missing rows of {n_oracle}"]
    return []
