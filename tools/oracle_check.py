"""Local replica of the driver's correctness gate: run every registry query
on Spark AND its oracle SQL on DuckDB, compare row-count + schema-shape +
order-insensitive values (exact, with a float-approx fallback diagnostic).

Checks every registered query, exported or local-only.

Usage: python tools/oracle_check.py [--plain] [--tz ZONE] [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        # reaches here only for columns BOTH engines typed as the same
        # decimal(p,s) (the compare() tripwire rejects one-sided decimals);
        # canonical string keeps the comparison exact beyond 2^53
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # datetime/date/pd.Timestamp
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return [cols[i] for i in order], out


def _approx_eq(a, b, tol=1e-9):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    return a == b


def compare(name, spark_df, con, sql):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    # Fetch DuckDB results via Arrow so the COLUMN types are visible: fetchall
    # converts scale-0 decimals to int, which hid the q20 DECIMAL(38,0) drift
    # in round 1. The driver hashes typed values, so type drift = hash fail.
    tbl = con.execute(sql).fetch_arrow_table()
    d_cols = tbl.column_names
    d_rows = [tuple(d[c] for c in d_cols) for d in tbl.to_pylist()]

    problems = []
    # Decimal columns are allowed ONLY when BOTH engines declare the same
    # (precision, scale) for the column — a deliberately-decimal query like
    # q39. One-sided or mismatched-scale decimals are the q20-class type
    # drift this tripwire exists for.
    d_dec = {
        f.name: (f.type.precision, f.type.scale)
        for f in tbl.schema
        if pa.types.is_decimal(f.type)
    }
    s_dec = {
        f.name: (f.dataType.precision, f.dataType.scale)
        for f in spark_df.schema.fields
        if f.dataType.typeName().startswith("decimal")
    }
    if d_dec != s_dec:
        problems.append(
            f"decimal type drift: spark={s_dec} duck={d_dec}"
        )
        return False, problems
    dec_idx = {
        side: [i for i, c in enumerate(cols) if c in d_dec]
        for side, cols in (("spark", s_cols), ("duck", d_cols))
    }
    for side, rows in (("spark", s_rows), ("duck", d_rows)):
        ok_idx = set(dec_idx[side])
        if rows and any(
            isinstance(c, Decimal) and i not in ok_idx
            for i, c in enumerate(rows[0])
        ):
            problems.append(f"{side} returned Decimal cells (type drift)")
            return False, problems
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return False, problems
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
        return False, problems
    _, sn = _norm_rows(s_cols, s_rows)
    _, dn = _norm_rows(d_cols, d_rows)
    exact = sn == dn
    if exact:
        return True, []
    n_bad = 0
    first = None
    for i, (a, b) in enumerate(zip(sn, dn)):
        if a != b:
            if all(_approx_eq(x, y) for x, y in zip(a, b)):
                continue
            n_bad += 1
            if first is None:
                first = (i, a, b)
    if n_bad == 0:
        problems.append("float-approx only (exact hash may still mismatch)")
        return True, problems
    problems.append(f"{n_bad} mismatched rows; first: {first}")
    return False, problems


def main():
    args = sys.argv[1:]
    # --plain: simulate the DRIVER's environment — a default-config
    # SparkSession (no engine tuning: default shuffle partitions, Java
    # serializer, system timezone, ANSI as shipped). The r1 q20 failure
    # was only visible under the driver's session; this flag makes that
    # condition reproducible locally.
    plain = "--plain" in args
    args = [a for a in args if a != "--plain"]
    # --tz ZONE: additionally pin spark.sql.session.timeZone (e.g.
    # Asia/Tokyo, America/New_York) — the driver may run in ANY system
    # timezone, and epoch/date extraction that silently depends on the
    # session zone is a class of bug only a non-UTC drive exposes (two
    # were found this way).
    tz = ""
    if "--tz" in args:
        i = args.index("--tz")
        # a missing operand, or one that is actually the sf_dir positional
        # (an existing directory), means the user forgot the zone — fail
        # with usage instead of an IndexError / silently consuming sf_dir
        if i + 1 >= len(args) or os.path.isdir(args[i + 1]):
            raise SystemExit(
                "--tz requires a zone argument like Asia/Tokyo "
                "(usage: oracle_check.py [--plain] [--tz ZONE] [sf_dir] [query ...])"
            )
        tz = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans import all_specs

    specs = all_specs(include_local=True)
    qs = {name: s.fn for name, s in specs.items()}
    oracles = {name: s.oracle for name, s in specs.items()
               if s.oracle is not None}
    if plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-plain")
            .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
            .getOrCreate()
        )
    else:
        from walmart_retail_pyspark_sqlite_pipeline_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duck_con(sf_dir)

    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if tz:  # again per query: an events read pins the session to UTC
            spark.conf.set("spark.sql.session.timeZone", tz)
        if name not in oracles:
            df = fn(spark, sf_dir)
            n = df.count()
            print(f"  ~ {name}: no oracle, rows={n}")
            n_skip += 1
            continue
        try:
            ok, problems = compare(name, fn(spark, sf_dir), con, oracles[name])
        except Exception as e:  # noqa: BLE001
            ok, problems = False, [f"EXCEPTION: {type(e).__name__}: {e}"]
        if ok:
            n_pass += 1
            note = f"  ({problems[0]})" if problems else ""
            print(f"  PASS {name}{note}")
        else:
            n_fail += 1
            print(f"  FAIL {name}: {problems}")
    print(f"pass={n_pass} fail={n_fail} rows_only={n_skip}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
