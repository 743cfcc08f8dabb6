"""Command-line surface:

    python -m walmart_retail_pyspark_sqlite_pipeline_spark list
    python -m walmart_retail_pyspark_sqlite_pipeline_spark query q01_pricing_summary \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--explain]
    python -m walmart_retail_pyspark_sqlite_pipeline_spark pipeline \
        --raw-dir data/raw [--output-db curated/retail.db] [--sink sqlite]
    python -m walmart_retail_pyspark_sqlite_pipeline_spark corpus \
        --input-dir /root/testdata/sf0.01 --output-dir curated/corpus

``query`` runs any registry query (exported or local) and prints rows;
``pipeline`` runs the reference-parity retail lifecycle; ``corpus`` runs
the LLM corpus-prep lifecycle.
"""

from __future__ import annotations

import argparse
import sys

from .pipeline.orchestrator import SINKS


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="walmart_retail_pyspark_sqlite_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries")

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true",
                   help="print the physical plan instead of rows")

    pl = sub.add_parser("pipeline", help="run the retail ETL lifecycle")
    pl.add_argument("--raw-dir", required=True)
    pl.add_argument("--output-db", default="curated/retail.db")
    pl.add_argument("--sink", default="sqlite", choices=SINKS,
                    help="write the curated tables to the SQLite database "
                    "(--output-db) or to parquet under curated/")

    c = sub.add_parser("corpus", help="run the corpus-prep lifecycle")
    c.add_argument("--input-dir", required=True)
    c.add_argument("--output-dir", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from .plans.registry import all_specs

    if args.cmd == "list":
        specs = all_specs(include_local=True)
        exported = set(all_specs(include_local=False))
        for name, spec in sorted(specs.items()):
            kind = "exported" if name in exported else "local"
            desc = spec.doc or "SURVEY " + ",".join(spec.tags)
            print(f"{name:35s} [{kind}] {desc}".rstrip())
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark

    # getOrCreate reuses any live session (e.g. when main() is driven from
    # tests or a notebook) — only stop what this invocation created
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "query":
            specs = all_specs(include_local=True)
            if args.name not in specs:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            df = specs[args.name].fn(spark, args.sf_dir)
            if args.explain:
                df.explain("formatted")
            else:
                df.show(args.limit, truncate=False)
            return 0
        if args.cmd == "pipeline":
            from .pipeline import PipelineConfig, run_pipeline

            result = run_pipeline(
                spark,
                PipelineConfig(
                    raw_dir=args.raw_dir, output_db=args.output_db, sink=args.sink
                ),
            )
            for name, rows in result["table_rows"].items():
                print(f"{name}: {rows} rows")
            print(f"elapsed: {result['elapsed_s']}s")
            return 0
        if args.cmd == "corpus":
            from .pipeline import CorpusConfig, run_corpus_pipeline

            stats = run_corpus_pipeline(
                spark,
                CorpusConfig(input_dir=args.input_dir, output_dir=args.output_dir),
            )
            print(stats)
            return 0
        return 2
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
