"""Config-driven pipeline lifecycle (SURVEY §3 entry point 1):
ingest → quality checks → curated transform → sink.

Independent work runs concurrently, one driver thread per item: the
read + quality pass of each dataset, then the sink write of each table.
Every action is dominated by fixed per-plan driver work (planning, code
generation, a few jobs each) while the executors sit mostly idle, so the
overlapped plans share the cores. Each thread is a PySpark
``InheritableThread``, so the caller's job group and local properties tag
every job; results, reports and log lines are gathered in
config/table order, and a failed thread is raised (the first in that
order) only after every thread has ended. The dataset keys and every
input path are checked before any Spark job, so a bad config or a
missing file fails the same way however the threads are timed. Between
the two concurrent stages, with every QC report in and before any write,
run the schema check (``fail_on_schema_mismatch``) and the FK gate, so
either can still block the sink.

Differences from the reference, by design (SURVEY §4.3):
- quality profiling is one aggregate job per table, not N+3;
- the curated join executes ONCE: the fact is cached where it is built,
  the pre-sink FK gate's anti-join fills the cache, and every sink write
  (the fact and its three rollups) reads it; row counts come back from
  the sink writer instead of a pre-write ``count()`` re-execution;
- the sink is pluggable: SQLite for the BI hand-off (single-writer by
  construction), parquet as the scale default;
- ingestion is pluggable and defaults to local files (the reference shells
  out to the Kaggle CLI — an out-of-engine acquisition step; hook one in
  via ``PipelineConfig.acquire`` if credentials exist).
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import yaml
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from ..plans import curated as cur
from ..quality import QualityReport, run_quality_checks
from ..quality.constraints import (
    Constraint,
    foreign_key,
    in_range,
    not_null,
    row_counters,
    row_violations,
    validate,
)
from ..sinks import write_parquet, write_sqlite
from ..sources.csv import read_csv_raw

log = logging.getLogger("walmart_retail_pipeline")

SINKS = ("sqlite", "parquet")


@dataclass
class PipelineConfig:
    raw_dir: str
    output_db: str = "curated/retail.db"
    output_parquet_dir: str | None = None
    max_null_fraction: float = 0.6
    drop_duplicates: bool = True
    fail_on_schema_mismatch: bool = False
    sink: str = "sqlite"  # one of SINKS
    datasets: dict[str, str] = field(
        default_factory=lambda: {
            "train": "train.csv",
            "features": "features.csv",
            "stores": "stores.csv",
        }
    )
    #: optional acquisition hook: called with raw_dir before reading
    acquire: Callable[[str], None] | None = None
    fail_on_constraint_violation: bool = False

    @classmethod
    def from_yaml(cls, path: str | Path) -> "PipelineConfig":
        with open(path) as fh:
            data = yaml.safe_load(fh) or {}
        unknown = sorted(set(data) - set(cls.__dataclass_fields__))
        if unknown:  # a misspelled key would otherwise fall back to its default
            raise ValueError(f"{path}: unknown PipelineConfig keys {unknown}")
        return cls(**data)


_SCHEMAS = {
    "train": cur.TRAIN_SCHEMA,
    "features": cur.FEATURES_SCHEMA,
    "stores": cur.STORES_SCHEMA,
}


#: lakehouse layout for the parquet sink: table -> partition columns.
#: Partitioning the fact by year means a year-filtered downstream read
#: prunes whole directories before any IO — the default layout choice for a
#: time-organized 100 TB fact table.
PARQUET_PARTITION_BY = {"sales_curated": ["year"]}


def _fact_constraints(stores: DataFrame) -> list[Constraint]:
    """The curated fact's suite (built per run — a Column needs the JVM).
    Its foreign key is the pre-sink gate, run BEFORE any write so
    ``fail_on_constraint_violation`` can block the sink; its row-level
    checks ride the fact write's ``observe()`` — the SAME job that
    materializes the table, zero extra passes."""
    return [
        foreign_key("store_id", stores, "Store"),
        not_null("store_id"),
        not_null("date"),
        in_range("week", 1, 53),
    ]


def _in_threads(spark: SparkSession, fn: Callable, items: list) -> list:
    """``[fn(x) for x in items]`` with one thread per item. Each thread is
    a PySpark ``InheritableThread``, so the caller's job group and local
    properties reach its jobs. Results come back in ``items``
    order; if any call fails, every thread is still waited for and the
    first failure in ``items`` order is raised."""
    results: list = [None] * len(items)
    errors: list[BaseException | None] = [None] * len(items)

    def run(i: int) -> None:
        try:
            results[i] = fn(items[i])
        except BaseException as e:  # noqa: BLE001 - re-raised in order below
            errors[i] = e

    # each thread copies the caller's local properties when it starts (a
    # plain thread when PySpark's pinned-thread mode is off, where
    # ``inheritable_thread_target(spark)`` would return the session itself
    # instead of a wrapper)
    threads = [
        InheritableThread(functools.partial(run, i), session=spark)
        for i in range(len(items))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig
) -> dict[str, object]:
    """Run the full lifecycle; returns {reports, table_rows, elapsed_s}."""
    if cfg.sink not in SINKS:
        raise ValueError(f"unknown sink {cfg.sink!r}; expected one of {SINKS}")
    missing = sorted(set(_SCHEMAS) - set(cfg.datasets))
    unknown = sorted(set(cfg.datasets) - set(_SCHEMAS))
    if missing or unknown:
        raise ValueError(
            f"datasets must name exactly {sorted(_SCHEMAS)}: "
            f"missing {missing}, unknown {unknown}"
        )
    t0 = time.perf_counter()
    if cfg.acquire is not None:
        cfg.acquire(cfg.raw_dir)

    raw_dir = Path(cfg.raw_dir)
    datasets = list(cfg.datasets.items())
    for key, fname in datasets:
        if not (raw_dir / fname).exists():
            raise FileNotFoundError(f"input {raw_dir / fname} for dataset {key!r}")

    def check(item: tuple[str, str]) -> tuple[DataFrame, QualityReport]:
        key, fname = item
        return run_quality_checks(
            read_csv_raw(spark, str(raw_dir / fname)),
            _SCHEMAS[key],
            key,
            max_null_fraction=cfg.max_null_fraction,
            drop_duplicates=cfg.drop_duplicates,
            fail_on_schema_mismatch=cfg.fail_on_schema_mismatch,
        )

    typed: dict[str, DataFrame] = {}
    reports: dict[str, QualityReport] = {}
    for (key, _), (df, report) in zip(datasets, _in_threads(spark, check, datasets)):
        typed[key], reports[key] = df, report
        log.info(
            "QC %s: rows=%d dup=%d issues=%s",
            key, report.row_count, report.duplicate_count, report.issues,
        )
    mismatched = [f"{k}: {r.issues}" for k, r in reports.items() if not r.schema_ok]
    if mismatched:
        raise ValueError(f"schema mismatch in {'; '.join(mismatched)}")

    tables = cur.build_curated_tables(
        spark, typed["train"], typed["features"], typed["stores"]
    )
    fact = "sales_curated"
    suite = _fact_constraints(typed["stores"])
    # the gate's anti-join is the curated join's one execution: it fills
    # the fact's cache, which every sink write below reads
    gate = validate(tables[fact], [c for c in suite if c.kind == "foreign_key"])
    constraint_violations: dict[str, dict[str, int]] = {fact: gate.violations}
    for cname, cnt in gate.violations.items():
        if cnt:
            msg = f"constraint {cname} on {fact}: {cnt} violating rows"
            log.warning(msg)
            if cfg.fail_on_constraint_violation:
                raise ValueError(msg)

    db_path = Path(cfg.output_db)
    db_path.parent.mkdir(parents=True, exist_ok=True)
    out_dir = cfg.output_parquet_dir or "curated"

    def sink(name: str) -> tuple[int | None, int, dict[str, int]]:
        # observe(): write-time metrics from the SAME job that materializes
        # the table — zero extra passes (the reference re-executes every
        # plan with a pre-write count(), SURVEY §4.3)
        checks = suite if name == fact else []
        obs = Observation(f"obs_{name}")
        df = tables[name].observe(
            obs, F.count(F.lit(1)).alias("rows"), *row_counters(checks)
        )
        written = None
        if cfg.sink == "sqlite":
            written = write_sqlite(df, db_path, name)
        else:
            write_parquet(
                df, f"{out_dir}/{name}", partition_by=PARQUET_PARTITION_BY.get(name)
            )
        got = obs.get
        return written, got["rows"], row_violations(got, checks)

    table_rows: dict[str, int] = {}
    observed: dict[str, dict] = {}
    names = list(tables)
    for name, (written, rows, violations) in zip(names, _in_threads(spark, sink, names)):
        if written is None:
            log.info("wrote %s -> %s/%s", name, out_dir, name)
        else:
            log.info("wrote %s: %d rows -> %s", name, written, db_path)
        for cname, cnt in violations.items():
            constraint_violations[fact][cname] = cnt
            if cnt:
                log.warning(
                    "constraint %s on %s: %d violating rows (write-time)",
                    cname, name, cnt,
                )
        observed[name] = {"rows": rows}
        # parquet runs still report row counts — from the write-time
        # observation, not an extra count() job
        table_rows[name] = rows if written is None else written

    return {
        "reports": reports,
        "table_rows": table_rows,
        "observed": observed,
        "constraint_violations": constraint_violations,
        "elapsed_s": round(time.perf_counter() - t0, 3),
    }
