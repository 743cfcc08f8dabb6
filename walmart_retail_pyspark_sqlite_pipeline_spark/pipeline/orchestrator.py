"""Config-driven pipeline lifecycle (SURVEY §3 entry point 1):
ingest → quality checks → curated transform → sink.

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

import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import yaml
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig
) -> dict[str, object]:
    """Run the full lifecycle; returns {reports, table_rows, elapsed_s}."""
    if cfg.sink not in SINKS:
        raise ValueError(f"unknown sink {cfg.sink!r}; expected one of {SINKS}")
    t0 = time.perf_counter()
    if cfg.acquire is not None:
        cfg.acquire(cfg.raw_dir)

    raw_dir = Path(cfg.raw_dir)
    typed = {}
    reports: dict[str, QualityReport] = {}
    for key, fname in cfg.datasets.items():
        path = raw_dir / fname
        if not path.exists():
            raise FileNotFoundError(f"input {path} for dataset {key!r}")
        df = read_csv_raw(spark, str(path))
        typed[key], reports[key] = run_quality_checks(
            df,
            _SCHEMAS[key],
            key,
            max_null_fraction=cfg.max_null_fraction,
            drop_duplicates=cfg.drop_duplicates,
            fail_on_schema_mismatch=cfg.fail_on_schema_mismatch,
        )
        log.info(
            "QC %s: rows=%d dup=%d issues=%s",
            key, reports[key].row_count, reports[key].duplicate_count,
            reports[key].issues,
        )

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

    table_rows: dict[str, int] = {}
    observed: dict[str, dict] = {}
    db_path = Path(cfg.output_db)
    db_path.parent.mkdir(parents=True, exist_ok=True)
    for name, df in tables.items():
        # observe(): write-time metrics from the SAME job that materializes
        # the table — zero extra passes (the reference re-executes every
        # plan with a pre-write count(), SURVEY §4.3)
        checks = suite if name == fact else []
        obs = Observation(f"obs_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"), *row_counters(checks))
        if cfg.sink == "sqlite":
            table_rows[name] = write_sqlite(df, db_path, name)
            log.info("wrote %s: %d rows -> %s", name, table_rows[name], db_path)
        else:
            out = f"{cfg.output_parquet_dir or 'curated'}/{name}"
            write_parquet(df, out, partition_by=PARQUET_PARTITION_BY.get(name))
            log.info("wrote %s -> %s", name, out)
        got = obs.get
        for cname, cnt in row_violations(got, checks).items():
            constraint_violations[fact][cname] = cnt
            if cnt:
                log.warning(
                    "constraint %s on %s: %d violating rows (write-time)",
                    cname, name, cnt,
                )
        observed[name] = {"rows": got["rows"]}
        # parquet runs still report row counts — from the write-time
        # observation, not an extra count() job
        table_rows.setdefault(name, got["rows"])

    return {
        "reports": reports,
        "table_rows": table_rows,
        "observed": observed,
        "constraint_violations": constraint_violations,
        "elapsed_s": round(time.perf_counter() - t0, 3),
    }
