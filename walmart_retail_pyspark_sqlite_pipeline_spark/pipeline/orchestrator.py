"""Config-driven pipeline lifecycle (SURVEY §3 entry point 1):
ingest → quality checks → curated transform → sink.

Differences from the reference, by design (SURVEY §4.3):
- quality profiling is one aggregate job per table, not N+3;
- each curated table's plan executes ONCE — the row count comes back from
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
from pyspark.sql import SparkSession

from ..plans import curated as cur
from ..quality import QualityReport, run_quality_checks
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
    #: lakehouse layout for the parquet sink: table -> partition columns.
    #: Partitioning the fact by year means a year-filtered downstream read
    #: prunes whole directories before any IO — the default layout choice
    #: for a time-organized 100 TB fact table.
    parquet_partition_by: dict[str, list[str]] = field(
        default_factory=lambda: {"sales_curated": ["year"]}
    )
    datasets: dict[str, str] = field(
        default_factory=lambda: {
            "train": "train.csv",
            "features": "features.csv",
            "stores": "stores.csv",
        }
    )
    #: optional acquisition hook: called with raw_dir before reading
    acquire: Callable[[str], None] | None = None
    #: pre-sink referential-integrity gate: (table, fk_col, dataset, ref_col)
    #: anti-join checks run BEFORE any write, so a violation can actually
    #: block the sink (set fail_on_constraint_violation). The typed inputs
    #: are cached by QC, so each check costs one anti-join over cache.
    fk_checks: list[tuple[str, str, str, str]] = field(
        default_factory=lambda: [("sales_curated", "store_id", "stores", "Store")]
    )
    #: row-level constraint counters ride the sink write's observe() — the
    #: SAME job that materializes the table, zero extra passes. None ->
    #: default suite on sales_curated (see _default_observe_constraints).
    observe_constraints: Callable[[], dict[str, list]] | None = None
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


def _default_observe_constraints() -> dict[str, list]:
    """Write-time row constraints for the curated fact (built lazily — a
    Column needs the JVM, so this can't be a dataclass default)."""
    from ..quality.constraints import in_range, not_null

    return {
        "sales_curated": [
            not_null("store_id"),
            not_null("date"),
            in_range("week", 1, 53),
        ]
    }


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

    # pre-sink referential-integrity gate (anti-join over cached inputs):
    # runs BEFORE any write so fail_on_constraint_violation can block it
    from ..quality.constraints import foreign_key, validate

    constraint_violations: dict[str, dict[str, int]] = {}
    for tbl, fk_col, ds, ref_col in cfg.fk_checks:
        rep = validate(tables[tbl], [foreign_key(fk_col, typed[ds], ref_col)])
        for cname, cnt in rep.violations.items():
            constraint_violations.setdefault(tbl, {})[cname] = cnt
            if cnt:
                msg = f"constraint {cname} on {tbl}: {cnt} violating rows"
                log.warning(msg)
                if cfg.fail_on_constraint_violation:
                    raise ValueError(msg)

    obs_constraints = (cfg.observe_constraints or _default_observe_constraints)()

    table_rows: dict[str, int] = {}
    observed: dict[str, dict] = {}
    db_path = Path(cfg.output_db)
    db_path.parent.mkdir(parents=True, exist_ok=True)
    for name, df in tables.items():
        # observe(): write-time metrics from the SAME job that materializes
        # the table — zero extra passes (the reference re-executes every
        # plan with a pre-write count(), SURVEY §4.3). Row-level constraint
        # counters ride the same observation.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        row_cons = [c for c in obs_constraints.get(name, []) if c.kind == "row"]
        obs = Observation(f"obs_{name}")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *[
                F.sum(F.when(c.violated, 1).otherwise(0)).alias(f"__v{i}")
                for i, c in enumerate(row_cons)
            ],
        )
        if cfg.sink == "sqlite":
            table_rows[name] = write_sqlite(df, db_path, name)
            log.info("wrote %s: %d rows -> %s", name, table_rows[name], db_path)
        else:
            out = f"{cfg.output_parquet_dir or 'curated'}/{name}"
            write_parquet(
                df, out, partition_by=cfg.parquet_partition_by.get(name)
            )
            log.info("wrote %s -> %s", name, out)
        got = dict(obs.get)
        for i, c in enumerate(row_cons):
            cnt = int(got.pop(f"__v{i}") or 0)
            constraint_violations.setdefault(name, {})[c.name] = cnt
            if cnt:
                log.warning(
                    "constraint %s on %s: %d violating rows (write-time)",
                    c.name, name, cnt,
                )
        observed[name] = got
        # parquet runs still report row counts — from the write-time
        # observation, not an extra count() job
        table_rows.setdefault(name, observed[name]["rows"])

    return {
        "reports": reports,
        "table_rows": table_rows,
        "observed": observed,
        "constraint_violations": constraint_violations,
        "elapsed_s": round(time.perf_counter() - t0, 3),
    }
