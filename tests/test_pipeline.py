"""End-to-end pipeline test on walmart-shaped fixtures (FIXTURES.md):
CSV → quality checks → curated star → SQLite, asserting the reference's
structural invariants."""

import datetime
import functools
import logging
import shutil
import sqlite3
import sys
import threading
from collections import Counter

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.pipeline import (
    PipelineConfig,
    orchestrator,
    run_pipeline,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.curated import (
    CURATED_COLUMNS,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.sinks import write_sqlite
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table
from walmart_retail_pyspark_sqlite_pipeline_spark.sources.csv import read_csv_raw


def test_pipeline_end_to_end(spark, walmart_fixtures, tmp_path):
    db = tmp_path / "retail.db"
    cfg = PipelineConfig(
        raw_dir=str(walmart_fixtures["root"]), output_db=str(db)
    )
    result = run_pipeline(spark, cfg)
    reports, table_rows = result["reports"], result["table_rows"]

    n_train = reports["train"].row_count
    assert n_train > 0
    # left joins on unique right keys preserve the fact row count
    assert table_rows["sales_curated"] == n_train
    # MarkDown2 was generated ~70% NA -> null-fraction threshold trips
    assert any("MarkDown2" in i for i in reports["features"].issues)

    con = sqlite3.connect(db)
    cols = [r[1] for r in con.execute("PRAGMA table_info(sales_curated)")]
    assert cols == CURATED_COLUMNS

    # num_weeks over agg_store_dept partitions the fact table exactly
    (s,) = con.execute("SELECT SUM(num_weeks) FROM agg_store_dept").fetchone()
    assert s == n_train

    # deterministic sink types: ISO date TEXT + 0/1 holidays
    d, hol = con.execute(
        "SELECT date, is_holiday FROM sales_curated LIMIT 1"
    ).fetchone()
    assert len(d) == 10 and d[4] == "-" and hol in (0, 1)

    # holidays_vs_normal covers both flags
    flags = {r[0] for r in con.execute(
        "SELECT DISTINCT is_holiday FROM holidays_vs_normal"
    )}
    assert flags == {0, 1}

    # ad-hoc SQL surface over the same session (notebook parity):
    top = spark.sql(
        "SELECT store_id, SUM(weekly_sales) AS total "
        "FROM curated_sales GROUP BY store_id ORDER BY total DESC LIMIT 10"
    ).collect()
    assert len(top) == 10

    sq = con.execute(
        "SELECT store_id, SUM(weekly_sales) AS total FROM sales_curated "
        "GROUP BY store_id ORDER BY total DESC LIMIT 10"
    ).fetchall()
    assert [r.store_id for r in top] == [r[0] for r in sq]
    con.close()


def test_cr_only_line_endings(spark, walmart_fixtures):
    # the checked-in reference stores.csv has \r-only line endings
    df = read_csv_raw(spark, str(walmart_fixtures["stores_cr"]))
    assert df.count() == 45
    assert df.columns == ["Store", "Type", "Size"]


def test_duplicate_variant_dedups(spark, walmart_fixtures, tmp_path):
    from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
        run_quality_checks,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.curated import (
        TRAIN_SCHEMA,
    )

    df = read_csv_raw(spark, str(walmart_fixtures["train_dup"]))
    typed, report = run_quality_checks(
        df, TRAIN_SCHEMA, "train_dup", register_view=False
    )
    assert report.duplicate_count == 5
    assert typed.count() == report.row_count


def test_pipeline_sqlite_roundtrip_via_datasource(
    spark, walmart_fixtures, tmp_path
):
    """The curated SQLite output reads back through ``sqlite3`` with the
    rows Spark wrote — full write→read loop."""
    db = tmp_path / "retail_rt.db"
    cfg = PipelineConfig(
        raw_dir=str(walmart_fixtures["root"]), output_db=str(db)
    )
    result = run_pipeline(spark, cfg)

    con = sqlite3.connect(db)
    try:
        (n,) = con.execute("SELECT COUNT(*) FROM sales_curated").fetchone()
        cols = [r[1] for r in con.execute("PRAGMA table_info(sales_curated)")]
        # spot-check an aggregate against the in-session curated view; the
        # fixture's sales have 2 decimals, so whole cents sum exactly
        got = con.execute(
            "SELECT store_id, SUM(CAST(ROUND(weekly_sales * 100) AS INTEGER)) "
            "FROM sales_curated GROUP BY store_id ORDER BY store_id"
        ).fetchall()
    finally:
        con.close()
    assert n == result["table_rows"]["sales_curated"]
    assert cols == CURATED_COLUMNS
    want = (
        spark.table("curated_sales")
        .groupBy("store_id")
        .agg(F.sum(F.round(F.col("weekly_sales") * 100).cast("long")).alias("c"))
        .orderBy("store_id")
        .collect()
    )
    assert got == [(r.store_id, r.c) for r in want]


def test_sqlite_roundtrip_through_spark(spark, tmp_path):
    """write_sqlite stores exactly the frame's rows, under SQLite column
    types that follow the Spark types."""
    db = tmp_path / "roundtrip.db"
    orders = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    n = write_sqlite(orders, db, "orders_curated")
    con = sqlite3.connect(db)
    try:
        types = {r[1]: r[2] for r in con.execute("PRAGMA table_info(orders_curated)")}
        back = con.execute("SELECT * FROM orders_curated").fetchall()
    finally:
        con.close()
    assert len(back) == n == orders.count()
    assert types == {
        "o_orderkey": "INTEGER",
        "o_orderstatus": "TEXT",
        "o_totalprice": "REAL",
    }
    assert Counter(back) == Counter(tuple(r) for r in orders.collect())


def test_sqlite_sink_row_ceiling_guard(spark, tmp_path):
    """Oversized input must fail fast with the parquet-sink pointer and
    leave the file as it was — SQLite is the local BI hand-off, not the
    scale sink: an overwritten table keeps its old rows and a new table is
    never created. The under-limit path through the same ceiling still
    writes and returns the exact count."""
    db = tmp_path / "guard.db"
    assert write_sqlite(spark.range(5), db, "t") == 5
    with pytest.raises(ValueError, match="parquet"):
        write_sqlite(spark.range(100), db, "t", max_rows=10)
    orders = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with pytest.raises(ValueError, match="parquet"):
        write_sqlite(orders, db, "too_big", max_rows=10)
    con = sqlite3.connect(db)
    try:
        kept = con.execute("SELECT id FROM t").fetchall()
        tables = [r[0] for r in con.execute("SELECT name FROM sqlite_master")]
    finally:
        con.close()
    assert kept == [(i,) for i in range(5)]
    assert tables == ["t"]
    total = orders.count()
    assert write_sqlite(orders, db, "fits", max_rows=total) == total


def test_sqlite_sink_concurrent_writers_share_one_file(spark, tmp_path, monkeypatch):
    """Four threads writing four tables into one file all land whole, with
    exact rows and SQLite types: one writer at a time holds the file, and
    no call depends on SQLite's busy timeout (set to zero here, so two
    writers meeting on the file would fail with 'database is locked')."""
    monkeypatch.setattr(sqlite3, "connect", functools.partial(sqlite3.connect, timeout=0))
    db = tmp_path / "shared.db"
    frames = {
        f"t{k}": spark.range(2_000 * (k + 1)).select(
            (F.col("id") + k).alias("n"),
            F.concat(F.lit(f"s{k}-"), F.col("id").cast("string")).alias("s"),
            (F.col("id") / 4).alias("x"),
            F.date_add(F.lit(datetime.date(2010, 1, 1)), F.col("id").cast("int") % 365).alias("d"),
            (F.col("id") % 2 == 0).alias("b"),
        )
        for k in range(4)
    }
    written, errors = {}, []

    def write(name):
        try:
            written[name] = write_sqlite(frames[name], db, name)
        except Exception as e:  # noqa: BLE001 - asserted empty below
            errors.append(e)

    threads = [threading.Thread(target=write, args=(n,)) for n in frames]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the writers' Python finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []

    con = sqlite3.connect(db)
    try:
        for k, (name, df) in enumerate(frames.items()):
            types = [r[2] for r in con.execute(f"PRAGMA table_info({name})")]
            back = con.execute(f"SELECT * FROM {name}").fetchall()
            assert types == ["INTEGER", "TEXT", "REAL", "TEXT", "INTEGER"]
            assert written[name] == len(back) == 2_000 * (k + 1)
            assert back == [
                (r.n, r.s, r.x, r.d.isoformat(), int(r.b)) for r in df.collect()
            ]
    finally:
        con.close()


def test_pipeline_parquet_sink_partitioned_by_year(
    spark, walmart_fixtures, tmp_path
):
    """The parquet sink lays out the fact table hive-partitioned by year so a
    year-filtered downstream read prunes whole directories (the lakehouse
    layout for a time-organized fact at scale)."""
    out = tmp_path / "curated"
    cfg = PipelineConfig(
        raw_dir=str(walmart_fixtures["root"]),
        output_parquet_dir=str(out),
        sink="parquet",
    )
    result = run_pipeline(spark, cfg)

    fact_dir = out / "sales_curated"
    year_dirs = sorted(p.name for p in fact_dir.iterdir() if p.is_dir())
    assert year_dirs and all(p.startswith("year=") for p in year_dirs)

    back = spark.read.parquet(str(fact_dir))
    assert back.count() == result["table_rows"]["sales_curated"]
    assert set(back.columns) == set(CURATED_COLUMNS)

    one_year = int(year_dirs[0].split("=")[1])
    filtered = back.filter(back.year == one_year)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the year predicate lands in PartitionFilters,
    # not in the post-scan Filter
    assert "PartitionFilters: [" in plan and "year" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]


def test_pipeline_constraint_gate(spark, walmart_fixtures, tmp_path):
    """The default FK gate + write-time row constraints report zero
    violations on clean fixtures; a store missing from stores.csv trips
    the pre-sink FK gate BEFORE any write when configured to fail."""
    import shutil

    import pytest

    db = tmp_path / "retail.db"
    cfg = PipelineConfig(raw_dir=str(walmart_fixtures["root"]), output_db=str(db))
    result = run_pipeline(spark, cfg)
    cv = result["constraint_violations"]
    assert cv["sales_curated"]["foreign_key(store_id)"] == 0
    assert cv["sales_curated"]["not_null(store_id)"] == 0
    assert cv["sales_curated"]["in_range(week,1,53)"] == 0

    # corrupt: drop store 1 from the dimension -> orphaned fact rows
    broken = tmp_path / "raw_broken"
    shutil.copytree(walmart_fixtures["root"], broken)
    stores = (broken / "stores.csv").read_text().splitlines()
    kept = [stores[0]] + [l for l in stores[1:] if not l.startswith("1,")]
    (broken / "stores.csv").write_text("\n".join(kept) + "\n")

    db2 = tmp_path / "retail2.db"
    cfg2 = PipelineConfig(
        raw_dir=str(broken),
        output_db=str(db2),
        fail_on_constraint_violation=True,
    )
    with pytest.raises(ValueError, match="foreign_key"):
        run_pipeline(spark, cfg2)
    assert not db2.exists()  # the gate fired before any write


def test_pipeline_sink_writes_read_the_cached_fact(
    spark, walmart_fixtures, tmp_path, monkeypatch
):
    """The curated join runs once per run: every frame handed to the
    SQLite sink (the fact and its three rollups) plans a scan of the
    cached fact, with no join node left to re-execute."""
    handed = {}

    def capture(df, db_path, table):
        handed[table] = df
        return write_sqlite(df, db_path, table)

    monkeypatch.setattr(orchestrator, "write_sqlite", capture)
    cfg = PipelineConfig(
        raw_dir=str(walmart_fixtures["root"]), output_db=str(tmp_path / "r.db")
    )
    run_pipeline(spark, cfg)

    def node_names(plan):
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        kids = plan.children()
        return [plan.nodeName()] + [
            n for i in range(kids.size()) for n in node_names(kids.apply(i))
        ]

    assert sorted(handed) == sorted(
        ["sales_curated", "agg_store_dept", "agg_store_type_year", "holidays_vs_normal"]
    )
    for table, df in handed.items():
        nodes = node_names(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in nodes, (table, nodes)
        assert not [n for n in nodes if "Join" in n], (table, nodes)


PIPELINE_TABLES = [
    "sales_curated", "agg_store_dept", "agg_store_type_year", "holidays_vs_normal"
]


def test_pipeline_concurrent_stages_keep_the_sequential_order(
    spark, walmart_fixtures, tmp_path, monkeypatch, caplog
):
    """The QC passes and the sink writes run one thread per item, yet the
    reports, row counts, constraint violations and log lines come back in
    config/table order, and every table holds the rows a one-at-a-time
    write of the same frame stores, in the same order."""
    handed = {}

    def capture(df, db_path, table):
        handed[table] = df
        return write_sqlite(df, db_path, table)

    monkeypatch.setattr(orchestrator, "write_sqlite", capture)
    db = tmp_path / "r.db"
    cfg = PipelineConfig(raw_dir=str(walmart_fixtures["root"]), output_db=str(db))
    with caplog.at_level(logging.INFO, logger=orchestrator.log.name):
        result = run_pipeline(spark, cfg)

    reports = result["reports"]
    assert list(reports) == ["train", "features", "stores"]
    assert [r.row_count for r in reports.values()] == [36_320, 1_800, 45]
    assert list(result["table_rows"].items()) == list(
        zip(PIPELINE_TABLES, [36_320, 9_080, 3, 2])
    )
    assert list(result["constraint_violations"]["sales_curated"].items()) == [
        ("foreign_key(store_id)", 0),
        ("not_null(store_id)", 0),
        ("not_null(date)", 0),
        ("in_range(week,1,53)", 0),
    ]
    logged = [
        r.getMessage().split(":")[0]
        for r in caplog.records
        if r.name == orchestrator.log.name
    ]
    assert logged == ["QC train", "QC features", "QC stores"] + [
        f"wrote {t}" for t in PIPELINE_TABLES
    ]

    sequential = tmp_path / "sequential.db"
    for table in PIPELINE_TABLES:
        write_sqlite(handed[table], sequential, table)
    con = sqlite3.connect(db)
    con.execute(f"ATTACH DATABASE '{sequential}' AS seq")
    try:
        for table in PIPELINE_TABLES:
            got = con.execute(f"SELECT * FROM main.{table}").fetchall()
            want = con.execute(f"SELECT * FROM seq.{table}").fetchall()
            assert len(got) == len(want) == result["table_rows"][table]
            for g, w in zip(got, want):
                assert g == pytest.approx(w, rel=1e-12), table
    finally:
        con.close()


def _marker_job(sc, group: str) -> int:
    """Run one job under ``group`` and return its id (job ids are global
    and increase by one per submitted job)."""
    sc.setJobGroup(group, group)
    sc.parallelize([1], 1).count()
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def _clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_pipeline_jobs_carry_the_callers_job_group(spark, walmart_fixtures, tmp_path):
    """Every job run_pipeline submits — from its QC and sink threads too —
    belongs to the job group its caller set."""
    sc = spark.sparkContext
    try:
        before = _marker_job(sc, "pipeline-group-before")
        sc.setJobGroup("g", "run_pipeline under a caller's job group")
        run_pipeline(
            spark,
            PipelineConfig(
                raw_dir=str(walmart_fixtures["root"]), output_db=str(tmp_path / "r.db")
            ),
        )
        after = _marker_job(sc, "pipeline-group-after")
    finally:
        _clear_job_group(sc)
    ours = sorted(sc.statusTracker().getJobIdsForGroup("g"))
    assert len(ours) > 10
    assert ours == list(range(before + 1, after))


def test_pipeline_missing_input_fails_before_any_job(spark, walmart_fixtures, tmp_path):
    """A missing input is reported before any Spark job runs, so the error
    does not depend on how far the other datasets' QC threads got."""
    raw = tmp_path / "raw"
    raw.mkdir()
    for name in ("train.csv", "features.csv"):
        shutil.copy(walmart_fixtures["root"] / name, raw / name)
    sc = spark.sparkContext
    try:
        before = _marker_job(sc, "missing-input-before")
        _clear_job_group(sc)
        with pytest.raises(FileNotFoundError, match="dataset 'stores'"):
            run_pipeline(
                spark, PipelineConfig(raw_dir=str(raw), output_db=str(tmp_path / "r.db"))
            )
        after = _marker_job(sc, "missing-input-after")
    finally:
        _clear_job_group(sc)
    assert after == before + 1


def test_pipeline_dataset_keys_fail_before_any_job(spark, walmart_fixtures, tmp_path):
    """``datasets`` must name exactly train, features and stores: an
    omitted or unknown key is named in a ValueError before the acquisition
    hook or any Spark job runs, not a KeyError after other QC jobs."""
    root = walmart_fixtures["root"]
    full = {"train": "train.csv", "features": "features.csv", "stores": "stores.csv"}
    omitted = {k: v for k, v in full.items() if k != "features"}
    extra = {**full, "holidays": "stores.csv"}
    sc = spark.sparkContext
    cases = [
        ("omitted", omitted, r"missing \['features'\], unknown \[\]"),
        ("unknown", extra, r"missing \[\], unknown \['holidays'\]"),
    ]
    for case, datasets, match in cases:
        touched = []
        cfg = PipelineConfig(
            raw_dir=str(root), output_db=str(tmp_path / "r.db"),
            datasets=datasets, acquire=touched.append,
        )
        try:
            before = _marker_job(sc, f"dataset-keys-{case}-before")
            _clear_job_group(sc)
            with pytest.raises(ValueError, match=match):
                run_pipeline(spark, cfg)
            after = _marker_job(sc, f"dataset-keys-{case}-after")
        finally:
            _clear_job_group(sc)
        assert after == before + 1
        assert touched == []
    assert not (tmp_path / "r.db").exists()


def test_pipeline_rerun_reads_changed_inputs(spark, tmp_path):
    """A second run over the same raw dir after train.csv changed reports
    and writes the new file's rows, not frames cached by the first run."""
    from tests.fixtures import generate

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    raw = generate(raw_dir)
    run_pipeline(
        spark, PipelineConfig(raw_dir=str(raw["root"]), output_db=str(tmp_path / "1.db"))
    )
    lines = raw["train"].read_text().splitlines()
    kept = lines[: 1 + (len(lines) - 1) // 2]
    raw["train"].write_text("\n".join(kept) + "\n")
    want = len(set(kept[1:]))

    db = tmp_path / "2.db"
    result = run_pipeline(spark, PipelineConfig(raw_dir=str(raw["root"]), output_db=str(db)))
    assert result["reports"]["train"].row_count == want
    assert result["table_rows"]["sales_curated"] == want
    con = sqlite3.connect(db)
    try:
        (n,) = con.execute("SELECT COUNT(*) FROM sales_curated").fetchone()
        (weeks,) = con.execute("SELECT SUM(num_weeks) FROM agg_store_dept").fetchone()
    finally:
        con.close()
    assert n == weeks == want


def test_pipeline_schema_mismatch_blocks_the_sink(spark, walmart_fixtures, tmp_path):
    """``fail_on_schema_mismatch`` stops the run after QC, naming each
    mismatched dataset and its issues, before the gate or any write."""
    raw = tmp_path / "raw"
    shutil.copytree(walmart_fixtures["root"], raw)
    lines = (raw / "stores.csv").read_text().splitlines()
    (raw / "stores.csv").write_text(
        "\n".join(",".join(line.split(",")[:2]) for line in lines) + "\n"
    )
    db = tmp_path / "out" / "retail.db"
    cfg = PipelineConfig(raw_dir=str(raw), output_db=str(db), fail_on_schema_mismatch=True)
    with pytest.raises(
        ValueError, match=r"schema mismatch in stores: .*missing columns filled with NULL: \['Size'\]"
    ) as err:
        run_pipeline(spark, cfg)
    assert "train" not in str(err.value) and "features" not in str(err.value)
    assert not db.exists()


def test_pipeline_rejects_unknown_sink_before_reading_input(spark, tmp_path):
    """A misspelled sink from the YAML config fails loudly before the
    acquisition hook or any CSV read, instead of running QC and the join
    and returning no tables."""
    cfg_path = tmp_path / "pipeline.yaml"
    cfg_path.write_text(
        f"raw_dir: {tmp_path / 'raw'}\n"
        f"output_db: {tmp_path / 'retail.db'}\n"
        "sink: sqllite\n"
    )
    cfg = PipelineConfig.from_yaml(cfg_path)
    touched = []
    cfg.acquire = touched.append
    with pytest.raises(ValueError, match="'sqlite', 'parquet'"):
        run_pipeline(spark, cfg)
    assert touched == []
    assert not (tmp_path / "retail.db").exists()


def test_pipeline_config_from_yaml_rejects_unknown_keys(tmp_path):
    """A misspelled key (``sinks`` for ``sink``) is named in the error
    instead of being dropped, which would run the default SQLite sink."""
    cfg_path = tmp_path / "pipeline.yaml"
    cfg_path.write_text(
        f"raw_dir: {tmp_path / 'raw'}\n"
        "sinks: parquet\n"
        "max_null_fractoin: 0.1\n"
    )
    with pytest.raises(ValueError, match=r"\['max_null_fractoin', 'sinks'\]"):
        PipelineConfig.from_yaml(cfg_path)
    cfg_path.write_text(f"raw_dir: {tmp_path / 'raw'}\nsink: parquet\n")
    assert PipelineConfig.from_yaml(cfg_path).sink == "parquet"
