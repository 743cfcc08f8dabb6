"""CLI surface (python -m walmart_retail_pyspark_sqlite_pipeline_spark)."""

import os

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.__main__ import main


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "[exported]" in out
    assert "ann_knn_join" in out and "[local]" in out


def test_cli_query_runs_and_reuses_session(spark, capsys):
    assert main(
        ["query", "q01_pricing_summary", "--sf-dir", "/root/testdata/sf0.001",
         "--limit", "2"]
    ) == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out
    # the shared test session survives (main must not stop a session it
    # did not create)
    assert spark.range(1).count() == 1


def test_cli_unknown_query(spark, capsys):
    assert main(["query", "nope", "--sf-dir", "/root/testdata/sf0.001"]) == 2


def test_cli_pipeline(spark, walmart_fixtures, tmp_path, capsys):
    db = tmp_path / "cli.db"
    assert main(
        ["pipeline", "--raw-dir", str(walmart_fixtures["root"]),
         "--output-db", str(db)]
    ) == 0
    assert db.exists()
    assert "sales_curated" in capsys.readouterr().out


def test_cli_corpus(spark, tmp_path, capsys):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        corpus_prep_pipeline,
    )

    out = str(tmp_path / "corpus")
    assert main(["corpus", "--input-dir", SF_SMALL, "--output-dir", out]) == 0
    top = [d for d in os.listdir(out) if not d.startswith(("_", "."))]
    assert top and all(d.startswith("split=") for d in top)
    assert (
        spark.read.parquet(out).count()
        == corpus_prep_pipeline(spark, SF_SMALL).count()
    )


def test_cli_pipeline_rejects_unknown_sink(capsys):
    import pytest

    with pytest.raises(SystemExit) as exc:
        main(["pipeline", "--raw-dir", "data/raw", "--sink", "both"])
    assert exc.value.code == 2
    assert "invalid choice: 'both'" in capsys.readouterr().err
