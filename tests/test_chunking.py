"""The built-in chunker (operators/chunking.py) against the DuckDB oracle
(TEXT_CHUNKS_SQL), on edge texts and on bad arguments."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tools.oracle_check import duck_con
from walmart_retail_pyspark_sqlite_pipeline_spark.operators import (
    chunk_text_batched,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
    CHUNK_WIDTH,
    TEXT_CHUNKS_SQL,
    text_chunks,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_builtin_chunker_matches_oracle(spark):
    chunks = text_chunks(spark, SF_SMALL)
    assert [(f.name, f.dataType.simpleString()) for f in chunks.schema.fields] == [
        ("doc_id", "bigint"),
        ("chunk_idx", "int"),
        ("chunk", "string"),
        ("chunk_len", "int"),
    ]
    plan = chunks._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan

    oracle = duck_con(SF_SMALL).execute(TEXT_CHUNKS_SQL).fetchall()
    got = _rows(chunks)
    assert got and got == sorted(tuple(r) for r in oracle)


def test_batched_chunker_edge_cases(spark):
    emoji = "\U0001f600é" * (CHUNK_WIDTH // 2 + 1)  # multi-byte chars
    df = spark.createDataFrame(
        [
            (1, "a" * (2 * CHUNK_WIDTH + 5)),
            (2, ""),
            (3, None),
            (4, "short"),
            (5, "b" * CHUNK_WIDTH),
            (6, emoji),
        ],
        "doc_id long, text string",
    )
    out = chunk_text_batched(df, CHUNK_WIDTH)
    got = _rows(out)
    # doc 1 -> 3 chunks (last is 5 chars); docs 2 and 3 -> no chunks; an
    # exact multiple of the width has no empty trailing chunk; chunks of
    # multi-byte text are cut by character, not by byte
    assert [t[:2] for t in got] == [
        (1, 0), (1, 1), (1, 2), (4, 0), (5, 0), (6, 0), (6, 1),
    ]
    assert got[2][3] == 5 and got[3][2] == "short"
    assert got[0][3] == CHUNK_WIDTH and got[4][3] == CHUNK_WIDTH
    assert got[5][2] + got[6][2] == emoji and got[6][3] == 2

    # oracle semantics for long docs: no fixed expansion bound to outgrow —
    # a doc needing >64 chunks still chunks fully
    long_df = spark.createDataFrame(
        [(9, "x" * (70 * CHUNK_WIDTH))], "doc_id long, text string"
    )
    assert chunk_text_batched(long_df, CHUNK_WIDTH).count() == 70


def test_batched_chunker_rejects_bad_width(spark):
    docs = read_table(spark, SF_SMALL, "documents")
    with pytest.raises(ValueError):
        chunk_text_batched(docs, 0)
    with pytest.raises(ValueError):
        chunk_text_batched(docs.select(F.col("text")), CHUNK_WIDTH)
