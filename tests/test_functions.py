"""Unit tests for the engine-portable primitives (hashing, text, vectors) —
including cross-checks against straight Python reimplementations and the
DuckDB twins."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from walmart_retail_pyspark_sqlite_pipeline_spark.functions import (
    hashing,
    text,
    vectors,
)


def py_poly_hash(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % hashing.MERSENNE_P
    return acc


@pytest.mark.parametrize("s", ["hello world", "a", "", "spark 4 engine", "x" * 500])
def test_poly_hash_matches_python_and_duckdb(spark, s):
    df = spark.createDataFrame([Row(s=s)])
    got = df.select(hashing.poly_hash(F.col("s")).alias("h")).collect()[0].h
    assert got == py_poly_hash(s)
    duck = duckdb.sql(
        f"SELECT {hashing.poly_hash_sql('s')} AS h FROM (SELECT '{s}' AS s)"
    ).fetchone()[0]
    # DuckDB string_split('', '') yields [''] with ascii('')=0 — same as the
    # empty fold in Spark, both land on 0
    assert (duck or 0) == got


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([Row(t="The quick, brown fox!"), Row(t="ab")])
    out = df.select(
        text.tokens(F.col("t")).alias("tok"),
        text.word_shingles(text.tokens(F.col("t")), 3).alias("sh"),
    ).collect()
    assert out[0].tok == ["the", "quick", "brown", "fox"]
    assert out[0].sh == ["the quick brown", "quick brown fox"]
    assert out[1].tok == ["ab"]
    assert out[1].sh == []  # shorter than the shingle width


def test_stopword_hits(spark):
    df = spark.createDataFrame([Row(t="the cat and the hat")])
    got = (
        df.select(
            text.stopword_hits(
                text.tokens(F.col("t")), ("the", "and")
            ).alias("n")
        )
        .collect()[0]
        .n
    )
    assert got == 3  # 'the' twice + 'and' once, multiplicity counted


def test_cosine_bounds_and_self_similarity(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 2.0, 3.0], b=[1.0, 2.0, 3.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0])]
    )
    out = df.select(
        F.round(vectors.cosine(F.col("a"), F.col("b")), 9).alias("c")
    ).collect()
    assert out[0].c == 1.0
    assert out[1].c == 0.0


def test_approx_count_distinct_within_tolerance(spark):
    # the cheap variant of A2's countDistinct (SURVEY §2.5): HLL sketch —
    # mergeable across partitions, no expand, bounded error
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    li = read_table(spark, SF_SMALL, "lineitem")
    exact = li.select("l_partkey").distinct().count()
    approx = li.select(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")
    ).collect()[0].a
    assert abs(approx - exact) / exact < 0.05


def test_minhash_perms_stay_in_int64(spark):
    max_h = hashing.MERSENNE_P - 1
    for a, b in hashing.MINHASH_PERMS:
        assert a * max_h + b < 2**63


def test_freq_items_contains_true_heavy_hitters(spark):
    # approximate heavy-hitters sketch (single pass, mergeable): the result
    # is guaranteed to CONTAIN every item with frequency > support — the
    # 100 TB substitute for an exact value_counts when only hot keys matter
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    ev = read_table(spark, SF_SMALL, "events")
    n = ev.count()
    support = 0.15
    truly_hot = {
        r.event_type
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] / n > support
    }
    assert truly_hot  # the 5 event types sit near 20% each
    (sketch,) = ev.freqItems(["event_type"], support=support).collect()
    assert truly_hot <= set(sketch[0])


def test_hll_sketch_union_matches_global_sketch(spark):
    # hll_sketch_agg produces a MERGEABLE binary sketch: partial sketches
    # built independently (here one per event_type, i.e. per "shard") and
    # combined with hll_union_agg must give the SAME estimate as one sketch
    # over all rows — the property that lets 1000 executors sketch 100 TB
    # with no second pass — and land within HLL error of the exact count.
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    ev = read_table(spark, SF_SMALL, "events")
    merged = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0].est
    exact = ev.select("user_id").distinct().count()
    assert merged == direct  # merge-then-estimate == estimate-of-all
    assert abs(direct - exact) / exact < 0.05


def test_percentile_approx_tracks_exact_quantiles(spark):
    # percentile_approx is the single-pass mergeable quantile sketch; at
    # accuracy >= n its rank error is sub-1 so it must land on (or next to)
    # the exact order statistic.
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    o = read_table(spark, SF_SMALL, "orders")
    got = o.agg(
        F.percentile_approx("o_totalprice", [0.25, 0.5, 0.75], 10000).alias("q")
    ).collect()[0].q
    exact = o.agg(
        F.expr(
            "percentile(o_totalprice, array(0.25, 0.5, 0.75))"
        ).alias("q")
    ).collect()[0].q
    for a, e in zip(got, exact):
        assert abs(a - e) / e < 0.01


def test_ansi_overflow_try_variants(spark):
    # Spark 4 runs ANSI mode by default: long-sum overflow must RAISE, and
    # the try_* family must return NULL instead — the two behaviors an
    # engine at scale has to keep straight (a silent wraparound in a 100 TB
    # aggregate is the worst failure mode). The engine's own money sums
    # stay far inside int64 by design (cents of 2-decimal values).
    import pytest

    big = spark.createDataFrame(
        [(2**63 - 1,), (2**63 - 1,)], "x long"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="(?i)overflow"):
            big.agg(F.sum("x")).collect()
        assert big.agg(F.try_sum("x")).collect()[0][0] is None
        assert (
            big.select(F.try_add("x", F.lit(1)).alias("y")).collect()[0].y
            is None
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_grouped_agg_pandas_udaf_matches_builtin(spark):
    """GROUPED_AGG pandas UDF (the Python UDAF surface): an Arrow-batched
    custom aggregate — exact interquartile mean per group — with the same
    statistic recomputed via built-in JVM expressions as the oracle. This is the
    escape hatch for aggregates Catalyst lacks; like every UDAF it must be
    algebraic per group, and at 100 TB it costs one Arrow transfer of each
    group — acceptable for bounded groups, never for the global axis."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.pandas.functions import pandas_udf

    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    @pandas_udf("double")
    def iqm(v: pd.Series) -> float:
        q1, q3 = np.percentile(v, [25, 75])
        mid = v[(v >= q1) & (v <= q3)]
        return float(mid.mean())

    orders = read_table(spark, SF_SMALL, "orders").select(
        "o_orderstatus", "o_totalprice"
    )
    got = {
        r.o_orderstatus: r.m
        for r in orders.groupBy("o_orderstatus")
        .agg(iqm("o_totalprice").alias("m"))
        .collect()
    }

    # oracle: same trimmed mean via built-in percentile + filtered avg
    bounds = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    want = {
        r.o_orderstatus: r.m
        for r in orders.join(bounds, "o_orderstatus")
        .filter(
            (F.col("o_totalprice") >= F.col("q1"))
            & (F.col("o_totalprice") <= F.col("q3"))
        )
        .groupBy("o_orderstatus")
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6 * max(1.0, abs(want[k]))


def test_edge_helpers_are_total_on_null_and_empty(spark):
    """Round-8 edge-hardening invariants, pinned cross-engine:
    poly_hash(NULL) == poly_hash('') == 0 (a NULL bucket used to fall to
    'test' on Spark but 'train' on DuckDB), stopword_hits is 0 for both
    the empty token list (DuckDB list_sum([]) is NULL) and the NULL one,
    and quality_score is 0.0 for empty and NULL text (bare division was
    ANSI DIVIDE_BY_ZERO on Spark, NULL on DuckDB)."""
    import duckdb

    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import text

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the fox")], "id long, s string"
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            hashing.poly_hash(F.col("s")).alias("h"),
            text.stopword_hits(
                text.tokens(F.col("s")), ("the", "a")
            ).alias("stops"),
            text.quality_score(F.col("s")).alias("q"),
        ).collect()
    }
    assert rows[1].h == 0 and rows[2].h == 0
    assert rows[1].stops == 0 and rows[2].stops == 0 and rows[3].stops == 1
    assert rows[1].q == 0.0 and rows[2].q == 0.0 and rows[3].q > 0.0

    con = duckdb.connect()
    for sval, want_h in [("NULL", 0), ("''", 0)]:
        got = con.execute(
            f"SELECT {hashing.poly_hash_sql('s')} AS h, "
            f"{text.stopword_hits_sql(text.tokens_sql('s'), ('the', 'a'))} "
            "AS stops, "
            f"{text.quality_score_sql('s', text.tokens_sql('s'))} AS q "
            f"FROM (SELECT CAST({sval} AS VARCHAR) AS s)"
        ).fetchone()
        assert got == (want_h, 0, 0.0), (sval, got)


def test_read_embeddings_source_contract(spark, tmp_path):
    """The embeddings source quarantines invalid vectors at ingestion:
    NULL rows, vectors containing a NULL element, and all-zero vectors
    never reach a consumer — the one shared gate that keeps ~20 ANN/
    dedup/clustering queries and their DuckDB twins on one semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import (
        read_embeddings,
    )

    tbl = pa.table(
        {
            "vec_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "embedding": pa.array(
                [[1.0, 0.0], None, [0.0, 0.0], [0.5, None], [0.0, -2.0]],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 0, 0, 0, 0], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    kept = sorted(
        r.vec_id for r in read_embeddings(spark, str(tmp_path)).collect()
    )
    assert kept == [1, 5], "NULL (2), all-zero (3), NULL-element (4) drop"
