"""Source/sink format breadth: JSON-lines, ORC, and CSV roundtrips preserve
schema and values (SURVEY §2.1 S-row extensions)."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table


def _orders(spark):
    return read_table(spark, SF_SMALL, "orders").orderBy("o_orderkey").limit(200)


def test_json_lines_roundtrip(spark, tmp_path):
    src = _orders(spark)
    path = str(tmp_path / "orders_json")
    src.write.mode("overwrite").json(path)
    back = spark.read.schema(src.schema).json(path)
    assert back.count() == 200
    a = {r.o_orderkey: r.o_totalprice for r in src.collect()}
    b = {r.o_orderkey: r.o_totalprice for r in back.collect()}
    assert a == b


def test_orc_roundtrip(spark, tmp_path):
    src = _orders(spark)
    path = str(tmp_path / "orders_orc")
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert back.count() == 200
    # pushdown works on ORC scans too
    plan = (
        back.filter(F.col("o_orderkey") == 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan


def test_normalize_event_ts_all_encodings(spark):
    """normalize_event_ts must map every parquet event-time encoding the
    driver has shipped (nanos-as-long, timestamp[us]→TIMESTAMP_NTZ, plain
    TIMESTAMP) to the SAME TimestampType instants, so the epoch-seconds
    idiom cast(ts AS long) is legal and timezone-independent downstream."""
    from pyspark.sql import functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.sources.tables import (
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    epochs = [1_700_000_000, 1_700_003_600, 1_700_086_400]

    as_nanos = spark.createDataFrame(
        [(e * 1_000_000_000,) for e in epochs], "ts bigint"
    )
    as_ntz = spark.sql(
        "SELECT CAST(timestamp_micros(CAST(v AS BIGINT)) AS TIMESTAMP_NTZ) AS ts "
        "FROM VALUES "
        + ", ".join(f"({e * 1_000_000})" for e in epochs)
        + " t(v)"
    )
    as_ltz = spark.createDataFrame(
        [(e * 1_000_000,) for e in epochs], "us bigint"
    ).select(F.timestamp_micros("us").alias("ts"))

    outs = []
    for df in (as_nanos, as_ntz, as_ltz):
        out = normalize_event_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        outs.append(
            sorted(r[0] for r in out.select(F.col("ts").cast("long")).collect())
        )
    assert outs[0] == outs[1] == outs[2] == sorted(epochs)
