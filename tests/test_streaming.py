from datetime import datetime

from pyspark.sql import Row

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table
from walmart_retail_pyspark_sqlite_pipeline_spark.sources.tables import normalize_event_ts
from walmart_retail_pyspark_sqlite_pipeline_spark.streaming import (
    hourly_counts_stream,
    sessionize,
)


def _ev(uid, ts, eid):
    return Row(user_id=uid, event_id=eid, ts=datetime.fromtimestamp(ts))


def test_sessionize_gap_semantics(spark):
    base = 1_700_000_000
    rows = [
        _ev(1, base, 1),
        _ev(1, base + 100, 2),           # same session
        _ev(1, base + 100 + 1801, 3),    # gap > 30min -> new session
        _ev(2, base, 4),                 # other user independent
    ]
    out = sessionize(spark.createDataFrame(rows)).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 2
    first, second = sorted(by_user[1], key=lambda r: r.session_idx)
    assert first.n_events == 2 and first.duration_s == 100
    assert second.n_events == 1 and second.duration_s == 0
    assert len(by_user[2]) == 1


def test_native_session_window_matches_sessionize(spark):
    """Spark's built-in ``session_window`` (the streaming-capable native
    sessionization operator) must agree with the window-function form on
    session membership: same per-user session count, same per-session event
    counts and start times. (Native session end = last_ts + gap by
    definition, so only membership-derived fields are compared.)"""
    from pyspark.sql import functions as F

    ev = read_table(spark, SF_SMALL, "events")
    native = (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
        )
    )
    wf = sessionize(ev).select("user_id", "session_start", "n_events")
    n_rows = wf.count()
    assert n_rows > 0
    # identical (user, start, n_events) multisets <=> identical membership
    assert native.exceptAll(wf).count() == 0
    assert wf.exceptAll(native).count() == 0


def test_streaming_equals_batch(spark):
    batch = (
        read_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .count()
        .collect()
    )
    batch_counts = {r.event_type: r["count"] for r in batch}

    streamed = hourly_counts_stream(spark, f"{SF_SMALL}/events.parquet").collect()
    stream_counts: dict[str, int] = {}
    for r in streamed:
        stream_counts[r.event_type] = stream_counts.get(r.event_type, 0) + r.n_events
    assert stream_counts == batch_counts


def test_stream_leaves_no_temp_view_behind(spark):
    """Each memory-sink drive drops its temp view: two runs leave the
    session's catalog as it was and return the same rows."""
    from collections import Counter

    path = f"{SF_SMALL}/events.parquet"
    before = sorted(t.name for t in spark.catalog.listTables())
    first = hourly_counts_stream(spark, path)
    second = hourly_counts_stream(spark, path)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    rows = Counter(map(tuple, first.collect()))
    assert rows and rows == Counter(map(tuple, second.collect()))


def test_foreachbatch_sqlite_sink(spark, tmp_path):
    """Streaming → SQLite via foreachBatch: each micro-batch appends through
    the single-writer sink; totals must equal the batch aggregate."""
    import sqlite3

    import pyspark.sql.functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.sinks import write_sqlite

    db = tmp_path / "stream.db"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMALL)
        .select("event_type", "value")
    )

    def sink(batch_df, batch_id):
        write_sqlite(batch_df, db, "raw_events", mode="append")

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    con = sqlite3.connect(db)
    (n,) = con.execute("SELECT COUNT(*) FROM raw_events").fetchone()
    con.close()
    assert n == spark.read.parquet(f"{SF_SMALL}/events.parquet").count()


def test_streaming_with_watermark_availablenow(spark):
    """Watermark + append mode over availableNow: closed windows are
    emitted, the trailing window may be withheld — the count must be a
    prefix-sum of the batch total (late-data semantics sanity)."""
    import pyspark.sql.functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMALL)
        .transform(normalize_event_ts)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("wm_test").agg(F.sum("count")).collect()[0][0] or 0
    total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert 0 <= emitted <= total


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream funnel join over a finite input must equal
    the batch join with the same predicate."""
    from pyspark.sql import functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.streaming.events import (
        click_purchase_stream_join,
    )

    streamed = click_purchase_stream_join(
        spark, f"{SF_SMALL}/events.parquet", window_s=3600
    )

    ev = read_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("ts_s")
    )
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id AS p_id", "user_id", "ts_s AS purchase_ts_s"
    )
    c = ev.filter("event_type = 'click'").selectExpr(
        "event_id AS c_id", "user_id AS cu", "ts_s AS click_ts_s"
    )
    batch = p.join(
        c,
        (p.user_id == F.col("cu"))
        & (F.col("click_ts_s") <= F.col("purchase_ts_s"))
        & (F.col("click_ts_s") >= F.col("purchase_ts_s") - 3600),
    ).select("p_id", "c_id", "user_id", "purchase_ts_s", "click_ts_s")

    assert streamed.count() == batch.count() and batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_transform_with_state_running_counts(spark, tmp_path):
    """Stateful per-user running counts across forced multi-file
    micro-batches must converge to the batch groupBy counts.

    Preferred surface: Spark 4 ``transformWithStateInPandas``
    (StatefulProcessor + ValueState, RocksDB state store) — but its
    state-server protocol needs a working ``google.protobuf`` runtime,
    which this container lacks (and installs are out of scope). Where
    protobuf is missing the SAME semantics run through the protobuf-free
    ``applyInPandasWithState`` surface instead, so the capability —
    cross-micro-batch keyed state with RocksDB — is asserted either way
    and the suite never skips."""
    import pandas as pd
    from pyspark.sql import functions as F

    try:
        from google.protobuf import descriptor  # noqa: F401

        use_tws = True
    except ImportError:
        use_tws = False

    def make_query(stream):
        if use_tws:
            from pyspark.sql.streaming import (
                StatefulProcessor,
                StatefulProcessorHandle,
            )

            class CountProcessor(StatefulProcessor):
                def init(self, handle: StatefulProcessorHandle) -> None:
                    self.n = handle.getValueState("n", "n bigint")

                def handleInputRows(self, key, rows, timerValues):
                    n = self.n.get()[0] if self.n.exists() else 0
                    for pdf in rows:
                        n += len(pdf)
                    self.n.update((n,))
                    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

                def close(self) -> None:
                    pass

            return stream.groupBy("user_id").transformWithStateInPandas(
                CountProcessor(),
                outputStructType="user_id long, n_events long",
                outputMode="Update",
                timeMode="None",
            )

        from pyspark.sql.streaming.state import GroupStateTimeout

        def update_counts(key, pdfs, state):
            n = state.get[0] if state.exists else 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        return stream.groupBy("user_id").applyInPandasWithState(
            update_counts,
            outputStructType="user_id long, n_events long",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    ev = read_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "events_tws")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    old_provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("user_id")
        )
        out = make_query(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_counts")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .start()
        )
        assert q.awaitTermination(timeout=180)
        sink = spark.table("tws_counts")
        final = (
            sink.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
        )
        want = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        assert final.exceptAll(want).count() == 0
        assert want.exceptAll(final).count() == 0
        assert sink.count() > final.count()  # multi-batch emissions
    finally:
        if old_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old_provider
            )


def test_drop_duplicates_within_watermark_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the streaming dedup-at-ingest
    operator. Two overlapping files forced into separate micro-batches
    (maxFilesPerTrigger=1) must still emit each event_id once — the dedup
    state lives across batches for as long as the watermark delay, which is
    exactly the bounded-state contract that scales: state size is
    O(keys within the delay window), not O(stream history)."""
    import pyspark.sql.functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    ev = read_table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = tmp_path / "dup_stream"
    # overlapping halves: 400-699 arrive twice, in different micro-batches
    ev.filter("event_id < 700").coalesce(1).write.parquet(f"{src}/f1")
    ev.filter("event_id >= 400").coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        # delay longer than the data span: no row is ever late, so every
        # duplicate must be caught by state, not dropped as late data
        .withWatermark("ts", "100 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.table("dedup_wm")
    assert out.count() == ev.count()  # 1000 distinct event_ids, no dupes
    assert out.select("event_id").distinct().count() == ev.count()


def test_streaming_session_window_emits_closed_sessions(spark, tmp_path):
    """session_window under a real stream: three time-ordered files move
    the watermark forward batch by batch, so sessions that closed before
    the final watermark are emitted in append mode — and every emitted
    session must appear, identical, in the batch session_window twin
    (streaming can only emit a prefix, never invent or distort a session)."""
    import pyspark.sql.functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    ev = read_table(spark, SF_SMALL, "events").select("user_id", "ts")
    src = tmp_path / "sessions_src"
    # time-ordered files: the per-batch max(ts) ratchets the watermark
    for i, (lo, hi) in enumerate(
        [("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
         ("2024-01-21", "2024-01-31")]
    ):
        ev.filter(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
        ).coalesce(1).write.parquet(f"{src}/f{i}")

    gap, delay = "30 minutes", "1 hour"
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("s"),
            F.col("session_window.end").cast("long").alias("e"),
            "n_events",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        (r.user_id, r.s, r.e): r.n_events
        for r in spark.table("sess_stream").collect()
    }
    assert emitted  # watermark moved across batches: early sessions closed

    batch = {
        (r.user_id, r.s, r.e): r.n_events
        for r in ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("s"),
            F.col("session_window.end").cast("long").alias("e"),
            "n_events",
        )
        .collect()
    }
    # prefix property: everything emitted exists identically in batch
    for k, n in emitted.items():
        assert batch[k] == n
    # and emission was substantial, not vacuous: sessions from the first
    # two files' span are closed by the final watermark
    assert len(emitted) > len(batch) * 0.3, (len(emitted), len(batch))


def test_streaming_hll_distinct_matches_batch(spark, tmp_path):
    """HLL in Structured Streaming: approx_count_distinct is algebraic, so
    its partial sketches merge across micro-batches exactly like any
    sum/count — the streaming distinct-users rollup never stores the user
    set. The streamed estimate must EQUAL the batch estimate on the same
    data (same sketch, same merge algebra), not merely approximate it."""
    import pyspark.sql.functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(SF_SMALL)
        .select("event_type", "user_id")
    )
    q = (
        stream.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("u"))
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.event_type: r.u
        for r in spark.sql("SELECT * FROM hll_stream").collect()
    }
    want = {
        r.event_type: r.u
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("u"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_session_window_boundary_and_batch_equality(spark, tmp_path):
    """The streaming session_window query must (a) MERGE at exactly the
    1800 s gap (closed boundary) and split at one microsecond past it,
    including sub-second timestamps, and (b) export floor-second
    session_start/session_end of the first/last event."""
    import pandas as pd

    from walmart_retail_pyspark_sqlite_pipeline_spark.streaming.events import (
        session_window_stream,
    )

    base = 1_700_000_000
    b_us = base * 1_000_000
    us = [
        # user 1: +1799.999999s -> same session; exactly +1800.000000s
        # after that -> STILL same session (closed boundary merges);
        # +1800.000001s after that -> NEW session
        b_us,
        b_us + 1_799_999_999,
        b_us + 1_799_999_999 + 1_800_000_000,
        b_us + 1_799_999_999 + 1_800_000_000 + 1_800_000_001,
        # user 2: single event
        (base + 10) * 1_000_000,
    ]
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 2],
            "event_id": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime(us, unit="us"),
        }
    )
    # single FILE (like the testdata layout session_window_stream globs for)
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path, index=False)
    got = sorted(
        session_window_stream(spark, path).collect(),
        key=lambda r: (r.user_id, r.session_start),
    )
    assert [(r.user_id, r.n_events) for r in got] == [(1, 3), (1, 1), (2, 1)]
    s1, s2, s3 = got
    # floor-second of first/last event in each session
    assert s1.session_start == base
    assert s1.session_end == (us[2] - b_us) // 1_000_000 + base
    assert s2.session_start == (us[3] - b_us) // 1_000_000 + base
    assert s2.session_end == s2.session_start
    assert s3.session_start == base + 10 and s3.n_events == 1


def test_stream_static_enrich_equals_batch_join(spark, tmp_path):
    """Stream-static join surface: planted events joined to a planted
    customer dim inside the streaming job must equal the batch join+group
    exactly — including a user with NO dim row (inner join drops it) and
    exact cents (0.335 dollars rounds half-away to 34 cents, summed as
    BIGINT, never floats)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.streaming.events import (
        static_enrich_stream,
    )

    from datetime import datetime

    events = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 1), 10, "click", 0.335, "{}"),
            (2, datetime(2024, 1, 1, 0, 10), 10, "click", 1.0, "{}"),
            (3, datetime(2024, 1, 1, 1, 0), 11, "purchase", 2.5, "{}"),
            (4, datetime(2024, 1, 1, 2, 0), 99, "click", 9.99, "{}"),
            # ^ user 99 has no dim row
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    customers = spark.createDataFrame(
        [(10, "c10", 0, 100.0, "BUILDING"), (11, "c11", 1, 50.0, "AUTOMOBILE")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single FILES named <table>.parquet (the testdata layout): the stream
    # source lists base_dir with pathGlobFilter=events.parquet, which
    # matches file names, not directory names
    epath = str(tmp_path / "events.parquet")
    cpath = str(tmp_path / "customer.parquet")
    pq.write_table(pa.Table.from_pandas(events.toPandas()), epath)
    pq.write_table(pa.Table.from_pandas(customers.toPandas()), cpath)

    got = sorted(
        (r.segment, r.event_type, r.n_events, r.revenue_cents)
        for r in static_enrich_stream(spark, epath, cpath).collect()
    )
    assert got == [
        ("AUTOMOBILE", "purchase", 1, 250),
        ("BUILDING", "click", 2, 134),  # 33.5 -> 34 half-away + 100
    ]
