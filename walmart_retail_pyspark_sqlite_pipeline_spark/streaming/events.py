"""Event-stream operators.

- :func:`sessionize` — gap-based sessionization as lag + running-sum window
  functions (batch form; at scale this is one shuffle on user_id, then
  linear per-partition work).
- :func:`hourly_counts_stream` — the same tumbling-window aggregation as the
  batch ``q11_event_hourly`` but executed by Structured Streaming with an
  ``availableNow`` trigger, proving the plan is streaming-compatible.
  Complete output mode + memory sink → deterministic final table.

The reference pipeline is batch-only (SURVEY.md §2.10); these are the
north-star streaming extensions.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_ts, pin_event_confs
from pyspark.sql.window import Window

SESSION_GAP_S = 1800

_stream_counter = itertools.count()


def _events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """The events parquet file as a streaming source, normalized like the
    batch read (``sources.tables.read_table``): same confs, same ``ts``."""
    pin_event_confs(spark)
    schema = spark.read.parquet(events_path).schema
    # the file stream source requires a DIRECTORY; point it at the parent
    # and glob-filter down to the events file
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", os.path.basename(events_path))
        .parquet(os.path.dirname(events_path))
    )
    return normalize_event_ts(stream)


def _drive(agg: DataFrame, prefix: str, mode: str) -> DataFrame:
    """Run a streaming plan over its availableNow snapshot into a memory
    sink in output ``mode``; return the final table.

    The returned frame's resolved plan holds the sink's rows itself, so the
    sink's temp view is dropped before returning: the result lives as long
    as the caller's frame, not as long as the session."""
    name = f"{prefix}_{next(_stream_counter)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # availableNow terminates on its own once the snapshot is processed;
        # the timeout is a hard bound so a wedged stream can never hang a
        # caller with a time budget (e.g. an oracle check)
        if not q.awaitTermination(timeout=120):
            q.stop()
            raise TimeoutError(f"stream {name} did not finish within 120 s")
        return agg.sparkSession.table(name)
    finally:
        agg.sparkSession.catalog.dropTempView(name)


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Assign gap-based session ids per user and aggregate per session.

    Gap math uses whole epoch seconds so sub-second timestamp precision
    differences (ns parquet vs µs Spark) cannot flip a boundary.
    """
    # one consistent ordering (whole seconds + event_id tiebreak) for BOTH
    # the gap flag and the running sum — mixing orderings can split rows
    # that share a timestamp across sessions
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    ts_s = F.col("ts").cast("long")
    with_gap = events.select(
        "user_id", "event_id", ts_s.alias("ts_s")
    ).withColumn(
        "new_sess",
        F.when(
            F.lag("ts_s").over(w).isNull()
            | ((F.col("ts_s") - F.lag("ts_s").over(w)) > gap_s),
            1,
        ).otherwise(0),
    )
    sess = with_gap.withColumn(
        "session_idx",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts_s").alias("session_start"),
            F.max("ts_s").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumn("duration_s", F.col("session_end") - F.col("session_start"))
    )


def asof_last_event(
    events: DataFrame,
    match_type: str,
    target_type: str | None = None,
) -> DataFrame:
    """As-of join expressed as a running conditional max — for every event,
    attach the timestamp of the same user's most recent PRIOR (or same-tick)
    event of ``match_type``.

    Spark has no native ASOF JOIN; when both sides share a partition key the
    idiomatic plan is exactly this: one shuffle on the key, then a linear
    prefix scan per partition (``max() over rows unbounded preceding``) —
    no join at all. For two separate tables, union them with a side tag
    first and apply the same window (the "union trick"); either way the
    cost at 100 TB is a single keyed shuffle.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        events.select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("ts_s"),
        )
        .withColumn(
            "asof_ts",
            F.max(
                F.when(F.col("event_type") == match_type, F.col("ts_s"))
            ).over(w),
        )
        .withColumn("gap_s", F.col("ts_s") - F.col("asof_ts"))
    )
    if target_type is not None:
        out = out.filter(F.col("event_type") == target_type)
    return out.select("event_id", "user_id", "ts_s", "asof_ts", "gap_s")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts_s",
) -> DataFrame:
    """Two-TABLE as-of join via the union trick: tag each side, union, and
    take a running conditional max of the right side's timestamp over one
    ``(key, ts)`` ordering — every left row gets the latest right ``ts_col``
    with ``right.ts <= left.ts`` (inclusive ties), NULL when none precedes
    (left-join semantics).

    Semantics match a dedicated ASOF JOIN operator (the oracle is DuckDB's
    native ``ASOF LEFT JOIN``). Spark has no such operator; the idiomatic
    plan is exactly this — ONE shuffle on ``key``, then a linear
    per-partition prefix scan. No join node at all, so at 100 TB the cost is
    a single keyed exchange of both inputs, immune to the row-explosion an
    inequality join would risk.

    ``left`` must carry ``key``, ``ts_col`` and any payload columns;
    ``right`` needs ``key`` and ``ts_col`` (extra columns are ignored).
    Output = left columns + ``asof_ts``. Ordering puts right rows before
    left rows at equal timestamps, and the conditional max is insensitive
    to ordering among same-timestamp ties, so the result is deterministic.
    """
    payload = [c for c in left.columns if c not in (key, ts_col)]
    dtypes = dict(left.dtypes)
    tagged_r = right.select(
        F.col(key),
        F.col(ts_col),
        *[F.lit(None).cast(dtypes[c]).alias(c) for c in payload],
        F.lit(0).alias("_is_left"),
    )
    tagged_l = left.select(key, ts_col, *payload).withColumn(
        "_is_left", F.lit(1)
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged_l.unionByName(tagged_r)
        .withColumn(
            "asof_ts",
            F.max(F.when(F.col("_is_left") == 0, F.col(ts_col))).over(w),
        )
        .filter(F.col("_is_left") == 1)
        .drop("_is_left")
    )


def hourly_counts_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Run hourly tumbling-window counts as a Structured Streaming job over
    the events parquet, trigger=availableNow, complete mode → memory sink;
    returns the final result table.

    In production the source would be Kafka/files-in-arrival-order with a
    watermark (see tests/test_streaming.py for the watermark variant); the
    aggregation plan is identical.
    """
    stream = _events_stream(spark, events_path)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _drive(agg, "hourly_counts", "complete")


def click_purchase_stream_join(
    spark: SparkSession, events_path: str, window_s: int = 3600
) -> DataFrame:
    """STREAM-STREAM inner join: purchases joined to same-user clicks that
    happened at most ``window_s`` seconds before (inclusive both ends).

    Both sides carry a watermark (required for Spark to bound the join
    state: each side's buffered rows can be evicted once the other side's
    watermark passes the time-range condition). availableNow + append mode
    + memory sink → the complete, deterministic result for a finite input,
    equal to the batch join a test asserts against.

    At scale this is the canonical funnel join: state is partitioned by
    user_id, and the watermark bound keeps per-key state O(events in the
    window), not O(history).
    """

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            _events_stream(spark, events_path)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_s} SECONDS")),
    ).select(
        "p_id",
        "c_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").cast("long").alias("purchase_ts_s"),
        F.col("c_ts").cast("long").alias("click_ts_s"),
    )
    return _drive(joined, "stream_join", "append")


def dedup_counts_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming INGEST DEDUP: drop retry-storm duplicates — events from the
    same user, of the same type, inside the same minute — with streaming
    ``dropDuplicates``, then count survivors per type. availableNow snapshot,
    complete mode, memory sink; returns the final table.

    In production the source is at-least-once (Kafka redeliveries), the
    dedup key carries an event-id, and ``dropDuplicatesWithinWatermark``
    bounds the state store to the lateness horizon (the unwatermarked form
    here keeps all keys — correct for a bounded snapshot, unbounded state on
    a true stream); tests/test_streaming.py exercises the watermarked twin.
    """
    stream = _events_stream(spark, events_path)
    agg = (
        stream.select(
            "user_id",
            "event_type",
            (F.col("ts").cast("long") - F.col("ts").cast("long") % 60).alias(
                "minute_s"
            ),
        )
        .dropDuplicates(["user_id", "event_type", "minute_s"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_deduped"))
    )
    return _drive(agg, "dedup_counts", "complete")


def session_window_stream(
    spark: SparkSession, events_path: str, gap_s: int = 1800
) -> DataFrame:
    """Spark-NATIVE streaming sessionization: ``F.session_window`` merges
    events into per-user sessions whose window extends ``gap_s`` past each
    event; the merge boundary is CLOSED — an event exactly ``gap_s`` after
    the previous one still MERGES, so the batch twin is islands with
    ``diff > gap`` as the split (verified at the exact boundary by
    tests/test_streaming.py).

    Complete mode + availableNow + memory sink: Spark does not support
    UPDATE mode for session-window aggregations, and APPEND would withhold
    every session still open when the snapshot ends (the batch twin and
    the DuckDB oracle count those), so the finite-snapshot drive runs
    COMPLETE — each finalized-or-open session appears exactly once, equal
    to the batch result. Exported session_end is the LAST EVENT's
    timestamp (window.end minus the gap), so the row content is
    gap-invariant and matches the batch sessionize() convention.

    At scale, be precise about what COMPLETE mode costs: within the run
    the state store merges events into per-(user, session) state
    partitioned by user_id, but complete mode never evicts a finalized
    session — output and retained state grow with TOTAL session count.
    That is fine for the finite availableNow snapshot this function
    drives and would NOT hold on an unbounded feed. The unbounded
    production shape is APPEND mode with a real watermark delay — closed
    sessions emit once the watermark passes them and their state is
    evicted, keeping state O(open sessions) at the cost of never
    surfacing a still-open session; that path (a semantics change, not a
    config tweak) is exercised separately by
    tests/test_streaming.py::test_streaming_session_window_emits_closed_sessions.
    """
    stream = _events_stream(spark, events_path)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window("ts", f"{gap_s} seconds").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            (F.col("w.end").cast("long") - F.lit(gap_s)).alias("session_end"),
            "n_events",
        )
    )
    return _drive(agg, "session_windows", "complete")


def static_enrich_stream(
    spark: SparkSession, events_path: str, customer_path: str
) -> DataFrame:
    """STREAM-STATIC enrichment join — the third Structured Streaming join
    surface next to stream-stream (:func:`click_purchase_stream_join`) and
    stream-vs-state (dedup): an unbounded event stream inner-joined to a
    bounded dimension table, then aggregated per (segment, event_type).

    The join itself is STATELESS: Spark re-plans the static side into each
    micro-batch (a broadcast hash join when the dim fits the threshold —
    forced here, since a customer dim is the canonical broadcastable side),
    so unlike a stream-stream join there is no join state store and no
    watermark requirement; only the downstream aggregation carries state.
    At 100 TB/day of events the dim broadcast is per-micro-batch overhead,
    which is why production keeps dims compact or pre-broadcasts via a
    foreachBatch-cached map-side structure — the aggregation state stays
    O(segments x event types) regardless.

    Revenue follows the repo's exact-sum idiom (cents as BIGINT), so
    streaming == batch == DuckDB to the last cent.
    """
    stream = _events_stream(spark, events_path)
    dim = spark.read.parquet(customer_path).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("long")
            ).alias("revenue_cents"),
        )
    )
    return _drive(agg, "static_enrich", "complete")
