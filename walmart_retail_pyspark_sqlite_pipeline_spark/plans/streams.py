"""Event-stream queries: sessionization (oracle-checked) and the Structured
Streaming variant of the hourly rollup (streaming execution — the plan is
identical to batch, which the oracle verifies)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import binned_range_join
from ..sources import read_table
from ..streaming import asof_last_event, hourly_counts_stream, sessionize
from ..streaming.events import asof_join
from .registry import QuerySpec, register


# ---------------------------------------------------------------------------
# events_sessionization — gap>30min session split per user via lag +
# running-sum windows; one shuffle on user_id.
# ---------------------------------------------------------------------------
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return sessionize(ev).sortWithinPartitions("user_id", "session_idx")


#: ``sess(user_id, ts_s, session_idx)``: every event's epoch second and
#: its per-user session number (a new session after a gap over 30 min),
#: the SQL twin of ``streaming.sessionize``'s split; shared by the
#: session oracles.
SESSION_CTES = """e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_s,
    CASE WHEN lag(ts_s) OVER w IS NULL
              OR ts_s - lag(ts_s) OVER w > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT user_id, ts_s,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)"""

SESSIONIZE_SQL = f"""
WITH {SESSION_CTES}
SELECT user_id, session_idx,
  MIN(ts_s) AS session_start,
  MAX(ts_s) AS session_end,
  COUNT(*) AS n_events,
  MAX(ts_s) - MIN(ts_s) AS duration_s
FROM sess
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# stream_event_counts — Structured Streaming (availableNow, complete mode,
# memory sink) computing the hourly per-type counts; the oracle is plain SQL
# over the same data, proving streaming==batch semantics for this plan.
# ---------------------------------------------------------------------------
def stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    return hourly_counts_stream(spark, path).orderBy("window_start", "event_type")


STREAM_COUNTS_SQL = """
SELECT
  CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# events_sliding_windows — 1-hour windows sliding every 30 minutes: each
# event lands in exactly two windows. F.window's sliding form vs an explicit
# two-bucket unnest in SQL.
# ---------------------------------------------------------------------------
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
        )
        .sortWithinPartitions("window_start", "event_type")
    )


SLIDING_SQL = """
WITH b AS (
  SELECT event_type,
    CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) AS b30
  FROM events
),
w AS (
  SELECT event_type, unnest([b30, b30 - 1800]) AS window_start FROM b
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM w
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# events_asof_join — for every 'error' event, the same user's most recent
# prior 'purchase' (as-of semantics via a running conditional max: one
# keyed shuffle, no join — see streaming/events.py).
# ---------------------------------------------------------------------------
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return asof_last_event(
        ev, match_type="purchase", target_type="error"
    ).sortWithinPartitions("event_id")


ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
scanned AS (
  SELECT event_id, user_id, event_type, ts_s,
    MAX(CASE WHEN event_type = 'purchase' THEN ts_s END) OVER (
      PARTITION BY user_id ORDER BY ts_s, event_id
      ROWS UNBOUNDED PRECEDING) AS asof_ts
  FROM e
)
SELECT event_id, user_id, ts_s, asof_ts, ts_s - asof_ts AS gap_s
FROM scanned WHERE event_type = 'error'
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# events_asof_two_stream — TWO-table as-of join (purchases ← latest
# click at-or-before, per user) via the union trick (streaming/events.py:
# asof_join). The oracle is DuckDB's NATIVE `ASOF LEFT JOIN` operator, so
# this checks our no-join window plan against a dedicated as-of
# implementation, inclusive-tie semantics and all.
# ---------------------------------------------------------------------------
def events_asof_two_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("ts_s")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_s", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts_s")
    return (
        asof_join(purchases, clicks, key="user_id", ts_col="ts_s")
        .select(
            "event_id",
            "user_id",
            "ts_s",
            F.col("asof_ts").alias("click_ts"),
            (F.col("ts_s") - F.col("asof_ts")).alias("gap_s"),
        )
        .sortWithinPartitions("event_id")
    )


ASOF_TWO_STREAM_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
p AS (SELECT event_id, user_id, ts_s FROM e WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts_s FROM e WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts_s, c.ts_s AS click_ts,
       p.ts_s - c.ts_s AS gap_s
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts_s <= p.ts_s
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# events_range_join — interval containment without a nested loop: per-user
# "onboarding hour" [first_ts, first_ts+3600]; count ALL events (any user)
# inside each window. Implemented with the binned range join
# (operators/range_join.py): explode intervals to hour buckets, equi-join
# on the bucket id, residual BETWEEN filter. The oracle states the range
# predicate directly (DuckDB plans it as an IEJoin).
# ---------------------------------------------------------------------------
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_s")
    )
    windows = ev.groupBy("user_id").agg(F.min("ts_s").alias("window_lo")).select(
        F.col("user_id").alias("owner_id"),
        "window_lo",
        (F.col("window_lo") + 3600).alias("window_hi"),
    )
    joined = binned_range_join(
        windows, ev.select("ts_s"), "ts_s", "window_lo", "window_hi", 3600
    )
    return (
        joined.groupBy("owner_id", "window_lo")
        .agg(F.count("*").alias("n_events"))
        .sortWithinPartitions("owner_id")
    )


RANGE_JOIN_SQL = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
),
w AS (
  SELECT user_id AS owner_id, MIN(ts_s) AS window_lo,
         MIN(ts_s) + 3600 AS window_hi
  FROM e GROUP BY user_id
)
SELECT w.owner_id, w.window_lo, COUNT(*) AS n_events
FROM w JOIN e ON e.ts_s BETWEEN w.window_lo AND w.window_hi
GROUP BY 1, 2
ORDER BY owner_id
"""


for _spec in [
    QuerySpec("events_sessionization", events_sessionization, SESSIONIZE_SQL,
              ("ST2", "W1")),
    QuerySpec("stream_event_counts", stream_event_counts, STREAM_COUNTS_SQL,
              ("ST1", "ST3")),
    QuerySpec("events_asof_join", events_asof_join, ASOF_SQL,
              ("ASOF1", "W1")),
    QuerySpec("events_sliding_windows", events_sliding_windows, SLIDING_SQL,
              ("ST5",)),
    # the two-table as-of join is checked against DuckDB's NATIVE ASOF
    # LEFT JOIN operator, the strongest oracle in the registry
    QuerySpec("events_asof_two_stream", events_asof_two_stream,
              ASOF_TWO_STREAM_SQL, ("ASOF2", "W1")),
    QuerySpec("events_range_join", events_range_join, RANGE_JOIN_SQL,
              ("RJ1", "J1")),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# events_session_native — Spark's BUILT-IN session_window operator (the
# streaming-capable sessionizer: in Structured Streaming this exact plan
# runs with merging session state). The oracle replicates the native
# semantics precisely: microsecond event time, sessions split when the
# gap is >= 30 min (session_window merges only strictly-overlapping
# [ts, ts+gap) intervals — note the window-function sessionize above
# keeps a gap of exactly 1800 s in-session, so the two operators are
# graded against separate oracles).
# ---------------------------------------------------------------------------
def events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            "n_events",
        )
        .sortWithinPartitions("user_id", "session_start")
    )


SESSION_NATIVE_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
flagged AS (
  SELECT user_id, ts_us,
    CASE WHEN lag(ts_us) OVER w IS NULL
              OR ts_us - lag(ts_us) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
  CAST(MIN(ts_us) // 1000000 AS BIGINT) AS session_start,
  COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_idx
ORDER BY user_id, session_start
"""


register(
    QuerySpec(
        "events_session_native",
        events_session_native,
        SESSION_NATIVE_SQL,
        ("ST7",),
        doc="built-in session_window sessionization (streaming-capable operator)",
    )
)


# ---------------------------------------------------------------------------
# stream_dedup_counts — streaming ingest dedup: Structured Streaming
# dropDuplicates on (user_id, event_type, minute) collapses at-least-once
# retry storms before the per-type rollup; availableNow snapshot, memory
# sink. The oracle is the equivalent batch COUNT(DISTINCT ...) — the
# streaming and batch dedup semantics must agree row-for-row. State-store
# note is in streaming/events.py::dedup_counts_stream (watermark bounds
# state on a true unbounded stream).
# ---------------------------------------------------------------------------
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import dedup_counts_stream

    path = os.path.join(sf_dir, "events.parquet")
    return dedup_counts_stream(spark, path).orderBy("event_type")


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n_deduped
FROM (
  SELECT DISTINCT user_id, event_type,
    CAST(floor(epoch(ts)) AS BIGINT)
      - CAST(floor(epoch(ts)) AS BIGINT) % 60 AS minute_s
  FROM events
)
GROUP BY event_type
ORDER BY event_type
"""


register(
    QuerySpec(
        "stream_dedup_counts",
        stream_dedup_counts,
        STREAM_DEDUP_SQL,
        ("ST10",),
        doc="streaming dropDuplicates ingest dedup == batch COUNT(DISTINCT) proof",
    )
)


# ---------------------------------------------------------------------------
# stream_session_windows — Spark-NATIVE streaming sessionization via
# F.session_window (gap 30 min), the streaming twin of
# events_sessionization's lag+running-sum islands. CLOSED-boundary
# semantics (verified by the planted boundary test in
# tests/test_streaming.py): an event at EXACTLY prev_ts + gap MERGES into
# the session — the island split is strictly `diff > 1800e6 µs`,
# micro-second exact (events carry sub-second timestamps, so the split
# must compare epoch_us, not floored seconds). session_end is exported as
# the LAST EVENT's second (window.end minus the gap), making row content
# gap-invariant and equal to the batch convention.
# ---------------------------------------------------------------------------
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import session_window_stream

    path = os.path.join(sf_dir, "events.parquet")
    return session_window_stream(spark, path).orderBy(
        "user_id", "session_start"
    )


STREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
  CAST(MIN(us) // 1000000 AS BIGINT) AS session_start,
  CAST(MAX(us) // 1000000 AS BIGINT) AS session_end,
  COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


register(
    QuerySpec(
        "stream_session_windows",
        stream_session_windows,
        STREAM_SESSION_SQL,
        ("ST11",),
        doc="native session_window streaming sessionization == batch islands proof",
    )
)


# ---------------------------------------------------------------------------
# stream_static_enrich — the stream-STATIC join surface: an unbounded event
# stream enriched against a bounded customer dimension inside the streaming
# job (broadcast hash join re-planned into every micro-batch, stateless —
# no join state store, no watermark), then aggregated per (segment,
# event_type) with the exact-cents revenue idiom. Completes the streaming
# join matrix: stream-stream (click->purchase), stream-vs-state (dedup
# store), stream-static (this). Oracle is the plain batch join+group —
# streaming == batch == DuckDB to the last cent.
# ---------------------------------------------------------------------------
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import static_enrich_stream

    return static_enrich_stream(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(sf_dir, "customer.parquet"),
    ).orderBy("segment", "event_type")


STREAM_STATIC_ENRICH_SQL = """
SELECT c_mktsegment AS segment, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
ORDER BY segment, event_type
"""


register(
    QuerySpec(
        "stream_static_enrich",
        stream_static_enrich,
        STREAM_STATIC_ENRICH_SQL,
        ("ST12",),
        doc="stream-static broadcast enrichment join + exact-cents aggregation",
    )
)


# ---------------------------------------------------------------------------
# stream_stream_join — the STREAM-STREAM time-interval join surface
# (round 13: registered; the kernel and its batch-equality pytest are
# round-1 code, tests/test_streaming.py::test_stream_stream_join_equals_
# batch): purchases joined to same-user clicks at most one hour older,
# both sides watermarked so the join state store stays bounded (each
# side's buffer evicts once the other side's watermark clears the range
# condition — the property that makes this run forever at 100 TB/day).
# availableNow + append + memory sink -> the complete deterministic
# result for finite input; the oracle is the equivalent batch interval
# join at microsecond precision.
# ---------------------------------------------------------------------------
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import click_purchase_stream_join

    path = os.path.join(sf_dir, "events.parquet")
    return click_purchase_stream_join(spark, path).orderBy("p_id", "c_id")


STREAM_STREAM_JOIN_SQL = """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
  CAST(p.us // 1000000 AS BIGINT) AS purchase_ts_s,
  CAST(c.us // 1000000 AS BIGINT) AS click_ts_s
FROM p JOIN c ON p.user_id = c.user_id
  AND c.us <= p.us AND c.us >= p.us - 3600000000
ORDER BY p_id, c_id
"""


register(
    QuerySpec(
        "stream_stream_join",
        stream_stream_join,
        STREAM_STREAM_JOIN_SQL,
        ("ST13",),
        doc="watermark-bounded stream-stream interval join == batch interval join proof",
    )
)
