"""Cohort / retention analytics over the event stream.

The classic product-analytics rollup: bucket users by the week of their
first event (the cohort), then for every later week count how many of
them came back. Three hash aggregations and one equi-join — no window
over the full history, no per-user collect — so the plan is the same
shape at 100 TB: the (user, week) distinct is the only pass over raw
events, and everything after runs on user-cardinality data. Weeks are
ISO-Monday `date_trunc('week', ...)` on the UTC-pinned event timestamps
(`sources/tables.py` reads events with the session clamped to UTC, so
week boundaries agree with the tz-naive oracle).

Extension beyond the reference (no event-stream analytics at all there);
the registry's event family covers windows/sessionization — this adds
the cohort matrix every growth dashboard is built on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import read_table
from .registry import QuerySpec, register


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention from ONE events scan.

    Round-12 consolidation (was 3 scans: weeks -> first groupBy+join back,
    plus a sizes branch). The cohort week is a min() window over the
    distinct (user, week) exchange instead of a groupBy+join; and because
    rows are DISTINCT per (user, week) and each distinct week maps to a
    distinct week_offset within a user, COUNT(*) per (cohort, offset)
    equals the old countDistinct(user_id). cohort_size is the offset-0
    count (every user is active in their cohort week by construction), so
    it rides a max-when window over the |cohorts x offsets|-bounded
    aggregate rather than a third pass.

    NULL user_id rows are dropped explicitly: the pre-consolidation inner
    join on user_id (and the oracle's JOIN USING) never matched them, and
    a window partition WOULD keep them — the edge sweep caught exactly
    this divergence.
    """
    ev = read_table(spark, sf_dir, "events")
    weeks = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .distinct()
    )
    act = weeks.withColumn(
        "cohort", F.min("week").over(Window.partitionBy("user_id"))
    )
    counts = (
        act.withColumn(
            "week_offset", F.expr("datediff(week, cohort) DIV 7")
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    w_cohort = Window.partitionBy("cohort")
    return (
        counts.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("week_offset") == 0, F.col("n_active"))
            ).over(w_cohort),
        )
        .select(
            "cohort",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort", "week_offset")
    )


COHORT_RETENTION_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
firsts AS (
  SELECT user_id, MIN(week) AS cohort FROM weeks GROUP BY user_id
),
act AS (
  SELECT w.user_id, f.cohort, w.week
  FROM weeks w JOIN firsts f USING (user_id)
),
counts AS (
  SELECT cohort, (week - cohort) // 7 AS week_offset,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
),
sizes AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1
)
SELECT counts.cohort, week_offset, n_active, cohort_size,
  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
FROM counts JOIN sizes USING (cohort)
ORDER BY cohort, week_offset
"""


register(
    QuerySpec(
        "events_cohort_retention",
        events_cohort_retention,
        COHORT_RETENTION_SQL,
        ("TS2",),
        doc="weekly cohort retention matrix (first-event cohorts, distinct return users)",
    )
)


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view -> click -> purchase funnel.

    One aggregation collapses each user to their first timestamp per step
    (conditional min — no self-joins over raw events), one more counts
    users whose steps happened in order. The batch twin of the
    watermarked stream-stream funnel join (`streaming/events.py`); at
    100 TB this is two hash aggregations, the second over one row per
    user.
    """
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    got_view = F.col("t_view").isNotNull()
    got_click = got_view & F.col("t_click").isNotNull() & (
        F.col("t_click") > F.col("t_view")
    )
    got_purchase = got_click & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_click")
    )
    counts = firsts.agg(
        F.sum(got_view.cast("bigint")).alias("n_view"),
        F.sum(got_click.cast("bigint")).alias("n_click"),
        F.sum(got_purchase.cast("bigint")).alias("n_purchase"),
    )
    steps = counts.selectExpr(
        "stack(3, 1, 'view', n_view, CAST(NULL AS BIGINT),"
        " 2, 'click', n_click, n_view,"
        " 3, 'purchase', n_purchase, n_click)"
        " AS (step_no, step, n_users, n_prev)"
    )
    return steps.select(
        "step_no",
        "step",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("n_prev"), 6
        ).alias("conversion"),
    ).orderBy("step_no")


FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
),
counts AS (
  SELECT
    CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT) AS n_view,
    CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
               THEN 1 END) AS BIGINT) AS n_click,
    CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click
               THEN 1 END) AS BIGINT) AS n_purchase
  FROM firsts
)
SELECT step_no, step, n_users,
  ROUND(CAST(n_users AS DOUBLE) / n_prev, 6) AS conversion
FROM (
  SELECT 1 AS step_no, 'view' AS step, n_view AS n_users,
         CAST(NULL AS BIGINT) AS n_prev FROM counts
  UNION ALL
  SELECT 2, 'click', n_click, n_view FROM counts
  UNION ALL
  SELECT 3, 'purchase', n_purchase, n_click FROM counts
)
ORDER BY step_no
"""


register(
    QuerySpec(
        "events_funnel_conversion",
        events_funnel_conversion,
        FUNNEL_SQL,
        ("TS3",),
        doc="ordered view->click->purchase funnel with per-step conversion",
    )
)


def events_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day.

    Windowed COUNT(DISTINCT) isn't a thing (not algebraic over frames), so
    the scale pattern is bounded replication: each (user, active-day) row
    is exploded to the <=7 observation days it can influence, then one
    hash aggregation counts distinct users per observation day — 7x fanout
    of the (user, day)-distinct table (user-cardinality, not event-
    cardinality), never a per-day rescan of history. DAU rides the same
    pass as a conditional distinct.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    exploded = daily.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "obs_day"
        ),
    )
    # Round-12 consolidation (was 2 scans: a broadcast max-date bounds
    # branch pre-filtered the fanout). The max_d trim only drops GROUPS
    # (obs_day is the group key), so it moves after the aggregate: carry
    # max(d) per group, take the global max over the |days|-bounded
    # aggregate with a single-partition window, and filter there. One
    # events scan; the lone-partition window sees ~date-range rows.
    return (
        exploded.groupBy("obs_day")
        .agg(
            F.countDistinct(
                F.when(F.col("d") == F.col("obs_day"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
            F.max("d").alias("d_max_local"),
        )
        .withColumn("max_d", F.max("d_max_local").over(Window.partitionBy()))
        .filter(F.col("obs_day") <= F.col("max_d"))
        .select(
            "obs_day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("obs_day")
    )


ACTIVE_USERS_7D_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
exploded AS (
  SELECT user_id, d, d + CAST(x.i AS INTEGER) AS obs_day
  FROM daily, (SELECT unnest(range(7)) AS i) x
),
bounds AS (SELECT MAX(d) AS max_d FROM daily)
SELECT obs_day,
  CAST(COUNT(DISTINCT CASE WHEN d = obs_day THEN user_id END) AS BIGINT) AS dau,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
  ROUND(CAST(COUNT(DISTINCT CASE WHEN d = obs_day THEN user_id END) AS DOUBLE)
        / COUNT(DISTINCT user_id), 6) AS stickiness
FROM exploded, bounds
WHERE obs_day <= max_d
GROUP BY obs_day
ORDER BY obs_day
"""


register(
    QuerySpec(
        "events_active_users_7d",
        events_active_users_7d,
        ACTIVE_USERS_7D_SQL,
        ("TS4",),
        doc="DAU / trailing-7d WAU / stickiness via bounded-fanout windowed distinct",
    )
)


# ---------------------------------------------------------------------------
# events_funnel_windowed — the funnel with BOUNDED conversion windows,
# the production semantics the unconditional-min funnel above can't
# express: a click only counts within CLICK_WIN of the user's first
# view, and a purchase only within PURCHASE_WIN of that qualifying
# click. Sequencing uses the earliest QUALIFYING event per step (min
# over the windowed range), not the globally-first event, so a user who
# clicked before ever viewing still converts on a later in-window click.
#
# Plan: one conditional-min aggregation per step, each keyed on
# user_id — the per-step join re-uses the same hash partitioning
# (ReusedExchange), no self-join over raw events, and the final rollup
# is one row per user. Conversion rates are exported via the integer
# micro-rounding identity ((2·a·1e6 + b) div 2b — see
# corpus_importance_weights), so no float ROUND exists for engines to
# tie-break differently.
# ---------------------------------------------------------------------------
CLICK_WIN_MIN = 30
PURCHASE_WIN_H = 24


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # ONE events scan: the three funnel stages are STACKED conditional-min
    # windows over the same user partitioning (t_view, then t_click within
    # its window, then t_purchase within that) — the old per-stage
    # filter+join+groupBy chains re-planned the scan per stage and doubled
    # the v subtree (round-11 fact-table scan census: 6 events scans, the
    # fleet's worst with events_revenue_concentration). Stage semantics
    # are unchanged: the stage anchor is constant per user, so the
    # conditional min over the partition equals the old join+filter+min.
    ev = read_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn(
            "t_view",
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).over(wu),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("t_view"))
                    & (
                        F.col("ts")
                        <= F.col("t_view")
                        + F.expr(f"INTERVAL {CLICK_WIN_MIN} MINUTES")
                    ),
                    F.col("ts"),
                )
            ).over(wu),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click"))
                    & (
                        F.col("ts")
                        <= F.col("t_click")
                        + F.expr(f"INTERVAL {PURCHASE_WIN_H} HOURS")
                    ),
                    F.col("ts"),
                )
            ).over(wu),
        )
    )
    counts = (
        staged.groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
        .filter(F.col("t_view").isNotNull())
        .agg(
            F.count("*").alias("n_view"),
            F.sum(F.col("t_click").isNotNull().cast("bigint")).alias("n_click"),
            F.sum(F.col("t_purchase").isNotNull().cast("bigint")).alias(
                "n_purchase"
            ),
        )
    )
    return counts.selectExpr(
        """stack(3,
             1, 'view',     n_view,     CAST(NULL AS BIGINT),
             2, 'click',    n_click,    n_view,
             3, 'purchase', n_purchase, n_click
           ) AS (step_no, step, n_users, n_prev)""",
    ).selectExpr(
        "step_no",
        "step",
        "CAST(n_users AS BIGINT) AS n_users",
        # integer micro-rounded conversion rate: no float ROUND tie hazard
        """CASE WHEN n_prev IS NULL OR n_prev = 0 THEN CAST(NULL AS DOUBLE)
           ELSE ((2 * n_users * 1000000 + n_prev) DIV (2 * n_prev)) / 1000000.0
           END AS rate_from_prev""",
    ).orderBy("step_no")


FUNNEL_WINDOWED_SQL = f"""
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY 1
),
vv AS (SELECT user_id, t_view FROM v WHERE t_view IS NOT NULL),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN vv ON e.user_id = vv.user_id
  WHERE e.event_type = 'click'
    AND e.ts >= vv.t_view
    AND e.ts <= vv.t_view + INTERVAL {CLICK_WIN_MIN} MINUTES
  GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts >= c.t_click
    AND e.ts <= c.t_click + INTERVAL {PURCHASE_WIN_H} HOURS
  GROUP BY 1
),
counts AS (
  SELECT COUNT(*) AS n_view,
    COUNT(c.user_id) AS n_click,
    COUNT(p.user_id) AS n_purchase
  FROM vv
  LEFT JOIN c ON vv.user_id = c.user_id
  LEFT JOIN p ON vv.user_id = p.user_id
),
steps AS (
  SELECT 1 AS step_no, 'view' AS step, n_view AS n_users,
         CAST(NULL AS BIGINT) AS n_prev FROM counts
  UNION ALL
  SELECT 2, 'click', n_click, n_view FROM counts
  UNION ALL
  SELECT 3, 'purchase', n_purchase, n_click FROM counts
)
SELECT step_no, step, CAST(n_users AS BIGINT) AS n_users,
  CASE WHEN n_prev IS NULL OR n_prev = 0 THEN CAST(NULL AS DOUBLE)
    ELSE CAST((2 * n_users * 1000000 + n_prev) // (2 * n_prev) AS BIGINT)
         / CAST(1000000.0 AS DOUBLE)
  END AS rate_from_prev
FROM steps
ORDER BY step_no
"""


register(
    QuerySpec(
        "events_funnel_windowed",
        events_funnel_windowed,
        FUNNEL_WINDOWED_SQL,
        ("TS10",),
        doc="funnel with bounded conversion windows (30min click, 24h purchase)",
    )
)
