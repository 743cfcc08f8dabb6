"""Planted-data tests for time-series operators whose exactness claims
depend on arithmetic width, not just on the driver data's value range."""

from __future__ import annotations

import datetime
import math
import tempfile

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
    ANOMALY_ZSCORE_SQL,
    events_ab_test,
    events_anomaly_zscore,
    events_attribution_position,
)

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_zscore_moments_survive_old_bigint_wrap(spark):
    """Daily totals of ~4.5e8 cents/day/key sit past the old BIGINT-moment
    wrap boundary (49x^2 > 2^63): with the pre-round-6 integer moments Spark
    silently wrapped here while DuckDB raised. The DECIMAL moments must (a)
    run on both engines and (b) produce identical z-scores."""
    rows = []
    for i in range(10):
        ts = datetime.datetime(2025, 4, 1 + i, 12, 0, 0)
        # 4.5M..4.59M dollars/day -> 4.5e8..4.59e8 cents/day, all exact
        # in double (integer-valued)
        rows.append((i, ts, 1, "purchase", 4_500_000.0 + i * 10_003.0, "{}"))
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = events_anomaly_zscore(spark, d).collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        want = con.execute(ANOMALY_ZSCORE_SQL).fetchall()

    assert len(got) == 10 and len(want) == 10
    # day 1 has n=1 -> NULL z; every later day must have a real z (a wrap
    # would have produced negative variance -> NULL, or a wrong value)
    spark_z = [r.zscore for r in got]
    duck_z = [w[3] for w in want]
    assert spark_z[0] is None and duck_z[0] is None
    assert all(z is not None for z in spark_z[1:]), spark_z
    assert spark_z == duck_z, list(zip(spark_z, duck_z))
    assert [r.cents for r in got] == [w[2] for w in want]


def test_cusum_flags_planted_level_shift_and_stays_quiet_on_noise(spark):
    """30 flat days then 30 days at a higher level: drawup accumulates
    linearly after the shift and must cross the 5-mean-day threshold well
    before the series ends, while a steady-noise type never flags. Both
    engines must agree cell-for-cell (exact-integer cumsum/min)."""
    import duckdb as _duck

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        CUSUM_SQL,
        events_cusum_changepoint,
    )

    rows = []
    eid = 0
    for i in range(60):
        ts = datetime.datetime(2025, 1, 1, 12) + datetime.timedelta(days=i)
        level = 100.0 if i < 30 else 160.0  # +60% sustained shift
        rows.append((eid, ts, 1, "shifted", level, "{}")); eid += 1
        noise = 100.0 + (7.0 if i % 2 else -7.0)  # zero-mean alternation
        rows.append((eid, ts, 1, "steady", noise, "{}")); eid += 1
        # refund-dominated: negative total with mild alternation — under
        # the unguarded 5*t_sum threshold (t_sum < 0) ANY positive drawup
        # would have fired; with 5*GREATEST(ABS(t_sum),1) it must stay
        # quiet (ADVICE r7 inversion guard)
        refund = -100.0 + (7.0 if i % 2 else -7.0)
        rows.append((eid, ts, 1, "refunds", refund, "{}")); eid += 1
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = events_cusum_changepoint(spark, d).collect()
        con = _duck.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        want = con.execute(CUSUM_SQL).fetchall()

    assert [
        (r.event_type, str(r.day), r.cents, r.cusum_scaled, r.drawup_scaled, r.is_shift)
        for r in got
    ] == [(w[0], str(w[1]), w[2], w[3], w[4], w[5]) for w in want]
    shifted = [r for r in got if r.event_type == "shifted"]
    steady = [r for r in got if r.event_type == "steady"]
    assert any(r.is_shift for r in shifted), "sustained shift never flagged"
    # the flag must only appear after the change point (day >= 31)
    first_flag = min(r.day for r in shifted if r.is_shift)
    assert first_flag >= datetime.date(2025, 1, 31), first_flag
    assert not any(r.is_shift for r in steady), "noise-only series flagged"
    refunds = [r for r in got if r.event_type == "refunds"]
    assert refunds and not any(r.is_shift for r in refunds), (
        "refund-dominated (negative-total) series must not flag on noise "
        "drawups — the |t_sum| threshold guard failed"
    )


def test_seasonal_decompose_recovers_planted_weekday_effect(spark):
    """28 consecutive days at $100/day except Mondays at $170: every full
    centered window sums to $770, so the decomposition must report the
    Monday effect as exactly +6000 cents and every other weekday as
    exactly -1000 cents (effects sum to zero across the week), using only
    the 22 interior days. Both engines must agree cell-for-cell."""
    import duckdb as _duck

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        SEASONAL_DECOMPOSE_SQL,
        events_seasonal_decompose,
    )

    rows = []
    for i in range(28):
        day = datetime.datetime(2025, 3, 3, 12) + datetime.timedelta(days=i)
        # 2025-03-03 is a Monday; dow 0 in the query's epoch arithmetic
        value = 170.0 if i % 7 == 0 else 100.0
        rows.append((i, day, 1, "purchase", value, "{}"))
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = events_seasonal_decompose(spark, d).collect()
        con = _duck.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        want = con.execute(SEASONAL_DECOMPOSE_SQL).fetchall()

    assert [
        (r.event_type, r.dow, r.n_days, r.det7, r.seasonal_cents) for r in got
    ] == want
    by_dow = {r.dow: r for r in got}
    assert set(by_dow) == set(range(7))
    # interior days: i in 3..24 -> 22 days; Mondays among them: i in {7,14,21}
    assert by_dow[0].n_days == 3 and by_dow[0].seasonal_cents == 6000.0
    for dow in range(1, 7):
        assert by_dow[dow].seasonal_cents == -1000.0, by_dow[dow]
    assert sum(r.n_days for r in got) == 22


def test_seasonal_decompose_excludes_gapped_windows(spark):
    """Remove one day from the middle of the series: every centered window
    that TOUCHES the hole now spans more than 6 days and must be excluded
    (rows-vs-days drift protection), shrinking n_days by exactly the 7
    windows centered within +/-3 rows of the hole."""
    import tempfile as _tmp

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_seasonal_decompose,
    )

    def run(skip_day):
        rows = []
        for i in range(28):
            if i == skip_day:
                continue
            day = datetime.datetime(2025, 3, 3, 12) + datetime.timedelta(days=i)
            rows.append((i, day, 1, "purchase", 100.0, "{}"))
        df = spark.createDataFrame(rows, EVENT_SCHEMA)
        with _tmp.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/events.parquet")
            return events_seasonal_decompose(spark, d).collect()

    full = run(skip_day=None)
    holed = run(skip_day=14)
    assert sum(r.n_days for r in full) == 22
    # day 14 is gone (1 window lost as a center) and days 11..17 minus the
    # hole (6 surviving rows) have invalid windows -> 22 - 7 = 15 remain
    assert sum(r.n_days for r in holed) == 15
    assert all(r.seasonal_cents == 0.0 for r in holed), holed


def test_attribution_last_touch_planted(spark, tmp_path):
    """Planted stream: user 1 view->click->purchase(10) credits click;
    user 2 purchase(5) with no prior touch credits direct; user 3's
    purchase(2) after a view credits view; a NULL-value purchase counts a
    row but no revenue."""
    import datetime as dt

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_attribution_last_touch,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, val, s):
        return Row(event_id=eid, ts=t0 + dt.timedelta(seconds=s),
                   user_id=uid, event_type=typ, value=val, props="{}")

    rows = [
        ev(1, 1, "view", 0.0, 0),
        ev(2, 1, "click", 0.0, 10),
        ev(3, 1, "purchase", 10.0, 20),
        ev(4, 2, "purchase", 5.0, 5),
        ev(5, 3, "view", 0.0, 1),
        ev(6, 3, "purchase", 2.0, 9),
        ev(7, 3, "purchase", None, 12),  # still last-touched by the view
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r.channel: r
        for r in events_attribution_last_touch(spark, str(tmp_path)).collect()
    }
    assert out["click"].attributed_cents == 1000
    assert out["direct"].attributed_cents == 500
    assert out["view"].n_purchases == 2  # the NULL-value purchase counts
    assert out["view"].attributed_cents == 200
    total = 1000 + 500 + 200
    assert abs(out["click"].revenue_share - round(1000 / total, 6)) < 2e-6


def test_position_attribution_u_shape_on_planted_journeys(spark, tmp_path):
    sf = str(tmp_path)
    ts = [f"2024-01-01 00:0{i}:00" for i in range(10)]
    rows = [
        # user 1: ad -> email -> search -> purchase(100.00): 40/20/40
        Row(event_id=1, ts=ts[0], user_id=1, event_type="ad", value=0.0),
        Row(event_id=2, ts=ts[1], user_id=1, event_type="email", value=0.0),
        Row(event_id=3, ts=ts[2], user_id=1, event_type="search", value=0.0),
        Row(event_id=4, ts=ts[3], user_id=1, event_type="purchase", value=100.0),
        # user 2: bare purchase(50.00) -> direct 100%
        Row(event_id=5, ts=ts[0], user_id=2, event_type="purchase", value=50.0),
        # user 2 second journey: one touch then purchase(10.00) -> ad 100%
        Row(event_id=6, ts=ts[1], user_id=2, event_type="ad", value=0.0),
        Row(event_id=7, ts=ts[2], user_id=2, event_type="purchase", value=10.0),
        # user 3: two touches, NO purchase -> no credits at all
        Row(event_id=8, ts=ts[0], user_id=3, event_type="ad", value=0.0),
        Row(event_id=9, ts=ts[1], user_id=3, event_type="email", value=0.0),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.parquet(f"{sf}/events.parquet")
    got = {
        r.channel: (r.n_credits, r.attributed_micro)
        for r in events_attribution_position(spark, sf).collect()
    }
    cents100, cents50, cents10 = 10_000, 5_000, 1_000
    assert got == {
        # ad: 40% of user1's purchase + 100% of user2's second journey
        "ad": (2, cents100 * 1_000_000 * 2 // 5 + cents10 * 1_000_000),
        "email": (1, cents100 * 1_000_000 // 5),
        "search": (1, cents100 * 1_000_000 * 2 // 5),
        "direct": (1, cents50 * 1_000_000),
    }


def test_markov_attribution_on_planted_chain(spark, tmp_path):
    """Hand-solvable chain: u1 ad->purchase, u2 ad->drop, u3 email->purchase.
    Full chain: P(conv|START)=2/3. Remove ad: its journeys drop, P=1/3.
    Remove email: P=1/3. Removal effects equal -> shares 0.5/0.5."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_attribution_markov,
    )
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    sf = str(tmp_path)
    ts = [f"2024-01-01 00:0{i}:00" for i in range(4)]
    rows = [
        Row(event_id=1, ts=ts[0], user_id=1, event_type="ad", value=0.0),
        Row(event_id=2, ts=ts[1], user_id=1, event_type="purchase", value=1.0),
        Row(event_id=3, ts=ts[0], user_id=2, event_type="ad", value=0.0),
        Row(event_id=4, ts=ts[0], user_id=3, event_type="email", value=0.0),
        Row(event_id=5, ts=ts[1], user_id=3, event_type="purchase", value=1.0),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.parquet(f"{sf}/events.parquet")
    got = {
        r.channel: r for r in events_attribution_markov(spark, sf).collect()
    }
    assert set(got) == {"ad", "email"}
    # START -> ad (2/3) -> CONV (1/2); START -> email (1/3) -> CONV (1)
    # p_full = 2/3*1/2 + 1/3*1 = 2/3 (micro-truncated)
    assert abs(got["ad"].p_conv_full - 2 / 3) < 2e-6
    # remove ad: START->ad edges go to DROP; only email converts: 1/3
    assert abs(got["ad"].p_conv_removed - 1 / 3) < 2e-6
    # remove email: ad journeys unaffected: 2/3 * 1/2 = 1/3
    assert abs(got["email"].p_conv_removed - 1 / 3) < 2e-6
    assert abs(got["ad"].attribution_share - 0.5) < 2e-6
    assert abs(got["email"].attribution_share - 0.5) < 2e-6


def test_ab_test_z_score_matches_hand_calc(spark, tmp_path):
    """8 users: arm A (even ids) 4 users 3 converted, arm B (odd ids)
    4 users 1 converted. z = (0.75-0.25)/sqrt(0.5*0.5*(1/4+1/4))."""
    sf = str(tmp_path)
    rows = []
    eid = 0
    for uid in range(8):
        eid += 1
        rows.append(
            Row(
                event_id=eid,
                ts="2024-01-01 00:00:00",
                user_id=uid,
                event_type="view",
                value=0.0,
            )
        )
    for uid in (0, 2, 4, 1):  # 3 even converters + 1 odd
        eid += 1
        rows.append(
            Row(
                event_id=eid,
                ts="2024-01-01 00:01:00",
                user_id=uid,
                event_type="purchase",
                value=1.0,
            )
        )
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(f"{sf}/events.parquet")
    r = events_ab_test(spark, sf).collect()[0]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (4, 3, 4, 1)
    want_z = (0.75 - 0.25) / math.sqrt(0.5 * 0.5 * (1 / 4 + 1 / 4))
    assert abs(r.z_score - want_z) < 1e-12
    assert abs(r.p_a - 0.75) < 1e-12 and abs(r.p_b - 0.25) < 1e-12


def test_ab_test_degenerate_arms_yield_null_z(spark, tmp_path):
    """One-arm data (all even user ids): z must be NULL, counts exact."""
    sf = str(tmp_path)
    rows = [
        Row(
            event_id=i,
            ts="2024-01-01 00:00:00",
            user_id=2 * i,
            event_type="view",
            value=0.0,
        )
        for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(f"{sf}/events.parquet")
    r = events_ab_test(spark, sf).collect()[0]
    assert (r.n_a, r.n_b) == (3, 0)
    assert r.z_score is None and r.p_b is None


def _write_events(spark, sf, rows):
    df = spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.write.parquet(f"{sf}/events.parquet")


def test_time_decay_attribution_hand_calc(spark, tmp_path):
    """User 1: click (age 2 days), view (age 0 days), purchase $1.00.
    Weights 2^18 : 2^20 -> credit split exactly 20%/80% of 100e6 micro.
    User 3: touchless purchase $2.00 -> 'direct' gets the full 200e6."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_attribution_time_decay,
    )

    sf = str(tmp_path)
    rows = [
        Row(event_id=1, ts="2024-01-01 00:00:00", user_id=1,
            event_type="click", value=0.0),
        Row(event_id=2, ts="2024-01-03 00:00:00", user_id=1,
            event_type="view", value=0.0),
        Row(event_id=3, ts="2024-01-03 01:00:00", user_id=1,
            event_type="purchase", value=1.0),
        Row(event_id=4, ts="2024-01-05 00:00:00", user_id=3,
            event_type="purchase", value=2.0),
    ]
    _write_events(spark, sf, rows)
    got = {
        r.channel: r
        for r in events_attribution_time_decay(spark, sf).collect()
    }
    assert set(got) == {"click", "view", "direct"}
    # click: age (2d+1h) DIV 1d = 2 -> w=2^18; view: age 0 -> w=2^20
    w_click, w_view = 1 << 18, 1 << 20
    tot = w_click + w_view
    assert got["click"].attributed_micro == 100_000_000 * w_click // tot
    assert got["view"].attributed_micro == 100_000_000 * w_view // tot
    assert got["direct"].attributed_micro == 200_000_000
    assert (
        got["click"].n_credits,
        got["view"].n_credits,
        got["direct"].n_credits,
    ) == (1, 1, 1)


def test_time_decay_conserves_purchase_value_within_truncation(
    spark, tmp_path
):
    """Across many journeys the per-channel micros must sum to the total
    converted value minus at most one micro of DIV truncation per touch."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_attribution_time_decay,
    )

    sf = str(tmp_path)
    rows, eid = [], 0
    n_touch = 0
    for uid in range(20):
        base = 1704067200  # 2024-01-01
        for k in range(uid % 5):
            eid += 1
            n_touch += 1
            rows.append(
                Row(
                    event_id=eid,
                    ts=f"2024-01-0{1 + k % 5} 0{uid % 9}:00:00",
                    user_id=uid,
                    event_type=("click", "view", "signup")[k % 3],
                    value=0.0,
                )
            )
        eid += 1
        rows.append(
            Row(
                event_id=eid,
                ts="2024-01-09 00:00:00",
                user_id=uid,
                event_type="purchase",
                value=float(uid + 1),
            )
        )
    _write_events(spark, sf, rows)
    got = events_attribution_time_decay(spark, sf).collect()
    total_micro = sum(r.attributed_micro for r in got)
    want = sum((uid + 1) * 100 * 1_000_000 for uid in range(20))
    assert want - n_touch <= total_micro <= want


def test_ab_cuped_matches_python_float_reference(spark, tmp_path):
    """Planted per-user (x, y): the engine's mirrored-double outputs must
    equal the same IEEE expression tree computed in Python floats."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ab_cuped,
    )

    sf = str(tmp_path)
    # span 00:00..02:00 -> cut at 01:00; pre events at 00:00, purchases
    # (the Y metric) at 02:00
    xs = {0: 1, 1: 2, 2: 3, 3: 4, 4: 2, 5: 1}
    ys = {0: 0, 1: 1, 2: 1, 3: 2, 4: 2, 5: 0}
    rows, eid = [], 0
    for uid, x in xs.items():
        for _ in range(x):
            eid += 1
            rows.append(
                Row(event_id=eid, ts="2024-01-01 00:00:00", user_id=uid,
                    event_type="view", value=0.0)
            )
        for _ in range(ys[uid]):
            eid += 1
            rows.append(
                Row(event_id=eid, ts="2024-01-01 02:00:00", user_id=uid,
                    event_type="purchase", value=1.0)
            )
    _write_events(spark, sf, rows)
    r = events_ab_cuped(spark, sf).collect()[0]
    # purchases at 02:00 are post-period rows; they do NOT count into x
    n = len(xs)
    sx = sum(xs.values())
    sy = sum(ys.values())
    sxy = sum(xs[u] * ys[u] for u in xs)
    sxx = sum(v * v for v in xs.values())
    syy = sum(v * v for v in ys.values())
    varx = float(n) * float(sxx) - float(sx) * float(sx)
    covxy = float(n) * float(sxy) - float(sx) * float(sy)
    vary = float(n) * float(syy) - float(sy) * float(sy)
    theta = covxy / varx
    a = [u for u in xs if u % 2 == 0]
    b = [u for u in xs if u % 2 == 1]
    mean_x = float(sx) / float(n)
    mean_y_a = float(sum(ys[u] for u in a)) / float(len(a))
    mean_y_b = float(sum(ys[u] for u in b)) / float(len(b))
    mean_x_a = float(sum(xs[u] for u in a)) / float(len(a))
    mean_x_b = float(sum(xs[u] for u in b)) / float(len(b))
    assert (r.n_a, r.n_b) == (len(a), len(b))
    assert r.theta == theta
    assert r.mean_y_a == mean_y_a and r.mean_y_b == mean_y_b
    assert r.diff_raw == mean_y_a - mean_y_b
    want_cuped = (mean_y_a - theta * (mean_x_a - mean_x)) - (
        mean_y_b - theta * (mean_x_b - mean_x)
    )
    assert r.diff_cuped == want_cuped
    assert r.rho2 == (covxy * covxy) / (varx * vary)


def test_ab_cuped_zero_variance_covariate_yields_null_theta(
    spark, tmp_path
):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ab_cuped,
    )

    sf = str(tmp_path)
    rows = []
    for uid in range(4):  # every user: exactly one pre event -> var(X)=0
        rows.append(
            Row(event_id=uid + 1, ts="2024-01-01 00:00:00", user_id=uid,
                event_type="view", value=0.0)
        )
    rows.append(
        Row(event_id=99, ts="2024-01-01 02:00:00", user_id=0,
            event_type="purchase", value=1.0)
    )
    _write_events(spark, sf, rows)
    r = events_ab_cuped(spark, sf).collect()[0]
    assert r.theta is None and r.diff_cuped is None and r.rho2 is None
    assert r.diff_raw is not None  # raw readout still defined


def test_ab_srm_flags_planted_mismatch(spark, tmp_path):
    """90 even users vs 10 odd users: chi2 = (40^2/50)*2 = 64 >> 3.841
    -> flagged; a balanced 10/10 split must NOT flag."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ab_srm,
    )

    sf = str(tmp_path)
    rows = [
        Row(event_id=i + 1, ts="2024-01-01 00:00:00",
            user_id=2 * i if i < 90 else 2 * i + 1,
            event_type="view", value=0.0)
        for i in range(100)
    ]
    _write_events(spark, sf, rows)
    r = events_ab_srm(spark, sf).collect()[0]
    assert (r.n_a, r.n_b) == (90, 10)
    assert r.chi2 == 64.0 and bool(r.srm_flag) is True


def test_ab_srm_balanced_split_not_flagged(spark, tmp_path):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ab_srm,
    )

    sf = str(tmp_path)
    rows = [
        Row(event_id=i + 1, ts="2024-01-01 00:00:00", user_id=i,
            event_type="view", value=0.0)
        for i in range(20)
    ]
    _write_events(spark, sf, rows)
    r = events_ab_srm(spark, sf).collect()[0]
    assert (r.n_a, r.n_b) == (10, 10)
    assert r.chi2 == 0.0 and bool(r.srm_flag) is False


def test_power_mde_matches_hand_formula(spark, tmp_path):
    """20 users, 5 converters: p1=0.25, p2=0.275 -> the two-proportion
    sample-size formula evaluated in Python floats must match exactly."""
    import math

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_power_mde,
    )

    sf = str(tmp_path)
    rows = [
        Row(event_id=i + 1, ts="2024-01-01 00:00:00", user_id=i,
            event_type="purchase" if i < 5 else "view", value=0.0)
        for i in range(20)
    ]
    _write_events(spark, sf, rows)
    r = events_power_mde(spark, sf).collect()[0]
    assert (r.n, r.conv) == (20, 5)
    p1 = 5.0 / 20.0
    p2 = p1 * 1.1
    want = math.ceil(
        7.84888591922985 * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        / ((p2 - p1) * (p2 - p1))
    )
    assert r.p_base == p1 and r.p_target == p2
    assert r.n_required_per_arm == want
    # sanity: a 10% relative lift on a 25% baseline needs thousands per arm
    assert 4000 < want < 6000


def test_power_mde_zero_conversions_yield_null(spark, tmp_path):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_power_mde,
    )

    sf = str(tmp_path)
    rows = [
        Row(event_id=i + 1, ts="2024-01-01 00:00:00", user_id=i,
            event_type="view", value=0.0)
        for i in range(5)
    ]
    _write_events(spark, sf, rows)
    r = events_power_mde(spark, sf).collect()[0]
    assert r.conv == 0 and r.n_required_per_arm is None
    assert r.p_base == 0.0
