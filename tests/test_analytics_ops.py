"""Behavioral tests for the round-5 batch-2 operators: containment dedup,
normalized-exact dedup, char entropy, MAD anomaly, top paths, market-basket
pairs, and the Benford audit. Planted-data tests run the REAL operator body
against a temp table dir (engine parity on driver data is proven separately
by the oracle gate / tools/oracle_check.py)."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import Row

from tests.conftest import SF_SMALL

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _with_docs(spark, rows, fn):
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return fn(d)


def test_containment_flags_doc_embedded_in_larger_doc(spark):
    """A short doc fully embedded in a much longer doc has containment 1.0
    even though Jaccard is far below the near-dup threshold — exactly the
    pair this operator exists to catch (and jaccard_missed marks it)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        JACCARD_THRESHOLD,
        dedup_containment,
    )

    inner = " ".join(f"core{i}" for i in range(12))
    padding = " ".join(f"pad{i}" for i in range(80))
    rows = _with_docs(
        spark,
        [
            (1, inner, "en", "s", 0),
            (2, f"{padding} {inner} {padding}", "en", "s", 0),
            (3, " ".join(f"other{i}" for i in range(30)), "en", "s", 0),
        ],
        lambda d: dedup_containment(spark, d).collect(),
    )
    pairs = {(r.doc_inner, r.doc_outer): r for r in rows}
    assert (1, 2) in pairs, f"embedded doc not flagged: {rows}"
    r = pairs[(1, 2)]
    assert r.containment == pytest.approx(1.0)
    assert r.jaccard < JACCARD_THRESHOLD and r.jaccard_missed
    assert all(3 not in (a, b) for a, b in pairs)


def test_normalized_dedup_merges_case_and_punct_variants(spark):
    """'Hello, WORLD!' and 'hello world' are distinct to raw md5 but one
    group after canonicalization; the histogram shows what the
    normalization pass buys."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_normalized_exact,
    )

    rows = _with_docs(
        spark,
        [
            (1, "Hello, WORLD!", "en", "s", 0),
            (2, "hello world", "en", "s", 0),
            (3, "something else entirely", "en", "s", 0),
        ],
        lambda d: dedup_normalized_exact(spark, d).collect(),
    )
    hist = {r.n_copies: r for r in rows}
    # raw: three singleton groups, no 2-copy group
    assert hist[1].n_groups_raw == 3
    assert 2 not in hist or hist[2].n_groups_raw == 0
    # normalized: docs 1+2 merge -> one 2-copy group, one singleton
    assert hist[2].n_groups_norm == 1
    assert hist[1].n_groups_norm == 1


def test_char_entropy_extremes(spark):
    """Single-letter text has 0 bits; 8 equally frequent letters have
    exactly 3 bits; prose sits in between."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        text_char_entropy,
    )

    rows = _with_docs(
        spark,
        [
            (1, "aaaa aaaa aaaa", "en", "s", 0),
            (2, "abcdefgh", "en", "s", 0),
            (3, "The quick brown fox jumps over the lazy dog", "en", "s", 0),
        ],
        lambda d: text_char_entropy(spark, d).collect(),
    )
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].entropy_bits == pytest.approx(0.0)
    assert by_id[1].n_distinct_chars == 1
    assert by_id[2].entropy_bits == pytest.approx(3.0, abs=1e-4)
    assert 3.0 < by_id[3].entropy_bits < 4.8


EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _with_events(spark, rows, fn):
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        return fn(d)


def test_mad_anomaly_flags_planted_spike(spark):
    """Fourteen ~steady days plus one 100x spike: the spike day is flagged,
    steady days are not (MAD is robust to its own outlier, unlike the
    z-score baseline)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_mad_anomaly,
    )

    rows = []
    eid = 0
    for day in range(1, 15):
        ts = datetime.datetime(2025, 3, day, 12, 0, 0)
        val = 10.0 + (day % 3)  # 10, 11 or 12 dollars
        rows.append((eid, ts, 1, "purchase", val, "{}"))
        eid += 1
    rows.append(
        (eid, datetime.datetime(2025, 3, 15, 12, 0, 0), 1, "purchase", 1000.0, "{}")
    )
    out = _with_events(
        spark, rows, lambda d: events_mad_anomaly(spark, d).collect()
    )
    flagged = {r.day for r in out if r.is_anomaly}
    assert flagged == {datetime.date(2025, 3, 15)}, out


def test_top_paths_counts_planted_trigrams(spark):
    """A user looping A,B,C twice produces A>B>C twice (the top path) and
    each wrap-around trigram once; a second user's unrelated singleton
    stream adds no 3-step path."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_top_paths,
    )

    seq = ["A", "B", "C", "A", "B", "C"]
    rows = [
        (i, datetime.datetime(2025, 1, 1, 0, 0, i), 1, et, 0.0, "{}")
        for i, et in enumerate(seq)
    ]
    rows.append((99, datetime.datetime(2025, 1, 1, 1, 0, 0), 2, "Z", 0.0, "{}"))
    out = _with_events(
        spark, rows, lambda d: events_top_paths(spark, d).collect()
    )
    counts = {r.path: r.n_occurrences for r in out}
    assert counts["A>B>C"] == 2
    assert counts["B>C>A"] == 1 and counts["C>A>B"] == 1
    assert out[0].path == "A>B>C"  # top by count, deterministic order
    assert all("Z" not in p for p in counts)


def test_basket_pairs_support_and_lift(spark):
    """Two orders {1,2,3} and {1,2}: pair (1,2) co-occurs twice with
    support 1.0 and lift 1.0; pairs with part 3 co-occur once with lift 1.0
    (3 appears in half the orders)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.retail import (
        basket_part_pairs,
    )

    li = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (20, 1), (20, 2)],
        "l_orderkey long, l_partkey long",
    )
    with tempfile.TemporaryDirectory() as d:
        li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = basket_part_pairs(spark, d).collect()
    by_pair = {(r.part_a, r.part_b): r for r in out}
    top = out[0]
    assert (top.part_a, top.part_b) == (1, 2) and top.n_both == 2
    assert top.support == pytest.approx(1.0)
    assert top.lift == pytest.approx(1.0)  # 2*2/(2*2)
    assert by_pair[(1, 3)].n_both == 1
    assert by_pair[(1, 3)].lift == pytest.approx(1.0)  # 1*2/(2*1)


def test_benford_shape_on_testdata(spark):
    """Digits 1..9 only, frequencies sum to 1, the expectation column is
    the Benford table, and every chi-square contribution is finite and
    non-negative."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.retail import (
        BENFORD_P,
        qc_benford_totalprice,
    )

    rows = qc_benford_totalprice(spark, SF_SMALL).collect()
    assert 1 <= len(rows) <= 9
    assert all(1 <= r.digit <= 9 for r in rows)
    assert sum(r.freq for r in rows) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        assert r.benford_p == pytest.approx(round(BENFORD_P[r.digit], 6))
        assert r.chi2_contrib >= 0.0


def test_label_propagation_consensus_overrules_minority(spark):
    """Three near-identical docs labeled en/en/de: the de doc adopts the
    cluster's majority label; an isolated doc keeps its seed label."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_label_propagation,
    )

    base = " ".join(f"token{i}" for i in range(40))
    rows = _with_docs(
        spark,
        [
            (1, base, "en", "s", 0),
            (2, base + " extra", "en", "s", 0),
            (3, base + " tail", "de", "s", 0),
            (4, " ".join(f"island{i}" for i in range(30)), "fr", "s", 0),
        ],
        lambda d: corpus_label_propagation(spark, d).collect(),
    )
    by_id = {r.doc_id: r for r in rows}
    assert by_id[3].final_label == "en" and by_id[3].changed
    assert by_id[1].final_label == "en" and not by_id[1].changed
    assert by_id[4].final_label == "fr" and not by_id[4].changed


def test_importance_weights_prefer_target_like_docs(spark):
    """Docs written in the target language's bigram distribution score a
    higher log-likelihood ratio than docs whose bigrams never occur in the
    target slice."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_importance_weights,
    )

    en = "the cat sat on the mat and the dog sat on the rug"
    de = "der hund lief schnell durch den park und der vogel sang"
    rows = _with_docs(
        spark,
        [
            (1, en, "en", "s", 0),
            (2, "the cat sat on the rug and the dog sat happily", "en", "s", 0),
            (3, de, "de", "s", 0),
            (4, "der vogel lief durch den park und der hund sang", "de", "s", 0),
        ],
        lambda d: corpus_importance_weights(spark, d).collect(),
    )
    by_id = {r.doc_id: r for r in rows}
    worst_en = min(by_id[1].avg_loglr, by_id[2].avg_loglr)
    best_de = max(by_id[3].avg_loglr, by_id[4].avg_loglr)
    assert worst_en > best_de, rows
    assert all(by_id[i].lang == ("en" if i <= 2 else "de") for i in by_id)


def test_readability_simple_beats_runon(spark):
    """Short-sentence, short-word text scores a higher Flesch ease than a
    long single-sentence polysyllabic run-on."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        text_readability,
    )

    simple = "See spot run. See spot jump. The dog is fun."
    runon = (
        "Notwithstanding considerable organizational complexities the "
        "interdisciplinary implementation committee deliberately "
        "prioritized comprehensive infrastructural modernization "
        "initiatives without appropriate stakeholder authorization"
    )
    rows = _with_docs(
        spark,
        [(1, simple, "en", "s", 0), (2, runon, "en", "s", 0)],
        lambda d: text_readability(spark, d).collect(),
    )
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].flesch > 70 > by_id[2].flesch
    assert by_id[1].n_sentences == 3
    assert by_id[2].n_sentences == 1  # floored at 1: no terminal punctuation
    assert by_id[2].n_syllables > by_id[2].n_words  # polysyllabic


def test_rrf_fusion_shape_and_bounds(spark):
    """Fused list: at most ANN_K rows, query vector excluded, scores in
    (0, 2/61], descending, and every contributing rank within 1..FUSE_N."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ANN_K,
        FUSE_N,
        ann_rrf_fusion,
    )

    rows = ann_rrf_fusion(spark, SF_SMALL).collect()
    assert 1 <= len(rows) <= ANN_K
    assert all(r.vec_id != 0 for r in rows)
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 < s <= round(2.0 / 61.0, 6) + 1e-9 for s in scores)
    for r in rows:
        for rk in (r.rank_cos, r.rank_int8):
            assert rk is None or 1 <= rk <= FUSE_N


def test_windowed_funnel_enforces_conversion_windows(spark):
    """User A converts fully in-window; user B's click comes 31 minutes
    after the view (outside the 30-minute window) so B stops at 'view';
    user C clicked BEFORE viewing but again in-window after it — the
    windowed funnel counts C's qualifying click, not the early one."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.cohorts import (
        events_funnel_windowed,
    )

    t0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: view -> click(+10m) -> purchase(+2h after click)
        (1, at(0), 1, "view", 0.0, "{}"),
        (2, at(10), 1, "click", 0.0, "{}"),
        (3, at(130), 1, "purchase", 0.0, "{}"),
        # user 2: view -> click at +31m (out of window)
        (4, at(0), 2, "view", 0.0, "{}"),
        (5, at(31), 2, "click", 0.0, "{}"),
        # user 3: click BEFORE view, then in-window click; no purchase
        (6, at(-5), 3, "click", 0.0, "{}"),
        (7, at(0), 3, "view", 0.0, "{}"),
        (8, at(20), 3, "click", 0.0, "{}"),
    ]
    out = _with_events(
        spark, rows, lambda d: events_funnel_windowed(spark, d).collect()
    )
    by_step = {r.step: r for r in out}
    assert by_step["view"].n_users == 3
    assert by_step["click"].n_users == 2  # users 1 and 3
    assert by_step["purchase"].n_users == 1  # user 1
    assert by_step["view"].rate_from_prev is None
    assert abs(by_step["click"].rate_from_prev - 2 / 3) < 1e-5
    assert by_step["purchase"].rate_from_prev == 0.5


def test_markov_transitions_rows_sum_to_one(spark):
    """Planted stream A->B->A->B for one user: P(B|A)=1, P(A|B)=1; per-row
    probabilities are exact micro-rounded rationals and each from_type's
    distribution sums to ~1."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_markov_transitions,
    )

    seq = ["A", "B", "A", "B", "A"]
    rows = [
        (i, datetime.datetime(2025, 1, 1, 0, 0, i), 7, et, 0.0, "{}")
        for i, et in enumerate(seq)
    ]
    out = _with_events(
        spark, rows, lambda d: events_markov_transitions(spark, d).collect()
    )
    probs = {(r.from_type, r.to_type): r.p for r in out}
    assert probs[("A", "B")] == 1.0 and probs[("B", "A")] == 1.0
    sums: dict[str, float] = {}
    for r in out:
        sums[r.from_type] = sums.get(r.from_type, 0.0) + r.p
    assert all(abs(s - 1.0) < 1e-4 for s in sums.values())


def test_minhash_est_error_identical_docs_agree_fully(spark):
    """Two identical docs: all 8 minhash coordinates agree (est 1.0) and
    the true Jaccard is 1.0, so the estimator error is 0."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_minhash_est_error,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    rows = _with_docs(
        spark,
        [
            (1, base, "en", "s", 0),
            (2, base, "en", "s", 0),
            (3, " ".join(f"other{i}" for i in range(30)), "en", "s", 0),
        ],
        lambda d: dedup_minhash_est_error(spark, d).collect(),
    )
    pairs = {(r.doc_a, r.doc_b): r for r in rows}
    r = pairs[(1, 2)]
    assert r.n_agree == 8 and r.est_jaccard == 1.0
    assert r.true_jaccard == 1.0 and r.abs_err == 0.0


def test_autocorr_perfect_alternation_is_minus_one(spark):
    """A strictly alternating daily series (10, 20, 10, 20, ...) has lag-1
    autocorrelation exactly -1 and lag-7 (odd offset over an alternating
    series) also -1; values are exact integers so the oracle-identical
    moment arithmetic must land on -1.0 precisely, not approximately."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_autocorr,
    )

    rows = [
        (day, datetime.datetime(2025, 3, day + 1, 12, 0, 0), 1, "click",
         10.0 if day % 2 == 0 else 20.0, "{}")
        for day in range(14)
    ]
    out = _with_events(spark, rows, lambda d: events_autocorr(spark, d).collect())
    by_lag = {r.lag: r for r in out}
    assert by_lag[1].n_pairs == 13 and by_lag[1].acf == -1.0
    assert by_lag[7].n_pairs == 7 and by_lag[7].acf == -1.0


def test_autocorr_constant_series_is_null(spark):
    """Zero variance -> ACF undefined -> NULL (not NaN, not 0)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_autocorr,
    )

    rows = [
        (day, datetime.datetime(2025, 3, day + 1, 12, 0, 0), 1, "click", 5.0, "{}")
        for day in range(10)
    ]
    out = _with_events(spark, rows, lambda d: events_autocorr(spark, d).collect())
    assert all(r.acf is None for r in out)


def test_seasonal_naive_uses_calendar_offset_not_row_lag(spark):
    """With a gap day in the series, the forecast for day d must come from
    day d-7 (calendar), NOT seven observations back. Days whose d-7 was
    never observed are not scored."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_seasonal_naive,
    )

    rows = []
    eid = 0
    # days 1..16 except day 5 missing; value = day dollars
    for day in range(1, 17):
        if day == 5:
            continue
        rows.append(
            (eid, datetime.datetime(2025, 3, day, 12, 0, 0), 1, "buy",
             float(day), "{}")
        )
        eid += 1
    out = _with_events(
        spark, rows, lambda d: events_seasonal_naive(spark, d).collect()
    )
    (r,) = out
    # scored days: d in 8..16 with d-7 observed -> d != 12 (5 missing), d != 5
    # -> days 8,9,10,11,13,14,15,16 = 8 scored days, each |d - (d-7)|*100 = 700
    assert r.n_scored == 8
    assert r.sum_abs_err_cents == 8 * 700
    assert r.mae_cents == 700.0


def test_dwell_time_gap_attribution_and_order(spark):
    """Gaps attach to the PRECEDING event's type; the last event of a user
    has no gap. Planted: A at t=0, B at t=10, A at t=40 -> gap 10 under A,
    gap 30 under B."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_dwell_time,
    )

    t0 = datetime.datetime(2025, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, "A", 0.0, "{}"),
        (2, t0 + datetime.timedelta(seconds=10), 7, "B", 0.0, "{}"),
        (3, t0 + datetime.timedelta(seconds=40), 7, "A", 0.0, "{}"),
    ]
    out = _with_events(spark, rows, lambda d: events_dwell_time(spark, d).collect())
    by_type = {r.event_type: r for r in out}
    assert by_type["A"].n_gaps == 1 and by_type["A"].p50_s == 10.0
    assert by_type["B"].n_gaps == 1 and by_type["B"].max_gap_s == 30
    assert "A" in by_type and len(by_type) == 2


ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _with_orders(spark, rows, fn):
    df = spark.createDataFrame(rows, ORDERS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        return fn(d)


def _order_row(key, price, year):
    return (key, 1, "O", price, datetime.datetime(year, 6, 1), "1-URGENT")


def test_ks_identical_windows_is_zero_and_disjoint_is_one(spark):
    """Same distribution in both windows -> D = 0; fully disjoint price
    ranges -> D = 1 (the ECDFs separate completely at the gap)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_drift_ks,
    )

    same = [_order_row(i, 1000.0 * (i % 5), 1994 if i % 2 else 1997)
            for i in range(40)]
    (r,) = _with_orders(spark, same, lambda d: qc_drift_ks(spark, d).collect())
    assert r.ks_num == 0 and r.ks_stat == 0.0

    # ref all < 5000, cur all >= 100_000 (different KS grid buckets)
    disjoint = [_order_row(i, 100.0, 1994) for i in range(20)] + [
        _order_row(100 + i, 200_000.0, 1997) for i in range(30)
    ]
    (r,) = _with_orders(
        spark, disjoint, lambda d: qc_drift_ks(spark, d).collect()
    )
    assert r.t_ref == 20 and r.t_cur == 30
    assert r.ks_num == 20 * 30 and r.ks_stat == 1.0


def test_psi_identical_windows_is_zero_and_shift_is_positive(spark):
    """Equal per-bucket shares -> every PSI term is exactly 0 (ln(1) = 0
    survives the fixed-point rounding); a mass shift produces strictly
    positive terms in the buckets that gained or lost share."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_drift_psi,
    )

    same = [_order_row(i, 60_000.0 * (i % 3), 1994 if i % 2 else 1997)
            for i in range(60)]
    out = _with_orders(spark, same, lambda d: qc_drift_psi(spark, d).collect())
    assert out and all(r.psi_term == 0.0 for r in out)

    shifted = [_order_row(i, 10_000.0, 1994) for i in range(30)] + [
        _order_row(100 + i, 120_000.0, 1997) for i in range(30)
    ]
    out = _with_orders(
        spark, shifted, lambda d: qc_drift_psi(spark, d).collect()
    )
    by_bucket = {r.bucket: r for r in out}
    assert by_bucket[0].psi_term > 0 and by_bucket[2].psi_term > 0


PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double"
)
LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)


def _with_lineitem_part(spark, li_rows, part_rows, fn):
    li = spark.createDataFrame(li_rows, LINEITEM_SCHEMA)
    pt = spark.createDataFrame(part_rows, PART_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        pt.write.mode("overwrite").parquet(f"{d}/part.parquet")
        return fn(d)


def _li_row(key, partkey, qty, price, disc):
    return (key, partkey, 1, 1, qty, price, disc, 0.0, "N", "O",
            datetime.datetime(1995, 6, 1))


def test_abc_classes_split_exactly_at_80_and_95(spark):
    """Planted revenue 80/15/5 across three brands: the 80% brand is A
    (boundary INCLUSIVE, compared as exact integer rationals), the brand
    reaching cumulative 95% is B, the tail is C."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.retail import (
        q42_abc_analysis,
    )

    parts = [(1, "pa", "BRAND_A", "t", 1, 1.0),
             (2, "pb", "BRAND_B", "t", 1, 1.0),
             (3, "pc", "BRAND_C", "t", 1, 1.0)]
    lis = [_li_row(1, 1, 1.0, 80.0, 0.0),
           _li_row(2, 2, 1.0, 15.0, 0.0),
           _li_row(3, 3, 1.0, 5.0, 0.0)]
    out = _with_lineitem_part(
        spark, lis, parts, lambda d: q42_abc_analysis(spark, d).collect()
    )
    cls = {r.p_brand: r.abc_class for r in out}
    assert cls == {"BRAND_A": "A", "BRAND_B": "B", "BRAND_C": "C"}
    shares = {r.p_brand: r.cum_share for r in out}
    assert shares["BRAND_A"] == 0.8 and shares["BRAND_C"] == 1.0


def test_elasticity_slope_recovers_planted_line(spark):
    """Points exactly on y = 0.1·x (x in basis points): slope_num/slope_den
    = 0.1 qty/bp, reported as 10 qty per PERCENTAGE POINT of discount."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.retail import (
        q43_elasticity_slope,
    )

    parts = [(1, "p", "BRAND_X", "t", 1, 1.0)]
    lis = [_li_row(i, 1, 10.0 * i, 100.0, 0.01 * i) for i in (1, 2, 3)]
    out = _with_lineitem_part(
        spark, lis, parts, lambda d: q43_elasticity_slope(spark, d).collect()
    )
    (r,) = out
    assert r.slope_num / r.slope_den == 0.1
    assert r.qty_per_pct_discount == 10.0


def test_ewma_constant_series_is_flat_and_spike_decays_by_halves(spark):
    """On a constant series the EWMA equals the series; after a spike the
    excess decays by exactly half per day (dyadic alpha=1/2 weights)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ewma,
    )

    rows = []
    for day in range(1, 11):
        val = 110.0 if day == 8 else 10.0  # +100 dollar spike on day 8
        rows.append(
            (day, datetime.datetime(2025, 3, day, 12, 0, 0), 1, "buy", val, "{}")
        )
    out = _with_events(spark, rows, lambda d: events_ewma(spark, d).collect())
    by_day = {r.day.day: r.ewma_cents for r in out}
    assert by_day[7] == 1000.0  # constant prefix -> ewma == value
    # day 8: num adds 10000*64 over den 127 -> 1000 + 10000*64/127 excess
    expected8 = (64 * 11000 + 63 * 1000) / 127
    assert abs(by_day[8] - expected8) < 1e-3
    # spike weight halves the next day (64 -> 32)
    expected9 = (32 * 11000 + 95 * 1000) / 127
    assert abs(by_day[9] - expected9) < 1e-3


def test_retention_bitmap_matches_planted_activity(spark):
    """Three users: A active days 0,1,3; B active days 0,3; C active day 1
    only (not in day-0 cohort). Retained-at-k counts users with BOTH bit 0
    and bit k set: k0=2 (A,B), k1=1 (A), k2=0, k3=2 (A,B)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_retention_bitmap,
    )

    def ev(eid, day, user):
        return (eid, datetime.datetime(2025, 4, 1 + day, 12, 0, 0), user,
                "click", 1.0, "{}")

    rows = [ev(1, 0, 1), ev(2, 1, 1), ev(3, 3, 1),
            ev(4, 0, 2), ev(5, 3, 2),
            ev(6, 1, 3)]
    out = _with_events(
        spark, rows, lambda d: events_retention_bitmap(spark, d).collect()
    )
    curve = {r.k: r.n_retained for r in out}
    assert curve == {0: 2, 1: 1, 2: 0, 3: 2}


def test_ohlc_open_close_follow_event_order_not_value(spark):
    """Open is the FIRST event's value in the hour and close the LAST
    (by ts then event_id), independent of magnitude; high/low are the
    extremes. Two events share a timestamp to exercise the event_id
    tiebreak."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_ohlc,
    )

    t0 = datetime.datetime(2025, 5, 1, 10, 0, 0)
    rows = [
        (2, t0, 1, "trade", 50.0, "{}"),               # same ts, higher id
        (1, t0, 1, "trade", 30.0, "{}"),               # open (same ts, lower id)
        (3, t0 + datetime.timedelta(minutes=10), 1, "trade", 99.0, "{}"),  # high
        (4, t0 + datetime.timedelta(minutes=20), 1, "trade", 5.0, "{}"),   # low
        (5, t0 + datetime.timedelta(minutes=30), 1, "trade", 42.0, "{}"),  # close
    ]
    out = _with_events(spark, rows, lambda d: events_ohlc(spark, d).collect())
    (r,) = out
    assert (r.open_cents, r.high_cents, r.low_cents, r.close_cents) == (
        3000, 9900, 500, 4200)
    assert r.n_events == 5


def test_ks_empty_table_returns_single_null_row(spark):
    """Global-aggregate shape: an empty orders table yields ONE all-null
    row (not zero rows) — the oracle SQL was shaped to match (no GROUP
    BY), so both engines agree on the degenerate case."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_drift_ks,
    )

    empty = spark.createDataFrame([], ORDERS_SCHEMA)
    with tempfile.TemporaryDirectory() as d:
        empty.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        out = qc_drift_ks(spark, d).collect()
    assert len(out) == 1
    assert out[0].ks_num is None and out[0].ks_stat is None


def test_streaks_and_bounce_on_planted_sessions(spark):
    """Streaks: user 1 active days 1-3 then day 5 (longest 3), user 2
    active day 1 only (longest 1). Bounce: a lone event is a bounce for
    its own type; a 2-event session entered via A is not."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_activity_streaks,
        events_bounce_rate,
    )

    def ev(eid, day, hour, user, typ):
        return (eid, datetime.datetime(2025, 6, day, hour, 0, 0), user,
                typ, 1.0, "{}")

    rows = [
        ev(1, 1, 9, 1, "A"), ev(2, 2, 9, 1, "A"), ev(3, 3, 9, 1, "A"),
        ev(4, 5, 9, 1, "A"),
        ev(5, 1, 9, 2, "B"),
    ]
    streaks = _with_events(
        spark, rows, lambda d: events_activity_streaks(spark, d).collect()
    )
    hist = {r.longest_streak: r.n_users for r in streaks}
    assert hist == {1: 1, 3: 1}

    # sessions: user 1 day-1 9:00 A alone (bounce); user 1 day-2: A at 9:00
    # + Z at 9:10 (same session, entry A, not a bounce)
    rows2 = [
        ev(1, 1, 9, 1, "A"),
        ev(2, 2, 9, 1, "A"),
        (3, datetime.datetime(2025, 6, 2, 9, 10, 0), 1, "Z", 1.0, "{}"),
    ]
    bounce = _with_events(
        spark, rows2, lambda d: events_bounce_rate(spark, d).collect()
    )
    by_type = {r.entry_type: r for r in bounce}
    assert by_type["A"].n_sessions == 2 and by_type["A"].n_bounces == 1
    assert by_type["A"].bounce_rate == 0.5
    assert "Z" not in by_type


def test_mutual_info_independent_and_dependent_cells(spark):
    """Perfectly dependent planted data (type A only at hour 9, B only at
    hour 17, equal counts): each observed cell's term is p*ln(1/p) =
    0.5*ln(2) > 0. Independent data (both types uniform over both hours):
    every term is exactly 0 after fixed-pointing ln(1)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_mutual_info,
    )

    dep = []
    for i in range(10):
        dep.append((i, datetime.datetime(2025, 7, 1, 9, 0, i), 1, "A", 1.0, "{}"))
        dep.append((100 + i, datetime.datetime(2025, 7, 1, 17, 0, i), 1, "B",
                    1.0, "{}"))
    out = _with_events(spark, dep, lambda d: events_mutual_info(spark, d).collect())
    import math
    for r in out:
        assert abs(r.mi_term - 0.5 * math.log(2)) < 1e-5, r

    ind = []
    eid = 0
    for typ in ("A", "B"):
        for hod in (9, 17):
            for i in range(5):
                ind.append((eid, datetime.datetime(2025, 7, 1, hod, 0, i), 1,
                            typ, 1.0, "{}"))
                eid += 1
    out = _with_events(spark, ind, lambda d: events_mutual_info(spark, d).collect())
    assert all(r.mi_term == 0.0 for r in out)


def test_wow_change_signs_and_first_week_null(spark):
    """Weeks with 100, 150, 75 dollars: +50% then -50%; the first week has
    no previous and reports NULL."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_wow_change,
    )

    rows = [
        (1, datetime.datetime(2025, 6, 2, 12, 0, 0), 1, "buy", 100.0, "{}"),
        (2, datetime.datetime(2025, 6, 9, 12, 0, 0), 1, "buy", 150.0, "{}"),
        (3, datetime.datetime(2025, 6, 16, 12, 0, 0), 1, "buy", 75.0, "{}"),
    ]
    out = _with_events(spark, rows, lambda d: events_wow_change(spark, d).collect())
    assert [r.pct_change for r in out] == [None, 50.0, -50.0]


def test_new_vs_returning_classifies_first_day_only(spark):
    """User 1 active on days 1 and 2, user 2 on day 2 only: day 1 = 1 new,
    day 2 = 1 new (user 2) + 1 returning (user 1)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_new_vs_returning,
    )

    rows = [
        (1, datetime.datetime(2025, 8, 1, 9, 0, 0), 1, "A", 1.0, "{}"),
        (2, datetime.datetime(2025, 8, 2, 9, 0, 0), 1, "A", 1.0, "{}"),
        (3, datetime.datetime(2025, 8, 2, 10, 0, 0), 2, "A", 1.0, "{}"),
    ]
    out = _with_events(
        spark, rows, lambda d: events_new_vs_returning(spark, d).collect()
    )
    by_day = {r.day.day: (r.n_new, r.n_returning) for r in out}
    assert by_day == {1: (1, 0), 2: (1, 1)}


def test_revenue_concentration_whale_carries_the_share(spark):
    """Nine $1 users and one $91 whale: p99 threshold isolates the whale
    (share 0.91); p50 includes at least half the users and a share >= the
    whale's."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_revenue_concentration,
    )

    rows = [
        (u, datetime.datetime(2025, 8, 1, 9, 0, u), u, "buy", 1.0, "{}")
        for u in range(1, 10)
    ]
    rows.append((99, datetime.datetime(2025, 8, 1, 10, 0, 0), 10, "buy",
                 91.0, "{}"))
    out = _with_events(
        spark, rows, lambda d: events_revenue_concentration(spark, d).collect()
    )
    by_pct = {r.pct: r for r in out}
    assert by_pct[0.99].n_users == 1 and by_pct[0.99].revenue_share == 0.91
    assert by_pct[0.5].n_users >= 5
    assert by_pct[0.5].revenue_share >= 0.91


def test_audience_overlap_jaccard_on_planted_audiences(spark):
    """Types A={1,2,3}, B={2,3,4}: |A∩B|=2, |A∪B|=4 -> jaccard 0.5; a
    type C with a disjoint audience never pairs above zero (and pairs
    with no shared user produce no row at all)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.timeseries import (
        events_audience_overlap,
    )

    rows = []
    eid = 0
    for u in (1, 2, 3):
        rows.append((eid, datetime.datetime(2025, 8, 1, 9, 0, eid), u, "A",
                     1.0, "{}")); eid += 1
    for u in (2, 3, 4):
        rows.append((eid, datetime.datetime(2025, 8, 1, 10, 0, eid), u, "B",
                     1.0, "{}")); eid += 1
    rows.append((eid, datetime.datetime(2025, 8, 1, 11, 0, 0), 99, "C",
                 1.0, "{}"))
    out = _with_events(
        spark, rows, lambda d: events_audience_overlap(spark, d).collect()
    )
    pairs = {(r.type_a, r.type_b): r for r in out}
    assert set(pairs) == {("A", "B")}
    r = pairs[("A", "B")]
    assert (r.n_a, r.n_b, r.n_both, r.jaccard) == (3, 3, 2, 0.5)


def test_wasserstein_point_mass_shift_is_the_price_gap(spark):
    """Point masses 4 grid steps apart: W1 must equal the bucket-quantized
    price gap exactly — which requires counting the EMPTY buckets between
    them (the densification this query exists for; KS would report 1.0 and
    say nothing about distance)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        _KS_BUCKET,
        qc_drift_wasserstein,
    )

    rows = [_order_row(i, 10_000.0, 1994) for i in range(10)] + [
        _order_row(100 + i, 30_000.0, 1997) for i in range(10)
    ]
    (r,) = _with_orders(
        spark, rows, lambda d: qc_drift_wasserstein(spark, d).collect()
    )
    assert r.t_ref == 10 and r.t_cur == 10
    # buckets 2..6 inclusive -> 5 grid rows, 4 of them with ECDF gap 1
    assert r.grid_buckets == 5
    assert r.w1_num == 4 * 10 * 10
    assert r.w1_dollars == 4.0 * _KS_BUCKET == 20_000.0


def test_wasserstein_identical_windows_is_zero(spark):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_drift_wasserstein,
    )

    same = [
        _order_row(i, 1000.0 * (i % 5), 1994 if i % 2 else 1997)
        for i in range(40)
    ]
    (r,) = _with_orders(
        spark, same, lambda d: qc_drift_wasserstein(spark, d).collect()
    )
    assert r.w1_num == 0 and r.w1_dollars == 0.0


def test_target_encoding_out_of_fold_hand_calc(spark, tmp_path):
    """Two categories, 2 folds, hand-checkable counts: the encode must
    exclude the fold's own rows and smooth toward the global rate."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.retail import (
        TE_SMOOTH_M,
        ml_target_encoding,
    )

    sf = str(tmp_path)
    rows = []
    k = 0
    # category A: fold0 4 rows 3 pos, fold1 6 rows 1 pos (via key parity
    # against TE_FOLDS=5 -> use keys 0/5 mod 5 => folds 0; build folds
    # explicitly with keys congruent to the fold index)
    def add(cat, fold, n, npos):
        nonlocal k
        for i in range(n):
            key = fold + 5 * (k + 1)
            k += 1
            rows.append(
                Row(
                    o_orderkey=key,
                    o_orderpriority=cat,
                    o_orderstatus="F" if i < npos else "O",
                )
            )

    add("A", 0, 4, 3)
    add("A", 1, 6, 1)
    add("B", 0, 5, 0)
    add("B", 1, 5, 5)
    spark.createDataFrame(rows).write.parquet(f"{sf}/orders.parquet")
    got = {
        (r.category, r.fold): r
        for r in ml_target_encoding(spark, sf).collect()
    }
    g_cnt, g_pos = 20, 9
    cells = {("A", 0): (4, 3), ("A", 1): (6, 1),
             ("B", 0): (5, 0), ("B", 1): (5, 5)}
    for (cat, fold), (cnt, pos) in cells.items():
        cat_cnt = sum(c for (c2, _), (c, _) in cells.items() if c2 == cat)
        cat_pos = sum(p for (c2, _), (_, p) in cells.items() if c2 == cat)
        oof_cnt, oof_pos = cat_cnt - cnt, cat_pos - pos
        want = (
            (oof_pos * g_cnt + TE_SMOOTH_M * g_pos) * 1_000_000
        ) // ((oof_cnt + TE_SMOOTH_M) * g_cnt)
        r = got[(cat, fold)]
        assert r.n_oof == oof_cnt
        assert r.enc_micro == want, ((cat, fold), r.enc_micro, want)
    # leakage control: A-fold0's encode uses ONLY A-fold1's rows — its
    # oof rate (1/6) sits below fold0's own rate (3/4); the smoothed
    # encode must be below the own-fold rate
    assert got[("A", 0)].enc_micro < 750_000
