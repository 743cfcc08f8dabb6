"""Oracle-graded constraint-suite query.

Bridges the Deequ-style declarative suite (`quality/constraints.py`,
SURVEY tag QC5) into the value-exact oracle gate: one representative
suite over the star tables — row-level checks compiled into a single
aggregate pass, a key-uniqueness shuffle, and an FK anti-join — emitted
as ``(constraint, violations)`` rows that DuckDB recomputes with plain
COUNT/CASE SQL. The reference has no constraint layer at all (its QC is
profile-based, src/quality_checks.py:105-130); this query is the proof
the suite's counters mean exactly what the equivalent SQL says.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..quality.constraints import (
    accepted_values,
    foreign_key,
    in_range,
    not_null,
    satisfies,
    unique,
    validation_frame,
)
from ..sources import read_table
from .registry import QuerySpec, register


def qc_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    suite = [
        not_null("o_orderkey"),
        in_range("o_totalprice", 0, 1_000_000),
        accepted_values("o_orderstatus", ("F", "O", "P")),
        satisfies(
            "order_in_decade",
            (F.year("o_orderdate") >= 1992) & (F.year("o_orderdate") <= 1999),
        ),
        unique("o_orderkey"),
        foreign_key("o_custkey", customer, "c_custkey"),
    ]
    return (
        validation_frame(orders, suite)
        # "constraint" is an ANSI reserved word; export a neutral name
        .select(F.col("constraint").alias("check_name"), "violations")
        .orderBy("check_name")
    )


QC_CONSTRAINT_SUITE_SQL = """
SELECT * FROM (
  SELECT 'not_null(o_orderkey)' AS check_name,
    CAST(COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT) AS violations
  FROM orders
  UNION ALL
  SELECT 'in_range(o_totalprice,0,1000000)',
    CAST(COUNT(CASE WHEN o_totalprice IS NULL
                      OR o_totalprice < 0
                      OR o_totalprice > 1000000 THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'accepted_values(o_orderstatus)',
    CAST(COUNT(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'satisfies(order_in_decade)',
    CAST(COUNT(CASE WHEN NOT COALESCE(
      YEAR(o_orderdate) >= 1992 AND YEAR(o_orderdate) <= 1999, FALSE)
      THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique(o_orderkey)',
    CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
  UNION ALL
  SELECT 'foreign_key(o_custkey)',
    CAST(COUNT(*) AS BIGINT)
  FROM orders
  WHERE o_custkey IS NOT NULL
    AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
)
ORDER BY check_name
"""


register(
    QuerySpec(
        "qc_constraint_suite",
        qc_constraint_suite,
        QC_CONSTRAINT_SUITE_SQL,
        ("Q4",),
        doc="Deequ-style constraint suite as oracle-graded (constraint, violations) rows",
    )
)


# --------------------------------------------------------------------------
# Distribution drift: chi-square statistic between a reference window and
# the current window of the same table — the monitoring check a training-
# data pipeline runs before trusting a new ingest. Chi-square (not PSI/KL)
# on purpose: only +,*,/ arithmetic, no transcendental functions, so both
# engines produce IEEE-identical doubles and the oracle compare is exact.
# Bucketing is integer math on whole dollars. One scan, one small agg.
# --------------------------------------------------------------------------
_DRIFT_SPLIT_YEAR = 1995  # <= split -> reference window, > split -> current
_DRIFT_BUCKET = 50_000  # whole-dollar bucket width


def _drift_counts(spark: SparkSession, sf_dir: str, width: int) -> DataFrame:
    """THE drift grid all three monitors (chi², KS, PSI) read: per price
    bucket of ``width`` whole dollars, row counts in the reference
    (year <= split) and current (year > split) windows. One copy so the
    grid definition can never desynchronize across the trio."""
    orders = read_table(spark, sf_dir, "orders")
    bucketed = orders.select(
        F.expr(f"CAST(FLOOR(o_totalprice) AS BIGINT) DIV {width}").alias(
            "bucket"
        ),
        (F.year("o_orderdate") <= _DRIFT_SPLIT_YEAR).alias("is_ref"),
    )
    return bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("n_cur"),
    )


def _drift_counts_sql(width: int) -> str:
    """DuckDB twin of :func:`_drift_counts`: ``bucketed``/``counts`` CTEs."""
    return f"""bucketed AS (
  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // {width} AS bucket,
         YEAR(o_orderdate) <= {_DRIFT_SPLIT_YEAR} AS is_ref
  FROM orders
),
counts AS (
  SELECT bucket,
    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket
)"""


def qc_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _drift_counts(spark, sf_dir, _DRIFT_BUCKET)
    totals = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    return (
        counts.join(F.broadcast(totals))
        .filter(F.col("n_ref") > 0)  # buckets unseen in reference are reported raw
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.round(
                (
                    F.col("n_cur").cast("double")
                    - F.col("t_cur").cast("double")
                    * F.col("n_ref")
                    / F.col("t_ref")
                )
                ** 2
                / (
                    F.col("t_cur").cast("double")
                    * F.col("n_ref")
                    / F.col("t_ref")
                ),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("bucket")
    )


QC_DRIFT_CHI2_SQL = f"""
WITH {_drift_counts_sql(_DRIFT_BUCKET)},
totals AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM counts
)
SELECT bucket, n_ref, n_cur,
  ROUND(
    POW(CAST(n_cur AS DOUBLE) - CAST(t_cur AS DOUBLE) * n_ref / t_ref, 2)
      / (CAST(t_cur AS DOUBLE) * n_ref / t_ref),
    6) AS chi2_term
FROM counts, totals
WHERE n_ref > 0
ORDER BY bucket
"""


register(
    QuerySpec(
        "qc_drift_chi2",
        qc_drift_chi2,
        QC_DRIFT_CHI2_SQL,
        ("Q4",),
        doc="distribution drift between reference/current windows (chi-square terms)",
    )
)


# --------------------------------------------------------------------------
# qc_drift_ks — two-sample Kolmogorov–Smirnov statistic between the same
# reference/current windows qc_drift_chi2 monitors: D = max |ECDF_ref −
# ECDF_cur|. Unlike chi-square, KS is bucket-width-insensitive in shape —
# it catches a location shift chi-square dilutes across buckets.
#
# Exactness: the ECDF difference at each grid point is the exact integer
# |cum_ref·t_cur − cum_cur·t_ref| (a common-denominator rational), maxed
# exactly; only the final ratio is a double. The products are DECIMAL,
# not BIGINT (ADVICE r5): BIGINT products wrapped silently in Spark past
# t_ref·t_cur ≈ 2^63 (~3e9 rows per window) while DuckDB raised — an
# asymmetric failure. Widths (DuckDB strict: mul w1+w2 ≤ 38, sub
# max(w)+1 ≤ 38): cum → DECIMAL(19,0), totals → DECIMAL(18,0), products
# → DECIMAL(37,0), so the max-selection is exact until a window exceeds
# ~1e18 rows. Only the exported ks_num BIGINT convenience cell can still
# overflow (needs D·t_ref·t_cur > 2^63, i.e. two ≳3e9-row windows with D
# near 1) — and there the engines diverge ASYMMETRICALLY, the same shape
# this fix addresses one level down: non-ANSI Spark's decimal→bigint cast
# silently yields NULL (a value, not an error) while DuckDB raises. At
# that scale the right move is exporting the cell as a canonical string
# like q39_decimal_money; kept BIGINT here because the max-selection
# beneath it is already exact and the boundary is ~9 orders of magnitude
# past any real monitoring window. ks_stat stays exact-selection-correct.
#
# Scale note: the running ECDF needs an ORDERED cumulative sum. Running
# it over raw distinct prices would put an unbounded single-partition
# window in the plan, so the domain is first quantized to a FIXED price
# grid (_KS_BUCKET-dollar steps → ≤ ~price_range/_KS_BUCKET rows); the
# global window is bounded by construction, which is how monitoring KS
# is run in practice (binned ECDF), and the binned D understates the
# exact D by at most the max in-bin mass.
# --------------------------------------------------------------------------
_KS_BUCKET = 5_000  # whole-dollar ECDF grid step


def _ecdf_gaps(counts: DataFrame, steps: DataFrame) -> DataFrame:
    """One row per grid step of ``steps`` (bucket, n_ref, n_cur): the
    exact common-denominator ECDF gap ``gap`` = |cum_ref·t_cur −
    cum_cur·t_ref| (DECIMAL(37,0)) beside the window totals ``t_ref`` /
    ``t_cur`` of ``counts``."""
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = steps.select(
        F.sum("n_ref").over(w).cast("decimal(19,0)").alias("cum_ref"),
        F.sum("n_cur").over(w).cast("decimal(19,0)").alias("cum_cur"),
    )
    totals = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    gap = F.abs(
        (F.col("cum_ref") * F.col("t_cur").cast("decimal(18,0)")).cast(
            "decimal(37,0)"
        )
        - (F.col("cum_cur") * F.col("t_ref").cast("decimal(18,0)")).cast(
            "decimal(37,0)"
        )
    )
    return cum.crossJoin(F.broadcast(totals)).withColumn("gap", gap)


def _ecdf_gaps_sql(steps: str) -> str:
    """The SQL twin of :func:`_ecdf_gaps` over the ``counts`` CTE and a
    ``steps`` CTE, ending in ``gaps(t_ref, t_cur, gap)``."""
    return f"""cum AS (
  SELECT
    CAST(SUM(n_ref) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(19,0))
      AS cum_ref,
    CAST(SUM(n_cur) OVER (ORDER BY bucket
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(19,0))
      AS cum_cur
  FROM {steps}
),
totals AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM counts
),
gaps AS (
  SELECT t_ref, t_cur,
    ABS(CAST(cum_ref * CAST(t_cur AS DECIMAL(18,0)) AS DECIMAL(37,0))
        - CAST(cum_cur * CAST(t_ref AS DECIMAL(18,0)) AS DECIMAL(37,0))) AS gap
  FROM cum, totals
)"""


def qc_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _drift_counts(spark, sf_dir, _KS_BUCKET)
    return (
        _ecdf_gaps(counts, counts)
        .agg(
            F.max("gap").alias("ks_num"),
            F.first("t_ref").alias("t_ref"),
            F.first("t_cur").alias("t_cur"),
        )
        .select(
            "t_ref",
            "t_cur",
            F.col("ks_num").cast("bigint").alias("ks_num"),
            F.round(
                F.col("ks_num").cast("double")
                / (F.col("t_ref").cast("double") * F.col("t_cur").cast("double")),
                6,
            ).alias("ks_stat"),
        )
    )


QC_DRIFT_KS_SQL = f"""
WITH {_drift_counts_sql(_KS_BUCKET)},
{_ecdf_gaps_sql("counts")}
-- no GROUP BY: a global aggregate returns its one (all-NULL on empty
-- input) row exactly like Spark's .agg() global — t_ref/t_cur are
-- constant over the cross join so first() is deterministic
SELECT first(t_ref) AS t_ref, first(t_cur) AS t_cur,
  CAST(MAX(gap) AS BIGINT) AS ks_num,
  ROUND(CAST(MAX(gap) AS DOUBLE)
        / (CAST(first(t_ref) AS DOUBLE) * CAST(first(t_cur) AS DOUBLE)), 6)
    AS ks_stat
FROM gaps
"""


register(
    QuerySpec(
        "qc_drift_ks",
        qc_drift_ks,
        QC_DRIFT_KS_SQL,
        ("Q5",),
        doc="two-sample KS drift statistic over a bounded binned ECDF grid",
    )
)


# --------------------------------------------------------------------------
# qc_drift_psi — population stability index terms per bucket, the
# industry-standard scorecard drift metric (PSI > 0.25 ≈ "retrain").
# Same windows and bucket width as qc_drift_chi2, so the three monitors
# (chi², KS, PSI) read one consistent grid.
#
# PSI needs ln(), which libm does not guarantee correctly rounded — so
# per the repo's fixed-point discipline each ln() is rounded at 1e-6
# into a BIGINT before use (same as text_lm_score): both engines then
# multiply IDENTICAL doubles and the compare stays exact. Zero buckets
# are Laplace-smoothed (+1 per bucket over t+B) rather than dropped —
# dropping is what makes naive PSI blind to novel buckets, the very
# drift it should scream about. Emitted per-bucket (not summed): summing
# rounded doubles would reintroduce order-dependence, and per-bucket
# terms are what the ops dashboard plots anyway.
# --------------------------------------------------------------------------
def qc_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _drift_counts(spark, sf_dir, _DRIFT_BUCKET)
    totals = counts.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count("*").cast("bigint").alias("b"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + F.col("b"))
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + F.col("b"))
    qln = F.round(F.log(p_cur / p_ref) * 1000000.0, 0).cast("bigint")
    return j.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * qln / 1000000.0, 6).alias("psi_term"),
    ).orderBy("bucket")


QC_DRIFT_PSI_SQL = f"""
WITH {_drift_counts_sql(_DRIFT_BUCKET)},
totals AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur,
         CAST(COUNT(*) AS BIGINT) AS b
  FROM counts
),
terms AS (
  SELECT bucket, n_ref, n_cur,
    CAST(n_ref + 1 AS DOUBLE) / (t_ref + b) AS p_ref,
    CAST(n_cur + 1 AS DOUBLE) / (t_cur + b) AS p_cur
  FROM counts, totals
)
SELECT bucket, n_ref, n_cur,
  ROUND((p_cur - p_ref)
    * CAST(ROUND(ln(p_cur / p_ref) * 1000000.0, 0) AS BIGINT)
    / 1000000.0, 6) AS psi_term
FROM terms
ORDER BY bucket
"""


register(
    QuerySpec(
        "qc_drift_psi",
        qc_drift_psi,
        QC_DRIFT_PSI_SQL,
        ("Q6",),
        doc="per-bucket PSI drift terms (Laplace-smoothed, fixed-point ln)",
    )
)


# --------------------------------------------------------------------------
# qc_key_skew — join-key skew diagnostics for l_partkey, the numbers a
# planner (or the engineer choosing between plain shuffle, salting, and
# AQE skew-join) needs BEFORE running the big join: total rows, distinct
# keys, the heaviest key's share, and the p50/p99 of per-key row counts.
# q19 demonstrates the salting CURE; this measures the disease.
#
# Two aggregations: per-key counts (map-side combinable), then a 1-row
# stats rollup over the key-count table. Exact percentile over the
# per-key counts is fine while |keys| fits an executor's percentile
# state; at 100 TB swap to approx_percentile (the diagnostic tolerates
# sketch error by nature). top1_share is integer-DIV-rounded; the
# percentiles interpolate identical integers on both engines.
# --------------------------------------------------------------------------
def qc_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    return counts.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        F.round(F.percentile("cnt", F.lit(0.5)), 6).alias("p50_key_rows"),
        F.round(F.percentile("cnt", F.lit(0.99)), 6).alias("p99_key_rows"),
    ).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.expr(
            "((2 * max_key_rows * 1000000 + n_rows) DIV (2 * n_rows))"
            " / CAST(1000000.0 AS DOUBLE)"
        ).alias("top1_share"),
        "p50_key_rows",
        "p99_key_rows",
    )


QC_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey
),
stats AS (
  SELECT
    CAST(SUM(cnt) AS BIGINT) AS n_rows,
    CAST(COUNT(*) AS BIGINT) AS n_keys,
    CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
    ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt), 6)
      AS p50_key_rows,
    ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt), 6)
      AS p99_key_rows
  FROM counts
)
SELECT n_rows, n_keys, max_key_rows,
  CAST((2 * max_key_rows * 1000000 + n_rows) // (2 * n_rows) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS top1_share,
  p50_key_rows, p99_key_rows
FROM stats
"""


register(
    QuerySpec(
        "qc_key_skew",
        qc_key_skew,
        QC_KEY_SKEW_SQL,
        ("Q7",),
        doc="join-key skew diagnostics: top-key share + per-key count percentiles",
    )
)


# --------------------------------------------------------------------------
# qc_drift_wasserstein — Wasserstein-1 (earth-mover) distance between the
# same reference/current windows the chi²/KS/PSI monitors read, completing
# the drift quartet with the one statistic that reports HOW FAR the
# distribution moved in the metric of the value itself (dollars), not just
# that it moved: for 1-D distributions W1 = integral |F_ref - F_cur| dx.
# KS is the max ECDF gap (location-shift detector, magnitude-blind beyond
# the sup); PSI/chi² are bucket-mass ratios (width-sensitive, blind to
# WHERE mass moved). W1 is the number a pager threshold in dollars wants.
#
# Exactness: on the _KS_BUCKET-dollar grid the ECDFs are step functions,
# so the integral is exactly  B * sum_over_grid |F_ref(b) - F_cur(b)|.
# Each |gap| is the common-denominator integer |cum_ref*t_cur -
# cum_cur*t_ref| (DECIMAL(37,0), the KS widths), and the grid sum is a
# DECIMAL(38,0) — exact until window sizes reach ~1e18 rows. Only the
# final  w1_num * B / (t_ref*t_cur)  is floating (correctly-rounded IEEE
# ops on exact inputs — identical on both engines), rounded once.
#
# Unlike KS's max, the SUM must weight every grid step — including steps
# with no rows, where the ECDF gap persists — so the sparse bucket counts
# are densified onto the full [min_bucket, max_bucket] integer grid first
# (Spark: explode(sequence(lo, hi)); DuckDB: unnest(range(..)) staged in
# its own CTE). The grid is bounded by the VALUE DOMAIN (price range /
# _KS_BUCKET), not by row count — the same boundedness argument as the KS
# window — so the single-partition cumulative window stays ~100 rows at
# any corpus size.
# --------------------------------------------------------------------------
def qc_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _drift_counts(spark, sf_dir, _KS_BUCKET)
    bounds = counts.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("bucket")
    )
    dense = grid.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    return (
        _ecdf_gaps(counts, dense)
        .agg(
            F.first("t_ref").alias("t_ref"),
            F.first("t_cur").alias("t_cur"),
            F.count("*").cast("bigint").alias("grid_buckets"),
            F.sum("gap").cast("decimal(38,0)").alias("w1_num"),
        )
        .select(
            "t_ref",
            "t_cur",
            "grid_buckets",
            F.col("w1_num").cast("bigint").alias("w1_num"),
            F.round(
                F.col("w1_num").cast("double")
                * F.lit(float(_KS_BUCKET))
                / (
                    F.col("t_ref").cast("double")
                    * F.col("t_cur").cast("double")
                ),
                6,
            ).alias("w1_dollars"),
        )
    )


QC_DRIFT_WASSERSTEIN_SQL = f"""
WITH {_drift_counts_sql(_KS_BUCKET)},
bounds AS (
  SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM counts
),
grid AS (
  SELECT unnest(range(lo, hi + 1)) AS bucket FROM bounds
),
dense AS (
  SELECT g.bucket,
    COALESCE(c.n_ref, 0) AS n_ref,
    COALESCE(c.n_cur, 0) AS n_cur
  FROM grid g LEFT JOIN counts c ON g.bucket = c.bucket
),
{_ecdf_gaps_sql("dense")}
SELECT first(t_ref) AS t_ref, first(t_cur) AS t_cur,
  CAST(COUNT(*) AS BIGINT) AS grid_buckets,
  CAST(SUM(gap) AS BIGINT) AS w1_num,
  ROUND(CAST(SUM(gap) AS DOUBLE) * {float(_KS_BUCKET)}
        / (CAST(first(t_ref) AS DOUBLE) * CAST(first(t_cur) AS DOUBLE)), 6)
    AS w1_dollars
FROM gaps
"""


register(
    QuerySpec(
        "qc_drift_wasserstein",
        qc_drift_wasserstein,
        QC_DRIFT_WASSERSTEIN_SQL,
        ("Q5",),
        doc="Wasserstein-1 drift in dollars over the densified binned ECDF grid",
    )
)


# --------------------------------------------------------------------------
# qc_k_anonymity — quasi-identifier re-identification audit (Sweeney's
# k-anonymity): group the customer table by the QI tuple
# (nation, market segment, account-balance band), then report, for each
# policy threshold k, how many QI groups and how many ROWS sit in groups
# smaller than k — the rows an adversary joining on the same QI tuple
# could narrow below a k-person anonymity set. A training-data governance
# gate runs exactly this before releasing joined/“anonymized” extracts.
#
# Scale shape: ONE shuffle on the QI tuple (hash-partitioned groupBy with
# map-side partial counts), then a single 1-row aggregate holding the
# 4-threshold conditional sums, unpivoted driver-side-free via stack() —
# no join, no window, no second pass over the fact table. At 100 TB the
# QI-group count is bounded by the QI-domain cardinality, not row count.
# Share export uses the sign-free exact idiom
# (2·rows·1e6 + n) DIV (2·n) / 1e6 — no float accumulation.
# --------------------------------------------------------------------------
K_ANON_THRESHOLDS = (2, 5, 10, 25)
K_ANON_BAND = 1000.0  # acctbal band width (dollars) in the QI tuple


def qc_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    sizes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(K_ANON_BAND))
            .cast("bigint")
            .alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count("*").alias("cnt"))
    )
    aggs = [
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.min("cnt").cast("bigint").alias("min_group_size"),
    ]
    for k in K_ANON_THRESHOLDS:
        aggs.append(
            F.sum(F.when(F.col("cnt") < k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"g{k}")
        )
        aggs.append(
            F.sum(F.when(F.col("cnt") < k, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias(f"r{k}")
        )
    stats = sizes.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), g{k}, r{k}" for k in K_ANON_THRESHOLDS
    )
    return (
        stats.select(
            F.expr(
                f"stack({len(K_ANON_THRESHOLDS)}, {stack_args}) "
                "AS (k, groups_below, rows_at_risk)"
            ),
            "n_groups",
            "n_rows",
            "min_group_size",
        )
        .withColumn(
            "at_risk_share",
            F.expr(
                "(2 * rows_at_risk * 1000000 + n_rows) DIV (2 * n_rows)"
            ).cast("bigint")
            / F.lit(1000000.0).cast("double"),
        )
        .select(
            "k",
            "groups_below",
            "rows_at_risk",
            "at_risk_share",
            "n_groups",
            "n_rows",
            "min_group_size",
        )
        .orderBy("k")
    )


_K_ANON_G = ", ".join(
    f"CAST(SUM(CASE WHEN cnt < {k} THEN 1 ELSE 0 END) AS BIGINT) AS g{k},\n"
    f"    CAST(SUM(CASE WHEN cnt < {k} THEN cnt ELSE 0 END) AS BIGINT) AS r{k}"
    for k in K_ANON_THRESHOLDS
)
_K_ANON_T = "\n  UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS k, g{k} AS groups_below, "
    f"r{k} AS rows_at_risk, n_groups, n_rows, min_group_size FROM s"
    for k in K_ANON_THRESHOLDS
)

QC_K_ANONYMITY_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / {K_ANON_BAND}) AS BIGINT) AS band,
         COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2, 3
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
    CAST(SUM(cnt) AS BIGINT) AS n_rows,
    CAST(MIN(cnt) AS BIGINT) AS min_group_size,
    {_K_ANON_G}
  FROM g
),
t AS (
  {_K_ANON_T}
)
SELECT k, groups_below, rows_at_risk,
  CAST((2 * rows_at_risk * 1000000 + n_rows) // (2 * n_rows) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS at_risk_share,
  n_groups, n_rows, min_group_size
FROM t ORDER BY k
"""


register(
    QuerySpec(
        "qc_k_anonymity",
        qc_k_anonymity,
        QC_K_ANONYMITY_SQL,
        ("QA1",),
        doc="k-anonymity QI audit: rows/groups below each anonymity threshold",
    )
)


# --------------------------------------------------------------------------
# qc_l_diversity — the companion governance gate to qc_k_anonymity
# (Machanavajjhala's distinct l-diversity): k-anonymity alone is defeated
# by the homogeneity attack — a QI group can be large yet have ONE value
# of the sensitive attribute, so joining on the QI tuple still discloses
# it. Group by the QI tuple (nation, market segment) and count DISTINCT
# sensitive values (account-balance band) per group; report, for each
# policy threshold l, how many groups and rows sit in groups with fewer
# than l distinct sensitive values.
#
# Scale shape: ONE shuffle on the QI tuple (count-distinct runs as the
# standard two-phase partial aggregate), then a single 1-row conditional
# aggregate unpivoted via stack() — no join, no window, no second fact
# pass; group count bounded by the QI domain, exactly like qc_k_anonymity.
# Share export uses the same sign-free exact DIV-round idiom.
# --------------------------------------------------------------------------
L_DIV_THRESHOLDS = (2, 3, 5)
L_DIV_BAND = 1000.0  # sensitive attribute: acctbal band width (dollars)


def qc_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    groups = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(L_DIV_BAND))
            .cast("bigint")
            .alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("cnt"),
            F.countDistinct("band").cast("bigint").alias("ndv"),
        )
    )
    aggs = [
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.min("ndv").cast("bigint").alias("min_distinct_sensitive"),
    ]
    for l in L_DIV_THRESHOLDS:
        aggs.append(
            F.sum(F.when(F.col("ndv") < l, 1).otherwise(0))
            .cast("bigint")
            .alias(f"g{l}")
        )
        aggs.append(
            F.sum(F.when(F.col("ndv") < l, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias(f"r{l}")
        )
    stats = groups.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({l} AS BIGINT), g{l}, r{l}" for l in L_DIV_THRESHOLDS
    )
    return (
        stats.select(
            F.expr(
                f"stack({len(L_DIV_THRESHOLDS)}, {stack_args}) "
                "AS (l, groups_below, rows_at_risk)"
            ),
            "n_groups",
            "n_rows",
            "min_distinct_sensitive",
        )
        .withColumn(
            "at_risk_share",
            F.expr(
                "(2 * rows_at_risk * 1000000 + n_rows) DIV (2 * n_rows)"
            ).cast("bigint")
            / F.lit(1000000.0).cast("double"),
        )
        .select(
            "l",
            "groups_below",
            "rows_at_risk",
            "at_risk_share",
            "n_groups",
            "n_rows",
            "min_distinct_sensitive",
        )
        .orderBy("l")
    )


_L_DIV_G = ", ".join(
    f"CAST(SUM(CASE WHEN ndv < {l} THEN 1 ELSE 0 END) AS BIGINT) AS g{l},\n"
    f"    CAST(SUM(CASE WHEN ndv < {l} THEN cnt ELSE 0 END) AS BIGINT) AS r{l}"
    for l in L_DIV_THRESHOLDS
)
_L_DIV_T = "\n  UNION ALL ".join(
    f"SELECT CAST({l} AS BIGINT) AS l, g{l} AS groups_below, "
    f"r{l} AS rows_at_risk, n_groups, n_rows, min_distinct_sensitive FROM s"
    for l in L_DIV_THRESHOLDS
)

QC_L_DIVERSITY_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / {L_DIV_BAND}) AS BIGINT))
              AS BIGINT) AS ndv
  FROM customer GROUP BY 1, 2
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
    CAST(SUM(cnt) AS BIGINT) AS n_rows,
    CAST(MIN(ndv) AS BIGINT) AS min_distinct_sensitive,
    {_L_DIV_G}
  FROM g
),
t AS (
  {_L_DIV_T}
)
SELECT l, groups_below, rows_at_risk,
  CAST((2 * rows_at_risk * 1000000 + n_rows) // (2 * n_rows) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS at_risk_share,
  n_groups, n_rows, min_distinct_sensitive
FROM t ORDER BY l
"""


register(
    QuerySpec(
        "qc_l_diversity",
        qc_l_diversity,
        QC_L_DIVERSITY_SQL,
        ("QA2",),
        doc="distinct l-diversity audit: QI groups below each sensitive-value-diversity threshold",
    )
)


# --------------------------------------------------------------------------
# qc_t_closeness — the third leg of the release-governance trilogy
# (k-anonymity: group size; l-diversity: sensitive-value variety;
# t-closeness, Li et al. ICDE'07: sensitive-value DISTRIBUTION). A QI
# group can be large AND diverse yet still leak — if its sensitive-value
# distribution is skewed far from the table's global distribution, joining
# on the QI tuple shifts an adversary's posterior. t-closeness bounds the
# Earth Mover's Distance between each group's sensitive distribution and
# the global one; for an ORDERED sensitive attribute the EMD is the
# normalized sum of cumulative-distribution gaps over the m observed
# values with rank spacing: t(Q,P) = (1/(m-1)) * sum_i |cum_i(Q - P)|
# (the paper's ordered-distance form).
#
# Exactness: the per-band difference q_b - p_b is held as the INTEGER
# cnt_gb*n - cnt_b*n_g over the common denominator n_g*n, cumulated and
# absolute-summed in integer space, and the final t is fixed-pointed to
# micro units with the sign-free (2*1e6*E + D) DIV (2*D) idiom in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — no float accumulation
# anywhere, so both engines agree to the last micro.
#
# Scale shape: ONE shuffle over the fact (groupBy QI+band with map-side
# partials); everything downstream — group totals, band totals, the
# densified QI x band grid, the cumulative window — lives on the BOUNDED
# QI-domain x band-domain grid (the same state bound as the other two
# audits), with the grid built from two broadcast joins. The final
# per-threshold summary is one 1-row conditional aggregate unpivoted via
# stack(). At 100 TB the cost is the one fact shuffle, full stop.
# --------------------------------------------------------------------------
T_CLOSE_THRESHOLDS_MICRO = (150000, 250000, 350000)  # t = 0.15 / 0.25 / 0.35
T_CLOSE_BAND = 1000.0  # sensitive attribute: acctbal band width (dollars)


def qc_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    cell = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / F.lit(T_CLOSE_BAND))
            .cast("bigint")
            .alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count("*").alias("cnt_gb"))
        # round-12: the QI-cell census is read by the group totals, band
        # totals, corpus totals AND the grid join — cache the bounded
        # |nations x segments x bands| aggregate once (4 scans -> 1)
        .cache()
    )
    gtot = cell.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt_gb").alias("n_g")
    )
    btot = cell.groupBy("band").agg(F.sum("cnt_gb").alias("cnt_b"))
    tot = cell.agg(
        F.sum("cnt_gb").alias("n"), F.countDistinct("band").alias("m")
    )
    dens = (
        gtot.crossJoin(F.broadcast(btot))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            "n_g",
            "cnt_b",
            "n",
            "m",
            F.coalesce("cnt_gb", F.lit(0)).alias("cnt_gb"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(
        F.col("cnt_gb") * F.col("n") - F.col("cnt_b") * F.col("n_g")
    ).over(w)
    emd = (
        dens.withColumn("cum", cum)
        .groupBy("c_nationkey", "c_mktsegment", "n_g", "n", "m")
        .agg(F.sum(F.abs(F.col("cum"))).alias("emd_scaled"))
    )
    per_g = emd.select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        F.expr(
            "CAST((CAST(2000000 AS DECIMAL(38,0)) * emd_scaled"
            " + CAST(n_g AS DECIMAL(38,0)) * n * (m - 1)) div"
            " (CAST(2 AS DECIMAL(38,0)) * n_g * n * (m - 1)) AS BIGINT)"
        ).alias("t_micro"),
    )
    aggs = [
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("n_g").cast("bigint").alias("n_rows"),
        F.max("t_micro").cast("bigint").alias("max_t_micro"),
    ]
    for tm in T_CLOSE_THRESHOLDS_MICRO:
        aggs.append(
            F.sum(F.when(F.col("t_micro") > tm, 1).otherwise(0))
            .cast("bigint")
            .alias(f"g{tm}")
        )
        aggs.append(
            F.sum(F.when(F.col("t_micro") > tm, F.col("n_g")).otherwise(0))
            .cast("bigint")
            .alias(f"r{tm}")
        )
    stats = per_g.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({tm} AS BIGINT), g{tm}, r{tm}" for tm in T_CLOSE_THRESHOLDS_MICRO
    )
    return (
        stats.select(
            F.expr(
                f"stack({len(T_CLOSE_THRESHOLDS_MICRO)}, {stack_args}) "
                "AS (t_threshold_micro, groups_above, rows_at_risk)"
            ),
            "n_groups",
            "n_rows",
            "max_t_micro",
        )
        .withColumn(
            "at_risk_share",
            F.expr(
                "(2 * rows_at_risk * 1000000 + n_rows) DIV (2 * n_rows)"
            ).cast("bigint")
            / F.lit(1000000.0).cast("double"),
        )
        .select(
            "t_threshold_micro",
            "groups_above",
            "rows_at_risk",
            "at_risk_share",
            "n_groups",
            "n_rows",
            "max_t_micro",
        )
        .orderBy("t_threshold_micro")
    )


_T_CLOSE_G = ", ".join(
    f"CAST(SUM(CASE WHEN t_micro > {tm} THEN 1 ELSE 0 END) AS BIGINT) AS g{tm},\n"
    f"    CAST(SUM(CASE WHEN t_micro > {tm} THEN n_g ELSE 0 END) AS BIGINT) AS r{tm}"
    for tm in T_CLOSE_THRESHOLDS_MICRO
)
_T_CLOSE_T = "\n  UNION ALL ".join(
    f"SELECT CAST({tm} AS BIGINT) AS t_threshold_micro, g{tm} AS groups_above, "
    f"r{tm} AS rows_at_risk, n_groups, n_rows, max_t_micro FROM s"
    for tm in T_CLOSE_THRESHOLDS_MICRO
)

QC_T_CLOSENESS_SQL = f"""
WITH cell AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / {T_CLOSE_BAND}) AS BIGINT) AS band,
         COUNT(*) AS cnt_gb
  FROM customer GROUP BY 1, 2, 3
),
gtot AS (
  SELECT c_nationkey, c_mktsegment, SUM(cnt_gb) AS n_g
  FROM cell GROUP BY 1, 2
),
btot AS (SELECT band, SUM(cnt_gb) AS cnt_b FROM cell GROUP BY 1),
tot AS (
  SELECT SUM(cnt_gb) AS n, COUNT(DISTINCT band) AS m FROM cell
),
dens AS (
  SELECT g.c_nationkey, g.c_mktsegment, b.band, g.n_g, b.cnt_b, t.n, t.m,
         COALESCE(c.cnt_gb, 0) AS cnt_gb
  FROM gtot g CROSS JOIN btot b CROSS JOIN tot t
  LEFT JOIN cell c
    ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment
   AND c.band = b.band
),
cum AS (
  SELECT c_nationkey, c_mktsegment, n_g, n, m,
    SUM(cnt_gb * n - cnt_b * n_g) OVER (
      PARTITION BY c_nationkey, c_mktsegment ORDER BY band
      ROWS UNBOUNDED PRECEDING) AS cum
  FROM dens
),
emd AS (
  SELECT c_nationkey, c_mktsegment, n_g, n, m,
         SUM(ABS(cum)) AS emd_scaled
  FROM cum GROUP BY 1, 2, 3, 4, 5
),
per_g AS (
  SELECT c_nationkey, c_mktsegment, n_g,
    CAST((CAST(2000000 AS HUGEINT) * emd_scaled
          + CAST(n_g AS HUGEINT) * n * (m - 1))
         // (CAST(2 AS HUGEINT) * n_g * n * (m - 1)) AS BIGINT) AS t_micro
  FROM emd
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
    CAST(SUM(n_g) AS BIGINT) AS n_rows,
    CAST(MAX(t_micro) AS BIGINT) AS max_t_micro,
    {_T_CLOSE_G}
  FROM per_g
),
t AS (
  {_T_CLOSE_T}
)
SELECT t_threshold_micro, groups_above, rows_at_risk,
  CAST((2 * rows_at_risk * 1000000 + n_rows) // (2 * n_rows) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS at_risk_share,
  n_groups, n_rows, max_t_micro
FROM t ORDER BY t_threshold_micro
"""


register(
    QuerySpec(
        "qc_t_closeness",
        qc_t_closeness,
        QC_T_CLOSENESS_SQL,
        ("QA3",),
        doc="t-closeness audit: per-QI-group ordered-EMD of the sensitive distribution vs global, thresholds in micro units",
    )
)


# ---------------------------------------------------------------------------
# qc_referential_integrity — foreign-key orphan census over the full star:
# for each FK edge, how many child rows point at a missing parent. The
# reference implicitly trusts its joins (src/transform_spark.py left-joins
# train->features/stores with no orphan audit); at 100 TB a silent orphan
# class is how a left join quietly nulls a feature column fleet-wide, so
# the census is the QC gate a lakehouse runs before publishing.
#
# Plan shape: ONE scan of each child table. All three lineitem FK edges
# ride the SAME lineitem scan (three sequential left joins against
# key-projected parents, one conditional-sum aggregate, then a bounded
# stack unpivot); orders is scanned twice — once as the parent key set of
# lineitem, once as the child of customer (recorded exactly in
# FACT_MULTI_SCAN_ALLOWED). Parents join on their pruned key column only,
# so each parent-side shuffle ships one bigint per row; no broadcast hint
# is pinned — at sf the dims broadcast, at 100 TB AQE falls back to SMJ.
# Output: 4 rows (one per FK edge), orphan counts + micro-rounded share.
# ---------------------------------------------------------------------------
def qc_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = read_table(spark, sf_dir, "orders")
    o_keys = orders.select(F.col("o_orderkey").alias("pk_o")).distinct()
    p_keys = (
        read_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("pk_p"))
        .distinct()
    )
    s_keys = (
        read_table(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("pk_s"))
        .distinct()
    )
    c_keys = (
        read_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("pk_c"))
        .distinct()
    )

    li_checked = (
        li.join(o_keys, li.l_orderkey == F.col("pk_o"), "left")
        .join(p_keys, li.l_partkey == F.col("pk_p"), "left")
        .join(s_keys, li.l_suppkey == F.col("pk_s"), "left")
    )
    li_agg = li_checked.agg(
        F.count("*").cast("bigint").alias("n_li"),
        F.sum(F.when(F.col("pk_o").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orph_o"),
        F.sum(F.when(F.col("pk_p").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orph_p"),
        F.sum(F.when(F.col("pk_s").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("orph_s"),
    )
    li_rows = li_agg.select(
        F.expr(
            "stack(3,"
            " 'lineitem.l_orderkey->orders', n_li, orph_o,"
            " 'lineitem.l_partkey->part', n_li, orph_p,"
            " 'lineitem.l_suppkey->supplier', n_li, orph_s)"
        ).alias("fk_edge", "n_child_rows", "n_orphans")
    )
    ord_rows = (
        orders.select("o_custkey")
        .join(c_keys, F.col("o_custkey") == F.col("pk_c"), "left")
        .agg(
            F.lit("orders.o_custkey->customer").alias("fk_edge"),
            F.count("*").cast("bigint").alias("n_child_rows"),
            F.sum(F.when(F.col("pk_c").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        )
    )
    return (
        li_rows.unionByName(ord_rows)
        .select(
            "fk_edge",
            "n_child_rows",
            "n_orphans",
            F.expr(
                "CAST((2 * n_orphans * 1000000 + n_child_rows)"
                " DIV (2 * n_child_rows) AS BIGINT)"
                " / CAST(1000000.0 AS DOUBLE)"
            ).alias("orphan_share"),
        )
        .orderBy("fk_edge")
    )


QC_REF_INTEGRITY_SQL = """
WITH li AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_li,
    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_o,
    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_p,
    CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS orph_s
  FROM lineitem l
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
    ON l.l_partkey = p.p_partkey
  LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
    ON l.l_suppkey = s.s_suppkey
),
edges AS (
  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
         n_li AS n_child_rows, orph_o AS n_orphans FROM li
  UNION ALL
  SELECT 'lineitem.l_partkey->part', n_li, orph_p FROM li
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier', n_li, orph_s FROM li
  UNION ALL
  SELECT 'orders.o_custkey->customer',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o2
  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON o2.o_custkey = c.c_custkey
)
SELECT fk_edge, n_child_rows, n_orphans,
  CAST((2 * n_orphans * 1000000 + n_child_rows)
       // (2 * n_child_rows) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS orphan_share
FROM edges
ORDER BY fk_edge
"""


register(
    QuerySpec(
        "qc_referential_integrity",
        qc_referential_integrity,
        QC_REF_INTEGRITY_SQL,
        ("QR1",),
        doc="FK orphan census over the star: one scan per child table, three lineitem edges on one scan, micro-rounded orphan shares",
    )
)
