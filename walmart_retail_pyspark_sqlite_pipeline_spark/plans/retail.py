"""Retail analytics operators over the TPC-H-shaped tables: market-basket
pair mining and a Benford first-digit audit.

Both extend the reference's retail-pipeline theme (store sales analytics;
`/root/reference/testing/sql_queries.ipynb` stops at grouped aggregates)
with the two classic next-step retail analyses, each expressed as a
shuffle-bounded DataFrame plan with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_table
from .registry import QuerySpec, register

# ---------------------------------------------------------------------------
# basket_part_pairs — market-basket co-occurrence: which part pairs appear
# together in the same order, with support and lift. The pair expansion is
# a self-join keyed on l_orderkey, so its output is bounded by
# Σ_orders k_o·(k_o−1)/2 where k_o = distinct parts per order — TPC-H
# caps k_o at 7 (≤21 pairs/order), so the blowup is a small constant per
# order and the plan stays linear in lineitem at any scale. The rollup
# shuffles on the (part_a, part_b) pair key; top-k compiles to
# TakeOrderedAndProject, never a global sort.
#
# Determinism: support/lift are single IEEE division sequences over exact
# integer counts (identical operands both engines), ties in the top-k are
# broken by the pair key.
# ---------------------------------------------------------------------------
BASKET_TOP_K = 20


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one explicitly repartitioned distinct-basket subtree serves the
    # self-join sides AND the count branches — the old li references each
    # re-planned the lineitem scan (round-11 fact-table scan census: 5
    # lineitem scans here). The explicit isnotnull filters make every
    # branch's constraints identical so the exchange stays canonically
    # shared (the self-join infers them on a/b anyway; keys are non-null
    # in the data and every consumer is key-null-invariant: NULL keys
    # never join, and countDistinct skips NULLs on both engines).
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .distinct()
        .repartition(F.col("l_orderkey"))
    )
    n_orders = li.select(F.countDistinct("l_orderkey").alias("n_orders"))
    per_part = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    ca = per_part.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = per_part.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / F.col("ca")
                / F.col("cb"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


BASKET_PAIRS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
per_part AS (SELECT l_partkey, COUNT(*) AS c FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_both,
  ROUND(CAST(n_both AS DOUBLE) / n.n_orders, 6) AS support,
  ROUND(CAST(n_both AS DOUBLE) * n.n_orders / ca.c / cb.c, 6) AS lift
FROM pairs
JOIN per_part ca ON pairs.part_a = ca.l_partkey
JOIN per_part cb ON pairs.part_b = cb.l_partkey
CROSS JOIN n
ORDER BY n_both DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


register(
    QuerySpec(
        "basket_part_pairs",
        basket_part_pairs,
        BASKET_PAIRS_SQL,
        ("MB1",),
        doc="market-basket part-pair mining with support and lift (top-20)",
    )
)


# ---------------------------------------------------------------------------
# qc_benford_totalprice — Benford's-law first-digit audit on order totals:
# the classic fraud/synthetic-data screen. The first digit is taken from
# the DECIMAL STRING of integer cents (never floor(log10(x)) — float log
# of a boundary value like 1000.0 can land on either side in different
# engines; the string route is exact everywhere). Output is one row per
# digit with the observed frequency, the Benford expectation, and the
# digit's χ² contribution fixed-pointed at 1e-6 — per-row arithmetic
# only, so no cross-row float-summation order exists for engines to
# disagree on. Plan: one 9-key groupBy over a projected scan.
# ---------------------------------------------------------------------------
#: log10(1 + 1/d) for d = 1..9 as shared literals (both engines read the
#: same doubles rather than each evaluating log10).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def qc_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (
        orders.select(d.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    tot = obs.select(F.sum("n_obs").alias("n"))
    p = F.lit(None).cast("double")
    for dig, prob in BENFORD_P.items():
        p = F.when(F.col("digit") == dig, F.lit(prob)).otherwise(p)
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias("freq"),
            F.round(p, 6).alias("benford_p"),
            (
                F.round(
                    (F.col("n_obs") - F.col("n") * p)
                    * (F.col("n_obs") - F.col("n") * p)
                    / (F.col("n") * p)
                    * 1000000.0,
                    0,
                ).cast("long")
                / 1000000.0
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items()
) + " END"

BENFORD_SQL = f"""
WITH obs AS (
  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM orders
  GROUP BY 1
  HAVING digit >= 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
dev AS (
  -- DuckDB promotes BIGINT*DOUBLE fine but SUM() yields HUGEINT→DECIMAL;
  -- the explicit DOUBLE casts pin the same IEEE operands Spark uses
  SELECT digit, n_obs, n,
    CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * ({_BENFORD_CASE}) AS d,
    CAST(n AS DOUBLE) * ({_BENFORD_CASE}) AS expct
  FROM obs CROSS JOIN tot
)
SELECT digit, n_obs,
  ROUND(CAST(n_obs AS DOUBLE) / n, 6) AS freq,
  ROUND(CAST({_BENFORD_CASE} AS DOUBLE), 6) AS benford_p,
  CAST(ROUND(d * d / expct * 1000000.0, 0) AS BIGINT) / 1000000.0
    AS chi2_contrib
FROM dev
ORDER BY digit
"""


register(
    QuerySpec(
        "qc_benford_totalprice",
        qc_benford_totalprice,
        BENFORD_SQL,
        ("QB1",),
        doc="Benford first-digit audit on order totals (string-exact digits)",
    )
)


# ---------------------------------------------------------------------------
# q42_abc_analysis — ABC (Pareto) inventory classification: rank brands by
# revenue, take the running revenue share, and label A (first 80% of
# revenue), B (to 95%), C (tail). The assortment-planning cut every
# retail org runs; the reference's notebook stops at plain grouped sums
# (testing/sql_queries.ipynb "top stores"), this is the classification
# layer above it.
#
# Plan: one shuffle for the brand rollup (map-side combinable, |brands|
# keys), then an ordered window over |brands| rows — bounded by the brand
# enum, not the data, so the single-partition window is safe at any SF.
# Classification compares exact integer rationals (cum·100 vs
# threshold·total), never floats; cum_share is fixed-point-rounded by the
# integer-DIV rule. Ties in revenue order are broken by brand key.
# ---------------------------------------------------------------------------
def q42_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents")
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("revenue_cents"), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Round-12 consolidation (was 2 lineitem scans: a totals branch
    # crossJoined back). The grand total is an unpartitioned whole-frame
    # window over the |brands|-bounded rollup — the exact shape the oracle
    # already used (SUM(...) OVER ()) — sharing the cum window's single
    # partition. One lineitem scan.
    return (
        rev.withColumn("cum_cents", F.sum("revenue_cents").over(w))
        .withColumn(
            "total_cents",
            F.sum("revenue_cents").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select(
            "p_brand",
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
            # round-12: the rounding DIV runs in DECIMAL(38,0) — at the 6M-row
            # replica total_cents ~ 2e13, so 2*cum*1e6 overflows BIGINT
            # (found by the four-decade probe; DuckDB twin uses HUGEINT)
            F.expr(
                "CAST((2 * CAST(cum_cents AS DECIMAL(38,0)) * 1000000"
                " + total_cents) DIV (2 * CAST(total_cents AS DECIMAL(38,0)))"
                " AS BIGINT) / CAST(1000000.0 AS DOUBLE)"
            ).alias("cum_share"),
            F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A")
            .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy(F.desc("revenue_cents"), "p_brand")
    )


Q42_ABC_SQL = """
WITH rev AS (
  SELECT p_brand,
    CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
),
cum AS (
  SELECT p_brand, revenue_cents,
    CAST(SUM(revenue_cents) OVER (
      ORDER BY revenue_cents DESC, p_brand
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_cents,
    CAST(SUM(revenue_cents) OVER () AS BIGINT) AS total_cents
  FROM rev
)
SELECT p_brand, revenue_cents,
  CAST((2 * CAST(cum_cents AS HUGEINT) * 1000000 + total_cents)
       // (2 * CAST(total_cents AS HUGEINT))
       AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS cum_share,
  CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
       WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
       ELSE 'C' END AS abc_class
FROM cum
ORDER BY revenue_cents DESC, p_brand
"""


register(
    QuerySpec(
        "q42_abc_analysis",
        q42_abc_analysis,
        Q42_ABC_SQL,
        ("ABC1",),
        doc="Pareto ABC classification of brands by cumulative revenue share",
    )
)


# ---------------------------------------------------------------------------
# q43_elasticity_slope — per-brand OLS regression of quantity sold on the
# discount offered: the first-cut "does discounting move volume" price-
# response read. Slope and intercept come from exact integer moments
# (discount in basis points, quantity in units):
#   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
# with numerator/denominator emitted as BIGINTs (the auditable rational)
# plus the rounded double consumers chart. Overflow bound: x ≤ 1000 bps,
# so the binding term n·Σx² ≤ n²·10⁶ stays under 2^63 until a brand
# exceeds ~3e6 rows PER BRAND at full precision — past that, pre-
# aggregate per (brand, bps) first (same moments, |brands|·1001 rows).
# One shuffle on brand, map-side combinable; no window, no join.
# ---------------------------------------------------------------------------
def q43_elasticity_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    xy = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            "p_brand",
            F.round(F.col("l_discount") * 10000).cast("long").alias("x"),
            F.round(F.col("l_quantity")).cast("long").alias("y"),
        )
    )
    m = xy.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = m["n"] * m["sxy"] - m["sx"] * m["sy"]
    den = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    return m.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_rows"),
        num.cast("bigint").alias("slope_num"),
        den.cast("bigint").alias("slope_den"),
        F.when(den > 0, F.round(num / den.cast("double") * 100.0, 6)).alias(
            "qty_per_pct_discount"
        ),
    ).orderBy("p_brand")


Q43_SLOPE_SQL = """
WITH xy AS (
  SELECT p_brand,
    CAST(ROUND(l_discount * 10000, 0) AS BIGINT) AS x,
    CAST(ROUND(l_quantity, 0) AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
m AS (
  SELECT p_brand,
    COUNT(*) AS n,
    CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy,
    CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY p_brand
)
SELECT p_brand,
  CAST(n AS BIGINT) AS n_rows,
  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
  CASE WHEN n * sxx - sx * sx > 0
    THEN ROUND((n * sxy - sx * sy)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 100.0, 6)
  END AS qty_per_pct_discount
FROM m
ORDER BY p_brand
"""


register(
    QuerySpec(
        "q43_elasticity_slope",
        q43_elasticity_slope,
        Q43_SLOPE_SQL,
        ("REG1",),
        doc="per-brand OLS slope of quantity on discount from exact integer moments",
    )
)


# ---------------------------------------------------------------------------
# q47_ols_normal_eq — MULTIVARIATE regression by normal equations: price
# explained by discount and quantity per return flag, solved with
# Cramer's rule on the 3×3 moment matrix (intercept, discount bps,
# quantity units → target price cents). The distributed-ML pattern in
# miniature: ONE map-side-combinable pass accumulates the moment matrix
# (9 integer sums), the solve is per-group constant work — no gradient
# loop, no driver iteration, the exact shape MLlib's normal-equation
# LinearRegression solver lowers to.
#
# Exactness: all moments are exact BIGINTs; determinants would overflow
# int64 (products of three ~1e17 moments), so each moment is cast ONCE
# to double and the determinant expression is written with identical
# association on both engines — identical operands, identical operation
# order, identical IEEE results. Coefficients round at 1e-6.
# Moment overflow bound: the binding sum Σ x1·y (≤ 1e10/row at TPC-H
# price ranges) wraps int64 past ~9e8 rows per group — beyond that,
# move the nine sums to DECIMAL(38,0) on BOTH sides (same plan shape).
# ---------------------------------------------------------------------------
_OLS_DET = (
    "CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)"
    " - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)"
    " + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)"
)
_OLS_D0 = (
    "CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)"
    " - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)"
    " + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y)"
)
_OLS_D1 = (
    "CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)"
    " - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)"
    " + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)"
)
_OLS_D2 = (
    "CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)"
    " - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)"
    " + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)"
)



def q47_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    xy = li.select(
        "l_returnflag",
        F.round(F.col("l_discount") * 10000).cast("long").alias("x1"),
        F.round(F.col("l_quantity")).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    m = xy.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    # det[[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] and Cramer numerators: the
    # ONE copy of each expression (module _OLS_* constants below), shared
    # verbatim by this plan and the oracle SQL — the association order is
    # the exactness contract, so it must never fork
    det_sql, d0_sql, d1_sql, d2_sql = _OLS_DET, _OLS_D0, _OLS_D1, _OLS_D2
    return (
        m.withColumn("det", F.expr(det_sql))
        .select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n_rows"),
            F.when(
                F.col("det") != 0.0,
                F.round(F.expr(d0_sql) / F.col("det"), 6),
            ).alias("intercept_cents"),
            F.when(
                F.col("det") != 0.0,
                F.round(F.expr(d1_sql) / F.col("det"), 6),
            ).alias("coef_discount_bp"),
            F.when(
                F.col("det") != 0.0,
                F.round(F.expr(d2_sql) / F.col("det"), 6),
            ).alias("coef_qty"),
        )
        .orderBy("l_returnflag")
    )


Q47_OLS_SQL = f"""
WITH xy AS (
  SELECT l_returnflag,
    CAST(ROUND(l_discount * 10000, 0) AS BIGINT) AS x1,
    CAST(ROUND(l_quantity, 0) AS BIGINT) AS x2,
    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT l_returnflag,
    COUNT(*) AS n,
    CAST(SUM(x1) AS BIGINT) AS s1,
    CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM xy GROUP BY l_returnflag
)
SELECT l_returnflag,
  CAST(n AS BIGINT) AS n_rows,
  CASE WHEN ({_OLS_DET}) <> 0.0
    THEN ROUND(({_OLS_D0}) / ({_OLS_DET}), 6) END AS intercept_cents,
  CASE WHEN ({_OLS_DET}) <> 0.0
    THEN ROUND(({_OLS_D1}) / ({_OLS_DET}), 6) END AS coef_discount_bp,
  CASE WHEN ({_OLS_DET}) <> 0.0
    THEN ROUND(({_OLS_D2}) / ({_OLS_DET}), 6) END AS coef_qty
FROM m
ORDER BY l_returnflag
"""


register(
    QuerySpec(
        "q47_ols_normal_eq",
        q47_ols_normal_eq,
        Q47_OLS_SQL,
        ("REG2",),
        doc="2-feature OLS by normal equations + Cramer solve on exact moments",
    )
)


# ---------------------------------------------------------------------------
# ml_target_encoding — K-fold out-of-fold target encoding with additive
# smoothing (Micci-Barreca, SIGKDD Explorations 2001 — the categorical
# encoder every tabular training pipeline ships): for each (category,
# fold) cell, the encoded value is the smoothed target rate computed
# WITHOUT the fold's own rows, enc = (oof_pos + m*prior) / (oof_cnt + m),
# prior = the global rate — out-of-fold exclusion is the leakage control
# that keeps the feature honest in cross-validation. Category =
# o_orderpriority, label = (o_orderstatus = 'F'), fold = o_orderkey % 5.
#
# Plan: ONE orders scan -> map-side-combined groupBy to the bounded
# |priority| x K cell table (25 rows); the per-category and global
# totals are two Window sums OVER THAT BOUNDED TABLE (the unpartitioned
# one is whitelisted with its exact count — input rows = |categories|*K,
# enum-bounded); the encode itself is exact micro-integer arithmetic:
# enc_micro = ((oof_pos*g_cnt + m*g_pos) * 1e6) DIV ((oof_cnt+m)*g_cnt)
# in DECIMAL(38,0)/HUGEINT, identical truncation on both engines. At
# 100 TB the cell table stays 25 rows and broadcasts back onto the
# training join; nothing data-sized crosses a single task.
# ---------------------------------------------------------------------------
TE_FOLDS = 5
TE_SMOOTH_M = 10


def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy(
        F.col("o_orderpriority").alias("category"),
        (F.col("o_orderkey") % TE_FOLDS).alias("fold"),
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    w_cat = Window.partitionBy("category")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    enc = per.select(
        "category",
        "fold",
        "cnt",
        "pos",
        F.sum("cnt").over(w_cat).alias("cat_cnt"),
        F.sum("pos").over(w_cat).alias("cat_pos"),
        F.sum("cnt").over(w_all).alias("g_cnt"),
        F.sum("pos").over(w_all).alias("g_pos"),
    )
    return enc.select(
        "category",
        "fold",
        (F.col("cat_cnt") - F.col("cnt")).alias("n_oof"),
        F.expr(
            "CAST(((CAST(cat_pos - pos AS DECIMAL(38,0)) * g_cnt"
            f" + {TE_SMOOTH_M} * g_pos) * 1000000)"
            f" DIV (CAST(cat_cnt - cnt + {TE_SMOOTH_M} AS DECIMAL(38,0))"
            " * g_cnt) AS BIGINT)"
        ).alias("enc_micro"),
    ).orderBy("category", "fold")


TARGET_ENCODING_SQL = f"""
WITH per AS (
  SELECT o_orderpriority AS category,
    o_orderkey % {TE_FOLDS} AS fold,
    CAST(COUNT(*) AS BIGINT) AS cnt,
    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
      AS pos
  FROM orders GROUP BY 1, 2
),
enc AS (
  SELECT category, fold, cnt, pos,
    SUM(cnt) OVER (PARTITION BY category) AS cat_cnt,
    SUM(pos) OVER (PARTITION BY category) AS cat_pos,
    SUM(cnt) OVER () AS g_cnt,
    SUM(pos) OVER () AS g_pos
  FROM per
)
SELECT category, fold,
  CAST(cat_cnt - cnt AS BIGINT) AS n_oof,
  CAST(((CAST(cat_pos - pos AS HUGEINT) * g_cnt
         + {TE_SMOOTH_M} * g_pos) * 1000000)
       // (CAST(cat_cnt - cnt + {TE_SMOOTH_M} AS HUGEINT) * g_cnt)
       AS BIGINT) AS enc_micro
FROM enc
ORDER BY category, fold
"""


register(
    QuerySpec(
        "ml_target_encoding",
        ml_target_encoding,
        TARGET_ENCODING_SQL,
        ("FE1",),
        doc="K-fold out-of-fold smoothed target encoding: one scan to a 25-cell table, exact micro-integer encode, leakage-controlled",
    )
)
