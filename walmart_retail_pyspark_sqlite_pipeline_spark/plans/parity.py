"""Relational parity queries — the reference's operator surface (SURVEY.md §2)
re-expressed on the TPC-H-ish testdata star schema.

Mapping (FIXTURES.md): ``lineitem``+``orders`` play the sales fact (`train`),
``customer``/``nation``/``supplier`` play the dimensions (`stores`),
``l_shipdate``/``o_orderdate`` play `Date` (year/month/weekofyear derivation
mirrors /root/reference/src/transform_spark.py:54-61).

Every query is pure DataFrame API (100% Catalyst-optimizable — the property
the reference preserves, SURVEY.md §2.11) with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import read_table
from .registry import QuerySpec, register


def _r6(c):  # ratios/fractions: 6 decimals
    return F.round(c, 6).cast("double")


# Exact-sum idiom: the source money columns are exact 2-decimal values (and
# price*(1-discount) products exact 4-decimal), so we round each row to an
# integer number of "cents" (deterministic — a single per-row fp op on
# identical operands in both engines) and sum INTEGERS, which is
# order-independent. A plain SUM(double) accumulates ~1e-5 error at 1e8
# magnitudes depending on partial-aggregation order, which can flip a
# 2-decimal rounding boundary and the driver's exact value hash with it.
def _xsum(c, scale: int = 100):
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(F.round(c * scale, 0).cast("long")) / F.lit(float(scale))


def _xavg(c, scale: int = 100):
    return _xsum(c, scale) / F.count("*")


def _xsum_sql(expr: str, scale: int = 100) -> str:
    # CAST(... AS DOUBLE) on the literal: Spark SQL parses `100.0` as
    # DECIMAL(4,1) (making bigint/decimal → DECIMAL results under
    # spark.sql), while DuckDB parses it as DOUBLE — the cast pins both
    # engines to double division
    return (
        f"(SUM(CAST(ROUND(({expr}) * {scale}, 0) AS BIGINT))"
        f" / CAST({float(scale)} AS DOUBLE))"
    )


def _xavg_sql(expr: str, scale: int = 100) -> str:
    return f"({_xsum_sql(expr, scale)} / COUNT(*))"


# ---------------------------------------------------------------------------
# q01 — grouped multi-aggregate scan (SURVEY §2.5 A1, §2.7 O1; TPC-H Q1 shape)
# Analogue of the reference's agg_store_dept build
# (/root/reference/src/transform_spark.py:127-136).
# ---------------------------------------------------------------------------
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(li.l_shipdate <= F.to_timestamp(F.lit("2000-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _xsum("l_quantity").alias("sum_qty"),
            _xsum("l_extendedprice").alias("sum_base_price"),
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
                "sum_disc_price"
            ),
            _xavg("l_quantity").alias("avg_qty"),
            _xavg("l_extendedprice").alias("avg_price"),
            _xavg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {_xsum_sql("l_quantity")} AS sum_qty,
  {_xsum_sql("l_extendedprice")} AS sum_base_price,
  {_xsum_sql("l_extendedprice * (1 - l_discount)", 10000)} AS sum_disc_price,
  {_xavg_sql("l_quantity")} AS avg_qty,
  {_xavg_sql("l_extendedprice")} AS avg_price,
  {_xavg_sql("l_discount")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — flagship: fact⨝dim, grouped agg, desc top-k
# (SURVEY §2.4 J1/J2, §2.5 A2, §2.7 O2/O4; analogue of the reference's
# agg_store_type_year + the notebook's "top stores" query,
# /root/reference/src/transform_spark.py:139-147 + testing/sql_queries.ipynb.)
# customer is small → Catalyst broadcasts it (no shuffle of orders).
# ---------------------------------------------------------------------------
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        # no broadcast hint: customer scales with SF (TB-size at the 100 TB
        # design point) — AQE picks BroadcastHashJoin at small SF on its own
        # and falls back to shuffled join when the dim outgrows the threshold
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_custkey", "c_name")
        .agg(
            _xsum("o_totalprice").alias("total_spend"),
            F.count("*").alias("num_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )


Q02_SQL = f"""
SELECT
  c_custkey,
  c_name,
  {_xsum_sql("o_totalprice")} AS total_spend,
  COUNT(*) AS num_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q03 — 3-way join + countDistinct (SURVEY §2.4 J1+J2 chain, §2.5 A2).
# nation & customer both broadcast; only orders streams.
# ---------------------------------------------------------------------------
def q03_sales_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        # customer scales with SF → no hint (AQE decides); nation is a fixed
        # 25-row dimension → explicit broadcast stays correct at any scale
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            _xsum("o_totalprice").alias("total_sales"),
            _xavg("o_totalprice").alias("avg_sales"),
            F.countDistinct("c_custkey").alias("num_customers"),
        )
        .orderBy("n_name", "order_year")
    )


Q03_SQL = f"""
SELECT
  n_name,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  {_xsum_sql("o_totalprice")} AS total_sales,
  {_xavg_sql("o_totalprice")} AS avg_sales,
  COUNT(DISTINCT c_custkey) AS num_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, order_year
ORDER BY n_name, order_year
"""


# ---------------------------------------------------------------------------
# q04 — grouped agg on low-cardinality dims incl. calendar derivation
# (SURVEY §2.5 A3, §2.9 C2; analogue of holidays_vs_normal,
# /root/reference/src/transform_spark.py:150-158).
# ---------------------------------------------------------------------------
def q04_returnflag_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.year("l_shipdate").alias("ship_year"), F.col("l_returnflag"))
        .agg(
            _xsum("l_quantity").alias("total_qty"),
            _xavg("l_extendedprice").alias("avg_price"),
            F.count("*").alias("num_items"),
        )
        .orderBy("ship_year", "l_returnflag")
    )


Q04_SQL = f"""
SELECT
  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  l_returnflag,
  {_xsum_sql("l_quantity")} AS total_qty,
  {_xavg_sql("l_extendedprice")} AS avg_price,
  COUNT(*) AS num_items
FROM lineitem
GROUP BY ship_year, l_returnflag
ORDER BY ship_year, l_returnflag
"""


# ---------------------------------------------------------------------------
# q05 — single-pass null/empty profile (SURVEY §2.12 Q2, fixing the
# reference's N+1 count-job loop, /root/reference/src/quality_checks.py:73-79
# → one aggregate pass, SURVEY §4.3).
# ---------------------------------------------------------------------------
def q05_null_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    aggs = []
    for f_ in orders.schema.fields:
        c = F.col(f_.name)
        cond = (c.isNull() | (c == "")) if f_.dataType.simpleString() == "string" else c.isNull()
        aggs.append(
            _r6(F.avg(F.when(cond, 1.0).otherwise(0.0))).alias(f"nf_{f_.name}")
        )
    return orders.agg(*aggs)


Q05_SQL = """
SELECT
  CAST(ROUND(AVG(CASE WHEN o_orderkey IS NULL THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_orderkey,
  CAST(ROUND(AVG(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_custkey,
  CAST(ROUND(AVG(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = '' THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_orderstatus,
  CAST(ROUND(AVG(CASE WHEN o_totalprice IS NULL THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_totalprice,
  CAST(ROUND(AVG(CASE WHEN o_orderdate IS NULL THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_orderdate,
  CAST(ROUND(AVG(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = '' THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS nf_o_orderpriority
FROM orders
"""


# ---------------------------------------------------------------------------
# q06 — duplicate detection stats in one result (SURVEY §2.5 A5/A6,
# §2.12 Q3; single-aggregate rewrite of
# /root/reference/src/quality_checks.py:88-96).
# ---------------------------------------------------------------------------
def q06_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    key_dups = (
        li.groupBy("l_orderkey", "l_linenumber")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count("*").alias("dup_key_groups"))
    )
    full_dups = li.agg(
        (F.count("*") - F.countDistinct(*li.columns)).alias("full_row_dups")
    )
    return key_dups.crossJoin(full_dups)


Q06_SQL = """
SELECT
  (SELECT COUNT(*) FROM (
     SELECT l_orderkey, l_linenumber FROM lineitem
     GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)) AS dup_key_groups,
  (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_partkey, l_suppkey, l_linenumber,
      l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
      l_shipdate)) FROM lineitem) AS full_row_dups
"""


# ---------------------------------------------------------------------------
# q07 — distinct / dropDuplicates (SURVEY §2.5 A5/A7).
# ---------------------------------------------------------------------------
def q07_distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


Q07_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q08 — ranking window over grouped revenue (SURVEY §2.6 extension:
# rank() over partitionBy; the "top stores within type" BI framing).
# ---------------------------------------------------------------------------
def q08_supplier_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)  # supplier scales with SF
        .groupBy("s_nationkey", "s_suppkey")
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
                "revenue"
            )
        )
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey")
    )
    return (
        rev.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .sortWithinPartitions("s_nationkey", "rk", "s_suppkey")
    )


Q08_SQL = f"""
WITH rev AS (
  SELECT s_nationkey, s_suppkey,
         {_xsum_sql("l_extendedprice * (1 - l_discount)", 10000)} AS revenue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey
)
SELECT s_nationkey, s_suppkey, revenue, rk FROM (
  SELECT *, CAST(RANK() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS INTEGER) AS rk
  FROM rev
) WHERE rk <= 3
ORDER BY s_nationkey, rk, s_suppkey
"""


# ---------------------------------------------------------------------------
# q09 — rollup / grouping sets (SURVEY §2.5 note: the reference's three
# manual aggregate tables are a hand-rolled rollup family; here it is one
# declarative ROLLUP).
# ---------------------------------------------------------------------------
def q09_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _xsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.grouping_id().alias("lvl"),
        )
        .orderBy(
            F.col("lvl"),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


Q09_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {_xsum_sql("l_quantity")} AS sum_qty,
  COUNT(*) AS n_rows,
  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY lvl, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# q10 — set operations (SURVEY §2.8: union / intersect / except).
# ---------------------------------------------------------------------------
def q10_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    cn = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = sup.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cn.intersect(sn).withColumn("tag", F.lit("both"))
    cust_only = cn.exceptAll(sn).withColumn("tag", F.lit("customer_only"))
    sup_only = sn.exceptAll(cn).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(cust_only).unionByName(sup_only).orderBy("tag", "nationkey")


Q10_SQL = """
WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS tag FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
UNION ALL
SELECT nationkey, 'supplier_only' AS tag FROM (SELECT nationkey FROM sn EXCEPT SELECT nationkey FROM cn)
ORDER BY tag, nationkey
"""


# ---------------------------------------------------------------------------
# q11 — event-time tumbling window aggregation, batch form
# (SURVEY §2.10 extension; F.window == streaming-compatible semantics).
# window start exported as epoch seconds so timestamp precision (ns vs µs)
# cannot skew the value hash.
# ---------------------------------------------------------------------------
def q11_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            _xsum("value").alias("total_value"),
            _xavg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
        .sortWithinPartitions("window_start", "event_type")
    )


Q11_SQL = f"""
SELECT
  CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {_xsum_sql("value")} AS total_value,
  {_xavg_sql("value")} AS avg_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# q12 — predicate filters + projection pushdown (SURVEY §2.3 F1-ish; the
# scan should show PushedFilters on c_mktsegment/c_acctbal and a 3-column
# ReadSchema).
# ---------------------------------------------------------------------------
def q12_building_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0))
        .select("c_custkey", "c_name", "c_acctbal")
        .sortWithinPartitions("c_custkey")
    )


Q12_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# q13 — semi/anti joins (SURVEY §2.4 roadmap; needed by dedup + oracle
# harness).
# ---------------------------------------------------------------------------
def q13_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    okeys = orders.select("o_custkey")
    with_orders = (
        cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_semi")
        .agg(F.count("*").alias("customers_with_orders"))
    )
    without_orders = (
        cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left_anti")
        .agg(F.count("*").alias("customers_without_orders"))
    )
    return with_orders.crossJoin(without_orders)


Q13_SQL = """
SELECT
  (SELECT COUNT(*) FROM customer WHERE EXISTS
     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS customers_with_orders,
  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS customers_without_orders
"""


# ---------------------------------------------------------------------------
# q14 — the curated wide-table build (SURVEY §3 entry point 3): left joins
# fact→dims with calendar enrichment, mirroring
# /root/reference/src/transform_spark.py:92-124 (J1+J2+P3+P4, C1-C4).
# Full row set — the oracle hashes all ~60k rows at sf0.01.
# ---------------------------------------------------------------------------
def q14_curated_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")  # SF-scaling dim
        .select(
            "l_orderkey",
            "l_linenumber",
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
            F.weekofyear("l_shipdate").alias("ship_week"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "o_orderstatus",
            "o_totalprice",
            "c_mktsegment",
        )
    )


Q14_SQL = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  CAST(month(l_shipdate) AS INTEGER) AS ship_month,
  CAST(weekofyear(l_shipdate) AS INTEGER) AS ship_week,
  l_quantity,
  l_extendedprice,
  l_discount,
  o_orderstatus,
  o_totalprice,
  c_mktsegment
FROM lineitem
LEFT JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# q15 — top-k per group via row_number (SURVEY §2.6/§2.7 O4 generalized).
# ---------------------------------------------------------------------------
def q15_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .sortWithinPartitions("o_custkey", "rn")
    )


Q15_SQL = """
SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
"""


# ---------------------------------------------------------------------------
# q16 — pivot (manual rollup family → single pivoted table; Spark
# groupBy().pivot() vs SQL conditional aggregation).
# ---------------------------------------------------------------------------
def q16_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(_xsum("o_totalprice"))
        .select(
            "order_year",
            F.col("F").alias("total_f"),
            F.col("O").alias("total_o"),
            F.col("P").alias("total_p"),
        )
        .orderBy("order_year")
    )


Q16_SQL = f"""
SELECT
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  {_xsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS total_f,
  {_xsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS total_o,
  {_xsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS total_p
FROM orders
GROUP BY order_year
ORDER BY order_year
"""


# ---------------------------------------------------------------------------
# q17 — GROUPING SETS through the engine's SQL surface (spark.sql over
# registered views — the reference's downstream-notebook entry point,
# SURVEY §3 entry point 4, served by the same engine).
# ---------------------------------------------------------------------------
_Q17_BODY = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {_xsum_sql("l_quantity")} AS sum_qty,
  COUNT(*) AS n_rows,
  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl
FROM {{lineitem}}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY lvl, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_Q17_BODY, lineitem=read_table(spark, sf_dir, "lineitem"))


# identical ANSI SQL runs on both engines; Spark binds the frame through a
# placeholder, so the caller's own temp views are left alone
Q17_SQL = _Q17_BODY.format(lineitem="lineitem")


# ---------------------------------------------------------------------------
# q18 — rolling-window aggregate (frame-based analytic window: last-4-orders
# average spend per customer; SURVEY §7's "rolling 4-week avg" pattern).
# Exact scaled-integer sums inside the frame keep it hash-deterministic.
# ---------------------------------------------------------------------------
def q18_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            (
                (F.sum(cents).over(w) / F.lit(100.0)) / F.count(F.lit(1)).over(w)
            ).alias("rolling_avg_4"),
        )
        .sortWithinPartitions("o_custkey", "o_orderkey")
    )


Q18_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
  (SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER w
     / CAST(100.0 AS DOUBLE)) / COUNT(*) OVER w AS rolling_avg_4
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


# ---------------------------------------------------------------------------
# q19 — salted two-phase aggregation over a deliberately skewed key
# (l_returnflag has 3 values → 3 hot reducers in a naive groupBy). Result is
# identical to the direct groupBy, which is exactly what the oracle checks.
# ---------------------------------------------------------------------------
def q19_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import salted_agg

    li = read_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    out = salted_agg(
        li.withColumn("__cents", cents),
        keys=["l_returnflag"],
        aggs={
            "cents_sum": (F.sum("__cents"), F.sum),
            "n_rows": (F.count(F.lit(1)), F.sum),
            "max_qty": (F.max("l_quantity"), F.max),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        (F.col("cents_sum") / F.lit(100.0)).alias("total_price"),
        F.col("n_rows"),
        "max_qty",
    ).orderBy("l_returnflag")


Q19_SQL = f"""
SELECT l_returnflag,
  {_xsum_sql("l_extendedprice")} AS total_price,
  COUNT(*) AS n_rows,
  MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q20 — semi-structured JSON column (events.props): extract + aggregate
# (Spark get_json_object vs DuckDB json_extract).
# ---------------------------------------------------------------------------
def q20_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.max(k).alias("k_max"),
            F.count(F.when(k.isNull(), 1)).alias("k_nulls"),
        )
        .orderBy("event_type")
    )


# DuckDB SUM(BIGINT) promotes to DECIMAL(38,0)/HUGEINT while Spark sum(long)
# stays BIGINT — the outer CAST keeps both engines handing the driver int64.
# json_extract_string (not json_extract) so the NULL test sees a plain VARCHAR
# like Spark's get_json_object, and k_nulls counts nulls of the *cast* value
# on both sides.
Q20_SQL = """
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL
             THEN 1 END) AS k_nulls
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q21 — exact percentiles (order statistics): Spark's `percentile` and
# DuckDB's `quantile_cont` share the linear-interpolation definition and
# match bit-exact. (percentile_approx is the sketch-based scale variant;
# its values are implementation-defined, so the exact form is the oracle.)
# ---------------------------------------------------------------------------
def q21_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", 0.5).alias("median_price"),
            F.percentile("o_totalprice", 0.9).alias("p90_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


Q21_SQL = """
SELECT o_orderstatus,
  quantile_cont(o_totalprice, 0.5) AS median_price,
  quantile_cont(o_totalprice, 0.9) AS p90_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# q22 — 5-way star join (TPC-H Q5 shape): revenue by region-year. Constant
# dims (nation/region) broadcast explicitly; customer is left to AQE so the
# plan stays valid when it outgrows broadcast size at high SF.
# ---------------------------------------------------------------------------
def q22_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with SF → AQE decides; nation (25 rows) and region
        # (5 rows) are constant-size → broadcast is scale-safe
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "order_year")
    )


Q22_SQL = f"""
SELECT r_name,
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  {_xsum_sql("l_extendedprice * (1 - l_discount)", 10000)} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, order_year
ORDER BY r_name, order_year
"""


# ---------------------------------------------------------------------------
# q23 — conditional-ratio aggregate with a string predicate (TPC-H Q14
# shape): PROMO revenue share per ship-year.
# ---------------------------------------------------------------------------
def q23_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)  # part scales with SF
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            (F.sum(promo) / F.lit(10000.0)).alias("promo_revenue"),
            (F.sum(rev_cents) / F.lit(10000.0)).alias("total_revenue"),
            (
                F.sum(promo).cast("double") / F.sum(rev_cents)
            ).alias("promo_share"),
        )
        .orderBy("ship_year")
    )


Q23_SQL = """
WITH j AS (
  SELECT year(l_shipdate) AS y,
    CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT) AS rc,
    CASE WHEN p_type = 'PROMO'
         THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
         ELSE 0 END AS pc
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT CAST(y AS INTEGER) AS ship_year,
  SUM(pc) / CAST(10000.0 AS DOUBLE) AS promo_revenue,
  SUM(rc) / CAST(10000.0 AS DOUBLE) AS total_revenue,
  CAST(SUM(pc) AS DOUBLE) / SUM(rc) AS promo_share
FROM j GROUP BY y ORDER BY ship_year
"""


# ---------------------------------------------------------------------------
# q24 — string-function surface (split_part/lpad/replace/substr/reverse/
# left/right/instr/levenshtein/concat_ws + conditionals) as one projection.
# ---------------------------------------------------------------------------
def q24_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.split_part(name, F.lit("#"), F.lit(2)).alias("cust_num"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.replace(name, F.lit("#"), F.lit("-")).alias("dashed"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.length(name).alias("name_len"),
        F.instr(name, "#").alias("hash_pos"),
        F.levenshtein("c_mktsegment", F.lit("MACHINERY")).alias("lev_machinery"),
        F.concat_ws("|", "c_mktsegment", name).alias("joined"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("(b)")).alias(
            "nullif_seg"
        ),
    ).sortWithinPartitions("c_custkey")


Q24_SQL = """
SELECT c_custkey,
  split_part(c_name, '#', 2) AS cust_num,
  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
  upper(c_mktsegment) AS seg_upper,
  replace(c_name, '#', '-') AS dashed,
  substr(c_name, 1, 8) AS prefix8,
  reverse(c_mktsegment) AS seg_rev,
  CAST(length(c_name) AS INTEGER) AS name_len,
  CAST(instr(c_name, '#') AS INTEGER) AS hash_pos,
  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS INTEGER) AS lev_machinery,
  concat_ws('|', c_mktsegment, c_name) AS joined,
  coalesce(nullif(c_mktsegment, 'BUILDING'), '(b)') AS nullif_seg
FROM customer ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# q25 — date/time function surface (datediff, date_add, month boundaries)
# with ISO-string exports so both engines hash identical values.
# ---------------------------------------------------------------------------
def q25_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(F.trunc(d, "MM"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek(d).alias("dow"),
        F.quarter(d).alias("qtr"),
    ).sortWithinPartitions("o_orderkey")


Q25_SQL = """
SELECT o_orderkey,
  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
  strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_start,
  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
  CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr
FROM orders ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# q26 — array-function surface over token arrays; scalar/string exports.
# F.get is used instead of element_at because element_at throws on
# out-of-bounds under ANSI mode while get returns NULL (matching DuckDB's
# out-of-bounds list index).
# ---------------------------------------------------------------------------
def q26_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as tx

    docs = read_table(spark, sf_dir, "documents")
    tok = tx.tokens(F.col("text"))
    sorted_uniq = F.array_sort(F.array_distinct(tok))
    return docs.select(
        "doc_id",
        # NULL (not '') when the doc has no tokens: DuckDB's
        # array_to_string([]) is NULL while Spark's array_join([]) is ''
        # — pin the portable semantics explicitly (edge-sf sweep)
        F.when(
            F.size(sorted_uniq) > 0,
            F.array_join(F.slice(sorted_uniq, 1, 3), ","),
        ).alias("first3_sorted"),
        # 0 for NULL text: a missing doc contains nothing — matches the
        # twin's CASE, where NULL falls to the ELSE 0 arm
        F.coalesce(
            F.array_contains(tok, "the").cast("int"), F.lit(0)
        ).alias("has_the"),
        F.get(tok, 0).alias("tok_first"),
        F.levenshtein(F.get(tok, 0), F.get(tok, 1)).alias("lev_first_two"),
        F.size(sorted_uniq).alias("n_uniq"),
    ).orderBy("doc_id")


_Q26_TOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

Q26_SQL = f"""
WITH tk AS (SELECT doc_id, {_Q26_TOK} AS tok FROM documents)
SELECT doc_id,
  array_to_string(list_sort(list_distinct(tok))[1:3], ',') AS first3_sorted,
  CAST(CASE WHEN list_contains(tok, 'the') THEN 1 ELSE 0 END AS INTEGER) AS has_the,
  tok[1] AS tok_first,
  CAST(levenshtein(tok[1], tok[2]) AS INTEGER) AS lev_first_two,
  CAST(len(list_distinct(tok)) AS INTEGER) AS n_uniq
FROM tk ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# q28 — multiset set operations: exceptAll / intersectAll keep
# multiplicities (q10 covers the distinct forms). Compared as aggregated
# multiplicity counts so ordering can't affect the hash.
# ---------------------------------------------------------------------------
def q28_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 4).select("l_returnflag")
    b = li.filter(F.col("l_linenumber") >= 2).select("l_returnflag")
    ex = (
        a.exceptAll(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    inter = (
        a.intersectAll(b)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return ex.unionByName(inter).orderBy("op", "l_returnflag")


Q28_SQL = """
WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_linenumber <= 4),
     b AS (SELECT l_returnflag FROM lineitem WHERE l_linenumber >= 2),
     ex AS (SELECT l_returnflag FROM a EXCEPT ALL SELECT l_returnflag FROM b),
     inter AS (SELECT l_returnflag FROM a INTERSECT ALL SELECT l_returnflag FROM b)
SELECT l_returnflag, COUNT(*) AS n, 'except_all' AS op FROM ex GROUP BY l_returnflag
UNION ALL
SELECT l_returnflag, COUNT(*) AS n, 'intersect_all' AS op FROM inter GROUP BY l_returnflag
ORDER BY op, l_returnflag
"""


# ---------------------------------------------------------------------------
# q27 — full outer join (per-nation customer vs supplier counts, nations
# missing on either side preserved with coalesced keys).
# ---------------------------------------------------------------------------
def q27_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    cn = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_customers")
    )
    sn = sup.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        cn.join(sn, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


Q27_SQL = """
WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
ORDER BY nationkey
"""


for _spec in [
    QuerySpec("q01_pricing_summary", q01_pricing_summary, Q01_SQL,
              ("A1", "O1", "F1", "C5")),
    QuerySpec("q02_top_customers", q02_top_customers, Q02_SQL,
              ("J1", "A2", "O2", "O4")),
    QuerySpec("q05_null_profile_orders", q05_null_profile_orders, Q05_SQL,
              ("Q2", "A8", "F1")),
    QuerySpec("q06_dup_stats", q06_dup_stats, Q06_SQL, ("A5", "A6", "Q3")),
    QuerySpec("q11_event_hourly", q11_event_hourly, Q11_SQL,
              ("ST1", "A1")),
    QuerySpec("q13_semi_anti", q13_semi_anti, Q13_SQL, ("J3", "J4")),
    QuerySpec("q14_curated_wide", q14_curated_wide, Q14_SQL,
              ("J1", "J2", "P3", "P4", "C1", "C2", "C3", "C4")),
    QuerySpec("q16_status_pivot", q16_status_pivot, Q16_SQL, ("A1", "PV1")),
    QuerySpec("q17_grouping_sets", q17_grouping_sets, Q17_SQL, ("G1", "SQL1")),
    QuerySpec("q19_salted_skew_agg", q19_salted_skew_agg, Q19_SQL, ("SK1", "A1")),
    QuerySpec("q20_json_props", q20_json_props, Q20_SQL, ("C9", "A1")),
    QuerySpec("q27_full_outer_join", q27_full_outer_join, Q27_SQL, ("J5",)),
    QuerySpec("q28_multiset_ops", q28_multiset_ops, Q28_SQL, ("SET2",)),
]:
    register(_spec)

# Star-schema joins and aggregates plus alternate API surfaces of the
# queries above (q09 DataFrame rollup vs q17 SQL grouping sets; q10 distinct
# set ops vs q28 multiset forms).
for _spec in [
    QuerySpec("q03_sales_by_nation_year", q03_sales_by_nation_year, Q03_SQL,
              ("J1", "J2", "A2", "C2")),
    QuerySpec("q08_supplier_rank_in_nation", q08_supplier_rank_in_nation, Q08_SQL,
              ("W1", "A1", "J1")),
    QuerySpec("q22_revenue_by_region", q22_revenue_by_region, Q22_SQL,
              ("J1", "J2", "A1")),
    QuerySpec("q04_returnflag_by_year", q04_returnflag_by_year, Q04_SQL,
              ("A3", "C2")),
    QuerySpec("q07_distinct_flag_status", q07_distinct_flag_status, Q07_SQL,
              ("A5", "A7")),
    QuerySpec("q12_building_customers", q12_building_customers, Q12_SQL,
              ("F1", "P3")),
    QuerySpec("q15_top_orders_per_customer", q15_top_orders_per_customer, Q15_SQL,
              ("W1", "O4")),
    QuerySpec("q18_rolling_avg", q18_rolling_avg, Q18_SQL, ("W2",)),
    QuerySpec("q21_percentiles", q21_percentiles, Q21_SQL, ("A9",)),
    QuerySpec("q23_promo_share", q23_promo_share, Q23_SQL, ("A1", "F1")),
    QuerySpec("q09_rollup_flag_status", q09_rollup_flag_status, Q09_SQL,
              ("A1", "G1")),
    QuerySpec("q10_nation_set_ops", q10_nation_set_ops, Q10_SQL, ("SET1",)),
    # function-surface demos: the function families stay covered by the
    # oracle via these (+ tests/test_functions.py)
    QuerySpec("q24_string_funcs", q24_string_funcs, Q24_SQL, ("C10",)),
    QuerySpec("q25_date_funcs", q25_date_funcs, Q25_SQL, ("C11",)),
    QuerySpec("q26_array_funcs", q26_array_funcs, Q26_SQL, ("C12",)),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# q29 — CUBE aggregation (all 2^2 grouping combinations in one pass);
# completes the grouping-analytics family next to q09 ROLLUP and q17
# GROUPING SETS. Exact scaled-integer sums keep every subtotal
# hash-deterministic.
# ---------------------------------------------------------------------------
def q29_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            _xsum("l_quantity").alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q29_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       {_xsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q30 — unpivot/melt (wide metric columns → long (metric, value) rows) then
# re-aggregate. Spark's DataFrame.unpivot vs the portable UNION ALL
# formulation in the oracle.
# ---------------------------------------------------------------------------
def q30_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    long_form = li.unpivot(
        ids=["l_linestatus"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return (
        long_form.groupBy("l_linestatus", "metric")
        .agg(_xsum("val").alias("total"))
        .orderBy("l_linestatus", "metric")
    )


Q30_SQL = f"""
WITH long_form AS (
  SELECT l_linestatus, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_linestatus, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_linestatus, 'l_discount', l_discount FROM lineitem
)
SELECT l_linestatus, metric, {_xsum_sql('val')} AS total
FROM long_form
GROUP BY l_linestatus, metric
ORDER BY l_linestatus, metric
"""


# ---------------------------------------------------------------------------
# q31 — scalar subquery in WHERE: orders above the global average price.
# The threshold compare is done in scaled-integer space on BOTH sides
# (price_cents * n > total_cents), so no float summation order can flip a
# borderline row in either engine. Identical ANSI text runs on both.
# ---------------------------------------------------------------------------
_Q31_BODY = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
  (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE))
    AS sum_price
FROM {orders}
WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT)
        * (SELECT COUNT(*) FROM {orders})
      > (SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM {orders})
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q31_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_Q31_BODY, orders=read_table(spark, sf_dir, "orders"))


Q31_SQL = _Q31_BODY.format(orders="orders")  # the same ANSI SQL (see Q17_SQL)


# ---------------------------------------------------------------------------
# q32 — analytic-window depth: ntile / percent_rank / cume_dist / lag /
# lead over one tie-broken total ordering (ties would make every ranking
# engine-dependent). One shuffle on the partition key.
#
# percent_rank/cume_dist are exported as INTEGER micro-units computed with
# integer division ((rank-1)*1e6 div (n-1)), not rounded doubles: a rounded
# percent_rank can land exactly on a 6th-decimal .5 boundary (seen at
# sf0.1: 41/640), where Spark's BigDecimal HALF_UP and DuckDB's C-double
# rounding disagree. Integer div is bit-identical in both engines.
# ---------------------------------------------------------------------------
def q32_window_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("c_nationkey")).alias("cnt"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.lead("c_acctbal").over(w).alias("next_bal"),
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        "quartile",
        # rn is row_number's INT32 — cast before the micro-scale multiply
        # (6k rows/partition at the replica already pushes rn*1e6 past
        # 2^31; caught by the round-12 replica overflow drive)
        F.when(
            F.col("cnt") > 1,
            F.expr("((CAST(rn AS BIGINT) - 1) * 1000000) div (cnt - 1)"),
        ).alias("pct_rank_micro"),
        F.expr(
            "(CAST(rn AS BIGINT) * 1000000) div cnt"
        ).alias("cum_dist_micro"),
        F.round(F.col("c_acctbal") - F.col("prev_bal"), 2).alias("gap_prev"),
        F.round(F.col("next_bal") - F.col("c_acctbal"), 2).alias("gap_next"),
    ).sortWithinPartitions("c_custkey")


Q32_SQL = """
WITH r AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
    row_number() OVER w AS rn,
    COUNT(*) OVER (PARTITION BY c_nationkey) AS cnt,
    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
    lag(c_acctbal) OVER w AS prev_bal,
    lead(c_acctbal) OVER w AS next_bal
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
)
SELECT c_custkey, c_nationkey, quartile,
  CASE WHEN cnt > 1 THEN ((rn - 1) * 1000000) // (cnt - 1) END
    AS pct_rank_micro,
  (rn * 1000000) // cnt AS cum_dist_micro,
  ROUND(c_acctbal - prev_bal, 2) AS gap_prev,
  ROUND(next_bal - c_acctbal, 2) AS gap_next
FROM r
ORDER BY c_custkey
"""


for _spec in [
    # q29's CUBE is also the A3 boolean-dim grouped agg, subsuming q04
    QuerySpec("q29_cube_returnflag_status", q29_cube_returnflag_status,
              Q29_SQL, ("G2", "A3")),
    QuerySpec("q31_scalar_subquery", q31_scalar_subquery, Q31_SQL, ("SQ1",)),
    QuerySpec("q30_unpivot_metrics", q30_unpivot_metrics, Q30_SQL, ("PV2",)),
    QuerySpec("q32_window_depth", q32_window_depth, Q32_SQL, ("W3",)),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# q33 — VariantType JSON path (Spark 4's native semi-structured type):
# parse_json once, typed variant_get extraction. Same aggregate semantics
# as q20 (string-path get_json_object), so the two formulations cross-check
# each other; the oracle is the same DuckDB JSON extraction, with the q20
# CAST discipline (DuckDB SUM(BIGINT)→HUGEINT vs Spark BIGINT).
# At scale Variant beats per-access string re-parsing: the binary encoding
# is parsed once at scan time and every field access is a cheap typed read.
# ---------------------------------------------------------------------------
def q33_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.min(k).alias("k_min"),
            F.count(F.when(k.isNotNull(), 1)).alias("k_present"),
        )
        .orderBy("event_type")
    )


Q33_SQL = """
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
  COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             IS NOT NULL THEN 1 END) AS k_present
FROM events
GROUP BY event_type
ORDER BY event_type
"""


register(
    QuerySpec("q33_variant_props", q33_variant_props, Q33_SQL, ("C13",))
)


# ---------------------------------------------------------------------------
# q34 — correlated scalar subqueries in SELECT: per customer, the order
# count and latest order date pulled by two correlated subqueries. Catalyst
# decorrelates each into an aggregate + left outer join (no per-row
# re-execution — the naive nested-loop reading is O(n^2) and is exactly
# what the optimizer must NOT do at scale); the identical ANSI text runs on
# DuckDB, which decorrelates the same way. COUNT(*) in an empty correlation
# group must surface as 0 (not NULL) in both engines — the classic
# COUNT-bug of subquery decorrelation — which building-customer keys with
# no orders exercise for real.
# ---------------------------------------------------------------------------
_Q34_BODY = """
SELECT c_custkey,
  (SELECT COUNT(*) FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    AS n_orders,
  (SELECT MAX(o_orderdate) FROM {orders} o WHERE o.o_custkey = c.c_custkey)
    AS last_order
FROM {customer} c
WHERE c_mktsegment = 'BUILDING'
"""


def q34_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bulk per-customer export: partition-local order only (the shared
    # ANSI body carries no ORDER BY; the oracle compare is
    # order-insensitive)
    return spark.sql(
        _Q34_BODY,
        customer=read_table(spark, sf_dir, "customer"),
        orders=read_table(spark, sf_dir, "orders"),
    ).sortWithinPartitions("c_custkey")


# the same ANSI SQL (see Q17_SQL)
Q34_SQL = _Q34_BODY.format(customer="customer", orders="orders")


register(
    QuerySpec("q34_correlated_scalar", q34_correlated_scalar, Q34_SQL, ("SQ2",))
)


# ---------------------------------------------------------------------------
# q35 — market share (TPC-H Q8 shape): six-table join tree (lineitem ⋈
# orders ⋈ customer ⋈ nation ⋈ region on the demand side, lineitem ⋈
# supplier ⋈ nation on the supply side), conditional aggregation, and a
# ratio-of-sums per year. Fixed-size dims (nation, region) carry an
# explicit broadcast hint; supplier/customer scale with SF, so their join
# strategy is left to the optimizer (VERDICT r1: a hard-coded broadcast of
# an SF-scaling table is a 100x OOM hazard).
#
# Exactness: revenue partials are scale-1e4 integers (exact product grid of
# 2-decimal price x 2-decimal discount); the share is exported as integer
# micro-units via integer division, never a rounded float ratio (see
# [[oracle-hash-stability]] rule 3 in plans/registry.py's docstring).
# ---------------------------------------------------------------------------
def q35_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        )
        .cast("long")
        .alias("rev_c"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )

    asia_cust = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey", "n_name")

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(asia_cust, orders.o_custkey == asia_cust.c_custkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.sum("rev_c").alias("rev_total_c"),
            F.sum(
                F.when(F.col("n_name") == "NATION_0", F.col("rev_c")).otherwise(
                    F.lit(0)
                )
            ).alias("rev_nation_c"),
        )
        .select(
            "o_year",
            "rev_total_c",
            "rev_nation_c",
            F.expr("(rev_nation_c * 1000000) div rev_total_c").alias(
                "share_micro"
            ),
        )
        .orderBy("o_year")
    )


Q35_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
           AS rev_c
  FROM lineitem
),
asia_cust AS (
  SELECT c_custkey
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
supp_nation AS (
  SELECT s_suppkey, n_name FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT o_year,
  CAST(SUM(rev_c) AS BIGINT) AS rev_total_c,
  CAST(SUM(CASE WHEN n_name = 'NATION_0' THEN rev_c ELSE 0 END) AS BIGINT)
    AS rev_nation_c,
  (CAST(SUM(CASE WHEN n_name = 'NATION_0' THEN rev_c ELSE 0 END) AS BIGINT)
     * 1000000)
    // CAST(SUM(rev_c) AS BIGINT) AS share_micro
FROM li
JOIN (SELECT o_orderkey, o_custkey, year(o_orderdate) AS o_year FROM orders) o
  ON l_orderkey = o_orderkey
JOIN asia_cust ON o_custkey = c_custkey
JOIN supp_nation ON l_suppkey = s_suppkey
GROUP BY o_year
ORDER BY o_year
"""


register(
    QuerySpec("q35_market_share", q35_market_share, Q35_SQL, ("J6",))
)


# ---------------------------------------------------------------------------
# q36 — SQL pipe syntax (Spark 4's `|>` operators): the same pricing-
# summary semantics as q01 expressed as a linear pipeline — scan |> filter
# |> aggregate |> sort. Catalyst compiles it to the identical plan as the
# nested form, so this is a pure surface-parity entry; the oracle is plain
# ANSI SQL (DuckDB has no pipe syntax). Integer-exact sums per the house
# discipline.
# ---------------------------------------------------------------------------
def q36_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate <= DATE'1998-09-02'
        |> AGGREGATE
             COUNT(*) AS n_rows,
             SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS qty_c,
             SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS price_c
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """,
        lineitem=read_table(spark, sf_dir, "lineitem"),
    )


Q36_SQL = """
SELECT l_returnflag, l_linestatus,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_c,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS price_c
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


register(
    QuerySpec("q36_pipe_syntax", q36_pipe_syntax, Q36_SQL, ("PS1",))
)


# ---------------------------------------------------------------------------
# q37 — equi-width histogram of order totals: bucket index by exact integer
# arithmetic (cents div bucket-width-in-cents), so bucket boundaries cannot
# drift between engines the way float width_bucket edges can. One
# aggregation shuffle on ≤ n_buckets+1 groups; the scan dominates — the
# shape of every "distribution of X" dashboard query at 100 TB.
# ---------------------------------------------------------------------------
_HIST_BUCKETS = 20
_HIST_LO, _HIST_HI = 0, 600_000  # dollars; o_totalprice ∈ (~400, ~560k)


def q37_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    width_c = (_HIST_HI - _HIST_LO) * 100 // _HIST_BUCKETS
    o = read_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr(
                f"least(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
                f" div {width_c}, {_HIST_BUCKETS - 1}) "
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("bucket")
    )


Q37_SQL = f"""
SELECT
  least(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
          // {(_HIST_HI - _HIST_LO) * 100 // _HIST_BUCKETS},
        {_HIST_BUCKETS - 1}) AS bucket,
  COUNT(*) AS n_orders
FROM orders
GROUP BY bucket
ORDER BY bucket
"""


register(QuerySpec("q37_histogram", q37_histogram, Q37_SQL, ("H1",)))


# ---------------------------------------------------------------------------
# q38 — null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
# match each other instead of disappearing, the semantics dedup and SCD
# merge keys need when business keys are nullable. Spark plans <=> as a
# regular hash join on a null-safe-wrapped key — same shuffle shape as an
# equi-join, NOT a nested loop (an engine that demotes it to NLJ dies at
# scale). Keys are synthesized with NULLIF so the data actually contains a
# NULL join group.
# ---------------------------------------------------------------------------
def q38_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        read_table(spark, sf_dir, "orders")
        .select(F.expr("NULLIF(o_custkey % 100, 7)").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_orders"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .select(F.expr("NULLIF(c_custkey % 100, 7)").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_customers"))
    )
    return (
        o.join(c, o.k.eqNullSafe(c.k))
        .select(o.k.alias("k"), "n_orders", "n_customers")
        .orderBy(F.col("k").asc_nulls_first())
    )


Q38_SQL = """
WITH o AS (
  SELECT NULLIF(o_custkey % 100, 7) AS k, COUNT(*) AS n_orders
  FROM orders GROUP BY 1
),
c AS (
  SELECT NULLIF(c_custkey % 100, 7) AS k, COUNT(*) AS n_customers
  FROM customer GROUP BY 1
)
SELECT o.k AS k, n_orders, n_customers
FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
ORDER BY k ASC NULLS FIRST
"""


register(
    QuerySpec("q38_nullsafe_join", q38_nullsafe_join, Q38_SQL, ("J7",))
)


# ---------------------------------------------------------------------------
# q39 — DECIMAL arithmetic end-to-end: money as DECIMAL(12,2), summed in
# exact fixed-point (no float accumulation at all). This is the type
# discipline a financial deployment would use instead of the cents-int idiom
# the other queries demonstrate; the two must agree, which q39's sum_cents
# column cross-checks in the same row.
#
# Export discipline (round-6 fix, VERDICT r5 "What's wrong" #1): the r5
# driver comparator hash-mismatched on a raw exported DECIMAL(18,2) column
# even though both engines computed identical exact values locally — decimal
# CELL REPRESENTATION is not portable across comparator environments. So the
# decimal aggregate now crosses the boundary as its canonical scale-2 string
# (CAST(dec AS STRING) renders "12345.60" identically in Spark and DuckDB),
# while sum_cents BIGINT remains the machine-checkable twin of the same
# value. The arithmetic itself is still decimal-exact end-to-end.
# ---------------------------------------------------------------------------
def q39_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(12,2)")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(dec)
            .cast("decimal(18,2)")
            .cast("string")
            .alias("sum_dec"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "sum_cents"
            ),
        )
        .orderBy("o_orderstatus")
    )


Q39_SQL = """
SELECT o_orderstatus,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
    AS VARCHAR) AS sum_dec,
  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


register(
    QuerySpec("q39_decimal_money", q39_decimal_money, Q39_SQL, ("DEC1",))
)


# ---------------------------------------------------------------------------
# q40 — MapType surface: per-user event-type counts built into a map
# (map_from_entries ∘ collect_list(struct)), then consumed with size() and
# element_at(). The map is assembled per-group AFTER the count aggregation,
# so collect_list's arbitrary order only permutes map entries — every
# exported value is order-independent. Oracle: the same numbers from plain
# relational aggregation (DuckDB's MAP type exists but the point is value
# parity of the map OPERATIONS, not the container encoding).
# ---------------------------------------------------------------------------
def q40_map_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.element_at("m", "click").alias("click_cnt"),
        F.element_at("m", "purchase").alias("purchase_cnt"),
    ).sortWithinPartitions("user_id")


Q40_SQL = """
SELECT user_id,
  COUNT(DISTINCT event_type) AS n_types,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
    AS click_cnt,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
    AS purchase_cnt
FROM events
GROUP BY user_id
ORDER BY user_id
"""


register(QuerySpec("q40_map_type", q40_map_type, Q40_SQL, ("MAP1",)))


# ---------------------------------------------------------------------------
# q41_rfm_segments — RFM (recency / frequency / monetary) customer
# segmentation, the canonical retail-analytics operator for the
# reference's domain (cf. /root/reference/testing/sql_queries.ipynb's
# store-level aggs): per customer, days since last order (vs the
# table-wide anchor date), order count, and lifetime cents; each scored
# into quartiles (exact ntile semantics) and concatenated into the
# familiar "444"-style segment code.
#
# Plan: one shuffle to the per-customer rollup (map-side-combined off the
# fact table, ~1000x smaller than orders), then three DISTRIBUTED exact
# quartile passes. A naive ntile(4) window here is unpartitioned over the
# CUSTOMER-cardinality frame — a single-partition sort, the one window
# shape that walls at 100 TB (round-13 unpartitioned-window ratchet,
# tests/test_plan_audit.py) — so each pass instead range-repartitions on
# the sort key, sorts within partitions, derives the exact global rank
# from monotonically_increasing_id's (partition, offset) bit layout plus
# broadcast cumulative partition counts, and applies ntile's equal-count
# bucket formula with exact integer arithmetic. The only unpartitioned
# window left runs over the partition-COUNT table (one row per shuffle
# partition — cluster-config-bounded, never data-bounded). Determinism:
# recency/cents are exact integers; every pass orders by
# (metric, c_custkey) — a total order — so the global rank, and hence
# every bucket, is identical in both engines regardless of partitioning.
# ---------------------------------------------------------------------------
def q41_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_ntile
    orders = read_table(spark, sf_dir, "orders")
    # Round-12 consolidation kept the orders scan at 1 via an unpartitioned
    # max-anchor window; round 13 replaces it with a cached rollup + 1-row
    # broadcast anchor (same single parquet scan — the cache is the scan),
    # which also supplies the exact total count the bucket formula needs.
    # Cache lifecycle (ADVICE r13 #3): this rollup is CUSTOMER-grain
    # (~1000x smaller than the fact scan) and the default MEMORY_AND_DISK
    # level is LRU-evictable, so the session-lifetime entry is bounded
    # pressure, not a leak; it cannot be unpersisted here because the
    # returned frame is lazy (the driver materializes it). Pipelines that
    # loop over segmentations should spark.catalog.clearCache() between
    # batches — same contract as operators/ranking.py's pin.
    per_cust_base = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("monetary_cents"),
        )
        .cache()
    )
    anchor = per_cust_base.agg(
        F.max("last_order").alias("anchor"),
        F.count("*").cast("bigint").alias("_n"),
    )
    per_cust = per_cust_base.crossJoin(F.broadcast(anchor)).select(
        "c_custkey",
        F.datediff("anchor", "last_order").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary_cents",
        "_n",
    )
    scored = global_ntile(
        per_cust, [F.desc("recency_days"), F.col("c_custkey")], "_n", 4, "r_score"
    )
    scored = global_ntile(
        scored, [F.col("frequency"), F.col("c_custkey")], "_n", 4, "f_score"
    )
    scored = global_ntile(
        scored, [F.col("monetary_cents"), F.col("c_custkey")], "_n", 4, "m_score"
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    ).sortWithinPartitions("c_custkey")


Q41_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS c_custkey,
    MAX(CAST(o_orderdate AS DATE)) AS last_order,
    CAST(COUNT(*) AS BIGINT) AS frequency,
    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      AS monetary_cents
  FROM orders GROUP BY 1
),
anchored AS (
  SELECT c_custkey,
    CAST(date_diff('day', last_order,
      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS BIGINT)
      AS recency_days,
    frequency, monetary_cents
  FROM per_cust
),
scored AS (
  SELECT c_custkey, recency_days, frequency, monetary_cents,
    CAST(NTILE(4) OVER (ORDER BY recency_days DESC, c_custkey) AS BIGINT)
      AS r_score,
    CAST(NTILE(4) OVER (ORDER BY frequency, c_custkey) AS BIGINT) AS f_score,
    CAST(NTILE(4) OVER (ORDER BY monetary_cents, c_custkey) AS BIGINT)
      AS m_score
  FROM anchored
)
SELECT c_custkey, recency_days, frequency, monetary_cents,
  r_score, f_score, m_score,
  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
    || CAST(m_score AS VARCHAR) AS segment
FROM scored
ORDER BY c_custkey
"""


register(
    QuerySpec(
        "q41_rfm_segments",
        q41_rfm_segments,
        Q41_SQL,
        ("RFM1", "W5"),
        doc="RFM quartile segmentation: the retail-domain customer scoring rollup",
    )
)


# ---------------------------------------------------------------------------
# q44_lateral_topn — the LATERAL correlated-subquery surface: for every
# region, the two nations holding the most customer balance, written as a
# per-row lateral subquery (the "top-N per group as a subquery" idiom SQL
# users reach for before learning window functions). One SQL text runs on
# BOTH engines. Catalyst decorrelates the lateral into a
# partitioned rank-filter plan — same shape as q15's window top-k, so
# the lateral SURFACE costs nothing extra at scale: no per-region rescan
# survives optimization (DecorrelateInnerQuery + RewriteLateralSubquery),
# and the dims are broadcast.
# ---------------------------------------------------------------------------
_Q44_BODY = """
SELECT r.r_name AS region, t.n_name AS nation, t.bal_cents
FROM {region} r,
LATERAL (
  SELECT n.n_name,
    CAST(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
      AS bal_cents
  FROM {nation} n JOIN {customer} c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY bal_cents DESC, n.n_name
  LIMIT 2
) t
ORDER BY region, bal_cents DESC, nation
"""


def q44_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = ("region", "nation", "customer")
    return spark.sql(_Q44_BODY, **{t: read_table(spark, sf_dir, t) for t in tables})


# the same ANSI SQL (see Q17_SQL)
Q44_SQL = _Q44_BODY.format(region="region", nation="nation", customer="customer")


register(
    QuerySpec("q44_lateral_topn", q44_lateral_topn, Q44_SQL, ("LAT1",))
)


# ---------------------------------------------------------------------------
# q45_rank_surface — the remaining analytic-rank window family in one
# plan: NTILE(4) quartiles, percent_rank, and cume_dist over customers
# ranked by account balance WITHIN market segment. q08/q41 cover
# rank/row_number; this adds the three distribution-position functions
# BI tools emit constantly. One shuffle on c_mktsegment; all four
# functions share the single window sort. Deterministic: the order key
# is (balance cents DESC, c_custkey) — a total order — and
# percent_rank/cume_dist are ratios of exact integers, rounded at 1e-6
# identically on both engines. NTILE's remainder rule (first buckets get
# the extra rows) matches across engines given the total order.
# ---------------------------------------------------------------------------
def q45_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("bal_cents"), "c_custkey"
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "bal_cents",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).sortWithinPartitions("c_custkey")


Q45_SQL = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT c_custkey, c_mktsegment, bal_cents,
  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
  ROUND(percent_rank() OVER w, 6) AS pct_rank,
  ROUND(cume_dist() OVER w, 6) AS cume
FROM cust
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_cents DESC, c_custkey)
ORDER BY c_custkey
"""


register(
    QuerySpec("q45_rank_surface", q45_rank_surface, Q45_SQL, ("W6",))
)


# ---------------------------------------------------------------------------
# q46_recursive_spine — WITH RECURSIVE (Spark 4's recursive CTE surface):
# build a gap-free month spine from the table's own bounds by recursion,
# then left-join the monthly order counts so empty months surface as
# explicit zeros. The recursion depth is months-of-history (bounded,
# driver-free); the monthly rollup is one map-side-combinable shuffle; the
# spine join is a broadcast (≤ a few hundred rows against a grouped
# aggregate). events_gapfill_locf is the sequence()/explode twin of this
# spine — this one exercises the recursive-CTE evaluator itself.
#
# Round 14 (guide §1.1/§2.4): the original single SQL text fed `bounds` —
# an AGGREGATE OVER ORDERS — into the recursive step (`FROM spine, bounds
# WHERE m < mmax`), and Spark's UnionLoop re-evaluated that uncached
# subquery on EVERY one of the ~80 recursion steps: 80 full orders scans
# for two constants. Measured 16.0 s at sf0.1. The bounds now come from
# ONE 1-row aggregate collected to the driver (the BPE-argmax /
# profile-aggregate precedent: driver-bounded by construction) and enter
# the recursion as literals, so each step is a 1-row increment with no
# table reference. Measured 0.76 s (21x), rows identical (exceptAll = 0).
# The DuckDB twin keeps the self-contained one-text form (its recursive
# evaluator materializes bounds once; DuckDB is not the hot engine).
# ---------------------------------------------------------------------------
def q46_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("mmin"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("mmax"),
    ).collect()[0]
    return spark.sql(
        f"""
WITH RECURSIVE spine(m) AS (
  SELECT CAST('{b.mmin}' AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
  WHERE m < CAST('{b.mmax}' AS DATE)
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, COUNT(*) AS n
  FROM {{orders}} GROUP BY 1
)
SELECT spine.m AS month_start, CAST(COALESCE(monthly.n, 0) AS BIGINT) AS n_orders
FROM spine LEFT JOIN monthly ON spine.m = monthly.m
ORDER BY month_start
""",
        orders=orders,
    )


_Q46_ORACLE = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS mmin,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mmax
  FROM orders
),
spine(m) AS (
  SELECT mmin FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine, bounds WHERE m < mmax
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT spine.m AS month_start, CAST(COALESCE(monthly.n, 0) AS BIGINT) AS n_orders
FROM spine LEFT JOIN monthly ON spine.m = monthly.m
ORDER BY month_start
"""


Q46_SQL = _Q46_ORACLE  # DuckDB keeps the self-contained recursive text


register(
    QuerySpec("q46_recursive_spine", q46_recursive_spine, Q46_SQL, ("RC1",))
)


# ---------------------------------------------------------------------------
# q48_global_rank — the distributed exact global-ranking primitive
# (operators/ranking.py:global_row_number) as a first-class query: every
# order's exact 1-based rank by lifetime value over the WHOLE table. The
# naive spelling is ROW_NUMBER() OVER (ORDER BY ...) — an unpartitioned
# window the round-13 plan-audit ratchet bans on data-sized inputs because
# it funnels the full table through one task. This plan instead pays one
# range exchange + a partition-count broadcast (the same machinery a
# global sort already needs), so rank assignment is partition-parallel at
# any scale. The sort key (cents DESC, o_orderkey) is a total order, so
# the rank matches the oracle's ROW_NUMBER exactly, tie-free. Bulk
# per-row export -> sortWithinPartitions tail (round-9 rule).
# ---------------------------------------------------------------------------
def q48_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    ranked = global_row_number(
        orders, [F.desc("cents"), F.col("o_orderkey")], out="value_rank"
    )
    return ranked.select(
        "o_orderkey", "cents", "value_rank"
    ).sortWithinPartitions("o_orderkey")


Q48_SQL = """
SELECT o_orderkey,
  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
  CAST(ROW_NUMBER() OVER (
    ORDER BY CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) DESC, o_orderkey
  ) AS BIGINT) AS value_rank
FROM orders
ORDER BY o_orderkey
"""


register(
    QuerySpec(
        "q48_global_rank",
        q48_global_rank,
        Q48_SQL,
        ("RK1",),
        doc="exact global row_number without a single-partition window: "
        "range exchange + broadcast partition-count offsets",
    )
)
