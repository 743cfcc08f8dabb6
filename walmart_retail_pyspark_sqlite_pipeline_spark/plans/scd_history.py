"""Oracle-graded SCD Type-2 history maintenance.

Drives `operators/scd.py` (SURVEY tag SCD1) through the value-exact gate:
initialize a customer dimension history at one snapshot date, apply a
second snapshot in which a deterministic subset of customers changed
segment, and emit the full version table. DuckDB's twin constructs the
expected history directly from the same change rule — closed old
versions for changed keys, open new versions, untouched rows still open —
so every dated version row is value-compared, not just counted.

Dates are exported as DATE (both engines agree on the calendar day for
midnight-anchored literals created and read in one session, regardless
of the session timezone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd import scd2_apply, scd2_init
from ..sources import read_table
from .registry import QuerySpec, register

_T0 = "2024-01-01"
_T1 = "2024-06-01"
_MOD = 10  # customers with c_custkey % 10 == 0 change segment at T1


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: the demo derives BOTH scd2 inputs (initial history and the
    # changed second snapshot) from one table, and the close/open/unchanged
    # legs re-planned that scan 8 times — cache the 2-column snapshot once
    # (a real pipeline's snapshot is a materialized input to begin with).
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    ).cache()
    history = scd2_init(customer, ["c_custkey"], ["c_mktsegment"], _T0)
    snapshot2 = customer.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % _MOD == 0, F.lit("RELOCATED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    hist2 = scd2_apply(history, snapshot2, ["c_custkey"], ["c_mktsegment"], _T1)
    return hist2.select(
        "c_custkey",
        "c_mktsegment",
        F.col("effective_from").cast("date").alias("valid_from"),
        F.col("effective_to").cast("date").alias("valid_to"),
        "is_current",
    ).sortWithinPartitions("c_custkey", "valid_from")


SCD2_HISTORY_SQL = f"""
SELECT * FROM (
  -- changed keys: old version closed at T1
  SELECT c_custkey, c_mktsegment,
    DATE '{_T0}' AS valid_from, DATE '{_T1}' AS valid_to, FALSE AS is_current
  FROM customer WHERE c_custkey % {_MOD} = 0
  UNION ALL
  -- changed keys: new open version
  SELECT c_custkey, 'RELOCATED',
    DATE '{_T1}', NULL, TRUE
  FROM customer WHERE c_custkey % {_MOD} = 0
  UNION ALL
  -- unchanged keys: original version still open
  SELECT c_custkey, c_mktsegment,
    DATE '{_T0}', NULL, TRUE
  FROM customer WHERE c_custkey % {_MOD} <> 0
)
ORDER BY c_custkey, valid_from
"""


register(
    QuerySpec(
        "scd2_customer_history",
        scd2_customer_history,
        SCD2_HISTORY_SQL,
        ("SCD1",),
        doc="SCD Type-2 close-and-insert version table, value-compared per dated row",
    )
)


# ---------------------------------------------------------------------------
# cdc_apply_changes — the lakehouse MERGE/upsert shape on plain Spark: a
# change feed of updates, deletes, and inserts applied to the customer
# snapshot in ONE keyed pass (anti-join semantics for deletes, left-join
# overlay for updates, union for inserts), then audited as per-action row
# and balance totals. This is what Delta/Iceberg MERGE INTO compiles to
# underneath — one shuffle on the merge key, no per-row driver logic —
# and the op a CDC ingestion pipeline runs every batch.
#
# The change feed is derived deterministically from the snapshot itself
# (key % 13 → delete, else key % 7 → update +$100, 10 fresh keys past
# max → insert) so both engines apply byte-identical changes. Balances
# are integer cents throughout.
# ---------------------------------------------------------------------------
CDC_INSERTS = 10


def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: the change feed, merge, max-key and delete legs all derive
    # from the one snapshot — cache the 2-column input (4 scans -> 1); a
    # real CDC batch receives the feed as its own input.
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    ).cache()
    op = (
        F.when(F.col("c_custkey") % 13 == 0, "delete")
        .when(F.col("c_custkey") % 7 == 0, "update")
    )
    changed = cust.select("c_custkey", op.alias("op")).filter(F.col("op").isNotNull())
    merged = (
        cust.join(changed, "c_custkey", "left")
        .filter(F.coalesce(F.col("op"), F.lit("")) != "delete")
        .select(
            "c_custkey",
            F.when(F.col("op") == "update", F.col("bal_cents") + 10000)
            .otherwise(F.col("bal_cents"))
            .alias("bal_cents"),
            F.coalesce(F.col("op"), F.lit("unchanged")).alias("action"),
        )
    )
    mx = cust.agg(F.max("c_custkey").alias("mx"))
    inserts = mx.select(
        F.explode(F.sequence(F.col("mx") + 1, F.col("mx") + CDC_INSERTS)).alias(
            "c_custkey"
        ),
        F.lit(0).cast("long").alias("bal_cents"),
        F.lit("insert").alias("action"),
    )
    final = merged.unionAll(inserts)
    deleted = changed.filter(F.col("op") == "delete").select(
        "c_custkey",
        F.lit(0).cast("long").alias("bal_cents"),
        F.lit("delete").alias("action"),
    )
    return (
        final.unionAll(deleted)
        .groupBy("action")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents_total"),
        )
        .orderBy("action")
    )


CDC_APPLY_SQL = f"""
WITH cust AS (
  SELECT c_custkey,
    CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
),
changed AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 13 = 0 THEN 'delete'
         WHEN c_custkey % 7 = 0 THEN 'update' END AS op
  FROM cust
  WHERE c_custkey % 13 = 0 OR c_custkey % 7 = 0
),
merged AS (
  SELECT cust.c_custkey,
    CASE WHEN op = 'update' THEN bal_cents + 10000 ELSE bal_cents END
      AS bal_cents,
    COALESCE(op, 'unchanged') AS action
  FROM cust LEFT JOIN changed USING (c_custkey)
  WHERE COALESCE(op, '') <> 'delete'
),
inserts AS (
  SELECT unnest(range(mx + 1, mx + {CDC_INSERTS} + 1)) AS c_custkey,
    CAST(0 AS BIGINT) AS bal_cents, 'insert' AS action
  FROM (SELECT MAX(c_custkey) AS mx FROM cust)
),
deleted AS (
  SELECT c_custkey, CAST(0 AS BIGINT) AS bal_cents, 'delete' AS action
  FROM changed WHERE op = 'delete'
),
final AS (
  SELECT * FROM merged UNION ALL SELECT * FROM inserts
  UNION ALL SELECT * FROM deleted
)
SELECT action,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_total
FROM final
GROUP BY action
ORDER BY action
"""


register(
    QuerySpec(
        "cdc_apply_changes",
        cdc_apply_changes,
        CDC_APPLY_SQL,
        ("CDC1",),
        doc="MERGE-shaped CDC apply (update/delete/insert) with per-action audit",
    )
)
