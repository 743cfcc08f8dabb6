"""The curated star build — the reference's transform stage re-expressed
(semantics per /root/reference/src/transform_spark.py:70-171; SURVEY §3
entry point 3), written fresh and Spark-first.

Physical notes: features and stores are far below the broadcast threshold,
so both left joins plan as BroadcastHashJoin — zero shuffle for the fact
table. At 100 TB the fact side would additionally be bucketed by store_id
so the aggregate tables reuse the scan partitioning; the aggregates
themselves are partial+final HashAggregate either way.

The reference re-sorts each aggregate table before writing; the sort is
presentation-only (SQLite preserves insertion order but SQL semantics
don't) — kept for output parity, flagged here so nobody mistakes it for a
required property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: canonical rename maps (reference config/pipeline_config.yaml:54-77)
TRAIN_RENAME = {
    "Store": "store_id",
    "Dept": "department_id",
    "Date": "date",
    "Weekly_Sales": "weekly_sales",
    "IsHoliday": "is_holiday",
}
FEATURES_RENAME = {
    "Store": "store_id",
    "Date": "date",
    "Temperature": "temperature_f",
    "Fuel_Price": "fuel_price",
    "MarkDown1": "markdown_1",
    "MarkDown2": "markdown_2",
    "MarkDown3": "markdown_3",
    "MarkDown4": "markdown_4",
    "MarkDown5": "markdown_5",
    "CPI": "cpi",
    "Unemployment": "unemployment_rate",
    "IsHoliday": "is_holiday",
}
STORES_RENAME = {"Store": "store_id", "Type": "store_type", "Size": "store_size"}

#: expected input types (reference config/pipeline_config.yaml:28-52)
TRAIN_SCHEMA = {
    "Store": "int",
    "Dept": "int",
    "Date": "string",
    "Weekly_Sales": "double",
    "IsHoliday": "boolean",
}
FEATURES_SCHEMA = {
    "Store": "int",
    "Date": "string",
    "Temperature": "double",
    "Fuel_Price": "double",
    "MarkDown1": "double",
    "MarkDown2": "double",
    "MarkDown3": "double",
    "MarkDown4": "double",
    "MarkDown5": "double",
    "CPI": "double",
    "Unemployment": "double",
    "IsHoliday": "boolean",
}
STORES_SCHEMA = {"Store": "int", "Type": "string", "Size": "int"}

#: the 19-column curated order (reference src/transform_spark.py:105-124)
CURATED_COLUMNS = [
    "date", "year", "month", "week", "store_id", "department_id",
    "weekly_sales", "is_holiday", "temperature_f", "fuel_price",
    "markdown_1", "markdown_2", "markdown_3", "markdown_4", "markdown_5",
    "cpi", "unemployment_rate", "store_type", "store_size",
]


def parse_and_enrich(df: DataFrame, date_col: str = "date") -> DataFrame:
    """Parse yyyy-MM-dd and derive calendar columns; re-cast is_holiday to
    boolean if present (reference src/transform_spark.py:54-61)."""
    out = df.withColumn(date_col, F.to_date(F.col(date_col), "yyyy-MM-dd"))
    out = out.withColumns(
        {
            "year": F.year(date_col),
            "month": F.month(date_col),
            "week": F.weekofyear(date_col),
        }
    )
    if "is_holiday" in out.columns:
        out = out.withColumn("is_holiday", F.col("is_holiday").try_cast("boolean"))
    return out


def build_curated_tables(
    spark: SparkSession,
    train: DataFrame,
    features: DataFrame,
    stores: DataFrame,
) -> dict[str, DataFrame]:
    """Rename → enrich → join train⟕features⟕stores → wide fact + three
    aggregate rollups. Returns {table_name: lazy DataFrame}; the fact is
    cached, so the join runs once however many of the four are executed."""
    from ..operators import rename_columns

    t = parse_and_enrich(rename_columns(train, TRAIN_RENAME))
    f_ = parse_and_enrich(rename_columns(features, FEATURES_RENAME))
    s = rename_columns(stores, STORES_RENAME)
    s = s.select(
        F.col("store_id").cast("int"),
        "store_type",
        F.col("store_size").cast("int"),
    )

    # J1: left join on (store_id, date); keep the left side whole and only
    # the right side's non-overlapping columns (drops features' duplicate
    # is_holiday/year/month/week — reference src/transform_spark.py:96-100)
    overlap = set(t.columns)
    f_pruned = f_.select(
        "store_id", "date", *[c for c in f_.columns if c not in overlap]
    )
    # No broadcast hints: features grows as stores×weeks and a pinned hint
    # would override AQE's size check at scale. Catalyst already picks
    # BroadcastHashJoin unhinted at these sizes (the q14 plan) and AQE can
    # fall back to SMJ when the dim outgrows autoBroadcastJoinThreshold.
    joined = t.join(f_pruned, on=["store_id", "date"], how="left")
    # J2: string-key join form emits store_id once
    joined = joined.join(s, on="store_id", how="left")

    curated = joined.select(*CURATED_COLUMNS).cache()
    curated.createOrReplaceTempView("curated_sales")

    agg_store_dept = (
        curated.groupBy("store_id", "department_id", "year", "month")
        .agg(
            F.count("*").alias("num_weeks"),
            F.sum("weekly_sales").alias("total_sales"),
            F.avg("weekly_sales").alias("avg_sales"),
            F.max("weekly_sales").alias("max_sales"),
        )
        .orderBy("store_id", "department_id", "year", "month")
    )
    agg_store_type_year = (
        curated.groupBy("store_type", "year")
        .agg(
            F.sum("weekly_sales").alias("total_sales"),
            F.avg("weekly_sales").alias("avg_sales"),
            F.countDistinct("store_id").alias("num_stores"),
        )
        .orderBy(F.col("total_sales").desc())
    )
    holidays_vs_normal = (
        curated.groupBy("year", "is_holiday")
        .agg(
            F.sum("weekly_sales").alias("total_sales"),
            F.avg("weekly_sales").alias("avg_sales"),
            F.count("*").alias("num_records"),
        )
        .orderBy("year", "is_holiday")
    )
    return {
        "sales_curated": curated,
        "agg_store_dept": agg_store_dept,
        "agg_store_type_year": agg_store_type_year,
        "holidays_vs_normal": holidays_vs_normal,
    }
