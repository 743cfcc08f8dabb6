"""Tests for the scale patterns: salted aggregation equivalence, bucketed
co-located joins (no Exchange), and broadcast-join plan shape."""

import pyspark.sql.functions as F
from pyspark.sql import Row
from pyspark.sql.window import Window

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.operators import salted_agg
from walmart_retail_pyspark_sqlite_pipeline_spark.operators.ranking import (
    global_ntile,
    global_row_number,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.parity import (
    q48_global_rank,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table


def test_salted_agg_equals_direct(spark):
    li = read_table(spark, SF_SMALL, "lineitem")
    direct = {
        r.l_returnflag: (r.s, r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r.l_returnflag: (r.s, r.n)
        for r in salted_agg(
            li,
            ["l_returnflag"],
            {"s": (F.sum("l_quantity"), F.sum), "n": (F.count(F.lit(1)), F.sum)},
            n_salts=8,
        ).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        assert abs(direct[k][0] - salted[k][0]) < 1e-6
        assert direct[k][1] == salted[k][1]


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key co-locates matching rows:
    the join plan must contain no Exchange (the 100 TB join strategy for
    repeatedly-joined fact/fact tables)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("b_lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_partitioned_write_prunes(spark, tmp_path):
    """partitionBy write → reading with a partition-key filter must show
    PartitionFilters in the scan (directory pruning: at 100 TB the filter
    skips whole partitions before any IO)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.sinks import write_parquet

    ev = read_table(spark, SF_SMALL, "events")
    out = str(tmp_path / "events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])

    back = spark.read.parquet(out).filter(F.col("event_type") == "error")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == ev.filter(F.col("event_type") == "error").count()


def test_sorted_layout_narrows_rowgroup_stats(spark, tmp_path):
    """Writing sorted-by-key (Z-order-lite) gives each parquet row group a
    narrow key min/max range, which is what lets range predicates skip
    whole row groups at scan time on a 100 TB table."""
    import pyarrow.parquet as pq
    from pathlib import Path

    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    out_sorted = str(tmp_path / "sorted")
    (
        li.repartition(1)
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(out_sorted)
    )

    files = list(Path(out_sorted).glob("*.parquet"))
    assert files
    pf = pq.ParquetFile(files[0])
    spans = []
    lo, hi = None, None
    for i in range(pf.metadata.num_row_groups):
        col = pf.metadata.row_group(i).column(0)
        st = col.statistics
        spans.append(st.max - st.min)
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if pf.metadata.num_row_groups > 1:
        # each sorted row group covers a small slice of the full key range
        assert max(spans) < (hi - lo), (spans, lo, hi)


def test_broadcast_join_plan(spark):
    orders = read_table(spark, SF_SMALL, "orders")
    cust = read_table(spark, SF_SMALL, "customer")
    plan = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_schema_evolution_merge_read(spark, tmp_path):
    """Long-lived datasets gain columns over time; mergeSchema reads old and
    new files as one table, null-padding the old files' missing columns —
    and an explicit user schema keeps pruning to the requested columns."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.mode(
        "overwrite"
    ).parquet(base + "/v1")
    spark.range(5, 10).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.mode("overwrite").parquet(base + "/v2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/v1", base + "/v2"
    )
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 10
    # rows from the pre-evolution files read as NULL for the new column
    assert merged.filter(F.col("b").isNull()).count() == 5
    assert merged.filter("b = '7'").count() == 1


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling: one hot key must be split into several tasks
    at runtime (plan shows isSkew=true) instead of one straggler task
    processing the whole key — the no-code-change answer to skewed 100 TB
    joins (the manual alternative is operators/skew.py's salting)."""
    left = spark.range(0, 400_000).selectExpr(
        "CAST(CASE WHEN id % 4 = 0 THEN 1 ELSE id END AS LONG) AS k",
        "id AS payload",
    )
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS rv")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = left.join(right, "k")
        # hot key 1: 100k ids divisible by 4, plus id=1 itself; cold keys:
        # the 749 ids in 2..999 not divisible by 4. collect() (not count())
        # so THIS queryExecution runs and the AQE final plan is inspectable.
        assert len(joined.collect()) == 100_001 + 749
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_runtime_bloom_filter_injected_on_probe_side(spark):
    """Runtime (bloom) filter injection: a selective filter on the build
    side makes Catalyst add a bloom-filter probe to the big side's SCAN, so
    rows that cannot join are dropped before the shuffle — at 100 TB this
    turns a full-fact shuffle into a near-dimension-sized one."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, SF_SMALL, "orders").filter(
        "o_orderstatus = 'F' AND o_totalprice > 100000"
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        # the bloom probe is advisory: results must equal the unfiltered plan
        n = joined.count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()


def test_analyze_table_feeds_cbo_statistics(spark):
    """ANALYZE TABLE gives the cost-based optimizer real rowCount/column
    stats instead of file-size guesses — on a 100 TB catalog this is what
    makes join-order and broadcast decisions trustworthy. The optimized
    plan must expose the analyzed rowCount."""
    li = read_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").saveAsTable("stats_lineitem")
    try:
        spark.sql(
            "ANALYZE TABLE stats_lineitem COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        stats_row = [
            r
            for r in spark.sql(
                "DESCRIBE TABLE EXTENDED stats_lineitem"
            ).collect()
            if r.col_name == "Statistics"
        ]
        assert stats_row and "rows" in stats_row[0].data_type

        colstats = spark.sql(
            "DESCRIBE EXTENDED stats_lineitem l_returnflag"
        ).collect()
        kv = {r.info_name: r.info_value for r in colstats}
        assert kv.get("distinct_count") not in (None, "NULL")
        assert int(kv["distinct_count"]) >= 3  # A/N/R

        prev = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            stats = (
                spark.table("stats_lineitem")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .toString()
            )
            assert "rowCount" in stats, stats
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_lineitem")


def test_join_strategy_hints_steer_planner(spark):
    """Explicit join-strategy hints: when statistics mislead (stale catalog,
    opaque views), `merge` must force sort-merge and `shuffle_hash` a
    shuffled hash join — the manual overrides an operator at 100 TB needs
    when the optimizer's size estimate is wrong."""
    li = read_table(spark, SF_SMALL, "lineitem").select("l_orderkey")
    o = read_table(spark, SF_SMALL, "orders").select("o_orderkey")

    smj = li.join(
        o.hint("merge"), li.l_orderkey == o.o_orderkey
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in smj

    shj = li.join(
        o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey
    )._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in shj


def test_max_records_per_file_caps_file_size(spark, tmp_path):
    """maxRecordsPerFile bounds output file size regardless of partition
    count — the writer-side guard against the 10 GB-file problem that
    breaks downstream range splitting."""
    out = str(tmp_path / "capped")
    ev = read_table(spark, SF_SMALL, "events")
    (
        ev.coalesce(1)
        .write.option("maxRecordsPerFile", 250)
        .parquet(out)
    )
    import pyarrow.parquet as pq
    from pathlib import Path

    files = list(Path(out).glob("*.parquet"))
    assert len(files) == 4  # 1000 rows / 250 cap
    assert all(pq.ParquetFile(f).metadata.num_rows <= 250 for f in files)


def test_global_rank_exact_with_exchange_reuse_and_aqe_off(spark):
    """The ranked frame inside global_row_number is consumed by two
    branches (partition-count aggregate + offsets join) over a range
    exchange whose sampled bounds — and monotonically_increasing_id
    layout — are nondeterministic per physical instance. The cache() pin
    (ADVICE r13, medium) must make the rank exact with NO help from
    exchange reuse or AQE, i.e. under the configs where the two branches
    would otherwise plan two independent exchanges with independent
    boundary samples."""
    from pyspark.sql import Row
    from pyspark.sql.window import Window

    from walmart_retail_pyspark_sqlite_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.execution.reuseSubquery": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()
        # ~5k rows with heavy duplicates across 16 input partitions so the
        # range sampler has real boundary freedom
        df = spark.createDataFrame(
            [Row(id=i, v=(i * 2654435761) % 97) for i in range(5000)]
        ).repartition(16)
        got = {
            r.id: r.rn
            for r in global_row_number(
                df, [F.desc("v"), F.col("id")], out="rn"
            ).collect()
        }
        w = Window.orderBy(F.desc("v"), "id")
        want = {
            r.id: r.rn
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_global_row_number_matches_window(spark):
    """The distributed rank must equal the single-partition window's
    row_number on every row, for an adversarial value distribution
    (duplicates, negatives, a constant run) and a partition count that
    does not divide the row count."""
    vals = [7, -3, 7, 0, 0, 0, 42, -3, 9, 1, 1, 5, 7] * 7  # 91 rows
    df = spark.createDataFrame(
        [Row(id=i, v=v) for i, v in enumerate(vals)]
    ).repartition(8)
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, [F.desc("v"), F.col("id")], out="rn"
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), "id")
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_global_ntile_matches_window_for_all_remainders(spark):
    """Exact ntile parity for every n mod buckets class, including
    n < buckets."""
    for n in (1, 2, 3, 4, 5, 7, 12, 37):
        df = spark.createDataFrame(
            [Row(id=i, v=(i * 13) % 7) for i in range(n)]
        ).crossJoin(
            spark.createDataFrame([Row(_n=n)])
        )
        got = {
            r.id: r.b
            for r in global_ntile(
                df, [F.col("v"), F.col("id")], "_n", 4, "b"
            ).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r.id: r.b
            for r in df.withColumn("b", F.ntile(4).over(w)).collect()
        }
        assert got == want, f"ntile mismatch at n={n}"


def test_q48_rank_is_dense_and_value_ordered(spark):
    rows = q48_global_rank(spark, SF_SMALL).collect()
    ranks = sorted(r.value_rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1)), "ranks not dense 1..n"
    by_rank = sorted(rows, key=lambda r: r.value_rank)
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a.cents, -a.o_orderkey) >= (b.cents, -b.o_orderkey)
