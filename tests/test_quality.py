from pyspark.sql import Row
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
    qc_referential_integrity,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
    profile,
    run_quality_checks,
)


def test_profile_single_pass(spark):
    df = spark.createDataFrame(
        [
            Row(a=1, b="x"),
            Row(a=None, b=""),
            Row(a=3, b=None),
            Row(a=1, b="x"),
        ]
    )
    n, fractions, dup = profile(df)
    assert n == 4
    assert fractions["a"] == 0.25
    assert fractions["b"] == 0.5  # null OR empty string
    assert dup == 1  # the (1, "x") repeat


def test_profile_counts_null_rows_as_duplicates(spark):
    # countDistinct(struct(...)) must count all-null rows like distinct()
    df = spark.createDataFrame(
        [Row(a=None, b=None), Row(a=None, b=None), Row(a=1, b="y")]
    )
    n, _, dup = profile(df)
    assert n == 3 and dup == 1


def test_profile_empty_input(spark):
    schema = StructType(
        [StructField("a", IntegerType()), StructField("b", StringType())]
    )
    df = spark.createDataFrame([], schema)
    n, fractions, dup = profile(df)
    assert n == 0 and dup == 0
    assert fractions == {"a": 0.0, "b": 0.0}


def test_fail_on_schema_mismatch_flags_extras(spark):
    df = spark.createDataFrame([Row(Store="1", Rogue="x")])
    _, report = run_quality_checks(
        df,
        {"Store": "int"},
        "strict",
        fail_on_schema_mismatch=True,
        register_view=False,
    )
    assert report.schema_ok is False
    assert any("Rogue" in i for i in report.issues)
    # lenient mode: same extras, but schema_ok stays True (reference default,
    # fail_on_schema_mismatch: false)
    _, lenient = run_quality_checks(
        df, {"Store": "int"}, "lenient", register_view=False
    )
    assert lenient.schema_ok is True


def test_missing_columns_are_reported(spark):
    """A missing input column is padded with typed NULLs and named in an
    issue (not only seen as a 100% null fraction); under
    fail_on_schema_mismatch it clears schema_ok like an extra column."""
    df = spark.createDataFrame([Row(Store="1")])
    expected = {"Store": "int", "Dept": "int"}
    typed, lenient = run_quality_checks(df, expected, "lenient", register_view=False)
    assert typed.columns == ["Store", "Dept"]
    assert "missing columns filled with NULL: ['Dept']" in lenient.issues
    assert lenient.schema_ok is True
    _, strict = run_quality_checks(
        df, expected, "strict", fail_on_schema_mismatch=True, register_view=False
    )
    assert strict.schema_ok is False


def test_run_quality_checks_end_to_end(spark):
    df = spark.createDataFrame(
        [
            Row(Store="1", Weekly_Sales="10.0", MarkDown2="NA"),
            Row(Store="1", Weekly_Sales="10.0", MarkDown2="NA"),
            Row(Store="2", Weekly_Sales="20.0", MarkDown2="NA"),
            Row(Store="3", Weekly_Sales="30.0", MarkDown2="5.0"),
        ]
    )
    typed, report = run_quality_checks(
        df,
        {"Store": "int", "Weekly_Sales": "double", "MarkDown2": "double"},
        "unit",
        max_null_fraction=0.6,
    )
    assert report.duplicate_count == 1
    assert report.row_count == 3  # post-dedup
    assert typed.count() == 3
    assert report.null_fractions["MarkDown2"] == 0.75
    assert any("MarkDown2" in i for i in report.issues)
    assert spark.table("typed_unit").count() == 3


def test_k_anonymity_counts_planted_group_sizes(spark, tmp_path):
    """Planted QI groups of sizes {1, 3, 6, 30} (40 rows): each threshold
    must count exactly the groups and rows strictly below it, shares are
    exact DIV-rounded fractions of 40, and the global columns report the
    full partition (4 groups, min size 1)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_k_anonymity,
    )

    rows = []
    ck = 0

    def add(n, nat, seg, bal):
        nonlocal ck
        for _ in range(n):
            ck += 1
            rows.append((ck, f"c{ck}", nat, bal, seg))

    add(1, 0, "A", 500.0)     # band 0
    add(3, 0, "A", 1500.0)    # band 1 (same nation/segment, new band)
    add(6, 1, "B", 500.0)
    add(30, 2, "C", 500.0)
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    df.write.parquet(str(tmp_path / "customer.parquet"))
    got = {
        r.k: r for r in qc_k_anonymity(spark, str(tmp_path)).collect()
    }
    assert set(got) == {2, 5, 10, 25}
    assert (got[2].groups_below, got[2].rows_at_risk) == (1, 1)
    assert (got[5].groups_below, got[5].rows_at_risk) == (2, 4)
    assert (got[10].groups_below, got[10].rows_at_risk) == (3, 10)
    assert (got[25].groups_below, got[25].rows_at_risk) == (3, 10)
    assert got[2].at_risk_share == 0.025
    assert got[25].at_risk_share == 0.25
    for r in got.values():
        assert (r.n_groups, r.n_rows, r.min_group_size) == (4, 40, 1)


def test_l_diversity_flags_homogeneous_groups(spark, tmp_path):
    """Homogeneity attack fixture: a LARGE QI group whose sensitive
    attribute (acctbal band) is constant (ndv=1) must be flagged at every
    l even though k-anonymity would pass it; a 2-band group clears l=2
    but not l=3; a 5-band group clears all thresholds."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_l_diversity,
    )

    rows = []
    ck = 0

    def add(n, nat, seg, bal):
        nonlocal ck
        for _ in range(n):
            ck += 1
            rows.append((ck, f"c{ck}", nat, bal, seg))

    add(10, 0, "A", 500.0)              # ndv=1, cnt=10 — homogeneous
    add(2, 1, "B", 500.0)               # band 0
    add(2, 1, "B", 1500.0)              # band 1 -> ndv=2, cnt=4
    for b in range(5):                  # ndv=5, cnt=5 — diverse
        add(1, 2, "C", 500.0 + 1000.0 * b)
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    df.write.parquet(str(tmp_path / "customer.parquet"))
    got = {r.l: r for r in qc_l_diversity(spark, str(tmp_path)).collect()}
    assert set(got) == {2, 3, 5}
    assert (got[2].groups_below, got[2].rows_at_risk) == (1, 10)
    assert (got[3].groups_below, got[3].rows_at_risk) == (2, 14)
    assert (got[5].groups_below, got[5].rows_at_risk) == (2, 14)
    r = got[2]
    assert (r.n_groups, r.n_rows, r.min_distinct_sensitive) == (3, 19, 1)
    assert r.at_risk_share == round((2 * 10 * 1000000 + 19) // (2 * 19) / 1e6, 6)


def test_t_closeness_exact_ordered_emd_on_planted_groups(spark, tmp_path):
    """Hand-computed t-closeness: groups X (10 rows, all band 0) and Y
    (10 rows, all band 1) each sit at ordered-EMD 0.5 from the global
    distribution once uniform group Z (5+5) is added (X: |10*30-15*10| =
    150 over D = 10*30*1 -> t = 0.5); Z matches the global distribution
    exactly (t = 0). Every threshold in (0.15, 0.25, 0.35) must flag
    exactly X and Y (20 of 30 rows, share 0.666667 by the exact DIV
    round), and max_t_micro is 500000."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_t_closeness,
    )

    rows = []
    ck = 0

    def add(n, nat, seg, bal):
        nonlocal ck
        for _ in range(n):
            ck += 1
            rows.append((ck, f"c{ck}", nat, bal, seg))

    add(10, 0, "X", 500.0)    # band 0 only
    add(10, 1, "Y", 1500.0)   # band 1 only
    add(5, 2, "Z", 500.0)     # uniform group: global shape
    add(5, 2, "Z", 1500.0)
    df = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    df.write.parquet(str(tmp_path / "customer.parquet"))
    got = {
        r.t_threshold_micro: r
        for r in qc_t_closeness(spark, str(tmp_path)).collect()
    }
    assert set(got) == {150000, 250000, 350000}
    for r in got.values():
        assert (r.groups_above, r.rows_at_risk) == (2, 20)
        assert r.at_risk_share == 0.666667
        assert (r.n_groups, r.n_rows, r.max_t_micro) == (3, 30, 500000)


def test_referential_integrity_counts_planted_orphans(spark, tmp_path):
    sf = str(tmp_path)
    spark.createDataFrame(
        [Row(c_custkey=1), Row(c_custkey=2)]
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [Row(p_partkey=10)]
    ).write.parquet(f"{sf}/part.parquet")
    spark.createDataFrame(
        [Row(s_suppkey=100)]
    ).write.parquet(f"{sf}/supplier.parquet")
    # one orphan custkey=99; order 21 never referenced (not an orphan)
    spark.createDataFrame(
        [
            Row(o_orderkey=20, o_custkey=1),
            Row(o_orderkey=21, o_custkey=2),
            Row(o_orderkey=22, o_custkey=99),
        ]
    ).write.parquet(f"{sf}/orders.parquet")
    # lineitem: one bad orderkey, two bad partkeys, zero bad suppkeys
    spark.createDataFrame(
        [
            Row(l_orderkey=20, l_partkey=10, l_suppkey=100),
            Row(l_orderkey=999, l_partkey=10, l_suppkey=100),
            Row(l_orderkey=22, l_partkey=11, l_suppkey=100),
            Row(l_orderkey=20, l_partkey=12, l_suppkey=100),
        ]
    ).write.parquet(f"{sf}/lineitem.parquet")
    got = {
        r.fk_edge: (r.n_child_rows, r.n_orphans)
        for r in qc_referential_integrity(spark, sf).collect()
    }
    assert got == {
        "lineitem.l_orderkey->orders": (4, 1),
        "lineitem.l_partkey->part": (4, 2),
        "lineitem.l_suppkey->supplier": (4, 0),
        "orders.o_custkey->customer": (3, 1),
    }
