"""Constraint-validation suite (quality/constraints.py): counts are exact,
the row-level pass is a single job, FK/unique behave on real star tables."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
    accepted_values,
    foreign_key,
    in_range,
    matches_regex,
    not_null,
    sample_violations,
    satisfies,
    unique,
    validate,
)


@pytest.fixture(scope="module")
def messy(spark):
    return spark.createDataFrame(
        [
            Row(id=1, qty=5, status="ok", email="a@b.com"),
            Row(id=2, qty=-1, status="ok", email="bad"),
            Row(id=2, qty=3, status="meh", email=None),
            Row(id=None, qty=120, status="ok", email="c@d.org"),
        ]
    )


def test_row_level_counts(messy):
    rep = validate(
        messy,
        [
            not_null("id"),
            in_range("qty", 0, 100),
            accepted_values("status", ("ok", "bad")),
            matches_regex("email", r"^[^@]+@[^@]+$"),
            satisfies("qty_even", F.col("qty") % 2 == 0),
        ],
    )
    assert rep.row_count == 4
    assert rep.violations["not_null(id)"] == 1
    assert rep.violations["in_range(qty,0,100)"] == 2  # -1 and 120
    assert rep.violations["accepted_values(status)"] == 1  # "meh"
    # "bad" fails the regex; NULL email counts as a violation too
    assert rep.violations["matches_regex(email)"] == 2
    # qty even holds for nobody except... 5 odd, -1 odd, 3 odd, 120 even -> 3
    assert rep.violations["satisfies(qty_even)"] == 3
    assert not rep.passed


def test_row_level_job_count_constant_in_constraints(spark, messy):
    """All row constraints compile into ONE aggregate pass: adding
    constraints adds agg columns, not Spark jobs (AQE may split the one
    pass into a fixed number of jobs — the point is it doesn't scale with
    the suite size)."""
    tracker = spark.sparkContext.statusTracker()

    def jobs_for(constraints):
        before = len(tracker.getJobIdsForGroup(None) or [])
        validate(messy, constraints)
        return len(tracker.getJobIdsForGroup(None) or []) - before

    one = jobs_for([not_null("id")])
    five = jobs_for(
        [
            not_null("id"),
            not_null("qty"),
            in_range("qty", 0, 100),
            accepted_values("status", ("ok",)),
            matches_regex("email", r"@"),
        ]
    )
    assert one == five


def test_unique_counts_colliding_rows(messy):
    rep = validate(messy, [unique("id")])
    # id=2 appears twice -> 2 colliding rows (NULL id is a group of 1)
    assert rep.violations["unique(id)"] == 2
    rep2 = validate(messy, [unique("id", "status")])
    assert rep2.violations["unique(id,status)"] == 0
    assert rep2.passed


def test_foreign_key_on_star_tables(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    rep = validate(li, [foreign_key("l_orderkey", orders, "o_orderkey")])
    assert rep.passed  # referential integrity holds in the testdata

    # break it: drop some parents
    broken = orders.filter(F.col("o_orderkey") % 7 != 0)
    rep2 = validate(li, [foreign_key("l_orderkey", broken, "o_orderkey")])
    expect = li.filter(F.col("l_orderkey") % 7 == 0).count()
    assert rep2.violations["foreign_key(l_orderkey)"] == expect > 0


def test_sample_violations(spark, messy):
    rows = sample_violations(messy, in_range("qty", 0, 100), limit=10).collect()
    assert sorted(r.qty for r in rows) == [-1, 120]
    dup_rows = sample_violations(messy, unique("id"), limit=10).collect()
    assert [r.id for r in dup_rows] == [2, 2]
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    broken = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
        F.col("o_orderkey") % 7 != 0
    )
    fk_rows = sample_violations(
        li, foreign_key("l_orderkey", broken, "o_orderkey"), limit=3
    ).collect()
    assert len(fk_rows) == 3
    assert all(r.l_orderkey % 7 == 0 for r in fk_rows)


def test_validation_frame_matches_validate(spark, messy):
    """The DataFrame form of the suite (used by the oracle-graded
    qc_constraint_suite query) reports exactly the counters validate()
    collects — one row per constraint, including the zero rows."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
        validation_frame,
    )

    ref = spark.createDataFrame([Row(rid=1), Row(rid=2)])
    suite = [
        not_null("id"),
        in_range("qty", 0, 100),
        accepted_values("status", ("ok",)),
        matches_regex("email", r"^[^@]+@[^@]+\.[^@]+$"),
        unique("id"),
        foreign_key("id", ref, "rid"),
    ]
    report = validate(messy, suite)
    frame = {
        r.constraint: r.violations
        for r in validation_frame(messy, suite).collect()
    }
    assert frame == report.violations
    assert len(frame) == len(suite)


def test_fk_only_suite_skips_the_row_pass(spark):
    """A suite without row-level constraints runs no count aggregate: the
    FK violations match those of the same suite with a row constraint
    added, from fewer jobs, and the unused row count is None."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    broken = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
        F.col("o_orderkey") % 7 != 0
    )
    fk = foreign_key("l_orderkey", broken, "o_orderkey")

    def run(group, suite):
        sc.setJobGroup(group, group)
        try:
            rep = validate(li, suite)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return rep, len(tracker.getJobIdsForGroup(group))

    fk_only, fk_jobs = run("constraints-fk-only", [fk])
    with_row, with_row_jobs = run("constraints-fk-and-row", [fk, not_null("l_orderkey")])
    assert fk_only.row_count is None
    assert with_row.row_count == li.count()
    name = "foreign_key(l_orderkey)"
    assert fk_only.violations[name] == with_row.violations[name] > 0
    assert 0 < fk_jobs < with_row_jobs


def test_unique_sample_matches_the_count_on_null_keys(spark):
    """NULL keys form one group (SQL GROUP BY), so two NULL ids collide:
    the count says 4 and the sample returns those same 4 rows, NULLs
    included — for a single key and for a key set with a NULL part."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
        validation_frame,
    )

    df = spark.createDataFrame(
        [(None, "a"), (None, "a"), (1, None), (1, None), (2, "b")],
        "id int, s string",
    )
    for c in (unique("id"), unique("id", "s")):
        assert validate(df, [c]).violations[c.name] == 4
        frame = validation_frame(df, [c]).collect()
        assert {r.constraint: r.violations for r in frame} == {c.name: 4}
        ids = [r.id for r in sample_violations(df, c, limit=10).collect()]
        assert sorted(ids, key=lambda v: (v is not None, v)) == [None, None, 1, 1]


def test_validation_frame_counts_zero_on_an_empty_table(spark):
    """Row-level counters are 0, not NULL, on an empty table — what the
    COUNT(CASE ...) form of the same checks returns in SQL."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
        validation_frame,
    )

    empty = spark.createDataFrame([], "id int, qty int")
    suite = [not_null("id"), in_range("qty", 0, 100), unique("id")]
    got = {r.constraint: r.violations for r in validation_frame(empty, suite).collect()}
    assert got == {c.name: 0 for c in suite}
    assert validate(empty, suite).violations == got
