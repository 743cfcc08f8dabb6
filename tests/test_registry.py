"""Registry contract tests: every query runs at sf0.001 with a stable
schema, oracle strings are valid DuckDB SQL, and column names line up —
the properties the driver's correctness gate depends on. (Exact value
parity is checked by tools/oracle_check.py, which is too slow for the
default pytest loop.)"""

import duckdb
import pytest

from tests.conftest import SF_SMALL
from tools.oracle_check import duck_con
from walmart_retail_pyspark_sqlite_pipeline_spark.plans import all_specs, registry
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.registry import (
    EXPORTED,
    QuerySpec,
    register,
)

# every registered query, exported or local-only, is checked here
SPECS = all_specs(include_local=True)
QUERIES = {n: s.fn for n, s in SPECS.items()}
ORACLES = {n: s.oracle for n, s in SPECS.items() if s.oracle is not None}


def test_exported_registry_fits_driver_window():
    # the driver checks at most 50 queries
    assert len(EXPORTED) <= 50, f"EXPORTED names {len(EXPORTED)} queries"


def test_entry_point_exports_exactly_the_exported_set():
    import __spark_entry__ as e

    assert set(e.queries()) == EXPORTED
    assert set(e.oracle_sql()) == EXPORTED


def test_register_rejects_a_duplicate_name():
    name = next(iter(EXPORTED))
    with pytest.raises(ValueError, match="duplicate query name"):
        register(QuerySpec(name, SPECS[name].fn, None))
    assert registry.REGISTRY[name] is SPECS[name]


def test_load_all_rejects_an_unregistered_exported_name(monkeypatch):
    monkeypatch.setattr(registry, "EXPORTED", EXPORTED | {"no_such_query"})
    with pytest.raises(RuntimeError, match="no_such_query"):
        registry.queries_map()


#: queries whose full run is slow-ish; still covered by oracle_check
_SMOKE_ONLY: set[str] = set()


def test_every_query_has_oracle_or_documented_exception():
    missing = set(QUERIES) - set(ORACLES)
    assert missing == set(), f"queries without oracle SQL: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_columns_match_oracle(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    n = df.count()
    assert n >= 0
    if name in ORACLES:
        con = duck_con(SF_SMALL)
        res = con.execute(ORACLES[name])
        duck_cols = [d[0] for d in res.description]
        assert sorted(df.columns) == sorted(duck_cols), (
            f"{name}: spark columns {sorted(df.columns)} != "
            f"oracle columns {sorted(duck_cols)}"
        )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) == 10


def test_embedding_oracles_use_the_canonical_source_contract():
    """Every DuckDB oracle touching the embeddings table must gate it
    through EXACTLY the canonical validity subquery derived from
    sources.tables.EMB_VALID_SQL (the SQL twin of the read_embeddings
    ingestion contract). A future contract change edits the constant and
    mechanically re-syncs the oracle strings; this test turns a missed
    site — which would silently desync Spark from DuckDB for that one
    query — into a loud failure."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.registry import (
        all_specs,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources.tables import (
        EMB_VALID_SQL,
    )

    canonical = f"(SELECT * FROM embeddings WHERE {EMB_VALID_SQL}) embeddings"
    gated, problems = 0, []
    for name, spec in sorted(all_specs(include_local=True).items()):
        sql = spec.oracle or ""
        if "embeddings" not in sql:
            continue
        gated += sql.count(canonical)
        if "FROM embeddings" in sql.replace(canonical, ""):
            problems.append(name)
    assert problems == [], (
        f"oracles reading embeddings WITHOUT the canonical validity gate: "
        f"{problems}"
    )
    assert gated >= 19, f"expected >=19 gated sites, found {gated}"
