"""Registry contract tests: every query runs at sf0.001 with a stable
schema, oracle strings are valid DuckDB SQL, and column names line up —
the properties the driver's correctness gate depends on. (Exact value
parity is checked by tools/oracle_check.py, which is too slow for the
default pytest loop.)"""

import ast
import importlib.util
from pathlib import Path

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
from walmart_retail_pyspark_sqlite_pipeline_spark.sources.tables import TABLES

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


def _session_names(spark):
    """What a query could clobber in the caller's session: each temp view
    (with its plan's hash, so a replaced view shows) and the temporary
    functions."""
    views = {
        t.name: spark.table(t.name).semanticHash()
        for t in spark.catalog.listTables()
        if t.isTemporary
    }
    funcs = {r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()}
    return views, funcs


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_columns_match_oracle(spark, name):
    # the caller's own views named like the engine's tables must survive
    # building and running a query, as must every other view and function
    for t in TABLES:
        spark.range(3).createOrReplaceTempView(t)
    before = _session_names(spark)
    try:
        df = QUERIES[name](spark, SF_SMALL)
        n = df.count()
        assert n >= 0
        assert _session_names(spark) == before, f"{name} changed the session catalog"
    finally:
        for t in TABLES:
            spark.catalog.dropTempView(t)
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


# --- every engine module is reached by an entry point ------------------------

_REPO = Path(__file__).resolve().parents[1]
_PKG = "walmart_retail_pyspark_sqlite_pipeline_spark"
_PKG_DIR = _REPO / _PKG

#: entry points inside the package: the CLI, the two pipelines and the
#: session factory (plans.registry, reached from the CLI, imports the plan
#: modules inside ``_load_all``)
_ROOTS = ("__main__", "pipeline.orchestrator", "pipeline.corpus", "session")

#: the reference's ingest step. It is no import's target: a caller plugs
#: ``sources.acquire.download`` in through ``PipelineConfig.acquire``.
_UNREACHED_OK = {"sources.acquire"}


def _path(mod: str) -> Path | None:
    base = _PKG_DIR.joinpath(*mod.split("."))
    return next(
        (p for p in (base / "__init__.py", base.with_suffix(".py")) if p.exists()),
        None,
    )


def _is_package(mod: str) -> bool:
    return (_PKG_DIR.joinpath(*mod.split(".")) / "__init__.py").exists()


def _package_imports(tree: ast.Module, pkg: str | None) -> list[tuple[str, tuple]]:
    """``(module, names)`` for every import of the package in ``tree``,
    function bodies included; ``pkg`` is the package a relative import is
    resolved against (None outside the package)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".") if pkg else []
                parts = parts[: len(parts) - node.level + 1]
                target = ".".join(parts + ([node.module] if node.module else []))
            elif node.module == _PKG or node.module.startswith(_PKG + "."):
                target = node.module[len(_PKG) + 1 :]
            else:
                continue
            out.append((target, tuple(a.name for a in node.names)))
        elif isinstance(node, ast.Import):
            out += [
                (a.name[len(_PKG) + 1 :], ())
                for a in node.names
                if a.name.startswith(_PKG + ".")
            ]
    return out


def _imports(mod: str) -> list[tuple[str, tuple]]:
    pkg = mod if _is_package(mod) else mod.rpartition(".")[0]
    return _package_imports(ast.parse(_path(mod).read_text()), pkg)


def _resolve(target: str, names: tuple) -> set[str]:
    """A name imported from a package reaches the submodule of that name,
    or else only the submodule whose ``__init__`` re-exports it."""
    if not _is_package(target):
        return {target}
    out = set()
    for name in names:
        sub = f"{target}.{name}" if target else name
        if _path(sub):
            out.add(sub)
            continue
        for t, ns in _imports(target):
            if name in ns:
                out |= _resolve(t, (name,))
    return out


def test_every_engine_module_is_reached_from_an_entry_point():
    """A module that no entry point imports is code the system does not
    run. Roots: the in-package entry points, the driver contract, and
    everything the benchmark reaches (its tracer's wrapped functions and
    its own imports). Spark-free: the package is parsed, not imported."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracer", _REPO / "perfbench" / "tracer.py"
    )
    tracer = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracer)
    todo = set(_ROOTS) | {mod for mod, _ in tracer.TARGETS}
    for outside in [_REPO / "__spark_entry__.py", *(_REPO / "perfbench").glob("*.py")]:
        for target, names in _package_imports(ast.parse(outside.read_text()), None):
            todo |= _resolve(target, names)
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        seen.add(mod)
        for target, names in _imports(mod):
            todo |= _resolve(target, names) - seen
    modules = {
        ".".join(p.relative_to(_PKG_DIR).with_suffix("").parts)
        for p in _PKG_DIR.rglob("*.py")
        if p.name != "__init__.py"
    }
    unreached = sorted(modules - seen - _UNREACHED_OK)
    assert unreached == [], f"modules no entry point reaches: {unreached}"


#: modules that move rows into Python: a package that imports none of
#: them keeps every query plan in the JVM
_PYTHON_DATA_MODULES = {"pandas", "numpy", "PIL"}


def test_no_engine_module_imports_python_data_libraries():
    """Spark-free twin of the plan audit's no-Python-boundary rule: no
    package module imports pandas, numpy or PIL, at module level or
    inside a function."""
    found = []
    for path in sorted(_PKG_DIR.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module]
            else:
                continue
            found += [
                f"{path.relative_to(_REPO)}:{node.lineno} {name}"
                for name in names
                if name.split(".")[0] in _PYTHON_DATA_MODULES
            ]
    assert found == [], f"engine modules import Python data libraries: {found}"
