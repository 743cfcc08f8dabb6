"""The engine names the benchmark in ``perfbench/`` depends on.

perfbench reaches into the package by name: its tracer wraps
``(module, function)`` pairs, its worker and checks call ``plans.llm``
functions and oracle constants, and its query mix runs registry queries
against their oracle SQL. A rename here would only show up as a broken
benchmark run, so these tests read the perfbench files (the tracer is
stdlib-only and is loaded; the worker is parsed) and resolve every name
without starting Spark.
"""

import ast
import importlib
import importlib.util
from pathlib import Path

from walmart_retail_pyspark_sqlite_pipeline_spark.plans import all_specs, llm

PKG = "walmart_retail_pyspark_sqlite_pipeline_spark"
PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _parse(name: str) -> ast.Module:
    return ast.parse((PERFBENCH / name).read_text())


def test_tracer_targets_resolve():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracer", PERFBENCH / "tracer.py"
    )
    tracer = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracer)
    assert tracer.PKG == PKG
    unresolved = [
        f"{mod}.{fn}"
        for mod, fn in tracer.TARGETS
        if not callable(getattr(importlib.import_module(f"{PKG}.{mod}"), fn, None))
    ]
    assert unresolved == []


def test_llm_names_used_by_worker_and_checks_exist():
    used = {
        node.attr
        for name in ("worker.py", "checks.py")
        for node in ast.walk(_parse(name))
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "llm"
    }
    assert {
        "corpus_shingle_index",
        "dedup_minhash_signatures",
        "dedup_minhash_lsh_pairs",
    } <= used
    assert sorted(a for a in used if not hasattr(llm, a)) == []


def test_worker_queries_are_registered_with_oracle_sql():
    (queries,) = [
        ast.literal_eval(node.value)
        for node in _parse("worker.py").body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "QUERIES" for t in node.targets)
    ]
    specs = all_specs(include_local=True)
    assert queries
    assert [q for q in queries if q not in specs] == []
    assert [q for q in queries if not specs[q].oracle] == []
