"""Query registry: every engine capability as a (Spark plan, oracle SQL) pair.

Each :class:`QuerySpec` carries
- ``fn(spark, sf_dir) -> DataFrame`` — the idiomatic-Spark implementation,
- ``oracle`` — equivalent ANSI SQL DuckDB runs on the same parquet tables
  (``None`` only for genuinely non-SQL-expressible ops → driver falls back
  to a rows-only check),
- ``tags`` — SURVEY.md §2 inventory ids this query exercises,
- ``doc`` — a one-line description for the CLI ``list`` command.

Every spec lives in one :data:`REGISTRY`; the fixed :data:`EXPORTED` set
names the subset ``__spark_entry__.queries()``/``oracle_sql()`` expose.
All of them are oracle-checked by tools/oracle_check.py and
tests/test_registry.py.

Column names are aliased identically on both sides (the driver's compare
sorts columns by name before hashing). Float aggregates are rounded on both
sides so independent summation orders cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = ()
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# The queries the driver contract exposes; the rest are local-only.
EXPORTED: frozenset[str] = frozenset(
    {
        "q01_pricing_summary",
        "q02_top_customers",
        "q11_event_hourly",
        "q14_curated_wide",
        "events_sessionization",
        "corpus_prep_pipeline",
        "q03_sales_by_nation_year",
        "q22_revenue_by_region",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh_pairs",
        "ann_topk_cosine",
        "corpus_shingle_index",
        "ann_rerank_two_stage",
        "corpus_prep_pipeline_clf",
        "corpus_training_order",
        "sketch_hdr_quantiles",
        "events_ab_test",
        "ann_eval_mrr",
        "events_attribution_time_decay",
        "events_ab_cuped",
        "corpus_cdc_chunk_dedup",
        "layout_hilbert_clustering",
        "events_ab_srm",
        "events_power_mde",
        "ml_target_encoding",
        "dedup_minhash_b_bit",
        "dedup_cc_clusters",
        "corpus_pagerank",
        "corpus_canonical_docs",
        "corpus_label_propagation",
        "corpus_triangles",
        "corpus_split_leakage",
        "corpus_clustering_coeff",
        "corpus_soft_dedup_weights",
        "dedup_incremental_near_docs",
        "dedup_containment",
        "corpus_contamination",
        "corpus_bloom_contamination",
        "dedup_semantic_ivf",
        "embeddings_top_component",
        "embeddings_top2_components",
        "ann_ivf_topk",
        "ann_ivf_recall",
        "dedup_substring_ngrams",
        "sketch_mg_heavyhitters",
        "sketch_cms_manual",
        "sketch_cms_heavy_changers",
        "sketch_approx_distinct",
        "ann_ivfpq_topk",
        "ann_pq_recall",
    }
)


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    REGISTRY[spec.name] = spec
    return spec


def _load_all() -> None:
    # Import for side effects: each module registers its QuerySpecs. The
    # import order is the registration order, which fixes the order of
    # queries_map() and oracle_sql_map().
    from . import parity  # noqa: F401
    from . import streams  # noqa: F401
    from . import llm  # noqa: F401
    from . import corpus  # noqa: F401
    from . import timeseries  # noqa: F401
    from . import sketches  # noqa: F401
    from . import quality_suite  # noqa: F401
    from . import scd_history  # noqa: F401
    from . import cohorts  # noqa: F401
    from . import retail  # noqa: F401

    missing = EXPORTED - REGISTRY.keys()
    if missing:  # a typo in EXPORTED would silently shrink the exported set
        raise RuntimeError(f"EXPORTED entries never registered: {sorted(missing)}")


def all_specs(include_local: bool = True) -> dict[str, QuerySpec]:
    _load_all()
    return {
        name: spec
        for name, spec in REGISTRY.items()
        if include_local or name in EXPORTED
    }


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in all_specs(include_local=False).items()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs(include_local=False).items()
        if spec.oracle is not None
    }
