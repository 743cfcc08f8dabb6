"""Fleet-wide physical-plan audit: every registry query (exported AND
local) is statically planned and scanned for scale hazards.

This is the systematic form of per-query plan checks: instead of trusting that each new query was hand-audited, the suite fails
if ANY registered plan picks up

- a ``CartesianProduct`` (unbounded cross join — the classic accidental
  O(N^2); broadcast 1-row cross joins plan as BroadcastNestedLoopJoin and
  are allowed only when the build side is a broadcast),
- any Python boundary (``BatchEvalPython``, ``ArrowEvalPython``,
  ``MapInPandas``, ``PythonMapInArrow``, ``EvalPythonUDTF``,
  ``FlatMapGroupsInPandas``) — every plan stays in the JVM, the
  multimodal decode included,
- a sort-based fallback aggregate where a hash aggregate was expected is
  NOT checked: ``ObjectHashAggregate``/``SortAggregate`` appear legally
  for collect_list/sketches.

Static planning (``df._jdf.queryExecution().sparkPlan()``) never runs a
job, so auditing all ~86 queries costs seconds.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.registry import all_specs

#: physical operators that hand rows to a Python worker
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",  # also matches PythonMapInArrow
    "EvalPythonUDTF",
    "FlatMapGroupsInPandas",
)

#: queries that legitimately execute a Structured Streaming job inside the
#: query function; their batch plan is audited via their batch twins.
STREAMING = {
    "stream_event_counts",
    "stream_session_windows",
    "stream_static_enrich",
    "stream_stream_join",
}


#: Queries allowed to END in a global sort (Sort[global=true], which
#: EnsureRequirements backs with an Exchange rangepartitioning): bounded,
#: presentational outputs — top-k lists, grouped summaries over bounded
#: dimensions, fixed-size diagnostics — where the sort is cheap and the
#: sorted order is part of the result's presentation. A BULK
#: per-row export must NOT be here: the RangePartitioner's sampling pass
#: re-executes the sort's child stage (measured 107.6 vs 37.3 s on the
#: classifier at 500k docs), so bulk surfaces end in sortWithinPartitions
#: instead. Any NEW query whose final node is a global sort fails this
#: guard until it is either migrated or consciously whitelisted here
#: (VERDICT r9 #3 — same ratchet as the round-7 schema guard).
GLOBAL_SORT_PRESENTATIONAL = frozenset({
    "ann_ivfpq_topk", "ann_knn_join", "ann_mips_topk", "ann_pq_recall",
    "ann_pq_topk", "ann_rerank_audit", "ann_rerank_batch",
    "ann_rerank_two_stage", "cdc_apply_changes",
    "corpus_balanced_sample_topk", "corpus_bloom_contamination",
    "corpus_canonical_docs", "corpus_chunk_dedup",
    "corpus_clustering_coeff", "corpus_contamination",
    "corpus_dup_rate_by_source", "corpus_encoding_audit",
    "corpus_gopher_rules", "corpus_kl_divergence", "corpus_novelty_curve",
    "corpus_pagerank", "corpus_source_mix", "corpus_split_leakage",
    "corpus_stratified_sample", "corpus_temperature_mix",
    "corpus_token_rebalance", "corpus_weighted_sample_topk",
    "dedup_cc_clusters", "dedup_exact_hist", "dedup_minhash_est_error",
    "dedup_normalized_exact", "dedup_semantic_ivf", "dedup_threshold_curve",
    "embeddings_jl_projection", "embeddings_kmeans",
    "embeddings_matryoshka_recall", "embeddings_top_component",
    # round-12 additions: outputs bounded by dims (64) / source x lang /
    # source / event_type enums
    "embeddings_whitening_stats", "corpus_tokenizer_fertility",
    "text_pii_detect", "events_attribution_last_touch",
    "entity_match_customers", "events_active_users_7d",
    "events_activity_streaks", "events_anomaly_zscore",
    "events_audience_overlap", "events_autocorr", "events_bounce_rate",
    "events_cohort_retention", "events_cusum_changepoint",
    "events_dwell_time", "events_ewma", "events_funnel_conversion",
    "events_funnel_windowed", "events_mad_anomaly",
    "events_markov_transitions", "events_mutual_info",
    "events_new_vs_returning", "events_retention_bitmap",
    "events_revenue_concentration", "events_seasonal_decompose",
    "events_seasonal_naive", "events_session_concurrency",
    "events_wow_change", "layout_zorder_clustering", "q01_pricing_summary",
    "q03_sales_by_nation_year", "q04_returnflag_by_year",
    "q07_distinct_flag_status", "q09_rollup_flag_status",
    "q10_nation_set_ops", "q16_status_pivot", "q17_grouping_sets",
    "q19_salted_skew_agg", "q20_json_props", "q21_percentiles",
    "q22_revenue_by_region", "q23_promo_share", "q26_array_funcs",
    "q27_full_outer_join", "q28_multiset_ops", "q29_cube_returnflag_status",
    "q30_unpivot_metrics", "q31_scalar_subquery", "q33_variant_props",
    "q35_market_share", "q36_pipe_syntax", "q37_histogram",
    "q38_nullsafe_join", "q39_decimal_money", "q42_abc_analysis",
    "q43_elasticity_slope", "q44_lateral_topn", "q46_recursive_spine",
    "q47_ols_normal_eq", "qc_benford_totalprice", "qc_constraint_suite",
    "qc_drift_chi2", "qc_drift_psi", "qc_k_anonymity", "qc_l_diversity",
    "sketch_approx_distinct", "sketch_approx_quantile", "sketch_cms_manual",
    "sketch_hll_manual", "sketch_mg_heavyhitters", "sketch_quantile_manual",
    "stream_dedup_counts", "text_bm25_batch", "text_bm25_topk",
    "text_bpe_train", "text_lang_confusion",
    # round-10 additions with bounded/presentational outputs: 3 threshold
    # rows (t_closeness), top-15 (bm25_prf), |sources| rows (waterfill),
    # 4 x |sources| rows (curriculum), 128 rows (top2 components)
    "qc_t_closeness", "text_bm25_prf", "corpus_token_budget_waterfill",
    "corpus_curriculum_phases", "embeddings_top2_components",
    # round-11 additions with bounded outputs: <=9 logit bins
    # (calibration), top-15 movers (heavy changers), 64 dim rows (clip
    # bounds)
    "corpus_quality_calibration", "sketch_cms_heavy_changers",
    "embeddings_dim_clip_bounds",
    # round-13 additions with bounded outputs: 4 FK-edge rows, |channels|
    # rows, 3 rows per language
    "qc_referential_integrity", "events_attribution_position",
    "corpus_ccnet_perplexity_buckets",
    # round-14 additions with bounded outputs: 3 quantile rows /
    # KNN_Q per-query eval rows
    "sketch_hdr_quantiles", "ann_eval_mrr",
    # round-14 batch 3: n_copies histogram (rows bounded by the max
    # duplicate multiplicity, the DD1/DD10 output shape) / |channels|+1
    # rows
    "corpus_cdc_chunk_dedup", "events_attribution_time_decay",
    # round-14 batch 4: <=256 Hilbert cells (the zorder twin's bound)
    "layout_hilbert_clustering",
    # round-14 batch 6: |o_orderpriority| x TE_FOLDS = 25 encode cells
    "ml_target_encoding",
    # (events_attribution_markov left this list in round 14: the bounded
    # fixed-point now runs driver-side, so the returned frame is a
    # LocalTableScan with no trailing sort)
})

#: Bulk per-row surfaces still carrying a trailing global sort. EMPTY
#: since round 10: the round-10 second pass migrated the entire
#: events/parity/pair backlog (the round-11 plan, pulled forward), so the
#: global-sort-on-bulk-exports class is fully retired — any regression or
#: new bulk query with a trailing global sort now fails the guard below.
GLOBAL_SORT_MIGRATION_PENDING = frozenset()

#: Round-11 guard (VERDICT r10 #3): queries whose STATIC plan reads the
#: documents TEXT column from parquet more than once, with the exact
#: allowed count and the reason. At 100 TB the text read dominates these
#: queries, so a second scan is a scale-regime cost: every entry here is
#: either a documented index/verify leg or a static-plan artifact that
#: exchange reuse collapses at runtime (verified on final adaptive plans).
#: Any query NOT listed must plan AT MOST ONE documents text scan — the
#: round-11 consolidation took the fleet from 27 multi-scan plans (worst:
#: text_bm25_prf at 14, sketch_mg_heavyhitters at 11) to the 10 floors
#: below via shared cached indexes (_token_postings, _doc_shingles),
#: window aggregates replacing groupBy+self-join branches, and bounded-
#: window census totals. The counts are asserted EXACTLY so an improvement
#: must tighten the entry and a regression fails loudly.
MULTI_TEXT_SCAN_ALLOWED: dict[str, tuple[int, str]] = {
    # flagship prep pipelines: scoring/classifier scan + the banded-LSH
    # near-dup leg's shingle-index backing scan (the documented warm index)
    "corpus_prep_pipeline": (2, "scoring scan + LSH shingle-index leg"),
    "corpus_prep_pipeline_clf": (2, "classifier scan + LSH shingle-index leg"),
    # bigram-stream scorers: gram scan + the shared token index's backing
    # scan (unigram stats come off the cache; bigrams need token order)
    "text_lm_score": (2, "bigram scan + token-index backing scan"),
    "text_lm_interpolated": (2, "bigram scan + token-index backing scan"),
    "corpus_lm_kneser_ney": (2, "gram-stream window pass + the 1-row bigram-type census anchor (qc_benford scalar-anchor shape)"),
    "corpus_importance_weights": (2, "bigram scan + token-index backing scan"),
    "text_collocations": (2, "pair scan + token-index backing scan"),
    # census -> sample is inherently two passes over (n_tokens, u) unless
    # a per-doc stats table is materialized
    "corpus_token_rebalance": (2, "census pass + sampling pass"),
    # fingerprint self-join: both sides plan the scan statically; the
    # final adaptive plan reuses ONE fp exchange (ReusedExchange verified)
    "dedup_winnowing_pairs": (2, "self-join sides; runtime reuses one exchange"),
    # split-assignment self-join (sa/sb) + the LSH pair legs; the final
    # adaptive plan reads the split scan once (verified)
    "corpus_split_leakage": (3, "split-table join sides + LSH leg; runtime reuses"),
    # image-ANN: feature pass + in-plan query-vector leg
    "multimodal_image_ann": (2, "feature pass + query-vector leg"),
    # round-11 additions at their floors
    "corpus_soft_dedup_weights": (2, "md5 scan + LSH shingle-index leg"),
    "text_lm_heldout_perplexity": (2, "bigram scan + token-index backing scan"),
    # round-13 addition: composes text_lm_score unchanged, inheriting its
    # floor (the lang join reads a non-text projection, uncounted here)
    "corpus_ccnet_perplexity_buckets": (2, "bigram scan + token-index backing scan"),
}

#: Round-11 extension of the same ratchet to the FACT tables
#: (lineitem / orders / events — the 100 TB row volume). STATIC scan
#: counts per table, asserted exactly: the six worst offenders were
#: consolidated this round (funnel 6→1, revenue 6→2, mad 4→1,
#: mutual_info 4→1, audience 4→2 static/1 executed, basket 5 static/1
#: executed via shared constrained exchanges — runtime reuse verified on
#: final adaptive plans); the floors below are recorded from the
#: round-11 census so any REGRESSION (or any new multi-scan query)
#: fails immediately. Entries marked "recorded floor" are the round-12
#: consolidation/justification backlog from that census.
FACT_MULTI_SCAN_ALLOWED: dict[str, dict[str, tuple[int, str]]] = {
    "basket_part_pairs": {"lineitem": (5, "self-join + count branches over one shared constrained exchange; 1 scan executed")},
    "events_asof_two_stream": {"events": (2, "the two as-of streams are type-filtered views of one table")},
    "events_audience_overlap": {"events": (2, "self-join sides; 1 scan executed (ReusedExchange)")},
    "events_gapfill_locf": {"events": (3, "date-bounds anchor + user grid + observation rollup")},
    "events_range_join": {"events": (2, "probe and anchor sides are views of one table")},
    "events_retention_bitmap": {"events": (4, "day-zero anchor embedded in both the bitmap and span passes")},
    "events_revenue_concentration": {"events": (2, "census pass + threshold-selection pass (quantiles need the full census)")},
    "layout_zorder_clustering": {"orders": (2, "bucket bounds need a global min/max pass before any row can be bucketed (the revenue_concentration census+selection shape); at scale the bounds pass reads only parquet footer min/max stats, not rows")},
    "q06_dup_stats": {"lineitem": (2, "full-row and subset dup detection are two aggregate views")},
    "q13_semi_anti": {"orders": (2, "semi and anti legs of the demonstrated operator pair")},
    "q28_multiset_ops": {"lineitem": (4, "INTERSECT ALL / EXCEPT ALL sides ARE the demonstrated operator")},
    "q31_scalar_subquery": {"orders": (3, "scalar subqueries per spec; the SQL surface is the operator")},
    "q34_correlated_scalar": {"orders": (2, "correlated scalar subquery is the demonstrated operator")},
    "qc_benford_totalprice": {"orders": (2, "digit histogram + total anchor")},
    "qc_constraint_suite": {"orders": (3, "independent constraint checks over one table")},
    "qc_drift_chi2": {"orders": (2, "baseline and current distribution legs")},
    "qc_drift_ks": {"orders": (2, "baseline and current distribution legs")},
    "qc_drift_psi": {"orders": (2, "baseline and current distribution legs")},
    "qc_drift_wasserstein": {"orders": (3, "baseline/current legs + normalizer")},
    "sketch_hll_manual": {"events": (2, "sketch pass + exact-evaluation pass")},
    # round-13 additions (q48's (2, "ranked + partition-count sides")
    # floor was retired in round 14: the correctness pin on the ranked
    # frame — operators/ranking.py cache() — leaves ONE static scan)
    "qc_referential_integrity": {"orders": (2, "parent key set of the lineitem FK edge + child side of the customer FK edge")},
    # round-14 batch 3
    "events_ab_cuped": {"events": (2, "the period split point needs a global ts min/max pass before any row can be bucketed (the layout_zorder bounds shape); the bounds scan prunes to the ts column and at scale reads parquet footer stats")},
    # round-14 batch 4
    "layout_hilbert_clustering": {"orders": (2, "same bounds-then-bucket shape as layout_zorder_clustering: the price-bucket range needs a global min/max pass; at scale it reads parquet footer stats")},
}

#: Round-12 extension of the same ratchet to the payload/dim tables
#: (VERDICT r11 "Next round" #5): the census over customer / part /
#: embeddings found 45 multi-scan plans. The iterative vector algorithms
#: (up to 45 static embeddings scans in dedup_semantic_ivf, 24 in the
#: power iteration) now read ONE cached vector store (plans/llm._emb_base,
#: the embeddings analogue of the shared shingle index), and the
#: derive-inputs-from-one-table demos (scd2/cdc/t-closeness) cache their
#: pruned snapshot/census once. What remains is the irreducible two-view
#: shape: a broadcast query/anchor side plus the corpus side, self-join
#: sides, or set-op legs — recorded exactly below. documents scans are
#: governed by MULTI_TEXT_SCAN_ALLOWED (the text column is the payload;
#: the non-text columns are narrow), and part has no multi-scan plans.
PAYLOAD_MULTI_SCAN_ALLOWED: dict[str, dict[str, tuple[int, str]]] = {
    "ann_hamming_packed": {"embeddings": (2, "sign-quantized corpus side + 1-row broadcast query side of one table")},
    "ann_hamming_topk": {"embeddings": (2, "sign-quantized corpus side + 1-row broadcast query side of one table")},
    "ann_int8_topk": {"embeddings": (2, "int8-quantized corpus side + 1-row broadcast query side of one table")},
    "ann_ivf_recall": {"embeddings": (3, "exact-baseline leg (query + corpus views) + the IVF leg's cached-store build; the recall audit NEEDS the exact leg")},
    "ann_knn_join": {"embeddings": (2, "query-batch side + corpus side are views of one table; query side is broadcast")},
    "ann_rerank_batch": {"embeddings": (2, "int8 coarse-scan leg + exact rerank leg of the candidate set")},
    "ann_rerank_two_stage": {"embeddings": (2, "int8 coarse-scan leg + exact rerank leg of the candidate set")},
    "ann_topk_cosine": {"embeddings": (2, "1-row broadcast query side + corpus side of one table")},
    "entity_match_customers": {"customer": (2, "blocking self-join sides of one table")},
    "q10_nation_set_ops": {"customer": (3, "INTERSECT/EXCEPT legs ARE the demonstrated operator (q28 precedent)")},
    "q13_semi_anti": {"customer": (2, "semi and anti legs of the demonstrated operator pair")},
}

_PAYLOAD_TABLES = ("customer", "part", "embeddings")

#: Round-13 ratchet (VERDICT r12 "What's wrong" #2): an UNPARTITIONED
#: Window (no PARTITION BY) forces every input row through ONE task — the
#: single window shape that walls at 100 TB when its input is data-sized.
#: Every unpartitioned Window in the fleet must therefore sit on a
#: provably BOUNDED input, recorded here as (exact count, the bound).
#: Three bounded shapes are in use: (a) a TakeOrderedAndProject top-k
#: candidate set directly under the window, (b) a grouped aggregate over a
#: bounded enum (sources / buckets / channels / event-type cells / brands
#: / sketch width), (c) q41's partition-count table (one row per shuffle
#: partition — cluster-config-bounded). The one DATA-sized site this
#: census found — q41's customer-grain ntile(4) — was rewritten in round
#: 13 to the distributed exact-rank scheme (operators/ranking.py
#: global_ntile / global_row_number) rather than whitelisted. Counts are exact: an
#: improvement must tighten the entry; a regression (or any new
#: unpartitioned window) fails loudly.
UNPARTITIONED_WINDOW_ALLOWED: dict[str, tuple[int, str]] = {
    "ann_mips_topk": (2, "ranks over a TakeOrderedAndProject(limit=10) candidate set"),
    "ann_rerank_audit": (1, "rank over the limit-bounded rerank candidate set"),
    "ann_rerank_two_stage": (1, "rank over the limit-bounded rerank candidate set"),
    "ann_rrf_fusion": (2, "ranks over the two limit-bounded retrieval lists"),
    "corpus_novelty_curve": (1, "cumulative sum over the bounded bucket grid"),
    "corpus_temperature_mix": (1, "whole-frame total over |sources| rows"),
    "corpus_token_budget_waterfill": (4, "waterfill passes over |sources| rows"),
    "corpus_token_rebalance": (1, "whole-frame total over |sources| rows"),
    "corpus_weighted_sample_topk": (1, "rank over a TakeOrderedAndProject top-k"),
    "embeddings_matryoshka_recall": (3, "ranks over three limit-bounded top-k lists"),
    "events_active_users_7d": (1, "bound trim over the bounded day-grid aggregate"),
    "events_attribution_last_touch": (1, "whole-frame total over |channels| rows"),
    "events_mutual_info": (1, "total over the |event_type|^2 contingency cells"),
    "q41_rfm_segments": (3, "cumulative offsets over the partition-count table (one row per shuffle partition), one per quartile pass"),
    "q42_abc_analysis": (2, "total + cumulative share over |brand| rows"),
    "qc_drift_ks": (1, "CDF cumulative sum over the bounded bucket grid"),
    "qc_drift_wasserstein": (1, "CDF cumulative sum over the bounded bucket grid"),
    "ml_target_encoding": (1, "global-prior total over the |o_orderpriority| x TE_FOLDS (25-row) encode-cell aggregate"),
    "sketch_mg_heavyhitters": (4, "ranks over sketch-width-bounded summaries"),
    "text_bm25_prf": (1, "rank over a TakeOrderedAndProject top-k"),
    "text_bm25_topk": (1, "rank over a TakeOrderedAndProject top-k"),
    "text_zipf_slope": (1, "rank over the TakeOrderedAndProject top-N terms"),
    # round-13 addition: the distributed-rank primitive itself — its only
    # unpartitioned window is the scheme's defining bounded one (the
    # markov attribution's share-normalizer entry was retired in round 14:
    # the bounded fixed-point runs driver-side, so its returned plan has
    # no Window at all)
    "q48_global_rank": (1, "cumulative offsets over the partition-count table (one row per shuffle partition)"),
    # round-14 additions
    "corpus_training_order": (1, "cumulative offsets over the partition-count table (one row per shuffle partition)"),
    "ann_eval_mrr": (1, "batch-mean window over the KNN_Q-bounded per-query frame"),
    "sketch_hdr_quantiles": (1, "ONE fused Window node (same order spec) holding the cumulative count and whole-frame total over the <=64-row log2 bucket census"),
}


def _top_bracket_groups(line: str) -> list[str]:
    """Top-level [...] groups of a plan line, in order."""
    groups: list[str] = []
    depth, start = 0, 0
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(line[start:i])
    return groups


def _count_unpartitioned_windows(plan: str) -> int:
    """DISTINCT Window nodes with an empty partition spec. The node prints
    ``Window [exprs], [partitionSpec], [orderSpec]`` with empty groups
    omitted: two trailing groups = partitioned+ordered; one trailing group
    is the partition spec unless it carries sort directions (ASC/DESC —
    order specs always print them); zero = bare whole-frame window.

    Distinct-line counting (round 14): an ``InMemoryTableScan`` prints its
    cached plan as innerChildren, so a plan that builds on a cached frame
    re-prints every node of the cached subtree — q41's three chained
    rank passes printed the pass-1 window three times (7 lines for 3
    physical nodes). A node's printed line carries its expression ids, so
    identical lines ARE the same physical node re-printed; distinct
    windows always differ."""
    seen: set[str] = set()
    for raw in plan.splitlines():
        s = raw.strip().lstrip("+-: *")
        if not s.startswith("Window "):
            continue
        tail = _top_bracket_groups(s)[1:]
        if len(tail) >= 2:
            continue
        if len(tail) == 1 and not (" ASC" in tail[0] or " DESC" in tail[0]):
            continue
        seen.add(s)
    return len(seen)

_PASSTHROUGH_OPS = (
    "Project", "ColumnarToRow", "InputAdapter", "WholeStageCodegen",
    "AdaptiveSparkPlan", "Coalesce", "CollectLimit", "GlobalLimit",
    "LocalLimit",
)


def _ends_in_global_sort(plan: str) -> bool:
    """True when the plan's TOP operator (through projections/limits) is a
    global Sort — the node EnsureRequirements turns into an Exchange
    rangepartitioning. TakeOrderedAndProject (sort+limit fused top-k) is
    not a global sort."""
    for raw in plan.splitlines():
        op = re.sub(r"^[\s+\-:*()0-9]*", "", raw).strip()
        if not op:
            continue
        if op.startswith(_PASSTHROUGH_OPS):
            continue
        return op.startswith("Sort [") and ", true," in op
    return False


_FACT_TABLES = ("lineitem", "orders", "events")


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _count_documents_text_scans(plan: str) -> int:
    """Distinct parquet Scan nodes in the FORMATTED static plan that read
    the documents TEXT column. A cached index (InMemoryRelation) backing
    scan counts once — that is the point: it is materialized once however
    many consumers read it."""
    count = 0
    cur = None
    loc_doc = False
    for line in plan.splitlines():
        s = line.strip()
        m = re.match(r"^\(\d+\) Scan parquet", s)
        if m:
            cur, loc_doc = True, False
            continue
        if cur is None:
            continue
        if s.startswith("Location") and "documents.parquet" in s:
            loc_doc = True
        elif s.startswith("ReadSchema"):
            if loc_doc and "text:string" in s:
                count += 1
            cur, loc_doc = None, False
    return count


def _count_fact_scans(
    plan: str, tables: tuple[str, ...] = _FACT_TABLES
) -> dict[str, int]:
    """Distinct parquet Scan nodes per listed table (any column set)."""
    counts = {t: 0 for t in tables}
    cur = None
    loc = None
    for line in plan.splitlines():
        s = line.strip()
        if re.match(r"^\(\d+\) Scan parquet", s):
            cur, loc = True, None
            continue
        if cur is None:
            continue
        if s.startswith("Location"):
            for t in tables:
                if f"{t}.parquet" in s:
                    loc = t
        elif s.startswith("ReadSchema"):
            if loc:
                counts[loc] += 1
            cur, loc = None, None
    return counts


def test_allowlists_name_registered_queries():
    """An entry left behind by a deleted query would pre-approve any later
    query that reuses the name, so every allowlisted name must resolve."""
    registered = all_specs(include_local=True).keys()
    allowlists = {
        "STREAMING": STREAMING,
        "GLOBAL_SORT_PRESENTATIONAL": GLOBAL_SORT_PRESENTATIONAL,
        "GLOBAL_SORT_MIGRATION_PENDING": GLOBAL_SORT_MIGRATION_PENDING,
        "MULTI_TEXT_SCAN_ALLOWED": MULTI_TEXT_SCAN_ALLOWED,
        "FACT_MULTI_SCAN_ALLOWED": FACT_MULTI_SCAN_ALLOWED,
        "PAYLOAD_MULTI_SCAN_ALLOWED": PAYLOAD_MULTI_SCAN_ALLOWED,
        "UNPARTITIONED_WINDOW_ALLOWED": UNPARTITIONED_WINDOW_ALLOWED,
    }
    stale = {
        list_name: sorted(set(names) - registered)
        for list_name, names in allowlists.items()
        if set(names) - registered
    }
    assert stale == {}, f"allowlist entries name no registered query: {stale}"


def _specs():
    return [
        (name, spec)
        for name, spec in sorted(all_specs(include_local=True).items())
        if name not in STREAMING
    ]


@pytest.mark.parametrize("name,spec", _specs(), ids=[n for n, _ in _specs()])
def test_plan_has_no_scale_hazards(spark, name, spec):
    # round-12: the scan-floor ratchets assert EXACT static counts, and a
    # cached plan registered by an earlier query in this session (e.g.
    # _emb_base) substitutes into a later query's identical subtree,
    # silently changing its count — clear the cache so every query is
    # audited on its own cold plan.
    spark.catalog.clearCache()
    df = spec.fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().sparkPlan().toString()

    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"

    python = [node for node in PYTHON_NODES if node in plan]
    assert not python, f"{name}: Python boundary {python}\n{plan}"

    # BroadcastNestedLoopJoin is only tolerable when it IS a broadcast —
    # i.e. never as an inner/outer join without a broadcast side (Spark
    # plans non-equi joins this way; all of ours must be broadcast-sized)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line or "BuildLeft" in line, (
                f"{name}: non-broadcast nested loop\n{line}"
            )

    # a plan ENDING in a global sort pays a top-level range exchange plus
    # the RangePartitioner's sampling replay of the sort's child stage —
    # banned on bulk exports, allowed only for whitelisted presentational
    # outputs (and the named round-11 migration backlog)
    if _ends_in_global_sort(plan):
        assert (
            name in GLOBAL_SORT_PRESENTATIONAL
            or name in GLOBAL_SORT_MIGRATION_PENDING
        ), (
            f"{name}: plan ends in a global Sort (top-level Exchange "
            "rangepartitioning). Bulk exports must use "
            "sortWithinPartitions; if this output is genuinely bounded/"
            "presentational, whitelist it in GLOBAL_SORT_PRESENTATIONAL "
            "with a reason.\n" + plan.splitlines()[0]
        )
    else:
        assert name not in GLOBAL_SORT_MIGRATION_PENDING, (
            f"{name}: migrated off the trailing global sort — remove it "
            "from GLOBAL_SORT_MIGRATION_PENDING"
        )

    # unpartitioned-window guard (VERDICT r12 #2): a Window with no
    # PARTITION BY funnels its whole input through one task — allowed only
    # on the whitelisted bounded inputs above, at their exact counts
    n_unpart = _count_unpartitioned_windows(plan)
    if name in UNPARTITIONED_WINDOW_ALLOWED:
        want, reason = UNPARTITIONED_WINDOW_ALLOWED[name]
        assert n_unpart == want, (
            f"{name}: plans {n_unpart} unpartitioned Window nodes but is "
            f"whitelisted for exactly {want} ({reason}). If it improved, "
            "tighten/remove the UNPARTITIONED_WINDOW_ALLOWED entry; if it "
            "regressed, re-bound the window input (top-k limit, bounded "
            "enum aggregate) or partition it."
        )
    else:
        assert n_unpart == 0, (
            f"{name}: plans {n_unpart} unpartitioned Window nodes — a "
            "single-partition pass over the window input. Bound the input "
            "(TakeOrdered top-k / bounded-enum aggregate), partition the "
            "window, or — if the input is genuinely bounded — whitelist it "
            "in UNPARTITIONED_WINDOW_ALLOWED with the bound."
        )

    # duplicate documents-text-scan guard (VERDICT r10 #3): at 100 TB the
    # text read dominates, so re-planning the scan per view is a
    # scale-regime cost. One scan is the norm; listed floors are exact.
    fmt_plan = _formatted_plan(spark, df)
    n_text_scans = _count_documents_text_scans(fmt_plan)
    if name in MULTI_TEXT_SCAN_ALLOWED:
        allowed, reason = MULTI_TEXT_SCAN_ALLOWED[name]
        assert n_text_scans == allowed, (
            f"{name}: plans {n_text_scans} documents-text scans but is "
            f"whitelisted for exactly {allowed} ({reason}). If it improved, "
            "tighten/remove the MULTI_TEXT_SCAN_ALLOWED entry; if it "
            "regressed, consolidate the scans (shared cached index, window "
            "aggregate instead of a groupBy+join branch, bounded-window "
            "census totals)."
        )
    else:
        assert n_text_scans <= 1, (
            f"{name}: plans {n_text_scans} documents-text scans — the text "
            "column is the dominant read at 100 TB. Consolidate (shared "
            "cached index / window aggregates / one unpivoted stream) or "
            "whitelist the floor in MULTI_TEXT_SCAN_ALLOWED with a reason."
        )

    # the same ratchet over the fact tables (lineitem/orders/events — the
    # 100 TB row volume): one scan per table unless a floor is recorded
    fact = _count_fact_scans(fmt_plan)
    allowed_fact = FACT_MULTI_SCAN_ALLOWED.get(name, {})
    for t, n in fact.items():
        if t in allowed_fact:
            want, reason = allowed_fact[t]
            assert n == want, (
                f"{name}: plans {n} {t} scans but the recorded floor is "
                f"{want} ({reason}). If it improved, tighten/remove the "
                "FACT_MULTI_SCAN_ALLOWED entry; if it regressed, "
                "consolidate (window aggregates / shared constrained "
                "exchange / bounded-window totals)."
            )
        else:
            assert n <= 1, (
                f"{name}: plans {n} {t} scans — consolidate or record the "
                "floor in FACT_MULTI_SCAN_ALLOWED with a reason."
            )

    # round-12: the same exact-floor ratchet over the payload/dim tables
    # (customer / part / embeddings — the census that found the 45-scan
    # IVF plan; see PAYLOAD_MULTI_SCAN_ALLOWED above)
    payload = _count_fact_scans(fmt_plan, _PAYLOAD_TABLES)
    allowed_payload = PAYLOAD_MULTI_SCAN_ALLOWED.get(name, {})
    for t, n in payload.items():
        if t in allowed_payload:
            want, reason = allowed_payload[t]
            assert n == want, (
                f"{name}: plans {n} {t} scans but the recorded floor is "
                f"{want} ({reason}). If it improved, tighten/remove the "
                "PAYLOAD_MULTI_SCAN_ALLOWED entry; if it regressed, "
                "consolidate (shared cached store / window aggregates / "
                "shared constrained exchange)."
            )
        else:
            assert n <= 1, (
                f"{name}: plans {n} {t} scans — read the shared cached "
                "store (_emb_base for embeddings) or record the floor in "
                "PAYLOAD_MULTI_SCAN_ALLOWED with a reason."
            )


def _exported_specs():
    return [
        (name, spec)
        for name, spec in sorted(all_specs(include_local=False).items())
        if name not in STREAMING
    ]


@pytest.mark.parametrize(
    "name,spec", _exported_specs(), ids=[n for n, _ in _exported_specs()]
)
def test_exported_schema_is_driver_hashable(spark, name, spec):
    """Every exported query must return only scalar top-level columns.

    The driver's compare sorts a pandas frame by every column and hashes
    the values; an array/map/struct column is unhashable there and the
    grade errors out instead of passing (CORRECTNESS_r07:
    multimodal_image_features, TypeError: unhashable type 'list').
    A complex-shaped surface stays local (out of ``EXPORTED``), next to an
    exported scalar-shaped twin such as the exploded
    ``multimodal_image_features`` for ``multimodal_image_features_vec``.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = spec.fn(spark, SF_SMALL)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert complex_cols == [], (
        f"{name}: exported query has driver-unhashable top-level columns "
        f"{complex_cols}; explode/flatten them or keep this surface local "
        "and export a scalar twin"
    )


# Structural pins on single queries: each locks a plan property an
# optimization established, so a later refactor cannot silently bring the
# pathology back. Ceilings are tighten-only: if a change lowers a count, lower the constant with it.
# Plans are counted FRESH (clearCache first) where a session-warm cache
# would make InMemoryRelation re-print its materialized subtree.


def test_ngram_jaccard_no_shingle_self_join(spark):
    """The in-array restructure replaced the keyed shingle SELF-JOIN with
    in-array pair combinations over the cap-bounded doc arrays: the cap
    window subtree now appears at most 3x statically (pairs + the two
    size-join branches, all over ONE reused shingle exchange) instead of
    4x, and no join keyed on the shingle column may come back."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_ngram_jaccard,
    )

    plan = _formatted_plan(spark, dedup_ngram_jaccard(spark, SF_SMALL))
    n_windows = sum(
        1 for ln in plan.splitlines() if ln.strip().startswith("(")
        and ") Window" in ln
    )
    assert n_windows <= 3, f"cap window re-evaluated: {n_windows} Window nodes"
    # join-key detail lines: a resurrected self-join would key on sh#N
    for ln in plan.splitlines():
        if ln.strip().startswith(("Left keys", "Right keys")):
            assert "sh#" not in ln, f"shingle-keyed join reappeared: {ln.strip()}"
    assert "explode" in plan.lower(), "in-array pair generation disappeared"


def test_lsh_pairs_no_trailing_sizes_joins(spark):
    """Doc sizes ride the band explode (one extra agg in the signature
    groupBy); the exporter must not re-join a doc-grain sizes table after
    the verify. The exchange-ref ceiling is the count the optimized plan
    reached."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_minhash_lsh_pairs,
    )

    # count the FRESH plan: a session-warm shingle cache makes the printed
    # InMemoryRelation innerChildren show the materialized (finalized)
    # subtree, which re-prints its exchange — the ref count would then
    # depend on which tests ran first, not on the plan's structure
    spark.catalog.clearCache()
    plan = _formatted_plan(spark, dedup_minhash_lsh_pairs(spark, SF_SMALL))
    assert plan.count("Exchange") <= 15, (
        f"lsh plan regrew to {plan.count('Exchange')} Exchange refs "
        "(after-state: 10; pre-round: 25)"
    )


def test_shingle_index_no_distinct_exchange(spark):
    """The index build dedups per doc (array_distinct pre-explode); the
    only allowed exchange is the ADAPTIVE under-split repartition guard,
    which is keyed on doc_id — a row-level distinct exchange on
    (doc_id, t) must never come back."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        _doc_shingles,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    # fresh-plan count — see test_lsh_pairs_no_trailing_sizes_joins
    spark.catalog.clearCache()
    df = _doc_shingles(read_table(spark, SF_SMALL, "documents"))
    try:
        plan = _formatted_plan(spark, df)
        assert plan.count("Exchange") <= 2, (
            f"index build regrew to {plan.count('Exchange')} Exchange refs"
        )
        assert "array_distinct" in plan, "per-doc dedup disappeared"
    finally:
        df.unpersist()


def test_q46_recursion_does_not_rescan_orders(spark):
    """The recursive spine starts from driver-collected literal bounds;
    the recursion must not reference any table (the old single-text form
    re-ran the orders MIN/MAX aggregate on every UnionLoop step). The
    final plan may scan orders only for the `monthly` rollup."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.parity import (
        q46_recursive_spine,
    )

    import re

    plan = _formatted_plan(spark, q46_recursive_spine(spark, SF_SMALL))
    # distinct node ids: formatted output mentions each node in the tree
    # AND in the details section
    n_scans = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
    assert n_scans <= 1, (
        f"q46 plan scans parquet {n_scans}x — the recursion is "
        "re-reading a table again"
    )


def test_power_iteration_state_is_literal(spark):
    """Each power-iteration step is ONE corpus pass: the final export must
    be built from literal arrays (dim-bounded driver iterate), not from a
    chained 1-row-DataFrame lineage that re-embeds every prior multiply."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        embeddings_top_component,
    )

    plan = _formatted_plan(spark, embeddings_top_component(spark, SF_SMALL))
    assert plan.count("Exchange") <= 2, (
        f"PCA export plan regrew to {plan.count('Exchange')} Exchange refs "
        "(after-state: 2; pre-round: 24)"
    )


def test_fanout_helpers_are_pinned(spark):
    """The two multi-consumer embedding helpers persist their fan-out
    frames (correctness/cost pins); losing the pin
    silently re-executes the learned-cell chain per consumer branch."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        _ivf_cells,
        _two_level_fine_cells,
    )

    cells = _ivf_cells(spark, SF_SMALL)
    ev = _two_level_fine_cells(spark, SF_SMALL)
    try:
        assert cells.storageLevel.useMemory or cells.storageLevel.useDisk
        assert ev.storageLevel.useMemory or ev.storageLevel.useDisk
    finally:
        cells.unpersist()
        ev.unpersist()
        spark.catalog.clearCache()


def _exchange_nodes(plan: str) -> int:
    """Distinct physical Exchange operators (node-numbered lines), immune
    to InMemoryRelation innerChildren re-prints."""
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_substring_ngrams_incremental_hash(spark):
    """13-gram hashes compose incrementally from per-token (h, 31^len)
    pairs: the plan must not rebuild gram STRINGS (concat_ws) and must
    keep the per-doc hash dedup (array_distinct) — the corpus-wide
    post-shuffle distinct must not come back either (node ceiling: the
    under-split guard repartition, the h repartition, the doc rollup)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        dedup_substring_ngrams,
    )

    spark.catalog.clearCache()
    plan = _formatted_plan(spark, dedup_substring_ngrams(spark, SF_SMALL))
    assert "concat_ws" not in plan, "gram-string materialization came back"
    assert "array_distinct" in plan, "per-doc hash dedup disappeared"
    assert _exchange_nodes(plan) <= 3, (
        f"substring plan regrew to {_exchange_nodes(plan)} Exchange nodes"
    )


def test_approx_distinct_no_pair_grain_hll(spark):
    """The exact branch pre-deduplicates (event_type, user_id) pairs; the
    rsd=0.01 HLL partial (~1.6k packed register columns per row) must
    never again be evaluated at pair grain — only above the distinct,
    at event_type grain."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_approx_distinct,
    )

    spark.catalog.clearCache()
    plan = _formatted_plan(spark, sketch_approx_distinct(spark, SF_SMALL))
    # walk the node details: any aggregate keyed on BOTH grouping columns
    # must carry no aggregate functions (it is the dedup, not the sketch)
    blocks = plan.split("\n\n")
    for blk in blocks:
        if re.search(r"^Keys \[2\].*user_id", blk, re.M):
            m = re.search(r"^Functions \[(\d+)\]", blk, re.M)
            if m:
                assert m.group(1) == "0", (
                    "HLL/count partials re-attached to the pair-grain "
                    f"aggregate:\n{blk}"
                )


def test_sketch_rollup_pins(spark):
    """mg/cms/changers derive counters, vocabulary and the exact
    evaluation from ONE pinned per-token count rollup: the exact pass
    must aggregate the rollup's cnt column (partial_sum(cnt...)), never
    re-count the raw token stream, and the exchange-node counts must not
    regrow to the fan-out shapes (mg was 31 nodes pre-round)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_cms_heavy_changers,
        sketch_cms_manual,
        sketch_mg_heavyhitters,
    )

    for fn, ceiling in (
        (sketch_mg_heavyhitters, 22),
        (sketch_cms_manual, 8),
        (sketch_cms_heavy_changers, 12),
    ):
        spark.catalog.clearCache()
        plan = _formatted_plan(spark, fn(spark, SF_SMALL))
        assert "partial_sum(cnt" in plan, (
            f"{fn.__name__}: exact pass no longer rides the count rollup"
        )
        assert _exchange_nodes(plan) <= ceiling, (
            f"{fn.__name__} regrew to {_exchange_nodes(plan)} Exchange nodes"
        )


def test_pq_subspace_dists_rides_cached_base(spark):
    """_pq_subspace_dists reads the shared cached vector store: its plan
    must reference _emb_base's InMemoryRelation, not raw embeddings
    parquet scans (two raw scans per PQ query pre-round)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        _pq_subspace_dists,
    )

    spark.catalog.clearCache()
    df = _pq_subspace_dists(spark, SF_SMALL)
    try:
        plan = _formatted_plan(spark, df)
        assert "InMemoryRelation" in plan, (
            "subspace distances no longer read the cached vector store"
        )
        # the only parquet scans allowed are the cache's own innerChildren
        # re-prints; a scan OUTSIDE an InMemoryRelation block would put raw
        # embeddings reads back on the query path — detectable as more
        # scan prints than relation prints
        assert plan.count("Scan parquet") <= plan.count("InMemoryRelation"), (
            "raw embeddings scans reappeared beside the cached base"
        )
    finally:
        spark.catalog.clearCache()


def test_cc_labels_no_convergence_join(spark):
    """_cc_labels detects convergence with a filter-count over the
    checkpointed frame (the _prev column), not a per-round old⨝new
    shuffle join — pin the source shape (the loop body is driver-side,
    so the plan cannot show it)."""
    import inspect

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        _cc_labels,
    )

    src = inspect.getsource(_cc_labels)
    assert "_prev" in src, "previous-label carry disappeared"
    assert src.count(".join(") == 2, (
        "per-round join count changed: the loop must hold exactly the "
        "neighbor join and the label update join (the old convergence "
        "join made three)"
    )
