"""Empirical scaling probe: time the headline queries at every available
scale factor and report how runtime grows vs data size.

Writes SCALING.md. A query whose time grows ~linearly (or better) in SF
while the data grows 10x per step is exercising partition-parallel plans
with no super-linear term (the all-pairs/cartesian failure mode shows up
immediately as ~100x per step). Absolute local[32] numbers are noisy at
small SF — stage-launch overhead dominates below ~0.1s — so the signal is
the LARGE-step ratio (sf0.01 -> sf0.1), reported against the 10x data
growth.

Usage: python tools/scaling_probe.py [sf_dir ...]
       python tools/scaling_probe.py [sf_dir ...] --only q1,q2 --section TITLE

With ``--only`` the probe times just the named queries and APPENDS a
focused section to SCALING.md instead of rewriting the headline table —
used to push a narrow family (e.g. dedup) one decade further than the
full suite is worth running.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from walmart_retail_pyspark_sqlite_pipeline_spark.plans.registry import (  # noqa: E402
    all_specs,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.session import get_spark  # noqa: E402

# The charted queries: the star, event, corpus-dedup and ANN headline
# plans, then analytics/quality/sketch ops whose scaling is worth watching.
QUERIES = (
    "q01_pricing_summary",
    "q02_top_customers",
    "q11_event_hourly",
    "q14_curated_wide",
    "q03_sales_by_nation_year",
    "q22_revenue_by_region",
    "events_sessionization",
    "corpus_prep_pipeline",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_pairs",
    "ann_topk_cosine",
    "corpus_shingle_index",
    "ann_rerank_two_stage",
    "corpus_prep_pipeline_clf",
    "sketch_approx_distinct",
    "layout_zorder_clustering",
    "events_cohort_retention",
    "events_funnel_conversion",
    "events_active_users_7d",
    "qc_constraint_suite",
    "qc_drift_chi2",
    "scd2_customer_history",
    "ann_ivf_recall",
    "embeddings_kmeans",
    "corpus_pagerank",
    "corpus_canonical_docs",
    "events_anomaly_zscore",
)

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def run_to_completion(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _table(rows: dict[str, dict[str, float]], sf_dirs: list[str]) -> list[str]:
    """Markdown table: best seconds per SF and the last-step growth ratio
    (NaN with a single SF or a zero time)."""
    lines = [
        "| query | "
        + " | ".join(Path(s).name for s in sf_dirs)
        + " | last-step growth (data 10x) |",
        "|---|" + "---|" * (len(sf_dirs) + 1),
    ]
    for name, times in rows.items():
        t = [times[s] for s in sf_dirs]
        ratio = (
            round(t[-1] / t[-2], 2) if len(t) > 1 and t[-2] > 0 else float("nan")
        )
        lines.append(
            f"| {name} | " + " | ".join(f"{x:.3f}" for x in t) + f" | {ratio}x |"
        )
    return lines


def main() -> None:
    argv = sys.argv[1:]
    only: list[str] = []
    section = ""
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        del argv[i : i + 2]
    if "--section" in argv:
        i = argv.index("--section")
        section = argv[i + 1]
        del argv[i : i + 2]
    # --max-part-bytes 4m: shrink the parquet input-split size. The replica
    # dirs are ONE parquet file per table; at default 128m a 57 MB file is
    # a single input split, so every pre-shuffle stage (the shingle explode
    # most of all) runs in ONE task and the probe times stragglers, not the
    # engine. A real corpus at this scale is thousands of files wide —
    # smaller splits are the representative shape, not a cheat.
    max_part_bytes = ""
    if "--max-part-bytes" in argv:
        i = argv.index("--max-part-bytes")
        max_part_bytes = argv[i + 1]
        del argv[i : i + 2]
    sf_dirs = argv or DEFAULT_SFS
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if max_part_bytes:
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_part_bytes)

    every = all_specs()
    specs = [every[n] for n in (only or QUERIES)]
    # warm-up lap at the largest SF (JIT/codegen for every plan shape)
    for spec in specs:
        run_to_completion(spec.fn(spark, sf_dirs[-1]))
    spark.catalog.clearCache()

    rows: dict[str, dict[str, float]] = {}
    fact_rows: dict[str, int] = {}
    # family-focused replicas (make_replica --tables) may omit lineitem;
    # use documents as the row-scale metric for EVERY column in that case
    # so the per-column counts stay comparable
    for fact in ("lineitem.parquet", "documents.parquet", "embeddings.parquet"):
        if all(os.path.exists(os.path.join(s, fact)) for s in sf_dirs):
            break
    else:
        raise SystemExit(
            "no common row-scale table across "
            + ", ".join(sf_dirs)
            + ": need lineitem.parquet, documents.parquet or "
            "embeddings.parquet present in EVERY sf_dir"
        )
    for sf_dir in sf_dirs:
        fact_rows[sf_dir] = (
            spark.read.parquet(os.path.join(sf_dir, fact)).count()
        )
        for spec in specs:
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run_to_completion(spec.fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            rows.setdefault(spec.name, {})[sf_dir] = round(best, 3)
        spark.catalog.clearCache()

    if only:
        lines = [
            "",
            f"## {section or 'Focused probe: ' + ', '.join(only)}",
            "",
            "`python tools/scaling_probe.py "
            + " ".join(Path(s).name for s in sf_dirs)
            + " --only ...` — best-of-2 steady-state seconds; each step is",
            "10x the data of the previous column.",
            "",
            *_table(rows, sf_dirs),
            "",
            f"{fact.removesuffix('.parquet')} rows per column: "
            + ", ".join(f"{Path(s).name}={fact_rows[s]:,}" for s in sf_dirs),
            "",
        ]
        out = REPO / "SCALING.md"
        with open(out, "a") as fh:
            fh.write("\n".join(lines))
        print(f"appended section to {out}")
        spark.stop()
        return

    lines = [
        "# SCALING — measured runtime vs scale factor",
        "",
        "`python tools/scaling_probe.py` output: best-of-2 steady-state seconds",
        "per headline query at each scale factor (local[32]; noop writer,",
        "caches cleared before each run). The signal to read is the last-step",
        "growth ratio against 10x data: sub-linear ratios mean fixed",
        "overhead still dominates; ~10x would be linear; anything",
        "super-linear would flag an all-pairs term. The sf1_replica column",
        "is a 10x FK-consistent replication of the driver's sf0.1 data",
        "(tools/make_replica.py: keys offset per replica, document text",
        "perturbed so cross-replica docs share no shingles) — it extends",
        "the probe one decade past the largest driver-provided SF, where",
        "data rather than fixed overhead dominates.",
        "",
        *_table(rows, sf_dirs),
        "",
        "lineitem rows per SF: "
        + ", ".join(f"{Path(s).name}={fact_rows[s]:,}" for s in sf_dirs),
        "",
    ]
    out = REPO / "SCALING.md"
    out.write_text("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
