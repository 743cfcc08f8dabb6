"""One benchmark process: build the engine's SparkSession, then run laps.

Started by ``run.py`` in its own process group, never by hand. Modes:

- ``--probe``: set-up only (session + first trivial job), for ``setup_s``;
- ``--workload batch_etl``: one lap in this fresh JVM — the retail pipeline
  to SQLite, then the corpus pipeline to partitioned parquet;
- ``--workload query_mix``: one unmeasured pass that checks every query
  against its oracle and one unmeasured warm-up pass, then passes over
  the query list until ``--seconds`` have elapsed, at least two.

Writes one JSON document to ``--out`` and exits; the JVM ends when this
process does.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from contextlib import nullcontext
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import procstat  # noqa: E402

QUERIES = (
    "q01_pricing_summary",
    "q02_top_customers",
    "q03_sales_by_nation_year",
    "q11_event_hourly",
    "q14_curated_wide",
    "q22_revenue_by_region",
    "events_sessionization",
    "ann_topk_cosine",
    "ann_rerank_two_stage",
)


#: unmeasured noop passes after the checking pass (see run_query_mix)
WARMUP_PASSES = 1


def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def build_session():
    from walmart_retail_pyspark_sqlite_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


class Meter:
    """Wall and CPU time of one lap for the Python driver plus the JVM and
    everything it started (the Python workers)."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def cpu(self) -> float:
        return procstat.tree_cpu_s(os.getpid())

    def rss(self) -> dict:
        return {
            "jvm_mb": procstat.hwm_mb(self.jvm_pid),
            "python_mb": procstat.hwm_mb(os.getpid()),
        }


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- batch_etl ------------------------------------------------------------------


def batch_lap(spark, args, tracer) -> dict:
    from walmart_retail_pyspark_sqlite_pipeline_spark.pipeline import (
        CorpusConfig,
        PipelineConfig,
        run_corpus_pipeline,
        run_pipeline,
    )

    inputs, lap_dir = Path(args.inputs), Path(args.lap_dir)
    meter = Meter(spark)
    lap = {"traced": tracer is not None}
    c0, t0 = meter.cpu(), time.perf_counter()
    try:
        with tracer.span("lap") if tracer else nullcontext():
            spark.catalog.clearCache()
            r0 = time.perf_counter()
            res = run_pipeline(
                spark,
                PipelineConfig(
                    raw_dir=str(inputs / "retail"),
                    output_db=str(lap_dir / "retail.db"),
                    sink="sqlite",
                ),
            )
            r1 = time.perf_counter()
            if tracer:
                lap["cached_mb"] = cached_mb(spark)
            spark.catalog.clearCache()
            stats = run_corpus_pipeline(
                spark,
                CorpusConfig(input_dir=str(inputs / "corpus"), output_dir=str(lap_dir / "corpus")),
            )
            r2 = time.perf_counter()
            if tracer:
                lap["cached_mb"] = max(lap["cached_mb"], cached_mb(spark))
    except Exception as e:  # noqa: BLE001 - a failed lap is reported, not fatal
        lap.update(error=f"{type(e).__name__}: {e}", wall_s=time.perf_counter() - t0)
        return lap
    lap.update(
        wall_s=time.perf_counter() - t0,
        cpu_s=meter.cpu() - c0,
        retail_s=r1 - r0,
        corpus_s=r2 - r1,
        table_rows=res["table_rows"],
        reports={k: v.issues for k, v in res["reports"].items()},
        corpus_stats={k: v for k, v in stats.items() if k != "elapsed_s"},
    )
    return lap


def dedup_breakdown(spark, corpus_dir: str, tracer) -> dict:
    """Materialize the public sub-plans of corpus prep one at a time."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans import llm

    spark.catalog.clearCache()
    out = {}
    steps = (
        ("shingle_index_s", lambda: llm.corpus_shingle_index(spark, corpus_dir).count()),
        ("signatures_s", lambda: noop(llm.dedup_minhash_signatures(spark, corpus_dir))),
        ("lsh_pairs_s", lambda: noop(llm.dedup_minhash_lsh_pairs(spark, corpus_dir))),
    )
    tracer.lap = "breakdown"
    for key, step in steps:
        with tracer.span(f"operators.dedup.{key[:-2]}") as rec:
            step()
        out[key] = rec["end"] - rec["start"]
    out["verified_pairs"] = llm.dedup_minhash_lsh_pairs(spark, corpus_dir).count()
    spark.catalog.clearCache()
    return out


def run_batch(spark, args, tracer) -> dict:
    meter = Meter(spark)
    if tracer:
        tracer.lap = 0
        tracer.install()
    try:
        out = {"lap": batch_lap(spark, args, tracer)}
    finally:
        if tracer:
            tracer.uninstall()
            tracer.harvest()
    out["rss"] = meter.rss()
    if tracer:
        tracer.install()
        try:
            out["breakdown"] = dedup_breakdown(spark, str(Path(args.inputs) / "corpus"), tracer)
        finally:
            tracer.uninstall()
            tracer.harvest()
    return out


# --- query_mix ------------------------------------------------------------------


def query_pass(spark, specs, order, star_dir, tracer, meter) -> dict:
    lap = {"traced": tracer is not None, "queries": [], "errors": {}}
    c0, t0 = meter.cpu(), time.perf_counter()
    with tracer.span("lap") if tracer else nullcontext():
        for name in order:
            q0 = time.perf_counter()
            try:
                with tracer.span(f"plans.{name}") if tracer else nullcontext():
                    noop(specs[name].fn(spark, star_dir))
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                lap["errors"][name] = f"{type(e).__name__}: {e}"
            lap["queries"].append((name, time.perf_counter() - q0))
    lap.update(wall_s=time.perf_counter() - t0, cpu_s=meter.cpu() - c0)
    if tracer:
        lap["cached_mb"] = cached_mb(spark)
    return lap


def check_pass(spark, specs, order, star_dir) -> dict[str, list[str]]:
    """Run every query once against its DuckDB oracle; doubles as the
    unmeasured warm-up pass (JIT, code generation, caches)."""
    from checks import check_query, load_oracle_check  # not timed into set-up

    oc = load_oracle_check(ROOT)
    con = oc.duck_con(star_dir)
    problems = {}
    for name in order:
        try:
            found = check_query(oc, con, name, specs[name].fn(spark, star_dir), specs[name].oracle)
        except Exception as e:  # noqa: BLE001 - a crashing check is a failed check
            found = [f"{type(e).__name__}: {e}"]
        if found:
            problems[name] = found
    con.close()
    return problems


def run_query_mix(spark, args, tracer) -> dict:
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans import all_specs

    specs = all_specs(include_local=True)
    order = query_order(args.seed)
    star_dir = str(Path(args.inputs) / "star")
    meter = Meter(spark)
    w0 = time.perf_counter()
    problems = check_pass(spark, specs, order, star_dir)
    # JIT compilation of the driver's planning code takes several passes:
    # timed passes start from the third execution of each query
    for _ in range(WARMUP_PASSES):
        query_pass(spark, specs, order, star_dir, None, meter)
    # the peak memory of interest is the session's, not the check's
    # collected results: restart the driver's high-water mark here
    Path("/proc/self/clear_refs").write_text("5")
    laps = []
    t0 = time.perf_counter()
    while True:
        traced = bool(tracer) and len(laps) % 2 == 1
        if traced:
            tracer.lap = len(laps)
            tracer.install()
        try:
            laps.append(query_pass(spark, specs, order, star_dir, tracer if traced else None, meter))
        finally:
            if traced:
                tracer.uninstall()
                tracer.harvest()
        # at least two timed passes (three traced: untraced, traced,
        # untraced for the overhead), so a slow host still yields a median
        if time.perf_counter() - t0 >= args.seconds and len(laps) >= (3 if tracer else 2):
            break
    phases = {"warmup_s": t0 - w0, "measure_s": time.perf_counter() - t0}
    return {
        "order": order, "laps": laps, "rss": meter.rss(),
        "check_problems": problems, "phases": phases,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--inputs")
    ap.add_argument("--lap-dir")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark, setup_s = build_session()
    result = {"setup_s": setup_s}
    if not args.probe:
        from tracer import Tracer  # imported after set-up is timed

        result["java"] = spark._jvm.System.getProperty("java.version")
        tracer = Tracer(spark) if args.trace else None
        if args.workload == "batch_etl":
            result.update(run_batch(spark, args, tracer))
        else:
            result.update(run_query_mix(spark, args, tracer))
        if tracer:
            tracer.finalize()
            result["spans"] = tracer.spans
    Path(args.out).write_text(json.dumps(result))
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
