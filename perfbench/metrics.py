"""Turn lap records and spans into the benchmark's metrics."""

from __future__ import annotations

import statistics

from worker import QUERIES

#: layers whose self time is reported (span name prefixes)
LAYERS = ("sources", "quality", "plans", "sinks", "pipeline")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median."""
    xs = sorted(samples)
    med = statistics.median(xs)
    k = len(xs) - 11  # xs[k] has exactly ten samples beyond it
    if k >= 0 and xs[k] >= med:
        return xs[k], 100.0 * (k + 1) / len(xs)
    return med, 50.0


def lap_layers(spans: list[dict], lap_id, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced lap."""
    lap = [s for s in spans if s["lap"] == lap_id]
    root = next(s for s in lap if s["name"] == "lap")

    def named(name: str) -> list[dict]:
        return [s for s in lap if s["name"] == name]

    def dur(name: str) -> float:
        return sum(s["dur_s"] for s in named(name))

    def incl(name: str, key: str) -> float:
        return sum(s["incl"].get(key, 0) for s in named(name))

    total = root["incl"]
    qc = "quality.checks.run_quality_checks"
    sink = "sinks.sqlite.write_sqlite"
    sink_s = dur(sink)
    rows = sum(s.get("returned", 0) for s in named(sink))
    m = {
        "sources.csv.s": dur("sources.csv.read_csv_raw"),
        "sources.input_mb": total.get("input_mb", 0.0),
        "quality.s": dur(qc),
        "quality.jobs": incl(qc, "jobs") / max(len(named(qc)), 1),
        "quality.constraints.s": dur("quality.constraints.validate"),
        "plans.curated.build_s": dur("plans.curated.build_curated_tables"),
        "plans.curated.spark_s": incl(sink, "job_s"),
        "plans.shuffle_write_mb": total.get("shuffle_write_mb", 0.0),
        "plans.spill_mb": total.get("spill_mb", 0.0),
        "plans.gc_s": total.get("gc_s", 0.0),
        "plans.cpu_util": total.get("cpu_s", 0.0) / (root["dur_s"] * cores),
        "sinks.sqlite.s": sink_s,
        "sinks.sqlite.driver_s": sink_s - incl(sink, "job_s"),
        "sinks.sqlite.rows_per_s": rows / sink_s if sink_s else 0.0,
        "sinks.sqlite.result_mb": incl(sink, "result_mb"),
        "pipeline.jobs": total.get("jobs", 0),
        "pipeline.retail_s": dur("pipeline.orchestrator.run_pipeline"),
        "pipeline.corpus_s": dur("pipeline.corpus.run_corpus_pipeline"),
        "trace.spans": len(lap),
    }
    for q in QUERIES:
        m[f"plans.{q}.s"] = dur(f"plans.{q}")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(s["self_s"] for s in lap if s["layer"] == layer)
    return m


def median_of(dicts: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
