"""Benchmark of the retail Spark engine. Run from the repository root:

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, measures, checks every
output against DuckDB, and prints two JSON lines: a record of the run
(environment, input properties, samples, check problems), then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sqlite3
import statistics
import subprocess
import sys
import time
from pathlib import Path

import duckdb

# siblings: perfbench/ is the script's directory, first on sys.path
import checks
import gen
import metrics
import procstat

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "walmart_retail_pyspark_sqlite_pipeline_spark"
WORKLOADS = ("batch_etl", "query_mix")
#: set-up samples per run (probe processes fill up what workers leave);
#: each is a JVM start of about 10 s, and a third would cost about 10% of
#: the time budget of a comparison (see README.md)
SETUP_SAMPLES = 2
#: pinned driver heap, so both sides of a comparison build the same session
DRIVER_MEM = "2g"
#: hard stop for one run, below the 180 s a run may take
RUN_BUDGET_S = 170

#: input sizes: the Walmart CSVs keep 45 stores x 143 weeks with fewer
#: departments per store; the star keeps the sf0.1 proportions at 25%
RETAIL_DEPTS_PER_STORE = 6
CORPUS_DOCS = 2_000
STAR = dict(orders=37_500, customers=3_750, events=25_000, users=375, vectors=5_000)


class BenchError(Exception):
    pass


def cpus() -> int:
    """CPUs this process may run on: what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def pinned_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


class Runner:
    """Starts worker processes one at a time, each in its own process group,
    and waits until every process of the group has ended."""

    def __init__(self, work: Path, env: dict[str, str], deadline: float):
        self.work, self.env, self.deadline = work, env, deadline
        self.n = 0

    def __call__(self, *args: str) -> dict:
        self.n += 1
        out = self.work / f"worker{self.n}.json"
        log = self.work / f"worker{self.n}.log"
        with open(log, "w") as fh:
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), "--out", str(out), *args],
                cwd=self.work, env=self.env, stdout=fh, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except BaseException as e:  # timeout, SIGTERM or ^C: stop the group now
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                if isinstance(e, subprocess.TimeoutExpired):
                    raise BenchError(f"worker {args} exceeded the run budget") from e
                raise
            finally:
                procstat.end_group(proc.pid)
        if proc.returncode != 0 or not out.exists():
            tail = log.read_text()[-3000:]
            raise BenchError(f"worker {args} exited {proc.returncode}:\n{tail}")
        return json.loads(out.read_text())


def generate(workload: str, seed: int, inputs: Path) -> dict:
    if workload == "batch_etl":
        return {
            "retail": gen.walmart_csvs(seed, inputs / "retail", RETAIL_DEPTS_PER_STORE),
            "corpus": gen.corpus(seed, inputs / "corpus", n_docs=CORPUS_DOCS),
        }
    return {"star": gen.star(seed, inputs / "star", **STAR)}


def dir_stats(path: Path) -> tuple[int, float]:
    files = [p for p in path.rglob("part-*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files) / 1e6


def run_batch(args, run: Runner, work: Path, inputs: Path, setups: list) -> dict:
    laps, workers, out = [], [], {}
    t0 = time.monotonic()
    while True:
        traced = bool(args.trace) and len(laps) % 2 == 1
        lap_dir = work / f"lap{len(laps)}"
        res = run(
            "--workload", "batch_etl", "--inputs", str(inputs), "--lap-dir", str(lap_dir),
            "--trace", str(int(traced)),
        )
        setups.append(res["setup_s"])
        res["lap"]["dir"] = lap_dir
        laps.append(res["lap"])
        workers.append(res)
        if time.monotonic() - t0 >= args.seconds and (not args.trace or len(laps) >= 2):
            break

    retail = checks.retail_expected(inputs / "retail")
    corpus = checks.corpus_expected(inputs / "corpus")
    for lap in laps:
        if "error" in lap:
            lap["problems"] = [lap["error"]]
            continue
        try:
            lap["problems"] = checks.check_retail(
                lap["dir"] / "retail.db", lap["reports"], retail
            ) + checks.check_corpus(lap["dir"] / "corpus", corpus)
        except (sqlite3.Error, duckdb.Error) as e:
            lap["problems"] = [f"{type(e).__name__}: {e}"]
    out["input_properties"] = {
        k: corpus[k] for k in ("gate_pass_share", "exact_removed_share", "near_removed_share")
    }
    out["input_properties"]["kept_documents"] = len(corpus["kept"])
    out["expected_rows"] = retail["rows"]
    out["attempted"] = len(laps)
    out["failed"] = sum(bool(lap["problems"]) for lap in laps)
    out["workers"] = workers
    out["laps"] = laps
    plain = [lap for lap in laps if not lap["traced"] and "error" not in lap]
    out["op_samples"] = [lap["wall_s"] for lap in plain]
    if args.trace:
        traced = next(w for w in workers if w["lap"]["traced"])
        out["traced_worker"] = traced
        out["candidates"], out["verified_pairs_oracle"] = checks.lsh_counts(inputs / "corpus")
        out["parquet"] = dir_stats(traced["lap"]["dir"] / "corpus")
    return out


def run_query_mix(args, run: Runner, inputs: Path, setups: list) -> dict:
    res = run(
        "--workload", "query_mix", "--inputs", str(inputs), "--seconds", str(args.seconds),
        "--seed", str(args.seed), "--trace", str(args.trace),
    )
    setups.append(res["setup_s"])
    laps = res["laps"]
    bad = set(res["check_problems"])
    attempted = failed = 0
    for lap in laps:
        for name, _ in lap["queries"]:
            attempted += 1
            failed += name in bad or name in lap["errors"]
    plain = [lap for lap in laps if not lap["traced"]]
    return {
        "workers": [res],
        "laps": laps,
        "attempted": attempted,
        "failed": failed,
        "check_problems": res["check_problems"],
        "query_order": res["order"],
        "op_samples": [t for lap in plain for name, t in lap["queries"] if name not in lap["errors"]],
        "traced_worker": res if args.trace else None,
    }


def end_to_end(out: dict, setups: list[float]) -> tuple[dict, dict]:
    plain = [lap for lap in out["laps"] if not lap["traced"] and "cpu_s" in lap]
    if not plain or not out["op_samples"]:
        raise BenchError("no successful lap to measure")
    value, pct = metrics.tail(out["op_samples"])
    peak = max(w["rss"]["jvm_mb"] + w["rss"]["python_mb"] for w in out["workers"])
    values = {
        "setup_s": statistics.median(setups),
        "lap_s": statistics.median(lap["wall_s"] for lap in plain),
        "query_p50_s": statistics.median(out["op_samples"]),
        "query_p90_s": value,
        "cpu_s": statistics.median(lap["cpu_s"] for lap in plain),
        "peak_rss_mb": peak,
    }
    return values, {"query_p90_percentile": pct, "op_samples": len(out["op_samples"])}


def per_layer(out: dict, setups: list[float], cores: int) -> dict:
    spans = out["traced_worker"]["spans"]
    traced = [lap for lap in out["laps"] if lap["traced"]]
    plain = [lap for lap in out["laps"] if not lap["traced"]]
    lap_ids = sorted({s["lap"] for s in spans if s["name"] == "lap"}, key=str)
    m = metrics.median_of([metrics.lap_layers(spans, i, cores) for i in lap_ids])
    m["session.setup_s"] = statistics.median(setups)
    m["session.cached_mb"] = statistics.median(lap["cached_mb"] for lap in traced)
    bd = out["traced_worker"].get("breakdown", {})
    cands = out.get("candidates", 0)
    m.update({
        "operators.dedup.shingle_index_s": bd.get("shingle_index_s", 0.0),
        "operators.dedup.signatures_s": bd.get("signatures_s", 0.0),
        "operators.dedup.lsh_pairs_s": bd.get("lsh_pairs_s", 0.0),
        "operators.dedup.candidates": cands,
        "operators.dedup.verified_pairs": bd.get("verified_pairs", 0),
        "operators.dedup.candidate_precision": bd.get("verified_pairs", 0) / cands if cands else 0.0,
    })
    files, mb = out.get("parquet", (0, 0.0))
    m["sinks.parquet.files"] = files
    m["sinks.parquet.output_mb"] = mb
    m["pipeline.jvm_rss_mb"] = max(w["rss"]["jvm_mb"] for w in out["workers"])
    m["pipeline.python_rss_mb"] = max(w["rss"]["python_mb"] for w in out["workers"])
    t_plain = statistics.median(lap["wall_s"] for lap in plain)
    t_traced = statistics.median(lap["wall_s"] for lap in traced)
    m["trace.overhead_pct"] = 100.0 * (t_traced - t_plain) / t_plain
    return m


def environment(args, load_start, ticks_start) -> dict:
    import pyspark

    return {
        "seed": args.seed,
        "nproc": cpus(),
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "cpu_steal_share": procstat.steal_share(ticks_start, procstat.cpu_ticks()),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": f".perfbench/{args.workload}-seed{args.seed}-trace{args.trace}/spark-local",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def main() -> int:
    # a SIGTERM unwinds like ^C, so the running worker's group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in (PKG, "tools/oracle_check.py", "BENCHMARK.json") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    deadline = time.monotonic() + RUN_BUDGET_S
    load_start, ticks_start = list(os.getloadavg()), procstat.cpu_ticks()
    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    inputs = work / "inputs"
    phases = {}
    try:
        t = time.monotonic()
        props = generate(args.workload, args.seed, inputs)
        phases["generate_s"] = time.monotonic() - t
        run = Runner(work, pinned_env(work), deadline)
        setups: list[float] = []
        workers = 2 if (args.workload == "batch_etl" and args.trace) else 1
        for _ in range(SETUP_SAMPLES - workers):
            setups.append(run("--probe")["setup_s"])
        phases["probes_s"] = time.monotonic() - t - phases["generate_s"]
        if args.workload == "batch_etl":
            out = run_batch(args, run, work, inputs, setups)
        else:
            out = run_query_mix(args, run, inputs, setups)
        phases["workload_s"] = time.monotonic() - t - phases["generate_s"] - phases["probes_s"]
        props.update(out.pop("input_properties", {}))
        if args.trace:
            values = per_layer(out, setups, cpus())
            extra = {"verified_pairs_oracle": out.get("verified_pairs_oracle")}
            units = {m["name"]: m["unit"] for m in declared["per_layer"]}
        else:
            values, extra = end_to_end(out, setups)
            units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        if set(values) != set(units):
            raise BenchError(f"metrics {sorted(set(values) ^ set(units))} do not match BENCHMARK.json")
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "environment": dict(
            environment(args, load_start, ticks_start), java=out["workers"][0]["java"]
        ),
        "inputs": props,
        "setup_samples": setups,
        "laps": [
            {k: v for k, v in lap.items() if k in ("traced", "wall_s", "cpu_s", "retail_s",
                                                     "corpus_s", "queries", "problems", "errors")}
            for lap in out["laps"]
        ],
        "rss": [w["rss"] for w in out["workers"]],
        "check_problems": out.get("check_problems", {}),
        "phases": dict(phases, **out["workers"][0].get("phases", {})),
        **extra,
    }
    results = ROOT / ".perfbench" / "results"
    results.mkdir(exist_ok=True)
    spans = out["traced_worker"]["spans"] if args.trace else []
    (results / f"{work.name}.json").write_text(json.dumps({**record, "spans": spans}, default=str))

    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
