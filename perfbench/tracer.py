"""In-memory span tracer for the traced benchmark run.

A span records a name, start, end, parent and the lap it belongs to. Each
span tags the Spark jobs submitted while it is the innermost open span with
its own job group (``SparkContext.setJobGroup``); :meth:`Tracer.harvest`
then reads every group's job and stage counters from the status store.

:meth:`Tracer.install` wraps the engine's layer-boundary functions from the
outside — the program's source is not changed. A function is patched in its
defining module and wherever another engine module imported it by name, and
:meth:`Tracer.uninstall` restores every patched attribute.
"""

from __future__ import annotations

import functools
import importlib
import sys
from collections import Counter
from contextlib import contextmanager
from time import perf_counter

PKG = "walmart_retail_pyspark_sqlite_pipeline_spark"

#: (module relative to the package, function) at each layer boundary; the
#: span name is ``<module>.<function>`` and its layer the first component
TARGETS = (
    ("sources.csv", "read_csv_raw"),
    ("sources.tables", "read_table"),
    ("sources.tables", "read_embeddings"),
    ("quality.checks", "run_quality_checks"),
    ("quality.checks", "profile"),
    ("quality.constraints", "validate"),
    ("plans.curated", "build_curated_tables"),
    ("plans.llm", "corpus_prep_pipeline"),
    ("sinks.sqlite", "write_sqlite"),
    ("sinks.parquet", "write_parquet"),
    ("pipeline.orchestrator", "run_pipeline"),
    ("pipeline.corpus", "run_corpus_pipeline"),
)

#: stage counters summed per span: (key, StageData getter, scale)
STAGE_COUNTERS = (
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("spill_mb", "diskBytesSpilled", 1e-6),
    ("input_mb", "inputBytes", 1e-6),
    ("output_mb", "outputBytes", 1e-6),
    ("result_mb", "resultSize", 1e-6),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.lap: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._harvested = 0
        self._seen_stages: set[int] = set()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1] if self._stack else None,
            "lap": self.lap,
            "group": f"perfbench-span-{sid}",
            "start": perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    rec["returned"] = out
                return out

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        for mod_name, fn_name in TARGETS:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            original = getattr(module, fn_name)
            wrapper = self._wrap(f"{mod_name}.{fn_name}", original)
            for name, mod in list(sys.modules.items()):
                if mod is None or not name.startswith(PKG):
                    continue
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapper)
                        self._patches.append((mod, attr, original))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patches):
            setattr(mod, attr, original)
        self._patches.clear()

    # -- counters ----------------------------------------------------------
    def harvest(self) -> None:
        """Attach job and stage counters to every span closed since the last
        harvest. Waits for the listener bus so the status store is current."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans[self._harvested :]:
            counts: Counter = Counter()
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                counts["jobs"] += 1
                job = store.job(job_id)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    counts["job_s"] += (
                        job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()
                    ) / 1e3
                info = tracker.getJobInfo(job_id)
                for stage_id in list(info.stageIds) if info else ():
                    if stage_id in self._seen_stages:
                        continue
                    self._seen_stages.add(stage_id)
                    stage = store.lastStageAttempt(stage_id)
                    counts["stages"] += 1
                    for key, getter, scale in STAGE_COUNTERS:
                        counts[key] += getattr(stage, getter)() * scale
            rec["own"] = dict(counts)
        self._harvested = len(self.spans)

    # -- derived views -----------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec["id"])
        return kids

    def finalize(self) -> None:
        """Add duration, self time (duration minus the time its children
        cover; children of one span never overlap) and inclusive counters
        (own plus all descendants') to every span."""
        kids = self.children()
        for rec in reversed(self.spans):  # children always follow parents
            rec["dur_s"] = rec["end"] - rec["start"]
            own_kids = [self.spans[k] for k in kids.get(rec["id"], ())]
            rec["self_s"] = rec["dur_s"] - sum(k["dur_s"] for k in own_kids)
            total = Counter(rec.get("own", {}))
            for k in own_kids:
                total.update(k["incl"])
            rec["incl"] = dict(total)
