"""Tracing for the per-layer run: spans, Spark counters and JVM counters.

Spans are recorded by the benchmark around its calls into each layer. Each
span sets a Spark job group ``workload:pass:span:phase``, so every job the
call starts is attributable to it; counters are read from Spark's status
tracker and status store only after a pass has ended, outside its timing.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import time

#: stage counters summed per span (statusStore StageData accessors)
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "inputBytes",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._workload = workload
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int, phase: str = ""):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "phase": phase,
            "pass": pass_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self._workload}:{pass_id}:{name}:{phase}",
            "start": time.perf_counter(),
        }
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["group"], parent["group"])
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def attach_counters(self, pass_id: int) -> None:
        """Fill each span of ``pass_id`` with the counters of the jobs
        started under its own group (not its children's)."""
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            if rec["pass"] != pass_id or "jobs" in rec:
                continue
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            totals.update(jobs=0, stages=0, tasks=0)
            for job_id in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                totals["jobs"] += 1
                for stage_id in info.stageIds:
                    self._add_stage(stage_id, totals)
            rec.update(totals)

    def _add_stage(self, stage_id: int, totals: dict) -> None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            return
        if sd.status().toString() != "COMPLETE":
            return
        totals["stages"] += 1
        totals["tasks"] += sd.numTasks()
        for field in STAGE_FIELDS:
            totals[field] += getattr(sd, field)()

    def jvm_counters(self) -> dict[str, float]:
        """Process-wide JVM counters: codegen compiles and compile time,
        JIT time and GC time."""
        codegen = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen
        metrics = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        mf = self._jvm.java.lang.management.ManagementFactory
        return {
            "codegen.compiles": metrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_s": codegen.CodeGenerator.compileTime() / 1e9,
            "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
            / 1e3,
        }


class LoadCounter:
    """Counts and times ``catalog.load`` calls; a miss is a call that had
    to build the relation (``catalog._load_uncached``). Install before the
    plan modules are imported, because they bind ``load`` at import."""

    def __init__(self) -> None:
        self.calls = 0
        self.misses = 0
        self.seconds = 0.0

    def install(self, catalog) -> None:
        load, uncached = catalog.load, catalog._load_uncached

        def counted_load(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return load(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        def counted_uncached(*args, **kwargs):
            self.misses += 1
            return uncached(*args, **kwargs)

        catalog.load = counted_load
        catalog._load_uncached = counted_uncached

    def snapshot(self) -> tuple[int, int, float]:
        return self.calls, self.misses, self.seconds
