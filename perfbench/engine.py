"""Spark and JVM counters read around one operation, from outside the engine.

* jobs, stages, tasks: ``StatusTracker`` for the operation's job group, with
  each stage's final record from the application status store;
* shuffle bytes and records, and disk spill: the same stage records;
* JIT and GC time: the JVM's compilation and garbage-collector MX beans;
* codegen compile time and generated-method size: ``CodegenMetrics``.

Reading the counters costs py4j round trips and a wait for Spark's listener
bus to drain, so only the traced run uses this module.
"""

from __future__ import annotations

from contextlib import contextmanager

MB = 2 ** 20
#: samples a Codahale histogram keeps; below this its snapshot holds every
#: value recorded, so sums of snapshot values are exact
_RESERVOIR = 1028

COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks",
            "spark.shuffle_write_mb", "spark.shuffle_records",
            "spark.spill_mb", "jvm.jit_ms", "jvm.gc_ms",
            "codegen.compile_ms", "codegen.max_method_bytes")


class EngineProbe:
    """Labels each operation's Spark jobs with its own job group and reads
    the counters the operation moved."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        jvm = spark._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        cg = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.compile_hist = cg.METRIC_COMPILATION_TIME()
        self.method_hist = cg.METRIC_GENERATED_METHOD_BYTECODE_SIZE()
        self._groups = 0

    def _jvm_clocks(self) -> tuple[float, float, float]:
        jit = self.mf.getCompilationMXBean().getTotalCompilationTime()
        gc = sum(b.getCollectionTime()
                 for b in self.mf.getGarbageCollectorMXBeans())
        n = self.compile_hist.getCount()
        snap = self.compile_hist.getSnapshot()
        # exact while the reservoir still holds every compile; past that,
        # the count times the retained mean
        compile_ms = (float(sum(snap.getValues())) if n <= _RESERVOIR
                      else n * snap.getMean())
        return float(jit), float(gc), compile_ms

    @contextmanager
    def op(self, out: dict):
        """Run the body under a fresh job group; fill ``out`` with the
        counters it moved (see :data:`COUNTERS`) and ``scan_rows``."""
        group = f"perfbench-{self._groups}"
        self._groups += 1
        jit0, gc0, cg0 = self._jvm_clocks()
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "between operations")
        self.bus.waitUntilEmpty()
        jit1, gc1, cg1 = self._jvm_clocks()
        jobs = list(self.tracker.getJobIdsForGroup(group))
        stages = tasks = 0
        shuffle_b = shuffle_r = spill_b = scan_rows = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += sd.numCompleteTasks()
                shuffle_b += sd.shuffleWriteBytes()
                shuffle_r += sd.shuffleWriteRecords()
                spill_b += sd.diskBytesSpilled()
                scan_rows += sd.inputRecords()
        out.update({
            "spark.jobs": len(jobs),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.shuffle_write_mb": shuffle_b / MB,
            "spark.shuffle_records": shuffle_r,
            "spark.spill_mb": spill_b / MB,
            "jvm.jit_ms": jit1 - jit0,
            "jvm.gc_ms": gc1 - gc0,
            "codegen.compile_ms": cg1 - cg0,
            # running max over the process: the largest generated method
            "codegen.max_method_bytes": float(
                self.method_hist.getSnapshot().getMax()),
            "scan_rows": scan_rows,
        })
