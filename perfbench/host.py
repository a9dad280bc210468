"""Host sizing for the benchmark's Spark launch, and process memory probes.

The engine's ``get_spark`` reads ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``; the benchmark sets both from the machine it runs
on (CPUs as ``nproc`` counts them, heap at half of ``MemTotal``) so that the
driver JVM fits in RAM on a host without swap.
"""

from __future__ import annotations

import os
from pathlib import Path


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure(work: Path) -> dict:
    """Set the environment the Spark launch reads; return what was asked.

    Everything the JVM and Python write goes under ``work``: Spark's local
    dirs, Python's temp files, and the JVM's temp dir. ``-XX:-UsePerfData``
    stops the JVM writing its perf-data file under /tmp.
    """
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    heap_mb = mem_total_mb() // 2
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return {"cpus": cpus(), "heap_mb": heap_mb}


def effective(spark) -> dict:
    """What the launched driver actually runs with."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    code_cache = sum(
        p.getUsage().getMax() for p in mf.getMemoryPoolMXBeans()
        if p.getName().startswith("CodeHeap"))
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "heap_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getMax() // 2**20,
        "code_cache_mb": code_cache // 2**20,
        "codegen_cache_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }


def _cpu_ticks(stat: str) -> int:
    with open(stat) as fh:
        # fields after the parenthesised command name; utime and stime are
        # the 14th and 15th fields of the whole line
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, all threads) used so far by the driver
    JVM plus this Python process. Time the host takes the CPUs away
    (steal) is not counted, so a CPU time varies less than a wall time on
    a shared host."""
    return ((_cpu_ticks(f"/proc/{jvm_pid}/stat") + _cpu_ticks("/proc/self/stat"))
            / os.sysconf("SC_CLK_TCK"))


def _hwm_kb(status: str) -> int:
    with open(status) as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rss_peak_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    return (_hwm_kb(f"/proc/{jvm_pid}/status")
            + _hwm_kb("/proc/self/status")) / 1024
