"""SparkSession construction.

Parity: reference `SparkSessionUtils.getSparkSession`
(/root/reference/src/main/scala/com/saltfish/utils/SparkSessionUtils.scala:6-15)
builds a session with an HDFS warehouse and a `local` master when isLocal.
Ours leaves cluster config to the caller and defaults to a tuned local mode
for tests/bench: AQE on, Arrow on, shuffle partitions sized to cores (not
the 200 default, which over-partitions small local runs and under-partitions
nothing — on a real cluster callers should size it to ~2-3x total cores).
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Mapping

from pyspark.sql import SparkSession

#: the default driver heap is half of physical memory, at most this much
MAX_DEFAULT_HEAP_MB = 16 * 1024
#: the JVM code cache reserved below (-XX:ReservedCodeCacheSize=1g), which
#: lives outside the heap
CODE_CACHE_MB = 1024
_JVM_UNITS_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _jvm_size_mb(size: str) -> float:
    """A JVM memory size ("8g", "6144m", plain bytes) in MiB."""
    size = size.strip().lower()
    if size[-1] in _JVM_UNITS_MB:
        return float(size[:-1]) * _JVM_UNITS_MB[size[-1]]
    return int(size) / 2**20


def host_sizing(env: Mapping[str, str], cpus: int,
                mem_total_mb: int) -> tuple[int, str]:
    """(local cores, driver heap) for a host with ``cpus`` usable CPUs and
    ``mem_total_mb`` of physical memory.

    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` in ``env`` override
    the defaults: every usable CPU, and half of physical memory capped at
    ``MAX_DEFAULT_HEAP_MB``, which leaves room for the code cache, Python
    and the OS on a host without swap. Warns when the heap plus the code
    cache exceeds physical memory, since the kernel then kills the JVM
    once the heap fills.
    """
    n = int(env.get("SPARK_GRAFT_CPUS", cpus))
    heap = env.get("SPARK_GRAFT_DRIVER_MEM",
                   f"{min(mem_total_mb // 2, MAX_DEFAULT_HEAP_MB)}m")
    if _jvm_size_mb(heap) + CODE_CACHE_MB > mem_total_mb:
        warnings.warn(
            f"get_spark: driver heap {heap} plus the {CODE_CACHE_MB} MB code "
            f"cache exceeds this host's {mem_total_mb} MB of physical "
            "memory; lower SPARK_GRAFT_DRIVER_MEM.",
            RuntimeWarning, stacklevel=3)
    return n, heap


def get_spark(app_name: str = "casf_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target the test environment (single-JVM local mode), sized
    from this host by :func:`host_sizing`. On a real cluster, pass
    ``master=None`` with a pre-configured environment, or set config
    externally via spark-submit — every knob here is a default, not an
    override.
    """
    cpus, heap = host_sizing(
        os.environ, len(os.sched_getaffinity(0)),
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # InferFiltersFromGenerate adds `size(child) > 0 AND isnotnull(child)`
        # below every explode/posexplode. With a non-trivial generator child
        # (tokenize->slide->hash array expressions — our common case) the
        # inferred filter INLINES that whole expression twice more per row;
        # measured 8x slowdown on winnowing fingerprints at sf0.1. Generate
        # with outer=false already skips empty/null arrays, so for this
        # engine the rule only ever duplicates work.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        # A 100+-plan session (the driver-contract / bench shape) churns
        # through far more generated classes than the JVM's 240 MB default
        # code cache and Spark's 100-entry codegen class cache expect; when
        # the code cache fills, the JIT stops compiling and the HEAVIEST
        # plans silently run interpreted (measured: cosine_predict 15.5 s
        # in-suite vs 5 s standalone). Give both room.
        # -XX:-DontCompileHugeMethods: whole-stage-codegen methods routinely
        # exceed the JVM's 8000-bytecode huge-method limit, and WHETHER a
        # given query's generated method crosses it depends on the AQE plan
        # variant — so the same query runs compiled in one process and
        # interpreted (2-3x slower) in another. Compile them regardless.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
                "-XX:-DontCompileHugeMethods")
        # 20000 (r13): the full 250-query suite generates well over 1000
        # distinct codegen units (~10 WholeStageCodegen/expression classes
        # per query, x AQE runtime variants, x two SFs in the bench's
        # warm+timed phases), so the previous 1000-entry cache evicted hot
        # entries MID-SUITE; a re-generated class runs interpreted until
        # C2 recompiles it, which measured as 2-7x inflation bursts on
        # whichever queries ran during the storm (dedup_pagerank 22.7 s
        # in-suite vs 2.7 s standalone, JIT-time 44.9 s on a 9.9 s run).
        # Memory cost: JIT-compiled native code is bounded by the 1g
        # ReservedCodeCacheSize + flushing above, but the generated
        # CLASSES live in Metaspace, which is unbounded by default —
        # ~20k Janino classes measured well under 1 GiB here; add
        # -XX:MaxMetaspaceSize to extraJavaOptions if a hard bound is
        # required. A long-running production session with hundreds of
        # distinct plans wants the same headroom.
        .config("spark.sql.codegen.cache.maxEntries", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    # Detect reuse by OUTCOME, not session bookkeeping: getOrCreate against
    # a live session silently ignores JVM-launch options (code cache,
    # huge-method compile) — the fix for the measured interpreted-plan
    # slowdown above. Read the LAUNCH-time value from the SparkContext conf:
    # the session conf is mutated on reuse (applyModifiableSettings copies
    # the requested extraJavaOptions string into it even though the JVM was
    # launched without it), so spark.conf.get would always report the
    # requested options and never fire. The SparkContext conf is frozen at
    # JVM launch and reflects what the process actually runs with, so an
    # embedded bench/test run always gets a signal that its timings may be
    # pessimistic.
    applied = spark.sparkContext.getConf().get(
        "spark.driver.extraJavaOptions", "")
    # spark.sql.codegen.cache.maxEntries is a STATIC SQL conf: on session
    # reuse the requested 20000 is silently ignored and the old (default
    # 100) cache keeps evicting hot classes mid-suite. Static confs
    # report their launch-time value, so reading it back detects reuse
    # the session conf cannot (ADVICE r13).
    try:
        applied_cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    except Exception:  # noqa: BLE001 — conf absent on exotic builds
        applied_cache = "20000"
    if "ReservedCodeCacheSize" not in applied or applied_cache != "20000":
        warnings.warn(
            "get_spark: this SparkSession's JVM was not launched with the "
            "requested code-cache/JIT driver options (an existing session "
            f"was reused; effective codegen.cache.maxEntries="
            f"{applied_cache}); heavy fused plans may run interpreted or "
            "thrash the codegen cache (see session.py).",
            RuntimeWarning, stacklevel=2)
    spark.sparkContext.setLogLevel("WARN")
    return spark
