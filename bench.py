#!/usr/bin/env python
"""Regression suite: times the registered queries and records what each did.

    python bench.py [name ...]

Protocol, one code path for every query: one untimed warm pass of each
query at $SPARK_GRAFT_WARM_DIR (default: the sf0.001 directory beside the
timed data), then $SPARK_GRAFT_BENCH_RUNS timed samples (default 2) at
$SPARK_GRAFT_SF_DIR (default sf0.1), keeping the fastest. Generated
whole-stage-codegen classes are keyed by plan shape, not data size, so the
small warm pass fills the codegen and JIT caches for every timed plan and
the samples measure steady state, not first-run compilation. Each query is
materialized with a noop-format write, which evaluates every output column
(``count()`` would let Catalyst prune work).

Every sample runs inside ``perfbench.engine.EngineProbe.op``, so its Spark
jobs carry their own job group, described by the query's name. Standard
output gets ONE JSON line with keys ``metric``, ``value`` (total seconds),
``unit``, ``queries`` ({name: best seconds}), ``runs_per_query`` and ``sf``.
``$SPARK_GRAFT_BENCH_FULL`` (default ``BENCH_full.json`` beside this file
for the whole suite, no file for named queries) gets the same payload plus
``layers``: for each query the fastest sample's jobs, stages, tasks,
shuffle, spill, JIT, GC and codegen counters, and the driver's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from casf_spark.session import get_spark
from perfbench.engine import EngineProbe
from perfbench.host import rss_peak_mb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.environ.get(
    "SPARK_GRAFT_WARM_DIR",
    os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001"))

#: Spark's status store keeps 1000 stages and jobs by default and evicts
#: skipped stages first (they never complete), so past ~1000 stages
#: ``EngineProbe.op`` would look up a stage record that is gone. Both limits
#: are read when the SparkContext starts, so they go on the launch line.
#: The price: each stage lookup sorts every retained stage, so the probe's
#: read time (``probe_s``) grows with the session.
RETAIN_STATUS = ("--conf spark.ui.retainedStages=1000000 "
                 "--conf spark.ui.retainedJobs=1000000")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, probe: EngineProbe, name: str, fn, sf_dir: str,
               runs: int) -> tuple[list[float], dict]:
    """Time ``runs`` samples of query ``fn`` at ``sf_dir``.

    Returns the samples in seconds and a record: the fastest sample's probe
    counters and ``rss_peak_mb``, and ``probe_s``, the time all samples
    spent in the probe outside the query."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    samples: list[float] = []
    best: dict = {}
    probe_s = 0.0
    for _ in range(runs):
        out: dict = {}
        t_enter = time.perf_counter()
        with probe.op(out):
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
        probe_s += time.perf_counter() - t_enter - dt
        out["rss_peak_mb"] = rss_peak_mb(jvm_pid)
        spark.catalog.clearCache()  # warm code, cold data
        if not samples or dt < min(samples):
            best = {k: round(v, 3) for k, v in out.items()}
        samples.append(round(dt, 3))
    return samples, dict(best, probe_s=round(probe_s, 3))


def main() -> None:
    qs = entrymod.queries()
    names = sys.argv[1:] or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL") or (
        None if sys.argv[1:] else os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"))

    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [RETAIN_STATUS, os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")])
    spark = get_spark("casf_bench")
    probe = EngineProbe(spark)

    if os.path.isdir(WARM_DIR):
        for name in names:
            spark.sparkContext.setJobDescription(f"warm:{name}")
            try:
                materialize(qs[name](spark, WARM_DIR))
            except Exception as e:  # noqa: BLE001 — the timed pass reports it
                print(f"# warm {name} FAILED: {e}", file=sys.stderr)
        # CacheManager matches persisted plans structurally: without this
        # a timed sample could read a warm query's cached data
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    failed: list[str] = []
    for name in names:
        try:
            samples, rec = time_query(spark, probe, name, qs[name], SF_DIR,
                                      runs)
        except Exception as e:  # noqa: BLE001 — record it, keep the suite
            print(f"# {name} FAILED: {e}", file=sys.stderr)
            failed.append(name)
            continue
        timings[name] = min(samples)
        layers[name] = dict(rec, samples=samples)
        print(f"# {name} best={timings[name]} samples={samples} "
              f"jobs={rec['spark.jobs']} jit_ms={rec['jvm.jit_ms']}",
              file=sys.stderr, flush=True)

    payload = {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "runs_per_query": runs,
        "sf": sf,
    }
    if full_path:
        # the full record: the stdout line's tail gets truncated by
        # log capture, and it carries no per-query counters
        probe_s = sum(r["probe_s"] for r in layers.values())
        sampled_s = sum(sum(r["samples"]) for r in layers.values())
        with open(full_path, "w") as fh:
            json.dump(dict(payload, cpus=spark.sparkContext.defaultParallelism,
                           failed=failed,
                           sampled_s=round(sampled_s, 3),
                           probe_s=round(probe_s, 3),
                           layers=layers), fh, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
