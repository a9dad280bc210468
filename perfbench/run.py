"""Benchmark entry point.

    python3 perfbench/run.py --workload coo_batch --seed 1 [--trace 0]

Run from the root of a checkout. One process starts Spark on
``local[<nproc>]`` (heap at half of MemTotal), generates the workload's
inputs from the seed, warms up, then runs the workload's unit of work in a
closed loop for ``run_seconds`` (from ``BENCHMARK.json``; ``--seconds``
accepts the same value when a harness passes it) and checks every output
against an independent reference. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
loop is run once untraced and once traced, the metrics are the per-layer
ones, and the spans go to ``.perfbench/traces/<workload>-<seed>.jsonl``.
The exit code is 1 when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from casf_spark.session import get_spark  # noqa: E402

import host  # noqa: E402
from engine import COUNTERS, EngineProbe  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, median_layers  # noqa: E402

#: set-up repetitions whose median ``setup_s`` reports
SETUP_REPS = 3
#: length of the timed loop, fixed by the benchmark so that runs compare
RUN_SECONDS = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]

#: end-to-end metrics; ``pipeline_cpu_s`` is the median CPU time of one pass
#: of a batch workload's pipeline (its wall time, ``pipeline_s``, moved by a
#: third between runs on a shared host, so the traced run reports it), and
#: the ``lookup*`` metrics are model_lookup's in its place
END_TO_END = {
    "setup_s": "s",
    "pipeline_cpu_s": "s",
    "lookup_ms_p50": "ms", "lookup_ms_p90": "ms", "lookups_per_s": "1/s",
    "lookup_cpu_ms_p50": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.rows": "count",
    "sources.scan_tasks": "count",
    "text.term_counts_s": "s", "text.tokens": "count", "text.nnz": "count",
    "pipeline.curate_s": "s", "pipeline.kept_ratio": "ratio",
    "dedup.lsh_s": "s", "dedup.candidates": "count",
    "dedup.cand_yield": "ratio", "dedup.planted_recall": "ratio",
    "analyse.normalize_s": "s", "analyse.nnz": "count",
    "analyse.pairs_s": "s", "analyse.aligned_pairs": "count",
    "analyse.pair_expansion": "ratio",
    "model.allpairs_self_s": "s", "model.out_pairs": "count",
    "model.pair_yield": "ratio", "model.topk_self_s": "s",
    "model.predict_self_s": "s", "model.predicted_cells": "count",
    "model.score_self_s": "s",
    "pipeline_s": "s", "allpairs_s": "s", "topk_s": "s", "predict_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_records": "count",
    "spark.spill_mb": "MB", "jvm.jit_ms": "ms", "jvm.gc_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.max_method_bytes": "bytes",
    "trace.overhead_ms": "ms", "rss_peak_mb": "MB",
}
assert set(COUNTERS) <= set(PER_LAYER)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds != RUN_SECONDS:  # runs of other lengths do not compare
        ap.error(f"--seconds must be run_seconds ({RUN_SECONDS})")
    return args


class Tally:
    """Operations attempted and wrong (raised, or failed their check)."""

    def __init__(self, w) -> None:
        self.w = w
        self.attempted = self.failed = 0

    def check(self, out: dict | None) -> None:
        if out is None:
            self.attempted += 1
            self.failed += 1
            return
        n, bad = self.w.check(out)
        self.attempted += n
        self.failed += bad


def loop(seconds: float, start: int, step, tally: Tally, cpu) -> list:
    """Run ``step(i)`` back to back until ``seconds`` have passed (at least
    once); return each call's (wall seconds, CPU seconds, extra)."""
    samples = []
    t_end = time.perf_counter() + seconds
    i = start
    while not samples or time.perf_counter() < t_end:
        t, c = time.perf_counter(), cpu()
        try:
            out, extra = step(i)
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted
            print(f"# unit {i} failed: {exc!r}", file=sys.stderr)
            out, extra = None, {}
        samples.append((time.perf_counter() - t, cpu() - c, extra))
        tally.check(out)
        i += 1
    return samples


def measure(w, args, tally: Tally, cpu) -> dict:
    """Set up, warm up, and run the timed loop (and its traced twin);
    ``cpu()`` reads the CPU seconds used so far."""
    setup = {"prepare": [], "engine": []}
    layers: dict = {}
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        w.prepare()
        setup["prepare"].append(time.perf_counter() - t)
    w.build_oracle()
    tracer = probe = None
    if args.trace:
        tracer, probe = Tracer(), EngineProbe(w.spark)
    for r in range(SETUP_REPS):
        last = args.trace and r == SETUP_REPS - 1
        t = time.perf_counter()
        w.setup_engine((tracer, probe, layers) if last else None)
        setup["engine"].append(time.perf_counter() - t)
    t = time.perf_counter()
    for i in range(w.warm_units):
        out = w.unit(-1 - i)
        tally.check(out)
    warm = time.perf_counter() - t

    def untraced(i: int):
        out = w.unit(i)
        return out, out.get("times", {})

    timed = loop(args.seconds, 0, untraced, tally, cpu)
    res = {"setup": setup, "warm_s": warm,
           "samples": [s for s, _, _ in timed],
           "cpu": [c for _, c, _ in timed],
           "op_times": [x for _, _, x in timed if x]}
    if args.trace:
        traced = loop(args.seconds, len(timed), lambda i: w.traced_unit(
            i, tracer, probe), tally, cpu)
        res["traced"] = [s for s, _, _ in traced]
        res["layers"] = {**layers,
                         **median_layers([x for _, _, x in traced if x])}
        res["tracer"] = tracer
    return res


def end_to_end(name: str, res: dict, session_s: float) -> dict:
    s, cpu = res["samples"], res["cpu"]
    out = {
        "setup_s": (session_s + statistics.median(res["setup"]["prepare"])
                    + statistics.median(res["setup"]["engine"])
                    + res["warm_s"]),
    }
    if name == "model_lookup":
        out["lookup_ms_p50"] = statistics.median(s) * 1000
        out["lookup_ms_p90"] = statistics.quantiles(s, n=10)[-1] * 1000
        out["lookups_per_s"] = len(s) / sum(s)
        out["lookup_cpu_ms_p50"] = statistics.median(cpu) * 1000
    else:
        out["pipeline_cpu_s"] = statistics.median(cpu)
    return out


def per_layer(res: dict, session_s: float, rss_mb: float) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in res["layers"].items() if k in PER_LAYER})
    out["session.start_s"] = session_s
    out["rss_peak_mb"] = rss_mb
    out["pipeline_s"] = statistics.median(res["samples"])
    out.update(median_layers(res["op_times"]))  # allpairs_s, topk_s, predict_s
    out["trace.overhead_ms"] = (statistics.median(res["traced"])
                                - statistics.median(res["samples"])) * 1000
    return out


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse(argv)
    base = Path.cwd() / ".perfbench"
    work = base / f"run-{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    asked = host.configure(work)
    tempfile.tempdir = str(work / "tmp")

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    w = WORKLOADS[args.workload](spark, work, args.seed)
    tally = Tally(w)
    try:
        config = {"asked": asked, **host.effective(spark)}
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        res = measure(w, args, tally, lambda: host.cpu_s(jvm_pid))
        rss = host.rss_peak_mb(jvm_pid)
        w.finish()
    finally:
        stop(spark)
    print("# config " + json.dumps(config, sort_keys=True))
    print("# input " + json.dumps(w.shape, sort_keys=True))
    print("# timing " + json.dumps({
        "setup": res["setup"], "warm_s": res["warm_s"],
        "samples": res["samples"], "cpu": res["cpu"],
        "traced": res.get("traced")}))
    print("# ops " + json.dumps(median_layers(res["op_times"]), sort_keys=True))
    if args.trace:
        metrics = per_layer(res, session_s, rss)
        units = PER_LAYER
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{args.workload}-{args.seed}.jsonl"
        res["tracer"].write(path)
        print(f"# spans {path.relative_to(Path.cwd())}")
    else:
        metrics = end_to_end(args.workload, res, session_s)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
