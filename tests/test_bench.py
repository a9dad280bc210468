"""``bench.py``'s per-query timing path, on one small query."""

from __future__ import annotations

import bench
from perfbench.engine import EngineProbe

#: what the suite records for every query (besides its samples)
RECORD = ("spark.jobs", "spark.stages", "spark.tasks",
          "spark.shuffle_write_mb", "spark.shuffle_records", "spark.spill_mb",
          "jvm.jit_ms", "jvm.gc_ms", "codegen.compile_ms", "rss_peak_mb",
          "probe_s")


def test_time_query_records_what_the_query_did(spark, sf_dir):
    fn = bench.entrymod.queries()["corpus_card"]
    samples, rec = bench.time_query(spark, EngineProbe(spark), "corpus_card",
                                    fn, sf_dir, runs=2)
    assert len(samples) == 2 and all(s > 0 for s in samples)
    assert set(RECORD) <= set(rec), sorted(set(RECORD) - set(rec))
    assert rec["spark.jobs"] >= 1
    assert rec["spark.stages"] >= 1 and rec["spark.tasks"] >= 1
    assert rec["rss_peak_mb"] > 0 and rec["probe_s"] >= 0
    # the timed plan is the query's own: it still returns its rows
    assert fn(spark, sf_dir).count() > 0
