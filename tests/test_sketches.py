"""frequent_items: exact two-pass heavy hitters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators.sketches import frequent_items


def test_heavy_hitters_exact_vs_naive(spark):
    """Candidate pruning must not lose any true heavy hitter (pigeonhole
    superset guarantee) and the recount is exact — differential against
    the full groupBy."""
    rows = (["hot"] * 300 + ["warm"] * 120 + ["cool"] * 50
            + [f"tail{i}" for i in range(530)])
    df = spark.createDataFrame([(x,) for x in rows], "item string") \
        .repartition(8)
    theta = 0.1  # N=1000 -> threshold 100: hot(300), warm(120) qualify
    got = {r.item: r.cnt for r in
           frequent_items(df, "item", theta).collect()}
    naive = {r.item: r.n for r in
             df.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n") >= 100).collect()}
    assert got == naive == {"hot": 300, "warm": 120}


def test_heavy_hitters_empty_and_bad_theta(spark):
    df = spark.createDataFrame([], "item string")
    assert frequent_items(df, "item", 0.5).count() == 0
    with pytest.raises(ValueError, match="theta"):
        frequent_items(df, "item", 0.0)


def test_heavy_hitters_threshold_boundary(spark):
    """An item at EXACTLY theta*N qualifies (>= semantics, matching the
    oracle's HAVING >= CEIL)."""
    rows = ["x"] * 10 + [f"t{i}" for i in range(90)]
    df = spark.createDataFrame([(x,) for x in rows], "item string")
    got = {r.item for r in frequent_items(df, "item", 0.1).collect()}
    assert got == {"x"}


def test_grouped_heavy_hitters_matches_naive(spark):
    """Per-group pruning + recount against the per-group full groupBy."""
    from casf_spark.operators.sketches import grouped_frequent_items

    rows = ([("en", "hot")] * 60 + [("en", f"t{i}") for i in range(40)]
            + [("de", "der")] * 30 + [("de", "hot")] * 5
            + [("de", f"d{i}") for i in range(65)])
    df = spark.createDataFrame(rows, "g string, item string").repartition(6)
    got = {(r.g, r.item): r.cnt for r in
           grouped_frequent_items(df, "g", "item", 0.2).collect()}
    # en: N=100 -> >=20: hot(60). de: N=100 -> >=20: der(30); hot only 5.
    assert got == {("en", "hot"): 60, ("de", "der"): 30}


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _bloom_fixture(spark, n_members=200, n_novel=60, m_bits=1 << 12, k=4):
    from casf_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(n_members)], "key string")
    filt = bloom_build(members, "key", m_bits=m_bits, k=k)
    probe = spark.createDataFrame(
        [(f"member-{i}",) for i in range(n_members)]
        + [(f"novel-{i}",) for i in range(n_novel)], "key string")
    out = bloom_probe(probe, "key", filt, m_bits=m_bits, k=k)
    return {r.key: r.maybe_seen for r in out.collect()}


def test_bloom_no_false_negatives(spark):
    """Every inserted key probes true — the Bloom guarantee that makes
    a 'false' a definitive absence."""
    seen = _bloom_fixture(spark)
    assert all(seen[f"member-{i}"] for i in range(200))


def test_bloom_novel_keys_mostly_absent(spark):
    """Novel keys mostly probe false; the fp rate at this sizing
    (kn/m ~ 0.2) is a few percent, bounded well below half."""
    seen = _bloom_fixture(spark)
    fps = sum(seen[f"novel-{i}"] for i in range(60))
    assert fps <= 10


def test_bloom_python_reference(spark):
    """The distributed bitmap equals a single-threaded Python rebuild
    using the same md5 + universal-hash arithmetic (the same formula the
    DuckDB oracle twin runs)."""
    import hashlib

    from casf_spark.functions.hashing import MIX_PRIME, _lcg_params
    from casf_spark.operators.sketches import BLOOM_WORD_BITS, bloom_build

    m_bits, k = 1 << 10, 3
    keys = [f"doc {i}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in keys], "key string") \
        .repartition(7)
    got = {r.word_idx: r.bits for r in
           bloom_build(df, "key", m_bits=m_bits, k=k).collect()}

    want: dict[int, int] = {}
    params = _lcg_params(k, seed=7)
    for s in keys:
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        for a, b in params:
            pos = ((a * (h % MIX_PRIME) + b) % MIX_PRIME) % m_bits
            w, bit = pos // BLOOM_WORD_BITS, pos % BLOOM_WORD_BITS
            want[w] = want.get(w, 0) | (1 << bit)
    assert got == want


def test_bloom_arg_validation_and_collision(spark):
    from casf_spark.operators.sketches import (MAX_BLOOM_BITS, bloom_build,
                                               bloom_probe)

    df = spark.createDataFrame([("x",)], "key string")
    with pytest.raises(ValueError, match="m_bits"):
        bloom_build(df, "key", m_bits=MAX_BLOOM_BITS * 2, k=4)
    with pytest.raises(ValueError, match="k"):
        bloom_build(df, "key", m_bits=64, k=0)
    filt = bloom_build(df, "key", m_bits=64, k=2)
    bad = df.withColumn("__bloom_w0", F.lit(1))
    with pytest.raises(ValueError, match="__bloom_"):
        bloom_probe(bad, "key", filt, m_bits=64, k=2)


def test_bloom_probe_plan_no_shuffle(spark):
    """The probe is broadcast joins only: no Exchange on the probe path
    (the map-only property the 100-TB story rests on)."""
    from casf_spark.operators.sketches import bloom_build, bloom_probe

    df = spark.createDataFrame([(f"k{i}",) for i in range(100)],
                               "key string")
    filt = bloom_build(df, "key", m_bits=1 << 10, k=3).localCheckpoint()
    plan = bloom_probe(df, "key", filt, m_bits=1 << 10, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    assert not re.search(r"Exchange hashpartitioning", plan), plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

def _cms_corpus(spark):
    rows = (["alpha"] * 400 + ["beta"] * 150 + ["gamma"] * 40
            + [f"tail{i % 97}" for i in range(410)])
    return spark.createDataFrame([(x,) for x in rows], "item string") \
        .repartition(8)


def test_cms_estimate_one_sided(spark):
    """CM estimates are >= the true count for EVERY queried item, and
    exact for items whose cells happen to be collision-free."""
    from casf_spark.operators.sketches import cms_build, cms_estimate

    df = _cms_corpus(spark)
    cms = cms_build(df, "item", width=32, depth=3)
    exact = df.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact, "item", cms, width=32, depth=3)
    rows = est.collect()
    assert len(rows) == exact.count()
    assert all(r.cms_est >= r.exact_cnt for r in rows)
    # with width 32 and ~100 distinct items, collisions are certain
    assert any(r.cms_est > r.exact_cnt for r in rows)


def test_cms_novel_item_and_merge(spark):
    """A never-inserted item still gets a (collision-driven, >= 0)
    estimate with missing cells read as 0; and the sketch is MERGEABLE:
    building over a union equals cell-wise summing the parts' sketches."""
    from casf_spark.operators.sketches import cms_build, cms_estimate

    df = _cms_corpus(spark)
    half0 = df.where(F.crc32("item") % 2 == 0)
    half1 = df.where(F.crc32("item") % 2 == 1)
    whole = {(r.row_idx, r.col_idx): r.cnt for r in
             cms_build(df, "item", width=32, depth=3).collect()}
    merged: dict[tuple[int, int], int] = {}
    for part in (half0, half1):
        for r in cms_build(part, "item", width=32, depth=3).collect():
            key = (r.row_idx, r.col_idx)
            merged[key] = merged.get(key, 0) + r.cnt
    assert whole == merged

    cms = cms_build(df, "item", width=32, depth=3)
    q = spark.createDataFrame([("never-seen-item",)], "item string")
    [row] = cms_estimate(q, "item", cms, width=32, depth=3).collect()
    assert row.cms_est >= 0


def test_cms_arg_validation(spark):
    from casf_spark.operators.sketches import (MAX_CMS_CELLS, cms_build,
                                               cms_estimate)

    df = spark.createDataFrame([("x",)], "item string")
    with pytest.raises(ValueError, match="width"):
        cms_build(df, "item", width=0, depth=4)
    with pytest.raises(ValueError, match="width"):
        cms_build(df, "item", width=MAX_CMS_CELLS, depth=2)
    cms = cms_build(df, "item", width=16, depth=2)
    bad = df.withColumn("__cms_qid", F.lit(1))
    with pytest.raises(ValueError, match="__cms_"):
        cms_estimate(bad, "item", cms, width=16, depth=2)


def test_bloom_and_cms_null_keys_are_inert(spark):
    """NULL keys/items contribute nothing to either sketch (no junk
    NULL-word rows), and a NULL key probes definitively false."""
    from casf_spark.operators.sketches import (bloom_build, bloom_probe,
                                               cms_build)

    df = spark.createDataFrame([("a",), (None,), ("b",)], "key string")
    filt = bloom_build(df, "key", m_bits=1 << 10, k=3)
    assert filt.where(F.col("word_idx").isNull()).count() == 0
    out = {r.key: r.maybe_seen
           for r in bloom_probe(df, "key", filt, m_bits=1 << 10,
                                k=3).collect()}
    assert out["a"] and out["b"] and not out[None]

    items = spark.createDataFrame([("x",), (None,), ("x",)],
                                  "item string")
    cms = cms_build(items, "item", width=16, depth=2)
    rows = cms.collect()
    assert all(r.col_idx is not None for r in rows)
    assert sum(r.cnt for r in rows) == 2 * 2  # 2 occurrences x depth


def test_hist_sketch_build_merge_estimate(spark):
    """Mergeability is EXACT (integer counters): sharded builds merged
    cell-wise equal the whole-corpus build; nearest-rank estimates off
    the binned CDF land within one bin width of the true quantile."""
    from casf_spark.operators.sketches import (
        hist_sketch_build, hist_sketch_merge, hist_sketch_quantiles)

    vals = spark.createDataFrame([(float(i),) for i in range(100)],
                                 "v double")
    whole = hist_sketch_build(vals, "v", 0.0, 100.0, 10)
    parts = hist_sketch_build(vals.where("v < 37"), "v", 0.0, 100.0, 10) \
        .unionByName(hist_sketch_build(vals.where("v >= 37"), "v",
                                       0.0, 100.0, 10))
    merged = hist_sketch_merge(parts)
    assert {(r.bin, r.cnt) for r in merged.collect()} == \
        {(r.bin, r.cnt) for r in whole.collect()}
    est = {r.q: (r.target_rank, r.est) for r in
           hist_sketch_quantiles(merged, [0.5, 0.9, 0.99],
                                 0.0, 100.0, 10).collect()}
    assert est == {0.5: (50, 50.0), 0.9: (90, 90.0), 0.99: (99, 100.0)}


def test_hist_sketch_clamps_and_validates(spark):
    """Out-of-range values clamp into the edge bins (no silent drops);
    NULLs are skipped; bad domains and bin counts raise loudly."""
    import pytest
    from casf_spark.operators.sketches import (
        HIST_MAX_BINS, hist_sketch_build, hist_sketch_quantiles)

    vals = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (25.0,), (None,)], "v double")
    got = {r.bin: r.cnt for r in
           hist_sketch_build(vals, "v", 0.0, 10.0, 10).collect()}
    assert got == {0: 2, 9: 2}  # -5 clamps to bin 0, 25 to bin 9
    with pytest.raises(ValueError, match="hi > lo"):
        hist_sketch_build(vals, "v", 1.0, 1.0, 10)
    with pytest.raises(ValueError, match="n_bins"):
        hist_sketch_build(vals, "v", 0.0, 1.0, HIST_MAX_BINS + 1)
    with pytest.raises(ValueError, match="n_bins"):
        hist_sketch_quantiles(
            hist_sketch_build(vals, "v", 0.0, 10.0, 10),
            [0.5], 0.0, 10.0, 0)
    # an out-of-range q would silently VANISH from the output (q > 1
    # matches no bin, q <= 0 matches the first) — both reads raise
    sk = hist_sketch_build(vals, "v", 0.0, 10.0, 10)
    with pytest.raises(ValueError, match="every q"):
        hist_sketch_quantiles(sk, [0.5, 1.5], 0.0, 10.0, 10)
    with pytest.raises(ValueError, match="every q"):
        hist_sketch_quantiles(sk, [0.0], 0.0, 10.0, 10)
    with pytest.raises(ValueError, match="non-empty"):
        hist_sketch_quantiles(sk, [], 0.0, 10.0, 10)
