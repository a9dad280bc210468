from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators import skew as SK


@pytest.fixture(scope="module")
def skewed(spark):
    # key "hot" carries 90% of rows; values repeat heavily
    rows = [("hot", i % 37) for i in range(1800)]
    rows += [(f"k{i % 20}", i % 11) for i in range(200)]
    return spark.createDataFrame(rows, "k string, v long")


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(20)],
        "k string, label string")
    plain = skewed.join(dim, "k").groupBy("k", "label") \
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    salted = SK.salted_join(skewed, dim, ["k"], n_salt=8) \
        .groupBy("k", "label") \
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_join_left_keeps_unmatched(spark, skewed):
    dim = spark.createDataFrame([("hot", "H")], "k string, label string")
    out = SK.salted_join(skewed, dim, ["k"], n_salt=4, how="left")
    assert out.count() == skewed.count()
    assert out.where(F.col("label").isNull()).count() == 200


def test_salted_count_distinct_exact(spark, skewed):
    truth = {r.k: r.n for r in
             skewed.groupBy("k")
             .agg(F.count_distinct("v").alias("n")).collect()}
    got = {r.k: r.n_distinct for r in
           SK.salted_count_distinct(skewed, ["k"], "v", n_salt=8).collect()}
    assert got == truth
    assert got["hot"] == 37


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ sketch estimate stays within its configured rsd of the exact
    count (5% rsd -> assert 3 sigma = 15%; the query emits the bound
    check as its within_bound contract column)."""
    from casf_spark.queries.events import q_events_approx_distinct
    rows = q_events_approx_distinct(spark, sf_dir).collect()
    assert rows, "no event types"
    for r in rows:
        assert r["exact_users"] > 0 and r["within_bound"], r


def test_sketch_rollup_merge_matches_exact(spark, sf_dir):
    """Daily HLL sketches UNION-merged per type estimate the same distinct
    users as a direct exact count (within the sketch's error bound) —
    the mergeability contract that makes pre-aggregated sketch tables
    safe to roll up."""
    from casf_spark.queries.events import q_events_sketch_rollup
    from casf_spark.sources import load_table
    got = {r.event_type: r for r in
           q_events_sketch_rollup(spark, sf_dir).collect()}
    exact = {r.event_type: r.n for r in
             load_table(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    assert set(got) == set(exact)
    for t, n in exact.items():
        assert got[t].exact_users == n and got[t].within_bound, (t, got[t], n)


def _hot_matrix(spark, nv=400, hot_every=2):
    """Adversarial matrix: one coordinate ('hot') appears in 1/hot_every
    of all vectors at LOW relative value (0.05 of the vector max); 50
    moderate coords shared by nv/50 vectors each; one unique max-setting
    coord per vector."""
    rows = []
    for v in range(nv):
        rows.append((f"v{v:04d}", f"c{v % 50}", 6.0))
        rows.append((f"v{v:04d}", f"u{v}", 10.0))
        if v % hot_every == 0:
            rows.append((f"v{v:04d}", "hot", 0.5))
    return spark.createDataFrame(rows, "y string, x string, value double")


def test_hot_coordinate_pair_join_bounded_by_omit(spark):
    """The documented hot-coordinate hazard (matrix/analyse._factor_pairs:
    a coord present in 50% of vectors makes the pair self-join quadratic
    in its document frequency), exercised: the hot coord alone
    contributes C(200,2)=19900 of 21300 pairs; omit_ratio=0.1 removes
    the low-relative-value hot cells at the SOURCE, bounding the join to
    the 1400 pairs the moderate coords produce — a 15x cut measured as
    exact row counts, not a heuristic."""
    from casf_spark import CosineAnalyser

    df = _hot_matrix(spark)
    base = CosineAnalyser(axis="y").fit(df, persist=False)
    filt = CosineAnalyser(axis="y", omit_ratio=0.1).fit(df, persist=False)
    c_pairs = 50 * (8 * 7 // 2)       # 50 coords x C(8,2)
    hot_pairs = 200 * 199 // 2        # C(200,2)
    assert base.factor_pairs.count() == hot_pairs + c_pairs
    assert filt.factor_pairs.count() == c_pairs


def test_aqe_skew_split_on_hot_coordinate_join(spark):
    """With omit_ratio unavailable (hot cells carry REAL signal), the
    mitigation is AQE skew-join splitting. Pin that it actually engages
    on the pair self-join shape: thresholds lowered to test scale, the
    hot coordinate's partition splits (skew=true in the final adaptive
    plan) and the join result is exactly the expected pair count."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        conf.set("spark.sql.adaptive.skewJoin."
                 "skewedPartitionThresholdInBytes", "2KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = _hot_matrix(spark, nv=4000)
        left = df.select(F.col("x").alias("coord"),
                         F.col("y").alias("vector0"))
        right = df.select(F.col("x").alias("coord"),
                          F.col("y").alias("vector1"))
        pairs = (left.join(right, "coord")
                 .where(F.col("vector0") > F.col("vector1")))
        hot = 2000 * 1999 // 2
        mod = 50 * (80 * 79 // 2)
        # count through the SAME DataFrame whose plan we inspect —
        # .count() builds a fresh QueryExecution and the first one would
        # never finalize (isFinalPlan=false, no skew markers)
        agg = pairs.groupBy().count()
        assert agg.collect()[0][0] == hot + mod
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            conf.set(k, v)
