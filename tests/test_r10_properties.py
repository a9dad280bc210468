"""Round-10 operator property tests: label propagation over the
candidate graph, group-star edges / domain-aware leakage-safe splits,
and waterfall attribution conservation. Cross-engine value equality is
pinned by the quality_propagate / split_leakage_domain / dedup_waterfall
oracle twins; these tests pin the SEMANTIC invariants the twins can't
state (clamping, no-straddle, conservation)."""

from pyspark.sql import functions as F

from casf_spark.operators import dedup as DD


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc0 long, doc1 long")


def test_label_propagation_clamps_seeds_and_averages(spark):
    # path graph 1-2-3 with seeds at the ends: 1 -> 1.0, 3 -> 0.0
    pairs = _pairs(spark, [(2, 1), (3, 2)])
    seeds = spark.createDataFrame([(1, 1_000_000), (3, 0)],
                                  "doc_id long, label_u long")
    out = {r.doc_id: r for r in
           DD.label_propagation(pairs, seeds, n_iter=3).collect()}
    assert out[1].is_seed and out[3].is_seed and not out[2].is_seed
    # seeds never move
    assert out[1].score == 1.0
    assert out[3].score == 0.0
    # the middle node is the mean of its two clamped neighbors from
    # iteration 1 onward: floor((1e6 + 0)/2 + 0.5)/1e6 = 0.5
    assert out[2].score == 0.5
    assert out[2].degree == 2


def test_label_propagation_no_seeds_stays_neutral(spark):
    pairs = _pairs(spark, [(2, 1)])
    seeds = spark.createDataFrame([], "doc_id long, label_u long")
    out = DD.label_propagation(pairs, seeds, n_iter=2).collect()
    # neutral prior propagates to itself: everyone stays at 0.5
    assert {r.score for r in out} == {0.5}
    assert not any(r.is_seed for r in out)


def test_label_propagation_seed_outside_graph_ignored(spark):
    pairs = _pairs(spark, [(2, 1)])
    seeds = spark.createDataFrame([(99, 1_000_000)],
                                  "doc_id long, label_u long")
    out = DD.label_propagation(pairs, seeds, n_iter=2).collect()
    assert {r.doc_id for r in out} == {1, 2}
    assert {r.score for r in out} == {0.5}


def test_group_star_edges_linear_not_clique(spark):
    df = spark.createDataFrame(
        [(1, "a.com"), (2, "a.com"), (3, "a.com"),
         (4, "b.com"),                      # singleton group: no edges
         (5, None), (6, None)],             # NULL key connects nothing
        "doc_id long, dom string")
    got = sorted((r.doc0, r.doc1) for r in
                 DD.group_star_edges(df, "doc_id", "dom").collect())
    # star to the min member only — m-1 edges, not m(m-1)/2
    assert got == [(2, 1), (3, 1)]


def test_split_leakage_domain_no_straddle(spark, sf_dir):
    """The ordered contract: no registered domain — and no near-dup
    cluster — appears in two splits."""
    import __spark_entry__ as E

    out = E.q_split_leakage_domain(spark, sf_dir)
    dom_straddle = (out.groupBy("reg_domain")
                    .agg(F.countDistinct("split").alias("n"))
                    .where(F.col("n") > 1).count())
    assert dom_straddle == 0
    cl_straddle = (out.groupBy("cluster_id")
                   .agg(F.countDistinct("split").alias("n"))
                   .where(F.col("n") > 1).count())
    assert cl_straddle == 0
    # total coverage: one row per document
    n_docs = E.load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs


def test_dedup_waterfall_conservation(spark, sf_dir):
    """removed + kept == corpus, and first_stage is consistent with the
    flags (first flagged stage in ladder order; 'kept' iff none)."""
    import __spark_entry__ as E

    rows = E.q_dedup_waterfall(spark, sf_dir).collect()
    n_docs = E.load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    order = ["exact", "url", "line", "minhash"]
    n_removed = 0
    for r in rows:
        flags = [s for s in order if getattr(r, s)]
        expect = flags[0] if flags else "kept"
        assert r.first_stage == expect, (r.doc_id, r.first_stage, flags)
        assert r.kept == (not flags)
        n_removed += bool(flags)
    assert n_removed + sum(r.kept for r in rows) == n_docs
    # the plant guarantees the url stage catches every non-min group
    # member that exact didn't already claim -> some rows per stage
    assert any(r.first_stage == "url" for r in rows)
    assert any(r.kept for r in rows)


def test_first_stage_attribution_order(spark):
    df = spark.createDataFrame(
        [(1, True, True), (2, False, True), (3, False, False),
         (4, None, True)],
        "doc_id long, a boolean, b boolean")
    got = {r.doc_id: r.first_stage for r in
           DD.first_stage_attribution(df, ["a", "b"]).collect()}
    assert got == {1: "a", 2: "b", 3: "kept", 4: "b"}


def test_label_propagation_duplicate_seed_rows_deduped(spark):
    """A duplicate doc_id in seeds must not multiply that node's row in
    the node set (which would double-count its score into every
    neighbor's SUM and duplicate output rows); conflicting labels
    resolve deterministically to MIN (round-10 ADVICE)."""
    pairs = _pairs(spark, [(2, 1), (3, 2)])
    dup = spark.createDataFrame(
        [(1, 1_000_000), (1, 1_000_000), (3, 0), (3, 200_000)],
        "doc_id long, label_u long")
    uniq = spark.createDataFrame([(1, 1_000_000), (3, 0)],
                                 "doc_id long, label_u long")
    got = sorted(DD.label_propagation(pairs, dup, n_iter=3).collect())
    want = sorted(DD.label_propagation(pairs, uniq, n_iter=3).collect())
    assert got == want
    assert len(got) == 3  # one row per graph node, no duplicates


def test_label_propagation_tol0_matches_fixed(spark):
    """tol_u=0 can never beat a strict integer bound, so the
    convergence-stopped loop runs all n_iter iterations and must equal
    the fixed-iteration loop exactly (n_iters = n_iter)."""
    pairs = _pairs(spark, [(2, 1), (3, 2), (4, 3), (5, 4)])
    seeds = spark.createDataFrame([(1, 1_000_000)],
                                  "doc_id long, label_u long")
    conv = sorted(DD.label_propagation(
        pairs, seeds, n_iter=4, tol_u=0).collect())
    fixed = sorted(DD.label_propagation(pairs, seeds, n_iter=4).collect())
    assert conv == fixed
    assert {r.n_iters for r in conv} == {4}


def test_label_propagation_tol_stops_early(spark):
    """Path 1-2-3 with both ends clamped: iteration 1 leaves the middle
    node at exactly the neutral prior (mean of 1.0 and 0.0), so the max
    movement is 0 and any positive tolerance stops after one
    iteration."""
    pairs = _pairs(spark, [(2, 1), (3, 2)])
    seeds = spark.createDataFrame([(1, 1_000_000), (3, 0)],
                                  "doc_id long, label_u long")
    out = DD.label_propagation(
        pairs, seeds, n_iter=8, tol_u=1).collect()
    assert {r.n_iters for r in out} == {1}
    got = {r.doc_id: r.score for r in out}
    assert got == {1: 1.0, 2: 0.5, 3: 0.0}


def test_label_propagation_rejects_bad_args(spark):
    """n_iter=0 would silently return the priors; a negative tolerance
    could never be met."""
    import pytest
    pairs = _pairs(spark, [(2, 1)])
    seeds = spark.createDataFrame([], "doc_id long, label_u long")
    with pytest.raises(ValueError, match="n_iter >= 1"):
        DD.label_propagation(pairs, seeds, tol_u=-1)
    with pytest.raises(ValueError, match="n_iter >= 1"):
        DD.label_propagation(pairs, seeds, n_iter=0)


def test_label_propagation_rejects_bad_weights(spark):
    """A fractional weight dtype is refused from the schema (a cast to
    BIGINT would truncate a 0.75 Jaccard to 0 and leave every non-seed
    at the prior); a negative integer weight fails the edge
    materialization."""
    import pytest
    seeds = spark.createDataFrame([(1, 1_000_000)],
                                  "doc_id long, label_u long")
    frac = spark.createDataFrame([(2, 1, 0.75)],
                                 "doc0 long, doc1 long, w double")
    with pytest.raises(ValueError, match="'w' is double"):
        DD.label_propagation(frac, seeds, weight_col="w")
    neg = spark.createDataFrame([(2, 1, 1), (3, 2, -2)],
                                "doc0 long, doc1 long, w int")
    with pytest.raises(Exception, match="negative weight in 'w': -2"):
        DD.label_propagation(neg, seeds, weight_col="w").collect()


def test_label_propagation_uniform_weights_equal_unweighted(spark):
    """All-equal weights make the weighted mean the plain mean, so a
    weighted run must reproduce the unweighted one exactly."""
    pairs = _pairs(spark, [(2, 1), (3, 2), (4, 2), (4, 3)])
    wpairs = pairs.withColumn("w", F.lit(7))
    seeds = spark.createDataFrame([(1, 1_000_000), (4, 0)],
                                  "doc_id long, label_u long")
    want = sorted(DD.label_propagation(pairs, seeds, n_iter=3).collect())
    got = sorted(DD.label_propagation(wpairs, seeds, n_iter=3,
                                      weight_col="w").collect())
    assert got == want


def test_label_propagation_weights_hand_computed(spark):
    """Star around node 2 with clamped leaves 1 (score 1.0, w=3) and
    3 (score 0.0, w=1): node 2 = floor((3*1e6 + 1*0)/4 + .5) = 750000
    -> 0.75 — the weighted pull toward the heavier edge."""
    wpairs = spark.createDataFrame([(2, 1, 3), (3, 2, 1)],
                                   "doc0 long, doc1 long, w long")
    seeds = spark.createDataFrame([(1, 1_000_000), (3, 0)],
                                  "doc_id long, label_u long")
    out = {r.doc_id: r for r in
           DD.label_propagation(wpairs, seeds, n_iter=3,
                                weight_col="w").collect()}
    assert out[2].score == 0.75
    assert out[1].score == 1.0 and out[3].score == 0.0
    assert out[2].degree == 2


def test_label_propagation_zero_weight_stays_neutral(spark):
    """A node whose only incident weights are zero keeps the neutral
    prior instead of dividing by zero."""
    wpairs = spark.createDataFrame([(2, 1, 0)],
                                   "doc0 long, doc1 long, w long")
    seeds = spark.createDataFrame([(1, 1_000_000)],
                                  "doc_id long, label_u long")
    out = {r.doc_id: r.score for r in
           DD.label_propagation(wpairs, seeds, n_iter=2,
                                weight_col="w").collect()}
    assert out == {1: 1.0, 2: 0.5}


def test_minhash_pair_weights_bounds(spark, sf_dir):
    """Every candidate pair's weight is an integer in
    [num_hashes/bands, num_hashes]: candidacy requires one full band
    to agree; agreement can never exceed the signature length. Pair
    set == minhash_lsh_pairs exactly."""
    import __spark_entry__ as E

    docs = E.load_table(spark, sf_dir, "documents")
    w = DD.minhash_pair_weights(docs, "doc_id", "text",
                                n=2, num_hashes=12, bands=4)
    rows = w.collect()
    assert rows, "plant has near-dup candidates"
    assert all(3 <= r.w <= 12 for r in rows)
    base = {(r.doc0, r.doc1) for r in
            DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4).collect()}
    assert {(r.doc0, r.doc1) for r in rows} == base
