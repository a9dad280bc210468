from __future__ import annotations

import pytest

from casf_spark.operators.profile import profile


def test_profile_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "a")],
        "id long, s string")
    got = {r.col_name: r for r in profile(df).collect()}
    assert set(got) == {"id", "s"}
    assert got["id"].n_rows == 4 and got["id"].n_null == 0
    assert got["id"].n_distinct == 3
    assert got["id"].min_value == "1" and got["id"].max_value == "3"
    assert got["s"].n_null == 1
    assert got["s"].n_distinct == 2  # count_distinct ignores nulls
    assert got["s"].min_value == "a" and got["s"].max_value == "b"


def test_profile_column_subset(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "id long, s string, v double")
    assert [r.col_name for r in profile(df, ["s"]).collect()] == ["s"]


def test_materialize_with_metrics_single_job(spark, tmp_path):
    """Observed aggregates computed during the write match a separate
    aggregation — without a second scan of the input."""
    from pyspark.sql import functions as F

    from casf_spark.operators.profile import materialize_with_metrics

    df = spark.range(0, 1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
        .alias("v"))
    got = materialize_with_metrics(
        df, {"n_rows": F.count(F.lit(1)),
             "n_null_v": F.sum(F.col("v").isNull().cast("long")),
             "max_id": F.max("id")},
        path=str(tmp_path / "out"))
    assert got == {"n_rows": 1000, "n_null_v": 100, "max_id": 999}
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 1000


def test_materialize_with_metrics_empty_metrics_raises(spark):
    import pytest

    from casf_spark.operators.profile import materialize_with_metrics

    with pytest.raises(ValueError, match="no metrics declared"):
        materialize_with_metrics(spark.range(3), {})


def test_materialize_with_metrics_fmt_applies_to_path(spark, tmp_path):
    """fmt is honored when a path is given (json here, not the parquet
    default) and ignored for the noop materialization."""
    from pyspark.sql import functions as F

    from casf_spark.operators.profile import materialize_with_metrics

    out = str(tmp_path / "m_json")
    got = materialize_with_metrics(
        spark.range(5), {"n": F.count(F.lit(1))}, path=out, fmt="json")
    assert got["n"] == 5
    assert spark.read.json(out).count() == 5


def test_cluster_term_profile_planted_topics(spark):
    """Two well-separated embedding clusters whose documents use disjoint
    vocabularies: each cluster's label terms come only from its own
    topic, stopwords never label, rank follows (cnt desc, term asc), and
    n_docs counts the cluster's joined documents."""
    from casf_spark.operators.profile import cluster_term_profile

    # ids 27,1,2 near [1,0]; ids 6,11,12 near [0,1] — chosen so the two
    # smallest md5(id) keys (27 then 6) put ONE deterministic centroid in
    # each topic group
    emb = spark.createDataFrame(
        [(27, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.0, 0.1]),
         (6, [0.0, 1.0]), (11, [0.1, 0.9]), (12, [0.1, 1.0])],
        "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [(27, "the piano violin piano"), (1, "piano cello and cello"),
         (2, "violin piano"),
         (6, "tensor gradient the tensor"), (11, "gradient tensor"),
         (12, "matrix gradient gradient")],
        "doc_id long, text string")
    out = cluster_term_profile(docs, emb, n_clusters=2, top_k=2).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    assert len(by_cluster) == 2
    music = {"piano", "cello", "violin"}
    ml = {"tensor", "gradient", "matrix"}
    for cl, rows in by_cluster.items():
        terms = {r.term for r in rows}
        assert terms <= music or terms <= ml, terms
        assert all(r.n_docs == 3 for r in rows)
        ranked = sorted(rows, key=lambda r: r.rank)
        # rank 1 has cnt >= rank 2; equal cnt orders by term asc
        assert ranked[0].cnt >= ranked[1].cnt
        if ranked[0].cnt == ranked[1].cnt:
            assert ranked[0].term < ranked[1].term
    # the planted top term of the music cluster is 'piano' (4 hits);
    # of the ml cluster 'gradient'/'tensor' tie at 4 -> 'gradient' first
    tops = {min(rows, key=lambda r: r.rank).term
            for rows in by_cluster.values()}
    assert tops == {"piano", "gradient"}


# ---------------------------------------------------------------------------
# psi_report (distribution drift)
# ---------------------------------------------------------------------------

def test_psi_identical_is_zero_and_python_reference(spark):
    """Identical snapshots give PSI exactly 0 (p == q per bin -> every
    term is floor(0.5) = 0); a shifted snapshot matches a python
    replay and lands clearly above the 0.25 alarm band."""
    import math

    from casf_spark.operators.profile import psi_report

    ref_rows = [(i, float(100 + (i * 13) % 400)) for i in range(300)]
    df = spark.createDataFrame(ref_rows, "id long, v double")
    same = {r.bin: r for r in psi_report(df, df, "v", 100.0).collect()}
    assert all(r.psi_term_u == 0 and r.psi_u == 0 for r in same.values())

    shifted = spark.createDataFrame(
        [(i, v + 300.0) for i, v in ref_rows], "id long, v double")
    rows = psi_report(df, shifted, "v", 100.0).collect()

    rc: dict[int, int] = {}
    nc: dict[int, int] = {}
    for _, v in ref_rows:
        rc[int(v // 100)] = rc.get(int(v // 100), 0) + 1
        nc[int((v + 300) // 100)] = nc.get(int((v + 300) // 100), 0) + 1
    bins = sorted(set(rc) | set(nc))
    b, nr, nn = len(bins), sum(rc.values()), sum(nc.values())
    want = {}
    for bn in bins:
        p = (rc.get(bn, 0) + 1.0) / (nr + b)
        q = (nc.get(bn, 0) + 1.0) / (nn + b)
        want[bn] = math.floor((p - q) * math.log(p / q) * 1e9 + 0.5)
    got = {r.bin: r.psi_term_u for r in rows}
    assert got == want
    assert rows[0].psi_u == sum(want.values())
    assert rows[0].psi_u / 1e9 > 0.25  # a 3-bin shift is an alarm


def test_psi_null_values_and_validation(spark):
    import pytest

    from casf_spark.operators.profile import psi_report

    ref = spark.createDataFrame([(1, 10.0), (2, None), (3, 20.0)],
                                "id long, v double")
    new = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                "id long, v double")
    rows = psi_report(ref, new, "v", 10.0).collect()
    assert sum(r.ref_cnt for r in rows) == 2  # NULL excluded
    with pytest.raises(ValueError, match="bin_width"):
        psi_report(ref, new, "v", 0.0)


def test_clustering_agreement_hand_ari(spark):
    """ARI on a hand case: A = {1,2,3}{4,5,6}, B = {1,2}{3,4,5}{6}.
    Contingency 2/1/0, 0/2/1 -> sum C(nij,2)=2, sum C(ai,2)=6,
    sum C(bj,2)=4, C(6,2)=15 -> E=1.6, ARI=(2-1.6)/(5-1.6)=0.117647."""
    from casf_spark.operators.profile import clustering_agreement

    rows = [(1, "x", "p"), (2, "x", "p"), (3, "x", "q"),
            (4, "y", "q"), (5, "y", "q"), (6, "y", "r")]
    df = spark.createDataFrame(rows, "item long, a string, b string")
    r = clustering_agreement(df, "a", "b").collect()[0]
    assert (r.n, r.sum_comb_cells, r.sum_comb_a, r.sum_comb_b) == \
        (6, 2, 6, 4)
    assert r.ari == round((2 - 1.6) / (5 - 1.6), 6)


def test_clustering_agreement_identical_and_degenerate(spark):
    from casf_spark.operators.profile import clustering_agreement

    same = spark.createDataFrame(
        [(1, "x", "u"), (2, "x", "u"), (3, "y", "v")],
        "item long, a string, b string")
    assert clustering_agreement(same, "a", "b").collect()[0].ari == 1.0
    # all singletons on both sides: denominator 0 -> NULL
    single = spark.createDataFrame(
        [(1, "a1", "b1"), (2, "a2", "b2")],
        "item long, a string, b string")
    assert clustering_agreement(single, "a", "b").collect()[0].ari is None


def test_bootstrap_means_deterministic_and_sane(spark):
    """Replicates are deterministic for a fixed seed; n_eff fluctuates
    around n (Poisson(1) mass ~1 per row); every replicate mean stays
    within the value range; two seeds differ."""
    from casf_spark.operators.profile import bootstrap_means

    rows = [(i, float(10 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v double")
    a = {r.b: (r.n_eff, r.mean)
         for r in bootstrap_means(df, "k", "v", n_boot=8).collect()}
    b = {r.b: (r.n_eff, r.mean)
         for r in bootstrap_means(df, "k", "v", n_boot=8).collect()}
    assert a == b and len(a) == 8
    assert all(100 <= ne <= 320 for ne, _ in a.values())
    assert all(10.0 <= m <= 16.0 for _, m in a.values())
    c = {r.b: (r.n_eff, r.mean)
         for r in bootstrap_means(df, "k", "v", n_boot=8,
                                  seed=99).collect()}
    assert c != a
    # replicate means actually vary (the variance IS the signal)
    assert len({m for _, m in a.values()}) > 1


def test_poisson1_thresholds_are_exact_cdf_ints():
    import math

    from casf_spark.operators.profile import _poisson1_thresholds

    th = _poisson1_thresholds()
    assert th == sorted(th) and len(th) == 6
    # k=0 threshold ~ e^-1 * 2^60
    assert abs(th[0] / (1 << 60) - math.exp(-1)) < 1e-12
    assert th[-1] < (1 << 60)


def test_cluster_silhouette_separated_vs_mixed(spark):
    """Well-separated blobs score near 1; scattering the same points
    far from every centroid drives the mean silhouette down — the
    diagnostic actually discriminates."""
    from casf_spark.operators.profile import cluster_silhouette

    # 2 tight blobs far apart in 4-d; md5-min ids pick one centroid
    # from each blob with high probability at n=40... make it certain:
    # every vector IS near its blob center, so whichever two ids get
    # picked, a << b for all members of the picked blobs.
    rows = []
    for i in range(20):
        rows.append((i, [100.0, 0.0, 0.0, float(i % 3) * 0.01]))
    for i in range(20, 40):
        rows.append((i, [0.0, 100.0, 0.0, float(i % 3) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cluster_silhouette(df, "vec_id", "embedding", n_clusters=2) \
        .collect()
    # if both centroids land in one blob, the other blob's silhouette
    # would be ~0; the test corpus is constructed so total membership
    # is 40 either way
    assert sum(r.n_docs for r in got) == 40
    best = max(r.mean_sil for r in got)
    assert best > 0.9, got


@pytest.mark.parametrize("null_id", [1, 0])
def test_cluster_silhouette_refuses_null_vector(spark, null_id):
    """Rows 0..4 in md5 order 4, 1, 2, 0, 3; at k=2 the centroids are 4
    and 1. A NULL centroid (1) raises on the driver and any other NULL
    vector (0) when the distances run; left in, the NULL centroid took
    all 5 vectors into one cluster with mean_sil 0.0."""
    from casf_spark.operators.profile import cluster_silhouette

    df = spark.createDataFrame(
        [(i, None if i == null_id else [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL vector in 'embedding'"):
        cluster_silhouette(df, "vec_id", "embedding", n_clusters=2).collect()


def test_cluster_silhouette_degenerate_raises(spark):
    """Round-13 ADVICE: n_clusters=1 (no nearest-OTHER centroid) and a
    corpus smaller than 2 vectors both raise loudly instead of
    silently deflating mean_sil via NULL b."""
    import pytest
    from casf_spark.operators.profile import cluster_silhouette

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_clusters must be >= 2"):
        cluster_silhouette(df, "vec_id", "embedding", n_clusters=1)
    one = df.where("vec_id = 1")
    with pytest.raises(ValueError, match="centroid"):
        cluster_silhouette(one, "vec_id", "embedding", n_clusters=8)


def test_vocab_richness_hand(spark):
    """Good-Turing / Chao1 from four exact integers: group a has N=8,
    V=6, N1=5, N2=0 -> gt_unseen 0.625, bias-corrected chao1
    6 + 5*4/2 = 16; group b N=8, V=5, N1=3, N2=1 -> 0.375, 6.5."""
    from casf_spark.operators.profile import vocab_richness

    df = spark.createDataFrame(
        [(1, "a", "apple banana apple cherry dog"),
         (2, "a", "apple egg fig"),
         (3, "b", "zebra yak zebra xylo walrus walrus"),
         (4, "b", "apple zebra")],
        "doc_id long, source string, text string")
    got = {r.grp: r for r in
           vocab_richness(df, "source", "doc_id", "text").collect()}
    a, b = got["a"], got["b"]
    assert (a.n_tokens, a.v_distinct, a.n1, a.n2) == (8, 6, 5, 0)
    assert (a.gt_unseen, a.chao1) == (0.625, 16.0)
    assert (b.n_tokens, b.v_distinct, b.n1, b.n2) == (8, 5, 3, 1)
    assert (b.gt_unseen, b.chao1) == (0.375, 6.5)


def test_vocab_jsd_two_groups_symmetric_and_exact(spark):
    """With exactly two groups, JSD(a vs rest) == JSD(b vs rest) by
    symmetry; value matches an independent per-word Python fold
    (including the closed-form absent-word mass). Identical groups
    measure 0; a single group has an empty complement -> NULL."""
    import math
    from collections import Counter
    from casf_spark.operators.profile import vocab_jsd

    ta = "apple banana apple cherry dog apple egg fig"
    tb = "zebra yak zebra xylo walrus walrus apple zebra"
    df = spark.createDataFrame(
        [(1, "a", ta), (2, "b", tb)],
        "doc_id long, source string, text string")
    got = {r.grp: r.jsd for r in
           vocab_jsd(df, "source", "doc_id", "text").collect()}
    ga, gb = Counter(ta.split()), Counter(tb.split())
    ref = 0.0
    for w in set(ga) | set(gb):
        p, q = ga.get(w, 0) / 8, gb.get(w, 0) / 8
        m = (p + q) / 2
        ref += (0.5 * p * math.log(p / m) if p else 0.0) \
            + (0.5 * q * math.log(q / m) if q else 0.0)
    assert got["a"] == got["b"] == round(ref, 6)
    same = spark.createDataFrame(
        [(1, "a", ta), (2, "b", ta)],
        "doc_id long, source string, text string")
    got2 = {r.grp: r.jsd for r in
            vocab_jsd(same, "source", "doc_id", "text").collect()}
    assert got2 == {"a": 0.0, "b": 0.0}
    solo = spark.createDataFrame([(1, "a", ta)],
                                 "doc_id long, source string, text string")
    assert vocab_jsd(solo, "source", "doc_id", "text") \
        .collect()[0].jsd is None


def test_clustering_agreement_single_item_null_ari(spark):
    """One labeled item: C(1,2)=0 denominator — ari must be the
    documented NULL, not an ANSI DIVIDE_BY_ZERO crash."""
    from casf_spark.operators.profile import clustering_agreement

    one = spark.createDataFrame([(1, 10, 20)], "id long, a int, b int")
    row = clustering_agreement(one, "a", "b").collect()[0]
    assert row.n == 1 and row.ari is None


def test_bootstrap_means_excludes_null_values(spark):
    """NULL metric rows used to count their Poisson weight into n_eff
    while contributing nothing to the sum — deflating every replicate
    mean. They are excluded up front (the psi_report convention)."""
    from casf_spark.operators.profile import bootstrap_means

    df = spark.createDataFrame(
        [(i, 100.0 if i < 10 else None) for i in range(20)],
        "id long, v double")
    reps = bootstrap_means(df, "id", "v", n_boot=8).collect()
    for r in reps:
        if r.n_eff > 0:
            assert r.mean == 100.0  # never deflated by NULL rows
