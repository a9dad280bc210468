from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators import sampling as SP
from casf_spark.operators.dedup import line_dedup_keep


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame([(i, f"k{i}") for i in range(2000)],
                                 "id long, key string")


def test_assign_splits_partition_and_weights(keyed):
    out = SP.assign_splits(keyed, "key",
                           [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > 1400
    # growing the corpus never reassigns an existing key
    sub = SP.assign_splits(keyed.where(F.col("id") < 100), "key",
                           [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    full = {r.key: r.split for r in out.collect()}
    assert all(full[r.key] == r.split for r in sub.collect())


def test_assign_splits_validates_weights(keyed):
    with pytest.raises(ValueError):
        SP.assign_splits(keyed, "key", [("a", 0.5), ("b", 0.6)])


def test_line_dedup_first_occurrence_wins(spark):
    """Each distinct line keeps only its first (doc, pos) occurrence,
    across documents and within one; a document whose every line
    occurred earlier keeps no line at all."""
    lines = spark.createDataFrame(
        [(1, 0, "alpha"), (1, 1, "shared line"), (1, 2, "beta"),
         (2, 0, "shared line"), (2, 1, "gamma"), (2, 2, "shared line"),
         (3, 0, "delta"), (4, 0, "alpha")],
        "doc long, pos int, line string")
    got = sorted(map(tuple, line_dedup_keep(lines).collect()))
    assert got == [(1, 0, "alpha"), (1, 1, "shared line"), (1, 2, "beta"),
                   (2, 1, "gamma"), (3, 0, "delta")]


def test_sample_per_group_deterministic_prefix(spark):
    import hashlib

    from casf_spark.operators.sampling import sample_per_group
    rows = [(i, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    got = {(r["grp"], r["key_val"], r["rank"])
           for r in sample_per_group(df, F.col("doc_id"), "grp",
                                     k=4).collect()}
    # python reference: per group, order by (md5 frac, key string), take 4
    by_g: dict[str, list] = {}
    for i, g in rows:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        by_g.setdefault(g, []).append(((h >> 30) / float(1 << 30), str(i)))
    want = set()
    for g, items in by_g.items():
        for rk, (_, kv) in enumerate(sorted(items)[:4], 1):
            want.add((g, kv, rk))
    assert got == want


def test_leakage_safe_split_no_cluster_straddles(spark, sf_dir):
    """Every dedup cluster lands wholly inside ONE split — the invariant
    that makes the split leakage-safe."""
    from casf_spark.queries.dedup import q_split_leakage_safe
    out = q_split_leakage_safe(spark, sf_dir)
    per_cluster = (out.groupBy("cluster_id")
                   .agg(F.count_distinct("split").alias("k")).collect())
    assert per_cluster and all(r.k == 1 for r in per_cluster)


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dsir_corpus(spark):
    """Two vocabularies: target docs speak 'alpha beta gamma', raw docs
    speak 'delta epsilon zeta'; a few raw docs mix in target vocabulary
    and should outrank their pure-raw peers."""
    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma alpha beta gamma alpha", True))
    for i in range(20, 80):
        rows.append((i, "delta epsilon zeta delta epsilon zeta eta", False))
    for i in range(80, 90):  # raw docs with target-like content
        rows.append((i, "alpha beta gamma delta alpha beta gamma", False))
    return spark.createDataFrame(
        rows, "doc_id long, text string, tgt boolean")


def test_dsir_separates_target_like_raw_docs(dsir_corpus):
    out = SP.dsir_logweights(dsir_corpus, "doc_id", "text",
                             F.col("tgt"), n_buckets=64).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 90
    pure_raw = [by_id[i].log_weight for i in range(20, 80)]
    target_like = [by_id[i].log_weight for i in range(80, 90)]
    assert min(target_like) > max(pure_raw)
    # target docs themselves score highest of all
    tgt = [by_id[i].log_weight for i in range(20)]
    assert min(tgt) >= min(target_like)


def test_dsir_deterministic_and_feature_counts(dsir_corpus):
    a = sorted(SP.dsir_logweights(dsir_corpus, "doc_id", "text",
                                  F.col("tgt"), n_buckets=64).collect())
    b = sorted(SP.dsir_logweights(dsir_corpus, "doc_id", "text",
                                  F.col("tgt"), n_buckets=64).collect())
    assert a == b  # rerun-stable incl. gumbel_key (hash-derived, no RNG)
    for r in a:
        # unigrams + bigrams of a 7-token doc = 7 + 6
        assert r.n_features == 13
        assert r.gumbel_key is not None


def test_dsir_empty_docs_omitted(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta", True), (2, "", False), (3, "gamma", False)],
        "doc_id long, text string, tgt boolean")
    out = SP.dsir_logweights(df, "doc_id", "text", F.col("tgt"),
                             n_buckets=16).collect()
    assert {r.doc_id for r in out} == {1, 3}


# ---------------------------------------------------------------------------
# weighted_sample_wor (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

def test_weighted_sample_python_reference(spark):
    """Selected set, order, and ranks equal a single-threaded rebuild
    with the same md5 arithmetic and math.log."""
    import hashlib
    import math

    from casf_spark.operators.sampling import weighted_sample_wor

    rows = [(i, float(1 + (i * 7) % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, wt double").repartition(8)
    got = [(r.key_val, r.rank) for r in
           weighted_sample_wor(df, F.col("id"), "wt", k=25)
           .orderBy("rank").collect()]

    def prio(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = ((h >> 30) + 0.5) / float(1 << 30)
        return math.log(u) / w

    ref = sorted(((prio(i, w), str(i)) for i, w in rows),
                 key=lambda t: (-t[0], t[1]))[:25]
    assert got == [(key, rank) for rank, (_, key) in enumerate(ref, 1)]


def test_weighted_sample_weight_tilt(spark):
    """Heavily weighted keys dominate the sample (the E-S point):
    500 keys at weight 100 vs 500 at weight 1 -> the top-100 is
    overwhelmingly from the heavy half."""
    from casf_spark.operators.sampling import weighted_sample_wor

    rows = [(i, 100.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, wt double")
    heavy = sum(1 for r in weighted_sample_wor(df, F.col("id"), "wt",
                                               k=100).collect()
                if int(r.key_val) < 500)
    assert heavy >= 90


def test_weighted_sample_excludes_nonpositive_and_validates(spark):
    import pytest

    from casf_spark.operators.sampling import weighted_sample_wor

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)],
        "id long, wt double")
    rows = weighted_sample_wor(df, F.col("id"), "wt", k=10).collect()
    assert [r.key_val for r in rows] == ["1"]
    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample_wor(df, F.col("id"), "wt", k=0)


def test_null_keys_raise_not_silently_misroute(spark):
    """A NULL key used to be silently routed to the LAST split by
    assign_splits (the 1% test split absorbing 100% of null-id docs —
    eval contamination); it now raises per-row. n_buckets < 1 in
    dsir_logweights used to be modulo-by-zero / a silently empty
    result; it raises up front."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame([(1, "a"), (2, None)],
                               "id long, key string")
    with pytest.raises(Exception, match="NULL split key"):
        SP.assign_splits(df, "key").collect()
    # non-NULL rows are unaffected
    ok = df.where("key IS NOT NULL")
    assert SP.assign_splits(ok, "key").count() == 1
    with pytest.raises(ValueError, match="n_buckets"):
        SP.dsir_logweights(df, "id", "key", F.lit(True), n_buckets=0)
