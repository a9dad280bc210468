"""Cosine engine unit tests on hand-computed matrices.

The 3x5 matrix is the reference README's own example
(/root/reference/README.md:5-11):
    y1 = (1,2,3,4,5); y2 = (4,2,3,4,3); y3 = (2,3,5,8,6)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from casf_spark import CosineAnalyser

README_ROWS = {
    "y1": [1, 2, 3, 4, 5],
    "y2": [4, 2, 3, 4, 3],
    "y3": [2, 3, 5, 8, 6],
}


def _matrix_df(spark, rows=README_ROWS, drop=()):
    data = [
        (y, f"x{i}", float(v))
        for y, vec in rows.items()
        for i, v in enumerate(vec)
        if (y, f"x{i}") not in drop
    ]
    return spark.createDataFrame(data, "y string, x string, value double")


def _expected_dense(rows, normalize_max=True):
    """Textbook cosine over max-normalized vectors."""
    out = {}
    keys = list(rows)
    for i, a in enumerate(keys):
        for b in keys[:i]:
            v0, v1 = rows[a], rows[b]
            if normalize_max:
                m0, m1 = max(v0), max(v1)
                v0 = [x / m0 for x in v0]
                v1 = [x / m1 for x in v1]
            num = sum(x * y for x, y in zip(v0, v1))
            d0 = math.sqrt(sum(x * x for x in v0))
            d1 = math.sqrt(sum(x * x for x in v1))
            pair = (a, b) if a > b else (b, a)
            out[pair] = num / (d0 * d1)
    return out


def _collect_sims(model):
    return {(r.vector0, r.vector1): r.similarity_value
            for r in model.all_similarity().collect()}


def test_dense_matches_hand_computed(spark):
    model = CosineAnalyser(axis="y").fit(_matrix_df(spark), is_sparse=False)
    got = _collect_sims(model)
    want = _expected_dense(README_ROWS)
    assert set(got) == set(want)
    for pair, v in want.items():
        assert got[pair] == pytest.approx(v, abs=1e-12), pair


def test_dense_equals_sparse_when_no_missing(spark):
    """With no missing elements every pair shares all coordinates, so
    sparse-pair norms equal whole-vector norms."""
    df = _matrix_df(spark)
    dense = _collect_sims(CosineAnalyser().fit(df, is_sparse=False))
    sparse = _collect_sims(CosineAnalyser().fit(df, is_sparse=True))
    assert dense.keys() == sparse.keys()
    for k in dense:
        assert dense[k] == pytest.approx(sparse[k], abs=1e-12)


def test_sparse_norms_use_shared_coords_only(spark):
    """Drop y1's x4: the (y2,y1) sparse mod for y1 must cover only x0..x3
    (reference semantics, MatrixCosineAnalyse.scala:60-78)."""
    drop = {("y1", "x4")}
    df = _matrix_df(spark, drop=drop)
    got = _collect_sims(CosineAnalyser().fit(df, is_sparse=True))
    # hand-compute for pair (y2, y1) over shared coords x0..x3
    v1 = [1, 2, 3, 4]          # y1 without x4
    v2 = [4, 2, 3, 4]          # y2 restricted to shared coords
    m1 = 4.0                   # max over y1's own remaining elements
    m2 = 4.0
    n1 = [x / m1 for x in v1]
    n2 = [x / m2 for x in v2]
    want = (sum(a * b for a, b in zip(n1, n2))
            / (math.sqrt(sum(a * a for a in n1)) * math.sqrt(sum(b * b for b in n2))))
    assert got[("y2", "y1")] == pytest.approx(want, abs=1e-12)


def test_dense_missing_treated_as_zero(spark):
    drop = {("y1", "x4")}
    df = _matrix_df(spark, drop=drop)
    got = _collect_sims(CosineAnalyser().fit(df, is_sparse=False))
    rows = {k: list(v) for k, v in README_ROWS.items()}
    rows["y1"] = [1, 2, 3, 4, 0]  # dropped -> zero, max now 4
    want = _expected_dense(rows)
    assert got[("y2", "y1")] == pytest.approx(want[("y2", "y1")], abs=1e-12)


def test_canonical_ordering_and_no_self_pairs(spark):
    sims = CosineAnalyser().fit(_matrix_df(spark), is_sparse=False).all_similarity()
    rows = sims.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.vector0 > r.vector1


def test_similarity_bounds_nonnegative_input(spark):
    for r in (CosineAnalyser().fit(_matrix_df(spark), is_sparse=False)
              .all_similarity().collect()):
        assert -1e-12 <= r.similarity_value <= 1 + 1e-12


def test_axis_x_equals_transposed_axis_y(spark):
    df = _matrix_df(spark)
    ax = _collect_sims(CosineAnalyser(axis="x").fit(df, is_sparse=True))
    transposed = df.select(F.col("x").alias("y"), F.col("y").alias("x"), "value")
    ay = _collect_sims(CosineAnalyser(axis="y").fit(transposed, is_sparse=True))
    assert ax.keys() == ay.keys()
    for k in ax:
        assert ax[k] == pytest.approx(ay[k], abs=1e-12)


def test_subset_similarity(spark):
    model = CosineAnalyser().fit(_matrix_df(spark), is_sparse=False)
    got = {(r.vector0, r.vector1) for r in model.similarity(["y1", "y3"]).collect()}
    assert got == {("y3", "y1")}


def test_omit_ratio_exact_boundary(spark):
    """The omit filter must actually apply (the reference's is dead code,
    MatrixCosineAnalyse.scala:92-94) with strict '>' semantics."""
    df = _matrix_df(spark)
    model = CosineAnalyser(omit_ratio=0.5).fit(df, is_sparse=True)
    kept = {(r.vector, r.coord) for r in model.normalized.collect()}
    # y1 max=5: 1/5=0.2 drop, 2/5=0.4 drop, 3/5=0.6 keep, 4/5 keep, 5/5 keep
    assert ("y1", "x0") not in kept
    assert ("y1", "x1") not in kept
    assert ("y1", "x2") in kept
    # strict '>' (reference doc MCA:85): a cell exactly at the ratio drops
    model2 = CosineAnalyser(omit_ratio=0.2).fit(df, is_sparse=True)
    kept2 = {(r.vector, r.coord) for r in model2.normalized.collect()}
    assert ("y1", "x0") not in kept2  # 1/5 == 0.2, not > 0.2


def test_norm_none(spark):
    df = _matrix_df(spark)
    got = _collect_sims(CosineAnalyser(normalization="none").fit(df, is_sparse=False))
    want = _expected_dense(README_ROWS, normalize_max=False)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_dense_zero_fill_pair(spark):
    """Two vectors with disjoint coordinates get similarity 0.0 in dense
    mode (right-join + coalesce semantics, MatrixModel.scala:63-69)."""
    data = [("a", "x1", 1.0), ("a", "x2", 2.0), ("b", "x3", 3.0)]
    df = spark.createDataFrame(data, "y string, x string, value double")
    got = _collect_sims(CosineAnalyser().fit(df, is_sparse=False))
    assert got[("b", "a")] == 0.0
    # sparse mode: pair never materializes at all
    sparse = _collect_sims(CosineAnalyser().fit(df, is_sparse=True))
    assert ("b", "a") not in sparse


def test_top_k_and_predict(spark):
    df = _matrix_df(spark)
    model = CosineAnalyser().fit(df, is_sparse=False)
    tk = model.top_k(1).collect()
    assert len(tk) == 3 and all(r.rank == 1 for r in tk)
    # predict: drop (y1,x4) then ask for imputation; the only missing cell
    # per vector is filled from neighbors that have x4
    df2 = _matrix_df(spark, drop={("y1", "x4")})
    model2 = CosineAnalyser().fit(df2, is_sparse=False)
    preds = {(r.vector, r.coord): r.predicted_value
             for r in model2.predict_missing(k=2).collect()}
    assert ("y1", "x4") in preds
    assert 0.0 < preds[("y1", "x4")] <= 1.0
    # predict_missing reuses the similarity table top_k persisted for the
    # same round_to; unpersist releases it
    model2.top_k(1).collect()
    assert list(model2._sims) == [None]
    assert model2._sims[None].is_cached
    model2.unpersist()
    assert not model2._sims


def test_similarity_for_pairs_semi_join(spark):
    """Restricting to a candidate pair set returns exactly the full-run
    values for those pairs and nothing else, in both norm modes. The
    missing cell makes the dense whole-vector norms differ from the
    sparse shared-coordinate ones."""
    df = _matrix_df(spark, drop={("y1", "x4")})
    cand = spark.createDataFrame([("y2", "y1"), ("y3", "y1")],
                                 "vector0 string, vector1 string")
    for is_sparse in (True, False):
        model = CosineAnalyser().fit(df, is_sparse=is_sparse)
        full = _collect_sims(model)
        got = {(r.vector0, r.vector1): r.similarity_value
               for r in model.similarity_for_pairs(cand).collect()}
        assert set(got) == {("y2", "y1"), ("y3", "y1")}, is_sparse
        for k, v in got.items():
            assert v == pytest.approx(full[k], abs=1e-12), (is_sparse, k)


def test_threshold_similarity_equals_filtered_dense(spark):
    """Prefix-filtered threshold search returns exactly the dense all-pairs
    result filtered by the threshold (exactness of the prune)."""
    df = _matrix_df(spark)
    model = CosineAnalyser().fit(df, is_sparse=False)
    for t in (0.1, 0.5, 0.9, 0.97, 0.999):
        full = {k: v for k, v in _collect_sims(model).items() if v >= t}
        got = {(r.vector0, r.vector1): r.similarity_value
               for r in model.threshold_similarity(t).collect()}
        assert got.keys() == full.keys(), t
        for k in full:
            assert got[k] == pytest.approx(full[k], abs=1e-12)


def test_threshold_similarity_guards(spark):
    df = _matrix_df(spark)
    with pytest.raises(ValueError):
        CosineAnalyser().fit(df, is_sparse=True).threshold_similarity(0.5)
    with pytest.raises(ValueError):
        CosineAnalyser().fit(df, is_sparse=False).threshold_similarity(0.0)


def test_duplicate_cells_are_summed(spark):
    data = [("a", "x1", 1.0), ("a", "x1", 2.0), ("b", "x1", 3.0)]
    df = spark.createDataFrame(data, "y string, x string, value double")
    model = CosineAnalyser().fit(df, is_sparse=True)
    elems = {(r.vector, r.coord): r.normalized_value
             for r in model.normalized.collect()}
    assert elems[("a", "x1")] == 1.0  # (1+2)/max(3)=1
