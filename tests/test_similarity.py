from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    data = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.02, 0.0]),
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(data, "vec_id long, embedding array<float>")


def test_brute_force_topk_nearest_first(spark, emb):
    q = emb.where("vec_id = 0")
    res = SIM.brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in res] == [1, 4]
    assert res[0].cos_sim > 0.99
    assert all(r.query_id == 0 for r in res)


def test_brute_force_topk_excludes_self(spark, emb):
    res = SIM.brute_force_topk(emb, emb, k=4).collect()
    assert all(r.query_id != r.neighbor_id for r in res)


def test_lsh_buckets_identical_vectors(spark):
    data = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(3)] + \
           [(10, [-1.0, -2.0, -3.0, -4.0])]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    cand = {(r.id0, r.id1): r.cos_sim
            for r in SIM.lsh_candidates(df, num_planes=4).collect()}
    assert cand[(1, 0)] == 1.0 and cand[(2, 0)] == 1.0 and cand[(2, 1)] == 1.0
    # the negated vector lands in the opposite bucket for every plane
    assert not any(10 in p for p in cand)


def test_lsh_topk_rank_contract(spark, emb):
    res = SIM.lsh_topk(emb, k=3, num_planes=2).collect()
    for r in res:
        assert 1 <= r.rank <= 3


def test_lsh_multiprobe_supersets_single_table(spark, emb):
    from casf_spark.operators.similarity import (lsh_candidates,
                                                 lsh_candidates_multiprobe)

    single = {(r.id0, r.id1) for r in lsh_candidates(emb, seed=42).collect()}
    multi = {(r.id0, r.id1) for r in
             lsh_candidates_multiprobe(emb, seeds=(42, 43, 44)).collect()}
    assert single <= multi  # each extra table only adds candidates
    # dedup across tables: pair keys are unique
    rows = lsh_candidates_multiprobe(emb, seeds=(42, 43)).collect()
    assert len(rows) == len({(r.id0, r.id1) for r in rows})


def test_multiprobe_lsh_recall_floor(spark, sf_dir):
    """Pin the recall dial: 3-table multi-probe LSH must recover a
    meaningful fraction of the exact top-10 graph at sf0.01 (the SCALE.md
    recall table's property, as a regression floor rather than a point
    estimate)."""
    from collections import defaultdict

    from casf_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    truth = defaultdict(set)
    for r in SIM.brute_force_topk(emb, emb, k=10).collect():
        truth[r.query_id].add(r.neighbor_id)
    cand = SIM.lsh_candidates_multiprobe(
        emb, num_planes=3, seeds=(42, 43, 44)).collect()
    got = defaultdict(set)
    for r in cand:
        got[r.id0].add(r.id1)
        got[r.id1].add(r.id0)
    n_truth = sum(len(v) for v in truth.values())
    n_hit = sum(len(truth[q] & got[q]) for q in truth)
    recall = n_hit / n_truth
    # near-random synthetic embeddings are the hard case for LSH; at
    # sf0.01 the 3-plane 3-table union measures recall 0.496 while
    # scoring ~33% of all pairs. Floor both properties: meaningful
    # recall AND sub-quadratic work.
    n = emb.count()
    assert recall >= 0.4, f"recall@10 collapsed: {recall:.3f}"
    assert len(cand) <= 0.4 * n * (n - 1) / 2, "candidate set ~all pairs"


def test_gemm_near_dup_guard_refuses_large_collect(spark, sf_dir, monkeypatch):
    """The driver-collect GEMM path must refuse a corpus above its bound
    with a clear error instead of silently collecting (the distributed
    blocked_gemm_pairs is the scale path)."""
    import pytest

    from casf_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    monkeypatch.setattr(S, "MAX_GEMM_COLLECT_ROWS", 10)
    with pytest.raises(ValueError, match="blocked_gemm_pairs"):
        S.gemm_near_dup_pairs(emb, threshold=0.9)


def test_quantize_embeddings_int8_roundtrip(spark):
    import numpy as np
    from casf_spark.operators.similarity import quantize_embeddings_int8
    rows = [(1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),        # all-zero: scale 0
            (3, [-2.0, 2.0, 1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    for vid, vec in rows:
        x = np.array(vec, dtype=np.float64)
        r = out[vid]
        assert r.dims == 4
        if not x.any():
            assert r.scale == 0.0 and r.max_abs_err == 0.0 and r.mse == 0.0
            continue
        s = np.abs(x).max() / 127.0
        codes = np.floor(x / s + 0.5)
        assert abs(codes).max() <= 127  # int8-representable
        err = np.abs(x - codes * s)
        assert r.scale == round(s, 6)
        assert r.max_abs_err == round(err.max(), 6)
        assert r.mse == round(float((err ** 2).mean()), 6)
        # quantization error bounded by half a step
        assert r.max_abs_err <= s / 2 + 1e-12


def test_winsorize_clips_to_per_dimension_bands(spark):
    """Winsorization clips each dimension independently at its exact
    percentile band; inliers pass through unchanged, outliers land
    exactly ON the band edge, and the flag marks only true outliers."""
    from casf_spark.operators.similarity import winsorize_embeddings

    # dim 0: one huge outlier among uniform values; dim 1: all equal
    rows = [(i, [1.0 if i < 9 else 1000.0, 5.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.vec_id, r.dim): (r.clipped, r.was_clipped)
           for r in winsorize_embeddings(df, lo=0.1, hi=0.9).collect()}
    # dim 1 is constant: bounds collapse to 5.0, nothing clips
    for i in range(10):
        assert out[(i, 1)] == (5.0, False)
    # dim 0: p90 of [1.0 x9, 1000.0] = 1.0 + 0.9*... interpolated between
    # sorted[8]=1.0 and sorted[9]=1000.0 at g=0.1 -> 100.9
    assert out[(9, 0)] == (100.9, True)      # outlier clipped to the edge
    assert out[(0, 0)][1] is False           # inliers untouched
    assert out[(0, 0)][0] == 1.0


def test_kcenter_hand_computed(spark):
    """Greedy k-center on 2-D points whose farthest-point order is
    computable by hand: seed = min id, each pick is the point with max
    min-cosine-distance to the selected set, radius sequence
    non-increasing, ties toward the smaller vec_id."""
    from casf_spark.operators.similarity import kcenter_select

    # angles 0°, 0°, 90°, 180° (unit circle): seed is id 0;
    # farthest from 0 is 180° (id 3, dist 2.0); then 90° (id 2, dist 1.0);
    # then id 1 (dist 0.0 — duplicate of the seed)
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]),
            (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r.sel_rank, r.vec_id, r.sel_dist)
           for r in kcenter_select(df, k=4).orderBy("sel_rank").collect()]
    assert got == [(1, 0, 0.0), (2, 3, 2.0), (3, 2, 1.0), (4, 1, 0.0)], got


def test_kcenter_tie_breaks_low_id_and_radius_monotone(spark):
    from casf_spark.operators.similarity import kcenter_select

    # ids 5 and 7 are both exactly opposite the seed (id 1): the tie
    # must resolve to vec_id 5
    rows = [(1, [1.0, 0.0]), (5, [-1.0, 0.0]), (7, [-1.0, 0.0]),
            (9, [0.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [(r.sel_rank, r.vec_id, r.sel_dist)
           for r in kcenter_select(df, k=4).orderBy("sel_rank").collect()]
    assert got[0] == (1, 1, 0.0)
    assert got[1] == (2, 5, 2.0)
    # radius sequence non-increasing from rank 2 on
    dists = [d for _, _, d in got[1:]]
    assert dists == sorted(dists, reverse=True)
    # zero vector must not crash or win spuriously (dist to anything
    # via unchanged-zero normalization: 1 - 0 = 1.0)
    rows2 = rows + [(2, [0.0, 0.0])]
    df2 = spark.createDataFrame(rows2,
                                "vec_id long, embedding array<double>")
    got2 = {r.vec_id: r.sel_rank for r in kcenter_select(df2, k=5).collect()}
    assert set(got2) == {1, 2, 5, 7, 9}


def test_kcenter_batched_equals_sequential(spark, sf_dir):
    """The batched large-k path must reproduce the sequential greedy
    EXACTLY — rank for rank, id for id, distance for distance — even
    with a tiny buffer that forces many multi-pass exclusion decisions
    (the tau-cut correctness argument under stress)."""
    from casf_spark.operators.similarity import (kcenter_select,
                                                 kcenter_select_batched)
    import __spark_entry__ as E

    emb = E.load_table(spark, sf_dir, "embeddings")
    want = [(r.sel_rank, r.vec_id, r.sel_dist)
            for r in kcenter_select(emb, k=12).orderBy("sel_rank").collect()]
    for buf in (3, 12):
        got = [(r.sel_rank, r.vec_id, r.sel_dist)
               for r in kcenter_select_batched(emb, k=12, buffer=buf)
               .orderBy("sel_rank").collect()]
        assert got == want, (buf, got, want)
    # streamed-buffer stress: 1-row chunks force the lazy pull on every
    # exclusion decision — must still be bit-identical
    got = [(r.sel_rank, r.vec_id, r.sel_dist)
           for r in kcenter_select_batched(emb, k=12, buffer=12, chunk=1)
           .orderBy("sel_rank").collect()]
    assert got == want, ("chunk=1", got, want)


def test_kcenter_batched_duplicates_and_small_pool(spark):
    """Duplicate points (distance collapses to 0.0) and k > pool size:
    the batched path selects every point exactly once, ties to the
    smaller id, and stops when the pool is exhausted."""
    from casf_spark.operators.similarity import (kcenter_select,
                                                 kcenter_select_batched)

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]),
            (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = [(r.sel_rank, r.vec_id, r.sel_dist)
            for r in kcenter_select(df, k=4).orderBy("sel_rank").collect()]
    got = [(r.sel_rank, r.vec_id, r.sel_dist)
           for r in kcenter_select_batched(df, k=4, buffer=2)
           .orderBy("sel_rank").collect()]
    assert got == want
    # k beyond the pool: stops at 4 rows, all ids once
    over = kcenter_select_batched(df, k=9, buffer=2).collect()
    assert sorted(r.vec_id for r in over) == [0, 1, 2, 3]
    assert sorted(r.sel_rank for r in over) == [1, 2, 3, 4]
    # an EMPTY corpus refuses loudly instead of a bare IndexError
    import pytest
    empty = df.where("vec_id < 0")
    with pytest.raises(ValueError, match="corpus is empty"):
        kcenter_select_batched(empty, k=2, buffer=2)


def _fl_python_greedy(vecs, k, n_candidates):
    """Independent plain-Python facility-location greedy over the
    operator's exact arithmetic: sequential double sums for the norm and
    the dot product (Spark's aggregate is a left fold), half-up 6dp
    rounding of the shortest repr (Spark's round), the md5-smallest
    candidate pool, and smaller-id ties. ``vecs`` maps id -> vector."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from functools import reduce

    def fold(terms):  # not sum(): it compensates float error since 3.12
        return reduce(lambda acc, t: acc + t, terms, 0.0)

    def unit(v):
        n = math.sqrt(fold(x * x for x in v))
        return [x / n for x in v] if n > 0 else list(v)

    def dot(a, b):
        return fold(x * y for x, y in zip(a, b))

    ids = sorted(vecs)
    nv = {i: unit([float(x) for x in vecs[i]]) for i in ids}
    pool = sorted(ids, key=lambda i: (
        int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i)
    )[:n_candidates]
    su = {}
    for x in ids:
        for c in pool:
            r6 = float(Decimal(repr(dot(nv[x], nv[c]))).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP))
            su[(x, c)] = max(0, int(math.floor(r6 * 1e6 + 0.5)))
    cov = {x: 0 for x in ids}
    sel, tot, expect = [], 0, []
    for r in range(k):
        best = None
        for c in sorted(set(pool) - set(sel)):
            g = sum(max(cov[x], su[(x, c)]) - cov[x] for x in ids)
            if best is None or g > best[1]:
                best = (c, g)
        sel.append(best[0])
        tot += best[1]
        expect.append((r + 1, best[0], best[1] / 1e6, tot / 1e6))
        for x in ids:
            cov[x] = max(cov[x], su[(x, best[0])])
    return expect


def test_facility_location_matches_python_greedy(spark):
    """The distributed greedy matches an independent Python fold over
    the identical micro-unit similarities (same md5 candidate pool,
    same smaller-id ties), and the gain sequence is non-increasing —
    the submodularity signature classic greedy guarantees."""
    from casf_spark.operators.similarity import facility_location_select

    vecs = {i: [float((i * 7 + j * 3) % 5 - 2) for j in range(4)]
            for i in range(20)}
    emb = spark.createDataFrame(list(vecs.items()),
                                "vec_id long, embedding array<double>")
    got = [tuple(r) for r in
           facility_location_select(emb, k=3, n_candidates=5).collect()]
    assert got == _fl_python_greedy(vecs, k=3, n_candidates=5)
    gains = [r[2] for r in got]
    assert gains == sorted(gains, reverse=True)  # submodularity


def test_facility_location_validates(spark):
    import pytest
    from casf_spark.operators.similarity import facility_location_select

    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="k <= n_candidates"):
        facility_location_select(emb, k=5, n_candidates=3)
    # a corpus SMALLER than k passes the k <= n_candidates check but
    # would exhaust the pool mid-greedy — it must refuse loudly up front
    three = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(3)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="only 3 candidate"):
        facility_location_select(three, k=4, n_candidates=8)


def test_facility_location_null_candidate_vector_contributes_zero(spark):
    """A NULL embedding in the candidate pool has similarity 0 to every
    row: it is picked last with zero gain instead of crashing the pool
    fold."""
    from casf_spark.operators.similarity import facility_location_select

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    got = [tuple(r) for r in facility_location_select(
        emb, k=4, n_candidates=4).collect()]
    assert [r[1] for r in got] == [3, 0, 1, 2]
    assert got[0][2] == 2.414214 and got[3][2] == 0.0


def test_facility_location_duplicate_candidate_id_raises(spark):
    import pytest
    from casf_spark.operators.similarity import facility_location_select

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="duplicate candidate id 1"):
        facility_location_select(emb, k=2, n_candidates=3)


def test_facility_location_matches_python_greedy_on_embeddings(
        spark, sf_dir):
    """The same independent Python greedy on the real 64-dim embeddings,
    at the query's config (k=4, C=8) and at a larger pool (k=5, C=24):
    selection sequence, per-round gains and cumulative coverage all
    match exactly; k > C still raises."""
    import pyarrow.parquet as pq
    import pytest

    from casf_spark.operators.similarity import facility_location_select

    path = f"{sf_dir}/embeddings.parquet"
    tbl = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    vecs = dict(zip(tbl["vec_id"], tbl["embedding"]))
    emb = spark.read.parquet(path)
    for k, c in ((4, 8), (5, 24)):
        got = [tuple(r) for r in facility_location_select(
            emb, k=k, n_candidates=c).collect()]
        assert got == _fl_python_greedy(vecs, k, c) and len(got) == k
    with pytest.raises(ValueError, match="k <= n_candidates"):
        facility_location_select(emb, k=9, n_candidates=8)


def test_facility_location_caps_plan_literals(spark):
    """Every candidate vector is inlined into the plan, so a pool of
    more than MAX_FL_PLAN_LITERALS components is refused with both
    numbers named, before any plan over the corpus is built."""
    import pytest

    from casf_spark.operators.similarity import (
        MAX_FL_PLAN_LITERALS, facility_location_select)

    dim = MAX_FL_PLAN_LITERALS // 16 + 1
    emb = spark.createDataFrame(
        [(i, [float(i + 1)] * dim) for i in range(16)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError,
                       match=f"16 candidates x dim {dim} "):
        facility_location_select(emb, k=2, n_candidates=16)


def test_similarity_empty_and_undersized_inputs_are_loud(spark):
    """Empty corpora used to crash with bare TypeError (first()[0]),
    numpy shape mismatches (empty query matmul), or empty-codebook
    argmin errors deep inside executors — all are now loud ValueErrors
    or clean empty results."""
    import pytest
    from casf_spark.operators.similarity import (brute_force_topk,
                                                 ivf_pq_topk,
                                                 lsh_candidates)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        lsh_candidates(empty)
    few = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    # empty QUERY set: a clean empty top-k, matching the expr path
    assert brute_force_topk(few, empty, k=3).count() == 0
    with pytest.raises(ValueError, match="corpus has only 5"):
        ivf_pq_topk(few, few, n_centroids=8, ksub=16, m=2)
