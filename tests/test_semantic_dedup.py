"""SemDeDup-style semantic dedup: det variant vs a numpy reference,
KMeans variant determinism + keep-rule consistency, synthetic clones."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from casf_spark.operators import dedup as DD


def _md5l(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _numpy_semdedup(ids, X, n_clusters, threshold):
    """Literal transcription of the semantic_dedup_det contract."""
    order = sorted(range(len(ids)), key=lambda i: (_md5l(str(ids[i])), ids[i]))
    ck = order[:n_clusters]
    cids, C = ids[ck], X[ck]
    d = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(2), 6)
    assign = np.array([
        min(range(n_clusters), key=lambda j: (d[i, j], cids[j]))
        for i in range(len(ids))])

    def cos(a, b):
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6)

    cs = np.array([cos(X[i], C[assign[i]]) for i in range(len(ids))])
    out = {}
    for i in range(len(ids)):
        sims = [cos(X[i], X[j]) for j in range(len(ids))
                if j != i and assign[j] == assign[i]
                and (cs[j], ids[j]) < (cs[i], ids[i])
                and cos(X[i], X[j]) >= threshold]
        out[int(ids[i])] = (int(cids[assign[i]]), cs[i],
                            bool(sims), len(sims),
                            max(sims) if sims else 0.0)
    return out


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_det_matches_numpy_reference(emb):
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = _numpy_semdedup(ids, X, n_clusters=8, threshold=0.3)

    got = DD.semantic_dedup_det(emb, n_clusters=8, threshold=0.3).collect()
    assert len(got) == len(ids)
    for r in got:
        cluster, cent_sim, is_dup, ndn, mps = ref[r.vec_id]
        assert r.cluster == cluster
        assert r.cent_sim == pytest.approx(cent_sim, abs=1e-9)
        assert r.is_semantic_dup == is_dup
        assert r.n_dup_neighbors == ndn
        assert r.max_prior_sim == pytest.approx(mps, abs=1e-9)


def test_det_flags_some_dups(emb):
    out = DD.semantic_dedup_det(emb, n_clusters=8, threshold=0.3)
    n_dup = out.where("is_semantic_dup").count()
    assert 0 < n_dup < out.count()


def test_exact_clones_keep_exactly_one(spark):
    """Five identical vectors + three orthogonal-ish singles: the clones
    collapse to one kept representative regardless of clustering."""
    base = [1.0] + [0.0] * 7
    rows = [(i, base) for i in range(5)]
    rows += [(10, [0.0, 1.0] + [0.0] * 6),
             (11, [0.0, 0.0, 1.0] + [0.0] * 5),
             (12, [0.0] * 3 + [1.0] + [0.0] * 4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = DD.semantic_dedup_det(df, n_clusters=2, threshold=0.9).collect()
    clones = [r for r in out if r.vec_id < 5]
    kept = [r for r in clones if not r.is_semantic_dup]
    assert len(kept) == 1
    assert all(r.max_prior_sim == pytest.approx(1.0) for r in clones
               if r.is_semantic_dup)
    singles = [r for r in out if r.vec_id >= 10]
    assert all(not r.is_semantic_dup for r in singles)


def test_det_second_parameter_point_matches_numpy(emb):
    """The operator is parameterized; pin a second (n_clusters,
    threshold) point against the same numpy reference so the contract
    is not an artifact of the registered query's 8/0.3 choice."""
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    import numpy as np
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ref = _numpy_semdedup(ids, X, n_clusters=4, threshold=0.5)
    got = DD.semantic_dedup_det(emb, n_clusters=4, threshold=0.5).collect()
    assert len(got) == len(ids)
    for r in got:
        cluster, cent_sim, is_dup, ndn, mps = ref[r.vec_id]
        assert (r.cluster, r.is_semantic_dup, r.n_dup_neighbors) == \
            (cluster, is_dup, ndn)
        assert r.max_prior_sim == pytest.approx(mps, abs=1e-9)


def test_dominant_cluster_skew_correctness(spark):
    """Adversarial skew: 90% of vectors are tight near-clones, so one
    cluster dominates. The within-cluster pair join is quadratic in that
    bucket (the documented scaling knob is n_clusters), but CORRECTNESS
    must hold: exactly one keeper among the clones, singles untouched."""
    import numpy as np
    rng_base = [1.0] * 4 + [0.0] * 4
    rows = []
    for i in range(90):  # near-clones: tiny deterministic perturbation
        v = list(rng_base)
        v[7] = ((i * 7) % 5) * 1e-4
        rows.append((i, [float(x) for x in v]))
    for j in range(10):  # orthogonal-ish singles
        v = [0.0] * 8
        v[j % 4 + 4] = 1.0
        rows.append((100 + j, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = DD.semantic_dedup_det(df, n_clusters=3, threshold=0.999).collect()
    clones = [r for r in out if r.vec_id < 90]
    clone_clusters = {r.cluster for r in clones}
    # the clones all land in one cluster and keep exactly one per cluster
    keepers = [r for r in clones if not r.is_semantic_dup]
    assert len(keepers) == len(clone_clusters)
    assert sum(r.n_dup_neighbors for r in clones) > 0
    for r in clones:
        if r.is_semantic_dup:
            assert r.max_prior_sim >= 0.999


def test_gemm_assignment_equals_expr_assignment(spark):
    """The two physical assignment strategies (Column-expression argmin
    vs Arrow-batched BLAS GEMM) are the SAME operator: identical
    6dp-rounded (cluster, cent_sim) and identical downstream dedup
    verdicts, on real testdata AND on adversarial inputs (zero vector,
    exact centroid hits that force rounded-distance ties)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    for df, k in ((emb, 16), (emb, 64)):
        a = {r.vec_id: (r.cluster, r.cent_sim, r.is_semantic_dup,
                        r.n_dup_neighbors, r.max_prior_sim)
             for r in DD.semantic_dedup_det(df, n_clusters=k,
                                            threshold=0.5,
                                            assign="expr").collect()}
        b = {r.vec_id: (r.cluster, r.cent_sim, r.is_semantic_dup,
                        r.n_dup_neighbors, r.max_prior_sim)
             for r in DD.semantic_dedup_det(df, n_clusters=k,
                                            threshold=0.5,
                                            assign="gemm").collect()}
        assert a == b

    # adversarial: a zero vector plus duplicated centroid-candidates
    # (equal distance 0 to their own centroid; ties must break equally)
    rows = [(0, [1.0, 0.0, 2.0, 0.5]),
            (1, [1.0, 0.0, 2.0, 0.5]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-1.0, 3.0, 0.0, 0.0]),
            (4, [0.5, 0.5, 0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for k in (2, 4):
        a = sorted(DD.semantic_dedup_det(
            df, n_clusters=k, threshold=0.3, assign="expr").collect())
        g = sorted(DD.semantic_dedup_det(
            df, n_clusters=k, threshold=0.3, assign="gemm").collect())
        assert a == g
        z = next(r for r in g if r.vec_id == 2)
        assert z.cent_sim == 0.0


def test_two_level_with_full_routers_equals_flat(spark):
    """With n_super = n_clusters every centroid is its own router, so the
    two-level hierarchical assignment degenerates to EXACTLY the flat
    argmin — same clusters, same cent_sim, same dedup verdicts. This is
    the identity that makes the approximation well-defined: shrinking
    n_super trades boundary accuracy for the N·2·sqrt(k) FLOP cut and
    nothing else changes."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    flat = {r.vec_id: (r.cluster, r.cent_sim, r.is_semantic_dup,
                       r.n_dup_neighbors, r.max_prior_sim)
            for r in DD.semantic_dedup_det(emb, n_clusters=16,
                                           threshold=0.4,
                                           assign="gemm").collect()}
    two = {r.vec_id: (r.cluster, r.cent_sim, r.is_semantic_dup,
                      r.n_dup_neighbors, r.max_prior_sim)
           for r in DD.semantic_dedup_det(emb, n_clusters=16,
                                          threshold=0.4,
                                          assign="two_level",
                                          n_super=16).collect()}
    assert flat == two


def test_two_level_routing_is_group_consistent(spark):
    """At default n_super, every vector's assigned cluster must be a
    member of its routed group — structurally: the set of clusters
    produced is a subset of the centroid set, and clone vectors land in
    the same cluster as each other (routing is deterministic)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = DD.semantic_dedup_det(emb, n_clusters=32, threshold=0.3,
                                assign="two_level").collect()
    corpus_ids = {r.vec_id for r in
                  emb.select("vec_id").distinct().collect()}
    assert {r.cluster for r in out} <= corpus_ids
    assert len(out) == len(corpus_ids)  # every vector assigned once
