from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators import similarity as SIM
from casf_spark.sources import load_table


def test_ivf_topk_contract_and_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    ivf = SIM.ivf_topk(emb, q, k=5, n_centroids=4, n_probes=2)
    rows = ivf.collect()
    assert rows, "IVF returned nothing"
    by_q = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert 1 <= r.rank <= 5
        by_q.setdefault(r.query_id, []).append(r)
    # recall vs exact: with half the buckets probed the true top-1 should
    # usually be found; assert the approximate top-1 is within the exact
    # top-5 for most queries (loose, deterministic for fixed seed)
    exact = SIM.brute_force_topk(emb, q, k=5)
    exact_by_q = {}
    for r in exact.collect():
        exact_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        1 for qid, rs in by_q.items()
        if min(rs, key=lambda r: r.rank).neighbor_id in exact_by_q[qid])
    assert hits >= len(by_q) // 2, f"IVF recall too low: {hits}/{len(by_q)}"


def test_ivf_deterministic_for_seed(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    q = emb.where(F.col("vec_id") < 3)
    a = {tuple(r) for r in SIM.ivf_topk(emb, q, k=3, n_centroids=4, seed=7).collect()}
    b = {tuple(r) for r in SIM.ivf_topk(emb, q, k=3, n_centroids=4, seed=7).collect()}
    assert a == b


def test_ivf_det_deterministic_and_well_formed(spark, sf_dir):
    from pyspark.sql import functions as F
    from casf_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    a = SIM.ivf_topk_det(emb, q, k=5, n_centroids=8, n_probes=2).collect()
    b = SIM.ivf_topk_det(emb, q, k=5, n_centroids=8, n_probes=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # no randomness
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != qid for r in rows)


def test_ivf_det_more_probes_no_worse(spark, sf_dir):
    """Probing every bucket == exact search restricted to nothing: top-1
    similarity per query must be >= the 2-probe top-1 (monotone recall)."""
    from pyspark.sql import functions as F
    from casf_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    two = {r.query_id: r.cos_sim
           for r in SIM.ivf_topk_det(emb, q, k=1, n_probes=2).collect()}
    full = {r.query_id: r.cos_sim
            for r in SIM.ivf_topk_det(emb, q, k=1, n_probes=8).collect()}
    assert all(full[k] >= two[k] for k in two)


@pytest.mark.parametrize("null_id", [1, 0])
def test_ivf_det_refuses_null_vector(spark, null_id):
    """Rows 0..4 in md5 order 4, 1, 2, 0, 3; at k=2 the centroids are 4
    and 1. A NULL vector raises whether it is a centroid (1) or not (0),
    instead of its NULL distance ordering first in the argmin."""
    df = spark.createDataFrame(
        [(i, None if i == null_id else [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL vector in 'embedding'"):
        SIM.ivf_topk_det(df, df, k=2, n_centroids=2, n_probes=1).collect()


def test_ivf_pq_recall_and_determinism(spark, sf_dir):
    from casf_spark.operators.similarity import brute_force_topk, ivf_pq_topk
    from casf_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 20)
    truth = {}
    for r in brute_force_topk(emb, qs, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got_rows = ivf_pq_topk(emb, qs, k=5, n_probes=4, rerank=8).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    # sampled (not trained) codebooks + exact re-rank: well above chance
    assert recall >= 0.3, f"recall {recall}"
    # exact cosine on the re-ranked survivors
    for r in got_rows:
        assert -1.0 <= r["cos_sim"] <= 1.0
    # deterministic: identical output across runs
    again = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
             for r in ivf_pq_topk(emb, qs, k=5, n_probes=4,
                                  rerank=8).collect()}
    assert {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
            for r in got_rows} == again
