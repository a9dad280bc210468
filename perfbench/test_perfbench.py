"""Tests of the benchmark's own parts (no Spark): seeded inputs are
reproducible and comparable across seeds, and the checks catch wrong
results.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

import gen
import oracle

#: two seeds must give inputs whose work differs by at most this share
WORK_BAND = 0.05


def _bytes(tmp_path, df, name):
    path = tmp_path / name
    gen.write_parquet(df, str(path))
    return path.read_bytes()


def test_one_seed_gives_identical_inputs(tmp_path):
    a, sa = gen.coo_matrix(7)
    b, sb = gen.coo_matrix(7)
    assert sa == sb
    assert _bytes(tmp_path, a, "a.parquet") == _bytes(tmp_path, b, "b.parquet")
    da, ia = gen.documents(7)
    db, ib = gen.documents(7)
    assert ia == ib
    assert _bytes(tmp_path, da, "c.parquet") == _bytes(tmp_path, db, "d.parquet")
    assert gen.lookup_stream(7, 300, 50) == gen.lookup_stream(7, 300, 50)


def test_two_seeds_give_different_inputs_of_similar_work():
    a, sa = gen.coo_matrix(1)
    b, sb = gen.coo_matrix(2)
    assert not a.equals(b)
    for key in ("nnz", "pair_work", "aligned_pairs"):
        assert abs(sa[key] - sb[key]) <= WORK_BAND * sa[key], key
    assert sa["vectors"] == sb["vectors"]
    da, ia = gen.documents(1)
    db, ib = gen.documents(2)
    assert not da.equals(db)
    for key in ("documents", "tokens", "planted_pairs"):
        x, y = ia["shape"][key], ib["shape"][key]
        assert abs(x - y) <= WORK_BAND * x, key


def test_lookup_stream_mix():
    stream = gen.lookup_stream(3, 300, 1000)
    ids = [arg for kind, arg in stream if kind == "ids"]
    pairs = [arg for kind, arg in stream if kind == "pairs"]
    assert 0.75 < len(ids) / len(stream) < 0.85
    assert all(2 <= len(set(a)) == len(a) <= 16 for a in ids)
    assert all(1 <= len(p) <= 64 for p in pairs)
    assert all(v0 > v1 for p in pairs for v0, v1 in p)


# ---------------------------------------------------------------------- #
# matrix checks, against results computed by plain loops
# ---------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def small():
    coo, _ = gen.coo_matrix(5, n_vectors=30, n_coords=200, per_vector=12,
                            n_hot=3)
    vecs: dict[str, dict[str, float]] = {}
    for y, x, v in coo.itertuples(index=False):
        vecs.setdefault(y, {})[x] = v
    for cells in vecs.values():
        top = max(cells.values())
        for x in cells:
            cells[x] /= top
    return coo, vecs, oracle.MatrixOracle(coo)


def _dense_cos(a, b):
    num = sum(a[c] * b[c] for c in a.keys() & b.keys())
    na = math.sqrt(sum(v * v for v in a.values()))
    nb = math.sqrt(sum(v * v for v in b.values()))
    return num / (na * nb)


def _all_pairs(vecs):
    rows = []
    ids = sorted(vecs)
    for i, v0 in enumerate(ids):
        for v1 in ids[:i]:
            s = oracle.sparse_cosine(vecs[v0], vecs[v1])
            if not math.isnan(s):
                rows.append((v0, v1, s))
    return pd.DataFrame(rows, columns=["vector0", "vector1",
                                       "similarity_value"])


def _ranked(vecs, v):
    return sorted(((_dense_cos(vecs[v], vecs[u]), u) for u in vecs if u != v),
                  key=lambda t: (-t[0], t[1]))


def _top_k(vecs, k):
    rows = [(v, u, s, r + 1) for v in sorted(vecs)
            for r, (s, u) in enumerate(_ranked(vecs, v)[:k])]
    return pd.DataFrame(rows, columns=["vector", "neighbor",
                                       "similarity_value", "rank"])


def _predict(vecs, k):
    rows = []
    for v in sorted(vecs):
        nbs = [(s, u) for s, u in _ranked(vecs, v)[:k] if s > 0]
        num: dict[str, float] = {}
        den: dict[str, float] = {}
        for s, u in nbs:
            for c, x in vecs[u].items():
                num[c] = num.get(c, 0.0) + s * x
                den[c] = den.get(c, 0.0) + s
        rows += [(v, c, num[c] / den[c]) for c in num if c not in vecs[v]]
    return pd.DataFrame(rows, columns=["vector", "coord", "predicted_value"])


def test_all_similarity_check_catches_perturbations(small):
    _, vecs, ref = small
    good = _all_pairs(vecs)
    assert ref.check_all_similarity(good) == 0
    off = good.copy()
    off.loc[3, "similarity_value"] += 2e-6
    assert ref.check_all_similarity(off) > 0
    assert ref.check_all_similarity(good.drop(index=5)) > 0
    assert ref.check_all_similarity(pd.concat([good, good.iloc[:1]])) > 0
    swapped = good.rename(columns={"vector0": "vector1",
                                   "vector1": "vector0"})
    assert ref.check_all_similarity(swapped) > 0


def test_point_read_checks_catch_perturbations(small):
    _, vecs, ref = small
    ids = sorted(vecs)[:8]
    good = _all_pairs({v: vecs[v] for v in ids})
    assert ref.check_similarity(good, ids) == 0
    assert ref.check_similarity(good.iloc[1:], ids) > 0
    pairs = list(zip(good["vector0"][:4], good["vector1"][:4]))
    assert ref.check_pairs(good.iloc[:4], pairs) == 0
    off = good.iloc[:4].copy()
    off.loc[0, "similarity_value"] = 0.5 * off.loc[0, "similarity_value"]
    assert ref.check_pairs(off, pairs) > 0


def test_top_k_check_catches_perturbations(small):
    _, vecs, ref = small
    good = _top_k(vecs, 5)
    assert ref.check_top_k(good, 5) == 0
    worse = good.copy()
    # replace a first-ranked neighbour by the vector's worst one
    v = worse.loc[0, "vector"]
    s, u = _ranked(vecs, v)[-1]
    worse.loc[0, ["neighbor", "similarity_value"]] = [u, s]
    assert ref.check_top_k(worse, 5) > 0
    assert ref.check_top_k(good.drop(index=7), 5) > 0


def test_predict_check_catches_perturbations(small):
    _, vecs, ref = small
    good = _predict(vecs, 3)
    assert ref.check_predict_missing(good, 3) == 0
    off = good.copy()
    off.loc[10, "predicted_value"] *= 1.001
    assert ref.check_predict_missing(off, 3) > 0
    assert ref.check_predict_missing(good.drop(index=4), 3) > 0


# ---------------------------------------------------------------------- #
# document checks
# ---------------------------------------------------------------------- #


def test_document_checks_catch_perturbations():
    docs, info = gen.documents(4, n_docs=200)
    kept = oracle.curated(docs)
    kinds = info["shape"]
    assert 0 < len(kept) < kinds["documents"] - kinds["kind_exact"]
    manifest = pd.DataFrame({"doc_id": list(kept),
                             "n_tokens": list(kept.values()),
                             "pred_lang": "en", "split": "train"})
    assert oracle.check_curated(manifest, kept) == 0
    assert oracle.check_curated(manifest.iloc[1:], kept) > 0
    wrong = manifest.copy()
    wrong.loc[0, "n_tokens"] += 1
    assert oracle.check_curated(wrong, kept) > 0

    vectors = oracle.term_vectors(docs)
    planted = [(str(a), str(b)) for a, b in info["planted"]
               if a in kept and b in kept]
    targets = oracle.planted_targets(info["planted"], vectors, kept, 0.8)
    assert len(targets) >= 0.8 * len(planted) > 0  # edits keep copies similar
    good = pd.DataFrame(sorted(targets), columns=["vector0", "vector1"])
    good["similarity_value"] = [oracle.sparse_cosine(vectors[a], vectors[b])
                                for a, b in sorted(targets)]

    def check(df):
        return oracle.check_scored_pairs(df, vectors, kept, 0.8, targets)

    assert check(good) == 0
    off = good.copy()
    off.loc[0, "similarity_value"] -= 1e-5
    assert check(off) > 0
    assert check(pd.concat([good, good.iloc[:1]])) > 0
    # missing pairs: a few LSH misses pass, an empty or truncated result not
    allowed = int(len(targets) * (1 - oracle.RECALL_FLOOR))
    assert check(good.iloc[allowed:]) == 0
    assert check(good.iloc[allowed + 1:]) > 0
    assert check(good.iloc[:len(good) // 2]) > 0
    assert check(good.iloc[:0]) > 0
