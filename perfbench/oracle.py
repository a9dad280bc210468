"""Independent reference results, computed with numpy and plain Python.

Nothing here calls the engine. Each ``check_*`` compares one operation's
collected output with the reference and returns the number of mismatches:
missing, extra or duplicated rows, or values that disagree at 6 decimal
places. A value agrees when both sides, rounded to 6 dp, differ by at most
one unit in the last place (float sums differ in order between engines, so
a value sitting on a rounding boundary may round either way).
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

#: largest allowed |round(a, 6) - round(b, 6)|
TOL = 1.000001e-6
#: reference similarities closer than this are a tie whose order may differ
TIE = 1e-9
#: least share of the planted near-duplicate pairs a dedup pass must find
RECALL_FLOOR = 0.8


def close(a, b) -> np.ndarray:
    return np.abs(np.round(np.asarray(a, float), 6)
                  - np.round(np.asarray(b, float), 6)) <= TOL


def _index(ids: pd.Series) -> np.ndarray:
    """'v00042' -> 42 (also for 'c' coordinates)."""
    return ids.str.slice(1).astype(np.int64).to_numpy()


class MatrixOracle:
    """Reference cosine results for a COO matrix, by dense numpy algebra.

    Cells are rescaled by their vector's max (the analyser's default
    ``normalization="max"``). Sparse cosine ranges over the coordinates a
    pair shares; dense cosine is the textbook one over whole vectors.
    """

    def __init__(self, coo: pd.DataFrame) -> None:
        vi, ci = _index(coo["y"]), _index(coo["x"])
        n, m = int(vi.max()) + 1, int(ci.max()) + 1
        a = np.zeros((n, m))
        np.add.at(a, (vi, ci), coo["value"].to_numpy(float))
        a /= a.max(axis=1, keepdims=True)
        p = (a != 0).astype(float)
        self.n = n
        self.a, self.p = a, p
        num = a @ a.T
        sq = (a * a) @ p.T  # sq[i, j]: i's squared values on coords j has
        self.shared = (p @ p.T) > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            self.sparse = num / np.sqrt(sq * sq.T)
            norms = np.sqrt((a * a).sum(axis=1))
            self.dense = num / np.outer(norms, norms)
        np.fill_diagonal(self.shared, False)

    # -------------------------------------------------------------- #

    def _pairs(self, df: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
        """Pair indices of a (vector0, vector1, ...) result, and the count
        of rows breaking the canonical order or repeating a pair."""
        i, j = _index(df["vector0"]), _index(df["vector1"])
        bad = int((i <= j).sum())
        bad += len(i) - len(np.unique(i * self.n + j))
        return i, j, bad

    def _check_pairs(self, df: pd.DataFrame, expect: np.ndarray) -> int:
        """``expect``: boolean n x n mask of the pairs (i > j) that must
        appear, each with its sparse cosine."""
        i, j, bad = self._pairs(df)
        ok = (i > j) & (i < self.n) & (j >= 0)
        i, j = i[ok], j[ok]
        got = np.zeros_like(expect)
        got[i, j] = True
        bad += int((got != expect).sum())
        hit = expect[i, j]
        bad += int((~close(df["similarity_value"].to_numpy()[ok][hit],
                           self.sparse[i[hit], j[hit]])).sum())
        return bad

    def check_all_similarity(self, df: pd.DataFrame) -> int:
        """Sparse ``all_similarity()``: every pair sharing a coordinate."""
        return self._check_pairs(df, np.tril(self.shared, k=-1))

    def check_similarity(self, df: pd.DataFrame, ids: list[str]) -> int:
        """``similarity(ids)``: pairs among ``ids`` sharing a coordinate."""
        sel = np.zeros(self.n, bool)
        sel[_index(pd.Series(ids))] = True
        return self._check_pairs(
            df, np.tril(self.shared & np.outer(sel, sel), k=-1))

    def check_pairs(self, df: pd.DataFrame, pairs: list[tuple]) -> int:
        """``similarity_for_pairs(pairs)``: the given pairs that share a
        coordinate."""
        want = np.zeros((self.n, self.n), bool)
        p = pd.DataFrame(pairs, columns=["vector0", "vector1"])
        want[_index(p["vector0"]), _index(p["vector1"])] = True
        return self._check_pairs(df, want & self.shared)

    # -------------------------------------------------------------- #

    def _ranked(self, v: int) -> np.ndarray:
        """Neighbours of ``v`` by (dense cosine desc, id asc)."""
        s = self.dense[v].copy()
        s[v] = -np.inf
        return np.lexsort((np.arange(self.n), -s))[:-1]

    def check_top_k(self, df: pd.DataFrame, k: int) -> int:
        """Dense ``top_k(k)``: per vector, ranks 1..k over distinct other
        vectors, cosines right, non-increasing, and none better omitted."""
        bad = 0
        vi, ni = _index(df["vector"]), _index(df["neighbor"])
        sim, rank = df["similarity_value"].to_numpy(), df["rank"].to_numpy()
        order = np.lexsort((rank, vi))
        vi, ni, sim, rank = vi[order], ni[order], sim[order], rank[order]
        kk = min(k, self.n - 1)
        if len(vi) != self.n * kk:
            return abs(len(vi) - self.n * kk) + 1
        vi, ni = vi.reshape(self.n, kk), ni.reshape(self.n, kk)
        sim, rank = sim.reshape(self.n, kk), rank.reshape(self.n, kk)
        bad += int((vi != np.arange(self.n)[:, None]).any(axis=1).sum())
        bad += int((rank != np.arange(1, kk + 1)).any(axis=1).sum())
        bad += int((ni == vi).sum())
        bad += sum(len(set(r)) != kk for r in ni.tolist())
        bad += int((~close(sim, self.dense[vi, ni])).sum())
        bad += int((np.diff(sim, axis=1) > TOL).sum())
        if kk < self.n - 1:
            nxt = np.array([self.dense[v, self._ranked(v)[kk]]
                            for v in range(self.n)])
            bad += int((sim[:, -1] < nxt - TOL).sum())
        return bad

    def check_predict_missing(self, df: pd.DataFrame, k: int) -> int:
        """Dense ``predict_missing(k)``: for each vector with an unambiguous
        top-k (no tie at the k-th place), the cells it lacks that a positive
        neighbour holds, each the similarity-weighted neighbour mean."""
        vi, ci = _index(df["vector"]), _index(df["coord"])
        val = df["predicted_value"].to_numpy()
        m = self.a.shape[1]
        bad = len(vi) - len(np.unique(vi * m + ci))
        for v in range(self.n):
            ranked = self._ranked(v)
            sims = self.dense[v, ranked]
            if k < len(ranked) and abs(sims[k - 1] - sims[k]) < TIE:
                continue  # engine and reference may pick different k-th
            nb = ranked[:k][sims[:k] > 0]
            w = self.dense[v, nb]
            denom = w @ self.p[nb]
            want = (denom > 0) & (self.p[v] == 0)
            rows = vi == v
            got = np.zeros(m, bool)
            got[ci[rows]] = True
            bad += int((got != want).sum())
            cols = ci[rows][want[ci[rows]]]
            ref = (w @ self.a[nb])[cols] / denom[cols]
            bad += int((~close(val[rows][want[ci[rows]]], ref)).sum())
        return bad


# ---------------------------------------------------------------------- #
# documents
# ---------------------------------------------------------------------- #

STOPWORDS = frozenset(("a", "the", "of", "and", "to", "in", "is", "it"))
#: marker words per language, in the engine's tie-break priority order
LANG_MARKERS = {
    "en": frozenset(("the", "and", "is", "of", "a")),
    "es": frozenset(("el", "la", "los", "de", "y")),
    "fr": frozenset(("le", "les", "et", "une", "des")),
    "de": frozenset(("der", "die", "und", "das", "ein")),
}
_SPLIT = re.compile("[^a-z0-9]+")
_SPACE = re.compile("[ \t\n\x0b\f\r]+")  # Java's \s


def _tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def _round6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _lang(toks: list[str]) -> str:
    scores = {lang: sum(t in ms for t in toks)
              for lang, ms in LANG_MARKERS.items()}
    best = max(scores.values())
    if best == 0:
        return "und"
    return next(lang for lang, s in scores.items() if s == best)


def curated(docs: pd.DataFrame, min_tokens: int = 20,
            max_stopword_ratio: float = 0.15,
            max_digit_ratio: float = 0.3) -> dict[int, int]:
    """doc_id -> token count of the documents ``curate_documents`` keeps
    with its defaults: enough tokens, low stop-word and digit ratios,
    English, and the smallest id among exact (normalized-text) copies."""
    keep: dict[str, tuple[int, int]] = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        toks = _tokens(text)
        n = len(toks)
        stop = _round6(sum(t in STOPWORDS for t in toks) / n) if n else 0.0
        digits = _round6(sum(ch.isdigit() for ch in text) / max(len(text), 1))
        if (n < min_tokens or stop > max_stopword_ratio
                or digits > max_digit_ratio or _lang(toks) != "en"):
            continue
        fp = hashlib.md5(
            _SPACE.sub(" ", text.lower()).strip(" ").encode()).hexdigest()
        if fp not in keep or doc_id < keep[fp][0]:
            keep[fp] = (doc_id, n)
    return dict(keep.values())


def check_curated(df: pd.DataFrame, want: dict[int, int]) -> int:
    got = dict(zip(df["doc_id"].tolist(), df["n_tokens"].tolist()))
    bad = len(df) - len(got)
    bad += len(set(got) ^ set(want))
    bad += sum(got[d] != want[d] for d in set(got) & set(want))
    bad += int((df["pred_lang"] != "en").sum())
    bad += int((~df["split"].isin(["train", "val", "test"])).sum())
    return bad


def term_vectors(docs: pd.DataFrame) -> dict[str, dict[str, int]]:
    """doc id (as the engine's string vector id) -> term counts without
    stop words."""
    out = {}
    for doc_id, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        counts: dict[str, int] = {}
        for t in _tokens(text):
            if t not in STOPWORDS:
                counts[t] = counts.get(t, 0) + 1
        out[str(doc_id)] = counts
    return out


def sparse_cosine(a: dict[str, int], b: dict[str, int]) -> float:
    """Cosine over the terms both vectors hold (the engine's sparse mode);
    max-rescaling cancels out of the ratio."""
    shared = a.keys() & b.keys()
    if not shared:
        return float("nan")
    num = sum(a[t] * b[t] for t in shared)
    na = sum(a[t] * a[t] for t in shared) ** 0.5
    nb = sum(b[t] * b[t] for t in shared) ** 0.5
    return num / (na * nb)


def planted_targets(planted: list[tuple[int, int]],
                    vectors: dict[str, dict[str, int]],
                    kept: dict[int, int], t: float) -> set[tuple[str, str]]:
    """The planted (copy, base) pairs a dedup pass must report: both
    documents kept and their reference cosine at least ``t``."""
    return {(str(a), str(b)) for a, b in planted
            if a in kept and b in kept
            and sparse_cosine(vectors[str(a)], vectors[str(b)]) >= t}


def check_scored_pairs(df: pd.DataFrame, vectors: dict[str, dict[str, int]],
                       kept: dict[int, int], t: float,
                       targets: set[tuple[str, str]]) -> int:
    """Near-duplicate pairs: distinct canonical pairs of kept documents,
    each with its cosine right and at least ``t``; and complete, in that
    at least :data:`RECALL_FLOOR` of the planted ``targets`` appear (LSH
    candidacy is probabilistic, so a few planted pairs may be missed; each
    miss past the allowance counts as a mismatch)."""
    ids = {str(d) for d in kept}
    bad = len(df) - len(df.drop_duplicates(["vector0", "vector1"]))
    for v0, v1, s in zip(df["vector0"], df["vector1"], df["similarity_value"]):
        if v0 not in ids or v1 not in ids or int(v0) <= int(v1):
            bad += 1
            continue
        ref = sparse_cosine(vectors[v0], vectors[v1])
        bad += int(not (close(s, ref) and ref >= t - TIE))
    missed = len(targets - set(zip(df["vector0"], df["vector1"])))
    bad += max(0, missed - int(len(targets) * (1 - RECALL_FLOOR)))
    return bad
