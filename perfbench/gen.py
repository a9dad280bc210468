"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``), so
the same seed always yields the same rows and the same parquet bytes. Each
returns the rows together with a ``shape`` dict that records the input
properties the engine's cost depends on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------- #
# COO matrix (coo_batch, model_lookup)
# ---------------------------------------------------------------------- #

#: default matrix shape: vectors x coordinates, nonzeros per vector in the
#: flat part, and the hot "stop-word" head (coordinates present in a large
#: share of vectors)
COO_VECTORS = 300
COO_COORDS = 3000
COO_PER_VECTOR = 60
COO_HOT = 6
COO_HOT_SHARE = (0.3, 0.6)


def coo_matrix(seed: int, n_vectors: int = COO_VECTORS,
               n_coords: int = COO_COORDS,
               per_vector: int = COO_PER_VECTOR, n_hot: int = COO_HOT,
               hot_share: tuple[float, float] = COO_HOT_SHARE,
               ) -> tuple[pd.DataFrame, dict]:
    """COO triples (y, x, value) with flat coordinate degrees plus a hot head.

    Each vector holds ``per_vector`` distinct coordinates drawn uniformly
    from the non-hot range (degrees are then binomial, as flat as lineitem's
    part keys). The ``n_hot`` head coordinates are present in shares of the
    vectors spaced evenly over ``hot_share``, in seeded order and with seeded
    members, so the hot head's pair work is the same for every seed. Values
    are integer quantities 1..50. Ids are zero-padded strings, so the
    engine's string ordering of vectors equals their numeric order.
    """
    rng = np.random.default_rng([seed, 1])
    vec, coord = [], []
    flat = np.arange(n_hot, n_coords)
    for v in range(n_vectors):
        cs = rng.choice(flat, size=per_vector, replace=False)
        vec.append(np.full(per_vector, v))
        coord.append(cs)
    shares = rng.permutation(np.linspace(*hot_share, num=n_hot))
    for h in range(n_hot):
        size = int(round(shares[h] * n_vectors))
        members = np.sort(rng.choice(n_vectors, size=size, replace=False))
        vec.append(members)
        coord.append(np.full(len(members), h))
    vi = np.concatenate(vec)
    ci = np.concatenate(coord)
    order = np.lexsort((ci, vi))
    vi, ci = vi[order], ci[order]
    values = rng.integers(1, 51, size=len(vi)).astype(np.float64)
    df = pd.DataFrame({
        "y": np.char.mod("v%05d", vi),
        "x": np.char.mod("c%05d", ci),
        "value": values,
    })
    k = np.bincount(ci, minlength=n_coords).astype(np.int64)
    pair_work = float((k * k).sum()) / 2
    hot_work = float((k[:n_hot] * k[:n_hot]).sum()) / 2
    shape = {
        "nnz": int(len(df)),
        "vectors": int(n_vectors),
        "coords": int((k > 0).sum()),
        "pair_work": pair_work,  # the sum over coordinates of k_c^2 / 2
        "aligned_pairs": int((k * (k - 1) // 2).sum()),  # exact, vector0 > vector1
        "hot_coords": int(n_hot),
        "hot_nnz_share": round(float(k[:n_hot].sum()) / len(df), 6),
        "hot_pair_share": round(hot_work / pair_work, 6),
    }
    return df, shape


# ---------------------------------------------------------------------- #
# document corpus (doc_dedup)
# ---------------------------------------------------------------------- #

DOC_COUNT = 600
#: words the engine's stop-word list and language markers look for
EN_MARKERS = ("the", "and", "is", "of", "a")
ES_MARKERS = ("el", "la", "los", "de", "y")
_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
              "bra", "dor", "fen", "gul", "hik", "jam", "kor", "lin", "mur",
              "nos", "pra", "qui", "sel", "tur", "vex", "wol", "yan", "zet")


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct made-up words of two or three syllables (at least
    four letters, so none is a stop word or a language marker)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = 2 + int(rng.integers(0, 2))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def documents(seed: int, n_docs: int = DOC_COUNT, vocab_size: int = 1500,
              ) -> tuple[pd.DataFrame, dict]:
    """A corpus of (doc_id, text) plus planted near-duplicate pairs.

    Most documents are English-like token streams: Zipf-distributed words
    with about 8% English marker words. Seeded shares are built to fail
    curation: too short, Spanish, digit-heavy, stop-word-heavy, and exact
    copies that differ only in case and spacing. About 10% are near-duplicates
    of a base document made by seeded token edits (5% of tokens replaced);
    each (base, copy) id pair is recorded as planted. Rows are shuffled by a
    seeded permutation and numbered 100000.. in shuffled order.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    zipf = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    zipf /= zipf.sum()

    def body(n: int, markers=EN_MARKERS, marker_rate: float = 0.08) -> list[str]:
        toks = list(vocab[rng.choice(vocab_size, size=n, p=zipf)])
        for i in np.flatnonzero(rng.random(n) < marker_rate):
            toks[i] = markers[int(rng.integers(0, len(markers)))]
        return toks

    texts: list[str] = []
    kinds: list[str] = []
    base_of: list[int] = []  # index of the base document, -1 if none
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.06:
            toks, kind = body(int(rng.integers(5, 16))), "short"
        elif r < 0.10:
            toks, kind = body(int(rng.integers(40, 160)), ES_MARKERS, 0.12), "es"
        elif r < 0.13:
            toks = body(int(rng.integers(40, 160)))
            for i in np.flatnonzero(rng.random(len(toks)) < 0.6):
                toks[i] = str(int(rng.integers(10000, 99999)))
            kind = "digits"
        elif r < 0.16:
            toks, kind = body(int(rng.integers(40, 160)), EN_MARKERS, 0.35), "stop"
        else:
            toks, kind = body(int(rng.integers(40, 160))), "en"
        texts.append(" ".join(toks))
        kinds.append(kind)
        base_of.append(-1)
    en = [i for i, k in enumerate(kinds) if k == "en"]
    n_exact = max(1, n_docs // 40)
    for i in rng.choice(en, size=n_exact, replace=False):
        t = texts[i].split(" ")
        t[0] = t[0].upper()
        texts.append("  ".join(t[:3]) + " " + " ".join(t[3:]))
        kinds.append("exact")
        base_of.append(int(i))
    n_near = max(1, n_docs // 10)
    for i in rng.choice(en, size=n_near, replace=False):
        t = texts[i].split(" ")
        for j in np.flatnonzero(rng.random(len(t)) < 0.05):
            t[j] = vocab[int(rng.choice(vocab_size, p=zipf))]
        texts.append(" ".join(t))
        kinds.append("near")
        base_of.append(int(i))

    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = 100000 + np.arange(len(texts))
    df = pd.DataFrame({
        "doc_id": new_id[perm],
        "text": [texts[i] for i in perm],
    })
    planted = sorted(
        (int(max(new_id[i], new_id[b])), int(min(new_id[i], new_id[b])))
        for i, b in enumerate(base_of) if kinds[i] == "near")
    counts = pd.Series(kinds).value_counts()
    shape = {
        "documents": int(len(df)),
        "planted_pairs": len(planted),
        "tokens": int(sum(len(t.split()) for t in texts)),
        **{f"kind_{k}": int(v) for k, v in sorted(counts.items())},
    }
    return df, {"shape": shape, "planted": planted}


# ---------------------------------------------------------------------- #
# point-read stream (model_lookup)
# ---------------------------------------------------------------------- #

def lookup_stream(seed: int, n_vectors: int, n: int) -> list[tuple[str, list]]:
    """``n`` seeded point reads over vectors ``v00000..``: 80% ``ids``
    requests of 2-16 distinct vector ids, 20% ``pairs`` requests of 1-64
    canonical (vector0 > vector1) pairs."""
    rng = np.random.default_rng([seed, 3])
    out: list[tuple[str, list]] = []
    for _ in range(n):
        if rng.random() < 0.8:
            m = int(rng.integers(2, 17))
            ids = rng.choice(n_vectors, size=m, replace=False)
            out.append(("ids", [f"v{i:05d}" for i in sorted(ids)]))
        else:
            m = int(rng.integers(1, 65))
            a = rng.integers(0, n_vectors, size=m)
            b = rng.integers(0, n_vectors - 1, size=m)
            b = b + (b >= a)  # b != a
            pairs = sorted({(f"v{max(x, y):05d}", f"v{min(x, y):05d}")
                            for x, y in zip(a.tolist(), b.tolist())})
            out.append(("pairs", pairs))
    return out


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` as one parquet file; same rows give the same bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   compression="snappy")
