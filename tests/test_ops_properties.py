"""Property-based differential tests for the session-4 operators (CDC,
checks, novelty) vs naive Python implementations of the same
definitions."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

slow_ok = settings(max_examples=12, deadline=None,
                   suppress_health_check=[HealthCheck.function_scoped_fixture,
                                          HealthCheck.data_too_large])

changelog_strategy = st.lists(
    st.tuples(st.integers(1, 5),           # key
              st.integers(1, 40),          # version (may tie across keys)
              st.sampled_from(["u", "d"]),
              st.integers(0, 100)),        # payload
    min_size=1, max_size=25, unique_by=lambda t: (t[0], t[1]))


@slow_ok
@given(changelog_strategy)
def test_cdc_snapshot_matches_naive(spark, log):
    from casf_spark.operators.cdc import cdc_snapshot

    df = spark.createDataFrame(log, "k long, v long, op string, val long")
    got = {r.k: (r.v, r.op, r.val)
           for r in cdc_snapshot(df, ["k"], ["v"], "op").collect()}

    naive: dict[int, tuple] = {}
    for k, v, op, val in log:
        if k not in naive or v > naive[k][0]:
            naive[k] = (v, op, val)
    expect = {k: t for k, t in naive.items() if t[1] != "d"}
    assert got == expect


@slow_ok
@given(changelog_strategy)
def test_scd2_partitions_version_axis(spark, log):
    """SCD2 intervals: per key, exactly one current row; valid_to of each
    non-current row equals the next version."""
    from casf_spark.operators.cdc import scd2_history

    df = spark.createDataFrame(log, "k long, v long, op string, val long")
    rows = scd2_history(df, ["k"], "v").collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.v)
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.v


rows_strategy = st.lists(
    st.tuples(st.integers(0, 6),
              st.one_of(st.none(), st.sampled_from(["a", "b", "z"])),
              st.one_of(st.none(), st.floats(-5, 15, allow_nan=False))),
    min_size=1, max_size=30)


@slow_ok
@given(rows_strategy)
def test_run_checks_matches_naive(spark, rows):
    from casf_spark.operators import checks as CK

    df = spark.createDataFrame(rows, "id long, cat string, val double")
    got = {r.check_name: r.n_violations for r in CK.run_checks(df, [
        CK.not_null("cat"),
        CK.in_set("cat", ["a", "b"]),
        CK.in_range("val", 0.0, 10.0),
        CK.unique("id"),
    ]).collect()}

    n_null = sum(1 for _, c, _ in rows if c is None)
    n_set = sum(1 for _, c, _ in rows if c is None or c not in ("a", "b"))
    n_rng = sum(1 for _, _, v in rows if v is None or v < 0.0 or v > 10.0)
    from collections import Counter
    cnt = Counter(i for i, _, _ in rows)
    n_dup = sum(n for n in cnt.values() if n > 1)
    assert got == {"not_null(cat)": n_null, "in_set(cat)": n_set,
                   "in_range(val)": n_rng, "unique(id)": n_dup}


def test_novelty_credits_each_gram_exactly_once(spark, sf_dir):
    """Corpus invariant: sum of per-doc novel grams == number of distinct
    grams in the whole corpus (every gram is first-seen exactly once)."""
    from pyspark.sql import functions as F

    from casf_spark.functions import text as TX
    from casf_spark.operators.dedup import ngram_novelty
    from casf_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_novelty(docs, "doc_id", "text", n=4)
    total_novel = out.agg(F.sum("novel")).first()[0]

    toks = docs.select(TX.tokens("text").alias("t"))
    grams = toks.select(F.explode(F.when(
        F.size("t") >= 4,
        F.transform(F.sequence(F.lit(0), F.size("t") - 4),
                    lambda i: F.array_join(F.slice("t", i + 1, 4), " "))
    ).otherwise(F.array().cast("array<string>"))).alias("g"))
    n_distinct = grams.agg(F.count_distinct("g")).first()[0]
    assert total_novel == n_distinct


merge_strategy = st.tuples(
    st.lists(st.tuples(st.integers(1, 8), st.integers(0, 99)),
             min_size=0, max_size=12, unique_by=lambda t: t[0]),
    st.lists(st.tuples(st.integers(1, 12), st.integers(100, 199)),
             min_size=0, max_size=12, unique_by=lambda t: t[0]))


@slow_ok
@given(merge_strategy)
def test_merge_upsert_matches_dict_semantics(spark, tgt_src):
    """MERGE == dict update: target dict updated by source dict, any key
    sets, any overlap."""
    from casf_spark.operators.cdc import merge_upsert

    tgt, src = tgt_src
    t = spark.createDataFrame(tgt or [(None, None)], "k long, v long") \
        .where(F.col("k").isNotNull())
    s = spark.createDataFrame(src or [(None, None)], "k long, v long") \
        .where(F.col("k").isNotNull())
    got = {r.k: r.v for r in merge_upsert(t, s, ["k"]).collect()}
    want = dict(tgt)
    want.update(dict(src))
    assert got == want


chunk_docs_strategy = st.lists(
    st.tuples(st.integers(0, 30),
              st.lists(st.sampled_from("abc de fgh ij klm nop".split()),
                       min_size=0, max_size=80)),
    min_size=1, max_size=8, unique_by=lambda t: t[0])


@slow_ok
@given(chunk_docs_strategy)
def test_text_chunks_cover_every_token_in_order(spark, docs):
    """Chunking invariants for any doc lengths: every token of every doc
    appears in some chunk at its original relative order; chunk 0 starts
    at token 1; consecutive chunks overlap by size-stride tokens (except
    a possibly-short final chunk); no chunk exceeds the window size."""
    from casf_spark.queries import text as text_queries

    rows = [(i, " ".join(toks)) for i, toks in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # run the same chunker the query uses, on this synthetic frame
    orig_load = text_queries.load_table
    try:
        text_queries.load_table = lambda _s, _sf, _n: df
        out = text_queries.q_text_chunks(spark, "unused").collect()
    finally:
        text_queries.load_table = orig_load

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ") \
            if r.chunk_text else []
    for i, toks in docs:
        chunks = by_doc.get(i, {})
        if not toks:
            assert chunks == {} or list(chunks.values()) == [[]]
            continue
        assert sorted(chunks) == list(range(len(chunks)))
        rebuilt = []
        for c in range(len(chunks)):
            ch = chunks[c]
            assert len(ch) <= 32
            start = c * 24
            assert ch == toks[start:start + 32]
            rebuilt = rebuilt[:start] + ch
        assert rebuilt == toks


@slow_ok
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=40,
                unique=True))
def test_train_shards_bijection_and_determinism(spark, ids):
    """Shard assignment invariants: every doc exactly once, positions
    within each shard are 1..n_shard with no gaps, and a re-run is
    bit-identical (seeded)."""
    from casf_spark.queries import lm as lm_queries

    df = spark.createDataFrame([(i, "t") for i in ids],
                               "doc_id long, text string")
    orig_load = lm_queries.load_table
    try:
        lm_queries.load_table = lambda _s, _sf, _n: df
        a = lm_queries.q_train_shards(spark, "unused").collect()
        b = lm_queries.q_train_shards(spark, "unused").collect()
    finally:
        lm_queries.load_table = orig_load
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert sorted(r.doc_id for r in a) == sorted(ids)
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


# ---------------------------------------------------------------------------
# DSIR importance weights vs a naive Python implementation
# ---------------------------------------------------------------------------

_dsir_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
dsir_strategy = st.lists(
    st.tuples(st.lists(_dsir_word, min_size=1, max_size=6),
              st.booleans()),
    min_size=2, max_size=12).filter(
        lambda rows: any(t for _, t in rows) and any(not t for _, t in rows))


@slow_ok
@given(dsir_strategy)
def test_dsir_matches_naive(spark, rows):
    """dsir_logweights == the paper's formula computed in pure Python
    (same md5 bucketing, add-1 smoothing, 6dp-rounded bucket ratios)."""
    import hashlib
    import math

    from casf_spark.operators.sampling import dsir_logweights

    B = 16

    def bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode()).hexdigest()[:15], 16) % B

    def feats(words):
        return words + [f"{a} {b}" for a, b in zip(words, words[1:])]

    tc: dict[int, int] = {}
    rc: dict[int, int] = {}
    for words, tgt in rows:
        for f_ in feats(words):
            d = tc if tgt else rc
            d[bucket(f_)] = d.get(bucket(f_), 0) + 1
    t_tot, r_tot = sum(tc.values()), sum(rc.values())
    w = {b: round(math.log((tc.get(b, 0) + 1) / (t_tot + B))
                  - math.log((rc.get(b, 0) + 1) / (r_tot + B)), 6)
         for b in range(B)}
    expect = {}
    for i, (words, tgt) in enumerate(rows):
        fs = feats(words)
        expect[i] = (tgt, len(fs),
                     round(sum(w[bucket(f_)] for f_ in fs), 6))

    df = spark.createDataFrame(
        [(i, " ".join(ws), t) for i, (ws, t) in enumerate(rows)],
        "doc_id long, text string, tgt boolean")
    got = dsir_logweights(df, "doc_id", "text", F.col("tgt"),
                          n_buckets=B).collect()
    assert len(got) == len(rows)
    for r in got:
        tgt, nf, lw = expect[r.doc_id]
        assert r.is_target == tgt
        assert r.n_features == nf
        assert r.log_weight == pytest.approx(lw, abs=2e-6)


# ---------------------------------------------------------------------------
# snapshot_diff vs a naive dict diff
# ---------------------------------------------------------------------------

snap_strategy = st.tuples(
    st.lists(st.tuples(st.integers(1, 8),                 # key
                       st.one_of(st.none(), st.integers(0, 3)),
                       st.sampled_from(["a", "b"])),
             max_size=10, unique_by=lambda t: t[0]),
    st.lists(st.tuples(st.integers(1, 8),
                       st.one_of(st.none(), st.integers(0, 3)),
                       st.sampled_from(["a", "b"])),
             max_size=10, unique_by=lambda t: t[0]))


@slow_ok
@given(snap_strategy)
def test_snapshot_diff_matches_naive(spark, tables):
    from casf_spark.operators.cdc import snapshot_diff
    old_rows, new_rows = tables
    schema = "k long, v long, tag string"
    old = spark.createDataFrame(old_rows, schema) if old_rows else \
        spark.createDataFrame([], schema)
    new = spark.createDataFrame(new_rows, schema) if new_rows else \
        spark.createDataFrame([], schema)
    od = {k: (v, t) for k, v, t in old_rows}
    nd = {k: (v, t) for k, v, t in new_rows}
    expect = {}
    for k in set(od) | set(nd):
        if k not in od:
            expect[k] = ("added", "")
        elif k not in nd:
            expect[k] = ("removed", "")
        else:
            ch = [name for name, i in (("tag", 1), ("v", 0))
                  if od[k][i] != nd[k][i]]
            ch.sort()
            expect[k] = ("changed" if ch else "unchanged", ",".join(ch))
    got = {r.k: (r.status, r.changed_cols) for r in
           snapshot_diff(old, new, ["k"], ["v", "tag"]).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# remove_duplicated_spans vs naive Python
# ---------------------------------------------------------------------------

spans_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=12),
    min_size=1, max_size=6)


@slow_ok
@given(spans_strategy)
def test_remove_spans_matches_naive(spark, docs):
    from casf_spark.operators.dedup import remove_duplicated_spans
    N = 3
    grams = {}  # gram -> set of docs
    for d, toks in enumerate(docs):
        for i in range(len(toks) - N + 1):
            grams.setdefault(tuple(toks[i:i + N]), set()).add(d)
    dup_first = {g: min(ds) for g, ds in grams.items() if len(ds) >= 2}
    expect = {}
    for d, toks in enumerate(docs):
        if not toks:
            # zero-token docs pass through (one row per input doc —
            # the row-conservation contract)
            expect[d] = (0, 0, "")
            continue
        drop = set()
        for i in range(len(toks) - N + 1):
            g = tuple(toks[i:i + N])
            if g in dup_first and dup_first[g] != d:
                drop.update(range(i, i + N))
        kept = [t for i, t in enumerate(toks) if i not in drop]
        expect[d] = (len(toks), len(drop), " ".join(kept))
    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(docs)],
        "doc_id long, text string")
    out = remove_duplicated_spans(df, "doc_id", "text", n=N).collect()
    got = {r.doc: (r.n_tokens, r.n_removed, r.cleaned_text) for r in out}
    assert got == expect
    for r in out:
        assert r.removed_frac == round(r.n_removed / max(r.n_tokens, 1), 6)


# ---------------------------------------------------------------- round 8

rank_lists_strategy = st.lists(
    st.lists(st.integers(0, 30), min_size=1, max_size=12, unique=True),
    min_size=1, max_size=3)


@slow_ok
@given(rank_lists_strategy)
def test_rrf_fuse_matches_naive(spark, legs_ids):
    """rrf_fuse equals the naive dict implementation of
    sum(round_half_up(1e9/(k+rank))) / 1e9 on arbitrary leg sets, and
    the top-n order is (score desc, item_id asc)."""
    import math
    from casf_spark.operators.relevance import rrf_fuse

    legs = [spark.createDataFrame(
        [(i, r + 1) for r, i in enumerate(ids)], "item_id long, rank int")
        for ids in legs_ids]
    got = [(r.item_id, r.n_legs, r.rrf_score)
           for r in rrf_fuse(legs, k=60, top_n=100).collect()]

    naive: dict[int, list] = {}
    for ids in legs_ids:
        for r, i in enumerate(ids):
            naive.setdefault(i, []).append(
                math.floor(1e9 / (60 + r + 1) + 0.5))
    expect = sorted(
        ((i, len(ts), round(sum(ts) / 1e9, 6)) for i, ts in naive.items()),
        key=lambda t: (-t[2], t[0]))
    assert got == expect


@slow_ok
@given(st.lists(st.floats(-100, 100, allow_nan=False), min_size=4,
                max_size=40))
def test_quantile_buckets_bands_are_ordered_and_cover(spark, scores):
    """Bucket ids are within [1, n]; bucketing is monotone in the score
    (a higher score never lands in a lower band); every threshold-fold
    result matches the naive count-of-thresholds-exceeded."""
    from casf_spark.operators.curation import quantile_buckets

    df = spark.createDataFrame(list(enumerate(scores)), "id long, s double")
    rows = quantile_buckets(df, "s", n_buckets=4).collect()
    by_id = {r.id: r.bucket for r in rows}
    assert all(1 <= b <= 4 for b in by_id.values())
    ranked = sorted(((scores[i], b) for i, b in by_id.items()))
    for (s0, b0), (s1, b1) in zip(ranked, ranked[1:]):
        if s0 < s1:
            assert b0 <= b1, (s0, b0, s1, b1)
        elif s0 == s1:
            assert b0 == b1


@slow_ok
@given(st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 3)),  # (payload id, caption id)
    min_size=1, max_size=20))
def test_pair_integrity_matches_naive(spark, pairs):
    """Conflict flags equal the naive per-fingerprint distinct counts on
    arbitrary payload/caption pairings."""
    from casf_spark.multimodal.binary import pair_integrity

    rows = [(i, b"P%d" % p, "caption %d" % c)
            for i, (p, c) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, caption string")
    got = {r.doc_id: (r.n_payload_copies, r.payload_conflict,
                      r.caption_conflict) for r in pair_integrity(df).collect()}

    from collections import defaultdict
    pay_caps, cap_pays, pay_n = defaultdict(set), defaultdict(set), defaultdict(int)
    for i, (p, c) in enumerate(pairs):
        pay_caps[p].add(c)
        cap_pays[c].add(p)
        pay_n[p] += 1
    for i, (p, c) in enumerate(pairs):
        assert got[i] == (pay_n[p], len(pay_caps[p]) >= 2,
                          len(cap_pays[c]) >= 2), (i, p, c)


@slow_ok
@given(st.lists(st.lists(st.floats(-1, 1, allow_nan=False), min_size=2,
                         max_size=2),
                min_size=2, max_size=10))
def test_kcenter_invariants(spark, vecs):
    """On arbitrary 2-D inputs: k distinct selections, seed is the
    smallest id, and the radius sequence from rank 2 on never
    increases."""
    from casf_spark.operators.similarity import kcenter_select

    k = min(4, len(vecs))
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "vec_id long, embedding array<double>")
    rows = sorted(kcenter_select(df, k=k).collect(),
                  key=lambda r: r.sel_rank)
    assert len({r.vec_id for r in rows}) == k
    assert rows[0].vec_id == 0 and rows[0].sel_dist == 0.0
    dists = [r.sel_dist for r in rows[1:]]
    assert dists == sorted(dists, reverse=True)


# ------------------------------------------------- NB classifier (round 8)

nb_docs_strategy = st.lists(
    st.tuples(st.integers(0, 30),                       # doc id
              st.lists(st.sampled_from("abcdef"),       # tokens
                       min_size=0, max_size=8),
              st.sampled_from(["en", "de"])),
    min_size=2, max_size=20, unique_by=lambda t: t[0],
).filter(lambda rows: len({r[2] for r in rows}) == 2)   # both classes


@slow_ok
@given(nb_docs_strategy)
def test_nb_matches_naive(spark, rows):
    """nb_train/nb_score vs a naive Python multinomial NB with the same
    Laplace(+1)-over-capped-vocab definition and micro-unit fold."""
    import math

    from casf_spark.operators import classify as C

    data = [(i, " ".join(toks), lang) for i, toks, lang in rows]
    df = spark.createDataFrame(data, "doc_id long, text string, lang string")
    model = C.nb_train(df, "doc_id", "text", "lang", "en", vocab_size=4)
    got_model = {r.term: r.lr_u for r in model.collect()}
    got = {r.doc: r.score_u
           for r in C.nb_score(df, model, "doc_id", "text").collect()}

    # naive twin
    def rhu(x):
        return math.floor(x * 1e6 + 0.5)
    pos = [t for _, toks, l in rows for t in toks if l == "en"]
    neg = [t for _, toks, l in rows for t in toks if l != "en"]
    from collections import Counter
    cp, cn = Counter(pos), Counter(neg)
    total = Counter(pos + neg)
    vocab = sorted(total, key=lambda t: (-total[t], t))[:4]
    tp, tn, v = (sum(cp[t] for t in vocab), sum(cn[t] for t in vocab),
                 len(vocab))
    lr = {t: rhu(math.log((cp[t] + 1) / (tp + v))
                 - math.log((cn[t] + 1) / (tn + v))) for t in vocab}
    n_pos = sum(1 for r in rows if r[2] == "en")
    n_neg = len(rows) - n_pos
    prior = rhu(math.log(n_pos) - math.log(n_neg))
    assert got_model == {**lr, C.PRIOR_TERM: prior}
    for i, toks, _ in rows:
        expect = prior + sum(lr[t] for t in toks if t in lr)
        assert got[str(i)] == expect


# --------------------------------------------- PMI collocations (round 8)

pmi_docs_strategy = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=8),
    min_size=1, max_size=12)


@slow_ok
@given(pmi_docs_strategy)
def test_collocation_pmi_matches_naive(spark, docs):
    """collocation_pmi vs a naive Python PMI over adjacent bigrams."""
    import math
    from collections import Counter

    from casf_spark.operators import relevance as RV

    data = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {(r.w1, r.w2): (r.c_ab, r.pmi)
           for r in RV.collocation_pmi(df, "doc_id", "text", min_count=1,
                                       top_n=1000).collect()}

    uni = Counter(t for toks in docs for t in toks)
    big = Counter((a, b) for toks in docs for a, b in zip(toks, toks[1:]))
    n1, n2 = sum(uni.values()), sum(big.values())
    expect = {p: (c, round(math.log((c / n2)
                                    / ((uni[p[0]] / n1)
                                       * (uni[p[1]] / n1))), 6))
              for p, c in big.items()}
    assert got == expect


# ------------------------------------- perceptual fingerprints (round 8)

shift_strategy = st.tuples(st.integers(0, 2**31 - 1),   # raster seed
                           st.integers(0, 55))          # brightness shift


@slow_ok
@given(shift_strategy)
def test_dhash_uniform_shift_never_flips(spark, seed_shift):
    """For ANY base raster (pixels < 200) and ANY uniform shift <= 55,
    the integer-luma dHash is bit-identical — the provable invariance
    the planted oracle relies on."""
    import numpy as np

    from casf_spark.multimodal import binary as MM

    seed, d = seed_shift
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 200, size=(8, 9, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, base.tobytes()), (1, (base + np.uint8(d)).tobytes())],
        "doc_id long, payload binary")
    got = {r.doc_id: r.dhash for r in MM.dhash_rgb24(df, 9, 8).collect()}
    assert got[0] == got[1]


gain_strategy = st.tuples(st.integers(0, 2**31 - 1),    # signal seed
                          st.integers(1, 4))            # integer gain


@slow_ok
@given(gain_strategy)
def test_pcm_fingerprint_gain_never_flips(spark, seed_gain):
    """For ANY base signal (|s| < 8000) and ANY integer gain <= 4, the
    energy-contour fingerprint is bit-identical (energies scale by
    exactly gain²)."""
    import numpy as np

    from casf_spark.multimodal import binary as MM

    seed, k = seed_gain
    rng = np.random.default_rng(seed)
    base = rng.integers(-8000, 8000, size=640, dtype=np.int16)
    df = spark.createDataFrame(
        [(0, base.astype("<i2").tobytes()),
         (1, (base * np.int16(k)).astype("<i2").tobytes())],
        "doc_id long, payload binary")
    got = {r.doc_id: r.afp
           for r in MM.pcm_energy_fingerprint(df, n_frames=64).collect()}
    assert got[0] == got[1]
