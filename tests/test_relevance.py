"""Relevance operators: TF-IDF keyword extraction, BM25 retrieval, kNN
label classification — hand-computed fixtures plus invariants."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from casf_spark.operators import relevance as RV


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# -------------------------------------------------------------------- tf-idf

def test_tfidf_hand_computed(spark):
    # corpus of 3 docs; "cat" in 2 docs, "dog" in 1, "the" in all 3
    df = _docs(spark, [
        (1, "the cat cat"),
        (2, "the cat dog"),
        (3, "the the fish"),
    ])
    got = {(r["doc"], r["term"]): r.asDict()
           for r in RV.tfidf_terms(df, "doc_id", "text", top_k=10).collect()}

    def idf(df_t, n=3):
        return math.log((n + 1) / (df_t + 1)) + 1

    assert got[(1, "cat")]["tf"] == 2
    assert got[(1, "cat")]["tfidf"] == round(2 * idf(2), 6)
    assert got[(2, "dog")]["tfidf"] == round(1 * idf(1), 6)
    assert got[(3, "the")]["tfidf"] == round(2 * idf(3), 6)
    # rarer term outranks the ubiquitous one at equal tf
    assert got[(2, "dog")]["rank"] < got[(2, "the")]["rank"]


def test_tfidf_top_k_and_ties(spark):
    # doc 1 has four distinct once-only terms, all with identical df=1 ->
    # identical tfidf; top-2 must be the lexicographically first two
    df = _docs(spark, [(1, "delta alpha charlie bravo"), (2, "unrelated")])
    got = RV.tfidf_terms(df, "doc_id", "text", top_k=2) \
        .where(F.col("doc") == 1).orderBy("rank").collect()
    assert [r["term"] for r in got] == ["alpha", "bravo"]
    assert [r["rank"] for r in got] == [1, 2]


# ---------------------------------------------------------------------- bm25

def test_bm25_hand_computed(spark):
    df = _docs(spark, [
        (1, "spark spark engine"),
        (2, "spark row"),
        (3, "pure noise here"),
    ])
    got = RV.bm25_rank(df, ["spark"], "doc_id", "text", top_n=10).collect()
    # only docs containing a query term appear
    assert {r["doc"] for r in got} == {1, 2}
    by_doc = {r["doc"]: r for r in got}
    n, df_t = 3, 2
    avgdl = (3 + 2 + 3) / 3
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
    k1, b = 1.2, 0.75

    def bm25(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert by_doc[1]["score"] == round(bm25(2, 3), 6)
    assert by_doc[2]["score"] == round(bm25(1, 2), 6)
    assert by_doc[1]["n_hit_terms"] == 1
    # doc 1 has higher tf -> ranked first
    assert got[0]["doc"] == 1


def test_bm25_multi_term_accumulates(spark):
    df = _docs(spark, [(1, "alpha beta"), (2, "alpha"), (3, "gamma")])
    one = {r["doc"]: r["score"]
           for r in RV.bm25_rank(df, ["alpha"], "doc_id", "text").collect()}
    two = {r["doc"]: (r["score"], r["n_hit_terms"])
           for r in RV.bm25_rank(df, ["alpha", "beta"],
                                 "doc_id", "text").collect()}
    # adding a matched term strictly increases doc 1's score, not doc 2's
    assert two[1][0] > one[1] and two[1][1] == 2
    assert two[2][1] == 1


# ----------------------------------------------------------------------- knn

def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_knn_classify_two_clusters(spark):
    # two well-separated clusters; every vector's neighbors share its label
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 7))
        rows.append((10 + i, [-1.0, 0.01 * i], 3))
    emb = _emb(spark, rows)
    got = {r["vec_id"]: (r["pred_label"], r["n_votes"])
           for r in RV.knn_classify(emb, emb, k=3).collect()}
    for i in range(6):
        assert got[i] == (7, 3)
        assert got[10 + i] == (3, 3)


def test_knn_majority_tie_breaks_low_label(spark):
    # query 0's 2 nearest neighbors have labels 5 and 9 (one vote each):
    # tie must resolve to the smaller label
    emb = _emb(spark, [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.1], 9),
        (2, [0.99, -0.1], 5),
        (3, [-1.0, 0.0], 9),
    ])
    got = RV.knn_classify(emb, emb.where(F.col("vec_id") == 0), k=2).collect()
    assert len(got) == 1
    assert got[0]["pred_label"] == 5 and got[0]["n_votes"] == 1


# --------------------------------------------------------- vocab / unigram LM

def test_vocab_coverage_hand_computed(spark):
    df = _docs(spark, [(1, "a a a b b c"), (2, "a b x")])
    got = RV.vocab_coverage(df, "doc_id", "text", top_n=3).orderBy(
        "rank").collect()
    # counts: a=4, b=3, c=1, x=1 (ties break lexicographically)
    assert [(r["rank"], r["term"], r["cnt"]) for r in got] == \
        [(1, "a", 4), (2, "b", 3), (3, "c", 1)]
    assert got[0]["cum_share"] == round(4 / 9, 6)
    assert got[1]["cum_share"] == round(7 / 9, 6)
    assert got[2]["cum_share"] == round(8 / 9, 6)


def test_unigram_logprob_hand_computed(spark):
    import math
    # corpus: "a a b" + "c" -> p(a)=2/4, p(b)=1/4, p(c)=1/4
    df = _docs(spark, [(1, "a a b"), (2, "c")])
    got = {r["doc"]: r.asDict()
           for r in RV.unigram_logprob(df, "doc_id", "text").collect()}
    want1 = -(math.log(0.5) + math.log(0.5) + math.log(0.25)) / 3
    assert got[1]["n_tokens"] == 3
    assert got[1]["avg_neg_logprob"] == round(want1, 6)
    assert got[2]["avg_neg_logprob"] == round(-math.log(0.25), 6)
    # rare-token doc scores higher (more surprising) than common-token doc
    assert got[2]["avg_neg_logprob"] > round(-math.log(0.5), 6)


# ----------------------------------------------------------- centroid outliers

def test_label_centroid_outliers_flags_planted_outlier(spark):
    # label 1: five vectors near [1, 0] plus one planted at [-1, 0] --
    # the outlier must rank first (lowest cosine to the label centroid)
    rows = [(i, [1.0, 0.02 * i], 1) for i in range(5)]
    rows.append((99, [-1.0, 0.0], 1))
    rows += [(200 + i, [0.0, 1.0], 2) for i in range(3)]
    emb = _emb(spark, rows)
    got = RV.label_centroid_outliers(emb, k=2).collect()
    by_label = {}
    for r in got:
        by_label.setdefault(r["label"], []).append(r)
    assert by_label[1][0]["vec_id"] == 99
    assert by_label[1][0]["rank"] == 1
    assert by_label[1][0]["cos_centroid"] < 0
    # label 2's members are identical: all cosine 1.0, ties by vec_id
    assert [r["vec_id"] for r in sorted(by_label[2], key=lambda r: r["rank"])] \
        == [200, 201]


def test_bigram_logprob_hand_computed(spark):
    import math
    # corpus: "a b a b" + "a b" -> bigrams: (a,b)x3, (b,a)x1; the
    # vocabulary includes doc 3's "solo" -> V=3; prefix counts: a->3, b->1
    df = _docs(spark, [(1, "a b a b"), (2, "a b"), (3, "solo")])
    got = {r["doc"]: r.asDict()
           for r in RV.bigram_logprob(df, "doc_id", "text").collect()}
    p_ab = (3 + 1) / (3 + 3)   # (c(a,b)+1) / (c(a)+V)
    p_ba = (1 + 1) / (1 + 3)
    want1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    assert got[1]["n_bigrams"] == 3
    assert got[1]["avg_neg_logprob"] == round(want1, 6)
    assert got[2]["avg_neg_logprob"] == round(-math.log(p_ab), 6)
    assert 3 not in got   # single-token doc: no bigrams
    # the common transition (a->b) is less surprising than the rare one
    assert got[2]["avg_neg_logprob"] < got[1]["avg_neg_logprob"]


def test_rrf_fuse_hand_computed_and_ties(spark):
    """RRF fusion on hand-built rank lists: fused score equals the
    nano-unit sum of 1/(k+rank); an item in both legs beats a leg-#1
    that appears once; exact score ties order by item_id ascending; a
    3-leg fusion exercises the order-independent integer sum."""
    legA = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                                 "item_id long, rank int")
    legB = spark.createDataFrame([(20, 1), (40, 2), (10, 3)],
                                 "item_id long, rank int")
    got = {r.item_id: (r.n_legs, r.rrf_score)
           for r in RV.rrf_fuse([legA, legB], k=60).collect()}

    def term(rank):
        import math
        return math.floor(1e9 / (60 + rank) + 0.5)

    assert got[10] == (2, round((term(1) + term(3)) / 1e9, 6))
    assert got[20] == (2, round((term(2) + term(1)) / 1e9, 6))
    assert got[30] == (1, round(term(3) / 1e9, 6))
    assert got[40] == (1, round(term(2) / 1e9, 6))
    # both-leg items beat single-leg items even when the single leg
    # ranked them #2
    assert got[10][1] > got[40][1] and got[20][1] > got[40][1]

    # exact tie: items 1 and 2 get identical (leg, rank) profiles ->
    # identical fused scores; the output order (and any downstream
    # top-n cut) must break ties by item_id ascending
    t1 = spark.createDataFrame([(2, 1), (1, 1)], "item_id long, rank int")
    t2 = spark.createDataFrame([(1, 2), (2, 2)], "item_id long, rank int")
    rows = RV.rrf_fuse([t1, t2], k=60, top_n=1).collect()
    assert [r.item_id for r in rows] == [1]

    # three legs: the integer nano-unit sum is order-independent, so
    # permuting the leg list never changes a score
    l3 = spark.createDataFrame([(10, 1), (20, 5)], "item_id long, rank int")
    a = {r.item_id: r.rrf_score
         for r in RV.rrf_fuse([legA, legB, l3], k=60).collect()}
    b = {r.item_id: r.rrf_score
         for r in RV.rrf_fuse([l3, legB, legA], k=60).collect()}
    assert a == b
    assert a[10] == round((term(1) + term(3) + term(1)) / 1e9, 6)


def test_rrf_fuse_weighted(spark):
    """Per-leg weights tilt the fusion: with weight 2 on leg A, an item
    A ranks #2 beats an item B ranks #1; weight rounding happens once on
    the exact product so permutation-invariance still holds."""
    import math
    legA = spark.createDataFrame([(1, 1), (2, 2)], "item_id long, rank int")
    legB = spark.createDataFrame([(3, 1), (1, 3)], "item_id long, rank int")
    got = {r.item_id: r.rrf_score
           for r in RV.rrf_fuse([legA, legB], k=60,
                                weights=[2.0, 1.0]).collect()}

    def t(w, rank):
        return math.floor(w * 1e9 / (60 + rank) + 0.5)

    assert got[1] == round((t(2.0, 1) + t(1.0, 3)) / 1e9, 6)
    assert got[2] == round(t(2.0, 2) / 1e9, 6)
    assert got[3] == round(t(1.0, 1) / 1e9, 6)
    # the doubled lexical leg makes its #2 beat the vector leg's #1
    assert got[2] > got[3]
    # default weights unchanged vs explicit ones
    a = {r.item_id: r.rrf_score for r in RV.rrf_fuse([legA, legB]).collect()}
    b = {r.item_id: r.rrf_score
         for r in RV.rrf_fuse([legA, legB], weights=[1.0, 1.0]).collect()}
    assert a == b


# ---------------------------------------------------------------- tfidf_rank

def test_tfidf_rank_hand_computed(spark):
    """tfidf_rank on a 4-doc corpus: score = tf * (ln((N+1)/(df+1)) + 1)
    summed over query terms, df counted over the HIT set; ranking is
    (score desc, doc asc)."""
    docs = _docs(spark, [(0, "cat cat dog"), (1, "cat fish"),
                         (2, "dog dog bird"), (3, "fish bird bird")])
    got = {r.doc: (r.score, r.n_hit_terms)
           for r in RV.tfidf_rank(docs, ["cat", "bird"], "doc_id", "text",
                                  top_n=10).collect()}
    idf = math.log(5 / 3) + 1  # N=4, df=2 for both terms
    assert got[0] == (round(2 * idf, 6), 1)   # cat x2
    assert got[3] == (round(2 * idf, 6), 1)   # bird x2
    assert got[1] == (round(1 * idf, 6), 1)
    assert got[2] == (round(1 * idf, 6), 1)
    # docs without any query term never appear
    assert set(got) == {0, 1, 2, 3}
    extra = _docs(spark, [(9, "nothing relevant here")])
    got2 = RV.tfidf_rank(docs.unionByName(extra), ["cat"], "doc_id",
                         "text", top_n=10).collect()
    assert {r.doc for r in got2} == {0, 1}


def test_tfidf_rank_multi_term_accumulates_and_cuts(spark):
    """A doc hitting two query terms outranks a doc hitting one with the
    same tf; top_n cuts by (score desc, doc asc)."""
    docs = _docs(spark, [(0, "cat bird"), (1, "cat cat"), (2, "cat x")])
    rows = RV.tfidf_rank(docs, ["cat", "bird"], "doc_id", "text",
                         top_n=2).collect()
    assert len(rows) == 2
    got = {r.doc: r.n_hit_terms for r in rows}
    assert got[0] == 2  # both terms hit


# ---------------------------------------------------------------- PMI

def test_collocation_pmi_hand_computed(spark):
    """PMI over adjacent bigrams: pmi = ln((c_ab/N2) / ((c_a/N1)^2-ish));
    min_count floors c_ab; NULL-text and single-token docs contribute no
    bigrams; ties order (pmi desc, w1 asc, w2 asc)."""
    docs = spark.createDataFrame(
        [(0, "new york new york city"), (1, "york new haven"),
         (2, None), (3, "solo")], "doc_id long, text string")
    got = RV.collocation_pmi(docs, "doc_id", "text", min_count=2,
                             top_n=10).collect()
    # bigrams: doc0 (new,york)x2 (york,new) (york,city); doc1 (york,new)
    # (new,haven) -> c_ab>=2 keeps (new,york)=2 and (york,new)=2.
    # N1=9 tokens, N2=6 bigrams, c_new=c_york=3.
    pmi = round(math.log((2 / 6) / ((3 / 9) * (3 / 9))), 6)
    assert [(r.w1, r.w2, r.c_ab, r.pmi) for r in got] == [
        ("new", "york", 2, pmi), ("york", "new", 2, pmi)]


def test_collocation_pmi_floor_and_negative(spark):
    """A pair rarer than chance gets NEGATIVE pmi; min_count=1 admits
    singletons; top_n cuts after the (pmi, w1, w2) sort."""
    # "a b" dominates; "a c" occurs once though a and c are common
    docs = spark.createDataFrame(
        [(0, "a b a b a b a b"), (1, "a c a a a a")],
        "doc_id long, text string")
    got = {(r.w1, r.w2): r.pmi
           for r in RV.collocation_pmi(docs, "doc_id", "text",
                                       min_count=1, top_n=20).collect()}
    assert got[("a", "b")] > 0 > got[("a", "a")]
    top = RV.collocation_pmi(docs, "doc_id", "text", min_count=1,
                             top_n=1).collect()
    assert got[(top[0].w1, top[0].w2)] == max(got.values())


def test_hard_negative_mine_hand_computed(spark):
    """Semi-hard band on unit 2-D vectors with exact x-component
    cosines: negatives rank by similarity; semi_hard only inside
    (pos - margin, pos); a too-hard negative (above the best positive)
    is flagged false; k_neg cuts the tail."""
    import math

    def u(x):
        return [x, math.sqrt(1.0 - x * x)]

    rows = [(0, [1.0, 0.0], 10), (1, u(0.8), 10),
            (2, u(0.79), 20), (3, u(0.6), 20), (4, u(0.9), 20),
            (5, u(0.2), 30)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = RV.hard_negative_mine(emb, emb.where("vec_id = 0"),
                                k_pool=10, k_neg=3,
                                margin=0.05).orderBy("neg_rank").collect()
    assert [(r.negative_id, r.cos_sim, r.neg_rank, r.semi_hard)
            for r in got] == [
        (4, 0.9, 1, False),   # harder than the best positive -> not semi
        (2, 0.79, 2, True),   # 0.75 < 0.79 < 0.8
        (3, 0.6, 3, False),   # below the margin band
    ], got
    assert all(r.best_pos_sim == 0.8 and r.anchor_label == 10 for r in got)
    # id 5 (cos 0.2) was rank 4 -> cut by k_neg=3


def test_hard_negative_mine_no_positive_in_pool(spark):
    """An anchor whose label appears nowhere else: best_pos_sim is NULL
    and semi_hard is false (pool-bounded mining contract), negatives
    still emitted."""
    import math

    def u(x):
        return [x, math.sqrt(1.0 - x * x)]

    rows = [(0, [1.0, 0.0], 10), (1, u(0.8), 20), (2, u(0.6), 20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = RV.hard_negative_mine(emb, emb.where("vec_id = 0"),
                                k_pool=5, k_neg=5).collect()
    assert len(got) == 2
    assert all(r.best_pos_sim is None and r.semi_hard is False
               for r in got)


# ---------------------------------------------------------------------------
# negative sampling (word2vec unigram^0.75)
# ---------------------------------------------------------------------------

def test_negative_sampling_table_python_reference(spark):
    """Layout equals a single-threaded rebuild: counts^0.75 folded to
    integer micro-units, cumulative [lo, hi) in (cnt desc, word)
    order."""
    import math

    from casf_spark.operators.relevance import negative_sampling_table

    docs = spark.createDataFrame(
        [(1, "aa aa aa aa bb bb cc")], "doc_id long, text string")
    rows = sorted(negative_sampling_table(docs, "doc_id", "text",
                                          vocab_size=8).collect(),
                  key=lambda r: r.lo_u)
    counts = {"aa": 4, "bb": 2, "cc": 1}
    order = sorted(counts, key=lambda w: (-counts[w], w))
    lo = 0
    for r, w in zip(rows, order):
        wu = math.floor(counts[w] ** 0.75 * 1_000_000 + 0.5)
        assert (r.word, r.cnt, r.w_u, r.lo_u, r.hi_u) == \
            (w, counts[w], wu, lo, lo + wu)
        lo += wu


def test_negative_draws_exact_and_proportional(spark):
    """Every (key, j) yields exactly ONE word (ranges partition the
    line, bucket join + filter can't drop or duplicate), the draw
    equals a python md5 replay, and a heavily weighted word dominates
    the sample."""
    import hashlib
    import math

    from casf_spark.operators.relevance import (negative_draws,
                                                negative_sampling_table)

    docs = spark.createDataFrame(
        [(1, ("hot " * 60 + "cold " * 2 + "warm " * 2).strip())],
        "doc_id long, text string")
    t = negative_sampling_table(docs, "doc_id", "text", vocab_size=8)
    keys = spark.createDataFrame([(i,) for i in range(200)],
                                 "doc_id long")
    got = {(int(r.key_val), r.j): r.word
           for r in negative_draws(t, keys, "doc_id", k=3).collect()}
    assert len(got) == 600  # exactly one word per (key, j)

    # python replay
    counts = {"hot": 60, "cold": 2, "warm": 2}
    order = sorted(counts, key=lambda w: (-counts[w], w))
    ranges, lo = [], 0
    for w in order:
        wu = math.floor(counts[w] ** 0.75 * 1_000_000 + 0.5)
        ranges.append((w, lo, lo + wu))
        lo += wu
    for (key, j), word in got.items():
        h = int(hashlib.md5(f"{key}:{j}".encode()).hexdigest()[:15], 16)
        u = h % lo
        [want] = [w for w, a, b in ranges if a <= u < b]
        assert word == want
    hot_share = sum(1 for w in got.values() if w == "hot") / len(got)
    assert hot_share > 0.75  # 60^0.75 vs two 2^0.75 tails


def test_negative_sampling_validation(spark):
    import pytest

    from casf_spark.operators.relevance import (negative_draws,
                                                negative_sampling_table)

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab_size"):
        negative_sampling_table(docs, "doc_id", "text", vocab_size=0)
    t = negative_sampling_table(docs, "doc_id", "text", vocab_size=4)
    with pytest.raises(ValueError, match="k must be"):
        negative_draws(t, docs.select("doc_id"), "doc_id", k=0)


# ---------------------------------------------------------------------------
# skipgram_cooc
# ---------------------------------------------------------------------------

def test_skipgram_python_reference_and_symmetry(spark):
    from casf_spark.operators.relevance import skipgram_cooc

    docs = [(i, " ".join(f"w{(i * 3 + j) % 7}" for j in range(12)))
            for i in range(10)]
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .repartition(4)
    got = {(r.center, r.context): r.cnt
           for r in skipgram_cooc(df, "doc_id", "text", window=2,
                                  min_count=1).collect()}
    want: dict[tuple[str, str], int] = {}
    for _, text in docs:
        toks = text.split()
        for i, c in enumerate(toks):
            for j in range(max(0, i - 2), min(len(toks), i + 3)):
                if j != i:
                    k = (c, toks[j])
                    want[k] = want.get(k, 0) + 1
    assert got == want
    # window co-occurrence is symmetric by construction
    assert all(got[(a, b)] == got[(b, a)] for a, b in got)


def test_skipgram_min_count_and_validation(spark):
    import pytest

    from casf_spark.operators.relevance import skipgram_cooc

    df = spark.createDataFrame([(1, "a b a b c")],
                               "doc_id long, text string")
    got = {(r.center, r.context): r.cnt
           for r in skipgram_cooc(df, "doc_id", "text", window=1,
                                  min_count=2).collect()}
    # only (a,b)/(b,a) reach the floor within a +/-1 window: a@0->b@1,
    # a@2->{b@1, b@3} and the mirrors; (b,c)/(c,b) stay at 1
    assert got == {("a", "b"): 3, ("b", "a"): 3}
    with pytest.raises(ValueError, match="window"):
        skipgram_cooc(df, "doc_id", "text", window=0)


# ---------------------------------------------------------------------------
# retrieval_ndcg
# ---------------------------------------------------------------------------

def test_ndcg_python_replica_and_bounds(spark):
    """dcg/idcg/ndcg equal a single-threaded replica of the same BM25 +
    capped-relevance + nano-fold pipeline, and ndcg <= 1 with equality
    iff the ranking is ideal."""
    import math

    from casf_spark.operators.relevance import retrieval_ndcg

    terms = ["apple", "pear"]
    docs = [(i, ("apple " * (1 + i % 9) + "pear " * (i % 3)
                 + "filler " * (i % 13)).strip()) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    [row] = retrieval_ndcg(df, terms, "doc_id", "text",
                           k=5, pool_n=10).collect()

    # python replica
    toks = {i: t.split() for i, t in docs}
    dl = {i: len(ws) for i, ws in toks.items()}
    n_docs, avgdl = len(docs), sum(dl.values()) / len(docs)
    tf = {}
    for i, ws in toks.items():
        for t in terms:
            c = ws.count(t)
            if c:
                tf[(i, t)] = float(c)
    dfreq = {t: float(sum(1 for (i, tt) in tf if tt == t)) for t in terms}
    score = {}
    for (i, t), f in tf.items():
        idf = math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
        score[i] = score.get(i, 0.0) + idf * f * 2.2 / (
            f + 1.2 * (1 - 0.75 + 0.75 * dl[i] / avgdl))
    ranked = sorted(((round(s, 6), -i) for i, s in score.items()),
                    reverse=True)[:10]
    rel = {i: min(sum(toks[i].count(t) for t in terms), 7)
           for i in score}
    dcg_u = sum(math.floor(rel[-negi] / math.log2(r + 2) * 1e9 + 0.5)
                for r, (_, negi) in enumerate(ranked[:5]))
    ideal = sorted(((rel[i], -i) for i in rel), reverse=True)[:5]
    idcg_u = sum(math.floor(rv / math.log2(r + 2) * 1e9 + 0.5)
                 for r, (rv, _) in enumerate(ideal))
    assert row.k == 5
    assert row.dcg == round(dcg_u / 1e9, 6)
    assert row.idcg == round(idcg_u / 1e9, 6)
    assert row.ndcg == round(dcg_u / idcg_u, 6)
    assert row.ndcg <= 1.0


def test_keyness_terms_hand_case(spark):
    """G2 keyness on a hand corpus: 'zebra' is exclusive to src a ->
    highest keyness there; shared terms with equal rates rank below or
    are excluded by the over-representation guard."""
    import math

    from casf_spark.operators.relevance import keyness_terms

    docs = spark.createDataFrame(
        [(1, "a", "zebra zebra common word"),
         (2, "a", "zebra common word"),
         (3, "b", "common word other other"),
         (4, "b", "common word other")],
        "doc_id long, source string, text string")
    got = {(r.grp, r.term): (r.rank, r.a, r.b, r.g2)
           for r in keyness_terms(docs, "source", "doc_id", "text",
                                  top_k=3).collect()}
    # zebra: a=3 in src a (c=7 tokens), b=0 elsewhere (d=7)
    rank, a, b, g2 = got[("a", "zebra")]
    assert (rank, a, b) == (1, 3, 0)
    exp = round(2.0 * 3.0 * math.log(3.0 / (7.0 * 3.0 / 14.0)), 6)
    assert g2 == exp
    # 'other' is exclusive to b -> rank 1 there
    assert got[("b", "other")][0] == 1
    # evenly-spread terms are not over-represented anywhere
    assert ("a", "common") not in got and ("b", "common") not in got


def test_heldout_jm_unseen_bigram_falls_back_to_unigram(spark):
    """A held doc whose transitions are unseen in train scores on the
    (1-lam)-weighted unigram leg; a doc whose transitions were seen
    scores lower (higher likelihood); lam=1 on an unseen transition
    would be -ln(0) — the guard keeps p positive via the unigram
    fallback."""
    import math

    from casf_spark.operators.relevance import heldout_interpolated_logprob

    train = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d")],
        "doc_id long, text string")
    score = spark.createDataFrame(
        [(10, "a b"),    # transition seen in train
         (11, "b a")],   # both words known, transition unseen
        "doc_id long, text string")
    got = {r.doc: (r.n_tokens, r.avg_neg_logprob)
           for r in heldout_interpolated_logprob(
               train, score, "doc_id", "text", lam=0.75).collect()}
    assert got[10][0] == 2 and got[11][0] == 2
    # seen transitions -> strictly more likely
    assert got[10][1] < got[11][1]
    # hand check doc 10: N=6 train tokens, V=4; first token 'a':
    # p = (2+1)/(6+4+1); then 'b'|'a': p_bi = 2/2 = 1, p_uni = 3/11
    # -> p = .75*1 + .25*(3/11)
    exp = (-(math.log(3 / 11))
           + -(math.log(0.75 * 1.0 + 0.25 * (3 / 11))))
    import math as m
    t1 = m.floor(-(m.log(3 / 11)) * 1e9 + 0.5)
    t2 = m.floor(-(m.log(0.75 + 0.25 * (3 / 11))) * 1e9 + 0.5)
    assert got[10][1] == round((t1 + t2) / 2e9, 6)


def test_heldout_lm_salted_joins_are_value_identical(spark, sf_dir):
    """n_salt > 0 must only rebalance exchanges: the heldout scorer
    returns identical rows with and without salting on the real
    documents table (each stream row meets exactly one replica of its
    matching count row), and a negative n_salt raises."""
    import pytest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    fn = RV.heldout_interpolated_logprob
    plain = sorted(map(tuple, fn(train, held, "doc_id", "text")
                       .collect()))
    salted = sorted(map(tuple, fn(train, held, "doc_id", "text",
                                  n_salt=4).collect()))
    assert plain == salted and len(plain) > 0
    with pytest.raises(ValueError):
        RV.heldout_interpolated_logprob(train, held, "doc_id", "text",
                                        n_salt=-1)


def test_keyness_single_group_degrades_empty(spark):
    """A single-group corpus has no 'rest' (d = 0): the report is empty
    by documented degradation (the vocab_jsd convention) instead of an
    ANSI DIVIDE_BY_ZERO crash."""
    from casf_spark.operators.relevance import keyness_terms

    docs = spark.createDataFrame(
        [(i, "s0", "alpha beta gamma") for i in range(4)],
        "doc_id long, source string, text string")
    assert keyness_terms(docs, "source", "doc_id", "text").count() == 0


def test_heldout_jm_rejects_lam_one(spark):
    """lam=1.0 would score an unseen transition with a seen prefix as
    p=0 (-ln overflows the nano-unit fold) — rejected up front."""
    import pytest
    from casf_spark.operators.relevance import heldout_interpolated_logprob

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="lam"):
        heldout_interpolated_logprob(docs, docs, "doc_id", "text", lam=1.0)


def test_hard_negative_mine_string_labels(spark):
    """Labels compare AS-IS: string labels ('en'/'fr') used to be cast
    to long -> all NULL -> silently empty output."""
    from casf_spark.operators.relevance import hard_negative_mine

    rows = [(0, "en", [1.0, 0.0]), (1, "en", [0.9, 0.1]),
            (2, "fr", [0.8, 0.2]), (3, "fr", [0.0, 1.0])]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>")
    out = hard_negative_mine(emb, emb.where("vec_id = 0"),
                             k_pool=4, k_neg=2, margin=0.5).collect()
    assert len(out) > 0
    assert all(r.anchor_label == "en" and r.negative_id in (2, 3)
               for r in out)
