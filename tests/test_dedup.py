from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    data = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base.replace("dog", "cat")),            # near dup
        (4, "completely different words about spark query engines here"),
        (5, "THE  Quick Brown   Fox jumps over the lazy dog again and again"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_dedup_exact_keeps_one_per_group(spark, dup_docs):
    kept = {r.doc_id for r in DD.dedup_exact(dup_docs, "doc_id", "text").collect()}
    assert kept == {1, 3, 4}


def test_ngram_jaccard_identical_is_one(spark, dup_docs):
    pairs = {(r.doc0, r.doc1): r.jaccard
             for r in DD.ngram_jaccard_pairs(dup_docs, "doc_id", "text",
                                             n=3, threshold=0.1).collect()}
    assert pairs[(2, 1)] == 1.0
    assert pairs[(5, 1)] == 1.0
    assert 0.1 <= pairs[(3, 1)] < 1.0
    assert (4, 1) not in pairs


def test_minhash_lsh_catches_exact_and_near(spark, dup_docs):
    cand = {(r.doc0, r.doc1)
            for r in DD.minhash_lsh_pairs(dup_docs, "doc_id", "text").collect()}
    assert (2, 1) in cand and (5, 1) in cand
    assert (4, 1) not in cand


def test_simhash_identical_zero_distance(spark, dup_docs):
    pairs = {(r.doc0, r.doc1): r.hamming
             for r in DD.simhash_pairs(dup_docs, "doc_id", "text",
                                       max_hamming=5).collect()}
    assert pairs[(2, 1)] == 0
    assert pairs[(5, 1)] == 0
    assert (4, 1) not in pairs


def test_embedding_near_dups(spark):
    data = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),     # identical
        (3, [0.9, 0.1, 0.0]),     # close
        (4, [0.0, 1.0, 0.0]),     # orthogonal to 1
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    pairs = {(r.id0, r.id1): r.cos_sim
             for r in DD.embedding_near_dups(df, threshold=0.9).collect()}
    assert pairs[(2, 1)] == 1.0
    assert (3, 1) in pairs and (3, 2) in pairs
    assert (4, 1) not in pairs


def test_embedding_near_dups_matches_numpy_all_pairs(spark, sf_dir):
    """The distributed blocked GEMM returns exactly the pairs of a
    single-matrix numpy all-pairs reference on real embeddings (float32
    inputs widened to float64, zero-norm rows stay zero, cosine rounded
    to 6dp, canonical id0 > id1) — and its plan contains no driver-side
    collect of the corpus (it is groupBy+applyInPandas)."""
    import numpy as np

    from casf_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted((r.id0, r.id1, r.cos_sim)
                 for r in DD.embedding_near_dups(emb, threshold=0.3)
                 .collect())
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    m = m / np.where(norms == 0.0, 1.0, norms)
    s = np.round(m @ m.T, 6)
    i, j = np.nonzero((s >= 0.3) & (ids[:, None] > ids[None, :]))
    want = sorted(zip(ids[i].tolist(), ids[j].tolist(), s[i, j].tolist()))
    assert got == want
    assert len(got) > 0
    plan = DD.embedding_near_dups(emb, threshold=0.3)._jdf \
        .queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_shingles_short_doc_no_crash(spark):
    df = spark.createDataFrame([(1, "one"), (2, "two words")],
                               "doc_id long, text string")
    out = DD.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1)
    assert out.count() == 0


def test_winnow_overlap_pairs(spark):
    """Docs sharing a >= k+w-1 token run must pair; unrelated docs must
    not. min_shared filters incidental single-fingerprint collisions."""
    from casf_spark.operators.dedup import winnow_overlap_pairs

    run = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
           "eiusmod tempor incididunt ut labore")
    df = spark.createDataFrame(
        [(1, f"prefix one {run} suffix alpha"),
         (2, f"other opening {run} closing words"),
         (3, "entirely disjoint content about completely different topics "
             "nothing shared with any other document here")],
        "doc_id long, text string")
    pairs = winnow_overlap_pairs(df, "doc_id", "text", k=5, w=4, min_shared=2)
    rows = {(r.doc0, r.doc1) for r in pairs.collect()}
    assert (2, 1) in rows
    assert all(3 not in p for p in rows)


def test_connected_components_transitivity(spark):
    """A~B, B~C (A and C never paired) must land in one cluster; a chain
    long enough to require pointer jumping must still converge; disjoint
    pairs stay separate."""
    pairs = spark.createDataFrame(
        # component {1,2,3} via chain, component {10,11}, chain {20..25}
        [(2, 1), (3, 2), (11, 10)] + [(i + 1, i) for i in range(20, 25)],
        "doc0 long, doc1 long")
    for thresh in (10_000_000, 0):  # union-find path, then distributed
        got = {(r.doc_id, r.cluster_id)
               for r in DD.connected_components(
                   pairs, small_graph_edges=thresh).collect()}
        assert {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)} <= got
        assert {(i, 20) for i in range(20, 26)} <= got
        assert len(got) == 11


def test_star_edges_same_components_as_pairs(spark, dup_docs):
    """Star-contracted bucket edges must yield exactly the clique pairs'
    connected components (same node set, same cluster assignment)."""
    pairs = DD.minhash_lsh_pairs(dup_docs, "doc_id", "text")
    stars = DD.minhash_lsh_star_edges(dup_docs, "doc_id", "text")
    via_pairs = {(r.doc_id, r.cluster_id)
                 for r in DD.connected_components(pairs).collect()}
    via_stars = {(r.doc_id, r.cluster_id)
                 for r in DD.connected_components(stars).collect()}
    assert via_stars == via_pairs and len(via_pairs) > 0


def test_cross_doc_spans_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b c d x y"), (2, "a b c d z"), (3, "q r s t u"),
         (4, "m n m n")],
        "doc_id long, text string")
    got = {r["doc"]: r.asDict()
           for r in DD.cross_doc_spans(df, "doc_id", "text", n=2).collect()}
    # "a b","b c","c d" are shared between docs 1 and 2 -> they cover
    # token positions 0..3 in both (overlaps counted once)
    assert got[1]["covered"] == 4 and got[1]["n_tokens"] == 6
    assert got[1]["dup_span_frac"] == round(4 / 6, 6)
    assert got[2]["covered"] == 4 and got[2]["n_tokens"] == 5
    assert got[2]["dup_span_frac"] == 0.8
    # doc 3 shares nothing; doc 4 repeats "m n" only WITHIN itself --
    # same-doc repetition is repetition_features' job, not cross-doc dedup
    assert got[3]["covered"] == 0 and got[3]["dup_span_frac"] == 0.0
    assert got[4]["covered"] == 0


def test_cross_doc_spans_short_docs_survive(spark):
    # docs shorter than n produce no grams but still appear with zero
    # coverage (left join back to lengths)
    df = spark.createDataFrame([(1, "one two three"), (2, "hi")],
                               "doc_id long, text string")
    got = {r["doc"]: r.asDict()
           for r in DD.cross_doc_spans(df, "doc_id", "text", n=3).collect()}
    assert got[2]["n_tokens"] == 1 and got[2]["covered"] == 0
    assert got[1]["covered"] == 0


def test_incremental_dedup_statuses(spark):
    hist = spark.createDataFrame([
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
        (3, "totally unrelated history content lives here now"),
    ], "doc_id long, text string")
    new = spark.createDataFrame([
        # exact copy of doc 1
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # near copy of doc 2 (one trailing token changed)
        (101, "one two three four five six seven eight nine eleven"),
        # fresh content
        (102, "entirely novel words never seen before anywhere else"),
    ], "doc_id long, text string")
    got = {r["doc"]: r["status"]
           for r in DD.incremental_dedup(new, hist, "doc_id",
                                         "text").collect()}
    assert got[100] == "exact_dup"   # precedence over near_dup
    assert got[101] == "near_dup"
    assert got[102] == "new"
    assert len(got) == 3             # one row per new doc, history absent


def test_collision_clusters_bag_of_words(spark):
    df = spark.createDataFrame([
        (1, "alpha beta gamma"),
        (2, "gamma ALPHA beta beta"),   # same distinct-token bag -> collides
        (3, "alpha beta delta"),        # different bag
        (4, "beta, gamma... alpha!"),   # punctuation normalizes away
    ], "doc_id long, text string")
    got = {r["doc"]: (r["keep_id"], r["cluster_size"])
           for r in DD.collision_clusters(df, "doc_id", "text").collect()}
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[4] == (1, 3)
    assert 3 not in got                 # singleton clusters not reported


def test_ngram_novelty_first_occurrence_credit(spark):
    """Hand-built corpus: doc 1 fully novel; doc 2 repeats doc 1's text
    (zero novelty); doc 3 is half-new."""
    from casf_spark.operators.dedup import ngram_novelty
    d1 = "a b c d e"                 # grams: abcd, bcde -> both novel
    d2 = "a b c d e"                 # same grams, first_doc=1 -> novel 0
    d3 = "a b c d x y z w"           # grams: abcd(old), bcdx,cdxy,dxyz,xyzw
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id LONG, text STRING")
    got = {r.doc: (r.n_grams, r.novel, r.novelty_frac)
           for r in ngram_novelty(df, "doc_id", "text", n=4).collect()}
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (5, 4, 0.8)


# ---------------------------------------------------------------------------
# remove_duplicated_spans (exact substring dedup with removal)
# ---------------------------------------------------------------------------

def test_remove_spans_first_occurrence_wins(spark):
    from casf_spark.operators.dedup import remove_duplicated_spans
    shared = "alpha beta gamma delta epsilon"
    rows = [(1, f"one uniq filler {shared} tail1 word1"),
            (2, f"two other filler {shared} tail2 word2"),
            (3, f"{shared} three more filler tail3"),
            (4, "totally unrelated content nothing shared here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc: r for r in
           remove_duplicated_spans(df, "doc_id", "text", n=4).collect()}
    # doc 1 is the min doc for every duplicated gram -> untouched
    assert out[1].n_removed == 0
    assert out[1].cleaned_text == rows[0][1]
    # docs 2 and 3 lose the whole shared span, keep their own words
    for d in (2, 3):
        assert "alpha" not in out[d].cleaned_text
        assert "epsilon" not in out[d].cleaned_text
    assert "two" in out[2].cleaned_text and "tail2" in out[2].cleaned_text
    assert "three" in out[3].cleaned_text
    # unique doc untouched
    assert out[4].n_removed == 0
    # conservation on every row
    for r in out.values():
        kept = len(r.cleaned_text.split()) if r.cleaned_text else 0
        assert kept == r.n_tokens - r.n_removed
        assert r.removed_frac == round(r.n_removed / r.n_tokens, 6)


def test_remove_spans_short_docs_pass_through(spark):
    from casf_spark.operators.dedup import remove_duplicated_spans
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    out = {r.doc: r for r in
           remove_duplicated_spans(df, "doc_id", "text", n=4).collect()}
    # 3-token docs have no 4-grams: identical but untouched
    assert out[1].n_removed == 0 and out[2].n_removed == 0
    assert out[2].cleaned_text == "a b c"


def test_keep_cluster_representative(spark):
    from casf_spark.operators.dedup import keep_cluster_representative
    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long")
    qual = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 5)],
        "doc_id long, n_tokens long")
    out = {r.doc_id: r for r in
           keep_cluster_representative(members, qual, "n_tokens").collect()}
    assert len(out) == 5
    # cluster 1: docs 2 and 3 tie on quality -> smaller id wins
    assert out[2].keep and not out[3].keep and not out[1].keep
    # cluster 7: tie -> doc 7 wins
    assert out[7].keep and not out[8].keep
    # exactly one representative per cluster
    assert sum(r.keep for r in out.values()) == 2


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    (short -> long) = 1.0 while Jaccard stays below any useful
    threshold — the case the asymmetric measure exists for."""
    from casf_spark.operators.dedup import (containment_pairs,
                                            ngram_jaccard_pairs)
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, f"{filler} {short} {filler}"),
         (3, "nothing shared here at all friends")],
        "doc_id long, text string")
    cont = {(r.src_doc, r.dst_doc): r.containment for r in
            containment_pairs(df, "doc_id", "text", n=3,
                              threshold=0.9).collect()}
    assert cont[(1, 2)] == 1.0          # short fully inside long
    assert (2, 1) not in cont           # long not contained in short
    assert not any(3 in k for k in cont)
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3,
                              threshold=0.5).collect()
    assert not jac                      # Jaccard misses the quote entirely


def test_keep_cluster_representative_missing_quality_fails_safe(spark):
    """A member absent from the quality table must still appear (NULL
    quality, ranked last) — silently dropping it would let the near-dup
    survive a downstream 'remove keep=False' pass."""
    from casf_spark.operators.dedup import keep_cluster_representative
    members = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long")
    qual = spark.createDataFrame(
        [(1, 10), (2, 30)], "doc_id long, n_tokens long")  # doc 3 missing
    out = {r.doc_id: r for r in
           keep_cluster_representative(members, qual, "n_tokens").collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].keep and not out[1].keep
    assert not out[3].keep and out[3].n_tokens is None


def test_pagerank_matches_reference_recurrence(spark):
    """3-iteration PageRank on a hand-built graph equals the reference
    recurrence computed by hand in the SAME integer micro-units (the
    fixed-point engine-parity discipline: integer sums are
    order-independent, so no float drift is possible), and the
    structural facts hold: the hub of a star graph outranks every leaf
    and ranks are positive."""
    import math

    # star (0 center; 1,2,3 leaves) plus a detached pair (10, 11)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (10, 11)], "doc0 long, doc1 long")
    got = {r.doc_id: (r.degree, r.rank)
           for r in DD.pagerank_iterations(pairs, n_iter=3,
                                           damping=0.85).collect()}

    nodes = [0, 1, 2, 3, 10, 11]
    deg = {0: 3, 1: 1, 2: 1, 3: 1, 10: 1, 11: 1}
    edges = [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0),
             (10, 11), (11, 10)]
    n = len(nodes)
    scale_u = 1_000_000
    teleport_u = (1.0 - 0.85) * scale_u
    rank_u = {v: math.floor(float(scale_u) / n + 0.5) for v in nodes}
    for _ in range(3):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += math.floor(rank_u[s] / deg[s] + 0.5)
        rank_u = {v: (math.floor(teleport_u / n + 0.5)
                      + math.floor(0.85 * inflow[v] + 0.5))
                  for v in nodes}
    for v in nodes:
        want = (deg[v], round(rank_u[v] / float(scale_u), 6))
        assert got[v] == want, (v, got[v], want)
    assert got[0][1] > got[1][1]          # hub outranks leaves
    assert all(r > 0 for _, r in got.values())


# ---------------------------------------------------------- blocked_pairs

def test_blocked_pairs_hand_computed(spark):
    """Candidate pairs form ONLY within a block, ordered id0 < id1, with
    tagged payload columns on both sides."""
    from casf_spark.operators.dedup import blocked_pairs

    df = spark.createDataFrame(
        [(1, "b1", "x"), (2, "b1", "y"), (3, "b1", "z"),
         (4, "b2", "w"), (5, "b2", "v"), (6, "b3", "u")],
        "rid long, blk string, payload string")
    got = {(r.id0, r.id1): (r.payload_0, r.payload_1)
           for r in blocked_pairs(df, "rid", ["blk"],
                                  ["payload"]).collect()}
    assert got == {(1, 2): ("x", "y"), (1, 3): ("x", "z"),
                   (2, 3): ("y", "z"), (4, 5): ("w", "v")}


def test_blocked_pairs_oversize_block_guard(spark):
    """A planted hot block (the quadratic bomb: one shared default-ish
    key) is diverted, not paired: with max_block_size=3 the 5-record
    block emits ZERO pairs while normal blocks pair as usual."""
    from casf_spark.operators.dedup import blocked_pairs

    rows = [(i, "HOT", f"p{i}") for i in range(1, 6)]       # 5-rec bomb
    rows += [(10, "b1", "x"), (11, "b1", "y"), (12, "b2", "z")]
    df = spark.createDataFrame(rows, "rid long, blk string, payload string")

    got = {(r.id0, r.id1)
           for r in blocked_pairs(df, "rid", ["blk"], ["payload"],
                                  max_block_size=3).collect()}
    assert got == {(10, 11)}, got        # the bomb's 10 pairs diverted

    # cap None (default) keeps the old behavior: the bomb pairs fully
    all_pairs = blocked_pairs(df, "rid", ["blk"], ["payload"]).count()
    assert all_pairs == 10 + 1


# ------------------------------------------------- maximal duplicated spans

def test_maximal_spans_merge_and_split(spark):
    """Gram intervals whose starts differ by exactly n touch and MERGE
    into one variable-length span; starts differing by n+1 leave a gap
    and stay separate spans."""
    from casf_spark.operators.dedup import maximal_duplicated_spans

    df = spark.createDataFrame(
        [(1, "p q r s gap t u v w"),       # shared grams at pos 0 and 5
         (2, "p q r s t u v w")],          # shared grams at pos 0 and 4
        "doc_id long, text string")
    got = {(r.doc, r.span_start): (r.span_end, r.span_len, r.span_text)
           for r in maximal_duplicated_spans(df, "doc_id", "text",
                                             n=4).collect()}
    assert got == {
        (1, 0): (3, 4, "p q r s"),         # 5 - 0 > 4 -> split
        (1, 5): (8, 4, "t u v w"),
        (2, 0): (7, 8, "p q r s t u v w"),  # 4 - 0 <= 4 -> merged
    }, got


def test_maximal_spans_conservation(spark, sf_dir):
    """Conservation against the gram-coverage detector: per doc, the
    union of maximal spans covers EXACTLY cross_doc_spans' covered
    positions; spans are disjoint with >=1 un-duplicated position
    between them; every span is >= n tokens."""
    from casf_spark.operators.dedup import (cross_doc_spans,
                                            maximal_duplicated_spans)
    from casf_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    spans = maximal_duplicated_spans(docs, "doc_id", "text", n=4).collect()
    covered = {r.doc: r.covered
               for r in cross_doc_spans(docs, "doc_id", "text",
                                        n=4).collect()}
    assert len(spans) > 0
    per_doc = {}
    for r in spans:
        assert r.span_len == r.span_end - r.span_start + 1 >= 4
        assert len(r.span_text.split(" ")) == r.span_len
        per_doc.setdefault(r.doc, []).append((r.span_start, r.span_end))
    for doc, iv in per_doc.items():
        iv.sort()
        assert all(b[0] - a[1] >= 2 for a, b in zip(iv, iv[1:])), (doc, iv)
        assert sum(e - s + 1 for s, e in iv) == covered[doc], doc
    # docs with zero coverage emit zero spans
    assert all(covered.get(d, 0) > 0 for d in per_doc)
    assert set(per_doc) == {d for d, c in covered.items() if c > 0}


def test_er_customer_link_planted_matches(spark, sf_dir):
    """Every planted dirty copy (key+10M, last name char corrupted,
    balance +0.01) is found and flagged is_match; the pair's lev is
    exactly 1 and bal_diff exactly 0.01."""
    from casf_spark.queries.dedup import q_er_customer_link
    from casf_spark.sources import load_table

    rows = q_er_customer_link(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    planted = {(r.cust0, r.cust1): r for r in rows
               if r.cust1 >= 10_000_000}
    expect_keys = {(k, k + 10_000_000)
                   for k in range(0, n_cust, 40)}
    # every planted pair is a candidate AND a match
    assert expect_keys <= set(planted)
    for k in expect_keys:
        r = planted[k]
        assert r.name_lev == 1 and r.bal_diff == 0.01 and r.is_match
    # natural pairs exist (same nation + 7-digit prefix, lev 1-2) and
    # overwhelmingly do not match on the balance rule
    natural = [r for r in rows if r.cust1 < 10_000_000]
    assert natural
    assert sum(r.is_match for r in natural) < 0.1 * len(natural)


def test_kcore_hand_graph(spark):
    """Triangle {1,2,3} + tail 3-4-5: the 2-core is exactly the
    triangle (4 and 5 peel in two rounds), each member at degree 2."""
    from casf_spark.operators.dedup import kcore

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "doc0 long, doc1 long")
    got = {r.doc_id: (r.core_deg, r.n_rounds)
           for r in kcore(pairs, k=2).collect()}
    assert got == {1: (2, 2), 2: (2, 2), 3: (2, 2)}
    # k above the densest degree -> empty core
    assert kcore(pairs, k=3).count() == 0


def test_kcore_validation(spark):
    import pytest
    from casf_spark.operators.dedup import kcore

    pairs = spark.createDataFrame([(1, 2)], "doc0 long, doc1 long")
    with pytest.raises(ValueError, match="k must be"):
        kcore(pairs, k=0)


def test_kcore_cap_exhaustion_raises(spark):
    """Round-13 convergence contract: a path graph peels one endpoint
    pair per round, so a long path with max_iter=1 exhausts the cap
    while still shrinking — kcore raises loudly instead of silently
    returning a non-fixpoint."""
    import pytest
    from casf_spark.operators.dedup import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc0 long, doc1 long")
    with pytest.raises(ValueError, match="still shrinking"):
        kcore(path, k=2, max_iter=1)
    # enough rounds: the 2-core of a path is empty, returned cleanly
    assert kcore(path, k=2, max_iter=10).count() == 0


def test_banding_misconfig_raises(spark):
    """bands > num_hashes used to make every bucket the empty concat
    (ALL docs collide -> silent all-pairs); a non-divisible split
    silently discarded trailing signature components. Both raise."""
    import pytest
    from casf_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=12, bands=16)
    with pytest.raises(ValueError, match="evenly"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=12, bands=5)


def test_exact_dedup_null_text_is_singleton(spark):
    """NULL-text docs used to share one NULL fingerprint: dedup kept a
    single survivor of a corrupt load. Each is now its own group."""
    from casf_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_exact(df, "doc_id", "text").collect())
    assert kept == [1, 2, 3]  # both NULL docs kept; 4 dups 3


def test_remove_spans_zero_token_doc_passes_through(spark):
    """Docs that tokenize to nothing used to VANISH from the output;
    the contract is one row per input doc."""
    from casf_spark.operators.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "!!! ???")],
        "doc_id long, text string")
    out = {r.doc: r for r in
           remove_duplicated_spans(df, "doc_id", "text", n=4).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_tokens == 0 and out[2].removed_frac == 0.0
    assert out[2].cleaned_text == ""


def test_ngram_novelty_short_docs_kept(spark):
    """Docs shorter than n tokens used to be absent from the novelty
    report (overstating corpus novelty); they now appear with zero
    grams and NULL novelty_frac (the cross_doc_spans convention)."""
    from casf_spark.operators.dedup import ngram_novelty

    df = spark.createDataFrame(
        [(1, "a1 b2 c3 d4 e5"), (2, "tiny doc")],
        "doc_id long, text string")
    out = {r.doc: r for r in ngram_novelty(df, "doc_id", "text", n=4).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_grams == 0 and out[2].novel == 0
    assert out[2].novelty_frac is None
    assert out[1].novelty_frac == 1.0
