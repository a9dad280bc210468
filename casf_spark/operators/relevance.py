"""Term-relevance analytics: TF-IDF keyword extraction, BM25 retrieval,
kNN label classification.

The reference's whole demo is keyword analysis — raw term-count vectors
fed to cosine similarity (KeyWordsDemo.scala:59-62 builds the counts,
README.md:9 frames the engine as keyword extraction). TF-IDF is the
standard next step that pipeline implies but never ships: weight each
doc's terms by corpus-wide rarity so "the most similar words" stop being
dominated by common ones. BM25 extends the same statistics into a ranked
retrieval scorer; kNN classification is the label-side twin of the ANN
operators (operators/similarity.py).

Scale notes (100 TB bar):

- ``tfidf_terms``: two keyed aggregations (doc-term counts, then term
  document-frequency over the *distinct* doc-term rows — shuffle carries
  the vocabulary-sized table, not token occurrences). The corpus row
  count enters as a 1-row aggregate broadcast-cross-joined, never a
  driver collect. Top-k per doc is the grouped
  ``slice(array_sort(collect_list))`` partial aggregation (same shape as
  CosineModel.top_k) — no global window sort.
- ``bm25_rank``: the term-match side is filtered to query-term hits
  BEFORE any shuffle (the ``isin`` predicate applies during the token
  explode, map-side), so term-frequency exchanges are proportional to
  the hit set. The one inherently corpus-sized piece is the doc-length
  table (BM25's dl/avgdl normalizer) — a single map-combined
  per-doc count; AQE picks broadcast vs shuffle for its join against
  the hit set at runtime. The final top-n is ``orderBy().limit()``
  which Spark executes as TakeOrderedAndProject — per-partition partial
  top-n, no full sort.
- ``knn_classify``: inherits brute_force_topk's contract (broadcast
  query block, corpus streams through partial-top-k GEMM); the majority
  vote is one tiny aggregation over n_queries * k rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from casf_spark.functions.text import TOKEN_SPLIT_PATTERN, tokenize
from casf_spark.functions import vectors as V
from casf_spark.operators import similarity as _sim

__all__ = ["tfidf_terms", "bm25_rank", "tfidf_rank", "knn_classify",
           "vocab_coverage", "unigram_logprob", "bigram_logprob",
           "label_centroid_outliers", "rrf_fuse", "collocation_pmi",
           "negative_sampling_table", "negative_draws", "skipgram_cooc",
           "keyness_terms", "heldout_interpolated_logprob"]


def _doc_term_counts(docs: DataFrame, id_col: str, text_col: str,
                     pattern: str = TOKEN_SPLIT_PATTERN) -> DataFrame:
    """(doc, term, tf) — one aggregation over exploded tokens."""
    return (tokenize(docs, id_col, text_col, pattern)
            .groupBy(F.col("doc").cast("long").alias("doc"),
                     F.col("word").alias("term"))
            .agg(F.count(F.lit(1)).cast("long").alias("tf")))


def _corpus_size(docs: DataFrame, id_col: str) -> DataFrame:
    """1-row (n_docs) aggregate — broadcast-cross-joined where a scalar is
    needed, so corpus cardinality never round-trips through the driver."""
    return docs.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))


def tfidf_terms(docs: DataFrame, id_col: str, text_col: str,
                top_k: int = 5,
                pattern: str = TOKEN_SPLIT_PATTERN,
                round_to: int = 6) -> DataFrame:
    """Top-``top_k`` TF-IDF keywords per document ->
    (doc, term, tf, tfidf, rank).

    ``idf = ln((N + 1) / (df + 1)) + 1`` (the smoothed variant — never
    zero, never divides by zero), ``tfidf = tf * idf`` rounded to
    ``round_to`` so rank order is engine-stable. Rank ties break on term
    ascending.
    """
    tf = _doc_term_counts(docs, id_col, text_col, pattern)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = _corpus_size(docs, id_col)
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .select(
                  "doc", "term", "tf",
                  F.round(
                      F.col("tf")
                      * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                      round_to).alias("tfidf")))
    # grouped partial top-k: per-doc in-memory sort of its term list, no
    # global window. struct sort is lexicographic -> (-tfidf, term) gives
    # (tfidf desc, term asc).
    topk = (scored
            .groupBy("doc")
            .agg(F.slice(
                F.array_sort(F.collect_list(F.struct(
                    (-F.col("tfidf")).alias("neg"),
                    F.col("term").alias("term"),
                    F.col("tf").alias("tf")))),
                1, top_k).alias("top")))
    return (topk.select("doc", F.posexplode("top").alias("pos", "t"))
            .select("doc",
                    F.col("t.term").alias("term"),
                    F.col("t.tf").alias("tf"),
                    (-F.col("t.neg")).alias("tfidf"),
                    (F.col("pos") + 1).cast("int").alias("rank")))


def bm25_rank(docs: DataFrame, query_terms: Sequence[str],
              id_col: str, text_col: str,
              k1: float = 1.2, b: float = 0.75, top_n: int = 20,
              pattern: str = TOKEN_SPLIT_PATTERN,
              round_to: int = 6) -> DataFrame:
    """BM25-ranked documents for a bag-of-words query ->
    (doc, score, n_hit_terms), top ``top_n`` by (score desc, doc asc).

    Robertson/Sparck-Jones idf: ``ln(1 + (N - df + 0.5) / (df + 0.5))``;
    per-term contribution ``idf * tf * (k1+1) / (tf + k1 * (1 - b +
    b * dl / avgdl))``. Doc length = token occurrences under the same
    tokenizer.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokenize(docs, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "word")
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    stats = (dl.crossJoin(F.broadcast(_corpus_size(docs, id_col)))
             .agg(F.first("n_docs").alias("n_docs"),
                  F.avg("dl").alias("avgdl")))
    # corpus side filtered to query-term hits before any shuffle
    hits = (toks.where(F.col("word").isin(terms))
            .groupBy("doc", F.col("word").alias("term"))
            .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    dfreq = (hits.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (hits
              .join(F.broadcast(dfreq), "term")
              .join(dl, "doc")
              .crossJoin(F.broadcast(stats))
              .select(
                  "doc", "term",
                  (F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5))
                   * F.col("tf") * (k1 + 1.0)
                   / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                          / F.col("avgdl")))).alias("c")))
    ranked = (scored.groupBy("doc")
              .agg(F.round(F.sum("c"), round_to).alias("score"),
                   F.count(F.lit(1)).cast("long").alias("n_hit_terms")))
    # sort+limit compiles to TakeOrderedAndProject (partial per-partition
    # top-n) — not a global sort
    return ranked.orderBy(F.desc("score"), F.asc("doc")).limit(top_n)


def tfidf_rank(docs: DataFrame, query_terms: Sequence[str],
               id_col: str, text_col: str, top_n: int = 20,
               pattern: str = TOKEN_SPLIT_PATTERN,
               round_to: int = 6) -> DataFrame:
    """TF-IDF-ranked documents for a bag-of-words query ->
    (doc, score, n_hit_terms), top ``top_n`` by (score desc, doc asc) —
    the length-unnormalized lexical baseline next to ``bm25_rank`` (and
    the natural third leg for a weighted ``rrf_fuse``).

    ``score(d) = sum over query terms of tf(t, d) * idf(t)`` with the
    same smoothed ``idf = ln((N + 1) / (df + 1)) + 1`` as
    ``tfidf_terms``, rounded to ``round_to`` so rank order is
    engine-stable. df counts documents containing the term among the
    HIT set (same convention as ``bm25_rank``'s query-side df).

    Scale shape: identical to ``bm25_rank`` minus the doc-length table —
    the corpus side is filtered to query-term hits map-side before the
    one keyed aggregation, so nothing corpus-sized shuffles at all; the
    top-n is TakeOrderedAndProject.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokenize(docs, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "word")
    hits = (toks.where(F.col("word").isin(terms))
            .groupBy("doc", F.col("word").alias("term"))
            .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    dfreq = (hits.groupBy("term")
             .agg(F.count(F.lit(1)).cast("double").alias("df")))
    scored = (hits
              .join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(_corpus_size(docs, id_col)))
              .select(
                  "doc",
                  (F.col("tf")
                   * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                      + 1)).alias("c")))
    ranked = (scored.groupBy("doc")
              .agg(F.round(F.sum("c"), round_to).alias("score"),
                   F.count(F.lit(1)).cast("long").alias("n_hit_terms")))
    return ranked.orderBy(F.desc("score"), F.asc("doc")).limit(top_n)


def collocation_pmi(docs: DataFrame, id_col: str, text_col: str,
                    min_count: int = 5, top_n: int = 20,
                    pattern: str = TOKEN_SPLIT_PATTERN,
                    round_to: int = 6) -> DataFrame:
    """Top-``top_n`` adjacent-bigram collocations by pointwise mutual
    information -> (w1, w2, c_ab, pmi) — the word2phrase / phrase-mining
    step that runs before tokenizer training (Mikolov et al. 2013 learn
    phrases exactly this way, with a count floor to kill noise).

    ``pmi = ln( (c_ab / N2) / ((c_a / N1) * (c_b / N1)) )`` with N1 =
    total token occurrences, N2 = total adjacent-bigram occurrences;
    ``min_count`` floors c_ab (the standard noise cut). Ordering is
    (pmi desc, w1 asc, w2 asc), pmi rounded so the cut is
    engine-stable.

    Scale shape: bigrams are generated EXPRESSION-ONLY per document
    (``arrays_zip`` of the token array against its shift — map-side, no
    window, no per-doc shuffle); both count tables are map-combined
    keyed aggregations whose shuffle carries the (bigram) vocabulary,
    not occurrences. The unigram table joins in twice as a broadcast
    (vocabulary-sized); N1/N2 are 1-row aggregates broadcast back; the
    final cut is TakeOrderedAndProject.
    """
    from casf_spark.functions.text import tokens as _tokens

    a = _tokens(F.col(text_col), pattern)
    pairs = (docs
             .select(F.explode(F.arrays_zip(
                 F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0)))
                 .alias("w1"),
                 F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0)))
                 .alias("w2"))).alias("p"))
             .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    c_ab = (pairs.groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c_ab")))
    toks = tokenize(docs, id_col, text_col, pattern)
    c_w = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c_w"))
    n1 = c_w.agg(F.sum("c_w").cast("double").alias("n1"))
    n2 = c_ab.agg(F.sum("c_ab").cast("double").alias("n2"))
    scored = (c_ab.where(F.col("c_ab") >= min_count)
              .join(F.broadcast(c_w.withColumnRenamed("word", "w1")
                                .withColumnRenamed("c_w", "c_a")), "w1")
              .join(F.broadcast(c_w.withColumnRenamed("word", "w2")
                                .withColumnRenamed("c_w", "c_b")), "w2")
              .crossJoin(F.broadcast(n1))
              .crossJoin(F.broadcast(n2))
              .select(
                  "w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
                  F.round(F.log((F.col("c_ab") / F.col("n2"))
                                / ((F.col("c_a") / F.col("n1"))
                                   * (F.col("c_b") / F.col("n1")))),
                          round_to).alias("pmi")))
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")) \
        .limit(top_n)


def vocab_coverage(docs: DataFrame, id_col: str, text_col: str,
                   top_n: int = 20,
                   pattern: str = TOKEN_SPLIT_PATTERN,
                   round_to: int = 6) -> DataFrame:
    """Top-``top_n`` vocabulary with cumulative corpus coverage ->
    (rank, term, cnt, cum_share): the tokenizer-prep report ("how much of
    the corpus do the first N vocabulary entries explain").

    Scale shape: term counts are one map-combined aggregation; the top-n
    cut is ``orderBy().limit()`` (TakeOrderedAndProject — per-partition
    partial top-n, never a full vocabulary sort); the cumulative window
    runs over the ≤ ``top_n`` surviving rows only. Total token count is a
    1-row aggregate broadcast back.
    """
    toks = tokenize(docs, id_col, text_col, pattern)
    tc = toks.groupBy(F.col("word").alias("term")) \
        .agg(F.count(F.lit(1)).alias("cnt"))
    total = tc.agg(F.sum("cnt").alias("tot"))
    top = tc.orderBy(F.desc("cnt"), F.asc("term")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return (top
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .withColumn("cum", F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .crossJoin(F.broadcast(total))
            .select("rank", "term", "cnt",
                    F.round(F.col("cum") / F.col("tot"), round_to)
                    .alias("cum_share")))


def unigram_logprob(docs: DataFrame, id_col: str, text_col: str,
                    pattern: str = TOKEN_SPLIT_PATTERN,
                    round_to: int = 6) -> DataFrame:
    """Per-document average negative unigram log-likelihood under the
    corpus's own unigram distribution -> (doc, n_tokens, avg_neg_logprob).

    The deterministic stand-in for the LM-perplexity quality filter
    (CCNet-style): documents full of globally-rare tokens score high
    (surprising), boilerplate scores low. ``p(w) = count(w) / total``.

    Scale shape: the vocabulary table (word -> count) is the broadcast
    side of the scoring join — vocabularies are ~1e6-1e7 rows even for
    100 TB corpora — so token occurrences are scored MAP-SIDE and the
    corpus's only shuffle is the per-doc aggregation. Joining by word
    without the broadcast would Zipf-skew the shuffle (the most common
    word's occurrences all land on one reducer).
    """
    toks = tokenize(docs, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "word")
    tc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("wc"))
    total = tc.agg(F.sum("wc").alias("tot"))
    return (toks
            .join(F.broadcast(tc), "word")
            .crossJoin(F.broadcast(total))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.round(-F.avg(F.log(F.col("wc") / F.col("tot"))),
                         round_to).alias("avg_neg_logprob")))


def bigram_logprob(docs: DataFrame, id_col: str, text_col: str,
                   pattern: str = TOKEN_SPLIT_PATTERN,
                   round_to: int = 6) -> DataFrame:
    """Per-document average negative BIGRAM log-likelihood under the
    corpus's own add-one-smoothed Markov model ->
    (doc, n_bigrams, avg_neg_logprob).

    The stronger perplexity-filter stand-in: word-salad that unigram
    frequencies can't flag (common words in impossible orders) scores
    high here. ``p(w | prev) = (c(prev, w) + 1) / (c(prev) + V)`` with V
    = unigram vocabulary size (add-one smoothing keeps every observed
    transition finite). Docs with < 2 tokens are absent (no bigrams).

    Scale note: unlike :func:`unigram_logprob`'s vocabulary, the BIGRAM
    table grows toward corpus size and cannot broadcast at 100 TB — the
    scoring join is keyed by (prev, w) with the usual Zipf caveat (hot
    bigrams like "of the"); AQE skew-join or ``operators.skew.salted_join``
    is the mitigation, as elsewhere.
    """
    toks = tokenize(docs, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "pos", "word")
    nxt = toks.select("doc", (F.col("pos") + 1).alias("pos"),
                      F.col("word").alias("prev"))
    bi = (toks.join(nxt, ["doc", "pos"])
          .select("doc", "prev", F.col("word").alias("w")))
    bc = bi.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("bc"))
    # conditioning count = occurrences of prev as a bigram PREFIX (raw
    # unigram counts would overcount document-final tokens)
    uc = bi.groupBy("prev").agg(F.count(F.lit(1)).alias("uc"))
    vocab = toks.agg(F.countDistinct("word").alias("v"))
    return (bi
            .join(bc, ["prev", "w"])
            .join(uc, "prev")
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.round(-F.avg(F.log((F.col("bc") + 1)
                                      / (F.col("uc") + F.col("v")))),
                         round_to).alias("avg_neg_logprob")))


def label_centroid_outliers(emb: DataFrame, k: int = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            label_col: str = "label",
                            round_to: int = 6) -> DataFrame:
    """Per label, the ``k`` vectors FURTHEST from their own label's mean
    vector -> (label, vec_id, cos_centroid, rank) — the mislabeled-data /
    outlier sweep over an embedded, labeled corpus.

    Scale shape: centroids come from one (label, dim) aggregation reduced
    to a labels-sized array table that broadcasts; each corpus vector is
    scored map-side against its label's centroid (zip_with dot product —
    the corpus never shuffles for scoring). The per-label bottom-k is a
    window over rows already partitioned by label.
    """
    ee = emb.select(F.col(label_col).alias("label"),
                    F.posexplode(V.as_double(vec_col)).alias("i", "x"))
    cent = (ee.groupBy("label", "i").agg(F.avg("x").alias("c"))
            .groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"]).alias("cvec")))
    scored = (emb.select(F.col(label_col).alias("label"),
                         F.col(id_col).cast("long").alias("vec_id"),
                         V.as_double(vec_col).alias("v"))
              .join(F.broadcast(cent), "label")
              .select("label", "vec_id",
                      F.round(V.cosine(F.col("v"), F.col("cvec")), round_to)
                      .alias("cos_centroid")))
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"),
                                            F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k))


def knn_classify(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """k-nearest-neighbor majority-vote label prediction ->
    (vec_id, pred_label, n_votes).

    Neighbors come from :func:`similarity.brute_force_topk` (exact cosine,
    self excluded, broadcast-query / streamed-corpus contract); the vote
    is a (query, label) count with ties broken toward the smaller label.
    Swap the neighbor source for ``lsh_candidates``/``ivf_topk`` output at
    scale — the vote shape is identical.
    """
    nn = _sim.brute_force_topk(corpus, queries, k=k,
                               id_col=id_col, vec_col=vec_col)
    labels = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                           F.col(label_col).alias("nl"))
    votes = (nn.join(labels, "neighbor_id")
             .groupBy(F.col("query_id").alias("vec_id"), "nl")
             .agg(F.count(F.lit(1)).cast("long").alias("n_votes")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("n_votes"), F.asc("nl"))
    return (votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", F.col("nl").alias("pred_label"), "n_votes"))


def hard_negative_mine(corpus: DataFrame, queries: DataFrame,
                       k_pool: int = 20, k_neg: int = 5,
                       margin: float = 0.05,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive/embedding training (the
    ANCE / FaceNet batch-construction step): per anchor, the ``k_neg``
    most-similar vectors with a DIFFERENT label, drawn from the
    anchor's exact top-``k_pool`` cosine pool — plus the pool's best
    same-label similarity and the FaceNet ``semi_hard`` flag
    (``pos - margin < neg_sim < pos_sim``: negatives close enough to
    teach, not so close they're probably label noise).

    Output: (anchor_id, anchor_label, negative_id, negative_label,
    cos_sim, best_pos_sim, neg_rank, semi_hard). ``best_pos_sim`` is
    NULL (and semi_hard false) when no same-label vector made the pool
    — mining is POOL-BOUNDED by contract, exactly like production
    miners that mine within the retrieved candidates.

    Scale shape: neighbors come from :func:`similarity.brute_force_topk`
    (broadcast-query / streamed-corpus partial-top-k GEMM — shuffle
    volume O(n_queries · k_pool), corpus never concentrates); labels
    join on id; everything after the pool is anchor-grain window work
    over <= k_pool rows per anchor. Swap the neighbor source for
    ``ivf_topk`` output at corpus-scale anchor counts — the mining
    shape is identical.
    """
    nn = _sim.brute_force_topk(corpus, queries, k=k_pool,
                               id_col=id_col, vec_col=vec_col)
    # labels compare AS-IS: a cast("long") here turned non-numeric
    # labels ('en'/'fr' — accepted by knn_classify in this module)
    # into NULLs, making q_label != n_label NULL everywhere and the
    # output silently empty
    lab = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                        F.col(label_col).alias("n_label"))
    qlab = queries.select(F.col(id_col).cast("long").alias("query_id"),
                          F.col(label_col).alias("q_label"))
    pool = nn.join(lab, "neighbor_id").join(F.broadcast(qlab), "query_id")
    pos = (pool.where(F.col("q_label") == F.col("n_label"))
           .groupBy("query_id")
           .agg(F.max("cos_sim").alias("best_pos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbor_id"))
    semi = (F.col("best_pos_sim").isNotNull()
            & (F.col("cos_sim") < F.col("best_pos_sim"))
            & (F.col("cos_sim")
               > F.round(F.col("best_pos_sim") - F.lit(float(margin)), 6)))
    return (pool.where(F.col("q_label") != F.col("n_label"))
            .join(pos, "query_id", "left")
            .withColumn("neg_rank", F.row_number().over(w).cast("long"))
            .where(F.col("neg_rank") <= int(k_neg))
            .select(F.col("query_id").alias("anchor_id"),
                    F.col("q_label").alias("anchor_label"),
                    F.col("neighbor_id").alias("negative_id"),
                    F.col("n_label").alias("negative_label"),
                    "cos_sim", "best_pos_sim", "neg_rank",
                    semi.alias("semi_hard")))


def rrf_fuse(legs: Sequence[DataFrame], id_col: str = "item_id",
             rank_col: str = "rank", k: int = 60, top_n: int = 20,
             scale_u: int = 1_000_000_000,
             weights: Sequence[float] | None = None) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) over any
    number of ranked retrieval legs -> (item_id, n_legs, rrf_score):
    ``rrf(d) = sum over legs of 1 / (k + rank_leg(d))`` — the standard
    way hybrid retrieval pipelines combine a lexical (BM25) and a vector
    (ANN) ranking without score calibration; ``k`` (=60 in the paper)
    damps the head so one leg's #1 can't dominate. Optional per-leg
    ``weights`` (e.g. 2:1 lexical:vector) scale each leg's reciprocal
    before the integer fold — the common production tilt when one
    modality is known to be stronger for the workload.

    Engine-stable arithmetic: each leg's reciprocal is folded to integer
    NANO-units (round-half-up of ``scale_u / (k + rank)``) before the
    sum — integer sums are order-independent, so a 3+-leg fusion can
    never drift between engines the way a float sum of rounded terms can
    (the dedup_pagerank round-7 lesson). The emitted score divides the
    nano-unit sum back, rounded 6dp.

    Scale shape: every leg is already a bounded top-N, so the union is
    ``len(legs) * N`` rows; one tiny aggregation plus a
    TakeOrderedAndProject top-n — nothing corpus-sized moves.
    """
    if not legs:
        raise ValueError("legs must be non-empty")
    if weights is None:
        weights = [1.0] * len(legs)
    if len(weights) != len(legs):
        raise ValueError("weights must match legs")
    u = None
    for leg, w in zip(legs, weights):
        # the weight scales the EXACT reciprocal, and the product is
        # rounded to integer units once — so a weighted fusion stays
        # order-independent too
        t = leg.select(
            F.col(id_col).cast("long").alias("item_id"),
            F.floor(F.lit(float(w)) * F.lit(float(scale_u))
                    / (F.lit(k) + F.col(rank_col))
                    + F.lit(0.5)).cast("long").alias("term_u"))
        u = t if u is None else u.unionByName(t)
    fused = (u.groupBy("item_id")
             .agg(F.sum("term_u").alias("score_u"),
                  F.count(F.lit(1)).cast("long").alias("n_legs")))
    out = fused.select(
        "item_id", "n_legs",
        F.round(F.col("score_u") / F.lit(float(scale_u)), 6)
        .alias("rrf_score"))
    return out.orderBy(F.desc("rrf_score"), F.asc("item_id")).limit(top_n)


def negative_sampling_table(docs: DataFrame, id_col: str, text_col: str,
                            vocab_size: int = 128,
                            power: float = 0.75) -> DataFrame:
    """word2vec negative-sampling distribution (Mikolov et al. 2013):
    the top ``vocab_size`` words by count, weighted ``count^power``
    (0.75 flattens Zipf so rare words get sampled at all), laid out as
    INTEGER micro-unit cumulative ranges ``[lo_u, hi_u)`` — the
    artifact a skip-gram trainer draws negatives from.

    Weights fold to integers immediately (floor(cnt^power * 1e6 + .5))
    so the cumulative layout and every downstream draw are engine-exact
    BIGINT arithmetic; the cumulative window runs over the
    ``vocab_size``-bounded table only (the cap is the word2vec norm —
    production tables are ~1e5 rows — and what keeps this a broadcast
    side input). Output: (word, cnt, w_u, lo_u, hi_u) ordered by the
    (cnt desc, word) layout order.
    """
    if vocab_size <= 0:
        raise ValueError("negative_sampling_table: vocab_size must be > 0")
    toks = tokenize(docs, id_col, text_col).select("word")
    top = (toks.groupBy("word")
           .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
           .orderBy(F.desc("cnt"), F.asc("word")).limit(vocab_size))
    w_u = F.floor(F.pow(F.col("cnt").cast("double"), F.lit(power))
                  * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    win = (Window.orderBy(F.desc("cnt"), F.asc("word"))
           .rowsBetween(Window.unboundedPreceding, 0))
    t = top.select("word", "cnt", w_u.alias("w_u"))
    return (t.withColumn("hi_u", F.sum("w_u").over(win))
            .withColumn("lo_u", F.col("hi_u") - F.col("w_u"))
            .select("word", "cnt", "w_u", "lo_u", "hi_u"))


def negative_draws(table: DataFrame, keys: DataFrame, key_col: str,
                   k: int = 5) -> DataFrame:
    """Deterministic weighted-categorical draws from a
    :func:`negative_sampling_table`: for every key row, ``k`` words
    sampled proportional to their range widths via
    ``u_j = md5(key:j) % total`` — rerun- and engine-stable negatives.

    The range lookup is the BUCKETIZED interval-join idiom (the
    operators.joins.interval_join move, applied to a 1-D weight line):
    each word's range explodes into the fixed-width buckets it spans
    (vocab_size + spill rows total), draws join on their bucket
    equi-key and filter lo <= u < hi — ONE broadcast equi-join, no
    inequality nested-loop, no product against the vocabulary. The
    only scalars are the 1-row total/width broadcast (the table is
    bounded by construction).

    Output: (key_val, j, word) — j in 1..k.
    """
    if k <= 0:
        raise ValueError("negative_draws: k must be > 0")
    from casf_spark.functions.hashing import md5_long

    # integer `div` throughout: a double division truncated to long can
    # round ACROSS an exact-multiple boundary; bucket ids must be exact
    tot = table.agg(F.max("hi_u").alias("__ns_t"),
                    (F.expr("max(hi_u) div count(1)") + F.lit(1))
                    .cast("long").alias("__ns_w"))
    idx = (table.crossJoin(F.broadcast(tot))
           .select("word", "lo_u", "hi_u",
                   F.explode(F.sequence(
                       F.expr("lo_u div __ns_w"),
                       F.expr("(hi_u - 1) div __ns_w"))).alias("__ns_b")))
    kc = F.col(key_col).cast("string")
    draws = (keys.select(kc.alias("key_val"))
             .crossJoin(F.broadcast(tot))
             .select("key_val", "__ns_w", "__ns_t",
                     F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"))
             .select("key_val", "j", "__ns_w",
                     (md5_long(F.concat(F.col("key_val"), F.lit(":"),
                                        F.col("j").cast("string")))
                      % F.col("__ns_t")).alias("__ns_u"))
             .withColumn("__ns_b", F.expr("__ns_u div __ns_w")))
    joined = draws.join(F.broadcast(idx), "__ns_b")
    return (joined.where((F.col("__ns_u") >= F.col("lo_u")) &
                         (F.col("__ns_u") < F.col("hi_u")))
            .select("key_val", F.col("j").cast("int").alias("j"), "word"))


def skipgram_cooc(docs: DataFrame, id_col: str, text_col: str,
                  window: int = 2, min_count: int = 2) -> DataFrame:
    """Skip-gram window co-occurrence counts — the word2vec positive-
    pair / GloVe count-matrix builder (the companion of
    :func:`negative_sampling_table`: together they are the full
    word2vec training-data pipeline): every (center, context) pair
    with the context within ±``window`` positions of the center, in
    either direction, counted over the corpus.

    The pair expansion is EXPRESSION-ONLY (nested array transforms, the
    unigram_lm_pieces idiom) — each token emits at most ``2*window``
    pairs map-side, so the shuffle is the (center, context)-grain count
    aggregation and NOTHING is quadratic in document length (the naive
    doc-keyed positions self-join materializes n_d^2 intermediates per
    doc before its band filter). ``min_count`` applies the standard
    rare-pair floor. Output: (center, context, cnt).
    """
    if window < 1:
        raise ValueError("skipgram_cooc: window must be >= 1")
    from casf_spark.functions.text import tokens as _tokens

    toks = F.coalesce(_tokens(F.coalesce(F.col(text_col), F.lit(""))),
                      F.array())
    base = docs.select(toks.alias("__sg_toks"))
    n = F.size("__sg_toks")
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.transform(
            F.filter(F.sequence(F.greatest(F.lit(1), i - window),
                                F.least(n, i + window)),
                     lambda j: j != i),
            lambda j: F.struct(
                F.element_at("__sg_toks", i).alias("center"),
                F.element_at("__sg_toks", j).alias("context")))))
    return (base.where(n > 0)
            .select(F.explode(pairs).alias("__sg_p"))
            .groupBy(F.col("__sg_p.center").alias("center"),
                     F.col("__sg_p.context").alias("context"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .where(F.col("cnt") >= min_count))


def retrieval_ndcg(docs: DataFrame, query_terms: Sequence[str],
                   id_col: str, text_col: str, k: int = 10,
                   pool_n: int = 20) -> DataFrame:
    """Ranked-retrieval quality metric — nDCG@k of the BM25 ranking
    against graded relevance labels (the evaluation step a retrieval
    stack runs before trusting its ranker): relevance of a document =
    its TOTAL count of query-term occurrences capped at 7 (0..7, a
    deterministic grading proxy when no human labels exist);
    ``DCG@k = sum_r rel_r / log2(r + 1)`` over the BM25 top-``pool_n``
    ranking; ``IDCG@k`` from the corpus-wide ideal ordering
    (rel desc, doc asc). Output: ONE row (k, dcg, idcg, ndcg).

    Determinism: ranks come from the 6dp-rounded BM25 scores with doc
    tie-break; each DCG term folds to integer nano-units BEFORE the
    sum (order-independent BIGINT); the division to ndcg happens once
    at output, rounded 6dp. Scale shape: inherits bm25_rank's
    hit-filtered plan; relevance is one map-side distinct-term count;
    the ideal ordering is a TakeOrdered cut, never a global sort.
    """
    terms = sorted({t.lower() for t in query_terms})
    t_rel = (tokenize(docs, id_col, text_col)
             .select(F.col("doc").cast("long").alias("doc"), "word")
             .where(F.col("word").isin(terms))
             .groupBy("doc")
             .agg(F.least(F.count(F.lit(1)), F.lit(7)).cast("long")
                  .alias("rel")))
    ranked = (bm25_rank(docs, terms, id_col, text_col, top_n=pool_n)
              .select("doc", "score"))
    w = Window.orderBy(F.desc("score"), F.asc("doc"))
    at_k = (ranked.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k)
            .join(t_rel, "doc", "left")
            .select(F.coalesce("rel", F.lit(0)).alias("rel"), "r"))
    gain = F.floor(F.col("rel") / F.log2(F.col("r") + 1)
                   * F.lit(1e9) + F.lit(0.5)).cast("long")
    dcg = at_k.agg(F.sum(gain).alias("dcg_u"))
    ideal = (t_rel.orderBy(F.desc("rel"), F.asc("doc")).limit(k)
             .withColumn("r", F.row_number().over(
                 Window.orderBy(F.desc("rel"), F.asc("doc")))))
    idcg = ideal.agg(F.sum(gain).alias("idcg_u"))
    return (dcg.crossJoin(F.broadcast(idcg))
            .select(F.lit(k).cast("int").alias("k"),
                    F.round(F.col("dcg_u") / 1e9, 6).alias("dcg"),
                    F.round(F.col("idcg_u") / 1e9, 6).alias("idcg"),
                    F.round((F.col("dcg_u").cast("double")
                             / F.col("idcg_u")), 6).alias("ndcg")))


def keyness_terms(docs: DataFrame, group_col: str, id_col: str,
                  text_col: str, top_k: int = 10) -> DataFrame:
    """Per-group keyword extraction by Dunning log-likelihood keyness
    (Dunning 1993, the corpus-linguistics G² statistic): for each group
    (source, language, cluster), the ``top_k`` terms most
    over-represented against the REST of the corpus — the "what makes
    this slice different" report a mixture audit reads next to
    heavy-hitters (which only answer "what is frequent").

    G² = 2·(a·ln(a/E1) + b·ln(b/E2)) with a = term occurrences in the
    group, b = in the rest, E1/E2 the expected splits under
    independence; only over-represented terms (a/c > b/d) rank. Each
    row's G² is computed from FOUR exact integers in one closed-form
    double expression — no float accumulation exists, so engines agree
    to the 6dp round. b = 0 contributes 0 (the x·ln x → 0 limit).

    Scale shape: one map-combined (group, term) count aggregation
    (vocabulary x groups keys); term totals derive from IT (no second
    corpus pass); group totals broadcast; the top-k cut is a window
    PARTITIONED BY group over the scored candidates — per-group work,
    never a global sort. Output: (grp, rank, term, a, b, g2).
    """
    # tokenize emits a STRING doc key; cast to long BEFORE the join so
    # the equi-join is long==long — relying on Spark's implicit
    # string/bigint coercion (via double) silently mismatches ids
    # above 2^53 (round-13 ADVICE; heldout_interpolated_logprob's rule)
    gt = (tokenize(docs, id_col, text_col)
          .select(F.col("doc").cast("long").alias("doc"), "word")
          .join(docs.select(F.col(id_col).cast("long").alias("doc"),
                            F.col(group_col).alias("grp")), "doc")
          .groupBy("grp", "word")
          .agg(F.count(F.lit(1)).cast("long").alias("a")))
    term_tot = gt.groupBy("word").agg(F.sum("a").alias("t_tot"))
    grp_tot = gt.groupBy("grp").agg(F.sum("a").alias("c"))
    all_tot = grp_tot.agg(F.sum("c").alias("n_all"))
    j = (gt.join(term_tot, "word")
         .join(F.broadcast(grp_tot), "grp")
         .crossJoin(F.broadcast(all_tot)))
    a = F.col("a").cast("double")
    b = (F.col("t_tot") - F.col("a")).cast("double")
    c = F.col("c").cast("double")
    d = (F.col("n_all") - F.col("c")).cast("double")
    e1 = c * (a + b) / (c + d)
    e2 = d * (a + b) / (c + d)
    g2 = 2.0 * (a * F.log(a / e1)
                + F.when(b > 0, b * F.log(b / e2)).otherwise(F.lit(0.0)))
    # try_divide: a single-group corpus has d = 0 (no "rest") — the
    # NULL comparison filters every row, so the report is empty by
    # documented degradation (the vocab_jsd convention) instead of an
    # ANSI DIVIDE_BY_ZERO crash
    scored = (j.where((a / c) > F.try_divide(b, d))
              .select("grp", "word", F.col("a").alias("a_cnt"),
                      (F.col("t_tot") - F.col("a")).alias("b_cnt"),
                      F.round(g2, 6).alias("g2")))
    w = Window.partitionBy("grp").orderBy(F.desc("g2"), F.asc("word"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= int(top_k))
            .select("grp", "rank", F.col("word").alias("term"),
                    F.col("a_cnt").cast("long").alias("a"),
                    F.col("b_cnt").cast("long").alias("b"), "g2"))


def _lm_score_joins(pairs: DataFrame, legs, n_salt: int) -> DataFrame:
    """Left-join the scored-token stream against each LM count table.

    ``n_salt == 0`` is the plain keyed join (the default, and the
    oracle-pinned plan). ``n_salt > 0`` routes every leg through
    :func:`casf_spark.operators.skew.salted_join`: real-Zipf corpora
    concentrate a huge share of bigram occurrences under a handful of
    prefixes ("the", "of"), so the (prev, w) / (prev) exchanges hand
    one reducer most of the stream — salting splits each hot key into
    ``n_salt`` sub-keys at the cost of replicating the count tables
    ``n_salt`` times. Output values are IDENTICAL either way (each
    stream row still meets exactly its one matching count row — pinned
    by test); only the exchange layout changes.
    """
    if n_salt < 0:
        raise ValueError(f"n_salt must be >= 0, got {n_salt}")
    if n_salt > 0:
        from casf_spark.operators.skew import salted_join
        for side, keys in legs:
            pairs = salted_join(pairs, side, keys, n_salt=n_salt,
                                how="left")
        return pairs
    for side, keys in legs:
        pairs = pairs.join(side, keys, "left")
    return pairs


def heldout_interpolated_logprob(train: DataFrame, score: DataFrame,
                                 id_col: str, text_col: str,
                                 lam: float = 0.75,
                                 pattern: str = TOKEN_SPLIT_PATTERN,
                                 n_salt: int = 0) -> DataFrame:
    """Held-out Jelinek–Mercer interpolated LM scoring — the closest
    exact-arithmetic stand-in for the CCNet/KenLM perplexity filter
    this engine can oracle-check: an n-gram LM is built on ``train``
    and every ``score`` document gets its average negative
    log-likelihood under ``p(w|prev) = lam * p_bi(w|prev) +
    (1-lam) * p_uni(w)``. Unlike the self-scoring
    :func:`bigram_logprob`, the held-out split produces GENUINE unseen
    bigrams — exactly what interpolation exists for: an unseen
    transition falls back to the unigram leg instead of a uniform
    smoothing floor, so word-salad (common words, impossible order)
    scores high while fluent-but-novel text does not.

    Probabilities: ``p_bi = c(prev, w) / c(prev·)`` (MLE over train
    bigrams; 0 when the transition or the prefix is unseen);
    ``p_uni = (c(w) + 1) / (N + V + 1)`` (add-one over the train
    vocabulary with one OOV bucket — keeps every token finite). A
    document's FIRST token scores on the unigram leg alone. Each
    token's ``-ln(p)`` folds to integer nano-units before the per-doc
    sum (order-independent BIGINT); one division at output. Output:
    (doc, n_tokens, avg_neg_logprob).

    Scale shape: unigram table is vocabulary-grain (broadcastable);
    the bigram table grows toward corpus size and joins keyed by
    (prev, w) — the usual Zipf/AQE-skew caveat; the scored stream
    never shuffles except for its (doc)-grain sum. On real-Zipf
    corpora where AQE's skew splitting is not enough, ``n_salt > 0``
    salts the count-table joins (:func:`_lm_score_joins` — values
    identical, exchanges rebalanced).
    """
    # lam = 1.0 is excluded: a transition unseen in train (bc NULL)
    # with a seen prefix would score p = lam*0 + 0*p_uni = 0, and
    # -ln(0) overflows the nano-unit long fold — the add-one unigram
    # leg only keeps every token finite while it has weight
    if not 0.0 <= lam < 1.0:
        raise ValueError(f"lam must be in [0, 1), got {lam}")
    tt = tokenize(train, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "pos", "word")
    nxt = tt.select("doc", (F.col("pos") + 1).alias("pos"),
                    F.col("word").alias("prev"))
    tbi = (tt.join(nxt, ["doc", "pos"])
           .select("prev", F.col("word").alias("w")))
    bc = tbi.groupBy("prev", "w").agg(F.count(F.lit(1)).cast("double")
                                      .alias("bc"))
    uc = tbi.groupBy("prev").agg(F.count(F.lit(1)).cast("double")
                                 .alias("uc"))
    uni = tt.groupBy(F.col("word").alias("w")) \
        .agg(F.count(F.lit(1)).cast("double").alias("cu"))
    tot = tt.agg(F.count(F.lit(1)).cast("double").alias("n"),
                 F.countDistinct("word").cast("double").alias("v"))

    st = tokenize(score, id_col, text_col, pattern) \
        .select(F.col("doc").cast("long").alias("doc"), "pos", "word")
    sprev = st.select("doc", (F.col("pos") + 1).alias("pos"),
                      F.col("word").alias("prev"))
    pairs = (st.join(sprev, ["doc", "pos"], "left")
             .select("doc", "pos", F.col("word").alias("w"), "prev"))
    j = (_lm_score_joins(pairs, [(uni, ["w"]), (bc, ["prev", "w"]),
                                 (uc, ["prev"])], n_salt)
         .crossJoin(F.broadcast(tot)))
    p_uni = (F.coalesce("cu", F.lit(0.0)) + 1.0) \
        / (F.col("n") + F.col("v") + 1.0)
    p_bi = F.when(F.coalesce("uc", F.lit(0.0)) > 0,
                  F.coalesce("bc", F.lit(0.0)) / F.col("uc")) \
        .otherwise(F.lit(0.0))
    p = F.when(F.col("prev").isNull(), p_uni) \
        .otherwise(F.lit(float(lam)) * p_bi
                   + F.lit(1.0 - float(lam)) * p_uni)
    term_u = F.floor(-F.log(p) * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (j.select("doc", term_u.alias("tu"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum("tu").alias("su"))
            .select("doc", "n_tokens",
                    F.round(F.col("su") / (F.col("n_tokens")
                                           * F.lit(1e9)), 6)
                    .alias("avg_neg_logprob")))

