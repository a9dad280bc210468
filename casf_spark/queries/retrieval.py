"""Retrieval: BM25, reciprocal-rank fusion, ranking evaluation and
hard-negative mining."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.operators import relevance as RV
from casf_spark.operators import similarity as SIM
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _TOKS
from casf_spark.queries._registry import query


@query("bm25_rank", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
dl AS (SELECT doc, COUNT(*) dl FROM toks GROUP BY 1),
st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) n_docs,
              AVG(dl) avgdl FROM dl),
hits AS (SELECT doc, w term, CAST(COUNT(*) AS DOUBLE) tf FROM toks
         WHERE w IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) df FROM hits GROUP BY 1),
c AS (SELECT h.doc,
        ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
          * h.tf * (1.2 + 1.0)
          / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) contrib
      FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc)
      CROSS JOIN st)
SELECT doc, ROUND(SUM(contrib), 6) score,
       CAST(COUNT(*) AS BIGINT) n_hit_terms
FROM c GROUP BY 1 ORDER BY score DESC, doc LIMIT 15""")
def q_bm25_rank(spark, sf):
    """BM25 retrieval: top-15 documents for a 3-term query; corpus side
    filtered to query-term hits before any shuffle."""
    docs = load_table(spark, sf, "documents")
    return RV.bm25_rank(docs, ["spark", "table", "hash"], "doc_id", "text",
                        top_n=15)


# hybrid retrieval: the PROVEN bm25 and brute-force-cosine oracle
# bodies as legs, fused with integer nano-unit reciprocal terms
@query("retrieval_rrf", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
dl AS (SELECT doc, COUNT(*) dl FROM toks GROUP BY 1),
st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) n_docs,
              AVG(dl) avgdl FROM dl),
hits AS (SELECT doc, w term, CAST(COUNT(*) AS DOUBLE) tf FROM toks
         WHERE w IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) df FROM hits GROUP BY 1),
c AS (SELECT h.doc,
        ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
          * h.tf * (1.2 + 1.0)
          / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) contrib
      FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc)
      CROSS JOIN st),
bm AS (SELECT doc, ROUND(SUM(contrib), 6) score
       FROM c GROUP BY 1 ORDER BY score DESC, doc LIMIT 50),
bmr AS (SELECT doc item_id,
               row_number() OVER (ORDER BY score DESC, doc) rank
        FROM bm),
ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
dots AS (
  SELECT q.vec_id query_id, e.vec_id neighbor_id, SUM(q.x * e.x) dp
  FROM ee q JOIN ee e ON q.i = e.i AND q.vec_id <> e.vec_id
  WHERE q.vec_id = 0
  GROUP BY 1, 2),
scored AS (
  SELECT d.neighbor_id, ROUND(d.dp / (nq.nrm * nc.nrm), 6) cos_sim
  FROM dots d
  JOIN nn nq ON nq.vec_id = d.query_id
  JOIN nn nc ON nc.vec_id = d.neighbor_id),
semr AS (
  SELECT neighbor_id item_id, rn rank FROM (
    SELECT neighbor_id,
           row_number() OVER (ORDER BY cos_sim DESC, neighbor_id ASC) rn
    FROM scored) WHERE rn <= 50),
u AS (
  SELECT item_id,
         CAST(FLOOR(1000000000.0 / (60 + rank) + 0.5) AS BIGINT) term_u
  FROM bmr
  UNION ALL
  SELECT item_id,
         CAST(FLOOR(1000000000.0 / (60 + rank) + 0.5) AS BIGINT)
  FROM semr),
f AS (SELECT item_id, SUM(term_u) su,
             CAST(COUNT(*) AS BIGINT) n_legs
      FROM u GROUP BY 1)
SELECT CAST(item_id AS BIGINT) item_id, n_legs,
       ROUND(su / 1000000000.0, 6) rrf_score
FROM f ORDER BY rrf_score DESC, item_id LIMIT 20""")
def q_retrieval_rrf(spark, sf):
    """Hybrid retrieval with reciprocal-rank fusion (operators.relevance
    .rrf_fuse, Cormack et al. 2009): the lexical leg is BM25 top-50 for
    a 3-term query (relevance.bm25_rank), the vector leg is exact cosine
    top-50 neighbors of vec 0 (similarity.brute_force_topk, GEMM path);
    RRF fuses the two rank lists with k=60 — the calibration-free
    combiner every production lexical+vector retrieval stack uses.
    Integer nano-unit reciprocal terms keep the fused score
    engine-stable. Both legs are bounded top-Ns, so fusion moves 100
    rows regardless of corpus size."""
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    lex = RV.bm25_rank(docs, ["spark", "table", "hash"], "doc_id", "text",
                       top_n=50)
    wl = Window.orderBy(F.desc("score"), F.asc("doc"))
    lex_r = lex.select(F.col("doc").alias("item_id"),
                       F.row_number().over(wl).alias("rank"))
    sem = SIM.brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=50)
    sem_r = sem.select(F.col("neighbor_id").alias("item_id"), "rank")
    return RV.rrf_fuse([lex_r, sem_r], k=60, top_n=20)


# 3-leg weighted fusion: same bm25 + cosine legs plus the
# tfidf_rank lexical leg; each weight scales the exact reciprocal
# BEFORE the one integer nano-unit rounding (mirrors rrf_fuse)
@query("retrieval_rrf_weighted", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
dl AS (SELECT doc, COUNT(*) dl FROM toks GROUP BY 1),
st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) n_docs,
              AVG(dl) avgdl FROM dl),
hits AS (SELECT doc, w term, CAST(COUNT(*) AS DOUBLE) tf FROM toks
         WHERE w IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) df FROM hits GROUP BY 1),
c AS (SELECT h.doc,
        ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
          * h.tf * (1.2 + 1.0)
          / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) contrib
      FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc)
      CROSS JOIN st),
bm AS (SELECT doc, ROUND(SUM(contrib), 6) score
       FROM c GROUP BY 1 ORDER BY score DESC, doc LIMIT 50),
bmr AS (SELECT doc item_id,
               row_number() OVER (ORDER BY score DESC, doc) rank
        FROM bm),
ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
dots AS (
  SELECT q.vec_id query_id, e.vec_id neighbor_id, SUM(q.x * e.x) dp
  FROM ee q JOIN ee e ON q.i = e.i AND q.vec_id <> e.vec_id
  WHERE q.vec_id = 0
  GROUP BY 1, 2),
scored AS (
  SELECT d.neighbor_id, ROUND(d.dp / (nq.nrm * nc.nrm), 6) cos_sim
  FROM dots d
  JOIN nn nq ON nq.vec_id = d.query_id
  JOIN nn nc ON nc.vec_id = d.neighbor_id),
semr AS (
  SELECT neighbor_id item_id, rn rank FROM (
    SELECT neighbor_id,
           row_number() OVER (ORDER BY cos_sim DESC, neighbor_id ASC) rn
    FROM scored) WHERE rn <= 50),
tfc AS (SELECT h.doc,
               h.tf * (ln((st.n_docs + 1) / (d.df + 1)) + 1) contrib
        FROM hits h JOIN dfreq d USING (term) CROSS JOIN st),
tfs AS (SELECT doc, ROUND(SUM(contrib), 6) score
        FROM tfc GROUP BY 1 ORDER BY score DESC, doc LIMIT 50),
tfr AS (SELECT doc item_id,
               row_number() OVER (ORDER BY score DESC, doc) rank
        FROM tfs),
u AS (
  SELECT item_id,
         CAST(FLOOR(2.0 * 1000000000.0 / (60 + rank) + 0.5) AS BIGINT)
           term_u
  FROM bmr
  UNION ALL
  SELECT item_id,
         CAST(FLOOR(1.0 * 1000000000.0 / (60 + rank) + 0.5) AS BIGINT)
  FROM semr
  UNION ALL
  SELECT item_id,
         CAST(FLOOR(0.5 * 1000000000.0 / (60 + rank) + 0.5) AS BIGINT)
  FROM tfr),
f AS (SELECT item_id, SUM(term_u) su,
             CAST(COUNT(*) AS BIGINT) n_legs
      FROM u GROUP BY 1)
SELECT CAST(item_id AS BIGINT) item_id, n_legs,
       ROUND(su / 1000000000.0, 6) rrf_score
FROM f ORDER BY rrf_score DESC, item_id LIMIT 20""")
def q_retrieval_rrf_weighted(spark, sf):
    """Three-leg WEIGHTED reciprocal-rank fusion (relevance.rrf_fuse with
    per-leg weights — the production tilt when one modality is known
    stronger): BM25 top-50 at weight 2.0, exact-cosine top-50 at 1.0,
    and the new length-unnormalized TF-IDF lexical leg
    (relevance.tfidf_rank) top-50 at 0.5. Each weight scales the exact
    reciprocal BEFORE the single integer nano-unit rounding, so the
    fused sum stays order-independent across engines. All three legs
    are bounded top-Ns — fusion moves 150 rows regardless of corpus
    size."""
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    terms = ["spark", "table", "hash"]
    wl = Window.orderBy(F.desc("score"), F.asc("doc"))
    lex = RV.bm25_rank(docs, terms, "doc_id", "text", top_n=50)
    lex_r = lex.select(F.col("doc").alias("item_id"),
                       F.row_number().over(wl).alias("rank"))
    sem = SIM.brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=50)
    sem_r = sem.select(F.col("neighbor_id").alias("item_id"), "rank")
    tfi = RV.tfidf_rank(docs, terms, "doc_id", "text", top_n=50)
    tfi_r = tfi.select(F.col("doc").alias("item_id"),
                       F.row_number().over(wl).alias("rank"))
    return RV.rrf_fuse([lex_r, sem_r, tfi_r], k=60, top_n=20,
                       weights=[2.0, 1.0, 0.5])


# hard-negative mining: exact-cosine pool (the ann_topk idiom at
# k_pool=20 over the vec_id<100 anchors), label split, FaceNet
# semi-hard margin on 6dp-rounded similarities
@query("hard_negatives", oracle="""
WITH ee AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
dots AS (
  SELECT q.vec_id qid, c.vec_id nid, SUM(q.x * c.x) dp
  FROM ee q JOIN ee c ON q.i = c.i AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 100
  GROUP BY 1, 2),
scored AS (
  SELECT CAST(d.qid AS BIGINT) qid, CAST(d.nid AS BIGINT) nid,
         ROUND(d.dp / (nq.nrm * nc.nrm), 6) cs
  FROM dots d
  JOIN nn nq ON nq.vec_id = d.qid
  JOIN nn nc ON nc.vec_id = d.nid),
lab AS (SELECT DISTINCT vec_id, CAST(label AS BIGINT) lbl FROM ee),
pool AS (
  SELECT s.*, ql.lbl qlab, nl.lbl nlab,
         ROW_NUMBER() OVER (PARTITION BY s.qid
                            ORDER BY s.cs DESC, s.nid) rk
  FROM scored s
  JOIN lab ql ON ql.vec_id = s.qid
  JOIN lab nl ON nl.vec_id = s.nid),
p AS (SELECT * FROM pool WHERE rk <= 20),
pos AS (SELECT qid, MAX(cs) bp FROM p WHERE qlab = nlab GROUP BY qid),
neg AS (
  SELECT p.qid, p.qlab, p.nid, p.nlab, p.cs, pos.bp,
         ROW_NUMBER() OVER (PARTITION BY p.qid
                            ORDER BY p.cs DESC, p.nid) nrk
  FROM p LEFT JOIN pos USING (qid)
  WHERE p.qlab <> p.nlab)
SELECT qid anchor_id, qlab anchor_label, nid negative_id,
       nlab negative_label, cs cos_sim, bp best_pos_sim,
       CAST(nrk AS BIGINT) neg_rank,
       (bp IS NOT NULL AND cs < bp AND cs > ROUND(bp - 0.05, 6))
         semi_hard
FROM neg WHERE nrk <= 5 ORDER BY anchor_id, neg_rank""")
def q_hard_negatives(spark, sf):
    """Hard-negative mining for contrastive training (operators
    .relevance.hard_negative_mine — the ANCE/FaceNet batch-construction
    step, completing the embedding-training loop: dedup_semantic prunes
    redundancy, diversity_kcenter spreads the budget, this mines the
    pairs): per anchor (vec_id < 100 — the bounded broadcast-query
    contract of knn_classify), the 5 most-similar DIFFERENT-label
    vectors from the exact top-20 cosine pool, the pool's best
    same-label similarity, and the semi-hard flag
    (pos - 0.05 < neg < pos). Partial-top-k GEMM neighbors; everything
    after the pool is anchor-grain window work."""
    emb = load_table(spark, sf, "embeddings")
    return (RV.hard_negative_mine(emb, emb.where(F.col("vec_id") < 100),
                                  k_pool=20, k_neg=5, margin=0.05)
            .orderBy("anchor_id", "neg_rank"))


@query("retrieval_ndcg", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
dl AS (SELECT doc, COUNT(*) dl FROM toks GROUP BY 1),
st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) n_docs,
              AVG(dl) avgdl FROM dl),
hits AS (SELECT doc, w term, CAST(COUNT(*) AS DOUBLE) tf FROM toks
         WHERE w IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) df FROM hits GROUP BY 1),
c AS (SELECT h.doc,
        ln(1.0 + (st.n_docs - d.df + 0.5) / (d.df + 0.5))
          * h.tf * (1.2 + 1.0)
          / (h.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) contrib
      FROM hits h JOIN dfreq d USING (term) JOIN dl USING (doc)
      CROSS JOIN st),
ranked AS (SELECT doc, ROUND(SUM(contrib), 6) score
           FROM c GROUP BY 1 ORDER BY score DESC, doc LIMIT 20),
rel AS (SELECT doc, LEAST(COUNT(*), 7) rel FROM toks
        WHERE w IN ('hash', 'spark', 'table') GROUP BY 1),
at_k AS (SELECT COALESCE(rel.rel, 0) rel, rk.r
         FROM (SELECT doc, ROW_NUMBER() OVER (ORDER BY score DESC, doc) r
               FROM ranked) rk
         LEFT JOIN rel USING (doc)
         WHERE rk.r <= 10),
dcg AS (SELECT CAST(SUM(CAST(FLOOR(rel / log2(r + 1) * 1000000000.0
                                   + 0.5) AS BIGINT)) AS BIGINT) dcg_u
        FROM at_k),
ideal AS (SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc) r
          FROM rel ORDER BY rel DESC, doc LIMIT 10),
idcg AS (SELECT CAST(SUM(CAST(FLOOR(rel / log2(r + 1) * 1000000000.0
                                    + 0.5) AS BIGINT)) AS BIGINT) idcg_u
         FROM ideal)
SELECT 10 AS k,
       ROUND(dcg_u / 1000000000.0, 6) AS dcg,
       ROUND(idcg_u / 1000000000.0, 6) AS idcg,
       ROUND(CAST(dcg_u AS DOUBLE) / idcg_u, 6) AS ndcg
FROM dcg CROSS JOIN idcg""")
def q_retrieval_ndcg(spark, sf):
    """Ranked-retrieval evaluation (operators.relevance.retrieval_ndcg):
    nDCG@10 of the BM25 ranking for a 3-term query against graded
    occurrence-capped relevance labels — the trust report a retrieval
    stack runs before shipping a ranker (completes the eval family:
    nb_lang_eval for classifiers, nb_calibration for scores, this for
    rankings). DCG terms fold to integer nano-units before the
    order-independent sum; ideal ordering is a TakeOrdered cut."""
    docs = load_table(spark, sf, "documents")
    return RV.retrieval_ndcg(docs, ["spark", "table", "hash"],
                             "doc_id", "text", k=10, pool_n=20)
