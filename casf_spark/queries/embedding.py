"""Embedding corpus: ANN search (IVF, LSH, PQ), vector statistics and
transforms, clustering reports and diversity selection."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.operators.linalg import power_iteration_report
from casf_spark.operators import relevance as RV
from casf_spark.operators import profile as PF
from casf_spark.operators import similarity as SIM
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _SW_SQL, _vsql_sqd
from casf_spark.queries._registry import query


def _kcenter_oracle(k: int = 8) -> str:
    """diversity_kcenter twin: the identical greedy recurrence as chained
    CTEs — L2-normalized cells, running min_dist LEAST-folded with the
    6dp-rounded distance to each step's center, argmax by (min_dist
    DESC, vec_id ASC). Seed = MIN(vec_id) with sel_dist 0.0."""
    parts = ["""ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
en AS MATERIALIZED (SELECT e.vec_id, e.i,
              CASE WHEN n.nrm > 0 THEN e.x / n.nrm ELSE e.x END x
       FROM ee e JOIN nn n USING (vec_id)),
d0 AS (SELECT vec_id, CAST(2.0 AS DOUBLE) min_dist FROM nn),
c1 AS (SELECT MIN(vec_id) cid, CAST(0.0 AS DOUBLE) cdist FROM nn)"""]
    for j in range(1, k):
        parts.append(f"""d{j} AS MATERIALIZED (
  SELECT a.vec_id, LEAST(p.min_dist, ROUND(1.0 - SUM(a.x * c.x), 6))
           min_dist
  FROM en a
  JOIN d{j - 1} p ON p.vec_id = a.vec_id
  JOIN (SELECT i, x FROM en
        WHERE vec_id = (SELECT cid FROM c{j})) c ON a.i = c.i
  WHERE a.vec_id <> (SELECT cid FROM c{j})
  GROUP BY a.vec_id, p.min_dist),
c{j + 1} AS (SELECT vec_id cid, min_dist cdist FROM d{j}
             ORDER BY min_dist DESC, vec_id LIMIT 1)""")
    tail = "\nUNION ALL\n".join(
        f"SELECT CAST({j} AS BIGINT) sel_rank, CAST(cid AS BIGINT) vec_id, "
        f"cdist sel_dist FROM c{j}"
        for j in range(1, k + 1))
    return "WITH " + ",\n".join(parts) + "\n" + tail


def _lsh_oracle(num_planes: int = 8, seed: int = 42, dims: int = 64) -> str:
    import hashlib

    rows = []
    for p in range(num_planes):
        for d in range(dims):
            h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15], 16)
            rows.append(f"({p},{d},{h % 2001 - 1000})")
    planes = ", ".join(rows)
    return f"""
WITH planes(p, d, w) AS (VALUES {planes}),
ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
dots AS (
  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) dp
  FROM ee e JOIN planes pl ON e.d = pl.d GROUP BY 1, 2),
buck AS (
  SELECT vec_id, CAST(SUM(CASE WHEN dp >= 0 THEN (1::BIGINT << p)
                               ELSE 0 END) AS BIGINT) bucket
  FROM dots GROUP BY 1),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
cand AS (
  SELECT a.vec_id id0, b.vec_id id1
  FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id > b.vec_id),
dp AS (
  SELECT c.id0, c.id1, SUM(ea.x * eb.x) d
  FROM cand c
  JOIN ee ea ON ea.vec_id = c.id0
  JOIN ee eb ON eb.vec_id = c.id1 AND eb.d = ea.d
  GROUP BY 1, 2)
SELECT CAST(dp.id0 AS BIGINT) id0, CAST(dp.id1 AS BIGINT) id1,
       ROUND(dp.d / (n0.nrm * n1.nrm), 6) cos_sim
FROM dp JOIN nn n0 ON n0.vec_id = dp.id0 JOIN nn n1 ON n1.vec_id = dp.id1"""


# Contract-row oracles (round 4): for engine-specific outputs
# (KMeans/PQ quantizers, HLL sketches, greedy packing, chained
# float reductions, byte-level decode) the QUERY emits its
# data-derived counts plus asserted invariants, and the oracle
# states those exactly — a regression on either side flips the
# hash. See each q_* docstring for why the invariant is
# deterministic.
@query("ann_ivf", oracle="""
SELECT 'ivf_recall_at_10' AS metric,
       10 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS n_truth,
       TRUE AS recall_ge_floor""")
def q_ann_ivf(spark, sf):
    """IVF (seeded Spark-ML KMeans quantizer) recall assertion — the
    oracle-checkable form of the quantizer query. The KMeans bucket
    assignment cannot be stated in SQL, but its QUALITY CONTRACT can:
    recall@10 against exact brute force must clear a deterministic floor
    (0.45; measured 0.60 at sf0.01 with 2/8 buckets probed, pytest floor
    in test_ivf). Emits one row the DuckDB oracle states exactly, so a
    quantizer regression (bad seed plumbing, wrong probe count, broken
    bucket join) flips the hash. The raw top-k rows remain available via
    ``ann_ivf_det`` (oracle-checked md5-quantizer twin) and
    ``similarity.ivf_topk`` itself."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    ivf = SIM.ivf_topk(emb, queries_df, k=10, n_centroids=8, n_probes=2)
    bf = SIM.brute_force_topk(emb, queries_df, k=10)
    hit = (ivf.select("query_id", "neighbor_id")
           .join(bf.select("query_id", "neighbor_id"),
                 ["query_id", "neighbor_id"]))
    return (hit.agg(F.count(F.lit(1)).alias("n_hit"))
            .crossJoin(bf.agg(F.count(F.lit(1)).alias("n_truth")))
            .select(F.lit("ivf_recall_at_10").alias("metric"),
                    F.col("n_truth").cast("long").alias("n_truth"),
                    (F.col("n_hit") >= F.col("n_truth") * F.lit(0.45))
                    .alias("recall_ge_floor")))


@query("ann_ivf_det", oracle="""
WITH cent AS (
  SELECT vec_id cid, embedding cemb
  FROM embeddings
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id
  LIMIT 8),
corp AS (SELECT vec_id nid, embedding cv FROM embeddings),
ad AS (
  SELECT nid, cid, cv,
         ROUND(list_sum(list_transform(range(len(cv)),
               i -> (CAST(cv[i+1] AS DOUBLE) - CAST(cemb[i+1] AS DOUBLE))
                    * (CAST(cv[i+1] AS DOUBLE) - CAST(cemb[i+1] AS DOUBLE)))),
               6) d
  FROM corp CROSS JOIN cent),
assign AS (
  SELECT nid, cv, cid AS bucket FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY d, cid) rn
    FROM ad) WHERE rn = 1),
qd AS (
  SELECT q.nid qid, q.cv qv, c.cid,
         ROUND(list_sum(list_transform(range(len(q.cv)),
               i -> (CAST(q.cv[i+1] AS DOUBLE) - CAST(c.cemb[i+1] AS DOUBLE))
                    * (CAST(q.cv[i+1] AS DOUBLE) - CAST(c.cemb[i+1] AS DOUBLE)))),
               6) d
  FROM (SELECT * FROM corp WHERE nid < 10) q CROSS JOIN cent c),
probed AS (
  SELECT qid, qv, cid AS bucket FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, cid) rn
    FROM qd) WHERE rn <= 2),
scored AS (
  SELECT p.qid query_id, a.nid neighbor_id,
         ROUND(
           list_sum(list_transform(range(len(p.qv)),
             i -> CAST(p.qv[i+1] AS DOUBLE) * CAST(a.cv[i+1] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(p.qv, x -> CAST(x AS DOUBLE)
                                                      * CAST(x AS DOUBLE))))
              * SQRT(list_sum(list_transform(a.cv, x -> CAST(x AS DOUBLE)
                                                        * CAST(x AS DOUBLE))))),
           6) cos_sim
  FROM probed p JOIN assign a USING (bucket)
  WHERE p.qid <> a.nid)
SELECT CAST(query_id AS BIGINT) query_id,
       CAST(neighbor_id AS BIGINT) neighbor_id, cos_sim,
       CAST(rank AS INT) rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) rank
      FROM scored)
WHERE rank <= 10""")
def q_ann_ivf_det(spark, sf):
    """Deterministic IVF (md5-sampled centroids, rounded-argmin buckets,
    exact cosine within probed buckets) — the oracle-checked twin of the
    KMeans-quantizer ann_ivf."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    return SIM.ivf_topk_det(emb, queries_df, k=10, n_centroids=8, n_probes=2)


@query("ann_topk", oracle="""
WITH ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
dots AS (
  SELECT q.vec_id query_id, c.vec_id neighbor_id, SUM(q.x * c.x) dp
  FROM ee q JOIN ee c ON q.i = c.i AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
  GROUP BY 1, 2),
scored AS (
  SELECT CAST(d.query_id AS BIGINT) query_id,
         CAST(d.neighbor_id AS BIGINT) neighbor_id,
         ROUND(d.dp / (nq.nrm * nc.nrm), 6) cos_sim
  FROM dots d
  JOIN nn nq ON nq.vec_id = d.query_id
  JOIN nn nc ON nc.vec_id = d.neighbor_id),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) rn
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rank
FROM rk WHERE rn <= 10""")
def q_ann_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    return SIM.brute_force_topk(emb, queries_df, k=10)


@query("ann_lsh", oracle=_lsh_oracle())
def q_ann_lsh(spark, sf):
    # dims=64 (TESTDATA.md embedding width): skips the one-row probe job
    return SIM.lsh_candidates(load_table(spark, sf, "embeddings"),
                              num_planes=8, seed=42, dims=64)


@query("ann_lsh_mp", oracle="SELECT DISTINCT * FROM (("
                      + _lsh_oracle(seed=42) + ") UNION ("
                      + _lsh_oracle(seed=43) + ") UNION ("
                      + _lsh_oracle(seed=44) + "))")
def q_ann_lsh_multiprobe(spark, sf):
    """3-table multi-probe LSH: per-table miss probability p compounds to
    p^3, closing most of the recall gap to brute force (SCALE.md table)."""
    return SIM.lsh_candidates_multiprobe(load_table(spark, sf, "embeddings"),
                                         num_planes=8, seeds=(42, 43, 44),
                                         dims=64)


@query("ann_ivf_pq", oracle="""
SELECT 'ivf_pq_recall_at_10' AS metric,
       10 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS n_truth,
       TRUE AS recall_ge_floor""")
def q_ann_ivf_pq(spark, sf):
    """IVF-PQ (product-quantized codes + ADC scoring + exact re-rank)
    recall contract — same oracle-checkable shape as q_ann_ivf: the numpy
    encoder/scorer has no SQL twin, but recall@10 vs exact brute force
    clearing a deterministic floor does (0.3 = the test_ivf pin; measured
    0.43 at sf0.01 with 4/8 probes + 4x re-rank). An encoder/ADC/re-rank
    regression flips the hash; exact rows + determinism stay pinned in
    test_ivf."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    pq = SIM.ivf_pq_topk(emb, queries_df, k=10, n_probes=4, rerank=4)
    bf = SIM.brute_force_topk(emb, queries_df, k=10)
    hit = (pq.select("query_id", "neighbor_id")
           .join(bf.select("query_id", "neighbor_id"),
                 ["query_id", "neighbor_id"]))
    return (hit.agg(F.count(F.lit(1)).alias("n_hit"))
            .crossJoin(bf.agg(F.count(F.lit(1)).alias("n_truth")))
            .select(F.lit("ivf_pq_recall_at_10").alias("metric"),
                    F.col("n_truth").cast("long").alias("n_truth"),
                    (F.col("n_hit") >= F.col("n_truth") * F.lit(0.3))
                    .alias("recall_ge_floor")))


@query("cluster_profile", oracle=f"""
WITH cent AS (
  SELECT vec_id cid, embedding cemb
  FROM embeddings
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id
  LIMIT 8),
corp AS (SELECT vec_id id, embedding v FROM embeddings),
ad AS (SELECT id, cid, ROUND({_vsql_sqd('v', 'cemb')}, 6) d
       FROM corp CROSS JOIN cent),
assign AS (
  SELECT id, cid AS cl FROM (
    SELECT id, cid, ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) rn
    FROM ad) WHERE rn = 1),
base AS (
  SELECT a.cl,
         list_filter(regexp_split_to_array(lower(COALESCE(d.text, '')),
                                           '[^a-z0-9]+'),
                     t -> t <> '') toks
  FROM documents d JOIN assign a ON CAST(d.doc_id AS BIGINT) = a.id),
nd AS (SELECT cl, CAST(COUNT(*) AS BIGINT) n_docs
       FROM base GROUP BY 1),
tc AS (SELECT cl, t term, CAST(COUNT(*) AS BIGINT) cnt
       FROM (SELECT cl, unnest(toks) t FROM base)
       WHERE t NOT IN ({_SW_SQL}) GROUP BY 1, 2),
rk AS (SELECT cl, term, cnt,
              row_number() OVER (PARTITION BY cl
                                 ORDER BY cnt DESC, term) rank
       FROM tc WHERE TRUE QUALIFY rank <= 5)
SELECT CAST(nd.cl AS BIGINT) AS "cluster", nd.n_docs,
       CAST(rank AS BIGINT) rank, term, cnt
FROM nd LEFT JOIN rk ON rk.cl = nd.cl""")
def q_cluster_profile(spark, sf):
    """Embedding-cluster topic profile (operators.profile
    .cluster_term_profile): docs joined to their vectors' deterministic
    quantizer cluster (the SemDeDup/IVF md5-sample centroid assignment),
    each cluster labeled with its top-5 non-stopword terms — the
    corpus-exploration report ("what is in each semantic bucket")
    curation runs start from. Map-only assignment + keyed join +
    map-combined (cluster, term) count + per-cluster window."""
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    from casf_spark.operators.profile import cluster_term_profile
    return cluster_term_profile(docs, emb, n_clusters=8, top_k=5)


@query("diversity_kcenter", oracle=_kcenter_oracle(k=8))
def q_diversity_kcenter(spark, sf):
    """Greedy k-center / farthest-point sampling (operators.similarity
    .kcenter_select, Gonzalez 1985): 8 maximally-spread representatives
    from the embedding table — the diversity/coverage counterpart to
    SemDeDup. Deterministic seed (min vec_id), 6dp-rounded cosine
    distances, ties toward the smaller vec_id; per step one map-only
    pass against the broadcast newest center + a TakeOrdered(1) argmax
    (iterative-Spark shape, corpus checkpointed between steps)."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.kcenter_select(emb, k=8)


# the batched large-k path must reproduce the SEQUENTIAL greedy
# recurrence exactly — the twin is the same chained-CTE DP at
# k=64, so any batching shortcut that isn't provably safe fails
@query("diversity_kcenter_64", oracle=_kcenter_oracle(k=64))
def q_diversity_kcenter_64(spark, sf):
    """Large-k k-center (operators.similarity.kcenter_select_batched —
    the SCALE.md batched-GEMM route for k in the hundreds): the EXACT
    kcenter_select contract at k=64, but each corpus pass folds a whole
    BATCH of new centers into min_dist with one Arrow-batched BLAS
    matmul (bounded B×d side input), and a bounded TakeOrdered buffer
    lets the driver select multiple provably-safe centers per pass
    (valid while the best updated distance stays strictly above the
    buffer's cut — excluded distances can only shrink). Pass count
    collapses from k to ~k/B; the twin is the same 64-step sequential
    recurrence, so batching exactness is oracle-gated, and
    test_similarity pins batched == sequential at mid k."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.kcenter_select_batched(emb, k=64, buffer=64)


@query("knn_classify", oracle="""
WITH ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
dots AS (
  SELECT q.vec_id query_id, c.vec_id neighbor_id, SUM(q.x * c.x) dp
  FROM ee q JOIN ee c ON q.i = c.i AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 100
  GROUP BY 1, 2),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND(d.dp / (nq.nrm * nc.nrm), 6) cos_sim
  FROM dots d
  JOIN nn nq ON nq.vec_id = d.query_id
  JOIN nn nc ON nc.vec_id = d.neighbor_id),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) rn
    FROM scored) WHERE rn <= 10),
votes AS (
  SELECT t.query_id vec_id, e.label nl, COUNT(*) n_votes
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  GROUP BY 1, 2)
SELECT CAST(vec_id AS BIGINT) vec_id, pred_label,
       CAST(n_votes AS BIGINT) n_votes
FROM (SELECT vec_id, nl pred_label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY n_votes DESC, nl) rn
      FROM votes) WHERE rn = 1""")
def q_knn_classify(spark, sf):
    """kNN majority-vote label prediction over embeddings (k=10 exact
    cosine neighbors via the partial-top-k GEMM path)."""
    emb = load_table(spark, sf, "embeddings")
    return RV.knn_classify(emb, emb.where(F.col("vec_id") < 100), k=10)


@query("embedding_norms", oracle="""
WITH ee AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) x
            FROM embeddings),
nn AS (SELECT vec_id, label, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1, 2)
SELECT label, CAST(COUNT(*) AS BIGINT) n,
       ROUND(MIN(nrm), 6) min_norm, ROUND(MAX(nrm), 6) max_norm,
       ROUND(AVG(nrm), 6) avg_norm
FROM nn GROUP BY 1""")
def q_embedding_norms(spark, sf):
    """Per-label vector-norm profile (min/max/avg |v|): the embedding-
    table sanity report (norm collapse / un-normalized batches show up
    here first). One aggregation, norms computed row-local."""
    from casf_spark.functions import vectors as V
    emb = load_table(spark, sf, "embeddings")
    nrm = F.sqrt(V.dot(V.as_double("embedding"), V.as_double("embedding")))
    return (emb.select("label", nrm.alias("nrm"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"),
                 F.round(F.avg("nrm"), 6).alias("avg_norm")))


@query("embedding_outliers", oracle="""
WITH ee AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
cent AS (SELECT label, i, AVG(x) c FROM ee GROUP BY 1, 2),
sc AS (
  SELECT e.vec_id, e.label,
         SUM(e.x * c.c) dp, SQRT(SUM(e.x * e.x)) nv,
         SQRT(SUM(c.c * c.c)) nc
  FROM ee e JOIN cent c ON c.label = e.label AND c.i = e.i
  GROUP BY 1, 2),
r AS (
  SELECT label, CAST(vec_id AS BIGINT) vec_id,
         ROUND(dp / (nv * nc), 6) cos_centroid,
         ROW_NUMBER() OVER (PARTITION BY label
           ORDER BY ROUND(dp / (nv * nc), 6), vec_id) rk
  FROM sc)
SELECT label, vec_id, cos_centroid, CAST(rk AS INT) rank
FROM r WHERE rk <= 5""")
def q_embedding_outliers(spark, sf):
    """Per-label bottom-5 cosine-to-centroid vectors (mislabeled-data
    sweep); centroids broadcast, corpus scored map-side."""
    emb = load_table(spark, sf, "embeddings")
    return RV.label_centroid_outliers(emb, k=5)


@query("embedding_winsorize", oracle="""
WITH cells AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
bounds AS (
  SELECT dim, ROUND(quantile_cont(x, 0.05), 6) b_lo,
              ROUND(quantile_cont(x, 0.95), 6) b_hi
  FROM cells GROUP BY dim)
SELECT vec_id, CAST(dim AS INT) AS dim,
       ROUND(LEAST(GREATEST(x, b_lo), b_hi), 6) AS clipped,
       (x < b_lo OR x > b_hi) AS was_clipped
FROM cells JOIN bounds USING (dim)""")
def q_embedding_winsorize(spark, sf):
    """Per-dimension winsorization (operators.similarity
    .winsorize_embeddings): each dimension's cells clipped into that
    dimension's exact [p05, p95] band — robust outlier taming before
    distance work. Emitted exploded (vec_id, dim, clipped, was_clipped)
    so the oracle hash-checks every cell; the bounds table is
    dimension-sized (corpus-independent) and broadcasts, the clip is
    map-only."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.winsorize_embeddings(emb, lo=0.05, hi=0.95)


@query("embedding_prep", oracle="""
WITH cells AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
bounds AS (
  SELECT dim, ROUND(quantile_cont(x, 0.05), 6) b_lo,
              ROUND(quantile_cont(x, 0.95), 6) b_hi
  FROM cells GROUP BY dim),
cl AS (SELECT vec_id, dim, ROUND(LEAST(GREATEST(x, b_lo), b_hi), 6) c
       FROM cells JOIN bounds USING (dim)),
st AS (SELECT dim, AVG(c) mu, STDDEV_SAMP(c) sigma FROM cl GROUP BY dim),
zt AS (SELECT vec_id, dim,
              ROUND(CASE WHEN sigma IS NULL OR sigma = 0 THEN 0.0
                         ELSE (c - mu) / sigma END, 6) z
       FROM cl JOIN st USING (dim)),
sc AS (SELECT vec_id, MAX(ABS(z)) / 127.0 s FROM zt GROUP BY vec_id)
SELECT zt.vec_id, CAST(dim AS INT) AS dim, z,
       CAST(CASE WHEN s > 0 THEN FLOOR(z / s + 0.5) ELSE 0 END
            AS BIGINT) AS code,
       ROUND(s, 6) AS scale
FROM zt JOIN sc USING (vec_id)""")
def q_embedding_prep(spark, sf):
    """Fused embedding-prep chain (operators.similarity
    .embedding_prep_report): winsorize -> z-score over clipped values ->
    per-vector int8 quantization, per-cell output so every intermediate
    hash-checks. Two dimension-grain stats aggregations (broadcast back)
    + one vector-grain scale aggregation; all else map-only. z is rounded
    6dp BEFORE the max/division so both engines quantize identical
    doubles."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.embedding_prep_report(emb, lo=0.05, hi=0.95)


@query("embedding_int8", oracle="""
WITH e AS (SELECT CAST(vec_id AS BIGINT) vec_id,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) xs
           FROM embeddings),
sc AS (SELECT vec_id, xs,
              list_max(list_transform(xs, v -> abs(v))) / 127.0 s
       FROM e),
cd AS (SELECT vec_id, xs, s,
              CASE WHEN s > 0
                   THEN list_transform(xs,
                        v -> CAST(FLOOR(v / s + 0.5) AS BIGINT))
                   ELSE list_transform(xs, v -> CAST(0 AS BIGINT))
              END codes
       FROM sc)
SELECT vec_id, CAST(len(xs) AS BIGINT) dims, ROUND(s, 6) scale,
       ROUND(list_reduce(
         list_prepend(0.0, list_transform(range(len(xs)),
           i -> abs(xs[i + 1] - codes[i + 1] * s))),
         (a, b) -> greatest(a, b)), 6) max_abs_err,
       ROUND(list_reduce(
         list_prepend(0.0, list_transform(range(len(xs)),
           i -> (xs[i + 1] - codes[i + 1] * s)
                * (xs[i + 1] - codes[i + 1] * s))),
         (a, b) -> a + b) / len(xs), 6) mse
FROM cd""")
def q_embedding_int8(spark, sf):
    """Scalar int8 embedding quantization
    (operators.similarity.quantize_embeddings_int8): symmetric max-abs
    scale per vector, floor(x/s + 0.5) codes (engine-identical — no
    ROUND-semantics dependence), per-vector reconstruction error report.
    Map-only; the 4x storage cut is the point at a 100 TB embedding
    corpus."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.quantize_embeddings_int8(emb)


@query("embedding_standardize", oracle="""
WITH cells AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
stats AS (
  SELECT dim, AVG(x) mu, STDDEV_SAMP(x) sigma FROM cells GROUP BY dim)
SELECT vec_id, CAST(dim AS INT) AS dim,
       ROUND(CASE WHEN sigma IS NULL OR sigma = 0 THEN 0.0
                  ELSE (x - mu) / sigma END, 6) AS z
FROM cells JOIN stats USING (dim)""")
def q_embedding_standardize(spark, sf):
    """Per-dimension standardization (z-scoring) of the embedding corpus
    — the prep step before distance work when dimensions have uneven
    scales. One posexplode -> per-dim mean/stddev aggregation (64 rows)
    -> broadcast join back: the stats side is dimension-sized regardless
    of corpus size, and the corpus-side pass is map-only after the
    broadcast. Emitted exploded (vec_id, dim, z) so the DuckDB twin
    (unnest WITH ORDINALITY + the same sample-stddev) hash-checks every
    standardized cell. Zero-variance dims map to z=0 explicitly."""
    emb = load_table(spark, sf, "embeddings")
    cells = emb.select(F.col("vec_id").cast("long").alias("vec_id"),
                       F.posexplode("embedding").alias("dim", "x"))
    stats = (cells.groupBy("dim")
             .agg(F.avg("x").alias("mu"),
                  F.stddev_samp("x").alias("sigma")))
    z = F.when((F.col("sigma").isNull()) | (F.col("sigma") == 0), F.lit(0.0)) \
        .otherwise((F.col("x") - F.col("mu")) / F.col("sigma"))
    return (cells.join(F.broadcast(stats), "dim")
            .select("vec_id", F.col("dim").cast("int").alias("dim"),
                    F.round(z, 6).alias("z")))


@query("embedding_power_iter", oracle="""
SELECT 'power_iter_top1' AS metric, 64 AS dim,
       (SELECT COUNT(*) FROM embeddings) AS n_rows,
       TRUE AS unit_norm, TRUE AS lambda_ge_mean, TRUE AS resid_bounded""")
def q_embedding_power_iter(spark, sf):
    """Dominant principal direction of the embedding corpus via 8 rounds
    of power iteration against the one-pass tree-reduced Gram
    (operators.linalg). Oracle-checkable contract form: the chained
    float reductions cannot be replayed bit-stably in SQL, but the
    eigenpair invariants can — see linalg.power_iteration_report (row
    count through the Gram pass, unit norm, Rayleigh quotient >= mean
    eigenvalue, residual convergence). Exact loadings stay pinned
    against numpy eigh in test_linalg."""
    emb = load_table(spark, sf, "embeddings")
    return power_iteration_report(emb, "embedding", n_iter=8, dim=64)


# simplified silhouette: the semdedup oracle's det-centroid +
# rounded-argmin idiom, then the micro-unit per-cluster mean fold
@query("cluster_silhouette", oracle=f"""
WITH cent AS (
  SELECT vec_id cid, embedding cemb
  FROM embeddings
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id
  LIMIT 8),
corp AS (SELECT vec_id id, embedding v FROM embeddings),
ad AS (
  SELECT id, cid, ROUND({_vsql_sqd('v', 'cemb')}, 6) d
  FROM corp CROSS JOIN cent),
rk AS (SELECT id, cid, d,
              ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) rn
       FROM ad),
per AS (
  SELECT a.id, a.cid AS "cluster", a.d AS da, b.d AS db
  FROM (SELECT * FROM rk WHERE rn = 1) a
  JOIN (SELECT * FROM rk WHERE rn = 2) b USING (id)),
s AS (
  SELECT "cluster",
         CAST(FLOOR(CASE WHEN GREATEST(da, db) > 0
                         THEN ROUND((db - da) / GREATEST(da, db), 6)
                         ELSE 0.0 END * 1000000.0 + 0.5)
              AS BIGINT) s_u
  FROM per)
SELECT CAST("cluster" AS BIGINT) "cluster",
       CAST(COUNT(*) AS BIGINT) n_docs,
       ROUND(CAST(SUM(s_u) AS BIGINT) / (COUNT(*) * 1e6), 6) mean_sil
FROM s GROUP BY "cluster" ORDER BY "cluster" """)
def q_cluster_silhouette(spark, sf):
    """Simplified (centroid-based) silhouette of the det-quantizer
    clustering (operators.profile.cluster_silhouette) — the
    cluster-quality diagnostic read before trusting SemDeDup prune
    rates or IVF probe counts built on the same quantizer: per vector
    a = rounded squared-L2 to its own centroid, b = to the nearest
    other, s = (b-a)/max(a,b), folded to integer micro-units before
    the per-cluster mean. Twin: the semdedup oracle's centroid/argmin
    idiom + the same fold. O(N·k) map-only distances against the
    broadcast centroid table; one cluster-grain agg."""
    emb = load_table(spark, sf, "embeddings")
    return (PF.cluster_silhouette(emb, "vec_id", "embedding",
                                  n_clusters=8)
            .orderBy("cluster"))


def _embedding_rp8_oracle() -> str:
    # JL random projection: the SAME jl_sign_matrix literals spelled
    # into SQL — one source of truth for the ±1 matrix in both engines
    from casf_spark.operators.linalg import jl_sign_matrix
    _signs = jl_sign_matrix(64, 8, seed=7)
    _rp_cols = ", ".join(
        "ROUND((" + " ".join(
            ("+" if _signs[i][j] == 1 else "-") + f" u[{i + 1}]"
            for i in range(64)).lstrip("+ ")
        + ") / (1000000.0 * sqrt(8.0)), 6)"
        for j in range(8))
    return f"""
WITH cells AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) u
  FROM embeddings)
SELECT vec_id, CAST(generate_subscripts(p, 1) - 1 AS INT) AS dim,
       unnest(p) AS y
FROM (SELECT vec_id, [{_rp_cols}] p FROM cells)
ORDER BY vec_id, dim"""


@query("embedding_rp8", oracle=_embedding_rp8_oracle())
def q_embedding_rp8(spark, sf):
    """Johnson–Lindenstrauss sign random projection 64 → 8
    (operators.linalg.random_projection, Achlioptas 2003): the
    cheap-sketch step before LSH bucketing or off-cluster shipping.
    The ±1 matrix is generated driver-side from md5 literals
    (jl_sign_matrix) and folds into the plan as constants — map-only,
    no shuffle, no per-row hashing; each input cell folds to integer
    micro-units once so the signed per-dim sums are order-independent
    BIGINTs and the twin (the SAME matrix spelled into SQL) matches
    bit-for-bit. Distance preservation is pinned by a property test."""
    emb = load_table(spark, sf, "embeddings")
    from casf_spark.operators.linalg import random_projection
    return (random_projection(emb, "vec_id", "embedding",
                              in_dim=64, out_dim=8, seed=7)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.posexplode("proj").alias("dim", "y"))
            .select("vec_id", F.col("dim").cast("int").alias("dim"), "y")
            .orderBy("vec_id", "dim"))


@query("embedding_pca2", oracle="""
SELECT 'pca_top2' AS metric, c AS component, 64 AS dim,
       (SELECT COUNT(*) FROM embeddings) AS n_rows,
       TRUE AS unit_norm, TRUE AS orthogonal_to_v1,
       TRUE AS lambda_ordered, TRUE AS resid_bounded
FROM (SELECT unnest([1, 2]) AS c)""")
def q_embedding_pca2(spark, sf):
    """Top-2 principal directions via DEFLATED power iteration
    (operators.linalg.pca_top2_report): one distributed tree-reduced
    Gram pass, then both eigenpairs driver-side — component 2 extracted
    from G - lambda1 v1 v1' with explicit re-orthogonalization so the
    orthogonality contract is machine-exact. Contract rows per
    component: n_rows, unit norm, v1-orthogonality, eigenvalue
    ordering, residual bound (0.25, ~2x margin on this near-isotropic
    corpus — measured r2 = 0.125 / 0.095 at sf0.01 / sf0.1). Exact
    loadings pinned against numpy eigh in test_linalg."""
    from casf_spark.operators.linalg import pca_top2_report
    emb = load_table(spark, sf, "embeddings")
    return pca_top2_report(emb, "embedding", n_iter=8, dim=64)


def _select_facility_oracle() -> str:
    # greedy facility location: candidates = md5-8 pool, similarities
    # in integer micro-units, 4 greedy rounds as chained MATERIALIZED
    # CTEs (the kcore/kcenter unroll discipline), argmax ties to the
    # smaller candidate id
    _fl_rounds = []
    for r in range(1, 5):
        _not_sel = " ".join(
            f"AND s.cid <> (SELECT cid FROM p{j})" for j in range(1, r))
        _fl_rounds.append(f"""g{r} AS MATERIALIZED (
  SELECT s.cid, CAST(SUM(GREATEST(c.cu, s.su) - c.cu) AS BIGINT) gu
  FROM sims s JOIN cov{r - 1} c USING (id)
  WHERE TRUE {_not_sel}
  GROUP BY 1),
p{r} AS MATERIALIZED (SELECT cid, gu FROM g{r}
                      ORDER BY gu DESC, cid LIMIT 1),
cov{r} AS MATERIALIZED (
  SELECT c.id, GREATEST(c.cu, COALESCE(s.su, 0)) cu
  FROM cov{r - 1} c
  LEFT JOIN (SELECT id, su FROM sims
             WHERE cid = (SELECT cid FROM p{r})) s USING (id))""")
    _fl_tail = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) sel_rank, "
        f"CAST((SELECT cid FROM p{r}) AS BIGINT) sel_id, "
        f"(SELECT gu FROM p{r}) / 1000000.0 gain, "
        f"({' + '.join(f'(SELECT gu FROM p{j})' for j in range(1, r + 1))})"
        f" / 1000000.0 coverage"
        for r in range(1, 5))
    return f"""
WITH ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) i,
         CAST(unnest(embedding) AS DOUBLE) x
  FROM embeddings),
nn AS (SELECT vec_id, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1),
en AS MATERIALIZED (SELECT e.vec_id, e.i,
              CASE WHEN n.nrm > 0 THEN e.x / n.nrm ELSE e.x END x
       FROM ee e JOIN nn n USING (vec_id)),
cand AS MATERIALIZED (
  SELECT vec_id cid FROM nn
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id
  LIMIT 8),
sims AS MATERIALIZED (
  SELECT a.vec_id id, b.vec_id cid,
         GREATEST(CAST(FLOOR(ROUND(SUM(a.x * b.x), 6) * 1000000.0 + 0.5)
                       AS BIGINT), 0) su
  FROM en a
  -- the candidate restriction must sit INSIDE the b leg: spelled as a
  -- WHERE on the joined result, DuckDB planned the dim-key self-join
  -- first (64 distinct i values -> a quarter-billion-row
  -- intermediate; measured 68 s for this CTE alone at sf0.1 vs 0.1 s
  -- with the filter pushed)
  JOIN (SELECT vec_id, i, x FROM en
        WHERE vec_id IN (SELECT cid FROM cand)) b ON a.i = b.i
  GROUP BY 1, 2),
cov0 AS (SELECT vec_id id, CAST(0 AS BIGINT) cu FROM nn),
{",".join(_fl_rounds)}
{_fl_tail}"""


@query("select_facility", oracle=_select_facility_oracle())
def q_select_facility(spark, sf):
    """Greedy facility-location selection over the embedding corpus
    (operators.similarity.facility_location_select, Nemhauser 1978
    greedy on the submodular coverage objective): the 4 exemplars,
    from the md5-8 candidate pool, that maximize total corpus coverage
    sum_x max_s sim(x, s) — the max-COVERAGE counterpart of the
    diversity_kcenter query (spread hull vs mass exemplars).
    Micro-unit integer gains, smaller-cid ties; the oracle twin
    unrolls the 4 greedy rounds as chained MATERIALIZED CTEs. Output:
    (sel_rank, sel_id, gain, coverage), coverage strictly increasing,
    gain non-increasing (submodularity — pinned by test)."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.facility_location_select(emb, k=4, n_candidates=8)
