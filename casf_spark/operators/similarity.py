"""Similarity search (ANN) over an embedding column.

Two tiers (SURVEY.md §7 phase D):

* brute_force_topk — exact top-k by cosine: queries x corpus join. With a
  small query set Catalyst broadcasts it, so the corpus is scanned once,
  embarrassingly parallel — the right *exact* plan at any corpus size.
* lsh_topk — random-hyperplane LSH bucketing: sign-bit signature per vector,
  candidates only within a bucket, exact cosine re-rank inside. Sub-linear
  candidate generation for corpus x corpus workloads at 100 TB scale.

Hyperplanes are derived from md5 hashes (functions.hashing) — fully
deterministic and reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from casf_spark import schemas
from casf_spark.functions import vectors as V
from casf_spark.functions.hashing import det_centroids, md5_long

#: hyperplane component range: H(plane:dim) % 2001 - 1000 -> [-1000, 1000]
_PLANE_MOD = 2001
_PLANE_SHIFT = 1000


def _probe_dims(df: DataFrame, vec_col: str, caller: str) -> int:
    """Sample one row to learn the vector width — with LOUD failures:
    first() on an empty corpus returns None, and the old bare
    ``len(first()[0])`` surfaced that as an undiagnostic TypeError."""
    row = df.select(vec_col).first()
    if row is None:
        raise ValueError(
            f"{caller}: corpus is empty — cannot infer dims (pass dims=)")
    if row[0] is None:
        raise ValueError(
            f"{caller}: first {vec_col} is NULL — cannot infer dims")
    return len(row[0])


def _normalized_matrix(pdf, vec_col: str):
    """numpy float64 row-normalized matrix from a pandas batch; zero-norm
    rows stay zero (cosine-with-zero-vector = 0 semantics)."""
    import numpy as np

    m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    if m.size == 0:
        return m.reshape(0, 0)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim, rank), self-matches excluded;
    rank ties break on neighbor_id for determinism.

    The query set is collected + broadcast (same smallness contract as a
    broadcast join); the corpus streams through an Arrow-batched
    ``mapInPandas`` that computes a blocked Q x batch^T matmul and emits
    only each batch's per-query top-k partial — shuffle volume is
    O(n_queries * k * n_batches), independent of corpus size. A final
    window reduces partials. This is the scale shape: corpus never
    concentrates, numpy does the flops.
    """
    import numpy as np

    qpdf = queries.select(F.col(id_col).cast("long").alias("id"),
                          vec_col).toPandas()
    if qpdf.empty:
        # top-k of an empty query set is empty; without this guard every
        # executor crashed with a (0,0) matmul core-dimension mismatch
        empty = corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, "
                "rank long")
        return schemas.conform(empty, schemas.ANN_TOPK)
    q_ids = qpdf["id"].to_numpy()
    q_mat = _normalized_matrix(qpdf, vec_col)
    sc = corpus.sparkSession.sparkContext
    b_qids, b_qmat = sc.broadcast(q_ids), sc.broadcast(q_mat)

    def partial_topk(batches):
        import pandas as pd

        qids, qm = b_qids.value, b_qmat.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["id"].to_numpy()
            cm = _normalized_matrix(pdf, vec_col)
            s = np.round(qm @ cm.T, 6)                    # nq x nb
            s[qids[:, None] == cids[None, :]] = -np.inf   # exclude self
            kk = min(k, s.shape[1])
            # per query: order by (-cos, neighbor_id), take first kk
            for qi in range(s.shape[0]):
                order = np.lexsort((cids, -s[qi]))[:kk]
                keep = order[np.isfinite(s[qi][order])]
                if keep.size:
                    yield pd.DataFrame({
                        "query_id": np.full(keep.size, qids[qi]),
                        "neighbor_id": cids[keep],
                        "cos_sim": s[qi][keep],
                    })

    partial = (corpus.select(F.col(id_col).cast("long").alias("id"), vec_col)
               .mapInPandas(partial_topk,
                            "query_id long, neighbor_id long, cos_sim double"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return schemas.conform(
        partial.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= k), schemas.ANN_TOPK)


#: most vectors in one blocked_gemm_pairs block
GEMM_MAX_BLOCK_ROWS = 32768


def blocked_gemm_pairs(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       threshold: float = 0.95) -> DataFrame:
    """All-pairs cosine >= threshold via DISTRIBUTED block-pair GEMM —
    exact, with no driver-side collect at any corpus size.

    Each vector is hashed to one of B blocks; every row is replicated B
    times, tagged with the block-pair group it participates in (upper
    triangle: B(B+1)/2 groups), and each group's two sub-blocks meet in one
    applyInPandas task that runs the chunked numpy matmul. Per-task memory
    is bounded by 2*GEMM_MAX_BLOCK_ROWS vectors + one chunk of the similarity
    matrix; shuffle volume is O(n*B) rows. B is sized from a measured count
    (the same measure-then-pick strategy as dedup.connected_components), so
    small corpora get a handful of parallel tasks and a 100 TB corpus gets
    blocks that still fit one executor. The O(n^2/B^2)-per-task compute is
    inherent to *exact* all-pairs — for sub-quadratic approximate recall use
    lsh_candidates / minhash instead.
    """
    import numpy as np

    n = df.count()
    # at least 4 blocks (10 parallel block-pairs) once there's any real
    # data; beyond that, scale so a block never exceeds GEMM_MAX_BLOCK_ROWS
    B = max(4, -(-n // GEMM_MAX_BLOCK_ROWS))

    base = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(B))
         .cast("int").alias("blk"))
    partner = F.explode(F.array(*[F.lit(p) for p in range(B)])).alias("p")
    # p ranges over all B blocks, so each row lands in exactly the B groups
    # its block participates in (pair {blk, p} -> group key once per p; the
    # p == blk case produces the diagonal group exactly once)
    replicated = (base.select("id", "v", "blk", partner)
                  .select("id", "v", "blk",
                          (F.least("blk", "p") * B + F.greatest("blk", "p"))
                          .alias("g")))

    def block_pair(pdf):
        import pandas as pd

        g = int(pdf["g"].iloc[0])
        bi, bj = g // B, g % B
        out = []

        def emit(s, ids_a, ids_b, same_block):
            # canonical id0 > id1; within a block keep the strict upper
            # triangle, across blocks orient each hit
            if same_block:
                mask = (s >= threshold) & (ids_a[:, None] > ids_b[None, :])
            else:
                mask = s >= threshold
            i, j = np.nonzero(mask)
            if i.size:
                a, b = ids_a[i], ids_b[j]
                out.append(pd.DataFrame({
                    "id0": np.maximum(a, b), "id1": np.minimum(a, b),
                    "cos_sim": s[i, j]}))

        if bi == bj:
            ids = pdf["id"].to_numpy()
            m = _normalized_matrix(pdf, "v")
            for lo in range(0, len(ids), 1024):
                hi = lo + 1024
                emit(np.round(m[lo:hi] @ m.T, 6), ids[lo:hi], ids, True)
        else:
            pa = pdf[pdf["blk"] == bi]
            pb = pdf[pdf["blk"] == bj]
            ids_a, ids_b = pa["id"].to_numpy(), pb["id"].to_numpy()
            ma, mb = _normalized_matrix(pa, "v"), _normalized_matrix(pb, "v")
            if ids_a.size and ids_b.size:
                for lo in range(0, len(ids_a), 1024):
                    hi = lo + 1024
                    emit(np.round(ma[lo:hi] @ mb.T, 6), ids_a[lo:hi], ids_b,
                         False)
        if not out:
            return pd.DataFrame({"id0": pd.Series(dtype="int64"),
                                 "id1": pd.Series(dtype="int64"),
                                 "cos_sim": pd.Series(dtype="float64")})
        return pd.concat(out, ignore_index=True)

    out = replicated.groupBy("g").applyInPandas(
        block_pair, "id0 long, id1 long, cos_sim double")
    return schemas.conform(out, schemas.COSINE_PAIR)


def _bucket_expr(vec_col, num_planes: int, seed: int, dims: int):
    """The sign-bit LSH bucket id as a single Column expression:
    bucket = sum over planes of sign-bit << p, where plane p's component
    for dimension d is the deterministic integer ``H(seed:p:d) % 2001 -
    1000`` (an md5 of a literal string per (p, d), computed once per
    plan). Shared by the candidate builders so one projection can emit
    several seeds' buckets side by side (one corpus pass for a whole
    multi-probe family)."""
    import hashlib

    def comp(p: int, d: int) -> int:
        h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15], 16)
        return h % _PLANE_MOD - _PLANE_SHIFT

    v = V.as_double(vec_col)
    # dim count is fixed per dataset; planes are built per-dim with
    # zip_with against a literal array, sized to the vector length.
    def plane_dot(p: int):
        plane = F.array(*[F.lit(float(comp(p, d))) for d in range(dims)])
        return F.aggregate(F.zip_with(v, plane, lambda x, w: x * w),
                           F.lit(0.0), lambda acc, x: acc + x)

    bucket = None
    for p in range(num_planes):
        bit = F.when(plane_dot(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_candidates(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", num_planes: int = 8,
                   seed: int = 42, dims: int | None = None) -> DataFrame:
    """Candidate pairs sharing an LSH bucket, with exact cosine re-rank.

    Output (id0, id1, cos_sim). Recall is tunable via num_planes (fewer
    planes = bigger buckets = higher recall, more compute). For multi-probe
    recall, run with several seeds and union.

    Plan shape (r13 optimization, guide §2.3/§8): the bucket self-join
    carries ONLY (id, bucket) — the signature projection is materialized
    once (localCheckpoint; 2 narrow columns) instead of recomputing the
    8-plane dot products on both join sides, and the d-dim vectors are
    attached to the CANDIDATE pairs afterwards, so vector bytes never
    flow through the candidate join and cosine runs once per surviving
    pair. Measured at sf0.1: identical rows, ~35% faster; at 100 TB the
    candidate shuffle shrinks from O(rows * d) to O(rows) bytes.
    """
    if dims is None:
        dims = _probe_dims(df, vec_col, "lsh_candidates")
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(vec_col).alias("v"))
    sig = base.select(
        "id", _bucket_expr("v", num_planes, seed, dims).alias("bucket"))
    sig = sig.localCheckpoint()
    a = sig.select(F.col("id").alias("id0"), "bucket")
    b = sig.select(F.col("id").alias("id1"), "bucket")
    pairs = (a.join(b, "bucket")
             .where(F.col("id0") > F.col("id1"))
             .select("id0", "id1"))
    v0 = base.select(F.col("id").alias("id0"), F.col("v").alias("v0"))
    v1 = base.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    out = (pairs.join(v0, "id0").join(v1, "id1")
           .select("id0", "id1",
                   F.round(V.cosine(F.col("v0"), F.col("v1")), 6)
                   .alias("cos_sim")))
    return schemas.conform(out, schemas.COSINE_PAIR)


def lsh_candidates_multiprobe(df: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              num_planes: int = 8,
                              seeds: tuple[int, ...] = (42, 43, 44),
                              dims: int | None = None) -> DataFrame:
    """Multi-probe LSH: union candidate pairs over several independent
    hyperplane tables, dedup on the pair key.

    Each extra table multiplies the bucketing cost (cheap: one signature
    projection + one equi-join) but compounds recall — a pair missed with
    probability p by one table is missed by t independent tables with
    probability p^t. The cos_sim value is identical across tables, so the
    pair-key dedup needs no re-scoring.

    Plan shape (r13 optimization, guide §2.3/§8): ONE corpus projection
    emits every seed's bucket side by side and is materialized once
    (localCheckpoint; 1 + len(seeds) narrow columns) — previously each
    seed's table recomputed the 8-plane signature on BOTH sides of its
    self-join (6 signature passes for 3 seeds) and shipped the d-dim
    vectors through every join. Candidate pairs are unioned and deduped
    as bare (id0, id1) keys; vectors attach once at candidate grain and
    cosine runs once per distinct pair. Measured at sf0.1: identical
    rows, 4.06 -> 2.52 s; at 100 TB, 1 signature pass instead of 2t and
    an O(rows)-byte candidate shuffle instead of O(rows * d).
    """
    if dims is None:
        # one probe job for the whole family instead of one per seed table
        dims = _probe_dims(df, vec_col, "lsh_candidates_multiprobe")
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(vec_col).alias("v"))
    sig = base.select(
        "id", *[_bucket_expr("v", num_planes, s, dims).alias(f"b{i}")
                for i, s in enumerate(seeds)])
    sig = sig.localCheckpoint()
    pairs = None
    for i in range(len(seeds)):
        a = sig.select(F.col("id").alias("id0"), F.col(f"b{i}").alias("bk"))
        b = sig.select(F.col("id").alias("id1"), F.col(f"b{i}").alias("bk"))
        p = (a.join(b, "bk").where(F.col("id0") > F.col("id1"))
             .select("id0", "id1"))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    v0 = base.select(F.col("id").alias("id0"), F.col("v").alias("v0"))
    v1 = base.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    out = (pairs.join(v0, "id0").join(v1, "id1")
           .select("id0", "id1",
                   F.round(V.cosine(F.col("v0"), F.col("v1")), 6)
                   .alias("cos_sim")))
    return schemas.conform(out, schemas.COSINE_PAIR)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probes: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer
    buckets the corpus; each query searches only its ``n_probes`` nearest
    buckets exactly.

    The scale path for corpus x corpus ANN when hyperplane LSH recall is
    insufficient: centroids are tiny (collected + broadcast), corpus rows
    shuffle once on bucket id, and per-bucket search is an equi-join —
    no all-pairs anything. Output (query_id, neighbor_id, cos_sim, rank).

    Deterministic for a fixed seed (Spark ML KMeans is seeded), but not
    oracle-expressible in SQL — registered as a rows-only query.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corp = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                         F.col(vec_col).alias("cv"))
    feats = corp.withColumn(
        "features",
        array_to_vector(F.transform(F.col("cv"), lambda x: x.cast("double"))))
    # few iterations suffice: the quantizer only buckets, centroid quality
    # beyond rough convergence buys no recall
    model = KMeans(k=n_centroids, seed=seed, maxIter=8,
                   featuresCol="features", predictionCol="bucket").fit(feats)
    assigned = (model.transform(feats)
                .select("neighbor_id", "cv", "bucket"))

    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    sc = corpus.sparkSession.sparkContext
    b_centers = sc.broadcast(centers)

    def probe(batches):
        import pandas as pd

        cm = b_centers.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array(pdf["qv"].tolist(), dtype=np.float64)
            d = ((q[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
            nb = np.argsort(d, axis=1)[:, :n_probes]
            qid = pdf["query_id"].to_numpy()
            n = nb.shape[1]
            yield pd.DataFrame({
                "query_id": np.repeat(qid, n),
                "bucket": nb.reshape(-1).astype("int32"),
                "qv": [v for v in pdf["qv"] for _ in range(n)],
            })

    q = queries.select(F.col(id_col).cast("long").alias("query_id"),
                       F.col(vec_col).alias("qv"))
    probed = q.mapInPandas(
        probe, "query_id long, bucket int, qv array<float>")
    scored = (
        F.broadcast(probed).join(assigned, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(V.cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return schemas.conform(
        scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k), schemas.ANN_TOPK)


def lsh_topk(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
             k: int = 10, num_planes: int = 8) -> DataFrame:
    """Approximate top-k neighbors per vector from LSH candidates."""
    cand = lsh_candidates(df, id_col, vec_col, num_planes)
    sym = cand.select(F.col("id0").alias("id"), F.col("id1").alias("neighbor_id"),
                      "cos_sim").unionByName(
        cand.select(F.col("id1").alias("id"), F.col("id0").alias("neighbor_id"),
                    "cos_sim"))
    w = Window.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (sym.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= k))


def ivf_topk_det(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 n_centroids: int = 8, n_probes: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 ) -> DataFrame:
    """Deterministic IVF: the coarse quantizer's centroids are the
    ``n_centroids`` corpus vectors with the smallest md5(vec_id) — a
    deterministic sample instead of KMeans iterations. Everything else is
    the IVF shape: each corpus vector is assigned to its nearest centroid
    (squared L2, rounded to 6dp, ties to the smaller centroid id), each
    query probes its ``n_probes`` nearest buckets, and exact cosine +
    top-k runs within probed buckets only.

    Centroid quality is worse than KMeans' (a random sample, not a data
    optimum — expect somewhat lower recall at equal probes), in exchange
    the whole operator is pure Column expressions and exactly
    reproducible in the DuckDB oracle (SQL-expressible argmin) — this is
    the oracle-checked twin of :func:`ivf_topk`. Centroids broadcast (a
    ``n_centroids``-row cross join); corpus shuffles once on bucket id.

    A NULL corpus or query vector (centroids included) raises when its
    distances run: its NULL distance would order first in the argmin
    and pull every vector into the NULL centroid's bucket.
    """
    cent = det_centroids(corpus, id_col, vec_col, n_centroids)
    null_vec = F.raise_error(F.lit(
        f"ivf_topk_det: NULL vector in {vec_col!r}; drop or impute it "
        f"before indexing"))

    def sq_dist(a, b):
        return F.when(F.col(a).isNull() | F.col(b).isNull(), null_vec) \
            .otherwise(F.aggregate(
                F.zip_with(V.as_double(a), V.as_double(b),
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x))

    corp = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                         F.col(vec_col).alias("cv"))
    # corpus-grain argmin as a min(struct) hash agg, not a row_number
    # window: map-side combine collapses the n_centroids-per-vector rows
    # before the exchange; tie order (d, cid) is unchanged (struct
    # comparison is lexicographic and cid is unique).
    assigned = (corp.crossJoin(F.broadcast(cent))
                .withColumn("d", F.round(sq_dist("cv", "cemb"), 6))
                .groupBy("neighbor_id")
                .agg(F.min(F.struct("d", "cid", "cv")).alias("b"))
                .select("neighbor_id", F.col("b.cv").alias("cv"),
                        F.col("b.cid").alias("bucket")))
    q = queries.select(F.col(id_col).cast("long").alias("query_id"),
                       F.col(vec_col).alias("qv"))
    w_probe = Window.partitionBy("query_id").orderBy("d", "cid")
    probed = (q.crossJoin(F.broadcast(cent))
              .withColumn("d", F.round(sq_dist("qv", "cemb"), 6))
              .withColumn("rn", F.row_number().over(w_probe))
              .where(F.col("rn") <= n_probes)
              .select("query_id", "qv", F.col("cid").alias("bucket")))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    scored = (F.broadcast(probed).join(assigned, "bucket")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("cos_sim", F.round(V.cosine("qv", "cv"), 6))
              .withColumn("rank", F.row_number().over(w_rank))
              .where(F.col("rank") <= k)
              .select("query_id", "neighbor_id", "cos_sim", "rank"))
    return schemas.conform(scored, schemas.ANN_TOPK)


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                n_centroids: int = 8, n_probes: int = 2,
                m: int = 8, ksub: int = 16, rerank: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """IVF-PQ approximate top-k (Jegou et al., TPAMI 2011) — the standard
    billion-vector ANN layout: coarse IVF buckets + product-quantized
    codes scored by asymmetric distance computation, then exact cosine
    re-rank of the top ``rerank * k`` ADC candidates.

    Deterministic throughout: coarse centroids AND the ``m`` per-subspace
    codebooks (``ksub`` entries each) are md5-ordered corpus samples, not
    KMeans — reproducible across runs/engines, somewhat lower recall than
    trained codebooks (use :func:`ivf_topk` when Spark-ML KMeans quality
    is wanted).

    Scale shape: codebooks are tiny (``n_centroids + ksub`` vectors,
    broadcast); the corpus streams ONCE through an Arrow-batched encoder
    emitting (id, bucket, m uint8 codes, |v_hat|) — at 100 TB the encoded
    table is ~(m + 16) bytes/vector, the thing PQ exists for; scoring
    streams the encoded table, keeps per-batch top candidates per query
    (shuffle O(q * rerank*k * batches)), and only the final re-rank
    touches ``rerank * k`` full vectors per query via an id semi-join.
    """
    import numpy as np

    sc = corpus.sparkSession.sparkContext
    sample = (corpus.select(F.col(id_col).cast("long").alias("id"), vec_col,
                            md5_long(F.col(id_col).cast("string")).alias("o"))
              .orderBy("o", "id").limit(n_centroids + ksub).toPandas())
    smat = np.array([np.asarray(v, dtype=np.float64)
                     for v in sample[vec_col]])
    if len(smat) < n_centroids + ksub:
        # an undersized corpus used to surface as an empty-codebook
        # argmin ValueError in every executor (or an IndexError on the
        # driver for an empty corpus) — refuse loudly up front
        raise ValueError(
            f"ivf_pq_topk: corpus has only {len(smat)} vectors; needs "
            f">= n_centroids + ksub = {n_centroids + ksub} to seed the "
            f"coarse centroids and PQ codebooks")
    coarse = smat[:n_centroids]                      # (C, D)
    dim = smat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # per-subspace codebooks from the next ksub samples: (m, ksub, dsub)
    books = np.stack([smat[n_centroids:n_centroids + ksub,
                           s * dsub:(s + 1) * dsub] for s in range(m)])
    b_coarse, b_books = sc.broadcast(coarse), sc.broadcast(books)

    def encode(batches):
        import pandas as pd

        C, B = b_coarse.value, b_books.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.array([np.asarray(v, dtype=np.float64)
                           for v in pdf["v"]])
            d2c = ((vm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            bucket = d2c.argmin(axis=1)
            codes = np.empty((len(vm), m), dtype=np.int64)
            vhat_sq = np.zeros(len(vm))
            for s in range(m):
                sub = vm[:, s * dsub:(s + 1) * dsub]
                d2 = ((sub[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
                vhat_sq += (B[s][codes[:, s]] ** 2).sum(axis=1)
            yield pd.DataFrame({
                "neighbor_id": pdf["id"].to_numpy(),
                "bucket": bucket,
                "codes": list(codes),
                "vhat_norm": np.sqrt(vhat_sq)})

    encoded = (corpus.select(F.col(id_col).cast("long").alias("id"),
                             F.col(vec_col).alias("v"))
               .mapInPandas(encode, "neighbor_id long, bucket long, "
                                    "codes array<long>, vhat_norm double"))

    qpdf = queries.select(F.col(id_col).cast("long").alias("id"),
                          vec_col).toPandas()
    q_ids = qpdf["id"].to_numpy()
    q_mat = np.array([np.asarray(v, dtype=np.float64)
                      for v in qpdf[vec_col]])
    qd2c = ((q_mat[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
    q_probes = np.argsort(qd2c, axis=1)[:, :n_probes]
    # ADC lookup tables: tables[q, s, j] = q_sub . book[s][j]
    tables = np.einsum("qsd,sjd->qsj",
                       q_mat.reshape(len(q_mat), m, dsub), books)
    q_norm = np.sqrt((q_mat ** 2).sum(axis=1))
    b_q = sc.broadcast((q_ids, q_probes, tables, q_norm))
    n_cand = max(k * rerank, k)

    def adc_score(batches):
        import pandas as pd

        qids, probes, tabs, qn = b_q.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["neighbor_id"].to_numpy()
            buckets = pdf["bucket"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy())        # (n, m)
            vn = pdf["vhat_norm"].to_numpy()
            for qi in range(len(qids)):
                mask = np.isin(buckets, probes[qi]) & (cids != qids[qi])
                if not mask.any():
                    continue
                cc = codes[mask]
                dots = tabs[qi][np.arange(m)[None, :], cc].sum(axis=1)
                sims = dots / np.maximum(qn[qi] * vn[mask], 1e-12)
                ids_m = cids[mask]
                order = np.lexsort((ids_m, -sims))[:n_cand]
                yield pd.DataFrame({
                    "query_id": np.full(order.size, qids[qi]),
                    "neighbor_id": ids_m[order],
                    "adc_sim": np.round(sims[order], 6)})

    partial = encoded.mapInPandas(
        adc_score, "query_id long, neighbor_id long, adc_sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_sim"),
                                               F.asc("neighbor_id"))
    cand = (partial.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n_cand)
            .select("query_id", "neighbor_id"))
    # exact cosine re-rank of the ADC survivors (rerank*k rows per query)
    cv = corpus.select(F.col(id_col).cast("long").alias("neighbor_id"),
                       F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).cast("long").alias("query_id"),
                        F.col(vec_col).alias("qv"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                                F.asc("neighbor_id"))
    out = (cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
           .withColumn("cos_sim", F.round(V.cosine("qv", "cv"), 6))
           .withColumn("rank", F.row_number().over(w2))
           .where(F.col("rank") <= k)
           .select("query_id", "neighbor_id", "cos_sim", "rank"))
    return schemas.conform(out, schemas.ANN_TOPK)


def quantize_embeddings_int8(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization for embedding storage — the
    bandwidth/footprint step before shipping a 100 TB embedding corpus
    (4x smaller than float32; the scalar sibling of the IVF-PQ codebook
    path). Per vector: symmetric max-abs scaling,

        scale = max(|x|) / 127,   code_i = floor(x_i / scale + 0.5)

    (the explicit floor(+0.5) avoids engine-specific ROUND semantics —
    both engines compute the identical integer). All-zero vectors get
    scale 0 and all-zero codes.

    Output: (vec_id, dims, scale, max_abs_err, mse) — scale rounded to
    6dp; reconstruction error measured against the dequantized
    code*true_scale (computed BEFORE the display rounding, from the same
    left-to-right fold both engines run, so doubles match bit-exact).

    Scale shape: strictly map-only — one narrow projection, no shuffle,
    no UDF; the scan is the plan.
    """
    x = V.as_double(vec_col)

    def _fold_max_abs(arr):
        return F.aggregate(arr, F.lit(0.0),
                           lambda acc, v: F.greatest(acc, F.abs(v)))

    base = emb.select(F.col(id_col).cast("long").alias("vec_id"),
                      x.alias("xs"))
    scaled = base.select(
        "vec_id", "xs",
        (_fold_max_abs(F.col("xs")) / F.lit(127.0)).alias("s"))
    codes = scaled.select(
        "vec_id", "xs", "s",
        F.when(F.col("s") > 0,
               F.transform("xs", lambda v: F.floor(v / F.col("s") + 0.5)
                           .cast("long")))
        .otherwise(F.transform("xs", lambda v: F.lit(0).cast("long")))
        .alias("codes"))
    err = F.zip_with("xs", "codes",
                     lambda v, c: F.abs(v - c.cast("double") * F.col("s")))
    return codes.select(
        "vec_id",
        F.size("xs").cast("long").alias("dims"),
        F.round("s", 6).alias("scale"),
        F.round(F.aggregate(err, F.lit(0.0),
                            lambda acc, e: F.greatest(acc, e)), 6)
        .alias("max_abs_err"),
        F.round(F.aggregate(
            F.zip_with("xs", "codes",
                       lambda v, c: (v - c.cast("double") * F.col("s"))
                       * (v - c.cast("double") * F.col("s"))),
            F.lit(0.0), lambda acc, e: acc + e) / F.size("xs"), 6)
        .alias("mse"))


def winsorize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Per-dimension winsorization (robust clipping) of an embedding
    corpus — the outlier-taming prep step before distance work when a few
    extreme activations would otherwise dominate every dot product: each
    dimension's values are clipped into that dimension's [q_lo, q_hi]
    exact-percentile band.

    Output is EXPLODED per cell — (vec_id, dim, clipped, was_clipped) with
    ``clipped`` rounded to 6dp and the comparison run against the
    6dp-rounded bounds on both engines (round-before-compare keeps the
    boolean engine-identical) — so an oracle can hash-check every cell.

    Scale shape: one posexplode -> per-dimension percentile aggregation
    (output = dimension count rows, corpus-size-independent) -> broadcast
    join back -> map-only clip. Exact percentiles sort only WITHIN each
    dimension's aggregation buffer; at true 100 TB scale swap
    F.percentile for percentile_approx with a pinned accuracy and the
    plan shape is unchanged.
    """
    cells = emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.posexplode(V.as_double(vec_col)).alias("dim", "x"))
    bounds = (cells.groupBy("dim")
              .agg(F.round(F.percentile("x", F.lit(lo)), 6).alias("b_lo"),
                   F.round(F.percentile("x", F.lit(hi)), 6).alias("b_hi")))
    return (cells.join(F.broadcast(bounds), "dim")
            .select("vec_id", F.col("dim").cast("int").alias("dim"),
                    F.round(F.least(F.greatest("x", F.col("b_lo")),
                                    F.col("b_hi")), 6).alias("clipped"),
                    ((F.col("x") < F.col("b_lo"))
                     | (F.col("x") > F.col("b_hi"))).alias("was_clipped")))


def embedding_prep_report(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """The full embedding-prep chain a training pipeline runs before
    distance work, fused into one contract: per-dimension winsorization
    (:func:`winsorize_embeddings`) -> per-dimension z-scoring over the
    CLIPPED values -> per-vector symmetric int8 quantization of the
    standardized cells. Output is per cell — (vec_id, dim, z, code,
    scale) — so an oracle hash-checks every intermediate.

    Float-parity discipline (cross-engine): the clip compares against
    6dp-rounded bounds; z is rounded to 6dp BEFORE the per-vector max
    and the code division, so both engines quantize the identical
    doubles (round-before-compare); codes use floor(z/s + 0.5), no
    ROUND-semantics dependence.

    Scale shape: two dimension-grain aggregations (bounds, then
    mu/sigma — both emit dimension-count rows and broadcast back) and
    one vector-grain aggregation for the scales; every other step is
    map-only. The exact percentiles/stddev partial-aggregate, so each
    exchange carries combiner output, not raw cells.
    """
    cells = winsorize_embeddings(emb, id_col, vec_col, lo, hi) \
        .select("vec_id", "dim", F.col("clipped").alias("c"))
    stats = (cells.groupBy("dim")
             .agg(F.avg("c").alias("mu"),
                  F.stddev_samp("c").alias("sigma")))
    z = F.when(F.col("sigma").isNull() | (F.col("sigma") == 0), F.lit(0.0)) \
        .otherwise((F.col("c") - F.col("mu")) / F.col("sigma"))
    zc = (cells.join(F.broadcast(stats), "dim")
          .select("vec_id", "dim", F.round(z, 6).alias("z")))
    scales = (zc.groupBy("vec_id")
              .agg((F.max(F.abs("z")) / F.lit(127.0)).alias("s")))
    code = F.when(F.col("s") > 0,
                  F.floor(F.col("z") / F.col("s") + 0.5)) \
        .otherwise(F.lit(0)).cast("long")
    return (zc.join(scales, "vec_id")
            .select("vec_id", F.col("dim").cast("int").alias("dim"),
                    "z", code.alias("code"),
                    F.round("s", 6).alias("scale")))


def kcenter_select_batched(emb: DataFrame, k: int = 64,
                           buffer: int = 64, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           chunk: int | None = None,
                           stats: dict | None = None) -> DataFrame:
    """Large-k greedy k-center — EXACTLY :func:`kcenter_select`'s
    contract (same seed, distances, rounding, tie rule, output schema)
    with the pass count collapsed from k to ~k/batch: at k in the
    hundreds the sequential one-job-per-center loop is hundreds of
    corpus scans, and this is the batched-GEMM side-input route
    SCALE.md names for that regime.

    How a pass works (and why it stays exact):

    1. ONE Arrow-batched mapInPandas corpus pass folds the pending new
       centers (a bounded B×d side input riding the closure — the
       dedup._nearest_det_centroids GEMM idiom) into the running
       ``min_dist``: per center ``ROUND(1 - v·c, 6)``, then min — the
       identical recurrence, BLAS-vs-sequential float-sum differences
       absorbed by the rounding (the established oracle-exact argument).
    2. A TakeOrdered(``buffer``) by (min_dist DESC, vec_id ASC) pulls a
       bounded candidate buffer to the driver, and greedy selection runs
       inside it (numpy): pick the argmax, update buffer distances
       against the pick, repeat — VALID while the best updated distance
       stays strictly above ``tau`` = the buffer's smallest pulled
       distance, because every excluded point's distance is <= its
       pulled value <= tau (distances only shrink). At ``best <= tau``
       an excluded point could win (or tie with a smaller id), so the
       pass ends and the picks become the next pass's pending batch.
       The FIRST pick of each pass is the fresh corpus-wide argmax, so
       every pass selects >= 1 center and the loop terminates in <= k
       passes — typically k/B with B near ``buffer``.

    The buffer is STREAMED, not collected (the round-10 verdict's
    large-k order): rows arrive through ``toLocalIterator`` in
    ``chunk``-sized pulls (default min(buffer, 256)), and the greedy
    loop pulls the next chunk only when its best updated distance is
    not strictly above the smallest distance PULLED SO FAR — the same
    exclusion invariant (global descending order means every unpulled
    row is <= the last pulled value), applied lazily. Selection is
    bit-identical to the one-collect form with the same ``buffer``
    budget: a pick happens only when best > tau_pulled, which excludes
    every unpulled row from winning or id-tying. Driver memory holds
    only the pulled prefix (picks usually stop a pass long before the
    budget), so ``buffer`` can be thousands at k in the thousands.

    k and buffer are budgets (<= thousands): selected centers live on
    the driver by design, like IVF codebooks.
    """
    import numpy as np

    base = emb.select(F.col(id_col).cast("long").alias("vec_id"),
                      V.l2_normalize(vec_col).alias("v"),
                      F.lit(2.0).alias("min_dist"))
    seed_rows = base.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        # an empty corpus would otherwise surface as a bare IndexError
        # here — refuse loudly (a corpus SMALLER than k is fine: the
        # documented contract returns fewer picks)
        raise ValueError("kcenter_select_batched: corpus is empty")
    seed = seed_rows[0]
    selected = [(1, int(seed.vec_id), 0.0)]
    pend_vecs = [np.asarray(seed.v, dtype=np.float64)]
    pend_ids = [int(seed.vec_id)]
    pool = base.where(F.col("vec_id") != int(seed.vec_id)).localCheckpoint()
    schema = pool.schema

    if stats is not None:
        stats.update(passes=0, pulled=0)
    while len(selected) < k:
        if stats is not None:
            stats["passes"] += 1
        C = np.vstack(pend_vecs)  # B x d — bounded side input

        def fold(it, C=C):
            import pandas as pd
            for pdf in it:
                if len(pdf):
                    M = np.array(pdf["v"].tolist(), dtype=np.float64)
                    d = np.round(1.0 - M @ C.T, 6).min(axis=1)
                    pdf = pdf.assign(min_dist=np.minimum(
                        pdf["min_dist"].to_numpy(), d))
                yield pdf

        pool = (pool.mapInPandas(fold, schema)
                .where(~F.col("vec_id").isin(pend_ids))
                .localCheckpoint())
        # streamed buffer: pull the descending-sorted head lazily in
        # chunk-sized slices; tau_pulled (smallest distance pulled so
        # far) bounds every unpulled row, so greedy only needs more
        # rows when its best no longer strictly beats tau_pulled
        csize = chunk if chunk else min(buffer, 256)
        rows_it = iter(pool.orderBy(F.desc("min_dist"), F.asc("vec_id"))
                       .limit(buffer)
                       .toLocalIterator(prefetchPartitions=False))
        ids = np.empty(0, dtype=np.int64)
        Vb = np.empty((0, 0), dtype=np.float64)
        db = np.empty(0, dtype=np.float64)
        alive = np.empty(0, dtype=bool)
        exhausted = False
        tau_pulled = np.inf  # ORIGINAL sorted value of the last pulled
        picks_v: list = []  # this pass's picks, to fold into late chunks

        def pull():
            nonlocal ids, Vb, db, alive, exhausted, tau_pulled
            got = list(itertools.islice(rows_it, csize))
            if len(got) < csize:
                exhausted = True
            if not got:
                return
            tau_pulled = float(got[-1].min_dist)
            if stats is not None:
                stats["pulled"] += len(got)
            nid = np.array([r.vec_id for r in got], dtype=np.int64)
            nV = np.array([r.v for r in got], dtype=np.float64)
            nd = np.array([r.min_dist for r in got], dtype=np.float64)
            # late chunks were sorted before this pass's picks existed:
            # fold the picks in so every buffered distance is current
            for pv in picks_v:
                nd = np.minimum(nd, np.round(1.0 - nV @ pv, 6))
            ids = np.concatenate([ids, nid])
            Vb = np.vstack([Vb, nV]) if Vb.size else nV
            db = np.concatenate([db, nd])
            alive = np.concatenate(
                [alive, np.ones(len(got), dtype=bool)])

        pull()
        if not len(ids):
            break  # pool exhausted before k (k > corpus)
        pend_vecs, pend_ids = [], []
        first = True
        while len(selected) < k and alive.any():
            live = np.flatnonzero(alive)
            j = live[np.lexsort((ids[live], -db[live]))[0]]
            if not first:
                # rows may remain beyond the pulled prefix with original
                # values <= tau_pulled: pull until the best strictly
                # beats the last pulled value or the stream runs dry
                while not exhausted and db[j] <= tau_pulled:
                    pull()
                    live = np.flatnonzero(alive)
                    j = live[np.lexsort((ids[live], -db[live]))[0]]
                # excluded points exist only past the `buffer` cut (the
                # stream draining below the budget means the pool itself
                # ran out — nothing is excluded, finish greedily)
                tau = tau_pulled if len(ids) == buffer else -np.inf
                if db[j] <= tau:
                    break  # an excluded point could beat or id-tie this
            first = False
            selected.append((len(selected) + 1, int(ids[j]),
                             float(db[j])))
            pend_vecs.append(Vb[j])
            pend_ids.append(int(ids[j]))
            picks_v.append(Vb[j])
            alive[j] = False
            upd = np.round(1.0 - Vb[alive] @ Vb[j], 6)
            db[alive] = np.minimum(db[alive], upd)
        if not pend_ids:
            break

    return emb.sparkSession.createDataFrame(
        [(int(r), int(i), float(d)) for r, i, d in selected],
        "sel_rank long, vec_id long, sel_dist double")


def kcenter_select(emb: DataFrame, k: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center / farthest-point sampling (Gonzalez 1985) over an
    embedding table -> (sel_rank, vec_id, sel_dist): pick ``k`` maximally
    spread representatives — the diversity/coverage counterpart to
    SemDeDup (which removes the redundant middle; this keeps the spread
    hull). Classic use: choosing a diverse data-mixture budget or probe
    set from a large corpus.

    Deterministic contract: seed = smallest vec_id; distance = cosine
    distance ``1 - <v̂, ĉ>`` over L2-normalized vectors, ROUNDED 6dp
    before any comparison (so both engines of the oracle pair argmax
    identical doubles); farthest-point ties break toward the smaller
    vec_id. ``sel_dist`` is the candidate's distance to the already-
    selected set at the moment of selection (0.0 for the seed) — the
    Gonzalez radius sequence, non-increasing from rank 2 on.

    Scale shape (the iterative-Spark rules, same as pagerank/BPE): the
    corpus carries a running ``min_dist`` column, localCheckpointed per
    step; each of the ``k`` steps is ONE map-only projection against the
    1-row newest center (broadcast) plus a TakeOrdered(1) argmax — no
    shuffle of corpus-sized data, k corpus passes total. k is a budget
    (tens), never corpus-scale.
    """
    base = emb.select(F.col(id_col).cast("long").alias("vec_id"),
                      V.l2_normalize(vec_col).alias("v"))
    center = (base.orderBy("vec_id").limit(1)
              .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
                      F.lit(0.0).alias("cdist"))
              .localCheckpoint())
    # upper bound of cosine distance is 2.0 — every real distance beats it
    s = base.select("vec_id", "v", F.lit(2.0).alias("min_dist"))
    picks = []
    for step in range(1, k + 1):
        picks.append(center.select(
            F.lit(step).cast("long").alias("sel_rank"),
            F.col("cid").alias("vec_id"),
            F.col("cdist").alias("sel_dist")))
        if step == k:
            break
        # drop the just-selected center from the candidate pool: without
        # this, once every remaining distance hits 0.0 (duplicates) the
        # id tie-break could re-pick a selected point
        s = (s.crossJoin(F.broadcast(center.select("cid", "cv")))
             .where(F.col("vec_id") != F.col("cid"))
             .select("vec_id", "v",
                     F.least("min_dist",
                             F.round(F.lit(1.0) - V.dot("v", "cv"), 6))
                     .alias("min_dist"))
             .localCheckpoint())
        center = (s.orderBy(F.desc("min_dist"), F.asc("vec_id")).limit(1)
                  .select(F.col("vec_id").alias("cid"),
                          F.col("v").alias("cv"),
                          F.col("min_dist").alias("cdist"))
                  .localCheckpoint())
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# Each candidate vector is inlined into the plan as `dim` float literals
# (one similarity column per candidate), so planning cost grows with
# dim x pool size. On a 16-row input (4 cores) a call took 4.8 s at
# 512 literals (the query's 64 x 8), 12 s at 4096 and ~55 s at 32768.
MAX_FL_PLAN_LITERALS = 1 << 12


def facility_location_select(emb: DataFrame, k: int = 4,
                             n_candidates: int = 8,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Greedy facility-location selection (lazy-free classic greedy on
    the monotone submodular coverage objective ``F(S) = sum_x max_{s in
    S} sim(x, s)`` — Nemhauser et al. 1978 gives the (1 - 1/e)
    guarantee): pick ``k`` representatives that maximize how well the
    WHOLE corpus is covered by its most-similar pick. The max-COVERAGE
    counterpart of :func:`kcenter_select` (which maximizes spread): a
    data-mixture selector that wants exemplars near the mass, not the
    hull — the coreset construction behind exemplar-selection pipelines.

    Candidates come from a BOUNDED pool: the ``n_candidates`` corpus
    vectors with the md5-smallest ids (the shared det-quantizer rule —
    unbiased under hashed ids, and both engines enumerate the identical
    pool). Similarity = ``max(0, round(cos, 6))`` over L2-normalized
    vectors, folded to integer MICRO-units, so per-candidate coverage
    gains are order-independent BIGINT sums and the argmax (ties to the
    smaller candidate id) is engine-exact.

    Scale shape: the candidate pool is bounded (<= ``n_candidates``
    unit vectors), so it is collected as a side input and each
    candidate's micro-unit similarity becomes one COLUMN of a single
    corpus-grain table, materialized once. Each of the k rounds is one
    map-only scalar aggregation whose coverage term is greatest() over
    the already-selected columns — bounded scalars only to the driver,
    never row data. A NULL candidate vector has similarity 0 to every
    row; duplicate candidate ids raise ``ValueError``, as does a pool
    of more than ``MAX_FL_PLAN_LITERALS`` vector components. Output:
    (sel_rank, sel_id, gain, coverage) — gain is the round's marginal
    coverage, coverage the cumulative objective, both micro-exact 6dp.
    """
    if k < 1 or n_candidates < k:
        raise ValueError(
            f"facility_location_select: need 1 <= k <= n_candidates, "
            f"got k={k}, n_candidates={n_candidates}")
    ck = md5_long(F.col(id_col).cast("string"))
    cand = (emb.select(F.col(id_col).cast("long").alias("cid"),
                       V.l2_normalize(vec_col).alias("cv"),
                       ck.alias("ck"))
            .orderBy("ck", "cid").limit(n_candidates)
            .select("cid", "cv"))
    pool = sorted(((int(r.cid), r.cv) for r in cand.collect()),
                  key=lambda p: p[0])
    # the ACTUAL pool can be smaller than n_candidates (tiny corpus); a
    # pool below k would exhaust mid-greedy — refuse loudly instead
    if len(pool) < k:
        raise ValueError(
            f"facility_location_select: corpus yields only {len(pool)} "
            f"candidate vectors (< k={k}) — reduce k or supply more rows")
    for (a, _), (b, _) in zip(pool, pool[1:]):
        if a == b:
            raise ValueError(
                f"facility_location_select: duplicate candidate id {a} in "
                f"{id_col!r} — candidate ids must be unique")
    dim = max((len(cv) for _, cv in pool if cv is not None), default=0)
    if dim * len(pool) > MAX_FL_PLAN_LITERALS:
        raise ValueError(
            f"facility_location_select: {len(pool)} candidates x dim {dim} "
            f"= {dim * len(pool)} plan literals exceeds "
            f"MAX_FL_PLAN_LITERALS={MAX_FL_PLAN_LITERALS} — lower "
            f"n_candidates or reduce the embedding dimension")

    def su_col(cv: list | None) -> Column:
        if cv is None:
            return F.lit(0).cast("long")
        lit_v = F.array(*[F.lit(x).cast("double") for x in cv])
        return F.greatest(
            F.lit(0).cast("long"),
            F.floor(F.round(V.dot(F.col("v"), lit_v), 6) * F.lit(1e6)
                    + F.lit(0.5)).cast("long"))

    wide = (emb.select(V.l2_normalize(vec_col).alias("v"))
            .select(*[su_col(cv).alias(f"su_{cid}") for cid, cv in pool])
            .localCheckpoint())
    rows, selected, total = [], [], 0
    for r in range(1, k + 1):
        cu = (F.greatest(*[F.col(f"su_{s}") for s in selected],
                         F.lit(0).cast("long"))
              if selected else F.lit(0).cast("long"))
        rem = [cid for cid, _ in pool if cid not in selected]
        g = wide.agg(*[F.sum(F.greatest(F.col(f"su_{c}"), cu) - cu)
                       .alias(f"g_{c}") for c in rem]).collect()[0]
        sel = max(rem, key=lambda c: (int(g[f"g_{c}"]), -c))
        gain_u = int(g[f"g_{sel}"])
        selected.append(sel)
        total += gain_u
        rows.append((r, sel, gain_u / 1e6, total / 1e6))
    return emb.sparkSession.createDataFrame(
        rows, "sel_rank long, sel_id long, gain double, coverage double")
