"""Deduplication: exact, MinHash / SimHash / winnowing near-dup, span
and chunk dedup, semantic dedup, candidate-graph analytics and
leakage-safe splits."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.functions.hashing import minhash_band_plan, minhash_sql_exprs
from casf_spark.operators import curation as CU
from casf_spark.operators import dedup as DD
from casf_spark.operators import sampling as SP
from casf_spark.operators import urls as URL
from casf_spark.operators import profile as PF
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import (BLOOM_K, BLOOM_M, _CDC_CHUNKS_CTE,
                                        _DEDUP_EXACT_SQL, _TOKS,
                                        _cdc_chunks_cte, _minhash_cte,
                                        _planted_urls, _toks_cte, _url_cte,
                                        _vsql_sqd)
from casf_spark.queries._registry import query


def _minhash_oracle() -> str:
    return f"WITH {_minhash_cte()}\nSELECT doc0, doc1 FROM mh_cand"


def _vsql_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(len({a})), "
            f"i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))")


def _vsql_norm(a: str) -> str:
    return (f"SQRT(list_sum(list_transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _semdedup_oracle(n_clusters: int, threshold: float,
                     n_super: int | None = None) -> str:
    """SemDeDup (semantic_dedup_det) twin, parameterized so multiple
    (n_clusters, threshold) contract points share one SQL body: md5-ordered
    deterministic centroids, rounded-argmin assignment (ties to the smaller
    centroid id), within-cluster keep-order-prior neighbor rollup. Both
    cosine divisions are zero-norm guarded to mirror V.cosine's 0.0.

    With ``n_super`` set, the assignment is the TWO-LEVEL routing rule
    (assign="two_level"): routers = the first n_super centroids in md5
    order, each centroid argmins over routers, each vector argmins over
    routers-with-members then over that group's centroids — every argmin
    the same rounded-6dp smaller-id-tie rule as the Spark side."""
    if n_super is None:
        assign_ctes = f"""cent AS (
  SELECT vec_id cid, embedding cemb
  FROM embeddings
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id
  LIMIT {n_clusters}),
corp AS (SELECT vec_id id, embedding v FROM embeddings),
ad AS (
  SELECT id, v, cid, cemb,
         ROUND({_vsql_sqd('v', 'cemb')}, 6) d
  FROM corp CROSS JOIN cent),
assign AS (
  -- zero-norm guard mirrors V.cosine (Spark returns 0.0, never NaN/NULL)
  SELECT id, v, cid AS cluster,
         ROUND(CASE WHEN nv > 0 AND nc > 0 THEN dp / (nv * nc)
                    ELSE 0.0 END, 6) cent_sim
  FROM (SELECT *,
               {_vsql_dot('v', 'cemb')} dp,
               {_vsql_norm('v')} nv,
               {_vsql_norm('cemb')} nc,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) rn
        FROM ad) WHERE rn = 1)"""
    else:
        assign_ctes = f"""centk AS (
  SELECT vec_id cid, embedding cemb,
         CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
              AS BIGINT) ck
  FROM embeddings ORDER BY ck, vec_id LIMIT {n_clusters}),
sup AS (SELECT cid sid, cemb semb FROM centk ORDER BY ck, cid
        LIMIT {n_super}),
cgrp AS (
  SELECT cid, cemb, sid FROM (
    SELECT c.cid, c.cemb, s.sid,
           ROW_NUMBER() OVER (PARTITION BY c.cid ORDER BY
             ROUND({_vsql_sqd('c.cemb', 's.semb')}, 6), s.sid) rn
    FROM centk c CROSS JOIN sup s) WHERE rn = 1),
-- vectors route only among routers that HAVE members (a rounded-zero
-- distance can merge two routers, leaving one group empty)
act AS (SELECT s.sid, s.semb FROM sup s
        WHERE s.sid IN (SELECT DISTINCT sid FROM cgrp)),
corp AS (SELECT vec_id id, embedding v FROM embeddings),
vroute AS (
  SELECT id, v, sid FROM (
    SELECT t.id, t.v, a.sid,
           ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY
             ROUND({_vsql_sqd('t.v', 'a.semb')}, 6), a.sid) rn
    FROM corp t CROSS JOIN act a) WHERE rn = 1),
assign AS (
  SELECT id, v, cid AS cluster,
         ROUND(CASE WHEN nv > 0 AND nc > 0 THEN dp / (nv * nc)
                    ELSE 0.0 END, 6) cent_sim
  FROM (
    SELECT r.id, r.v, g.cid,
           ROUND({_vsql_sqd('r.v', 'g.cemb')}, 6) d,
           {_vsql_dot('r.v', 'g.cemb')} dp,
           {_vsql_norm('r.v')} nv,
           {_vsql_norm('g.cemb')} nc,
           ROW_NUMBER() OVER (PARTITION BY r.id ORDER BY
             ROUND({_vsql_sqd('r.v', 'g.cemb')}, 6), g.cid) rn
    FROM vroute r JOIN cgrp g USING (sid)) WHERE rn = 1)"""
    return f"""
WITH {assign_ctes},
edges AS (
  SELECT id0, CAST(COUNT(*) AS BIGINT) n_dup_neighbors,
         MAX(cos_sim) max_prior_sim
  FROM (
    SELECT id0,
           ROUND(CASE WHEN na > 0 AND nb > 0 THEN dp / (na * nb)
                      ELSE 0.0 END, 6) cos_sim
    FROM (
      SELECT a.id id0,
             list_sum(list_transform(range(len(a.v)),
               i -> CAST(a.v[i+1] AS DOUBLE) * CAST(b.v[i+1] AS DOUBLE)))
               dp,
             SQRT(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE)
                                                    * CAST(x AS DOUBLE))))
               na,
             SQRT(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE)
                                                    * CAST(x AS DOUBLE))))
               nb
      FROM assign a JOIN assign b USING (cluster)
      WHERE b.cent_sim < a.cent_sim
            OR (b.cent_sim = a.cent_sim AND b.id < a.id)))
  WHERE cos_sim >= {threshold} GROUP BY 1)
SELECT CAST(a.id AS BIGINT) vec_id, CAST(cluster AS BIGINT) AS cluster,
       cent_sim, e.id0 IS NOT NULL AS is_semantic_dup,
       COALESCE(e.n_dup_neighbors, 0) n_dup_neighbors,
       COALESCE(e.max_prior_sim, 0.0) max_prior_sim
FROM assign a LEFT JOIN edges e ON a.id = e.id0"""


def _bloom_oracle() -> str:
    """dedup_bloom twin: rebuilds the IDENTICAL Bloom bitmap (same
    universal-hash constants via position_sql_exprs, same 63-bit word
    packing) from the history side, probes the planted batch with k
    word-table joins, and recomputes exact membership independently."""
    from casf_spark.functions.hashing import position_sql_exprs

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    norm_b = "trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g'))"
    h = f"CAST('0x' || substr(md5({norm}), 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, BLOOM_K, BLOOM_M)
    hpos = "\nUNION ALL\n".join(f"SELECT {p} AS p FROM hist" for p in pos)
    bcols = ",\n         ".join(f"{p} AS p{i}" for i, p in enumerate(pos))
    joins = "\n".join(f"LEFT JOIN words w{i} ON w{i}.w = b.p{i} // 63"
                      for i in range(BLOOM_K))
    hits = " AND ".join(
        f"COALESCE(((w{i}.bits >> CAST(b.p{i} % 63 AS INT)) & 1) = 1, FALSE)"
        for i in range(BLOOM_K))
    return f"""
WITH hist AS (SELECT text FROM documents WHERE doc_id % 20 <> 19),
batch AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 40 = 19 THEN h.text ELSE b.text END AS text
  FROM documents b LEFT JOIN documents h ON h.doc_id = b.doc_id - 1
  WHERE b.doc_id % 20 = 19),
hpos AS ({hpos}),
words AS (SELECT p // 63 AS w,
                 bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
          FROM hpos GROUP BY 1),
bp AS (SELECT doc_id, text,
         {bcols}
       FROM batch),
hfp AS (SELECT DISTINCT md5({norm}) AS fp FROM hist)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       ({hits}) AS bloom_hit,
       (hfp.fp IS NOT NULL) AS exact_hit,
       (({hits}) AND hfp.fp IS NULL) AS false_pos
FROM bp b
{joins}
LEFT JOIN hfp ON hfp.fp = md5({norm_b})"""


def _incremental_oracle(batch: str = "src19") -> str:
    """incremental_dedup twin: same MinHash band params as _minhash_cte
    but with `source` carried through so the batch/history split can be
    expressed; exact-dup (fingerprint) takes precedence over near-dup."""
    hash_sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    exprs = minhash_sql_exprs(hash_sql, 12)
    mins = ",\n         ".join(
        f"MIN({e}) AS mh_{i}" for i, e in enumerate(exprs))
    bands = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 3 + r} AS VARCHAR)" for r in range(3))
        bands.append(
            f"SELECT doc, source, {b} AS band, {cols} AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(bands)
    return f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, source, {_TOKS} a
           FROM documents),
toks AS (SELECT doc, source, generate_subscripts(a, 1) pos, unnest(a) w
         FROM t),
sh AS (
  SELECT DISTINCT t1.doc, t1.source, t1.w || ' ' || t2.w AS shingle
  FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sig AS (SELECT doc, source,
         {mins}
        FROM sh GROUP BY doc, source),
bands AS ({bands_sql}),
fp AS (SELECT CAST(doc_id AS BIGINT) doc, source,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fp
       FROM documents),
exact AS (
  SELECT DISTINCT nw.doc FROM fp nw JOIN fp h ON nw.fp = h.fp
  WHERE nw.source = '{batch}' AND h.source <> '{batch}'),
near AS (
  SELECT DISTINCT nb.doc FROM bands nb
  JOIN bands hb ON nb.band = hb.band AND nb.bucket = hb.bucket
  WHERE nb.source = '{batch}' AND hb.source <> '{batch}')
SELECT f.doc,
       CASE WHEN e.doc IS NOT NULL THEN 'exact_dup'
            WHEN nr.doc IS NOT NULL THEN 'near_dup'
            ELSE 'new' END status
FROM fp f LEFT JOIN exact e ON e.doc = f.doc
LEFT JOIN near nr ON nr.doc = f.doc
WHERE f.source = '{batch}'"""


def _minhash_eval_oracle(threshold: float = 0.5,
                         sample_size: int = 100) -> str:
    """minhash_eval twin: md5-smallest sample, exact 2-gram Jaccard
    ground truth within it, the same banding candidates over it, and the
    one-row recall/precision rollup with vacuous-1.0 guards."""
    hash_sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    exprs = minhash_sql_exprs(hash_sql, 12)
    mins = ",\n         ".join(
        f"MIN({e}) AS mh_{i}" for i, e in enumerate(exprs))
    bands = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 3 + r} AS VARCHAR)" for r in range(3))
        bands.append(f"SELECT doc, {b} AS band, {cols} AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(bands)
    return f"""
WITH samp AS (
  SELECT CAST(doc_id AS BIGINT) doc, text
  FROM documents
  ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT), doc_id
  LIMIT {sample_size}),
t AS (SELECT doc, list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> '') a FROM samp),
toks AS (SELECT doc, generate_subscripts(a, 1) pos, unnest(a) w FROM t),
sh AS (SELECT DISTINCT t1.doc, t1.w || ' ' || t2.w AS shingle
       FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sizes AS (SELECT doc, COUNT(*) n_sh FROM sh GROUP BY doc),
inter AS (SELECT a.doc doc0, b.doc doc1, COUNT(*) ni
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc > b.doc
          GROUP BY 1, 2),
truth AS (
  SELECT doc0, doc1 FROM inter
  JOIN sizes s0 ON s0.doc = inter.doc0
  JOIN sizes s1 ON s1.doc = inter.doc1
  WHERE ROUND(CAST(ni AS DOUBLE) / (s0.n_sh + s1.n_sh - ni), 6)
        >= {threshold}),
sig AS (SELECT doc,
         {mins}
        FROM sh GROUP BY doc),
bands AS ({bands_sql}),
cand AS (SELECT DISTINCT a.doc doc0, b.doc doc1
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc > b.doc),
j AS (SELECT COALESCE(t.doc0, c.doc0) doc0,
             CASE WHEN t.doc0 IS NOT NULL THEN 1 ELSE 0 END it,
             CASE WHEN c.doc0 IS NOT NULL THEN 1 ELSE 0 END ic
      FROM truth t FULL OUTER JOIN cand c
        ON t.doc0 = c.doc0 AND t.doc1 = c.doc1)
SELECT CAST(COALESCE(SUM(it), 0) AS BIGINT) n_truth,
       CAST(COALESCE(SUM(ic), 0) AS BIGINT) n_detected,
       CAST(COALESCE(SUM(it * ic), 0) AS BIGINT) n_hit,
       ROUND(CASE WHEN SUM(it) > 0
                  THEN SUM(it * ic) * 1.0 / SUM(it) ELSE 1.0 END, 6)
         recall,
       ROUND(CASE WHEN SUM(ic) > 0
                  THEN SUM(it * ic) * 1.0 / SUM(ic) ELSE 1.0 END, 6)
         candidate_precision
FROM j"""


def _pagerank_oracle(n_iter: int = 3, damping: float = 0.85) -> str:
    """dedup_pagerank twin: the MinHash candidate graph symmetrized,
    then ``n_iter`` chained rank CTEs in INTEGER MICRO-UNITS mirroring
    the Spark recurrence exactly — integer SUMs are order-independent,
    so the engines' different aggregation orders can never drift (the
    float-sum-of-rounded-terms variant diverged by 1e-6 on one hub at
    sf0.1). The float literals are injected from the same python
    doubles Spark's F.lit carries, so each single multiply/divide is
    bit-equal."""
    scale_u = 1_000_000
    teleport_u = repr((1.0 - damping) * scale_u)
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""it{i} AS (
  SELECT d.src AS doc_id,
         CAST(FLOOR({teleport_u} / n.n + 0.5) AS BIGINT)
           + CAST(FLOOR({damping!r} * COALESCE(c.inflow_u, 0) + 0.5)
                  AS BIGINT) rank_u
  FROM deg d CROSS JOIN n
  LEFT JOIN (SELECT e.dst,
                    SUM(CAST(FLOOR(r.rank_u / g.degree + 0.5) AS BIGINT))
                      inflow_u
             FROM edges e JOIN {prev} r ON r.doc_id = e.src
             JOIN deg g ON g.src = e.src GROUP BY 1) c ON c.dst = d.src)""")
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH {_minhash_cte()},
edges AS (SELECT doc0 src, doc1 dst FROM mh_cand
          UNION ALL SELECT doc1, doc0 FROM mh_cand),
deg AS (SELECT src, COUNT(*) degree FROM edges GROUP BY 1),
n AS (SELECT COUNT(*) n FROM deg),
r0 AS (SELECT src AS doc_id,
              CAST(FLOOR({float(scale_u)!r} / n.n + 0.5) AS BIGINT) rank_u
       FROM deg CROSS JOIN n),
{its_sql}
SELECT d.src AS doc_id, CAST(d.degree AS BIGINT) degree,
       ROUND({prev}.rank_u / {float(scale_u)!r}, 6) rank
FROM deg d JOIN {prev} ON {prev}.doc_id = d.src"""


def _clusters_oracle() -> str:
    """Connected components over the MinHash candidate pairs as a recursive
    transitive-closure CTE (min reachable id per node) — tractable at oracle
    scale because closure size is bounded by the per-component size^2."""
    return f"""
WITH RECURSIVE {_minhash_cte()},
edges AS MATERIALIZED (
  SELECT doc0 AS src, doc1 AS dst FROM mh_cand
  UNION ALL
  SELECT doc1, doc0 FROM mh_cand),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
"""


def _keep_best_oracle() -> str:
    """dedup_keep_best: the dedup_clusters closure re-used as a CTE, then
    per-cluster ranking by (n_tokens desc, doc_id) — rank 1 is kept."""
    return f"""
WITH RECURSIVE {_minhash_cte()},
edges AS MATERIALIZED (
  SELECT doc0 AS src, doc1 AS dst FROM mh_cand
  UNION ALL
  SELECT doc1, doc0 FROM mh_cand),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk
       GROUP BY node),
qual AS (SELECT CAST(doc_id AS BIGINT) doc_id,
                CAST(len({_TOKS}) AS BIGINT) n_tokens
         FROM documents),
r AS (SELECT cl.doc_id, cl.cluster_id, qual.n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                ORDER BY qual.n_tokens DESC, cl.doc_id) rn
      FROM cl JOIN qual USING (doc_id))
SELECT doc_id, cluster_id, n_tokens, rn = 1 AS keep FROM r
"""


def _simhash_oracle() -> str:
    return f"""
WITH {_toks_cte()},
tf AS (SELECT doc, w, COUNT(*) tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc, tf, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) hv FROM tf),
bits AS (
  SELECT doc, r.b,
         SUM(CASE WHEN (hv >> CAST(r.b AS INT)) & 1 = 1 THEN tf ELSE -tf END) s
  FROM h, range(32) r(b) GROUP BY 1, 2),
sig AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) simhash
  FROM bits GROUP BY doc)
SELECT a.doc AS doc0, b.doc AS doc1,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc > b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


@query("dedup_winnow", oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} toks FROM documents),
g AS (SELECT doc_id,
        CASE WHEN len(toks) >= 5
             THEN list_transform(range(len(toks) - 4),
                                 i -> array_to_string(toks[i+1:i+5], ' '))
             ELSE [] END grams FROM t),
h AS (SELECT doc_id,
        list_transform(grams,
                       s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) hs
      FROM g),
m AS (SELECT doc_id,
        CASE WHEN len(hs) >= 4
             THEN list_transform(range(len(hs) - 3), j -> list_min(hs[j+1:j+4]))
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE [] END mins FROM h),
fp AS (SELECT DISTINCT CAST(doc_id AS BIGINT) doc, unnest(mins) AS fp FROM m)
SELECT a.doc AS doc0, b.doc AS doc1, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc > b.doc
GROUP BY 1, 2
HAVING COUNT(*) >= 2""")
def q_dedup_winnow(spark, sf):
    """Local-overlap near-dups: pairs sharing >= 2 winnowing fingerprints
    (guaranteed to catch any shared token run of >= k+w-1 = 8 tokens)."""
    return DD.winnow_overlap_pairs(load_table(spark, sf, "documents"),
                                   "doc_id", "text", k=5, w=4, min_shared=2)


@query("dedup_exact", oracle=_DEDUP_EXACT_SQL)
def q_dedup_exact(spark, sf):
    return DD.dedup_exact(load_table(spark, sf, "documents"), "doc_id", "text")


@query("dedup_ngram_jaccard", oracle=f"""
WITH {_toks_cte()},
sh AS (
  SELECT DISTINCT t1.doc, t1.w || ' ' || t2.w || ' ' || t3.w AS shingle
  FROM toks t1
  JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1
  JOIN toks t3 ON t1.doc = t3.doc AND t3.pos = t1.pos + 2),
sizes AS (SELECT doc, COUNT(*) n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc doc0, b.doc doc1, COUNT(*) n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc > b.doc
  GROUP BY 1, 2)
SELECT i.doc0, i.doc1,
       ROUND(CAST(i.n_inter AS DOUBLE) / (s0.n_sh + s1.n_sh - i.n_inter), 6)
         AS jaccard
FROM inter i
JOIN sizes s0 ON s0.doc = i.doc0
JOIN sizes s1 ON s1.doc = i.doc1
WHERE ROUND(CAST(i.n_inter AS DOUBLE) / (s0.n_sh + s1.n_sh - i.n_inter), 6)
      >= 0.2""")
def q_dedup_ngram_jaccard(spark, sf):
    return DD.ngram_jaccard_pairs(load_table(spark, sf, "documents"),
                                  "doc_id", "text", n=3, threshold=0.2)


@query("dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark, sf):
    return DD.minhash_lsh_pairs(load_table(spark, sf, "documents"),
                                "doc_id", "text", n=2, num_hashes=12, bands=4)


@query("dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark, sf):
    """Transitive near-dup clusters: star-contracted MinHash candidate
    edges -> connected components (distributed min-label propagation with
    pointer jumping). cluster_id = min doc_id of the component.

    Star edges (doc -> bucket-min per banding bucket) yield exactly the
    same components and node set as the full per-bucket pair cliques
    (tests/test_dedup_properties differential test) with edge volume
    linear, not quadratic, per bucket — and the bucket stars also shrink
    graph diameter, cutting label-propagation rounds. The oracle's
    recursive CTE still walks the full clique pairs: same clusters."""
    docs = load_table(spark, sf, "documents")
    edges = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                      n=2, num_hashes=12, bands=4)
    return DD.connected_components(edges)


def _dedup_kcore_oracle() -> str:
    # 2-core of the MinHash candidate graph: 8 unrolled MATERIALIZED
    # peel rounds (plain chained CTEs re-expand in DuckDB — the
    # label-propagation lesson); n_rounds = strictly-shrinking rounds
    _kc_rounds = 8
    _kc = ["""sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT doc0 AS src, doc1 AS dst FROM mh_cand
    UNION ALL SELECT doc1, doc0 FROM mh_cand)),
a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""]
    for r in range(1, _kc_rounds + 1):
        _kc.append(f"""d{r} AS MATERIALIZED (
  SELECT e.src AS node, COUNT(*) deg FROM sym e
  JOIN a{r - 1} x ON e.src = x.node
  JOIN a{r - 1} y ON e.dst = y.node
  GROUP BY 1),
a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= 2)""")
    _kc_counts = ", ".join(
        f"(SELECT COUNT(*) FROM a{r}) c{r}" for r in range(_kc_rounds + 1))
    _kc_shrinks = " + ".join(
        f"CASE WHEN c{r + 1} < c{r} THEN 1 ELSE 0 END"
        for r in range(_kc_rounds))
    return f"""
WITH {_minhash_cte()},
{",".join(_kc)},
fin AS (
  SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) core_deg FROM sym e
  JOIN a{_kc_rounds} x ON e.src = x.node
  JOIN a{_kc_rounds} y ON e.dst = y.node
  GROUP BY 1),
nr AS (SELECT {_kc_counts}),
rounds AS (SELECT CAST({_kc_shrinks} AS BIGINT) n_rounds FROM nr)
SELECT node AS doc_id, core_deg, rounds.n_rounds
FROM fin CROSS JOIN rounds
WHERE core_deg >= 2 ORDER BY doc_id"""


@query("dedup_kcore", oracle=_dedup_kcore_oracle())
def q_dedup_kcore(spark, sf):
    """2-core of the MinHash candidate graph (operators.dedup.kcore,
    iterative peeling): docs whose near-dup neighborhood is DENSE —
    >= 2 surviving neighbors after everyone with fewer peels away —
    the template-cluster / SEO-farm signal, distinct from connected
    components (a chain is one component but has an EMPTY 2-core).
    Output (doc_id, core_deg, n_rounds); pure integer thresholding, no
    floats. Twin: 8 unrolled MATERIALIZED peel rounds over the shared
    mh_cand CTE (measured convergence: 2 rounds at sf0.01, 4 at
    sf0.1), n_rounds re-derived as the count of strictly-shrinking
    rounds. max_iter=8 matches the twin's unroll EXACTLY: a graph
    needing more peel rounds makes kcore raise (round-13 convergence
    contract) instead of the two engines silently returning different
    non-fixpoints. Per round: two endpoint semi-joins + one node-grain
    count — graph-sized, checkpointed between rounds."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
    return DD.kcore(pairs.select("doc0", "doc1"), k=2,
                    max_iter=8).orderBy("doc_id")


# ARI between the MinHash clustering and exact-fingerprint groups:
# the dedup_clusters recursive walk + a contingency GROUP BY; the
# combinatorics stay integer (// halves) until the final division
@query("dedup_cluster_ari", oracle=f"""
WITH RECURSIVE {_minhash_cte()},
edges AS MATERIALIZED (
  SELECT doc0 AS src, doc1 AS dst FROM mh_cand
  UNION ALL
  SELECT doc1, doc0 FROM mh_cand),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
cl AS MATERIALIZED (SELECT node AS doc_id, MIN(label) AS cluster_id
       FROM walk GROUP BY node),
fp AS (SELECT CAST(doc_id AS BIGINT) doc_id,
              array_to_string(list_sort(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''))), ' ') f
       FROM documents),
ex AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) label_exact
       FROM fp),
lab AS (SELECT ex.doc_id, label_exact,
               COALESCE(cl.cluster_id, ex.doc_id) label_mh
        FROM ex LEFT JOIN cl USING (doc_id)),
cont AS MATERIALIZED (SELECT label_exact a, label_mh b, COUNT(*) nij
         FROM lab GROUP BY 1, 2),
cells AS (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) sc,
                 CAST(SUM(nij) AS BIGINT) n FROM cont),
am AS (SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) sa
       FROM (SELECT SUM(nij) ai FROM cont GROUP BY a)),
bm AS (SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) sb
       FROM (SELECT SUM(nij) bj FROM cont GROUP BY b))
SELECT n, sc AS sum_comb_cells, sa AS sum_comb_a, sb AS sum_comb_b,
       CASE WHEN (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
                 - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                   / CAST(n * (n - 1) // 2 AS DOUBLE) <> 0
            THEN ROUND((CAST(sc AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                          / CAST(n * (n - 1) // 2 AS DOUBLE))
                       / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
                          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                            / CAST(n * (n - 1) // 2 AS DOUBLE)), 6)
       END AS ari
FROM cells, am, bm""")
def q_dedup_cluster_ari(spark, sf):
    """Adjusted Rand Index between the MinHash-LSH clustering and the
    collision-key grouping (operators.profile.clustering_agreement,
    Hubert & Arabie 1985) — the dedup-evaluation question 'how much of
    the token-set duplicate structure does the cheap LSH clustering
    recover, beyond chance?'. The measured answer on this corpus is
    ~0 (ARI 0.003 at sf0.01: 444 key pairs, 59 LSH pairs, ONE shared)
    — shingle-LSH is order-sensitive and misses order-scrambled
    bag-of-words dups, which is precisely why dedup_waterfall runs the
    key-collision stage AND the MinHash stage. Labels: A = min doc_id
    per OpenRefine collision key (75/500 docs at sf0.01 share a key);
    B = connected
    component over the star-contracted MinHash candidate graph,
    coalesced to the doc's own id for docs outside every bucket pair.
    Everything up to the final division is integer pair combinatorics
    (exact shiftright halves), so the twin — the SAME recursive-CTE
    component walk the dedup_clusters oracle uses, plus a contingency
    GROUP BY — matches bit-for-bit. One contingency-grain agg; the
    corpus is touched once per labeling."""
    docs = load_table(spark, sf, "documents")
    fp = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     TX.collision_key("text").alias("fp"))
    ex = fp.join(fp.groupBy("fp").agg(F.min("doc_id")
                                      .alias("label_exact")), "fp") \
        .select("doc_id", "label_exact")
    edges = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                      n=2, num_hashes=12, bands=4)
    cc = DD.connected_components(edges)
    lab = (ex.join(cc, "doc_id", "left")
           .select("doc_id", "label_exact",
                   F.coalesce("cluster_id", F.col("doc_id"))
                   .alias("label_mh")))
    return PF.clustering_agreement(lab, "label_exact", "label_mh")


@query("dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark, sf):
    return (DD.simhash_pairs(load_table(spark, sf, "documents"),
                             "doc_id", "text", bits=32, max_hamming=3)
            .withColumn("hamming", F.col("hamming").cast("long")))


# all-pairs BY SEMANTICS (brute-force near-dup over embeddings) —
# spelled with list_dot_product computed ONCE per pair in its own
# CTE: the old explode-join (128M exploded rows) took ~12 s at
# sf0.1 and a naive list_dot_product spelling that repeated the
# call in SELECT and WHERE took 19 s; this is 0.5 s, identical
# values (the dot is the same left-to-right fold either way)
@query("dedup_embedding", oracle="""
WITH ed AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
  FROM embeddings),
nn AS MATERIALIZED (
  SELECT vec_id, SQRT(list_dot_product(v, v)) nrm FROM ed),
dots AS (
  SELECT a.vec_id id0, b.vec_id id1, list_dot_product(a.v, b.v) dp
  FROM ed a JOIN ed b ON a.vec_id > b.vec_id)
SELECT CAST(d.id0 AS BIGINT) id0, CAST(d.id1 AS BIGINT) id1,
       ROUND(d.dp / (n0.nrm * n1.nrm), 6) cos_sim
FROM dots d JOIN nn n0 ON n0.vec_id = d.id0 JOIN nn n1 ON n1.vec_id = d.id1
WHERE ROUND(d.dp / (n0.nrm * n1.nrm), 6) >= 0.3""")
def q_dedup_embedding(spark, sf):
    return DD.embedding_near_dups(load_table(spark, sf, "embeddings"),
                                  threshold=0.3)


@query("dedup_spans", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
occ AS (
  SELECT doc, CAST(i AS BIGINT) pos,
         CAST('0x' || substr(md5(array_to_string(a[i+1:i+4], ' ')), 1, 15)
              AS BIGINT) g
  FROM toklist, UNNEST(range(len(a) - 3)) AS u(i)
  WHERE len(a) >= 4),
dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(DISTINCT doc) >= 2),
cov AS (
  SELECT doc, COUNT(DISTINCT tp) covered
  FROM (SELECT o.doc, unnest(range(o.pos, o.pos + 4)) tp
        FROM occ o JOIN dup USING (g))
  GROUP BY doc)
SELECT t.doc, CAST(len(t.a) AS BIGINT) n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) covered,
       ROUND(COALESCE(cov.covered, 0) / GREATEST(len(t.a), 1), 6)
         dup_span_frac
FROM toklist t LEFT JOIN cov ON cov.doc = t.doc""")
def q_dedup_spans(spark, sf):
    """Cross-document duplicated-span coverage (Lee et al. substring-dedup
    signal): per doc, the fraction of token positions inside a 4-gram that
    also occurs in another document (operators.dedup.cross_doc_spans)."""
    docs = load_table(spark, sf, "documents")
    return DD.cross_doc_spans(docs, "doc_id", "text", n=4)


@query("dedup_collision", oracle=f"""
WITH aug AS (
  SELECT CAST(doc_id AS BIGINT) doc, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents),
k AS (SELECT doc,
        md5(array_to_string(list_sort(list_distinct(
          list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      t -> t <> ''))), ' ')) ck
      FROM aug),
g AS (SELECT ck, MIN(doc) keep_id, COUNT(*) cluster_size
      FROM k GROUP BY 1 HAVING COUNT(*) >= 2)
SELECT k.doc, g.keep_id, CAST(g.cluster_size AS BIGINT) cluster_size
FROM k JOIN g USING (ck)""")
def q_dedup_collision(spark, sf):
    """Key-collision fuzzy clustering over the corpus augmented with
    token-REVERSED twins: same bag of distinct words, so every twin must
    collide with its original (operators.dedup.collision_clusters)."""
    docs = load_table(spark, sf, "documents")
    rev = docs.select(
        (F.col("doc_id").cast("long") + 1000000).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ")
        .alias("text"))
    aug = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "text").unionByName(rev)
    return DD.collision_clusters(aug, "doc_id", "text")


@query("minhash_eval", oracle=_minhash_eval_oracle(threshold=0.5,
                                             sample_size=100))
def q_minhash_eval(spark, sf):
    """Measured MinHash-banding quality (operators.dedup
    .minhash_eval_report): recall/precision of the candidate generator
    vs EXACT n-gram Jaccard ground truth on a bounded deterministic
    100-doc sample — the measurement companion to minhash_band_plan's
    analytic prediction, and how a dedup config is validated before a
    100 TB run. Ground truth is all-pairs within the SAMPLE only
    (O(sample²) bounded), never corpus-scale."""
    docs = load_table(spark, sf, "documents")
    return DD.minhash_eval_report(docs, "doc_id", "text", n=2,
                                  num_hashes=12, bands=4,
                                  threshold=0.5, sample_size=100)


# structured entity resolution: identical planted-dirty-copy
# construction, blocking, and candidate scoring (DuckDB
# levenshtein parity is already relied on by dedup_edit_distance)
@query("er_customer_link", oracle="""
WITH base AS (SELECT CAST(c_custkey AS BIGINT) ck, c_name, c_nationkey,
                     c_acctbal, c_mktsegment
              FROM customer),
dirty AS (SELECT ck + 10000000 ck,
                 substring(c_name, 1, 17) || 'x' c_name,
                 c_nationkey, c_acctbal + 0.01 c_acctbal, c_mktsegment
          FROM base WHERE ck % 40 = 0),
rec AS (SELECT *, substring(c_name, 10, 7) blk FROM base
        UNION ALL
        SELECT *, substring(c_name, 10, 7) blk FROM dirty),
pairs AS (SELECT a.ck id0, b.ck id1,
                 a.c_name n0, b.c_name n1,
                 a.c_acctbal b0, b.c_acctbal b1,
                 a.c_mktsegment s0, b.c_mktsegment s1
          FROM rec a JOIN rec b
            ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
           AND a.ck < b.ck),
scored AS (SELECT id0 cust0, id1 cust1,
                  CAST(levenshtein(n0, n1) AS INTEGER) name_lev,
                  ROUND(ABS(b0 - b1), 2) bal_diff,
                  (s0 = s1) same_segment
           FROM pairs)
SELECT cust0, cust1, name_lev, bal_diff, same_segment,
       (name_lev <= 1 AND bal_diff <= 1.0) is_match
FROM scored WHERE name_lev <= 2
ORDER BY cust0, cust1""")
def q_er_customer_link(spark, sf):
    """Structured entity resolution / record linkage (operators.dedup
    .blocked_pairs — the Fellegi-Sunter blocking step applied to the
    customer dimension): plant dirty duplicates in-query (every
    ``c_custkey % 40 == 0`` customer gets a copy at key+10M with the
    LAST name character corrupted and the balance nudged +0.01 —
    identical literal construction in the DuckDB twin), block on
    (nation, 7-digit name prefix) — a key the corruption provably
    preserves — generate within-block candidate pairs, then score
    candidates only: JVM levenshtein on names, 2dp balance delta,
    segment equality; ``is_match = lev <= 1 AND bal_diff <= 1.0``.
    Natural same-block pairs (keys differing in the last two digits)
    appear with lev 1-2 and rarely match — exactly the
    candidate-vs-match separation a linkage report shows. Pair count
    is sum of block-size², never corpus² — and at 100 TB a single hot
    block (a default name value) is still a quadratic bomb, so
    blocked_pairs takes a ``max_block_size`` cap that drops oversize
    blocks instead of emitting block² pairs (guard tested with a
    planted hot block in test_dedup.py;
    unset here because TPC-H names are synthetic-unique)."""
    cust = load_table(spark, sf, "customer")
    base = cust.select(F.col("c_custkey").cast("long").alias("ck"),
                       "c_name", "c_nationkey", "c_acctbal",
                       "c_mktsegment")
    dirty = (base.where(F.col("ck") % 40 == 0)
             .select((F.col("ck") + 10_000_000).alias("ck"),
                     F.concat(F.substring("c_name", 1, 17), F.lit("x"))
                     .alias("c_name"),
                     "c_nationkey",
                     (F.col("c_acctbal") + 0.01).alias("c_acctbal"),
                     "c_mktsegment"))
    rec = (base.unionByName(dirty)
           .withColumn("blk", F.substring("c_name", 10, 7)))
    pairs = DD.blocked_pairs(rec, "ck", ["c_nationkey", "blk"],
                             ["c_name", "c_acctbal", "c_mktsegment"])
    lev = F.levenshtein("c_name_0", "c_name_1")
    bal = F.round(F.abs(F.col("c_acctbal_0") - F.col("c_acctbal_1")), 2)
    return (pairs
            .select(F.col("id0").alias("cust0"),
                    F.col("id1").alias("cust1"),
                    lev.alias("name_lev"),
                    bal.alias("bal_diff"),
                    (F.col("c_mktsegment_0") == F.col("c_mktsegment_1"))
                    .alias("same_segment"))
            .where(F.col("name_lev") <= 2)
            .select("cust0", "cust1", "name_lev", "bal_diff",
                    "same_segment",
                    ((F.col("name_lev") <= 1) & (F.col("bal_diff") <= 1.0))
                    .alias("is_match"))
            .orderBy("cust0", "cust1"))


@query("dedup_pagerank", oracle=_pagerank_oracle(n_iter=3, damping=0.85))
def q_dedup_pagerank(spark, sf):
    """Fixed-iteration PageRank over the MinHash candidate graph
    (operators.dedup.pagerank_iterations): document centrality in the
    near-dup graph — high-rank nodes are the hub documents (templates,
    mirrored boilerplate) whose canonical-choice matters most. The
    iterative-algorithm shape done Spark-first: each of the 3 iterations
    is one edge⋈rank join + one keyed aggregation; the recurrence runs
    in INTEGER micro-units (order-independent sums — float sums of
    rounded terms drifted 1e-6 on a hub at sf0.1) so the DuckDB twin's
    chained CTEs replay identical values at any scale."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
    return DD.pagerank_iterations(pairs, n_iter=3, damping=0.85)


# domain-aware leakage-safe split: the split_leakage_safe closure
# with same-registered-domain star edges UNIONed in (shared _url_cte
# — the domain rule can never drift from the url_* contracts)
@query("split_leakage_domain", oracle=f"""
WITH RECURSIVE {_minhash_cte()},
{_url_cte()},
dmin AS (SELECT reg_domain, MIN(doc_id) mdoc, COUNT(*) c
         FROM u GROUP BY 1),
dedges AS (SELECT u.doc_id AS doc0, m.mdoc AS doc1
           FROM u JOIN dmin m USING (reg_domain)
           WHERE m.c >= 2 AND u.doc_id > m.mdoc),
edges AS MATERIALIZED (
  SELECT doc0 AS src, doc1 AS dst FROM mh_cand
  UNION SELECT doc1, doc0 FROM mh_cand
  UNION SELECT doc0, doc1 FROM dedges
  UNION SELECT doc1, doc0 FROM dedges),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk
       GROUP BY node),
lab AS (SELECT u.doc_id, u.reg_domain,
               COALESCE(cl.cluster_id, u.doc_id) cluster_id
        FROM u LEFT JOIN cl USING (doc_id)),
fr AS (SELECT doc_id, reg_domain, cluster_id,
         (CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)
               AS BIGINT) >> 30) / 1073741824.0 f
       FROM lab)
SELECT doc_id, reg_domain, cluster_id,
       CASE WHEN f < 0.8 THEN 'train' WHEN f < 0.9 THEN 'val'
            ELSE 'test' END split
FROM fr ORDER BY doc_id""")
def q_split_leakage_domain(spark, sf):
    """DOMAIN-aware leakage-safe split (operators.dedup.group_star_edges
    + the split_leakage_safe composition — the RefinedWeb/Dolma
    practice the round-9 verdict ordered): near-dup candidate edges
    UNIONED with same-registered-domain star edges before connected
    components, so neither a near-duplicate pair NOR two pages of one
    site can straddle train/test. Domain edges are star-contracted
    (member -> min member): linear in domain size — the 100-TB shape.
    Split assignment stays the deterministic md5-range rule on
    cluster_id."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    dom = u.select(F.col("doc_id").cast("long").alias("doc_id"),
                   URL.registered_domain(URL.url_host(F.col("url")))
                   .alias("reg_domain"))
    # materialize the 2-column domain projection ONCE before the
    # iterative graph work: the raw-URL plant + normalization is a very
    # large expression tree, and without truncation every CC round and
    # the final label join re-carries it into each stage's serialized
    # plan (measured 44 MiB task binaries, 143 s -> ~8 s at sf0.01).
    # Same rule as pagerank's edge materialization: an iterative
    # algorithm's inputs are computed once, never re-derived per stage.
    dom = dom.localCheckpoint()
    e_text = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                       n=2, num_hashes=12, bands=4)
    e_dom = DD.group_star_edges(dom, "doc_id", "reg_domain")
    clusters = DD.connected_components(
        e_text.unionByName(e_dom).distinct())
    labeled = (dom.join(clusters, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", F.col("doc_id"))))
    out = SP.assign_splits(labeled, F.col("cluster_id").cast("string"),
                           (("train", 0.8), ("val", 0.1), ("test", 0.1)))
    return (out.select("doc_id", "reg_domain", "cluster_id", "split")
            .orderBy("doc_id"))


# waterfall attribution composes the PROVEN dedup_exact /
# url_dedup / text_line_dedup / dedup_clusters rule bodies
@query("dedup_waterfall", oracle=f"""
WITH RECURSIVE {_minhash_cte()},
{_url_cte()},
d AS (SELECT CAST(doc_id AS BIGINT) doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fp
      FROM documents),
ex AS (SELECT doc_id,
              doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS f_exact
       FROM d),
ur AS (SELECT doc_id,
              doc_id > MIN(doc_id) OVER (PARTITION BY url_norm) AS f_url
       FROM u),
t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
lins AS (
  SELECT doc,
         list_transform(range(CAST(ceil(len(a) / 10.0) AS BIGINT)),
                        i -> array_to_string(
                               list_slice(a, i*10 + 1, i*10 + 10), ' ')) ls
  FROM t WHERE len(a) > 0),
chunks AS (
  SELECT doc, CAST(generate_subscripts(ls, 1) - 1 AS INT) pos,
         unnest(ls) line
  FROM lins),
firsts AS (
  SELECT doc, pos,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc, pos) rn
  FROM chunks),
lstat AS (SELECT doc, COUNT(*) n_total,
                 SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) n_kept
          FROM firsts GROUP BY doc),
edges AS MATERIALIZED (SELECT doc0 AS src, doc1 AS dst FROM mh_cand
          UNION ALL SELECT doc1, doc0 FROM mh_cand),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk
       GROUP BY node),
mhf AS (SELECT doc_id,
               doc_id > MIN(doc_id) OVER (PARTITION BY cluster_id) AS f_mh
        FROM cl),
fl AS (SELECT ex.doc_id, ex.f_exact, ur.f_url,
              COALESCE(ls.n_kept * 2 <= ls.n_total, FALSE) f_line,
              COALESCE(mhf.f_mh, FALSE) f_mh
       FROM ex JOIN ur USING (doc_id)
       LEFT JOIN lstat ls ON ls.doc = ex.doc_id
       LEFT JOIN mhf USING (doc_id))
SELECT doc_id, f_exact AS exact, f_url AS url, f_line AS line,
       f_mh AS minhash,
       CASE WHEN f_exact THEN 'exact' WHEN f_url THEN 'url'
            WHEN f_line THEN 'line' WHEN f_mh THEN 'minhash'
            ELSE 'kept' END first_stage,
       NOT (f_exact OR f_url OR f_line OR f_mh) AS kept
FROM fl ORDER BY doc_id""")
def q_dedup_waterfall(spark, sf):
    """Dedup-waterfall attribution report (operators.dedup
    .first_stage_attribution over the PROVEN stage rules — the
    standard pipeline-debugging artifact the round-9 verdict ordered):
    one row per document with each ladder stage's independent verdict
    (exact fingerprint non-representative; canonical-URL
    non-representative; >= 50% of 10-token pseudo-lines are repeats of
    earlier (doc, pos) occurrences; MinHash-cluster
    non-representative) and the FIRST stage that caught it — 'kept'
    when none did, so removed + kept == corpus by construction
    (conservation property-tested). Every stage flag reuses the exact
    rule of an already-green query (dedup_exact / url_dedup /
    text_line_dedup / dedup_clusters); the twin composes the same four
    oracle bodies."""
    docs = load_table(spark, sf, "documents")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    w_fp = Window.partitionBy("fingerprint")
    exact = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                         TX.fingerprint("text").alias("fingerprint"))
             .withColumn("exact",
                         F.col("doc_id") > F.min("doc_id").over(w_fp))
             .select("doc_id", "exact"))
    w_u = Window.partitionBy("url_norm")
    url = (_planted_urls(docs)
           .select(F.col("doc_id").cast("long").alias("doc_id"),
                   URL.normalize_url(F.col("url")).alias("url_norm"))
           .withColumn("url", F.col("doc_id") > F.min("doc_id").over(w_u))
           .select("doc_id", "url"))
    tok_df = docs.select(F.col("doc_id").cast("long").alias("doc"),
                         TX.tokens("text").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    chunk_arr = F.when(
        F.size("toks") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * 10 + 1, 10), " ")),
    ).otherwise(F.array().cast("array<string>"))
    lines = tok_df.select("doc", F.posexplode(chunk_arr)
                          .alias("pos", "line"))
    # materialized once (r13 optimization, guide §2.4): line_dedup_keep
    # windows by LINE CONTENT while the total count aggregates by DOC —
    # differently-keyed consumers, so the tokenize -> 10-token chunk
    # explode would otherwise run twice (A/B best-of-4 at sf0.1 on this
    # sub-pipeline: 2.82 -> 1.91 s).
    lines = lines.localCheckpoint()
    kept_lines = DD.line_dedup_keep(lines)
    lstat = (lines.groupBy("doc")
             .agg(F.count(F.lit(1)).alias("n_total"))
             .join(kept_lines.groupBy("doc")
                   .agg(F.count(F.lit(1)).alias("n_kept")), "doc", "left")
             .select(F.col("doc").alias("doc_id"),
                     ((F.coalesce("n_kept", F.lit(0)) * 2)
                      <= F.col("n_total")).alias("line")))
    edges = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                      n=2, num_hashes=12, bands=4)
    w_c = Window.partitionBy("cluster_id")
    mh = (DD.connected_components(edges)
          .withColumn("minhash",
                      F.col("doc_id") > F.min("doc_id").over(w_c))
          .select("doc_id", "minhash"))
    flags = (ids.join(exact, "doc_id").join(url, "doc_id")
             .join(lstat, "doc_id", "left").join(mh, "doc_id", "left")
             .select("doc_id", "exact", "url",
                     F.coalesce("line", F.lit(False)).alias("line"),
                     F.coalesce("minhash", F.lit(False)).alias("minhash")))
    out = DD.first_stage_attribution(
        flags, ["exact", "url", "line", "minhash"])
    return (out.withColumn("kept", F.col("first_stage") == "kept")
            .orderBy("doc_id"))


@query("dedup_degrees", oracle=f"""
WITH {_minhash_cte()},
deg AS (SELECT doc, COUNT(*) degree FROM (
          SELECT doc0 doc FROM mh_cand
          UNION ALL SELECT doc1 FROM mh_cand) GROUP BY 1)
SELECT CAST(degree AS BIGINT) degree, CAST(COUNT(*) AS BIGINT) n_docs
FROM deg GROUP BY 1""")
def q_dedup_degrees(spark, sf):
    """Degree distribution of the MinHash candidate graph — the dedup-
    graph health report (a heavy tail here means hot buckets; feeds the
    star-contraction / connected-components strategy choice)."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
    deg = (pairs.select(F.col("doc0").alias("doc"))
           .unionByName(pairs.select(F.col("doc1").alias("doc")))
           .groupBy("doc").agg(F.count(F.lit(1)).alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .select(F.col("degree").cast("long").alias("degree"), "n_docs"))


@query("dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark, sf):
    """Daily-ingest dedup: label the src19 batch against the rest of the
    corpus as exact_dup / near_dup / new (operators.dedup.incremental_dedup
    — history side never shuffles at full width)."""
    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("source") == "src19")
    hist = docs.where(F.col("source") != "src19")
    return DD.incremental_dedup(new, hist, "doc_id", "text")


@query("dedup_bloom", oracle=_bloom_oracle())
def q_dedup_bloom(spark, sf):
    """Bloom-gated incremental dedup (operators.sketches.bloom_build /
    bloom_probe — the fixed-size-filter shape AI2's Dolma uses for
    web-scale paragraph dedup): the src19 ingest batch is probed against
    a 64Ki-bit / k=4 Bloom filter built over the REST of the corpus'
    normalized-text hashes. Half the batch (doc_id % 40 == 19) is
    planted as an exact copy of its history neighbor (doc_id - 1), so
    both outcomes occur at every scale; exact membership is recomputed
    with a real fingerprint join to label false positives (the audit
    side of the contract, not part of the operator).

    Contract rows per batch doc: bloom_hit, exact_hit, false_pos — with
    no false negatives BY CONSTRUCTION (exact_hit implies bloom_hit;
    the planted copies prove it at every scale). 100-TB story: the
    history collapses into a ~1 Ki-word bitmap via ONE bounded-key
    aggregation (map-side combine makes shuffle volume tasks x filter,
    independent of history rows), and the probe is four broadcast hash
    joins — map-only, whole-stage-codegen, no Python. Size m at ~1.44
    * k * n_history bits (MAX_BLOOM_BITS guards the broadcast premise).
    """
    from casf_spark.operators import sketches as SKC
    docs = load_table(spark, sf, "documents")
    hist = docs.where(F.col("doc_id") % 20 != 19)
    prev = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.col("text").alias("__prev_text"))
    batch = (docs.where(F.col("doc_id") % 20 == 19)
             .join(prev, "doc_id", "left")
             .select("doc_id",
                     F.when(F.col("doc_id") % 40 == 19,
                            F.col("__prev_text"))
                     .otherwise(F.col("text")).alias("text")))
    filt = SKC.bloom_build(hist, TX.normalize_text(F.col("text")),
                           m_bits=BLOOM_M, k=BLOOM_K)
    probed = SKC.bloom_probe(batch, TX.normalize_text(F.col("text")),
                             filt, m_bits=BLOOM_M, k=BLOOM_K)
    hfp = (hist.select(TX.fingerprint("text").alias("fp")).distinct()
           .withColumn("__seen", F.lit(1)))
    return (probed.withColumn("fp", TX.fingerprint("text"))
            .join(hfp, "fp", "left")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("maybe_seen").alias("bloom_hit"),
                    F.col("__seen").isNotNull().alias("exact_hit"),
                    (F.col("maybe_seen") & F.col("__seen").isNull())
                    .alias("false_pos")))


@query("dedup_triangles", oracle=f"""
WITH {_minhash_cte()}
SELECT CAST(COUNT(*) AS BIGINT) n_triangles
FROM mh_cand e1
JOIN mh_cand e2 ON e2.doc0 = e1.doc1
JOIN mh_cand e3 ON e3.doc0 = e1.doc0 AND e3.doc1 = e2.doc1""")
def q_dedup_triangles(spark, sf):
    """Triangle count on the MinHash candidate graph — the clustering
    -coefficient numerator (how clique-like near-dup neighborhoods are;
    high triangle density justifies the star-contraction CC shortcut).
    Canonical a>b>c orientation means each triangle counts once and the
    3-way self-join only walks forward edges (no symmetrization blowup)."""
    docs = load_table(spark, sf, "documents")
    e = (DD.minhash_lsh_pairs(docs, "doc_id", "text", n=2,
                              num_hashes=12, bands=4)
         .select(F.col("doc0").alias("hi"), F.col("doc1").alias("lo")))
    e1 = e.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    e2 = e.select(F.col("hi").alias("b"), F.col("lo").alias("c"))
    e3 = e.select(F.col("hi").alias("a"), F.col("lo").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


@query("split_leakage_safe", oracle=f"""
WITH RECURSIVE {_minhash_cte()},
edges AS MATERIALIZED (
  SELECT doc0 AS src, doc1 AS dst FROM mh_cand
  UNION ALL
  SELECT doc1, doc0 FROM mh_cand),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst),
cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk
       GROUP BY node),
d AS (SELECT CAST(doc_id AS BIGINT) doc_id FROM documents),
lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) cluster_id
        FROM d LEFT JOIN cl USING (doc_id)),
fr AS (SELECT doc_id, cluster_id,
         (CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)
               AS BIGINT) >> 30) / 1073741824.0 f
       FROM lab)
SELECT doc_id, cluster_id,
       CASE WHEN f < 0.8 THEN 'train' WHEN f < 0.9 THEN 'val'
            ELSE 'test' END split
FROM fr""")
def q_split_leakage_safe(spark, sf):
    """Leakage-safe train/val/test assignment: split by DEDUP CLUSTER,
    not by document — near-duplicates can never straddle train and test
    (the eval-contamination hole row-wise splitting leaves open). Docs
    outside any candidate cluster are their own singleton cluster. The
    composition: MinHash star edges -> connected components -> md5-range
    split on cluster_id -> broadcast-size label join back."""
    docs = load_table(spark, sf, "documents")
    edges = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                      n=2, num_hashes=12, bands=4)
    clusters = DD.connected_components(edges)
    labeled = (docs.select(F.col("doc_id").cast("long").alias("doc_id"))
               .join(clusters, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", F.col("doc_id"))))
    out = SP.assign_splits(labeled, F.col("cluster_id").cast("string"),
                           (("train", 0.8), ("val", 0.1), ("test", 0.1)))
    return out.select("doc_id", "cluster_id", "split")


@query("dedup_cross_source", oracle=f"""
WITH {_minhash_cte()},
src AS (SELECT CAST(doc_id AS BIGINT) doc, source FROM documents)
SELECT LEAST(a.source, b.source) source_a,
       GREATEST(a.source, b.source) source_b,
       CAST(COUNT(*) AS BIGINT) n_pairs
FROM mh_cand c JOIN src a ON a.doc = c.doc0 JOIN src b ON b.doc = c.doc1
GROUP BY 1, 2""")
def q_dedup_cross_source(spark, sf):
    """Cross-source duplication audit: MinHash-LSH candidate pairs rolled
    up to (source, source) counts — which sources copy from each other,
    the first question before weighting a training mixture. Candidate
    generation is the banded sub-quadratic path; the source lookup is a
    doc-keyed join (no broadcast of a corpus-sized map)."""
    docs = load_table(spark, sf, "documents")
    cand = DD.minhash_lsh_pairs(docs, "doc_id", "text", n=2,
                                num_hashes=12, bands=4)
    s0 = docs.select(F.col("doc_id").cast("long").alias("d0"),
                     F.col("source").alias("s0"))
    s1 = docs.select(F.col("doc_id").cast("long").alias("d1"),
                     F.col("source").alias("s1"))
    j = (cand.join(s0, cand.doc0 == s0.d0)
         .join(s1, F.col("doc1") == s1.d1))
    return (j.select(F.least("s0", "s1").alias("source_a"),
                     F.greatest("s0", "s1").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


@query("dedup_containment", oracle="""
WITH
toklist AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
            '[^a-z0-9]+'), t -> t <> '') a FROM documents),
toks AS (SELECT CAST(doc_id AS BIGINT) doc, generate_subscripts(a, 1) pos,
                unnest(a) w
         FROM toklist),
sh AS (
  SELECT DISTINCT t1.doc, t1.w || ' ' || t2.w || ' ' || t3.w AS shingle
  FROM toks t1
  JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1
  JOIN toks t3 ON t1.doc = t3.doc AND t3.pos = t1.pos + 2),
sizes AS (SELECT doc, COUNT(*) n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc src_doc, b.doc dst_doc, COUNT(*) n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
  GROUP BY 1, 2)
SELECT i.src_doc, i.dst_doc, CAST(i.n_common AS BIGINT) n_common,
       ROUND(CAST(i.n_common AS DOUBLE) / s.n_sh, 6) containment
FROM inter i JOIN sizes s ON s.doc = i.src_doc
WHERE ROUND(CAST(i.n_common AS DOUBLE) / s.n_sh, 6) >= 0.8""")
def q_dedup_containment(spark, sf):
    """Asymmetric shingle containment (operators.dedup.containment_pairs,
    Broder's measure): directed pairs where >= 80% of the source doc's
    3-gram shingles appear in the destination — catches short-quoted-in-
    long relationships that symmetric Jaccard's union denominator
    drowns. Same shingle self-join shape as dedup_ngram_jaccard."""
    docs = load_table(spark, sf, "documents")
    return DD.containment_pairs(docs, "doc_id", "text", n=3,
                                threshold=0.8)


@query("dedup_chunks", oracle=f"""
WITH {_CDC_CHUNKS_CTE},
ch AS (SELECT doc_id, chunk_id, n_tokens, md5(chunk_text) h
       FROM cdc_chunks),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h
                                   ORDER BY doc_id, chunk_id) rn
      FROM ch)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         n_dup_chunks,
       ROUND(SUM(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) * 1.0
             / SUM(n_tokens), 6) dup_token_ratio
FROM r GROUP BY 1""")
def q_dedup_chunks(spark, sf):
    """Sub-document (chunk-level) dedup report: content-defined chunks
    hashed and first-occurrence-attributed, rolled up per document —
    (doc_id, n_chunks, n_dup_chunks, dup_token_ratio). Doc-level dedup
    misses boilerplate REPEATED INSIDE otherwise-distinct documents
    (headers, licenses, navigation); chunk-level hashing over
    content-defined boundaries catches it, and the CDC property means a
    re-crawled page re-hashes to the same chunks. First occurrence =
    lexicographically smallest (doc_id, chunk_id) per chunk hash, so the
    report is deterministic and engine-independent.

    Plan: map-only chunker -> row_number window partitioned by chunk
    hash (first-occurrence flag; hash groups are tiny, so the per-group
    sort is O(dups)) -> one rollup shuffle on doc_id. Exactly TWO
    chunk-grain exchanges in every size regime — a groupBy+join
    formulation costs a third exchange once the first-occurrence table
    outgrows broadcast. Never shuffles per token."""
    docs = load_table(spark, sf, "documents")
    ch = CU.content_defined_chunks(docs, "doc_id", "text", divisor=16)
    keyed = ch.select("doc_id", "chunk_id", "n_tokens",
                      F.md5("chunk_text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    flagged = keyed.select(
        "doc_id", "n_tokens",
        (F.row_number().over(w) > 1).cast("int").alias("is_dup"))
    return (flagged.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum("is_dup").cast("long").alias("n_dup_chunks"),
                 F.round(F.sum(F.col("is_dup") * F.col("n_tokens"))
                         / F.sum("n_tokens"), 6)
                 .alias("dup_token_ratio")))


@query("cdc_chunk_reuse", oracle=f"""
WITH ed AS (
  SELECT doc_id,
         array_to_string(
           a[1:p] || ['zzedit'] || a[p + 1:n], ' ') AS text
  FROM (SELECT CAST(doc_id AS BIGINT) doc_id, a, len(a) n,
               LEAST(5, len(a)) p
        FROM (SELECT doc_id, {_TOKS} a FROM documents))
  WHERE n > 0),
{_cdc_chunks_cte('documents', 'v1', 'a_')},
{_cdc_chunks_cte('ed', 'v2', 'b_')},
h1 AS (SELECT DISTINCT doc_id, md5(chunk_text) h FROM v1),
h2 AS (SELECT doc_id, md5(chunk_text) h FROM v2),
agg1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_chunks_v1
         FROM v1 GROUP BY 1),
agg2 AS (
  SELECT h2.doc_id, CAST(COUNT(*) AS BIGINT) n_chunks_v2,
         CAST(SUM(CASE WHEN h1.h IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) n_reused
  FROM h2 LEFT JOIN h1 ON h2.doc_id = h1.doc_id AND h2.h = h1.h
  GROUP BY 1)
SELECT doc_id, n_chunks_v1, n_chunks_v2, n_reused,
       ROUND(n_reused * 1.0 / n_chunks_v2, 6) reuse_ratio
FROM agg1 JOIN agg2 USING (doc_id)""")
def q_cdc_chunk_reuse(spark, sf):
    """Cross-version chunk reuse — the end-to-end proof of the CDC
    property q_text_cdc_chunks claims: edit every document near its head
    (insert one marker token after the 5th token) and measure how many
    of the edited version's chunks hash-match a chunk of the original.
    Because boundaries depend only on local content, the edit redraws
    chunks only up to the first boundary after the insertion point —
    every later chunk is byte-identical and reuses the v1 hash (a
    fixed-stride chunker would re-emit every chunk shifted by one
    token, reuse ~0). Output per doc: (doc_id, n_chunks_v1, n_chunks_v2,
    n_reused, reuse_ratio).

    Plan: two map-only chunker passes (original + edited — the edit is
    itself a shuffle-free array splice), v2 chunk hashes probed against
    v1's per-doc distinct hash set with one (doc_id, hash)-keyed join,
    then doc-grain rollups. All exchanges are chunk-grain; nothing is
    quadratic and nothing leaves the JVM."""
    docs = load_table(spark, sf, "documents")
    toks = TX.tokens("text")
    n, p = F.size(toks), F.least(F.lit(5), F.size(toks))
    edited = F.concat_ws(
        " ",
        F.concat(F.slice(toks, 1, p),
                 F.array(F.lit("zzedit")),
                 F.slice(toks, p + 1, F.greatest(n - p, F.lit(0)))))
    base = docs.where(n > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text",
        edited.alias("etext"))
    # v1 materialized once (r13 optimization, guide §2.4): its two
    # consumers (the per-doc distinct hash set and the v1 rollup) are
    # keyed differently, so exchange reuse cannot share the chunker
    # pipeline — A/B best-of-3 at sf0.1: 2.56 -> 2.36 s, and much
    # steadier samples (the base recomputes the gear-hash chunker per
    # consumer). v2 has one consumer and stays a pure expression plan.
    v1 = CU.content_defined_chunks(base, "doc_id", "text", divisor=16) \
        .localCheckpoint()
    v2 = CU.content_defined_chunks(
        base.select("doc_id", F.col("etext").alias("text")),
        "doc_id", "text", divisor=16)
    h1 = (v1.select("doc_id", F.md5("chunk_text").alias("h"))
          .distinct().withColumn("hit", F.lit(1)))
    h2 = v2.select("doc_id", F.md5("chunk_text").alias("h"))
    agg1 = v1.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks_v1"))
    agg2 = (h2.join(h1, ["doc_id", "h"], "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks_v2"),
                 F.sum(F.coalesce("hit", F.lit(0))).cast("long")
                 .alias("n_reused")))
    return (agg1.join(agg2, "doc_id")
            .select("doc_id", "n_chunks_v1", "n_chunks_v2", "n_reused",
                    F.round(F.col("n_reused") / F.col("n_chunks_v2"), 6)
                    .alias("reuse_ratio")))


@query("dedup_semantic", oracle=_semdedup_oracle(n_clusters=8, threshold=0.3))
def q_dedup_semantic(spark, sf):
    """SemDeDup-style semantic dedup (operators.dedup.semantic_dedup_det):
    deterministic coarse quantizer (md5-sampled centroids, the
    ann_ivf_det idiom) buckets the embedding corpus, then near-dups are
    pruned WITHIN clusters by pairwise cosine >= 0.3, keeping the member
    with the lowest centroid similarity (the paper's keep rule in
    pairwise form). The one major LLM-pipeline dedup family MinHash/
    SimHash/embedding-LSH don't cover: semantically-redundant documents
    whose surface text differs. Cluster-bucketed, never all-pairs."""
    emb = load_table(spark, sf, "embeddings")
    return DD.semantic_dedup_det(emb, n_clusters=8, threshold=0.3)


@query("dedup_semantic_32",
       oracle=_semdedup_oracle(n_clusters=32, threshold=0.5))
def q_dedup_semantic_32(spark, sf):
    """Second SemDeDup contract point at scaled parameters (n_clusters=32,
    threshold=0.5) — pins CONTRACTUALLY what SCALE.md measures: linearity
    comes from scaling n_clusters with the corpus (constant expected
    bucket size), and the operator must stay oracle-exact when the
    quantizer is 4x finer and the prune threshold moves. Same
    deterministic md5-sampled quantizer; assignment pinned to the
    Arrow-batched GEMM strategy (the large-k scale path), so the driver
    gate checks that BLAS assignment agrees with the SQL flat argmin
    cell-for-cell at 6dp — dedup_semantic (8/0.3) covers the expr
    strategy."""
    emb = load_table(spark, sf, "embeddings")
    return DD.semantic_dedup_det(emb, n_clusters=32, threshold=0.5,
                                 assign="gemm")


@query("dedup_semantic_2l",
       oracle=_semdedup_oracle(n_clusters=32, threshold=0.3,
                                              n_super=6))
def q_dedup_semantic_2l(spark, sf):
    """SemDeDup with TWO-LEVEL hierarchical assignment
    (semantic_dedup_det(assign="two_level")): the first ceil(sqrt(k))
    md5-ordered centroids act as routers; vectors argmin over routers
    then only within the routed group — ~N·2·sqrt(k) assignment FLOPs
    instead of N·k, the standard coarse-quantizer trick when the cluster
    count scales with a 100 TB corpus. A DEFINED approximate
    partitioning (every argmin is the rounded-6dp smaller-id-tie rule),
    so the DuckDB twin replays it exactly in two chained argmin CTEs;
    with n_super = n_clusters it degenerates to flat assignment
    (differential-tested)."""
    emb = load_table(spark, sf, "embeddings")
    return DD.semantic_dedup_det(emb, n_clusters=32, threshold=0.3,
                                 assign="two_level")


@query("minhash_band_plan", oracle="""
SELECT ROUND(i * 0.05, 6) AS s,
       ROUND(1.0 - POWER(1.0 - POWER(ROUND(i * 0.05, 6), 3.0), 4.0), 6)
         AS p_detect,
       ROUND(POWER(0.25, 1.0 / 3.0), 6) AS s_star
FROM generate_series(1, 19) t(i)""")
def q_minhash_band_plan(spark, sf):
    """Analytic MinHash banding design surface (functions.hashing
    .minhash_band_plan): the candidate-detection S-curve
    P(s) = 1-(1-s^r)^b and inflection threshold s* = (1/b)^(1/r) for the
    repo's standard (num_hashes=12, bands=4) config — the design tool
    for sizing a corpus-scale dedup run. Data-free, one row per grid
    point."""
    return minhash_band_plan(spark, num_hashes=12, bands=4, step=0.05)


@query("dedup_remove_spans", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
p AS (SELECT doc, a, len(a) nn FROM t),
occ AS (
  SELECT doc, i pos,
         CAST('0x' || substr(md5(array_to_string(a[i + 1:i + 4], ' ')),
              1, 15) AS BIGINT) g
  FROM (SELECT doc, a, unnest(range(nn - 3)) i FROM p WHERE nn >= 4)),
dup AS (SELECT g, MIN(doc) first_doc
        FROM occ GROUP BY g HAVING COUNT(DISTINCT doc) >= 2),
dr AS (SELECT DISTINCT o.doc, o.pos + u.x tp
       FROM occ o JOIN dup d USING (g)
       CROSS JOIN unnest(range(4)) AS u(x)
       WHERE o.doc <> d.first_doc),
drops AS (SELECT doc, list(tp) dp FROM dr GROUP BY doc)
SELECT p.doc, CAST(nn AS BIGINT) n_tokens,
       CAST(COALESCE(len(dp), 0) AS BIGINT) n_removed,
       ROUND(COALESCE(len(dp), 0) * 1.0 / GREATEST(nn, 1), 6) removed_frac,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(nn),
                       i -> dp IS NULL OR NOT list_contains(dp, i)),
           i -> a[i + 1]), ' '), '') cleaned_text
FROM p LEFT JOIN drops USING (doc)""")
def q_dedup_remove_spans(spark, sf):
    """Exact substring dedup with removal
    (operators.dedup.remove_duplicated_spans): token positions covered by
    a cross-document-duplicated word 4-gram are dropped everywhere except
    the gram's first-occurrence document — the cleanup half of Lee et al.
    2022 substring dedup (dedup_spans is the detection half). Gram-grain
    agg + duplicated-set join + map-only array rebuild; the position
    explode is proportional to duplicated occurrences only."""
    docs = load_table(spark, sf, "documents")
    return DD.remove_duplicated_spans(docs, "doc_id", "text", n=4)


@query("dedup_max_spans", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
occ AS (
  SELECT doc, CAST(i AS BIGINT) pos,
         CAST('0x' || substr(md5(array_to_string(a[i+1:i+4], ' ')), 1, 15)
              AS BIGINT) g
  FROM toklist, UNNEST(range(len(a) - 3)) AS u(i)
  WHERE len(a) >= 4),
dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(DISTINCT doc) >= 2),
hits AS (SELECT o.doc, o.pos FROM occ o JOIN dup USING (g)),
mk AS (SELECT doc, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc ORDER BY pos) > 4
              THEN 1 ELSE 0 END brk
       FROM hits),
sid AS (SELECT doc, pos,
          SUM(brk) OVER (PARTITION BY doc ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) s
        FROM mk),
sp AS (SELECT doc, MIN(pos) span_start, MAX(pos) + 3 span_end
       FROM sid GROUP BY doc, s)
SELECT sp.doc, CAST(span_start AS BIGINT) span_start,
       CAST(span_end AS BIGINT) span_end,
       CAST(span_end - span_start + 1 AS BIGINT) span_len,
       array_to_string(t.a[CAST(span_start + 1 AS INT):
                           CAST(span_end + 1 AS INT)], ' ') span_text
FROM sp JOIN toklist t ON t.doc = sp.doc
ORDER BY sp.doc, span_start""")
def q_dedup_max_spans(spark, sf):
    """Variable-length MAXIMAL duplicated spans (operators.dedup
    .maximal_duplicated_spans — the Lee et al. 2022 substring view):
    overlapping/adjacent cross-duplicated word 4-grams merged per doc
    into maximal runs, one row per span with its start/end/length and
    the actual span text. The merge is a lag/cumsum window over the
    duplicated gram starts (doc-partitioned), so the twin replays it as
    the identical LAG + running-SUM SQL; the union of span positions
    equals dedup_spans' covered count by construction (property-tested
    conservation)."""
    docs = load_table(spark, sf, "documents")
    return (DD.maximal_duplicated_spans(docs, "doc_id", "text", n=4)
            .orderBy("doc", "span_start"))


@query("dedup_keep_best", oracle=_keep_best_oracle())
def q_dedup_keep_best(spark, sf):
    """Representative selection after near-dup clustering
    (operators.dedup.keep_cluster_representative): MinHash star-edge
    connected components give cluster membership; within each cluster the
    member with the most tokens (ties to the smaller doc id) is kept, the
    rest are marked duplicates. One join + one cluster-partitioned window
    over candidate-bounded groups."""
    docs = load_table(spark, sf, "documents")
    edges = DD.minhash_lsh_star_edges(docs, "doc_id", "text",
                                      n=2, num_hashes=12, bands=4)
    members = DD.connected_components(edges)
    qual = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.size(TX.tokens("text")).cast("long")
                       .alias("n_tokens"))
    return DD.keep_cluster_representative(members, qual, "n_tokens")


@query("dedup_edit_distance", oracle=f"""
WITH {_minhash_cte()}
SELECT doc0, doc1,
       CAST(levenshtein(d0.text, d1.text) AS BIGINT) AS edit_dist,
       ROUND(1.0 - levenshtein(d0.text, d1.text)
             / GREATEST(length(d0.text), length(d1.text)), 6) AS edit_sim
FROM mh_cand
JOIN documents d0 ON CAST(d0.doc_id AS BIGINT) = doc0
JOIN documents d1 ON CAST(d1.doc_id AS BIGINT) = doc1""")
def q_dedup_edit_distance(spark, sf):
    """Character-level near-dup: MinHash-banding candidates rescored
    with EXACT Levenshtein distance (F.levenshtein — JVM-side, no UDF)
    and normalized edit similarity. Token-level candidates + char-level
    exactness is the practical two-stage: all-pairs Levenshtein is
    O(n²·len²) and can never run at corpus scale, but rescoring the
    sub-quadratic candidate set costs ~nothing and catches what shingle
    Jaccard blurs (reorderings score low, small in-place edits score
    high). Oracle: DuckDB's levenshtein() over the same md5-derived
    candidate pairs."""
    docs = load_table(spark, sf, "documents")
    cand = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                n=2, num_hashes=12, bands=4)
    # r13 optimization (guide §2.5/§2.6 — compute-heavy, byte-light
    # stage): the candidate table is a few KB, so AQE coalesces the
    # post-distinct stage to ONE partition and every O(len^2)
    # levenshtein then runs serially in a single task (measured 6.2 s;
    # the candidate build alone is 1.2 s). Pinning the repartition to
    # defaultParallelism (scale-adaptive: follows the core count, not a
    # constant) spreads the rescoring — 6.2 -> 1.8 s at sf0.1. AQE
    # cannot see per-row CPU cost, only bytes, so this is exactly the
    # case where the caller must size the stage.
    cand = cand.repartition(spark.sparkContext.defaultParallelism,
                            "doc0", "doc1")
    t0 = docs.select(F.col("doc_id").cast("long").alias("doc0"),
                     F.col("text").alias("t0"))
    t1 = docs.select(F.col("doc_id").cast("long").alias("doc1"),
                     F.col("text").alias("t1"))
    lev = F.levenshtein("t0", "t1")
    sim = F.lit(1.0) - lev / F.greatest(F.length("t0"), F.length("t1"))
    return (cand.join(t0, "doc0").join(t1, "doc1")
            .select("doc0", "doc1",
                    lev.cast("long").alias("edit_dist"),
                    F.round(sim, 6).alias("edit_sim")))
