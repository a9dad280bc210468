"""The Casf sparse-cosine engine: supplier and document matrices, every
CosineAnalyser / CosineModel path, and the document-similarity
compositions (LSH candidates, CJK bigrams, TF-IDF weights)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.matrix.analyse import CosineAnalyser
from casf_spark.operators import dedup as DD
from casf_spark import sql as CSQL
from casf_spark.sources.tables import load_table, matrix_from_lineitem
from casf_spark.queries._common import STOPWORDS, _SW_SQL, _TOKS, _minhash_cte
from casf_spark.queries._registry import query


_ELEM_SUPPLIER = """
elem AS (
  SELECT CAST(l_suppkey AS VARCHAR) vector, CAST(l_partkey AS VARCHAR) coord,
         CAST(SUM(l_quantity) AS DOUBLE) val
  FROM lineitem GROUP BY 1, 2)
"""


_ELEM_PRIORITY = """
elem AS (
  SELECT o_orderpriority AS vector, CAST(o_custkey AS VARCHAR) coord,
         CAST(SUM(o_totalprice) AS DOUBLE) val
  FROM orders GROUP BY 1, 2)
"""


_ELEM_DOCS_TFIDF = f"""
tok AS (
  SELECT CAST(doc_id AS VARCHAR) doc, unnest({_TOKS}) AS word
  FROM documents WHERE doc_id < 100),
tf AS (SELECT doc, word, CAST(COUNT(*) AS BIGINT) tcnt
       FROM tok GROUP BY 1, 2),
dfreq AS (SELECT word, COUNT(*) dfr FROM tf GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT doc_id) n_docs FROM documents
       WHERE doc_id < 100),
elem AS (
  SELECT tf.doc AS vector, tf.word AS coord,
         tf.tcnt * (ln((nn.n_docs + 1) / (dfreq.dfr + 1)) + 1) AS val
  FROM tf JOIN dfreq USING (word) CROSS JOIN nn)
"""


_ELEM_DOCS = f"""
tok AS (
  SELECT CAST(doc_id AS VARCHAR) doc,
         unnest({_TOKS}) AS word
  FROM documents WHERE doc_id < 100),
elem AS (
  SELECT doc AS vector, word AS coord, CAST(COUNT(*) AS DOUBLE) val
  FROM tok WHERE word NOT IN ({_SW_SQL}) GROUP BY 1, 2)
"""


#: CJK twin of _ELEM_DOCS: translate a-z -> Han (the _CJK26 table is
#: spliced in by the doc_cosine_cjk oracle), then
#: character bigrams per space-delimited run — mirroring cjk_tokens
#: (single-char runs kept whole, runs >= 2 chars slide a 2-window)
_ELEM_DOCS_CJK_TMPL = """
ctext AS (
  SELECT CAST(doc_id AS VARCHAR) doc,
         translate(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
                   'abcdefghijklmnopqrstuvwxyz', '{cjk26}') ct
  FROM documents WHERE doc_id < 100),
runs AS (SELECT doc, unnest(regexp_extract_all(ct, '[^ ]+')) r FROM ctext),
tok AS (
  SELECT doc, unnest(CASE WHEN length(r) >= 2
           THEN [substr(r, i, 2) for i in range(1, length(r))]
           ELSE [r] END) AS word
  FROM runs),
elem AS (SELECT doc AS vector, word AS coord, CAST(COUNT(*) AS DOUBLE) val
         FROM tok GROUP BY 1, 2)
"""


def _norm_sql(normalization: str = "max", omit: float | None = None) -> str:
    if normalization == "none" and omit is None:
        return "norm AS (SELECT vector, coord, val AS nv FROM elem)"
    where = f"WHERE e.val / m.mv > {omit}" if omit is not None else ""
    nv = "e.val / m.mv" if normalization == "max" else "e.val"
    return f"""
mx AS (SELECT vector, MAX(val) mv FROM elem GROUP BY vector),
norm AS (SELECT e.vector, e.coord, {nv} AS nv
         FROM elem e JOIN mx m USING (vector) {where})"""


_PAIRS_SQL = """
pairs AS (
  SELECT a.vector v0, b.vector v1, a.coord, a.nv nv0, b.nv nv1
  FROM norm a JOIN norm b ON a.coord = b.coord AND a.vector > b.vector)"""


def _cosine_sql(elem: str, sparse: bool, normalization: str = "max",
                omit: float | None = None, subset: list[str] | None = None) -> str:
    """Full cosine-pipeline oracle: elem CTE -> normalize -> pair self-join
    -> mods + dot -> similarity. Mirrors CosineAnalyser/CosineModel."""
    sub = ""
    if subset:
        ids = ", ".join(f"'{s}'" for s in subset)
        sub = f"WHERE v0 IN ({ids}) AND v1 IN ({ids})"
    if sparse:
        return f"""
WITH {elem}, {_norm_sql(normalization, omit)}, {_PAIRS_SQL},
agg AS (
  SELECT v0, v1, SQRT(SUM(nv0*nv0)) m0, SQRT(SUM(nv1*nv1)) m1,
         SUM(nv0*nv1) num
  FROM pairs {sub} GROUP BY v0, v1)
SELECT v0 AS vector0, v1 AS vector1,
       ROUND(num / (m0 * m1), 6) AS similarity_value
FROM agg"""
    return f"""
WITH {elem}, {_norm_sql(normalization, omit)}, {_PAIRS_SQL},
vm AS (SELECT vector, SQRT(SUM(nv*nv)) md FROM norm GROUP BY vector),
allp AS (
  SELECT a.vector v0, a.md m0, b.vector v1, b.md m1
  FROM vm a JOIN vm b ON a.vector > b.vector),
num AS (SELECT v0, v1, SUM(nv0*nv1) numer FROM pairs GROUP BY v0, v1),
sims AS (
  SELECT v0, v1, ROUND(COALESCE(numer / (m0 * m1), 0.0), 6) s
  FROM allp LEFT JOIN num USING (v0, v1))
SELECT v0 AS vector0, v1 AS vector1, s AS similarity_value FROM sims {sub}"""


def _round_sim(df: DataFrame) -> DataFrame:
    return df.withColumn("similarity_value", F.round("similarity_value", 6))


def _supplier_model(spark: SparkSession, sf_dir: str, sparse: bool = True,
                    materialize: bool = True, **kw):
    # materialize (localCheckpoint) the normalized table for the SPARSE
    # fused plan by default (r13 optimization, guide §2.4): the pair
    # self-join's broadcast build side cannot reuse the probe side's
    # shuffle, so the lineitem cell pipeline ran twice per query
    # (interleaved A/B at sf0.1: 4.75 -> 3.28 s best-of-5). Dense-mode
    # callers keep the pure plan — a checkpointed RDD's missing size
    # stats flip the dense right-join to sort-merge (measured 6x worse).
    return CosineAnalyser(axis="y", **kw).fit(
        matrix_from_lineitem(spark, sf_dir), is_sparse=sparse,
        persist=False, pre_aggregated=True,
        materialize=materialize and sparse)


def _doc_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return TX.term_counts(docs, "doc_id", "text", stopwords=STOPWORDS)


#: 26 Han characters standing in for a-z when deriving deterministic CJK
#: text from the documents table (same translate() in Spark and DuckDB)
_CJK26 = "的一是在不了有和人这中大为上个国我以要他时来用们生到"


def _doc_cosine_lsh_oracle() -> str:
    """Full-corpus document cosine restricted to MinHash candidates:
    sub-quadratic candidates, exact sparse cosine only for them. Candidate
    pairs are re-canonicalized to *string* ordering to match the engine's
    vector0 > vector1 binary-string comparison."""
    return f"""
WITH {_minhash_cte()},
cand AS (
  SELECT DISTINCT
    CASE WHEN CAST(doc0 AS VARCHAR) > CAST(doc1 AS VARCHAR)
         THEN CAST(doc0 AS VARCHAR) ELSE CAST(doc1 AS VARCHAR) END v0c,
    CASE WHEN CAST(doc0 AS VARCHAR) > CAST(doc1 AS VARCHAR)
         THEN CAST(doc1 AS VARCHAR) ELSE CAST(doc0 AS VARCHAR) END v1c
  FROM mh_cand),
tokc AS (
  SELECT CAST(doc_id AS VARCHAR) doc, unnest({_TOKS}) AS word
  FROM documents),
elem AS (
  SELECT doc AS vector, word AS coord, CAST(COUNT(*) AS DOUBLE) val
  FROM tokc WHERE word NOT IN ({_SW_SQL}) GROUP BY 1, 2),
mx AS (SELECT vector, MAX(val) mv FROM elem GROUP BY vector),
norm AS (SELECT e.vector, e.coord, e.val / m.mv AS nv
         FROM elem e JOIN mx m USING (vector)),
pairs AS (
  SELECT a.vector v0, b.vector v1, a.nv nv0, b.nv nv1
  FROM norm a JOIN norm b ON a.coord = b.coord AND a.vector > b.vector
  JOIN cand c ON c.v0c = a.vector AND c.v1c = b.vector),
agg AS (
  SELECT v0, v1, SQRT(SUM(nv0*nv0)) m0, SQRT(SUM(nv1*nv1)) m1,
         SUM(nv0*nv1) num
  FROM pairs GROUP BY v0, v1)
SELECT v0 AS vector0, v1 AS vector1,
       ROUND(num / (m0 * m1), 6) AS similarity_value
FROM agg"""


@query("cosine_sparse", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True))
def q_cosine_sparse(spark, sf):
    return _round_sim(_supplier_model(spark, sf, sparse=True).all_similarity())


@query("cosine_bucketed", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True))
def q_cosine_bucketed(spark, sf):
    """Sparse supplier cosine from a coord-bucketed managed table — the
    steady-state plan for matrices that are re-analyzed repeatedly (the
    100 TB warehouse case): both sides of the pair self-join arrive
    pre-hash-partitioned on the shared coordinate, so the pipeline's
    dominant exchange disappears (tests/test_bucketed_join pins the
    zero-Exchange plan). The one-time bucketed write happens only when the
    table is missing (name keyed on sf + source mtime, so regenerated
    testdata invalidates it); best-of-N benching measures the read path.
    The table lives in a database under this session's own scratch root
    (SparkFiles, removed when the JVM exits), so two processes started
    from one directory never share or delete each other's files.
    Same result as cosine_sparse — identical oracle."""
    import os as _os
    import re as _re

    from pyspark import SparkFiles

    sf_tag = _re.sub(r"[^0-9A-Za-z]", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    mtime = int(_os.path.getmtime(f"{sf.rstrip('/')}/lineitem.parquet"))
    db = "casf_session"
    if not spark.catalog.databaseExists(db):
        loc = _os.path.join(SparkFiles.getRootDirectory(), "warehouse")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    tbl = f"{db}.supplier_matrix_{sf_tag}_{mtime}"
    if not spark.catalog.tableExists(tbl):
        from casf_spark.sources.text import write_sorted_bucketed_table
        write_sorted_bucketed_table(
            matrix_from_lineitem(spark, sf), tbl, ["x"],
            num_buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
            sort_cols=["x"])
    m = spark.table(tbl)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=True, persist=False, pre_aggregated=True)
    return _round_sim(model.all_similarity())


@query("cosine_dense", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=False))
def q_cosine_dense(spark, sf):
    # persist=True (r13 optimization): dense mode consumes normalized
    # four times (pair-join sides + the mods cross-join sides) and the
    # broadcast build sides cannot reuse the probe's shuffle, so the
    # lineitem cell pipeline ran 4x (8 scans in the captured before-
    # plan). The lazy MEMORY_AND_DISK cache — the same spelling top_k/
    # predict_missing already rely on — keeps Catalyst's size stats (a
    # localCheckpoint here flips the right join to sort-merge, measured
    # 6x worse). Interleaved A/B at sf0.1: 5.29 -> 3.41 s best-of-5.
    m = matrix_from_lineitem(spark, sf)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=False, persist=True, pre_aggregated=True)
    return _round_sim(model.all_similarity())


@query("cosine_subset", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True,
                                     subset=["1", "3", "5", "7"]))
def q_cosine_subset(spark, sf):
    # materialize=False: the membership predicate pushes below the
    # element pipeline in the pure plan, pruning the corpus BEFORE the
    # front half — materializing the full normalized table first undoes
    # that (A/B at sf0.1: 0.98 s pushdown vs 1.19 s checkpoint), and at
    # 100 TB the pushdown is the only sane plan for a 4-vector probe.
    model = _supplier_model(spark, sf, sparse=True, materialize=False)
    return _round_sim(model.similarity(["1", "3", "5", "7"]))


@query("cosine_omit",
       oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True, omit=0.25))
def q_cosine_omit(spark, sf):
    return _round_sim(
        _supplier_model(spark, sf, sparse=True, omit_ratio=0.25).all_similarity())


@query("cosine_norm_none", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True,
                                        normalization="none"))
def q_cosine_norm_none(spark, sf):
    return _round_sim(
        _supplier_model(spark, sf, sparse=True, normalization="none")
        .all_similarity())


@query("cosine_axis_x", oracle=_cosine_sql(_ELEM_PRIORITY, sparse=True))
def q_cosine_axis_x(spark, sf):
    m = (load_table(spark, sf, "orders")
         .select(F.col("o_custkey").cast("string").alias("y"),
                 F.col("o_orderpriority").alias("x"),
                 F.col("o_totalprice").alias("value")))
    # input here is raw orders (duplicates per (custkey, priority)), so the
    # defensive duplicate-summing aggregation must stay on
    model = CosineAnalyser(axis="x").fit(m, is_sparse=True, persist=False,
                                         materialize=True)
    return _round_sim(model.all_similarity())


@query("cosine_topk", oracle=f"""
WITH {_ELEM_SUPPLIER}, {_norm_sql()}, {_PAIRS_SQL},
vm AS (SELECT vector, SQRT(SUM(nv*nv)) md FROM norm GROUP BY vector),
allp AS (
  SELECT a.vector v0, a.md m0, b.vector v1, b.md m1
  FROM vm a JOIN vm b ON a.vector > b.vector),
num AS (SELECT v0, v1, SUM(nv0*nv1) numer FROM pairs GROUP BY v0, v1),
sims AS (
  SELECT v0, v1, ROUND(COALESCE(numer / (m0 * m1), 0.0), 6) s
  FROM allp LEFT JOIN num USING (v0, v1)),
sym AS (
  SELECT v0 AS vector, v1 AS neighbor, s FROM sims
  UNION ALL
  SELECT v1, v0, s FROM sims),
rk AS (
  SELECT vector, neighbor, s,
         row_number() OVER (PARTITION BY vector ORDER BY s DESC, neighbor ASC) rn
  FROM sym)
SELECT vector, neighbor, s AS similarity_value, CAST(rn AS INT) AS rank
FROM rk WHERE rn <= 5""")
def q_cosine_topk(spark, sf):
    # persist: sims feeds both branches of the symmetrizing union, and
    # normalized feeds the pair join + dense mods (see top_k docstring)
    m = matrix_from_lineitem(spark, sf)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=False, persist=True, pre_aggregated=True)
    return model.top_k(5, round_to=6)


@query("cosine_predict", oracle=f"""
WITH {_ELEM_SUPPLIER}, {_norm_sql()}, {_PAIRS_SQL},
vm AS (SELECT vector, SQRT(SUM(nv*nv)) md FROM norm GROUP BY vector),
allp AS (
  SELECT a.vector v0, a.md m0, b.vector v1, b.md m1
  FROM vm a JOIN vm b ON a.vector > b.vector),
num AS (SELECT v0, v1, SUM(nv0*nv1) numer FROM pairs GROUP BY v0, v1),
sims AS (
  SELECT v0, v1, ROUND(COALESCE(numer / (m0 * m1), 0.0), 6) s
  FROM allp LEFT JOIN num USING (v0, v1)),
sym AS (
  SELECT v0 AS vector, v1 AS neighbor, s FROM sims
  UNION ALL SELECT v1, v0, s FROM sims),
nbr AS (
  SELECT vector, neighbor, s FROM (
    SELECT vector, neighbor, s,
           row_number() OVER (PARTITION BY vector ORDER BY s DESC, neighbor ASC) rn
    FROM sym) WHERE rn <= 3 AND s > 0),
contrib AS (
  SELECT n.vector, e.coord, SUM(n.s * e.nv) / SUM(n.s) pv
  FROM nbr n JOIN norm e ON e.vector = n.neighbor GROUP BY 1, 2)
SELECT c.vector, c.coord, ROUND(c.pv, 6) AS predicted_value
FROM contrib c LEFT JOIN norm x ON x.vector = c.vector AND x.coord = c.coord
WHERE x.vector IS NULL""")
def q_cosine_predict(spark, sf):
    # persist: normalized has three consumers here (pair join, contribution
    # join, missing-cell anti-join); sims is cached inside top_k
    m = matrix_from_lineitem(spark, sf)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=False, persist=True, pre_aggregated=True)
    return (model.predict_missing(k=3, round_to=6)
            .withColumn("predicted_value", F.round("predicted_value", 6)))


@query("cosine_via_sql", oracle=_cosine_sql(_ELEM_SUPPLIER, sparse=True))
def q_cosine_via_sql(spark, sf):
    """The sparse cosine pipeline through the SQL-string interface
    (casf_spark.sql) — same semantics as cosine_sparse, compiled by
    Catalyst from SQL text instead of the DataFrame DSL. The reference has
    no SQL surface at all (SURVEY §2.9)."""
    return CSQL.supplier_cosine(spark, sf)


@query("doc_cosine", oracle=_cosine_sql(_ELEM_DOCS, sparse=True))
def q_doc_cosine(spark, sf):
    model = CosineAnalyser(axis="y").fit(
        _doc_matrix(spark, sf), is_sparse=True, persist=False,
        pre_aggregated=True,  # term_counts output is unique per (doc, word)
        materialize=True)  # tokenize front half computed once (r13, §2.4)
    return _round_sim(model.all_similarity())


@query("doc_cosine_tfidf", oracle=_cosine_sql(_ELEM_DOCS_TFIDF, sparse=True,
                                        normalization="none"))
def q_doc_cosine_tfidf(spark, sf):
    """Document cosine over TF-IDF-WEIGHTED term vectors (no stop-word
    list needed — idf down-weights ubiquitous terms instead): the
    relevance suite's weighting composed with the reference's core cosine
    engine. Norm strategy 'none' because the weights already scale."""
    docs = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    tf = TX.term_counts(docs, "doc_id", "text", stopwords=None)
    dfreq = tf.groupBy("x").agg(F.count(F.lit(1)).alias("dfr"))
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    m = (tf.join(dfreq, "x").crossJoin(F.broadcast(n))
         .select("y", "x",
                 (F.col("value")
                  * (F.log((F.col("n_docs") + 1) / (F.col("dfr") + 1)) + 1))
                 .alias("value")))
    model = CosineAnalyser(axis="y", normalization="none").fit(
        m, is_sparse=True, persist=False, pre_aggregated=True,
        materialize=True)  # tf-idf front half computed once (r13, §2.4)
    return _round_sim(model.all_similarity())


@query("doc_cosine_cjk", oracle=_cosine_sql(
            _ELEM_DOCS_CJK_TMPL.format(cjk26=_CJK26), sparse=True))
def q_doc_cosine_cjk(spark, sf):
    """CJK document cosine, end-to-end (reference KeyWordsDemo parity for
    unsegmented scripts): deterministic Chinese-script text derived from
    the documents table via translate(a-z -> Han), tokenized with the
    character-bigram CJK tokenizer (functions/text.py cjk_tokens — all
    Column exprs), then the sparse cosine pipeline. The bigram tokenizer is
    SQL-expressible, so this has a full DuckDB oracle twin; the
    dictionary-FMM segmenter (dict_tokenizer) is pytest-covered."""
    docs = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    ct = F.translate(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""),
        "abcdefghijklmnopqrstuvwxyz", _CJK26)
    m = TX.term_counts(docs.select("doc_id", ct.alias("text")),
                       "doc_id", "text", stopwords=None,
                       tokenizer=TX.cjk_tokens)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=True, persist=False, pre_aggregated=True,
        materialize=True)  # CJK-bigram front half computed once (r13)
    return _round_sim(model.all_similarity())


@query("cosine_threshold",
       oracle=f"SELECT * FROM ({_cosine_sql(_ELEM_DOCS, sparse=False)})\n"
            "WHERE similarity_value >= 0.8")
def q_cosine_threshold(spark, sf):
    """Exact threshold all-pairs via prefix filtering (Bayardo-style APSS)
    over the document term matrix at a high threshold, where the prune
    bites; the oracle just filters the full dense result — same answer, the
    Spark plan only rescores prefix-matched candidates."""
    model = CosineAnalyser(axis="y").fit(
        _doc_matrix(spark, sf), is_sparse=False, persist=False,
        pre_aggregated=True)
    return model.threshold_similarity(0.8, round_to=6)


@query("doc_cosine_lsh", oracle=_doc_cosine_lsh_oracle())
def q_doc_cosine_lsh(spark, sf):
    """Full-corpus document similarity, the corpus-scale composition:
    MinHash-banding candidates (sub-quadratic) -> exact sparse cosine ONLY
    for candidate pairs (CosineModel.similarity_for_pairs semi-join)."""
    docs = load_table(spark, sf, "documents")
    cand = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                n=2, num_hashes=12, bands=4)
    a, b = F.col("doc0").cast("string"), F.col("doc1").cast("string")
    cand_str = cand.select(
        F.when(a > b, a).otherwise(b).alias("vector0"),
        F.when(a > b, b).otherwise(a).alias("vector1"))
    m = TX.term_counts(docs, "doc_id", "text", stopwords=STOPWORDS)
    model = CosineAnalyser(axis="y").fit(m, is_sparse=True, persist=False,
                                         pre_aggregated=True,
                                         materialize=True)  # n0/n1 legs (r13)
    return _round_sim(model.similarity_for_pairs(cand_str))
