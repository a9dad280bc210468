"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (document-pair cosine similarity —
the reference's demo workload, KeyWordsDemo.scala, re-expressed Spark-first)
at sf0.001. ``queries()``/``oracle_sql()`` cover every operator family from
SURVEY.md §2 plus the Phase-D/E extensions (dedup, ANN, text analysis,
multimodal plumbing, streaming-equivalent windows).

Float parity discipline: every float output column is ROUND()ed identically
on both sides (6dp for ratios/cosines/averages, 2dp for money sums), because
Spark and DuckDB sum partitions in different orders.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from casf_spark.functions import html as HT
from casf_spark.functions import text as TX
from casf_spark.functions.hashing import (MIX_PRIME, minhash_band_plan,
                                          minhash_sql_exprs)
from casf_spark.matrix.analyse import CosineAnalyser
from casf_spark.multimodal import binary as MM
from casf_spark.operators import classify as CL
from casf_spark.operators import curation as CU
from casf_spark.operators import dedup as DD
from casf_spark.operators.joins import asof_join, interval_join
from casf_spark.operators.linalg import power_iteration, power_iteration_report
from casf_spark.operators import sampling as SP
from casf_spark.operators import urls as URL
from casf_spark.operators import psl_data as PSL
from casf_spark.operators import skew as SK
from casf_spark.operators.pipeline import curate_documents
from casf_spark.operators import relevance as RV
from casf_spark.operators.profile import profile
from casf_spark.operators import profile as PF
from casf_spark import sql as CSQL
from casf_spark.operators import similarity as SIM
from casf_spark.sources.tables import load_table, matrix_from_lineitem
from casf_spark.streaming import events as EV

STOPWORDS = list(TX.DEFAULT_STOPWORDS)
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB oracle side)
# ---------------------------------------------------------------------------

# tokens list per document (DuckDB twin of functions.text.tokens)
_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

# Bloom / Count-Min sketch shapes shared by the Spark queries and their
# oracle twins (dedup_bloom, cms_term_counts)
BLOOM_M, BLOOM_K = 1 << 16, 4
CMS_W, CMS_D = 512, 4

# content-defined chunks per document (DuckDB twin of
# operators.curation.content_defined_chunks, divisor 16): boundary where
# md5(token) % 16 == 0, final partial chunk always closed at n. Shared by
# the text_cdc_chunks contract, the dedup_chunks rollup, and (instantiated
# twice with distinct CTE names over different sources) cdc_chunk_reuse.


def _cdc_chunks_cte(src: str = "documents", out: str = "cdc_chunks",
                    pfx: str = "", win: int = 1) -> str:
    """The CDC-chunker CTE chain over relation ``src`` (must expose
    doc_id + text), emitting chunks as CTE ``out``; ``pfx`` uniquifies
    the intermediate CTE names so two instantiations can share one
    WITH clause. ``win`` > 1 hashes the k-token window ending at each
    position (curation.content_defined_chunks window=k twin)."""
    if win <= 1:
        bound = "md5(a[i])"
    else:
        bound = (f"md5(array_to_string("
                 f"a[GREATEST(i - {win} + 1, 1):i], ' '))")
    return f"""{pfx}t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM {src}),
{pfx}p AS (SELECT doc_id, a, len(a) n FROM {pfx}t WHERE len(a) > 0),
{pfx}e AS (SELECT doc_id, a, n,
        list_filter(range(1, n + 1),
                    i -> CAST('0x' || substr({bound}, 1, 15) AS BIGINT)
                         % 16 = 0) ends0
      FROM {pfx}p),
{pfx}e2 AS (SELECT doc_id, a,
         CASE WHEN len(ends0) = 0 OR ends0[-1] <> n
              THEN list_append(ends0, n) ELSE ends0 END ends
       FROM {pfx}e),
{pfx}c AS (SELECT doc_id, a, ends, unnest(range(len(ends))) i FROM {pfx}e2),
{out} AS (
  SELECT doc_id, CAST(i AS BIGINT) chunk_id,
         CAST(ends[i + 1] - (CASE WHEN i = 0 THEN 0 ELSE ends[i] END)
              AS BIGINT) n_tokens,
         array_to_string(
           a[(CASE WHEN i = 0 THEN 0 ELSE ends[i] END) + 1 : ends[i + 1]],
           ' ') chunk_text
  FROM {pfx}c)"""


_CDC_CHUNKS_CTE = _cdc_chunks_cte()

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
#: spliced in at oracle_sql() build time, after its definition), then
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


# ---------------------------------------------------------------------------
# Spark-side builders
# ---------------------------------------------------------------------------

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


def q_cosine_sparse(spark, sf):
    return _round_sim(_supplier_model(spark, sf, sparse=True).all_similarity())


def q_cosine_bucketed(spark, sf):
    """Sparse supplier cosine from a coord-bucketed managed table — the
    steady-state plan for matrices that are re-analyzed repeatedly (the
    100 TB warehouse case): both sides of the pair self-join arrive
    pre-hash-partitioned on the shared coordinate, so the pipeline's
    dominant exchange disappears (tests/test_bucketed_join pins the
    zero-Exchange plan). The one-time bucketed write happens only when the
    table is missing (name keyed on sf + source mtime, so regenerated
    testdata invalidates it); best-of-N benching measures the read path.
    Same result as cosine_sparse — identical oracle."""
    import os as _os
    import re as _re

    sf_tag = _re.sub(r"[^0-9A-Za-z]", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    mtime = int(_os.path.getmtime(f"{sf.rstrip('/')}/lineitem.parquet"))
    tbl = f"supplier_matrix_{sf_tag}_{mtime}"
    if not spark.catalog.tableExists(tbl):
        # bucketing metadata lives in the session catalog (in-memory here),
        # but the managed-table files live in spark-warehouse/ on disk: a
        # fresh session can find an orphaned location from a previous
        # process, which saveAsTable refuses. The catalog is authoritative —
        # clear the orphan and rewrite.
        loc = _os.path.join("spark-warehouse", tbl)
        if _os.path.isdir(loc):
            import shutil
            shutil.rmtree(loc)
        from casf_spark.sources.text import write_sorted_bucketed_table
        write_sorted_bucketed_table(
            matrix_from_lineitem(spark, sf), tbl, ["x"],
            num_buckets=int(spark.conf.get("spark.sql.shuffle.partitions")),
            sort_cols=["x"])
    m = spark.table(tbl)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=True, persist=False, pre_aggregated=True)
    return _round_sim(model.all_similarity())


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


def q_cosine_subset(spark, sf):
    # materialize=False: the membership predicate pushes below the
    # element pipeline in the pure plan, pruning the corpus BEFORE the
    # front half — materializing the full normalized table first undoes
    # that (A/B at sf0.1: 0.98 s pushdown vs 1.19 s checkpoint), and at
    # 100 TB the pushdown is the only sane plan for a 4-vector probe.
    model = _supplier_model(spark, sf, sparse=True, materialize=False)
    return _round_sim(model.similarity(["1", "3", "5", "7"]))


def q_cosine_omit(spark, sf):
    return _round_sim(
        _supplier_model(spark, sf, sparse=True, omit_ratio=0.25).all_similarity())


def q_cosine_norm_none(spark, sf):
    return _round_sim(
        _supplier_model(spark, sf, sparse=True, normalization="none")
        .all_similarity())


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


def q_cosine_topk(spark, sf):
    # persist: sims feeds both branches of the symmetrizing union, and
    # normalized feeds the pair join + dense mods (see top_k docstring)
    m = matrix_from_lineitem(spark, sf)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=False, persist=True, pre_aggregated=True)
    return model.top_k(5, round_to=6)


def q_cosine_predict(spark, sf):
    # persist: normalized has three consumers here (pair join, contribution
    # join, missing-cell anti-join); sims is cached inside top_k
    m = matrix_from_lineitem(spark, sf)
    model = CosineAnalyser(axis="y").fit(
        m, is_sparse=False, persist=True, pre_aggregated=True)
    return (model.predict_missing(k=3, round_to=6)
            .withColumn("predicted_value", F.round("predicted_value", 6)))


def q_cosine_via_sql(spark, sf):
    """The sparse cosine pipeline through the SQL-string interface
    (casf_spark.sql) — same semantics as cosine_sparse, compiled by
    Catalyst from SQL text instead of the DataFrame DSL. The reference has
    no SQL surface at all (SURVEY §2.9)."""
    return CSQL.supplier_cosine(spark, sf)


def q_doc_cosine(spark, sf):
    model = CosineAnalyser(axis="y").fit(
        _doc_matrix(spark, sf), is_sparse=True, persist=False,
        pre_aggregated=True,  # term_counts output is unique per (doc, word)
        materialize=True)  # tokenize front half computed once (r13, §2.4)
    return _round_sim(model.all_similarity())


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


#: 26 Han characters standing in for a-z when deriving deterministic CJK
#: text from the documents table (same translate() in Spark and DuckDB)
_CJK26 = "的一是在不了有和人这中大为上个国我以要他时来用们生到"


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


def q_cosine_threshold(spark, sf):
    """Exact threshold all-pairs via prefix filtering (Bayardo-style APSS)
    over the document term matrix at a high threshold, where the prune
    bites; the oracle just filters the full dense result — same answer, the
    Spark plan only rescores prefix-matched candidates."""
    model = CosineAnalyser(axis="y").fit(
        _doc_matrix(spark, sf), is_sparse=False, persist=False,
        pre_aggregated=True)
    return model.threshold_similarity(0.8, round_to=6)


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


def q_q1(spark, sf):
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
             F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
             F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
             F.round(F.avg("l_discount"), 6).alias("avg_disc"),
             F.count(F.lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_q3(spark, sf):
    cust = load_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
    return (
        F.broadcast(cust)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_q5(spark, sf):
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (supp.s_nationkey == cust.c_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


def q_q4_order_priority(spark, sf):
    """TPC-H Q4 shape (adapted: no commitdate in the synthetic schema —
    the EXISTS predicate is 'has a returned lineitem'): per-priority count
    of orders with >= 1 qualifying lineitem, via LEFT SEMI join — the
    semi-join never duplicates or widens order rows."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_returnflag") == "R").select("l_orderkey")
    return (orders.join(li, orders["o_orderkey"] == li["l_orderkey"],
                        "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


def q_q6_forecast_revenue(spark, sf):
    """TPC-H Q6: pure scan-bound filter + aggregate — every predicate
    pushes to the parquet scan, no shuffle beyond the final one-row agg."""
    li = load_table(spark, sf, "lineitem")
    return (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                     2).alias("revenue")))


def q_q18_large_orders(spark, sf):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over a per-order aggregate), joined back to customer — the
    aggregate side shrinks to the qualifying orders before the join."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 6).alias("total_qty"))
           .where(F.col("total_qty") > 250))
    return (orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .select("c_custkey", "c_name", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    "total_qty"))


def q_q10_returned_items(spark, sf):
    """TPC-H Q10 shape: revenue lost to returns per customer over a year,
    with customer/nation context — a 4-table join where the selective
    lineitem filter drives join order and the dimensions broadcast."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
            .groupBy("c_custkey", "c_name", "n_name")
            # decimal, not double: a revenue sum landing exactly on a .xx5
            # half-way point rounds differently per float summation order;
            # decimal arithmetic is exact so both engines agree bit-for-bit
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                               * (F.lit(1).cast("decimal(18,2)")
                                  - F.col("l_discount").cast("decimal(18,2)"))),
                         2).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def q_q12_shipmode_priority(spark, sf):
    """TPC-H Q12 shape (adapted: no shipmode column — bucketed by ship
    quarter instead): per-bucket counts of high- vs low-priority orders as
    conditional aggregates (sum of CASE), one shuffle."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .withColumn("ship_quarter", F.date_format("l_shipdate", "yyyy-QQ"))
            .where(F.col("l_shipdate") >= F.lit("1996-01-01"))
            .groupBy("ship_quarter")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


def _rev_dec():
    """Exact-decimal revenue term: float sums land on .xx5 half-points in
    different orders per engine; decimal arithmetic agrees bit-for-bit."""
    return (F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)")
               - F.col("l_discount").cast("decimal(18,2)")))


def q_q7_volume_shipping(spark, sf):
    """TPC-H Q7 shape: shipping volume between two nations by year — a
    5-table join with a disjunctive nation-pair predicate and a derived
    year column. Both dimension chains (supplier->nation, customer->nation)
    broadcast; the fact tables join on their keys."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(n1), supp["s_nationkey"] == F.col("s_nk"))
            .join(F.broadcast(n2), cust["c_nationkey"] == F.col("c_nk"))
            .where(pair)
            .withColumn("l_year", F.year("l_shipdate"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum(_rev_dec()), 2).cast("double").alias("revenue")))


def q_q8_market_share(spark, sf):
    """TPC-H Q8 shape: one nation's share of revenue within a region per
    year — a conditional-aggregate ratio (sum of CASE over sum), the
    canonical 'slice inside the aggregate, not with a filter' pattern."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    nat_c = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    nat_s = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    vol = _rev_dec()
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nat_c), cust["c_nationkey"] == F.col("c_nk"))
            .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(F.broadcast(nat_s), supp["s_nationkey"] == F.col("s_nk"))
            .withColumn("o_year", F.year("o_orderdate"))
            .groupBy("o_year")
            .agg(F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                      .otherwise(F.lit(0).cast("decimal(18,2)")))
                / F.sum(vol), 6).cast("double").alias("mkt_share")))


def q_q9_product_profit(spark, sf):
    """TPC-H Q9 shape: profit by supplier nation and year over a part-name
    pattern. Adapted: this schema has no partsupp, so supply cost is
    modeled as 10% of p_retailprice per unit — the plan shape (LIKE filter
    -> 4-way join -> derived profit -> two-level group) is what matters."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    nation = load_table(spark, sf, "nation")
    profit = (_rev_dec()
              - (F.col("p_retailprice").cast("decimal(18,2)")
                 * F.lit(0.1).cast("decimal(18,2)")
                 * F.col("l_quantity").cast("decimal(18,2)")))
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .join(supp, li["l_suppkey"] == supp["s_suppkey"])
            .join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(F.broadcast(nation),
                  supp["s_nationkey"] == nation["n_nationkey"])
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").alias("o_year"),
                    profit.alias("amount"))
            .groupBy("nation", "o_year")
            .agg(F.round(F.sum("amount"), 2).cast("double")
                 .alias("sum_profit")))


def q_q13_customer_distribution(spark, sf):
    """TPC-H Q13 shape: distribution of order counts per customer — LEFT
    OUTER join (customers with zero orders must survive) followed by two
    stacked aggregations."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderpriority") != "5-LOW")
    per_cust = (cust.join(orders, cust["c_custkey"] == orders["o_custkey"],
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


def q_q14_promo_revenue(spark, sf):
    """TPC-H Q14 shape: promo revenue share for one month — conditional
    aggregate ratio over a broadcast part join, single-row output."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    part = load_table(spark, sf, "part")
    vol = _rev_dec()
    return (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .agg(F.round(
                F.lit(100).cast("decimal(18,2)")
                * F.sum(F.when(F.col("p_type") == "PROMO", vol)
                        .otherwise(F.lit(0).cast("decimal(18,2)")))
                / F.sum(vol), 6).cast("double").alias("promo_revenue")))


def q_q15_top_supplier(spark, sf):
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    an aggregated 'view' joined against its own scalar MAX. Revenue is
    rounded to exact cents before the max-equality so the tie comparison
    is engine-stable."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    supp = load_table(spark, sf, "supplier")
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(_rev_dec()), 2).alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.join(F.broadcast(top),
                     rev["total_revenue"] == top["max_revenue"])
            .join(supp, rev["l_suppkey"] == supp["s_suppkey"])
            .select("s_suppkey", "s_name",
                    F.col("total_revenue").cast("double")
                    .alias("total_revenue")))


def q_q17_small_quantity(spark, sf):
    """TPC-H Q17 shape: revenue impact of small-quantity orders for one
    brand — correlated per-part average (here a join against the per-part
    AVG, which Catalyst also produces when de-correlating the subquery).
    Quantities are integer-valued doubles, so the AVG is exact in any
    summation order and the 0.2*avg comparison is engine-stable.

    The correlated AVG is a window over the same brand-filtered join, not a
    grouped self-join: ONE lineitem scan and ONE l_partkey shuffle total,
    where the de-correlated join form scans the fact table twice (the two
    subtrees prune to different columns, so exchange reuse cannot merge
    them). At 100 TB the saved scan is the whole game."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#11")
    li_b = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("l_partkey")
    return (li_b.withColumn("avg_qty", F.avg("l_quantity").over(w))
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(18,2)")) / 7, 2)
                 .cast("double").alias("avg_yearly")))


def q_q19_disjunctive_revenue(spark, sf):
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    predicate branches — the canonical disjunctive-pushdown test (the
    whole predicate must reach the join, not turn into a post-filter)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    b1 = ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
          & (F.col("l_quantity").between(1, 11)))
    b2 = ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
          & (F.col("l_quantity").between(10, 20)))
    b3 = ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
          & (F.col("l_quantity").between(20, 30)))
    return (j.where(b1 | b2 | b3)
            .agg(F.round(F.sum(_rev_dec()), 2).cast("double")
                 .alias("revenue")))


def q_q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape: suppliers who were the sole 'R'-flagged supplier
    in multi-supplier orders — EXISTS (another supplier on the order) plus
    NOT EXISTS (another supplier also flagged), both as join-condition
    semi/anti joins on the same fact table. Adapted: returnflag stands in
    for the missing receipt/commit delay columns."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier").where(
        F.col("s_nationkey").isin(0, 1, 2, 3, 4))
    l1 = (li.where(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("o_k"),
                  F.col("l_suppkey").alias("s_k")))
    l2 = li.select(F.col("l_orderkey").alias("o_k2"),
                   F.col("l_suppkey").alias("s_k2"))
    l3 = (li.where(F.col("l_returnflag") == "R")
          .select(F.col("l_orderkey").alias("o_k3"),
                  F.col("l_suppkey").alias("s_k3")))
    waiting = (l1
               .join(l2, (F.col("o_k") == F.col("o_k2"))
                     & (F.col("s_k") != F.col("s_k2")), "left_semi")
               .join(l3, (F.col("o_k") == F.col("o_k3"))
                     & (F.col("s_k") != F.col("s_k3")), "left_anti"))
    return (waiting.join(supp, F.col("s_k") == supp["s_suppkey"])
            .groupBy("s_suppkey", "s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


def q_q22_idle_customers(spark, sf):
    """TPC-H Q22 shape: high-balance customers with no RECENT orders, per
    nation — scalar AVG subquery as the balance threshold (rounded to
    cents so the filter boundary is engine-exact) plus an anti-join on the
    filtered orders. (Adapted to 'lapsed since 2000-06-01': this synthetic
    data has no order-less customers at all.)"""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01"))
    in_scope = cust.where(F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6))
    thresh = (in_scope.where(F.col("c_acctbal") > 0.0)
              .agg(F.round(F.avg("c_acctbal"), 2).alias("avg_bal")))
    return (in_scope.crossJoin(F.broadcast(thresh))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .join(orders, in_scope["c_custkey"] == orders["o_custkey"],
                  "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
                 .cast("double").alias("totacctbal")))


def q_q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: for each part of one size, the supplier(s) with the
    minimum account balance among suppliers who actually shipped it — a
    correlated MIN de-correlated into a per-part aggregate joined back on
    equality. Adapted: the supplier/part association comes from lineitem
    (no partsupp table), and s_acctbal stands in for ps_supplycost."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_size") == 5)
    supp = load_table(spark, sf, "supplier")
    assoc = (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
             .select("l_partkey", "l_suppkey").distinct()
             .join(supp, F.col("l_suppkey") == supp["s_suppkey"]))
    min_bal = (assoc.groupBy(F.col("l_partkey").alias("m_partkey"))
               .agg(F.min("s_acctbal").alias("min_bal")))
    return (assoc.join(min_bal,
                       (assoc["l_partkey"] == F.col("m_partkey"))
                       & (assoc["s_acctbal"] == F.col("min_bal")))
            .join(F.broadcast(part.select("p_partkey", "p_name")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select(F.col("l_partkey").alias("partkey"), "p_name", "s_name",
                    F.round("s_acctbal", 2).alias("s_acctbal")))


def q_q11_important_parts(spark, sf):
    """TPC-H Q11 shape: parts whose held value exceeds a fraction of the
    global total — GROUP BY + HAVING against a scalar subquery over the
    same aggregate. Adapted: value = sum(quantity * retailprice) over
    lineitems of suppliers in two nations (no partsupp availqty)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    supp = load_table(spark, sf, "supplier").where(
        F.col("s_nationkey").isin(0, 1))
    val = (F.col("l_quantity").cast("decimal(18,2)")
           * F.col("p_retailprice").cast("decimal(18,2)"))
    base = (li.join(supp, li["l_suppkey"] == supp["s_suppkey"], "left_semi")
            .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .select("l_partkey", val.alias("val")))
    per_part = (base.groupBy("l_partkey")
                .agg(F.sum("val").alias("part_value")))
    total = base.agg((F.sum("val")
                      * F.lit(0.001).cast("decimal(18,6)")).alias("cutoff"))
    return (per_part.crossJoin(F.broadcast(total))
            .where(F.col("part_value") > F.col("cutoff"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.round("part_value", 2).cast("double")
                    .alias("part_value")))


def q_q20_excess_suppliers(spark, sf):
    """TPC-H Q20 shape: suppliers holding an outsized share of a part's
    flow — nested correlated aggregates (per-(part,supplier) quantity vs
    the part's total), de-correlated into two stacked aggregations joined
    back. Adapted: shipped-quantity share replaces the missing partsupp
    availqty ('excess' = > 2x the part's fair per-supplier share).
    Quantity sums are integer-valued doubles, so the share boundary is
    exact in both engines."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf, "supplier")
    pq = (li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum("l_quantity").alias("sq")))
    pt = (pq.groupBy(F.col("l_partkey").alias("t_partkey"))
          .agg(F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")))
    return (pq.join(pt, pq["l_partkey"] == F.col("t_partkey"))
            .where((F.col("ns") >= 3)
                   & (F.col("sq") > F.lit(2.0) * F.col("tq") / F.col("ns")))
            .join(supp, pq["l_suppkey"] == supp["s_suppkey"])
            .select(F.col("l_partkey").alias("partkey"), "s_suppkey",
                    "s_name", F.round("sq", 2).alias("supplier_qty"),
                    F.round("tq", 2).alias("part_total_qty")))


def q_q16_supplier_count(spark, sf):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    excluding one brand and a supplier blacklist — COUNT(DISTINCT) after
    an anti-join (the NOT IN subquery de-correlated). Association via
    lineitem (no partsupp)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    bad_supp = load_table(spark, sf, "supplier").where(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (li.select("l_partkey", "l_suppkey").distinct()
            .join(bad_supp, li["l_suppkey"] == bad_supp["s_suppkey"],
                  "left_anti")
            .join(F.broadcast(part), F.col("l_partkey") == part["p_partkey"])
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q_window_top_orders(spark, sf):
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"), "rn"))


def q_window_first_last(spark, sf):
    """first_value / nth_value / last_value over full-partition row
    frames (SURVEY §2.9 window breadth): per customer, the first order
    date, the SECOND order's priority (NULL for single-order customers —
    the nth_value semantics), and the newest order's price, all from ONE
    window pass ordered by (o_orderdate, o_orderkey) — a total order, so
    both engines agree exactly. One row per customer via row_number=1."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (orders
            .withColumn("rn", F.row_number().over(w))
            .withColumn("first_date",
                        F.date_format(F.first("o_orderdate").over(wfull),
                                      "yyyy-MM-dd"))
            .withColumn("second_priority",
                        F.nth_value("o_orderpriority", 2).over(wfull))
            .withColumn("last_price",
                        F.round(F.last("o_totalprice").over(wfull), 2))
            .where(F.col("rn") == 1)
            .select("o_custkey", "first_date", "second_priority",
                    "last_price"))


def q_events_running_distinct(spark, sf):
    """Windowed DISTINCT count — running number of distinct event types
    each user has ever used, per active day. Spark has no
    count_distinct-over-window; the scale-correct pattern is
    first-occurrence flags: min(first day) per (user, type) — one
    aggregation — then a cumulative SUM window over per-day new-type
    counts. State per user is a counter, not a set (collect_set-over-
    window would carry the whole set through every frame at 100 TB)."""
    ev = load_table(spark, sf, "events")
    days = (ev.select("user_id", F.to_date("ts").alias("day"))
            .distinct())
    firsts = (ev.groupBy("user_id", "event_type")
              .agg(F.min(F.to_date("ts")).alias("day")))
    per_day = (firsts.groupBy("user_id", "day")
               .agg(F.count(F.lit(1)).alias("n_new")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (days.join(per_day, ["user_id", "day"], "left")
            .withColumn("distinct_types_so_far",
                        F.sum(F.coalesce("n_new", F.lit(0))).over(w))
            .select("user_id",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    F.col("distinct_types_so_far").cast("long")
                    .alias("distinct_types_so_far")))


def q_events_hourly(spark, sf):
    ev = load_table(spark, sf, "events")
    return (EV.tumbling_counts(ev, "1 hour")
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def q_events_sliding(spark, sf):
    ev = load_table(spark, sf, "events")
    return (EV.sliding_counts(ev, "1 hour", "30 minutes")
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events"))


def q_events_sessions(spark, sf):
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


def q_events_json(spark, sf):
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.sum(F.get_json_object("props", "$.k").cast("long"))
                 .alias("sum_k"),
                 F.count(F.lit(1)).alias("n")))


def q_events_interval(spark, sf):
    """Range/interval join: error events matched into the +/-60s-expanded
    session windows of the same user (operators.joins.interval_join —
    bucketized equi-join, no inequality-join cartesian). Expansion makes
    boundary events match adjacent sessions, so the join is a real
    containment test, not a partition lookup."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0)
    sessions = (
        ev.withColumn("new_s", new_s)
        .withColumn("sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(F.col("user_id").alias("s_user"), "sid")
        .agg((F.unix_timestamp(F.min("ts")) - 60).alias("s_begin"),
             (F.unix_timestamp(F.max("ts")) + 60).alias("s_close")))
    sessions = sessions.select(
        "s_user", "sid",
        F.timestamp_seconds("s_begin").alias("s_begin"),
        F.timestamp_seconds("s_close").alias("s_close"))
    errors = (ev.where(F.col("event_type") == "error")
              .select("event_id", F.col("user_id").alias("s_user"), "ts"))
    out = interval_join(errors, sessions, ["s_user"], "ts",
                        "s_begin", "s_close", bucket_seconds=1800)
    return out.select(
        "event_id", F.col("s_user").alias("user_id"), "sid",
        F.unix_timestamp("s_begin").alias("s_begin_epoch"))


def q_events_asof(spark, sf):
    """Purchase attribution via as-of join: each purchase event matched to
    the same user's most recent click at-or-before it (operators.joins.
    asof_join — one shuffle on user_id, no inequality-join explosion).
    Output keeps only attributed purchases; gap rounded to whole seconds."""
    ev = load_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("val"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    out = asof_join(purchases, clicks, ["user_id"], "ts", "ts", "backward")
    return (out.where(F.col("r_click_id").isNotNull())
            .select("event_id", "user_id", "val",
                    F.col("r_click_id").alias("click_id"),
                    F.floor(F.unix_timestamp("ts")
                            - F.unix_timestamp("r_ts")).alias("gap_sec")))


def q_events_distinct_users(spark, sf):
    """Exact per-type distinct-user counts via the two-phase salted plan
    (operators.skew.salted_count_distinct) — identical results to plain
    COUNT(DISTINCT), but the final per-key exchange carries n_salt partial
    rows instead of every (key, user) occurrence, so a hot event type
    cannot pin one reducer."""
    ev = load_table(spark, sf, "events")
    return SK.salted_count_distinct(ev, ["event_type"], "user_id",
                                    n_salt=16, out_col="n_users")


def q_events_profile(spark, sf):
    """ANALYZE-style column profile of the events table in one aggregation
    pass (operators.profile) — null counts, exact cardinalities, ranges.
    Restricted to integer/string columns so min/max string rendering is
    engine-identical."""
    return profile(load_table(spark, sf, "events"),
                   ["event_id", "user_id", "event_type"])


def q_events_rollup(spark, sf):
    """Rollup aggregation: counts by (event_type, day) with subtotals —
    grouping-set coverage (absent from the reference, SURVEY §2.9)."""
    ev = load_table(spark, sf, "events")
    return (ev.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
            .rollup("event_type", "event_day")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("event_day", F.lit("ALL")).alias("event_day"),
                    "n_events", "sum_value"))


def q_customers_no_orders(spark, sf):
    """Left-anti join: customers with no order in 1995-H1."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp")))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


def q_users_click_not_purchase(spark, sf):
    """Set ops: users who clicked on 2024-01-01 but made no purchase that
    day (EXCEPT semantics)."""
    ev = load_table(spark, sf, "events").where(
        F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys).select("user_id")


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_zscore(spark, sf):
    """Unbounded window aggregate: per-type z-score of each event's value
    (window mean/stddev without collapsing rows)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type")
    mu, sd = F.avg("value").over(w), F.stddev_samp("value").over(w)
    return ev.select(
        "event_id", "event_type",
        F.round((F.col("value") - mu) / sd, 6).alias("zscore"))


def q_events_moving_avg(spark, sf):
    """Time-RANGE window frame: per-user trailing 1-hour average of
    `value` for every event (feature-engineering shape). Partitioned by
    user_id — high-cardinality on purpose: a per-TYPE version would put
    each type's whole history in one task; per-entity keys keep frames
    tiny and tasks balanced at any scale."""
    ev = load_table(spark, sf, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_timestamp("ts"))
         .rangeBetween(-3600, 0))
    return ev.select(
        "event_id", "user_id",
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"))


def q_users_view_and_purchase(spark, sf):
    """INTERSECT set op: users who both viewed and purchased — completes
    the set-operation family next to exceptAll
    (users_click_not_purchase)."""
    ev = load_table(spark, sf, "events")
    viewers = ev.where(F.col("event_type") == "view").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return viewers.intersect(buyers)


def q_orders_quartiles(spark, sf):
    """NTILE window: per-quartile totalprice stats over orders (quartile
    assignment needs a total order — the global sort is the point of the
    query; the rollup after it is cheap)."""
    o = load_table(spark, sf, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    return (o.select(F.ntile(4).over(w).alias("quartile"), "o_totalprice")
            .groupBy("quartile")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 # exact decimal sum, then an explicit double on the wire:
                 # Spark SUM(decimal(18,2)) widens to decimal(28,2), DuckDB
                 # to decimal(38,2) — emitting the decimal leaks engine
                 # precision metadata into the output schema (r4 driver
                 # hash-fail); both engines cast the identical decimal to
                 # the identical IEEE double.
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                         2).cast("double").alias("total"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


def q_events_corr(spark, sf):
    """Statistical aggregates: per-type Pearson correlation and sample
    covariance of (value, hour-of-day) in one pass."""
    ev = load_table(spark, sf, "events")
    h = F.hour("ts").cast("double")
    return (ev.groupBy("event_type")
            .agg(F.round(F.corr(F.col("value"), h), 6).alias("corr_val_hour"),
                 F.round(F.covar_samp(F.col("value"), h), 6)
                 .alias("covar_val_hour"),
                 F.count(F.lit(1)).cast("long").alias("n")))


def q_events_value_hist(spark, sf):
    """Fixed-width histogram of `value` per event type: bucket = floor
    (value / 2) — one aggregation, no windowing."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type",
                       F.floor(F.col("value") / 2).cast("long")
                       .alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def q_events_funnel(spark, sf):
    """Ordered conversion funnel per user (view -> click -> purchase by
    FIRST occurrence of each step): one conditional-MIN aggregation per
    user, then stage flags summed — no self-joins, no event-sequence
    explosion."""
    ev = load_table(spark, sf, "events")
    firsts = (ev.groupBy("user_id")
              .agg(*[F.min(F.when(F.col("event_type") == t, F.col("ts")))
                     .alias(f"t_{t}") for t in ("view", "click", "purchase")]))
    return firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_view"),
        F.sum(F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0))
        .cast("long").alias("n_view_click"),
        F.sum(F.when((F.col("t_view") < F.col("t_click"))
                     & (F.col("t_click") < F.col("t_purchase")), 1)
              .otherwise(0)).cast("long").alias("n_view_click_purchase"))


def q_events_retention(spark, sf):
    """Cohort retention: users grouped by first-activity date; for each
    (cohort_day, day_offset) the count of distinct users active that many
    days later. Two aggregations + a user-keyed join — the classic
    retention matrix without any per-day self-join fan-out."""
    ev = load_table(spark, sf, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (days.join(cohort, "user_id")
            .groupBy("cohort_day",
                     F.datediff("day", "cohort_day").alias("day_offset"))
            .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
            .where(F.col("day_offset") <= 7))


def q_events_cube(spark, sf):
    """CUBE over (event_type, weekday): all four grouping sets in one
    pass, with grouping_id distinguishing subtotal levels — completes the
    grouping-sets family next to events_rollup."""
    ev = load_table(spark, sf, "events")
    return (ev.withColumn("weekday", F.date_format("ts", "E"))
            .cube("event_type", "weekday")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
                    "n_events", "gid"))


def q_events_pivot(spark, sf):
    """Pivot: daily event counts, one column per event type."""
    ev = load_table(spark, sf, "events")
    piv = (ev.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
           .groupBy("event_day")
           .pivot("event_type", _EVENT_TYPES)
           .count())
    return piv.select(
        "event_day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES])


def q_events_percentiles(spark, sf):
    """Exact interpolated percentiles of event value per type."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
                 F.count(F.lit(1)).alias("n")))


def q_text_term_counts(spark, sf):
    docs = load_table(spark, sf, "documents")
    return TX.term_counts(docs, "doc_id", "text", stopwords=STOPWORDS)


def q_text_quality(spark, sf):
    return TX.quality_features(load_table(spark, sf, "documents"),
                               "doc_id", "text")


def q_text_lang_id(spark, sf):
    return TX.lang_id(load_table(spark, sf, "documents"), "doc_id", "text")


def q_text_fingerprint(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TX.fingerprint("text").alias("fingerprint"),
        TX.token_count("text").cast("long").alias("n_tokens"))


def q_text_token_stats(spark, sf):
    return TX.token_stats(load_table(spark, sf, "documents"), "doc_id", "text")


def q_dedup_winnow(spark, sf):
    """Local-overlap near-dups: pairs sharing >= 2 winnowing fingerprints
    (guaranteed to catch any shared token run of >= k+w-1 = 8 tokens)."""
    return DD.winnow_overlap_pairs(load_table(spark, sf, "documents"),
                                   "doc_id", "text", k=5, w=4, min_shared=2)


def q_text_winnow(spark, sf):
    """Winnowing fingerprints (rolling k-gram hash + window min) over the
    full documents table — the local-overlap detector; see
    functions.text.winnow_fingerprints."""
    return TX.winnow_fingerprints(load_table(spark, sf, "documents"),
                                  "doc_id", "text", k=5, w=4)


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


def q_text_split(spark, sf):
    """Deterministic train/val/test assignment by doc_id hash — stable
    under re-runs, corpus growth, and engine (md5-derived fraction)."""
    docs = load_table(spark, sf, "documents")
    return SP.assign_splits(
        docs.select("doc_id"), F.col("doc_id").cast("string"))


def q_text_line_dedup(spark, sf):
    """C4-style cross-document duplicate-line removal at corpus scale:
    documents re-chunked into 10-token pseudo-lines (the corpus is
    single-line), each distinct line kept only at its first (doc, pos)
    occurrence, documents rebuilt from surviving lines."""
    docs = load_table(spark, sf, "documents")
    tok_df = docs.select(F.col("doc_id").cast("long").alias("doc"),
                         TX.tokens("text").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    chunk_arr = F.when(
        F.size("toks") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * 10 + 1, 10), " ")),
    ).otherwise(F.array().cast("array<string>"))
    lines = tok_df.select(
        "doc", F.posexplode(chunk_arr).alias("pos", "line"))
    kept = DD.line_dedup_keep(lines)
    rebuilt = (kept.groupBy("doc")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "line"))),
                       lambda s: s["line"]),
                   "\n").alias("text")))
    ids = tok_df.select("doc")
    return (ids.join(rebuilt, "doc", "left")
            .select("doc", F.coalesce("text", F.lit("")).alias("text")))


def q_pipeline_curate(spark, sf):
    """The composed curation pipeline: quality + language filters, exact
    dedup among survivors, deterministic split labels — one scan, one
    shuffle (operators.pipeline.curate_documents)."""
    return curate_documents(load_table(spark, sf, "documents"))


def q_text_repetition(spark, sf):
    """Gopher-style repetition signals: per-doc duplicated-{2,3}-gram and
    top-gram occurrence fractions (operators.curation.repetition_features)."""
    return CU.repetition_features(load_table(spark, sf, "documents"),
                                  "doc_id", "text", ns=(2, 3))


def _pii_augmented(docs):
    """PII fixture: the synthetic corpus carries no contact strings, so
    the query plants deterministic ones derived from doc_id — with the
    identical expression in the oracle twin — and the scrubber must find
    and redact exactly those (and nothing from the original body)."""
    did = F.col("doc_id").cast("long")
    return docs.select(
        did.alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com ip 10.0."), (did % 256).cast("string"),
            F.lit("."), (did % 100).cast("string"),
            F.lit(" call +49 171 "), (F.lit(1000000) + did).cast("string"),
        ).alias("text"))


def q_pii_redact(spark, sf):
    """PII audit: span counts + scrubbed text in one projection
    (operators.curation.pii_scrub_report) over the planted-PII corpus."""
    docs = load_table(spark, sf, "documents")
    return CU.pii_scrub_report(_pii_augmented(docs), "doc_id", "text")


def q_decontaminate(spark, sf):
    """Benchmark decontamination: flag non-src0 docs sharing word 4-grams
    with the src0 'benchmark' slice (GPT-3 appendix-C rule; n=4 because
    the synthetic docs are 10-99 tokens — production uses 13)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("source") == "src0")
    rest = docs.where(F.col("source") != "src0")
    return CU.contamination_flags(rest, bench, "doc_id", "text", n=4)


def q_doc_quality_composite_quantile(spark, sf):
    """Third contract point of the per-group quantile-cut family (the
    NEXT.md backlog order): a COMPOSITE gopher score (alpha_word_frac −
    symbol_word_ratio, both already 6dp metrics — rounded once more as
    the composite) cut at the per-SOURCE 10th percentile via
    operators.curation.group_quantile_flag. Pins the family at a new
    (grouping, metric, q) coordinate: doc_len_lang_quantile = (lang,
    tokens, .25), doc_quality_source_quantile = (source, alpha, .25),
    this = (source, composite, .10). Same shape: map-only metric, one
    source-grain percentile agg broadcast back, rounded-threshold
    compare."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text").select(
        "doc_id",
        F.round(F.col("alpha_word_frac") - F.col("symbol_word_ratio"), 6)
        .alias("composite"))
    d = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "source")
         .join(g, "doc_id"))
    return CU.group_quantile_flag(d, "source", "composite", q=0.1,
                                  flag_col="below_p10")


def q_lm_heldout_jm(spark, sf):
    """Held-out Jelinek–Mercer perplexity scoring (operators.relevance
    .heldout_interpolated_logprob, lam = 0.75): the bigram/unigram LM
    learned on the 4/5 train split scores the held fifth — genuine
    unseen bigrams fall back to the unigram leg (the entire point of
    interpolation; the self-scoring bigram_logprob never sees one).
    Per-token -ln(p) folds to integer nano-units before the per-doc
    sum. Unigram leg is vocabulary-grain/broadcastable; the bigram
    joins carry the usual (prev, w) Zipf caveat."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return (RV.heldout_interpolated_logprob(train, held, "doc_id",
                                            "text", lam=0.75)
            .orderBy("doc"))


def q_doc_quality_qnorm(spark, sf):
    """Per-source quantile normalization of a quality score
    (operators.curation.quantile_normalize — the cross-crawl score
    harmonization CCNet-style pipelines apply before ranking documents
    from different sources on one scale): each doc's alpha-word
    fraction maps to the GLOBAL distribution's value at its
    within-source decile midpoint, so 'top decile of src3' and 'top
    decile of src17' carry the same calibrated number. Deterministic:
    NTILE over the (score, doc) total order; the 10 global midpoint
    percentiles are 6dp-rounded in one 1-row agg. One group-key
    shuffle + a broadcast — never a global sort."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text").select(
        F.col("doc_id").alias("doc_id"), "alpha_word_frac")
    d = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "source")
         .join(g, "doc_id"))
    return (CU.quantile_normalize(d, "source", "doc_id",
                                  "alpha_word_frac", k=10)
            .select("doc_id", "source", "alpha_word_frac", "tile",
                    "score_norm")
            .orderBy("doc_id"))


def q_source_keyness(spark, sf):
    """Per-source keyword extraction by Dunning log-likelihood keyness
    (operators.relevance.keyness_terms, Dunning 1993): the 10 terms
    most over-represented in each source vs the rest of the corpus —
    the 'what makes this slice different' mixture-audit report that
    heavy-hitters (raw frequency) cannot answer. Each G² is a
    closed-form double expression over four exact integers (no float
    accumulation anywhere), 6dp-rounded before the per-group rank
    window. One vocabulary-grain count agg; totals derive from it."""
    docs = load_table(spark, sf, "documents")
    return RV.keyness_terms(docs, "source", "doc_id", "text",
                            top_k=10).orderBy("grp", "rank")


def q_quality_bootstrap(spark, sf):
    """Poisson bootstrap of the corpus mean token count
    (operators.profile.bootstrap_means, Chamandy et al. 2012 — the
    single-pass streaming bootstrap): 24 replicates, each row
    contributing Poisson(1) copies drawn by inverting an INTEGER
    threshold table against the 60-bit md5 of ``doc:b:seed`` — the
    error bar a pipeline owner puts on a mean-quality shift before
    acting on it. The whole replicate distribution is the contract
    (24 rows: b, n_eff, mean), not just the CI endpoints. Map-side
    bounded explode (x24), ONE 24-key aggregation; weighted sums are
    order-independent BIGINT micro-units."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(F.col("doc_id").cast("string").alias("k"),
                    TX.token_count("text").cast("double").alias("v"))
    return PF.bootstrap_means(t, "k", "v", n_boot=24, seed=13) \
        .orderBy("b")


def q_decontaminate_bloom(spark, sf):
    """Bloom-gated decontamination (operators.curation
    .contamination_flags_bloom, the Dolma-BFF plan shape): the SAME
    GPT-3 appendix-C output as q_decontaminate — the oracle IS the
    exact rule's SQL, proving the fixed-size Bloom gate + exact rescue
    changes the plan, never the answer. Corpus grams are pre-filtered
    map-only through a 2^18-bit bitmap of the src0 benchmark grams, so
    the join input is contamination-sized (true hits + the fp
    residue), not corpus-sized; an undersized filter degrades only the
    gating rate, never correctness."""
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("source") == "src0")
    rest = docs.where(F.col("source") != "src0")
    return CU.contamination_flags_bloom(rest, bench, "doc_id", "text",
                                        n=4, m_bits=1 << 18, k=5)


def q_pack_bins(spark, sf):
    """Token-budget sequence packing via the two-level distributed prefix
    sum (operators.curation.pack_sequences — no global single-task
    window): docs in id order, 512-token bins."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    TX.token_count("text").cast("long").alias("n_tokens"))
    return CU.pack_sequences(t, "doc_id", "n_tokens", budget=512, chunk=64)


def q_sample_stratified(spark, sf):
    """Per-language deterministic hash-rate sampling (domain rebalancing):
    en halved, de kept, fr quartered, others dropped."""
    docs = load_table(spark, sf, "documents")
    return (CU.stratified_sample(docs, F.col("doc_id").cast("string"),
                                 "lang", {"en": 0.5, "de": 1.0, "fr": 0.25})
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "lang", "source"))


def q_pack_greedy(spark, sf):
    """True first-fit sequence packing (no bin overflow), oracle-checkable
    contract form: the greedy scan is sequential per id-chunk
    (applyInPandas) and its bin ids are not SQL-expressible, but its
    guarantees are — every doc packed exactly once (n_packed == corpus
    COUNT(*), statable by the oracle) and no multi-doc bin over budget.
    A packing bug (doc dropped/duplicated, budget ignored) flips the
    hash; exact bin assignments stay pytest-pinned (test_curation)."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    TX.token_count("text").cast("long").alias("n_tokens"))
    packed = CU.pack_greedy_chunks(t, "doc_id", "n_tokens",
                                   budget=512, chunk=64)
    per_bin = (packed.groupBy("bin")
               .agg(F.sum("n_tok").alias("tot"),
                    F.count(F.lit(1)).alias("n_docs_in_bin")))
    bins_ok = per_bin.agg(
        F.min((F.col("tot") <= F.lit(512))
              | (F.col("n_docs_in_bin") == 1)).alias("no_overflow"))
    return (packed.agg(F.count(F.lit(1)).cast("long").alias("n_packed"),
                       F.countDistinct("doc").cast("long").alias("n_docs"))
            .crossJoin(bins_ok)
            .select(F.lit("pack_greedy_contract").alias("metric"),
                    "n_packed", "n_docs", "no_overflow"))


def q_events_approx_distinct(spark, sf):
    """Sketch-based distinct users per event type (HyperLogLog++, rsd=5%)
    checked against the exact count IN the query — oracle-checkable
    contract form: the estimate itself is engine-specific, but
    ``|approx - exact| <= 15% * exact`` is a statable invariant (3x the
    requested rsd; the point estimate measures <2% off at sf0.01), so
    the DuckDB twin emits the exact count and TRUE. A broken sketch
    (wrong column, wrong rsd plumbing, merge bug) flips the hash. At
    100 TB the sketch is the default path: fixed-size state, one pass,
    no distinct shuffle."""
    ev = load_table(spark, sf, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.05).alias("approx"),
                 F.countDistinct("user_id").alias("exact_users"))
            .select("event_type", "exact_users",
                    (F.abs(F.col("approx") - F.col("exact_users"))
                     <= F.col("exact_users") * F.lit(0.15))
                    .alias("within_bound")))


def q_dedup_exact(spark, sf):
    return DD.dedup_exact(load_table(spark, sf, "documents"), "doc_id", "text")


def q_dedup_ngram_jaccard(spark, sf):
    return DD.ngram_jaccard_pairs(load_table(spark, sf, "documents"),
                                  "doc_id", "text", n=3, threshold=0.2)


def q_dedup_minhash(spark, sf):
    return DD.minhash_lsh_pairs(load_table(spark, sf, "documents"),
                                "doc_id", "text", n=2, num_hashes=12, bands=4)


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


def q_dedup_simhash(spark, sf):
    return (DD.simhash_pairs(load_table(spark, sf, "documents"),
                             "doc_id", "text", bits=32, max_hamming=3)
            .withColumn("hamming", F.col("hamming").cast("long")))


def q_dedup_embedding(spark, sf):
    return DD.embedding_near_dups(load_table(spark, sf, "embeddings"),
                                  threshold=0.3)


def q_ann_ivf_det(spark, sf):
    """Deterministic IVF (md5-sampled centroids, rounded-argmin buckets,
    exact cosine within probed buckets) — the oracle-checked twin of the
    KMeans-quantizer ann_ivf."""
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    return SIM.ivf_topk_det(emb, queries_df, k=10, n_centroids=8, n_probes=2)


def q_ann_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    return SIM.brute_force_topk(emb, queries_df, k=10)


def q_ann_lsh(spark, sf):
    # dims=64 (TESTDATA.md embedding width): skips the one-row probe job
    return SIM.lsh_candidates(load_table(spark, sf, "embeddings"),
                              num_planes=8, seed=42, dims=64)


def q_ann_lsh_multiprobe(spark, sf):
    """3-table multi-probe LSH: per-table miss probability p compounds to
    p^3, closing most of the recall gap to brute force (SCALE.md table)."""
    return SIM.lsh_candidates_multiprobe(load_table(spark, sf, "embeddings"),
                                         num_planes=8, seeds=(42, 43, 44),
                                         dims=64)


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


def q_multimodal_meta(spark, sf):
    docs = load_table(spark, sf, "documents")
    return MM.payload_metadata(MM.with_payload(docs, "doc_id", "text"))


def q_multimodal_features(spark, sf):
    """Binary-payload feature extraction (Arrow mapInPandas), contract
    form: the Python-side byte walk emits n_bytes, which the DuckDB twin
    recomputes independently as octet_length(encode(text)) — a real
    cross-engine differential on the payload plumbing (UTF-8 encode,
    bytes across the Arrow boundary, per-row decode) — plus statable
    invariants on the remaining features (first_byte defined iff the
    payload is non-empty and in [0, 255]; byte_sum_mod in [0, 997))."""
    docs = load_table(spark, sf, "documents")
    feats = MM.extract_features(MM.with_payload(docs, "doc_id", "text"))
    return feats.select(
        "doc_id", "n_bytes",
        (F.when(F.col("n_bytes") == 0, F.col("first_byte").isNull())
         .otherwise(F.col("first_byte").between(0, 255)))
        .alias("first_byte_ok"),
        F.col("byte_sum_mod").between(0, 996).alias("byte_sum_ok"))


def q_multimodal_rgb(spark, sf):
    """REAL image decode path (raw rgb24, numpy — no external decoder):
    synthesized rasters -> per-channel means + Rec.601 brightness via
    Arrow-batched mapInPandas. Oracle-checkable contract form: byte-level
    raster math has no SQL twin, but the per-image invariants do — one
    output row per document (the oracle enumerates doc_ids, catching any
    decode drop), declared raster dims, channel means in [0, 255], and
    brightness consistent with the Rec.601 combination of the decoded
    means (a real differential between two decode outputs). Exact pixel
    math stays pinned in test_multimodal."""
    docs = load_table(spark, sf, "documents")
    imgs = MM.synthesize_rgb_payload(docs, "doc_id", width=8, height=8)
    feats = MM.decode_rgb_features(imgs, 8, 8)
    rec601 = (F.lit(0.299) * F.col("mean_r") + F.lit(0.587) * F.col("mean_g")
              + F.lit(0.114) * F.col("mean_b"))
    in_range = (
        (F.col("mean_r") >= 0) & (F.col("mean_r") <= 255)
        & (F.col("mean_g") >= 0) & (F.col("mean_g") <= 255)
        & (F.col("mean_b") >= 0) & (F.col("mean_b") <= 255))
    return feats.select(
        "doc_id", "width", "height",
        in_range.alias("means_in_range"),
        (F.abs(F.col("brightness") - rec601) < F.lit(1e-6))
        .alias("brightness_consistent"))


def q_tfidf_terms(spark, sf):
    """Top-3 TF-IDF keywords per document (operators.relevance) — the
    keyword-extraction step the reference's demo implies (KWD term counts)
    but never weights."""
    docs = load_table(spark, sf, "documents")
    return RV.tfidf_terms(docs, "doc_id", "text", top_k=3)


def q_bm25_rank(spark, sf):
    """BM25 retrieval: top-15 documents for a 3-term query; corpus side
    filtered to query-term hits before any shuffle."""
    docs = load_table(spark, sf, "documents")
    return RV.bm25_rank(docs, ["spark", "table", "hash"], "doc_id", "text",
                        top_n=15)


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


def q_nb_lang_score(spark, sf):
    """Model-based filtering (operators/classify.py): binary multinomial
    Naive Bayes trained to recognize ``lang = 'en'`` from token
    distributions on the ``doc_id % 5 != 0`` split (the 80% training
    fold; no leakage story — the held-out fifth is scored by a model
    that never saw it), vocabulary capped at top-25 terms (the shipped
    corpus has 31 — the cap and the OOV-ignore path are genuinely
    exercised). Every per-term log-likelihood ratio is an integer
    micro-unit, so a doc's score is an exact integer sum. Emits every
    doc's log-odds + prediction alongside its true label."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    model = CL.nb_train(train, "doc_id", "text", "lang", "en",
                        vocab_size=25)
    scored = CL.nb_score(docs, model, "doc_id", "text")
    truth = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        "lang")
    return (scored
            .select(F.col("doc").cast("long").alias("doc_id"),
                    "n_vocab_tokens", "log_odds",
                    F.col("pred_pos").alias("pred_en"))
            .join(truth, "doc_id")
            .select("doc_id", "lang", "n_vocab_tokens", "log_odds",
                    "pred_en")
            .orderBy("doc_id"))


def q_nb_lang_eval(spark, sf):
    """Held-out evaluation of the NB language classifier: confusion
    counts + accuracy on the ``doc_id % 5 == 0`` fifth the model never
    trained on — the report a pipeline owner reads before trusting a
    learned filter. One tiny aggregation over the held-out scores."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    model = CL.nb_train(train, "doc_id", "text", "lang", "en",
                        vocab_size=25)
    scored = CL.nb_score(held, model, "doc_id", "text")
    truth = held.select(F.col("doc_id").cast("string").alias("doc"),
                        F.coalesce((F.col("lang") == "en").cast("int"),
                                   F.lit(0)).alias("y"))
    j = scored.join(truth, "doc").select(
        F.col("pred_pos").cast("int").alias("p"), "y")
    agg = j.agg(
        F.sum(F.col("p") * F.col("y")).cast("double").alias("tp"),
        F.sum(F.col("p") * (1 - F.col("y"))).cast("double").alias("fp"),
        F.sum((1 - F.col("p")) * F.col("y")).cast("double").alias("fn"),
        F.sum((1 - F.col("p")) * (1 - F.col("y"))).cast("double")
        .alias("tn"),
        F.count(F.lit(1)).cast("double").alias("n_heldout"))
    return agg.select(F.explode(F.map_from_arrays(
        F.array(F.lit("tp"), F.lit("fp"), F.lit("fn"), F.lit("tn"),
                F.lit("n_heldout"), F.lit("accuracy")),
        F.array("tp", "fp", "fn", "tn", "n_heldout",
                F.round((F.col("tp") + F.col("tn")) / F.col("n_heldout"),
                        6)))).alias("metric", "value"))


def q_nb_calibration(spark, sf):
    """Calibration / reliability report for the NB language classifier
    (operators.classify.calibration_report): the held-out fifth's
    scores bucketed by |log-odds| (INTEGER micro-unit bands — bucket
    membership can never straddle a float boundary between engines),
    per-bucket NB-implied confidence vs empirical accuracy, and the
    integer-weighted ECE — the check a pipeline owner runs before
    trusting a learned filter's score as a probability. One
    map-combined bucket aggregation over the held-out scores; model
    training is the proven nb_lang_score shape."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    model = CL.nb_train(train, "doc_id", "text", "lang", "en",
                        vocab_size=25)
    scored = CL.nb_score(held, model, "doc_id", "text")
    truth = held.select(F.col("doc_id").cast("string").alias("doc"),
                        F.coalesce((F.col("lang") == "en").cast("int"),
                                   F.lit(0)).alias("y"))
    return (CL.calibration_report(scored.join(truth, "doc"))
            .orderBy("bucket"))


def q_nb_cv(spark, sf):
    """5-fold deterministic cross-validation of the NB language
    classifier (operators.classify.nb_train/nb_score over the hash
    folds ``doc_id % 5``): per fold, train on the other four fifths
    and score the held fold — the VARIANCE across folds is the
    stability signal a single held-out split (nb_lang_eval) can't
    show, and the standard protocol before trusting a learned filter's
    reported accuracy. Per-fold rows (fold, n_heldout, n_correct,
    accuracy). Round 13: fused leave-one-out spelling
    (operators.classify.nb_cv_folds) — TWO corpus passes total (one
    count pass whose (fold, term) table algebra yields every fold's
    model exactly, one scoring pass keyed (fold, term)) instead of the
    round-12 5-independent-plans union (~10 corpus scans + 10 1-row
    scalar aggs; 5.9 s standalone at sf0.1 — the round-12 verdict's
    watch threshold). Output-identical to the per-fold loop, pinned by
    test_classify."""
    docs = load_table(spark, sf, "documents")
    return CL.nb_cv_folds(docs, "doc_id", "text", "lang", "en",
                          n_folds=5, vocab_size=25)


def q_nb_lang_confusion(spark, sf):
    """MULTI-class NB language identification (operators.classify
    .nb_train_multi / nb_score_multi — the CCNet per-language
    classifier shape, generalizing the binary en-vs-rest family): one
    model over ALL languages (per-(label, term) Laplace-smoothed
    integer micro-unit log-probs on the shared top-25 vocabulary,
    zero counts materialized — the smoothed floor is label-specific),
    scored on the held-out fifth by integer argmax (ties -> label
    asc). Output: the full 5x5 confusion matrix (lang, pred_lang, n) —
    every cell is the contract, not just the diagonal. Twin: the
    complete train+score replay in SQL. Model is labels x (vocab+1)
    rows by construction; scoring is one broadcast join + a (doc,
    label) integer-sum agg + a bounded per-doc fold."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    model = CL.nb_train_multi(train, "doc_id", "text", "lang",
                              vocab_size=25)
    pred = CL.nb_score_multi(held, model, "doc_id", "text")
    truth = held.select(F.col("doc_id").cast("string").alias("doc"),
                        "lang")
    return (pred.join(truth, "doc")
            .groupBy("lang", F.col("pred_label").alias("pred_lang"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("lang", "pred_lang"))


def q_nb_platt(spark, sf):
    """Platt scaling by deterministic grid search (operators.classify
    .platt_grid_fit — the post-hoc calibration FIT that composes with
    nb_calibration's diagnosis): the 42-combo (a, b) loss surface over
    the held-out fifth, log-loss folded to integer micro-units per
    doc x combo BEFORE the per-combo sum (order-independent BIGINTs),
    argmin tie-broken (loss_u, a, b) — the whole surface is emitted so
    the contract checks every loss value, not just the winner. Grid
    values are binary-exact fractions so z = a*log_odds + b is built
    from identical operands on both engines. Map-side grid expansion;
    the only aggregation is grid-sized."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    model = CL.nb_train(train, "doc_id", "text", "lang", "en",
                        vocab_size=25)
    scored = CL.nb_score(held, model, "doc_id", "text")
    truth = held.select(F.col("doc_id").cast("string").alias("doc"),
                        F.coalesce((F.col("lang") == "en").cast("int"),
                                   F.lit(0)).alias("y"))
    return (CL.platt_grid_fit(scored.join(truth, "doc"))
            .orderBy("a", "b"))


def q_curriculum_buckets(spark, sf):
    """Curriculum difficulty deciles (operators.curation
    .quantile_buckets over relevance.unigram_logprob): every document's
    average negative unigram log-likelihood (the deterministic
    LM-surprise stand-in) bucketed into 10 equal-population bands —
    decile 1 = easiest — via the threshold-broadcast fold, NOT a global
    rank window (the single-partition-sort anti-pattern this operator
    exists to avoid). Curriculum schedules feed batches easy→hard."""
    docs = load_table(spark, sf, "documents")
    scored = RV.unigram_logprob(docs, "doc_id", "text")
    return CU.quantile_buckets(scored, "avg_neg_logprob", n_buckets=10,
                               bucket_col="decile")


def q_mixture_plan(spark, sf):
    """Data-mixture planning report (operators.curation.mixture_plan):
    per-source token counts vs a 3-source target recipe and a 2M-token
    budget — natural share, implied epochs per source, and the >4-epoch
    repetition-harm flag (Muennighoff et al. 2023). One map-combined
    stratum aggregation; arithmetic on the bounded stratum table;
    integer target_tokens keeps the division engine-identical."""
    docs = load_table(spark, sf, "documents")
    return CU.mixture_plan(docs, "source", "text",
                           {"src0": 0.5, "src1": 0.3, "src2": 0.2},
                           token_budget=2_000_000)


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


def q_doc_quality_source_quantile(spark, sf):
    """Per-SOURCE quality-score quantile cut (operators.curation
    .group_quantile_flag composed with functions.text.gopher_exprs): flag
    documents in the bottom quartile of alpha-word fraction WITHIN their
    source — the second contract point of the per-group thresholding
    family (doc_len_lang_quantile pins per-language token-count cuts;
    this pins a per-source gopher-metric cut, the FineWeb-style
    crawl-dump comparison). Same shape: map-only metric projection, one
    source-cardinality aggregation broadcast back, comparison against
    the 6dp-rounded threshold. Source is NOT coalesced — a NULL source
    is its own group through the null-safe join."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text").select(
        "doc_id", "alpha_word_frac")
    d = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "source")
         .join(g, "doc_id"))
    return CU.group_quantile_flag(d, "source", "alpha_word_frac", q=0.25,
                                  flag_col="below_p25")


def q_crossmodal_integrity(spark, sf):
    """Cross-modal pair integrity audit (multimodal.binary
    .pair_integrity): joint payload/caption fingerprints flag payloads
    shared under conflicting captions and captions labeling distinct
    payloads — the pairing-damage sweep a text↔image corpus needs
    beyond per-file decode. The paired dataset is synthesized in-query
    from documents (payload = UTF-8 bytes of the text) with PLANTED
    damage mirrored literally in the twin: every 97th doc_id collapses
    onto one of 3 shared payloads (payload conflicts), every 89th onto
    one of 2 shared captions (caption conflicts). Fingerprint-grain
    aggregations only — payload bytes never shuffle."""
    docs = load_table(spark, sf, "documents")
    pid = F.col("doc_id")
    pairs = docs.select(
        pid.cast("long").alias("doc_id"),
        F.encode(
            F.when(pid % 97 == 0,
                   F.concat(F.lit("SHARED PAYLOAD "),
                            (pid % 3).cast("string")))
            .otherwise(F.coalesce("text", F.lit(""))), "UTF-8")
        .alias("payload"),
        F.when(pid % 89 == 0,
               F.concat(F.lit("shared caption "),
                        (pid % 2).cast("string")))
        .otherwise(F.coalesce("text", F.lit(""))).alias("caption"))
    return MM.pair_integrity(pairs)


def q_unigram_lm_scores(spark, sf):
    """SentencePiece-style unigram-LM piece vocabulary (operators
    .curation.unigram_lm_pieces, Kudo 2018): top-64 substring pieces
    (≤4 chars) by corpus occurrence, scored ln(cnt/total) — the EM-free
    frequency seed every unigram tokenizer trains from. The substring
    explode is a bounded constant per token; count agg map-combined;
    vocabulary cut is TakeOrderedAndProject; the companion Viterbi
    encoder (unigram_lm_segment, bounded piece side input + one
    mapInPandas pass) is segmentation-tested in tests/test_curation.py
    (iterative DP, ALSO oracle-checked — _viterbi_oracle replays the
    exact DP as chained position CTEs)."""
    docs = load_table(spark, sf, "documents")
    p = CU.unigram_lm_pieces(docs, "doc_id", "text",
                             max_piece_len=4, vocab_size=64)
    # stash the 64 learned rows so q_unigram_lm_segment skips the
    # re-learn (same in-process pattern as _BPE_MERGE_CACHE; a fresh
    # JVM just re-learns)
    rows = p.collect()
    _UNIGRAM_PIECE_CACHE[(sf, 4, 64)] = (rows, p.schema)
    return spark.createDataFrame(rows, p.schema)


def q_unigram_lm_segment(spark, sf):
    """Viterbi segmentation of the corpus under its own unigram-LM piece
    vocabulary (operators.curation.unigram_lm_segment over the
    unigram_lm_pieces table) — the ENCODE side of the SentencePiece
    pair, now oracle-checked: the DuckDB twin replays the exact DP as
    chained position CTEs over DISTINCT words (argmax = cost DESC,
    start-index ASC, matching the Spark scan's longest-final-piece tie
    rule), then reassembles per-document streams by token position.
    Spark side: bounded 64-row piece side input, ONE mapInPandas pass."""
    docs = load_table(spark, sf, "documents")
    cached = _UNIGRAM_PIECE_CACHE.get((sf, 4, 64))
    if cached is not None:
        rows, schema = cached
    else:
        # stash on miss too (round 13): the round-13 window rotation
        # moved this query BEFORE unigram_lm_scores in suite order, so
        # relying on scores to fill the cache silently re-learned the
        # 64-piece table here (+~2.3 s, the r13 bench 1.10 -> 3.91
        # "drift") — symmetric caching makes the measured number
        # order-independent; the vocab is a bounded 64-row side input
        # a production pipeline would persist, not re-learn per query
        p = CU.unigram_lm_pieces(docs, "doc_id", "text",
                                 max_piece_len=4, vocab_size=64)
        rows, schema = p.collect(), p.schema
        _UNIGRAM_PIECE_CACHE[(sf, 4, 64)] = (rows, schema)
    pieces = spark.createDataFrame(rows, schema)
    return CU.unigram_lm_segment(docs, "doc_id", "text", pieces)


def q_unigram_lm_em(spark, sf):
    """One Viterbi-EM round of the SentencePiece unigram LM
    (operators.curation.unigram_lm_em_round, Kudo 2018): E-step
    segments every word occurrence under the frequency-seeded scores,
    M-step re-estimates ln(use/total) from the pieces the segmentation
    actually used — the re-estimation step that corrects the seed's
    overlapping-substring double counting. OOV single-char fallback
    pieces surface with NULL old_score (the expansion candidates).
    Twin: the SAME chained-position-CTE Viterbi core as
    unigram_lm_segment, then occurrence-weighted usage counts."""
    docs = load_table(spark, sf, "documents")
    return CU.unigram_lm_em_round(docs, "doc_id", "text",
                                  max_piece_len=4, vocab_size=64)


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


def q_knn_classify(spark, sf):
    """kNN majority-vote label prediction over embeddings (k=10 exact
    cosine neighbors via the partial-top-k GEMM path)."""
    emb = load_table(spark, sf, "embeddings")
    return RV.knn_classify(emb, emb.where(F.col("vec_id") < 100), k=10)


def q_mixture_resample(spark, sf):
    """Domain-mixture resampling: downsample sources toward 50/30/20
    shares of a 40-row target, rates measured from stratum counts
    (operators.curation.mixture_resample)."""
    docs = load_table(spark, sf, "documents")
    out = CU.mixture_resample(docs, F.col("doc_id").cast("string"), "source",
                              {"src0": 0.5, "src1": 0.3, "src2": 0.2},
                              total_rows=40)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "source", "lang")


def q_temperature_resample(spark, sf):
    """Alpha-sampling (XLM-R/mT5 rule): per-language rates from
    n^0.5-normalized shares toward a 200-row target — up-weights tail
    languages relative to natural proportions."""
    docs = load_table(spark, sf, "documents")
    out = CU.temperature_resample(docs, F.col("doc_id").cast("string"),
                                  "lang", alpha=0.5, total_rows=200)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang", "source")


def q_budget_select(spark, sf):
    """Per-language token-budget selection (2000 tokens/lang) via the
    chunked two-level prefix sum (operators.curation.budget_select)."""
    docs = load_table(spark, sf, "documents")
    t = docs.select("doc_id", "lang",
                    TX.token_count("text").alias("n_tokens"))
    return CU.budget_select(t, "doc_id", "n_tokens", "lang",
                            budget=2000, n_chunks=8)


def q_dedup_spans(spark, sf):
    """Cross-document duplicated-span coverage (Lee et al. substring-dedup
    signal): per doc, the fraction of token positions inside a 4-gram that
    also occurs in another document (operators.dedup.cross_doc_spans)."""
    docs = load_table(spark, sf, "documents")
    return DD.cross_doc_spans(docs, "doc_id", "text", n=4)


def q_sample_per_source(spark, sf):
    """Deterministic 3-per-source document sample via grouped partial
    top-k (operators.sampling.sample_per_group — no window, no global
    sort)."""
    docs = load_table(spark, sf, "documents")
    return SP.sample_per_group(docs, F.col("doc_id"), "source", k=3)


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


def q_vocab_coverage(spark, sf):
    """Top-20 vocabulary with cumulative corpus coverage — partial top-n
    (TakeOrderedAndProject) then a window over the 20 survivors."""
    docs = load_table(spark, sf, "documents")
    return RV.vocab_coverage(docs, "doc_id", "text", top_n=20)


def q_unigram_logprob(spark, sf):
    """Average negative unigram log-likelihood per doc (perplexity-filter
    stand-in); vocabulary broadcast so token scoring is map-side."""
    docs = load_table(spark, sf, "documents")
    return RV.unigram_logprob(docs, "doc_id", "text")


def q_ccnet_buckets(spark, sf):
    """CCNet-style per-language perplexity tertiles (Wenzek et al. 2020
    — operators.curation.rank_buckets over relevance.unigram_logprob):
    every document scored by average unigram surprise, then each
    language split into exact head/middle/tail thirds by RANK under
    the (score, doc) total order — head is the most-fluent slice CCNet
    keeps, tail is what its quality cascade drops. Rank bucketing (not
    interpolated percentiles) keeps membership engine-exact: boundary
    elements are real (6dp-rounded score, doc) pairs, ties broken by
    doc id, bucket sizes exactly ceil(j*n/3) by integer arithmetic.
    Scale: vocabulary-broadcast scoring (map-side), one per-doc agg,
    one lang-grain boundary agg broadcast back — the corpus never
    shuffles on a data-sized key after scoring."""
    docs = load_table(spark, sf, "documents")
    # rank_buckets consumes its input TWICE (boundary agg + flag join);
    # materialize the narrow (doc, lang, score) projection once so the
    # unigram scoring pipeline doesn't replay per consumer (the
    # q_url_incremental plan-hygiene lesson)
    scored = (RV.unigram_logprob(docs, "doc_id", "text")
              .join(docs.select(F.col("doc_id").cast("long").alias("doc"),
                                "lang"), "doc")
              .localCheckpoint())
    out = CU.rank_buckets(scored, "lang", "avg_neg_logprob", "doc")
    return out.select(F.col("doc").alias("doc_id"), "lang", "n_tokens",
                      "avg_neg_logprob", "bucket")


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


#: learned BPE merge tables keyed by (sf_dir, n_merges) — plain driver-side
#: rows (no session binding), so q_bpe_encode can reuse the table learned by
#: q_bpe_merges in the same process instead of re-running the 8-pass loop
#: (the round-7 bench double-count). A fresh JVM (isolated bench leg) just
#: re-learns — the fallback stays self-contained and hash-identical.
_BPE_MERGE_CACHE: dict = {}

#: learned unigram-LM piece tables keyed by (sf_dir, max_piece_len,
#: vocab_size) — same contract as _BPE_MERGE_CACHE: q_unigram_lm_scores
#: fills it (the learning is ITS measured work), q_unigram_lm_segment
#: reuses it; a fresh JVM re-learns.
_UNIGRAM_PIECE_CACHE: dict = {}


def _learned_merges(spark, docs, sf, n_merges: int = 8):
    """The shared BPE merge table: serve from the in-process cache, else
    learn once AND fill the cache — so whichever of q_bpe_merges /
    q_bpe_encode / q_tokenizer_fertility runs first pays the 8-pass
    learning loop and the rest reuse the 8 collected rows. A fresh JVM
    (isolated bench leg) still re-learns — every query stays
    self-contained and hash-identical."""
    cached = _BPE_MERGE_CACHE.get((sf, n_merges))
    if cached is not None:
        rows, schema = cached
        return spark.createDataFrame(rows, schema)
    m = CU.learn_bpe_merges(docs, "doc_id", "text", n_merges=n_merges)
    rows = m.collect()  # n_merges rows — bounded
    _BPE_MERGE_CACHE[(sf, n_merges)] = (rows, m.schema)
    return spark.createDataFrame(rows, m.schema)


def q_bpe_merges(spark, sf):
    """Distributed BPE merge learning (operators.curation
    .learn_bpe_merges, Sennrich et al. 2016): 8 exact merge steps over
    the corpus — per step one map-side-combined pair-count aggregation,
    a 1-row argmax broadcast, and a map-only literal replace on the
    marker-string representation (string replace is greedy
    non-overlapping on both engines, which IS BPE's within-sequence
    rule). Output: the learned merge table (step, lsym, rsym,
    pair_count) — the tokenizer-training artifact. Iterative-Spark
    shape: corpus strings checkpoint between steps."""
    docs = load_table(spark, sf, "documents")
    # deliberately does NOT serve from _BPE_MERGE_CACHE: the 8-pass
    # learning loop IS this query's measured work — reading the cache
    # would fake its bench number. (encode/fertility go through
    # _learned_merges and reuse whatever is cached.)
    m = CU.learn_bpe_merges(docs, "doc_id", "text", n_merges=8)
    # the loop already executed (localCheckpoint per step); collecting the
    # 8 checkpointed rows is free — stash them for the other BPE queries
    rows = m.collect()
    _BPE_MERGE_CACHE[(sf, 8)] = (rows, m.schema)
    return spark.createDataFrame(rows, m.schema)


def q_bpe_encode(spark, sf):
    """BPE encoding with the corpus-learned merges (operators.curation
    .bpe_encode): the merge table (8 rows — a bounded driver side input)
    chains into a SINGLE map-only projection of literal replaces, so
    encoding costs one corpus pass regardless of merge count — the
    apply side of the tokenizer pair. Output: per-doc merged symbol
    sequence (space-joined, scalar)."""
    docs = load_table(spark, sf, "documents")
    merges = _learned_merges(spark, docs, sf)
    return CU.bpe_encode(docs, "doc_id", "text", merges)


def q_tokenizer_fertility(spark, sf):
    """Tokenizer fertility report — the EVALUATE step completing the
    BPE learn→encode pair: per language, symbols-per-word (sequence
    length per word after merges — ≤1 at this word-grain BPE, lower =
    the learned merges compress that language more) and
    chars-per-symbol (how much text each emitted symbol carries) under
    the corpus-learned 8-merge table. The per-language tokenizer-equity
    metric a multilingual pipeline reads before committing to a
    vocabulary: a language the merges don't cover pays more sequence
    length per unit of text. Reuses the in-process merge cache when
    q_bpe_merges ran first (same contract as q_bpe_encode); a fresh JVM
    re-learns, hash-identical. One map-only encode pass + one
    map-combined per-lang aggregation."""
    docs = load_table(spark, sf, "documents")
    merges = _learned_merges(spark, docs, sf)
    enc = CU.bpe_encode(docs, "doc_id", "text", merges) \
        .select("doc_id", "n_symbols")
    toks = TX.tokens(F.coalesce(F.col("text"), F.lit("")))
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.size(toks).cast("long").alias("n_words"),
        F.length(F.concat_ws("", toks)).cast("long").alias("n_chars"))
    return (w.join(enc, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_symbols").cast("long").alias("n_symbols"),
                 F.round(F.sum("n_symbols") / F.sum("n_words"), 6)
                 .alias("symbols_per_word"),
                 F.round(F.sum("n_chars") / F.sum("n_symbols"), 6)
                 .alias("chars_per_symbol"))
            .orderBy("lang"))


def q_collocations_pmi(spark, sf):
    """Collocation extraction (operators.relevance.collocation_pmi —
    the word2phrase / phrase-mining step, Mikolov et al. 2013): top-25
    adjacent bigrams by PMI with a count floor of 5. Bigrams are
    generated expression-only (arrays_zip of the token array against
    its shift — no window, no per-doc shuffle); count shuffles carry
    the bigram vocabulary, never occurrences."""
    docs = load_table(spark, sf, "documents")
    return RV.collocation_pmi(docs, "doc_id", "text",
                              min_count=5, top_n=25)


def q_multimodal_image_neardup(spark, sf):
    """Perceptual image near-dup via dHash (multimodal.binary
    .dhash_rgb24) — the image-side counterpart of MinHash text dedup:
    synthesize planted-group RGB24 rasters (same base image per
    ``doc_id % 400`` class, per-doc uniform brightness shifts ≤ 32 —
    the transform byte-exact hashing CANNOT catch), run the REAL
    decode → nearest-resize (18x16 → 9x8) → integer-luma dHash chain,
    bucket by digest. The DuckDB twin predicts the EXACT output from
    the id arithmetic — a full end-to-end gate on the Python
    decode/resize/hash path (any determinism break, digest collision,
    or dropped row hash-mismatches). ONE map-only Arrow pass + ONE
    digest-keyed exchange (the bucket stats are a window over the
    digest partitioning, not a groupBy + join-back — that shape would
    re-run the Python decode a second time and shuffle twice); payload
    bytes never shuffle past the 16-char hash."""
    docs = load_table(spark, sf, "documents")
    imgs = MM.synthesize_rgb_payload_grouped(docs, "doc_id",
                                             group_mod=400,
                                             width=18, height=16)
    small = MM.resize_rgb_nearest(imgs, 18, 16, 9, 8) \
        .withColumnRenamed("resized", "payload")
    hashed = MM.dhash_rgb24(small, 9, 8)
    w = Window.partitionBy("dhash")
    return (hashed
            .select("doc_id",
                    F.min("doc_id").over(w).alias("canonical_id"),
                    F.count(F.lit(1)).over(w).cast("long")
                    .alias("n_dupes"))
            .select("doc_id", "canonical_id", "n_dupes",
                    (F.col("n_dupes") > 1).alias("is_dup"))
            .orderBy("doc_id"))


def q_multimodal_audio_neardup(spark, sf):
    """Perceptual audio near-dup via an energy-profile fingerprint
    (multimodal.binary.pcm_energy_fingerprint) — the audio counterpart
    of the dHash image query: synthesize planted-group s16le signals
    (same base per ``doc_id % 400`` class, per-doc INTEGER gains ≤ 4 —
    the re-master transform byte hashing cannot catch), fingerprint the
    64-frame integer energy contour, bucket by digest. Gain-invariance
    is exact (energies scale by gain²), so the DuckDB twin predicts the
    output from id arithmetic alone — the same
    exact-oracle-without-DSP-twin trick as multimodal_image_neardup.
    ONE map-only Arrow pass + ONE digest-keyed exchange (window over
    the digest partitioning — same single-pass shape as the image
    query)."""
    docs = load_table(spark, sf, "documents")
    pcm = MM.synthesize_pcm_payload_grouped(docs, "doc_id",
                                            group_mod=400,
                                            n_samples=1600)
    fp = MM.pcm_energy_fingerprint(pcm, n_frames=64)
    w = Window.partitionBy("afp")
    return (fp
            .select("doc_id",
                    F.min("doc_id").over(w).alias("canonical_id"),
                    F.count(F.lit(1)).over(w).cast("long")
                    .alias("n_dupes"))
            .select("doc_id", "canonical_id", "n_dupes",
                    (F.col("n_dupes") > 1).alias("is_dup"))
            .orderBy("doc_id"))


def q_corpus_card(spark, sf):
    """Corpus datasheet ("Datasheets for Datasets", Gebru et al. 2021) —
    the one-page report a dataset ships with: size (docs/tokens),
    composition (languages/sources), exact-duplicate rate, heuristic
    quality pass rate, mean document length. Long-format (metric,
    value) rows; ratios rounded 6dp. Every number is a corpus-grain
    aggregate (map-combined counts / distinct counts); the dup-rate and
    quality legs reuse the PROVEN dedup_exact and gopher_quality
    operators, and the ORACLE composes those queries' proven bodies as
    CTEs — the composition can never drift from the component
    contracts."""
    docs = load_table(spark, sf, "documents")
    n_tok = F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
    base = docs.select("doc_id", "lang", "source",
                       n_tok.cast("long").alias("n"))
    m1 = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n").cast("double").alias("n_tokens"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"))
    m2 = (DD.dedup_exact(docs, "doc_id", "text")
          .agg(F.count(F.lit(1)).cast("double").alias("n_kept")))
    m3 = (TX.gopher_quality(docs, "doc_id", "text")
          .agg(F.avg(F.col("passes_gopher").cast("double"))
               .alias("gopher_rate")))
    joined = m1.crossJoin(F.broadcast(m2)).crossJoin(F.broadcast(m3))
    return joined.select(F.explode(F.map_from_arrays(
        F.array(F.lit("n_docs"), F.lit("n_tokens"), F.lit("n_langs"),
                F.lit("n_sources"), F.lit("exact_dup_rate"),
                F.lit("gopher_pass_rate"), F.lit("mean_doc_tokens")),
        F.array("n_docs", "n_tokens", "n_langs", "n_sources",
                F.round(1.0 - F.col("n_kept") / F.col("n_docs"), 6),
                F.round("gopher_rate", 6),
                F.round(F.col("n_tokens") / F.col("n_docs"), 6))))
        .alias("metric", "value"))


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
    blocked_pairs takes a ``max_block_size`` cap that diverts oversize
    blocks to the ``oversize_blocks`` report instead of emitting block²
    pairs (guard tested with a planted hot block in test_dedup.py;
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


# Blocklisted registered domains for q_domain_blocklist — chosen so each
# actually occurs in the plant (hostcore parity: g%10 and the tld index
# g%4 share g's parity, so e.g. site3.com can never occur while site3.org
# does). Identical literal list in the DuckDB twin.
_URL_BLOCKLIST = ["site3.org", "site6.net", "site0.com"]


def _planted_urls(docs):
    """Deterministic messy-URL plant over documents (operators.urls has
    no url column to chew on in the TPC-H-ish testdata, so — the round-8
    exact-plant discipline — the raw URL is a pure function of doc_id
    built from IDENTICAL literals in the DuckDB twins).

    Canonical identity is ``g = doc_id % 50``: scheme (https when g
    even), host ``[news.]site{g%10}.{tld[g%4]}`` (tlds com/org/net/co.uk
    — the last exercising the 2-label-suffix rule; groups 7/31 override
    to the 3-LABEL suffixes k12.ca.us / k12.ny.us, g=31 with the news.
    label, exercising PSL depth), path ``/a/g`` (g=25: root path; g=30:
    NO path), and the real query params (``id=g`` plus ``v=1`` when g
    even; g%5==4 groups have none). Group 13 carries a NON-default
    ``:8080`` port on every raw URL (canonical host keeps it;
    registered_domain must strip it). All other messiness varies with
    doc_id, NOT g — www. prefix (i%4==0), uppercased authority (i%4==2),
    uppercased scheme (i%8==0), default port (i%7==0), trailing slash
    (i%6==0), tracking params prepended (i%3==0), scrambled param order
    (i%9==0), bare '?' (paramless docs with i even), fragment (i%5==0) —
    so every doc in group g normalizes to the same canonical URL and the
    normalizer is exercised on every rule. 50 canonical URLs; group size
    = corpus/50.
    """
    i = F.col("doc_id")
    g = i % 50
    gs = g.cast("string")
    scheme = F.when(g % 2 == 0, "https").otherwise("http")
    scheme_raw = F.when(i % 8 == 0, F.upper(scheme)).otherwise(scheme)
    # groups 7 and 31 carry 3-LABEL public suffixes (k12.<state>.us —
    # real PSL entries): g=7 has no extra label (host IS suffix+1),
    # g=31 adds the news. label, so the depth-aware PSL rule must strip
    # exactly one; group 13 carries a NON-default port on every raw URL
    # (kept in the canonical host by contract, stripped by
    # registered_domain — the port-vs-domain boundary)
    tld = (F.when(g == 7, "k12.ca.us").when(g == 31, "k12.ny.us")
           .when(g % 4 == 0, "com").when(g % 4 == 1, "org")
           .when(g % 4 == 2, "net").otherwise("co.uk"))
    hostcore = F.concat(F.lit("site"), (g % 10).cast("string"),
                        F.lit("."), tld)
    hostc = F.when(g % 7 == 3,
                   F.concat(F.lit("news."), hostcore)).otherwise(hostcore)
    auth = F.when(i % 4 == 0,
                  F.concat(F.lit("www."), hostc)).otherwise(hostc)
    auth = F.when(i % 4 == 2, F.upper(auth)).otherwise(auth)
    port = (F.when(g == 13, ":8080")
            .when((i % 7 == 0) & (g % 2 == 0), ":443")
            .when(i % 7 == 0, ":80").otherwise(""))
    pcore = (F.when(g == 25, "/").when(g == 30, "")
             .otherwise(F.concat(F.lit("/a/"), gs)))
    praw = F.concat(pcore, F.when(i % 6 == 0, F.lit("/")).otherwise(""))
    real = (F.when(g % 5 == 4, "")
            .when((g % 2 == 0) & (i % 9 == 0),
                  F.concat(F.lit("v=1&id="), gs))
            .when(g % 2 == 0, F.concat(F.lit("id="), gs, F.lit("&v=1")))
            .otherwise(F.concat(F.lit("id="), gs)))
    track = F.when(
        i % 3 == 0,
        F.concat(F.lit("utm_source=feed&utm_campaign=c"),
                 (i % 2).cast("string"))).otherwise("")
    qstr = (F.when((track != "") & (real != ""),
                   F.concat(track, F.lit("&"), real))
            .when(track != "", track).otherwise(real))
    qseg = (F.when(qstr != "", F.concat(F.lit("?"), qstr))
            .when(i % 2 == 0, "?").otherwise(""))
    frag = F.when(i % 5 == 0,
                  F.concat(F.lit("#s"), (i % 3).cast("string"))) \
        .otherwise("")
    url = F.concat(scheme_raw, F.lit("://"), auth, port, praw, qseg, frag)
    return docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("n_chars").cast("long").alias("n_chars"),
                       url.alias("url"))


def q_url_normalize(spark, sf):
    """URL canonicalization + registered-domain extraction
    (operators.urls.normalize_url / url_host / registered_domain — the
    CCNet/RefinedWeb pre-text curation key): fragment and tracking
    params dropped, scheme/host lowercased, www. and default ports
    stripped, trailing slashes collapsed, surviving params sorted;
    registered domain = last 2 host labels (3 over a multi-part suffix
    like co.uk — the PSL seam). Pure regexp/array expression work, zero
    shuffle; the twin runs the SAME rules as SQL over the identically
    planted raw URLs, so any rule divergence hash-fails."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    host = URL.url_host(F.col("url"))
    return (u.select("doc_id", "url",
                     URL.normalize_url(F.col("url")).alias("url_norm"),
                     host.alias("host"),
                     URL.registered_domain(host).alias("reg_domain"))
            .orderBy("doc_id"))


def q_url_dedup(spark, sf):
    """URL-exact dedup on the CANONICAL form (operators.urls
    .normalize_url + the dedup_exact group shape): one row per
    normalized URL with >=2 raw variants — keep_id = min doc_id, n_dups
    = group size. The plant guarantees every doc in group g = doc_id%50
    canonicalizes identically while raws differ, so the query proves
    normalize-then-hash-groupBy collapses what raw hashing cannot. ONE
    hash shuffle on the canonical key — the linear-cost first gate a
    100-TB web pipeline runs before any text ever loads."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    return (u.select("doc_id",
                     URL.normalize_url(F.col("url")).alias("url_norm"))
            .groupBy("url_norm")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).cast("long").alias("n_dups"))
            .where(F.col("n_dups") >= 2)
            .orderBy("url_norm"))


def q_domain_caps(spark, sf):
    """Per-registered-domain document cap (operators.urls.domain_caps —
    RefinedWeb's anti-SEO-farm sampler): within each registered domain
    rank docs by (n_chars DESC, doc_id) and keep the top 15; the kept
    rank rides along as domain_rank. ONE shuffle on the domain key (the
    row_number window); no join-back. The twin is the same window in
    SQL."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    dom = URL.registered_domain(URL.url_host(F.col("url")))
    capped = URL.domain_caps(u.withColumn("reg_domain", dom),
                             "reg_domain", 15,
                             [F.desc("n_chars"), F.asc("doc_id")])
    return (capped.select("reg_domain", "doc_id", "n_chars",
                          "domain_rank")
            .orderBy("reg_domain", "domain_rank"))


def q_domain_blocklist(spark, sf):
    """Domain-blocklist gate (operators.urls.domain_blocklist_filter —
    the first cut of every public web pipeline): broadcast LEFT ANTI
    join of the corpus against a blocklist of registered domains
    (planted so each blocklisted name genuinely occurs), then surviving
    docs per domain. The corpus never shuffles for the gate itself —
    the blocklist ships to the executors; the only shuffle is the
    report's count aggregation."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    dom = URL.registered_domain(URL.url_host(F.col("url")))
    bl = spark.createDataFrame([(d,) for d in _URL_BLOCKLIST],
                               "reg_domain string")
    kept = URL.domain_blocklist_filter(
        u.withColumn("reg_domain", dom), "reg_domain", bl)
    return (kept.groupBy("reg_domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy("reg_domain"))


def q_text_self_dedup(spark, sf):
    """WITHIN-document repeated-chunk collapse (operators.curation
    .self_dedup_chunks — the Dolma/C4 in-doc pass, the stateless
    sibling of text_line_dedup's cross-document keyed dedup): 10-token
    pseudo-line chunks, first occurrence kept, text rebuilt. The corpus
    has no natural in-doc repeats, so — the exact-plant discipline —
    every doc_id % 10 == 0 doc with >= 10 tokens gets its first chunk
    PREPENDED (identical literal construction in the twin): chunk 0
    then provably equals chunk 1 regardless of doc length, so the
    collapse has guaranteed work and any first-occurrence rule break
    hash-fails. One shuffle-free array-HOF projection; nothing leaves
    the row."""
    docs = load_table(spark, sf, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    toks = TX.tokens(txt)
    planted = F.when(
        (F.col("doc_id") % 10 == 0) & (F.size(toks) >= 10),
        F.concat(F.array_join(F.slice(toks, 1, 10), " "),
                 F.lit(" "), txt)).otherwise(txt)
    aug = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                      planted.alias("text"))
    return CU.self_dedup_chunks(aug, "doc_id", "text", chunk=10) \
        .orderBy("doc_id")


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


def q_url_incremental(spark, sf):
    """Crawl-ledger incremental URL dedup (operators.urls
    .url_incremental_dedup — the dedup_incremental pattern keyed on
    canonical URL, NEXT.md's round-10 candidate): batch = every doc
    with doc_id % 4 == 0 (a messiness-level slice spanning all 50
    canonical groups), ledger = the other docs of groups g < 40 only —
    so batch rows in g < 40 come out 'seen', and in g >= 40 the
    batch's min doc per canonical URL is 'new' with the rest
    'batch_dup': all three live statuses are guaranteed by the plant
    ('invalid' needs scheme-less junk the plant never emits — unit-
    tested instead). History streams past the broadcast batch-key set
    map-side; only the batch shuffles for the first-occurrence
    window."""
    docs = load_table(spark, sf, "documents")
    # materialize the planted (doc_id, url) projection ONCE before
    # splitting batch/history: _planted_urls is a ~60-node nested-CASE/
    # regexp tree, and url_incremental_dedup normalizes its input on
    # the batch side, the distinct-key side, AND the history side —
    # without truncation the plant expression rides into every subtree
    # of one plan (the q_split_leakage_domain 44 MiB-task-binary
    # failure mode; round-10 verdict item 2). One localCheckpoint cuts
    # the 6.09 s sf0.1 outlier to the sub-second broadcast-join +
    # batch-window shape the operator actually is.
    u = _planted_urls(docs).localCheckpoint()
    batch = u.where(F.col("doc_id") % 4 == 0)
    history = u.where((F.col("doc_id") % 4 != 0)
                      & (F.col("doc_id") % 50 < 40))
    return (URL.url_incremental_dedup(batch, history, "doc_id", "url")
            .orderBy("doc"))


# suffixes exercised by q_url_psl_domains: 36 entries present in the
# FULL vendored PSL snapshot but ABSENT from the small PUBLIC_SUFFIXES
# table (so the contract proves the large table is actually consulted),
# including four 3-label US-locality entries, plus 4 unlisted tails
# that must fall back to the plain last-two-labels default. Pinned
# against psl_data by tests/test_urls.py.
_PSL_PLANT_SUFFIXES = (
    "com.bo", "tokyo.jp", "hokkaido.jp", "osaka.jp", "bc.ca", "on.ca",
    "qc.ca", "gc.ca", "gouv.fr", "asso.fr", "tur.ar", "coop.br",
    "ac.ir", "com.lb", "com.np", "co.zw", "com.gh", "com.et",
    "gov.bf", "seoul.kr", "busan.kr", "com.kh", "com.mv", "edu.mv",
    "com.iq", "com.af", "ac.rw", "co.tz", "go.tz", "ac.mu", "com.na",
    "mil.ru", "cc.tx.us", "lib.ny.us", "cc.oh.us", "lib.wa.us",
    "com", "org", "io", "dev")


# Platt grid VALUES for the nb_platt twin — generated from the SAME
# tuples operators.classify.platt_grid_fit defaults to (one source of
# truth; binary-exact fractions, see PLATT_A_GRID)
_PLATT_GRID_SQL = ", ".join(
    f"({a!r}, {b!r})" for a in CL.PLATT_A_GRID for b in CL.PLATT_B_GRID)


def q_url_psl_domains(spark, sf):
    """Registered-domain extraction against the FULL vendored PSL
    snapshot (operators.psl_data.PSL_ICANN_FULL, 1621 literal ICANN
    entries vs the 225-entry PUBLIC_SUFFIXES expression table), routed
    through the side-table-join spelling (operators.urls
    .registered_domain_join) — the round-10 verdict's PSL order. The
    plant keys a suffix from _PSL_PLANT_SUFFIXES on g = doc_id % 40
    (every one of the 36 listed suffixes is ABSENT from the small
    table, so a query that silently consulted the old table
    hash-fails), prepends 0-2 extra labels on doc_id % 3 and a :8080
    port on doc_id % 11 — exercising the suffix-only, one-more-label,
    deep-host, 3-label-beats-2-label, and default-tail branches of the
    longest-match rule. Scale shape: two broadcast hash equi-joins
    (one per suffix depth) — the corpus never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    g = (i % 40).cast("int")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _PSL_PLANT_SUFFIXES]), g + 1)
    host = F.concat(F.lit("h"), g.cast("string"), F.lit("."), suffix)
    host = (F.when(i % 3 == 1, F.concat(F.lit("sub."), host))
            .when(i % 3 == 2, F.concat(F.lit("a.b."), host))
            .otherwise(host))
    host = F.when(i % 11 == 0,
                  F.concat(host, F.lit(":8080"))).otherwise(host)
    df = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     host.alias("host"))
    return (URL.registered_domain_join(df, "host", PSL.PSL_ICANN_FULL)
            .select("doc_id", "host", "reg_domain")
            .orderBy("doc_id"))


# host templates exercised by q_url_psl_rules — every wildcard /
# exception branch of the PSL algorithm: a wildcard child that IS a
# public suffix (0, 6, 11), registrable-under-wildcard at exactly one
# more label (1, 7, 12), deep hosts under a wildcard (2, 8), exception
# hosts at / under the rule (3-5, 9-10), literal interplay on the same
# TLD as a wildcard's sibling (13-14), and the plain default (15).
# Pinned against psl_data.PSL_RULES by tests/test_urls.py.
_PSL_RULE_PLANT_HOSTS = (
    "foo.ck", "bar.foo.ck", "x.bar.foo.ck",
    "www.ck", "sub.www.ck", "a.b.www.ck",
    "x9.kawasaki.jp", "a.x9.kawasaki.jp", "z.a.x9.kawasaki.jp",
    "city.kawasaki.jp", "q.city.kawasaki.jp",
    "s7.sch.uk", "my.s7.sch.uk",
    "a.co.uk", "deep.x.tokyo.jp", "plain.org")


def q_url_psl_rules(spark, sf):
    """Registered-domain extraction under the FULL PSL rule set —
    wildcard (``*.ck``, ``*.kawasaki.jp``, ``*.sch.uk``) and exception
    (``!www.ck``, ``!city.kawasaki.jp``) rules resolved by the
    side-table-join spelling (operators.urls.registered_domain_join
    over psl_data.PSL_ICANN_FULL_RULES; the round-11 verdict's PSL
    order — the expression spelling keeps rejecting rules loudly, and
    that divergence is documented on both functions). The plant keys a
    host template from _PSL_RULE_PLANT_HOSTS on doc_id % 16 (every
    wildcard/exception branch: suffix-itself pass-through, registrable
    at wildcard+1 labels, deep hosts, exception at and under the rule,
    literal siblings, default) and appends a :8080 port on
    doc_id % 11 == 0. The twin replays the FULL PSL precedence
    (exception > longest rule > default) in SQL with IN-lists generated
    from the SAME rule tuple. Scale shape: six broadcast hash
    equi-joins, corpus never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    g = (i % 16).cast("int")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _PSL_RULE_PLANT_HOSTS]), g + 1)
    host = F.when(i % 11 == 0,
                  F.concat(host, F.lit(":8080"))).otherwise(host)
    df = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     host.alias("host"))
    return (URL.registered_domain_join(df, "host",
                                       PSL.PSL_ICANN_FULL_RULES)
            .select("doc_id", "host", "reg_domain")
            .orderBy("doc_id"))


def q_html_extract(spark, sf):
    """HTML text extraction (functions.html — the EXTRACT stage web
    pipelines run before any quality/dedup pass): script/style blocks
    removed with their content, tags stripped to spaces, common
    entities decoded (&amp; last — double-decode guard), whitespace
    collapsed; plus the <title> text. The corpus has no HTML column, so
    — the exact-plant discipline — each doc's text is wrapped in
    deterministic doc_id-keyed markup (title, optional script/style/nav
    blocks, an entity-bearing prefix every 7th doc, attributes,
    footer) built from IDENTICAL literals in the twin, which then
    replays the extraction rules as SQL: any rule divergence
    hash-fails on full extracted strings, not summaries. Pure
    expression work — raw HTML reduces to clean text inside the scan
    and never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    gs = i.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), gs, F.lit(" &amp; co</title>"),
        # multi-line body + an embedded "</style>" literal: proves the
        # DOTALL per-tag passes (a non-DOTALL or alternation-close regex
        # leaks the 'if (x)' line or truncates at the stray </style>)
        F.when(i % 3 == 0,
               "<script>var s = \"</style>\";\nif (s) { go(); }</script>")
        .otherwise(""),
        F.when(i % 4 == 0, "<style> p { color: #fff } </style>")
        .otherwise(""),
        F.lit("</head><body>"),
        F.when(i % 5 == 0, "<nav>Home &amp; About</nav>").otherwise(""),
        F.lit('<p id="c'), gs, F.lit('">'),
        F.when(i % 7 == 0,
               "A &amp; B &lt;x&gt; &quot;q&quot; &#39;s&#39; ")
        .otherwise(""),
        F.coalesce(F.col("text"), F.lit("")), F.lit("</p>"),
        F.when(i % 2 == 0, "<div class=\"ft\">&copy; 2024</div>")
        .otherwise(""),
        F.lit("</body></html>"))
    w = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    html.alias("html"))
    return (w.select("doc_id",
                     HT.extract_title(F.col("html")).alias("title"),
                     HT.extract_text(F.col("html")).alias("text_clean"))
            .withColumn("n_chars_clean",
                        F.length("text_clean").cast("long"))
            .orderBy("doc_id"))


def q_domain_quality(spark, sf):
    """Per-domain quality triage (the FineWeb/RefinedWeb exploration
    report that decides which domains get capped, blocked, or kept):
    per registered domain — docs, DISTINCT canonical URLs (mirror
    pressure), Gopher pass count/rate, mean doc length. Composes the
    URL plant + operators.urls extraction with functions.text
    .gopher_quality; the twin composes the PROVEN gopher oracle body
    with the shared _url_cte, so the report can never drift from the
    per-doc contracts. One doc_id equi-join + one domain-grain agg;
    both rates are single divisions of exact integer sums."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    host = URL.url_host(F.col("url"))
    urls = u.select("doc_id", "n_chars",
                    URL.normalize_url(F.col("url")).alias("url_norm"),
                    URL.registered_domain(host).alias("reg_domain"))
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    np = F.sum(F.col("passes_gopher").cast("long"))
    return (urls.join(g, "doc_id")
            .groupBy("reg_domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("url_norm").cast("long").alias("n_urls"),
                 np.cast("long").alias("n_gopher_pass"),
                 F.round(np / F.count(F.lit(1)), 6)
                 .alias("gopher_pass_rate"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .orderBy("reg_domain"))


def q_domain_boilerplate(spark, sf):
    """Per-domain boilerplate line detection (operators.curation
    .boilerplate_lines — the RefinedWeb/CCNet site-chrome strip,
    document-frequency-within-domain rule): a line is chrome when it
    appears in >= 50% of its registered domain's documents and in at
    least 3 of them. The plant (exact-plant discipline): every doc's
    line stream is a 'hdr <domain>' header (100% of the domain — MUST
    be detected), a 'promo <domain>' line on doc_id % 5 < 2 (40% — MUST
    stay under the 50% bar), then the 10-token pseudo-chunks of the
    text (natural dup-group repeats detected only if they really cross
    half the domain). Scale shape: ONE (domain, line)-grain
    count_distinct agg + a broadcast domain-totals join; detection
    output is the tiny over-threshold table. Output: (reg_domain,
    line, line_docs, grp_docs)."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    # ONE localCheckpoint of the (doc, domain) projection: the URL
    # plant + PSL expression would otherwise replicate into all three
    # union branches AND the join side (the q_url_incremental
    # task-binary blowup; round-10 verdict item 2)
    dom = u.select(F.col("doc_id").cast("long").alias("doc"),
                   URL.registered_domain(
                       URL.url_host(F.col("url"))).alias("reg_domain")) \
        .localCheckpoint()
    tok_df = docs.select(F.col("doc_id").cast("long").alias("doc"),
                         TX.tokens("text").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    chunk_arr = F.when(
        F.size("toks") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * 10 + 1, 10), " ")),
    ).otherwise(F.array().cast("array<string>"))
    chunks = tok_df.select("doc", F.explode(chunk_arr).alias("line"))
    hdr = dom.select("doc", F.concat(F.lit("hdr "), "reg_domain")
                     .alias("line"))
    promo = (dom.where(F.col("doc") % 5 < 2)
             .select("doc", F.concat(F.lit("promo "), "reg_domain")
                     .alias("line")))
    lines = (hdr.unionByName(promo).unionByName(chunks)
             .join(dom, "doc"))
    return (CU.boilerplate_lines(lines, "reg_domain", "doc", "line",
                                 min_frac=0.5, min_docs=3)
            .orderBy("reg_domain", "line"))


def q_pipeline_curate_v2(spark, sf):
    """Composed curation pipeline v2 — the round-6/7 operators chained
    the way a production corpus pass runs them: Gopher rules + C4 line
    rules + per-language bottom-quartile length cut + exact-fingerprint
    dedup + MinHash near-dup (bucket-shares-a-smaller-doc rule), one
    verdict row per document with the per-stage flags and the final
    keep. All five stages join on doc_id — one shuffle key end-to-end —
    and the ORACLE is assembled from the per-stage oracle bodies as CTE
    subqueries, so the composition can never drift from the stage
    contracts."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    c = CU.c4_line_filter(docs, "doc_id", "text") \
        .select("doc_id", "passes_c4")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_tokens"))
    q = CU.group_quantile_flag(d, "lang", "n_tokens", q=0.25,
                               flag_col="below_p25") \
        .select("doc_id", "below_p25")
    keepers = DD.dedup_exact(docs, "doc_id", "text") \
        .select("doc_id", F.lit(True).alias("_kept"))
    near = (DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
            .select(F.col("doc0").alias("doc_id")).distinct()
            .withColumn("_near", F.lit(True)))
    out = (g.join(c, "doc_id").join(q, "doc_id")
           .join(keepers, "doc_id", "left")
           .join(near, "doc_id", "left"))
    is_exact_dup = F.col("_kept").isNull()
    is_near_dup = F.col("_near").isNotNull()
    return out.select(
        "doc_id", "passes_gopher", "passes_c4", "below_p25",
        is_exact_dup.alias("is_exact_dup"),
        is_near_dup.alias("is_near_dup"),
        (F.col("passes_gopher") & F.col("passes_c4")
         & ~F.col("below_p25") & ~is_exact_dup & ~is_near_dup)
        .alias("keep"))


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


def q_quality_propagate(spark, sf):
    """Label propagation over the MinHash candidate graph (operators
    .dedup.label_propagation — the graph-assisted-curation capstone
    ordered by the round-9 verdict): sparse seed quality labels (every
    7th doc, labeled by its PROVEN gopher pass flag — micro-unit 1e6 or
    0) spread across near-dup edges for 3 fixed iterations; non-seeds
    start at the neutral 0.5 prior and become their neighborhood mean,
    seeds stay clamped. The recurrence runs in INTEGER micro-units
    (round-7 order-stability lesson: integer sums can never drift
    between engines); the twin replays the identical 3 chained CTEs
    composed with the PROVEN gopher oracle body."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    seeds = (g.where(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.when(F.col("passes_gopher"), F.lit(1_000_000))
                     .otherwise(F.lit(0)).cast("long").alias("label_u")))
    return (DD.label_propagation(pairs, seeds, n_iter=3)
            .select("doc_id", "degree", "is_seed", "score")
            .orderBy("doc_id"))


def q_quality_propagate_conv(spark, sf):
    """Convergence-stopped label propagation (operators.dedup
    .label_propagation with tol_u — the round-10 verdict's graph-family
    follow-through): same planted seeds/graph as quality_propagate, but
    the loop stops at the first iteration whose largest per-node
    movement drops below tol_u = 5000 micro-units (0.005 score),
    bounded by n_iter = 8. The stopping rule is INTEGER (BIGINT
    score deltas, integer MAX — order-independent), so the twin can
    replay it exactly: 8 unrolled CTE iterations, per-step integer
    max-deltas, and the SAME first-below-bound pick — n_iters is an
    output column, making the early stop part of the checked contract.
    Scale shape unchanged from the fixed-iteration operator: one
    edge⋈score join + one keyed integer agg + one scalar max per
    iteration."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text",
                                 n=2, num_hashes=12, bands=4)
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    seeds = (g.where(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.when(F.col("passes_gopher"), F.lit(1_000_000))
                     .otherwise(F.lit(0)).cast("long").alias("label_u")))
    return (DD.label_propagation(pairs, seeds, n_iter=8, tol_u=5000)
            .orderBy("doc_id"))


def q_quality_propagate_weighted(spark, sf):
    """Edge-WEIGHTED label propagation (operators.dedup
    .label_propagation with weight_col over minhash_pair_weights — the
    NEXT.md weighted-graph backlog item): each candidate edge carries the
    INTEGER count of agreeing MinHash signature components (the raw
    Jaccard-estimate numerator — no float anywhere), so close
    near-duplicates pull harder than marginal band collisions. Same
    planted gopher seeds as quality_propagate; the recurrence's
    products, sums, and weighted degrees are all BIGINT —
    order-independent, replayed exactly by the twin's chained CTEs."""
    docs = load_table(spark, sf, "documents")
    pairs = DD.minhash_pair_weights(docs, "doc_id", "text",
                                    n=2, num_hashes=12, bands=4)
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    seeds = (g.where(F.col("doc_id") % 7 == 0)
             .select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.when(F.col("passes_gopher"), F.lit(1_000_000))
                     .otherwise(F.lit(0)).cast("long").alias("label_u")))
    return (DD.label_propagation(pairs, seeds, n_iter=3, weight_col="w")
            .select("doc_id", "degree", "is_seed", "score")
            .orderBy("doc_id"))


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


def q_bigram_logprob(spark, sf):
    """Average negative bigram log-likelihood per doc (add-one-smoothed
    Markov model — the stronger perplexity-filter stand-in: flags common
    words in impossible orders)."""
    docs = load_table(spark, sf, "documents")
    return RV.bigram_logprob(docs, "doc_id", "text")


def q_embedding_outliers(spark, sf):
    """Per-label bottom-5 cosine-to-centroid vectors (mislabeled-data
    sweep); centroids broadcast, corpus scored map-side."""
    emb = load_table(spark, sf, "embeddings")
    return RV.label_centroid_outliers(emb, k=5)


def q_dedup_incremental(spark, sf):
    """Daily-ingest dedup: label the src19 batch against the rest of the
    corpus as exact_dup / near_dup / new (operators.dedup.incremental_dedup
    — history side never shuffles at full width)."""
    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("source") == "src19")
    hist = docs.where(F.col("source") != "src19")
    return DD.incremental_dedup(new, hist, "doc_id", "text")


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


def q_cms_term_counts(spark, sf):
    """Count-Min sketch frequency estimation (operators.sketches.
    cms_build / cms_estimate): a 4x512 CM sketch over every token
    occurrence, point-queried for the exact top-20 tokens and compared
    against their true counts. Contract: the whole estimate surface —
    overcount = cms_est - exact_cnt is >= 0 for EVERY row in both
    engines (the one-sided CM guarantee), and the cell arithmetic is
    integer-only so the sketch tables are bit-identical. 100-TB story:
    the sketch aggregation key space is bounded by depth*width, so
    map-side combine collapses each task to <= 2048 cells before the
    exchange — the VOCABULARY never shuffles (contrast text_heavy_
    hitters' exact recount, which this complements as the
    mergeable-summary alternative)."""
    from casf_spark.operators import sketches as SKC
    docs = load_table(spark, sf, "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("item"))
    cms = SKC.cms_build(toks, "item", width=CMS_W, depth=CMS_D)
    top = (toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
           .orderBy(F.desc("exact_cnt"), F.asc("item")).limit(20))
    est = SKC.cms_estimate(top, "item", cms, width=CMS_W, depth=CMS_D)
    return est.select(
        F.col("item").alias("token"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long")
        .alias("overcount"))


def q_t5_spans(spark, sf):
    """T5 span-corruption examples (operators.curation.
    t5_span_corruption — Raffel et al. 2020 denoising objective): every
    document becomes a (input with <extra_id_K> sentinels, target =
    sentinel + masked tokens) pair, spans hash-seeded (md5(doc:pos) %
    20 starts a 3-token span => ~15% mask rate), overlapping spans
    merged, sentinels numbered left to right. One token-grain explode
    + per-doc windows + one re-assembly agg; everything string/integer
    so both engines build byte-identical examples."""
    docs = load_table(spark, sf, "documents")
    out = CU.t5_span_corruption(docs, "doc_id", "text",
                                every=20, span_len=3)
    return out.withColumnRenamed("doc", "doc_id")


def q_lm_windows(spark, sf):
    """Causal-LM pretraining windows (operators.curation.
    lm_causal_windows): the corpus token stream in doc-id order cut
    into fixed 64-token examples crossing document boundaries — the
    concat-and-chunk objective's data shape (t5_spans covers the
    denoising one). Global offsets via the two-level distributed
    prefix sum (serial window only over chunk totals); integer-div
    window ids; windows partition the stream exactly. Twin: the naive
    single global window (equal by associativity of +)."""
    docs = load_table(spark, sf, "documents")
    return CU.lm_causal_windows(docs, "doc_id", "text", ctx=64)


def q_fim_examples(spark, sf):
    """Fill-in-the-middle examples (operators.curation.fim_examples —
    Bavarian et al. 2022): every >= 8-token document splits at two
    hash-derived cut points into PSM order '<PRE> p <SUF> s <MID> m' —
    the infilling objective, completing the pretraining trio with
    t5_spans (denoising) and lm_windows (causal). Map-only: slices +
    joins in one projection, zero shuffle; byte-identical cross-engine
    (degenerate cuts serialize empty segments in both)."""
    docs = load_table(spark, sf, "documents")
    out = CU.fim_examples(docs, "doc_id", "text", min_tokens=8)
    return out.withColumnRenamed("doc", "doc_id")


def q_skipgram_cooc(spark, sf):
    """Skip-gram window co-occurrence counts (operators.relevance.
    skipgram_cooc — the word2vec positive-pair / GloVe count matrix;
    negative_samples supplies the matching negatives): every (center,
    context) pair within a +/-2 window, counted corpus-wide, floor 5.
    The pair expansion is expression-only (each token emits <= 2w
    pairs map-side — never a doc-keyed positions self-join whose
    intermediates are quadratic in document length); the only shuffle
    is the pair-grain count aggregation."""
    docs = load_table(spark, sf, "documents")
    return RV.skipgram_cooc(docs, "doc_id", "text", window=2,
                            min_count=5)


def q_negative_samples(spark, sf):
    """word2vec negative sampling (operators.relevance.
    negative_sampling_table + negative_draws, Mikolov et al. 2013):
    the count^0.75 distribution over the top-128 vocabulary laid out
    as integer micro-unit cumulative ranges, then 5 deterministic
    weighted draws per key doc (doc_id % 10 == 0) via md5(key:j) %
    total. The range lookup is the bucketized interval-join idiom on a
    1-D weight line: ranges explode into fixed-width buckets, draws
    equi-join on their bucket — no inequality nested-loop, no product
    against the vocabulary; bucket ids use integer `div` end to end."""
    docs = load_table(spark, sf, "documents")
    t = RV.negative_sampling_table(docs, "doc_id", "text", vocab_size=128)
    keys = docs.select("doc_id").where(F.col("doc_id") % 10 == 0)
    out = RV.negative_draws(t, keys, "doc_id", k=5)
    return out.select(F.col("key_val").cast("long").alias("doc_id"),
                      "j", "word")


def q_stream_bloom_state(spark, sf):
    """End state of Bloom-gated streaming dedup (streaming.curation.
    bloom_dedup_replay_batches — the batch twin test_streaming pins
    against the REAL availableNow foreachBatch stream): documents split
    into two micro-batches by doc_id parity; batch 0 keeps per-
    fingerprint representatives and publishes its fixed-size Bloom
    words; batch 1 dedups within itself then probes batch 0's bitmap
    (k broadcast joins, map-only) and drops maybe-seen docs. The oracle
    rebuilds the identical bitmap and replays both batches in SQL —
    the streaming operator's full cross-batch semantics, hash-checked."""
    from casf_spark.streaming.curation import bloom_dedup_replay_batches
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    return bloom_dedup_replay_batches([(0, b0), (1, b1)],
                                      m_bits=BLOOM_M, k=BLOOM_K)


def q_stream_cms_state(spark, sf):
    """End state of streaming Count-Min maintenance (streaming.curation
    .cms_replay_batches — the batch twin test_streaming pins against
    the REAL availableNow foreachBatch stream): documents split into
    THREE micro-batches by doc_id % 3, each batch collapsing to its
    own 4x256 cell table, merged cell-wise and point-queried for the
    exact top-20 tokens. Because counter sums commute, the twin's
    merged sketch is bit-identical to one built over the whole corpus
    — the oracle replays the single build, so the contract IS the
    mergeability property: a wrong per-batch build or merge flips the
    hash. Overcount >= 0 pinned row-wise as in cms_term_counts."""
    from casf_spark.streaming.curation import cms_replay_batches
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batches = [(b, docs.where(F.col("doc_id") % 3 == b))
               for b in range(3)]
    toks = docs.select(F.explode(TX.tokens("text")).alias("item"))
    top = (toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
           .orderBy(F.desc("exact_cnt"), F.asc("item")).limit(20))
    est = cms_replay_batches(batches, top, width=256, depth=4)
    return est.select(
        F.col("item").alias("token"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long")
        .alias("overcount"))


def q_curation_funnel(spark, sf):
    """One-pass cumulative filter funnel over documents: length -> script
    -> token-count survivor counts (operators.curation.curation_funnel)."""
    docs = load_table(spark, sf, "documents")
    return CU.curation_funnel(docs, [
        ("min_chars", F.col("n_chars") >= 60),
        ("latin_script", F.col("lang") != "zh"),
        ("min_tokens", TX.token_count("text") >= 20),
    ])


# ---------------------------------------------------------------------------
# oracle SQL builders for the non-cosine queries
# ---------------------------------------------------------------------------

def _toks_cte(extra_where: str = "") -> str:
    return f"""
toklist AS (SELECT doc_id, {_TOKS} a FROM documents {extra_where}),
toks AS (SELECT CAST(doc_id AS BIGINT) doc, generate_subscripts(a, 1) pos,
                unnest(a) w
         FROM toklist)"""


def _minhash_cte() -> str:
    """WITH-body fragment ending in a ``mh_cand(doc0, doc1)`` CTE of MinHash
    banding candidate pairs (doc0 > doc1 numerically)."""
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
    return f"""{_toks_cte()},
sh AS (
  SELECT DISTINCT t1.doc, t1.w || ' ' || t2.w AS shingle
  FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sig AS (
  SELECT doc,
         {mins}
  FROM sh GROUP BY doc),
bands AS ({bands_sql}),
mh_cand AS MATERIALIZED (
  SELECT DISTINCT a.doc AS doc0, b.doc AS doc1
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc > b.doc)"""
  # ^ MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, so a
  # recursive walk whose recursive term touches (a CTE derived from)
  # mh_cand re-ran the whole tokenize->shingle->minhash->band pipeline
  # EVERY iteration — measured 26.8 s -> 0.8 s on the dedup_clusters
  # twin at sf0.1 with identical results. Non-recursive consumers that
  # reference mh_cand more than once (dedup_triangles' triple join)
  # benefit the same way.


def _minhash_oracle() -> str:
    return f"WITH {_minhash_cte()}\nSELECT doc0, doc1 FROM mh_cand"


def _stream_near_dedup_oracle() -> str:
    """stream_near_dedup_state twin: replays the foreachBatch sink's rules
    over the deterministic batch split (batch = doc_id % 2, processed in
    order). Exact keep = min doc per (batch, fingerprint); MinHash band
    buckets over exact keepers; batch 0 drops only by the within-batch
    star rule; batch 1 additionally drops any doc sharing a bucket with
    the index built from batch-0 FINAL keepers. Docs with < 2 tokens have
    no shingles hence no buckets on either engine — only exact dedup can
    drop them, matching _band_buckets' inner-explode semantics."""
    hash_sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    exprs = minhash_sql_exprs(hash_sql, 12)
    mins = ",\n         ".join(
        f"MIN({e}) AS mh_{i}" for i, e in enumerate(exprs))
    bands = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 3 + r} AS VARCHAR)" for r in range(3))
        bands.append(
            f"SELECT doc, batch, {b} AS band, {cols} AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(bands)
    return f"""
WITH fp AS (
  SELECT CAST(doc_id AS BIGINT) doc, CAST(doc_id % 2 AS BIGINT) batch,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fp
  FROM documents),
keepx AS (SELECT batch, fp, MIN(doc) doc FROM fp GROUP BY batch, fp),
t AS (SELECT k.doc, k.batch, {_TOKS} a
      FROM keepx k JOIN documents d ON CAST(d.doc_id AS BIGINT) = k.doc),
toks AS (SELECT doc, batch, generate_subscripts(a, 1) pos, unnest(a) w
         FROM t),
sh AS (SELECT DISTINCT t1.doc, t1.batch, t1.w || ' ' || t2.w AS shingle
       FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sig AS (SELECT doc, batch,
         {mins}
        FROM sh GROUP BY doc, batch),
bands AS ({bands_sql}),
bmin AS (SELECT batch, band, bucket, MIN(doc) mn
         FROM bands GROUP BY 1, 2, 3),
intra AS (SELECT DISTINCT b.batch, b.doc
          FROM bands b JOIN bmin m
            ON m.batch = b.batch AND m.band = b.band AND m.bucket = b.bucket
          WHERE b.doc > m.mn),
keep0 AS (SELECT k.doc FROM keepx k
          WHERE k.batch = 0
            AND k.doc NOT IN (SELECT doc FROM intra WHERE batch = 0)),
idx0 AS (SELECT DISTINCT band, bucket FROM bands
         WHERE batch = 0 AND doc IN (SELECT doc FROM keep0)),
hist1 AS (SELECT DISTINCT b.doc FROM bands b
          JOIN idx0 i ON b.band = i.band AND b.bucket = i.bucket
          WHERE b.batch = 1),
keep1 AS (SELECT k.doc FROM keepx k
          WHERE k.batch = 1
            AND k.doc NOT IN (SELECT doc FROM hist1)
            AND k.doc NOT IN (SELECT doc FROM intra WHERE batch = 1))
SELECT k.doc, k.batch AS batch_id, k.fp
FROM keepx k
WHERE (k.batch = 0 AND k.doc IN (SELECT doc FROM keep0))
   OR (k.batch = 1 AND k.doc IN (SELECT doc FROM keep1))"""


def _vsql_sqd(a: str, b: str) -> str:
    """DuckDB squared-L2 between two list columns (cast-to-double cells —
    the exact expression V-side sq_dist evaluates)."""
    return (f"list_sum(list_transform(range(len({a})), "
            f"i -> (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE)) "
            f"* (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))))")


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


def _stream_bloom_oracle() -> str:
    """stream_bloom_state twin: replay both micro-batches in SQL —
    batch-0 per-fingerprint argmin representatives, the identical Bloom
    bitmap over them, batch-1 argmin + bitmap probe. Positions derive
    from the fingerprint's own md5 prefix (the same bytes Spark's
    md5_long(normalize_text) reads)."""
    from casf_spark.functions.hashing import position_sql_exprs

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    h = "CAST('0x' || substr(fp, 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, BLOOM_K, BLOOM_M)
    hpos = "\nUNION ALL\n".join(f"SELECT {p} AS p FROM k0" for p in pos)
    bcols = ",\n         ".join(f"{p} AS p{i}" for i, p in enumerate(pos))
    joins = "\n".join(f"LEFT JOIN words w{i} ON w{i}.w = b.p{i} // 63"
                      for i in range(BLOOM_K))
    hits = " AND ".join(
        f"COALESCE(((w{i}.bits >> CAST(b.p{i} % 63 AS INT)) & 1) = 1, FALSE)"
        for i in range(BLOOM_K))
    return f"""
WITH b0 AS (SELECT CAST(doc_id AS BIGINT) doc, md5({norm}) fp
            FROM documents WHERE doc_id % 2 = 0),
b1 AS (SELECT CAST(doc_id AS BIGINT) doc, md5({norm}) fp
       FROM documents WHERE doc_id % 2 = 1),
k0 AS (SELECT fp, MIN(doc) doc FROM b0 GROUP BY fp),
hpos AS ({hpos}),
words AS (SELECT p // 63 AS w,
                 bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
          FROM hpos GROUP BY 1),
k1 AS (SELECT fp, MIN(doc) doc FROM b1 GROUP BY fp),
k1p AS (SELECT doc, fp,
          {bcols}
        FROM k1),
k1s AS (SELECT b.doc, b.fp
        FROM k1p b
{joins}
        WHERE NOT ({hits}))
SELECT doc, 0 AS batch_id, fp FROM k0
UNION ALL
SELECT doc, 1 AS batch_id, fp FROM k1s"""


def _cms_oracle() -> str:
    """cms_term_counts twin: the identical 4x512 integer cell table
    (same constants, same md5-derived columns), point-queried for the
    same deterministic top-20."""
    from casf_spark.functions.hashing import position_sql_exprs

    h = "CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, CMS_D, CMS_W, seed=11)
    cells = "\nUNION ALL\n".join(
        f"SELECT {r} AS row_idx, {p} AS col_idx FROM t"
        for r, p in enumerate(pos))
    qcells = "\nUNION ALL\n".join(
        f"SELECT item, exact_cnt, {r} AS row_idx, {p} AS col_idx FROM top"
        for r, p in enumerate(pos))
    return f"""
WITH t AS (SELECT unnest({_TOKS}) AS item FROM documents),
top AS (SELECT item, COUNT(*) AS exact_cnt FROM t GROUP BY item
        ORDER BY exact_cnt DESC, item LIMIT 20),
cells AS ({cells}),
cms AS (SELECT row_idx, col_idx, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
qc AS ({qcells})
SELECT item AS token, exact_cnt,
       MIN(COALESCE(cms.cnt, 0)) AS cms_est,
       MIN(COALESCE(cms.cnt, 0)) - exact_cnt AS overcount
FROM qc LEFT JOIN cms USING (row_idx, col_idx)
GROUP BY item, exact_cnt"""


def _cms_stream_oracle() -> str:
    """stream_cms_state twin: the single whole-corpus 4x256 build —
    equal to the Spark side's merged per-batch sketches by counter-sum
    commutativity (the mergeability property IS the contract)."""
    from casf_spark.functions.hashing import position_sql_exprs

    h = "CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, 4, 256, seed=11)
    cells = "\nUNION ALL\n".join(
        f"SELECT {r} AS row_idx, {p} AS col_idx FROM t"
        for r, p in enumerate(pos))
    qcells = "\nUNION ALL\n".join(
        f"SELECT item, exact_cnt, {r} AS row_idx, {p} AS col_idx FROM top"
        for r, p in enumerate(pos))
    return f"""
WITH t AS (SELECT unnest({_TOKS}) AS item FROM documents),
top AS (SELECT item, COUNT(*) AS exact_cnt FROM t GROUP BY item
        ORDER BY exact_cnt DESC, item LIMIT 20),
cells AS ({cells}),
cms AS (SELECT row_idx, col_idx, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
qc AS ({qcells})
SELECT item AS token, exact_cnt,
       MIN(COALESCE(cms.cnt, 0)) AS cms_est,
       MIN(COALESCE(cms.cnt, 0)) - exact_cnt AS overcount
FROM qc LEFT JOIN cms USING (row_idx, col_idx)
GROUP BY item, exact_cnt"""


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


def _bpe_oracle(n_merges: int = 8, encode: bool = False) -> str:
    """bpe_merges twin: the identical chained merge stages — marker
    strings, pair counts from regexp re-extraction, 1-row argmax
    (count desc, lsym, rsym), literal replace — generated per step.
    With ``encode=True``, emits the fully-merged per-document symbol
    sequence instead of the merge table (the bpe_encode twin)."""
    toks = ("list_filter(regexp_split_to_array(lower(COALESCE(text, '')), "
            "'[^a-z0-9]+'), t -> t <> '')")
    parts = [f"""s0 AS (
  SELECT CAST(doc_id AS BIGINT) doc,
         CASE WHEN len(a) > 0
              THEN '<' || array_to_string(a, '><') || '>'
              ELSE '' END s
  FROM (SELECT doc_id, {toks} a FROM documents))"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT doc, regexp_extract_all(s, '<([^>]*)>', 1) a FROM s{i - 1}),
p{i} AS (
  SELECT a[j + 1] lsym, a[j + 2] rsym, COUNT(*) c
  FROM t{i}, unnest(range(len(a) - 1)) u(j) GROUP BY 1, 2),
m{i} AS (SELECT lsym, rsym, CAST(c AS BIGINT) pair_count FROM p{i}
         ORDER BY c DESC, lsym, rsym LIMIT 1)""")
        if i < n_merges or encode:
            # LEFT JOIN ON TRUE + COALESCE, not CROSS JOIN: when the
            # corpus exhausts adjacent pairs early, m{i} is empty and a
            # cross join would wipe every row (and the encode oracle
            # would return zero documents); NULL lsym/rsym makes the
            # replace NULL, so COALESCE falls back to the unchanged s —
            # mirroring the Spark operator's break-on-empty-argmax.
            parts.append(f"""s{i} AS MATERIALIZED (
  SELECT doc, COALESCE(replace(s, '<' || lsym || '><' || rsym || '>',
                      '<' || lsym || '+' || rsym || '>'), s) s
  FROM s{i - 1} LEFT JOIN m{i} ON TRUE)""")
    if encode:
        # COALESCE: duckdb array_to_string([]) is NULL, Spark array_join
        # of an empty array is '' (bit only on empty/NULL-text documents)
        tail = f"""SELECT doc AS doc_id,
       CAST(len(a) AS BIGINT) n_symbols,
       COALESCE(array_to_string(a, ' '), '') symbols_str
FROM (SELECT doc, regexp_extract_all(s, '<([^>]*)>', 1) a
      FROM s{n_merges})"""
    else:
        tail = "\nUNION ALL\n".join(
            f"SELECT CAST({i} AS BIGINT) step, lsym, rsym, pair_count "
            f"FROM m{i}"
            for i in range(1, n_merges + 1))
    return "WITH " + ",\n".join(parts) + "\n" + tail


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


def _nb_cv_oracle(n_folds: int = 5) -> str:
    """nb_cv twin: the PROVEN nb_lang_eval training/scoring body
    replayed once per fold (CTEs suffixed per fold; the shared token
    list MATERIALIZED — the DuckDB CTE re-expansion lesson)."""
    parts = ["""toklist AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) doc,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') a
  FROM documents)"""]
    selects = []
    for f in range(n_folds):
        parts.append(f"""lab{f} AS (
  SELECT CAST(doc_id AS VARCHAR) doc,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
  FROM documents WHERE doc_id % {n_folds} <> {f} AND lang IS NOT NULL),
ttoks{f} AS (SELECT t.doc, unnest(t.a) w, l.y
             FROM toklist t JOIN lab{f} l USING (doc)),
tc{f} AS (SELECT w term, CAST(SUM(y) AS DOUBLE) c_pos,
                 CAST(SUM(1 - y) AS DOUBLE) c_neg, COUNT(*) cnt
          FROM ttoks{f} GROUP BY 1),
vocab{f} AS MATERIALIZED (
  SELECT * FROM tc{f} ORDER BY cnt DESC, term ASC LIMIT 25),
tot{f} AS (SELECT SUM(c_pos) t_pos, SUM(c_neg) t_neg,
                  CAST(COUNT(*) AS DOUBLE) v
           FROM vocab{f}),
model{f} AS (SELECT term,
               CAST(FLOOR((ln((c_pos + 1.0) / (t_pos + v))
                           - ln((c_neg + 1.0) / (t_neg + v)))
                          * 1000000.0 + 0.5) AS BIGINT) lr_u
             FROM vocab{f} CROSS JOIN tot{f}),
prior{f} AS (SELECT CAST(FLOOR((ln(n_pos) - ln(n_neg)) * 1000000.0
                               + 0.5) AS BIGINT) prior_u
             FROM (SELECT CAST(SUM(y) AS DOUBLE) n_pos,
                          CAST(SUM(1 - y) AS DOUBLE) n_neg
                   FROM lab{f})),
held{f} AS (SELECT CAST(doc_id AS VARCHAR) doc,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
            FROM documents WHERE doc_id % {n_folds} = {f}),
stoks{f} AS (SELECT t.doc, unnest(t.a) w
             FROM toklist t JOIN held{f} USING (doc)),
hit{f} AS (SELECT s.doc, CAST(SUM(m.lr_u) AS BIGINT) sum_u
           FROM stoks{f} s JOIN model{f} m ON s.w = m.term GROUP BY 1),
sc{f} AS (SELECT h.doc, h.y,
                 ((p.prior_u + COALESCE(x.sum_u, 0)) >= 0) pred
          FROM held{f} h
          LEFT JOIN hit{f} x ON h.doc = x.doc
          CROSS JOIN prior{f} p),
cm{f} AS (SELECT CAST(COUNT(*) AS BIGINT) n,
                 CAST(SUM(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END)
                      AS BIGINT) n_correct
          FROM sc{f})""")
        selects.append(
            f"SELECT {f} AS fold, n AS n_heldout, n_correct, "
            f"ROUND(n_correct * 1.0 / n, 6) AS accuracy FROM cm{f}")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(selects))


def _viterbi_cte_parts(max_word_len: int = 12, max_piece_len: int = 4,
                       vocab_size: int = 64) -> list[str]:
    """Shared Viterbi CTE core: the EXACT Viterbi DP as chained
    position CTEs — b{j} holds, per distinct word of length >= j, the
    single best (cost, segmentation) of its first j characters. Each
    b{j} extends b{j-k} (k = 1..min(max_piece_len, j)) with the piece
    substr(word, j-k+1, k): vocabulary pieces score from the SAME
    frequency table as unigram_lm_scores; an out-of-vocabulary SINGLE
    character falls back to (min score - 10); longer OOV pieces are not
    candidates. Argmax per (word, j) is ORDER BY c DESC, i ASC —
    identical to the Spark DP's strictly-greater first-win scan (the
    smallest start index, i.e. the LONGEST final piece, wins ties).
    Because piece scores are 6dp-rounded and each path adds the same
    doubles in the same order, costs are bit-equal across engines and
    the argmax can never split. CTEs are MATERIALIZED (each b{j} is
    referenced by up to max_piece_len later stages — the kcenter
    exponential-inlining lesson). ``max_word_len`` must cover the
    corpus's longest token (measured 8 at sf0.1; 12 gives headroom) —
    and the guard is REAL: `final` carries an error() branch that makes
    DuckDB abort with a named error if any corpus word is longer, so an
    oversize word surfaces as a clear failure instead of a silently
    NULL-joined row and an opaque hash mismatch."""
    vocab = f"""toklist AS (
  SELECT CAST(doc_id AS BIGINT) doc,
         list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                           '[^a-z0-9]+'),
                     t -> t <> '') a
  FROM documents),
tk AS (SELECT doc, generate_subscripts(a, 1) pos, unnest(a) w
       FROM toklist),
subs AS (
  SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
           i -> list_transform(
                  range(1, LEAST({max_piece_len},
                                 length(w) - i + 1) + 1),
                  l -> substr(w, CAST(i AS INT), CAST(l AS INT))))))
         piece
  FROM tk),
pc AS (SELECT piece, CAST(COUNT(*) AS BIGINT) cnt FROM subs GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM pc),
top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece
        LIMIT {vocab_size}),
pieces AS MATERIALIZED (
  SELECT piece, ROUND(ln(cnt / total), 6) s FROM top CROSS JOIN tot),
flo AS (SELECT MIN(s) - 10.0 f FROM pieces),
words AS (SELECT DISTINCT w word FROM tk),
b0 AS (SELECT word, CAST(0.0 AS DOUBLE) c, '' seg, 0 np FROM words)"""
    parts = [vocab]
    for j in range(1, max_word_len + 1):
        cands = []
        for k in range(1, min(max_piece_len, j) + 1):
            oov = (f"COALESCE(p.s, flo.f)" if k == 1 else "p.s")
            guard = "" if k == 1 else " AND p.piece IS NOT NULL"
            cands.append(f"""      SELECT b.word, b.c + {oov} c,
             b.seg || CASE WHEN b.seg = '' THEN '' ELSE ' ' END
                   || substr(b.word, {j - k + 1}, {k}) seg,
             b.np + 1 np, {j - k} i
      FROM b{j - k} b CROSS JOIN flo
      LEFT JOIN pieces p ON p.piece = substr(b.word, {j - k + 1}, {k})
      WHERE length(b.word) >= {j}{guard}""")
        union = "\n      UNION ALL\n".join(cands)
        parts.append(f"""b{j} AS MATERIALIZED (
  SELECT word, c, seg, np FROM (
    SELECT word, c, seg, np,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY c DESC, i ASC) rn
    FROM (
{union}
    )) WHERE rn = 1)""")
    finals = "\n  UNION ALL\n".join(
        f"  SELECT word, seg, np FROM b{j} WHERE length(word) = {j}"
        for j in range(1, max_word_len + 1))
    # real oversize guard: a word longer than max_word_len matches no
    # length(word) = j branch above and would otherwise LEFT-JOIN to
    # NULL downstream (silent undercount -> opaque hash mismatch);
    # error() aborts the oracle with a named failure instead.
    finals += (
        "\n  UNION ALL\n  SELECT word, error('unigram_lm_segment oracle:"
        f" word exceeds max_word_len={max_word_len}: ' || word) seg,"
        f" 0 np FROM words WHERE length(word) > {max_word_len}")
    parts.append(f"""final AS (
{finals}
)""")
    return parts


def _viterbi_oracle(max_word_len: int = 12, max_piece_len: int = 4,
                    vocab_size: int = 64) -> str:
    """unigram_lm_segment twin: the shared Viterbi CTE core + per-doc
    piece-stream assembly (see :func:`_viterbi_cte_parts`)."""
    parts = _viterbi_cte_parts(max_word_len, max_piece_len, vocab_size)
    return "WITH " + ",\n".join(parts) + """
SELECT dl.doc AS doc_id,
       CAST(COALESCE(SUM(f.np), 0) AS BIGINT) n_pieces,
       COALESCE(string_agg(f.seg, ' ' ORDER BY t.pos), '') pieces_str
FROM (SELECT DISTINCT doc FROM toklist) dl
LEFT JOIN tk t ON t.doc = dl.doc
LEFT JOIN final f ON f.word = t.w
GROUP BY dl.doc"""


def _unigram_em_oracle(max_word_len: int = 12, max_piece_len: int = 4,
                       vocab_size: int = 64) -> str:
    """unigram_lm_em twin: the SAME Viterbi core (identical segments),
    then piece-usage counts weighted by word occurrence, re-scored
    ln(cnt/total); OOV fallback pieces carry a NULL old_score."""
    parts = _viterbi_cte_parts(max_word_len, max_piece_len, vocab_size)
    parts.append("""wc AS (SELECT w word, COUNT(*) occ FROM tk GROUP BY 1)""")
    parts.append("""use AS (
  SELECT unnest(string_split(f.seg, ' ')) piece, wc.occ
  FROM final f JOIN wc ON wc.word = f.word)""")
    parts.append("""ucnt AS (
  SELECT piece, CAST(SUM(occ) AS BIGINT) cnt FROM use
  WHERE piece <> '' GROUP BY 1)""")
    parts.append("""utot AS (SELECT CAST(SUM(cnt) AS DOUBLE) t FROM ucnt)""")
    return "WITH " + ",\n".join(parts) + """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ucnt.piece) AS BIGINT)
         AS "rank",
       ucnt.piece AS piece, cnt, p.s AS old_score,
       ROUND(ln(cnt / utot.t), 6) AS new_score
FROM ucnt CROSS JOIN utot
LEFT JOIN pieces p ON p.piece = ucnt.piece"""


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


def _label_prop_oracle(gopher_sql: str, n_iter: int = 3) -> str:
    """quality_propagate twin: the MinHash candidate graph symmetrized,
    seeds composed from the PROVEN gopher oracle body (every 7th doc,
    micro-unit label), then ``n_iter`` chained score CTEs in INTEGER
    MICRO-UNITS mirroring dedup.label_propagation exactly — seeds
    clamped, non-seeds = floor(SUM(neighbor_u)/degree + 0.5) with the
    SUM cast to BIGINT before the single float division (integer sums
    are order-independent; BIGINT/BIGINT division is IEEE-identical on
    identical operands)."""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""it{i} AS (
  SELECT d.src AS doc_id,
         CASE WHEN s.doc_id IS NOT NULL THEN s.label_u
              ELSE CAST(FLOOR(CAST(COALESCE(c.sum_u, 0) AS BIGINT)
                              / d.degree + 0.5) AS BIGINT) END score_u
  FROM deg d
  LEFT JOIN seeds s ON s.doc_id = d.src
  LEFT JOIN (SELECT e.dst, CAST(SUM(r.score_u) AS BIGINT) sum_u
             FROM edges e JOIN {prev} r ON r.doc_id = e.src
             GROUP BY 1) c ON c.dst = d.src)""")
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH {_minhash_cte()},
edges AS (SELECT doc0 src, doc1 dst FROM mh_cand
          UNION ALL SELECT doc1, doc0 FROM mh_cand),
deg AS (SELECT src, COUNT(*) degree FROM edges GROUP BY 1),
gq AS ({gopher_sql}),
seeds AS (SELECT CAST(doc_id AS BIGINT) doc_id,
                 CAST(CASE WHEN passes_gopher THEN 1000000 ELSE 0 END
                      AS BIGINT) label_u
          FROM gq WHERE doc_id % 7 = 0),
r0 AS (SELECT d.src AS doc_id,
              COALESCE(s.label_u, CAST(500000 AS BIGINT)) score_u
       FROM deg d LEFT JOIN seeds s ON s.doc_id = d.src),
{its_sql}
SELECT d.src AS doc_id, CAST(d.degree AS BIGINT) degree,
       s.doc_id IS NOT NULL AS is_seed,
       ROUND({prev}.score_u / 1000000.0, 6) score
FROM deg d
LEFT JOIN seeds s ON s.doc_id = d.src
JOIN {prev} ON {prev}.doc_id = d.src
ORDER BY doc_id"""


def _label_prop_conv_oracle(gopher_sql: str, tol_u: int = 5000,
                            max_iter: int = 8) -> str:
    """quality_propagate_conv twin: the _label_prop_oracle recurrence
    unrolled to ``max_iter`` chained CTEs, plus per-step INTEGER
    max-deltas (MAX(ABS(BIGINT - BIGINT)) — order-independent, so both
    engines agree on WHICH step converged) and the first-below-bound
    pick; the output joins the scores of exactly that step and carries
    the step index as ``n_iters``."""
    its, ds = [], []
    prev = "r0"
    for i in range(1, max_iter + 1):
        # MATERIALIZED: each step is referenced by the next step, its
        # delta CTE, and the final union — without it DuckDB's CTE
        # inlining re-expands the whole chain per reference
        # (exponential in max_iter; 8 steps never finished)
        its.append(f"""it{i} AS MATERIALIZED (
  SELECT d.src AS doc_id,
         CASE WHEN s.doc_id IS NOT NULL THEN s.label_u
              ELSE CAST(FLOOR(CAST(COALESCE(c.sum_u, 0) AS BIGINT)
                              / d.degree + 0.5) AS BIGINT) END score_u
  FROM deg d
  LEFT JOIN seeds s ON s.doc_id = d.src
  LEFT JOIN (SELECT e.dst, CAST(SUM(r.score_u) AS BIGINT) sum_u
             FROM edges e JOIN {prev} r ON r.doc_id = e.src
             GROUP BY 1) c ON c.dst = d.src)""")
        ds.append(f"""d{i} AS (
  SELECT COALESCE(MAX(ABS(a.score_u - b.score_u)), 0) dm
  FROM it{i} a JOIN {prev} b USING (doc_id))""")
        prev = f"it{i}"
    conv_case = "\n".join(
        f"WHEN (SELECT dm FROM d{i}) < {tol_u} THEN {i}"
        for i in range(1, max_iter + 1))
    alls = "\nUNION ALL ".join(
        f"SELECT {i} i, doc_id, score_u FROM it{i}"
        for i in range(1, max_iter + 1))
    its_sql = ",\n".join(its)
    ds_sql = ",\n".join(ds)
    return f"""
WITH {_minhash_cte()},
edges AS MATERIALIZED (SELECT doc0 src, doc1 dst FROM mh_cand
          UNION ALL SELECT doc1, doc0 FROM mh_cand),
deg AS MATERIALIZED (SELECT src, COUNT(*) degree FROM edges GROUP BY 1),
gq AS ({gopher_sql}),
seeds AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) doc_id,
                 CAST(CASE WHEN passes_gopher THEN 1000000 ELSE 0 END
                      AS BIGINT) label_u
          FROM gq WHERE doc_id % 7 = 0),
r0 AS MATERIALIZED (SELECT d.src AS doc_id,
              COALESCE(s.label_u, CAST(500000 AS BIGINT)) score_u
       FROM deg d LEFT JOIN seeds s ON s.doc_id = d.src),
{its_sql},
{ds_sql},
conv AS (SELECT CASE {conv_case} ELSE {max_iter} END n_it),
alls AS ({alls})
SELECT d.src AS doc_id, CAST(d.degree AS BIGINT) degree,
       s.doc_id IS NOT NULL AS is_seed,
       ROUND(a.score_u / 1000000.0, 6) score,
       CAST(cv.n_it AS BIGINT) n_iters
FROM deg d
LEFT JOIN seeds s ON s.doc_id = d.src
CROSS JOIN conv cv
JOIN alls a ON a.doc_id = d.src AND a.i = cv.n_it
ORDER BY doc_id"""


def _label_prop_weighted_oracle(gopher_sql: str, n_iter: int = 3,
                                num_hashes: int = 12) -> str:
    """quality_propagate_weighted twin: _minhash_cte's ``sig`` relation
    joined onto the candidate pairs for the integer agreement-count
    weights, then the _label_prop_oracle recurrence with weighted
    BIGINT numerators and weighted degrees — every term integer, one
    IEEE-identical division per node per step."""
    agree = " + ".join(
        f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes))
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(f"""it{i} AS MATERIALIZED (
  SELECT d.src AS doc_id,
         CASE WHEN s.doc_id IS NOT NULL THEN s.label_u
              WHEN d.wdeg > 0 THEN
                CAST(FLOOR(CAST(COALESCE(c.sum_wu, 0) AS BIGINT)
                           / d.wdeg + 0.5) AS BIGINT)
              ELSE CAST(500000 AS BIGINT) END score_u
  FROM deg d
  LEFT JOIN seeds s ON s.doc_id = d.src
  LEFT JOIN (SELECT e.dst, CAST(SUM(e.w * r.score_u) AS BIGINT) sum_wu
             FROM edges e JOIN {prev} r ON r.doc_id = e.src
             GROUP BY 1) c ON c.dst = d.src)""")
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH {_minhash_cte()},
wpairs AS MATERIALIZED (
  SELECT c.doc0, c.doc1, CAST({agree} AS BIGINT) w
  FROM mh_cand c
  JOIN sig a ON a.doc = c.doc0
  JOIN sig b ON b.doc = c.doc1),
edges AS MATERIALIZED (
  SELECT doc0 src, doc1 dst, w FROM wpairs
  UNION ALL SELECT doc1, doc0, w FROM wpairs),
deg AS MATERIALIZED (
  SELECT src, COUNT(*) degree, CAST(SUM(w) AS BIGINT) wdeg
  FROM edges GROUP BY 1),
gq AS ({gopher_sql}),
seeds AS MATERIALIZED (SELECT CAST(doc_id AS BIGINT) doc_id,
                 CAST(CASE WHEN passes_gopher THEN 1000000 ELSE 0 END
                      AS BIGINT) label_u
          FROM gq WHERE doc_id % 7 = 0),
r0 AS MATERIALIZED (SELECT d.src AS doc_id,
              COALESCE(s.label_u, CAST(500000 AS BIGINT)) score_u
       FROM deg d LEFT JOIN seeds s ON s.doc_id = d.src),
{its_sql}
SELECT d.src AS doc_id, CAST(d.degree AS BIGINT) degree,
       s.doc_id IS NOT NULL AS is_seed,
       ROUND({prev}.score_u / 1000000.0, 6) score
FROM deg d
LEFT JOIN seeds s ON s.doc_id = d.src
JOIN {prev} ON {prev}.doc_id = d.src
ORDER BY doc_id"""


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


_QUALITY_TOKS = _TOKS
_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def _marker_score(markers: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"CAST(len(list_filter(a, t -> list_contains({lst}, t))) AS BIGINT)"


def _url_cte() -> str:
    """Shared URL-family oracle chain: the raw-URL plant (IDENTICAL
    literal construction to _planted_urls, keyed on g = doc_id % 50)
    followed by the full operators.urls normalization pipeline run as
    SQL — relation ``u`` exposes (doc_id, n_chars, url, url_norm, host,
    reg_domain). Any divergence between the Spark rules and these SQL
    rules hash-fails all four url_* / domain_* contracts. The suffix
    IN-lists are generated from the SAME vendored PUBLIC_SUFFIXES table
    the Spark rule folds in — one source of truth for both engines."""
    two, three = URL._split_by_depth(URL.PUBLIC_SUFFIXES)
    suf2 = ", ".join(f"'{s}'" for s in two)
    suf3 = ", ".join(f"'{s}'" for s in three)
    labs = "string_split(hnp, '.')"
    last2 = f"{labs}[-2] || '.' || {labs}[-1]"
    last3 = f"{labs}[-3] || '.' || {last2}"
    return rf"""u_raw AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, CAST(n_chars AS BIGINT) n_chars,
         CAST(doc_id % 50 AS BIGINT) g
  FROM documents),
u_p1 AS (
  SELECT *,
    CASE WHEN g % 2 = 0 THEN 'https' ELSE 'http' END sch,
    CASE WHEN g = 7 THEN 'k12.ca.us' WHEN g = 31 THEN 'k12.ny.us'
         ELSE CASE g % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                         WHEN 2 THEN 'net' ELSE 'co.uk' END END tld
  FROM u_raw),
u_p2 AS (
  SELECT *,
    CASE WHEN g % 7 = 3 THEN 'news.' ELSE '' END
      || 'site' || CAST(g % 10 AS VARCHAR) || '.' || tld hostc
  FROM u_p1),
u_p3 AS (
  SELECT *,
    CASE WHEN doc_id % 8 = 0 THEN upper(sch) ELSE sch END sch_raw,
    CASE WHEN doc_id % 4 = 0 THEN 'www.' || hostc
         WHEN doc_id % 4 = 2 THEN upper(hostc) ELSE hostc END auth,
    CASE WHEN g = 13 THEN ':8080'
         WHEN doc_id % 7 = 0 THEN
      CASE WHEN g % 2 = 0 THEN ':443' ELSE ':80' END ELSE '' END port,
    (CASE WHEN g = 25 THEN '/' WHEN g = 30 THEN ''
          ELSE '/a/' || CAST(g AS VARCHAR) END)
      || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END praw,
    CASE WHEN g % 5 = 4 THEN ''
         WHEN g % 2 = 0 AND doc_id % 9 = 0
           THEN 'v=1&id=' || CAST(g AS VARCHAR)
         WHEN g % 2 = 0 THEN 'id=' || CAST(g AS VARCHAR) || '&v=1'
         ELSE 'id=' || CAST(g AS VARCHAR) END repar,
    CASE WHEN doc_id % 3 = 0
      THEN 'utm_source=feed&utm_campaign=c' || CAST(doc_id % 2 AS VARCHAR)
      ELSE '' END track
  FROM u_p2),
u_p4 AS (
  SELECT *,
    CASE WHEN track <> '' AND repar <> '' THEN track || '&' || repar
         WHEN track <> '' THEN track ELSE repar END qstr
  FROM u_p3),
u_p5 AS (
  SELECT doc_id, n_chars,
    sch_raw || '://' || auth || port || praw
      || CASE WHEN qstr <> '' THEN '?' || qstr
              WHEN doc_id % 2 = 0 THEN '?' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN '#s' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END url
  FROM u_p4),
u_n1 AS (SELECT *, regexp_replace(url, '#.*$', '') nu FROM u_p5),
u_n2 AS (
  SELECT *,
    lower(regexp_extract(nu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
    lower(regexp_extract(nu,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) auth0,
    regexp_extract(nu,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) p0,
    regexp_extract(nu, '\?([^#]*)', 1) q0
  FROM u_n1),
u_n3 AS (
  SELECT *,
    regexp_replace(
      CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
             THEN substr(auth0, 1, length(auth0) - 3)
           WHEN scheme = 'https' AND auth0 LIKE '%:443'
             THEN substr(auth0, 1, length(auth0) - 4)
           ELSE auth0 END, '^www\.', '') host,
    CASE WHEN regexp_replace(p0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(p0, '/+$', '') END path,
    COALESCE(array_to_string(list_sort(list_filter(string_split(q0, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
        '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&'), '') qn
  FROM u_n2),
u_n4 AS (
  SELECT *, regexp_replace(host, ':[0-9]+$', '') hnp FROM u_n3),
u AS (
  SELECT doc_id, n_chars, url,
    CASE WHEN scheme = '' THEN NULL
         ELSE scheme || '://' || host || path
           || CASE WHEN qn = '' THEN '' ELSE '?' || qn END END url_norm,
    host,
    CASE WHEN length({labs}) <= 2 THEN hnp
         WHEN {last3} IN ({suf3}) AND length({labs}) >= 4
           THEN {labs}[-4] || '.' || {last3}
         WHEN {last3} IN ({suf3}) THEN hnp
         WHEN {last2} IN ({suf2}) THEN {labs}[-3] || '.' || {last2}
         ELSE {last2} END reg_domain
  FROM u_n4)"""


def _curate_oracle() -> str:
    s = {lang: _marker_score(m) for lang, m in TX.LANG_MARKERS.items()}
    g = "GREATEST(score_en, score_es, score_fr, score_de)"
    return f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, text, {_TOKS} a
           FROM documents),
feats AS (
  SELECT doc_id,
    CAST(len(a) AS BIGINT) n_tokens,
    ROUND(CASE WHEN len(a) > 0
          THEN CAST(len(list_filter(a, t -> list_contains({_STOP_LIST}, t)))
               AS DOUBLE) / len(a) ELSE 0.0 END, 6) stopword_ratio,
    ROUND(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
          AS DOUBLE) / GREATEST(length(text), 1), 6) digit_ratio,
    {s['en']} score_en, {s['es']} score_es,
    {s['fr']} score_fr, {s['de']} score_de,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fp
  FROM t),
langed AS (
  SELECT *, CASE WHEN {g} = 0 THEN 'und'
                 WHEN score_en = {g} THEN 'en'
                 WHEN score_es = {g} THEN 'es'
                 WHEN score_fr = {g} THEN 'fr'
                 ELSE 'de' END AS pred_lang
  FROM feats),
kept AS (
  SELECT * FROM langed
  WHERE n_tokens >= 20 AND stopword_ratio <= 0.15
    AND digit_ratio <= 0.3 AND pred_lang IN ('en')),
uniq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
  FROM kept)
SELECT doc_id, n_tokens, pred_lang,
       CASE WHEN frac < 0.98 THEN 'train'
            WHEN frac < 0.99 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT *,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) >> 30) / 1073741824.0 AS frac
      FROM uniq WHERE rn = 1)"""


def _lang_id_oracle() -> str:
    s = {lang: _marker_score(m) for lang, m in TX.LANG_MARKERS.items()}
    return f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents),
sc AS (
  SELECT doc_id, {s['en']} score_en, {s['es']} score_es,
         {s['fr']} score_fr, {s['de']} score_de
  FROM t)
SELECT doc_id, score_en, score_es, score_fr, score_de,
       CASE WHEN GREATEST(score_en, score_es, score_fr, score_de) = 0 THEN 'und'
            WHEN score_en = GREATEST(score_en, score_es, score_fr, score_de) THEN 'en'
            WHEN score_es = GREATEST(score_en, score_es, score_fr, score_de) THEN 'es'
            WHEN score_fr = GREATEST(score_en, score_es, score_fr, score_de) THEN 'fr'
            ELSE 'de' END AS pred_lang
FROM sc"""


def q_events_grouping_sets(spark, sf):
    """Explicit GROUPING SETS ((type), (weekday), ()): the general form
    next to rollup/cube — three subtotal levels in ONE pass over the fact
    (Spark expands to a single Expand + hash aggregate; no re-scan per
    grouping set)."""
    ev = load_table(spark, sf, "events").withColumn(
        "weekday", F.date_format("ts", "E"))
    return (ev.groupingSets([["event_type"], ["weekday"], []],
                            "event_type", "weekday")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("weekday", F.lit("ALL")).alias("weekday"),
                    "n_events", "gid"))


def q_text_zipf(spark, sf):
    """Zipf profile of the corpus: top-30 terms with rank and corpus
    share. Scale shape: term counts are one hash aggregate (vocab-sized,
    heavy hitters combine map-side); the top-30 cut is TakeOrdered (per
    -partition partial top-k, NO full-sort exchange); rank/share then
    run on 30 rows + a 1-row total broadcast."""
    docs = load_table(spark, sf, "documents")
    counts = (docs.select(F.explode(TX.tokens("text")).alias("term"))
              .groupBy("term").agg(F.count(F.lit(1)).alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(30)
    total = counts.agg(F.sum("n").alias("tot"))
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return (top.crossJoin(F.broadcast(total))
            .select(F.row_number().over(w).alias("rank"), "term", "n",
                    F.round(F.col("n") / F.col("tot"), 6).alias("share")))


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


def q_filter_agreement(spark, sf):
    """Cohen's kappa between two quality gates (operators.curation.
    filter_agreement_kappa): the Gopher rule filter vs a flat 240-char
    length cut — the agreement-beyond-chance diagnostic that tells a
    curation stack whether a second gate adds signal or is redundant.
    One aggregation builds the 2x2 table; po/pe/kappa derive from the
    integer counts with identical double arithmetic in both engines.
    Twin composes the PROVEN gopher oracle body."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "passes_gopher")
    t = g.join(docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                           "n_chars"), "doc_id")
    return CU.filter_agreement_kappa(t, F.col("passes_gopher"),
                                     F.col("n_chars") >= 240)


def q_corpus_drift_psi(spark, sf):
    """Population Stability Index drift report (operators.profile.
    psi_report): the length distribution of the src0-9 half of the
    corpus vs the src10-19 half, 200-char bins — the
    yesterday-vs-today monitoring gate a production pipeline runs
    before trusting a mixture plan (PSI < 0.1 stable). Add-1-smoothed
    shares over the union of observed bins; each bin's term folds to
    integer nano-units BEFORE the total (order-independent BIGINT
    sum); every aggregation/join/window runs at bin grain."""
    docs = load_table(spark, sf, "documents")
    ref = docs.where(F.col("doc_id") % 20 < 10)
    new = docs.where(F.col("doc_id") % 20 >= 10)
    return PF.psi_report(ref, new, "n_chars", 200.0)


def q_doc_lang_source_lift(spark, sf):
    """Corpus-audit contingency: observed/expected lift of each
    (lang, source) cell — flags languages concentrated in one source
    before training mixtures are chosen. One shuffle for the cells; the
    marginals are tiny and broadcast back; total is a 1-row product."""
    docs = load_table(spark, sf, "documents")
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_cell"))
    ml = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    ms = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (cell.join(F.broadcast(ml), "lang")
            .join(F.broadcast(ms), "source")
            .crossJoin(F.broadcast(tot))
            .select("lang", "source", "n_cell",
                    F.round(F.col("n_cell") * F.col("n_total")
                            / (F.col("n_lang") * F.col("n_source")), 6)
                    .alias("lift")))


def q_events_gap_stats(spark, sf):
    """Inter-arrival statistics per user (lag window + aggregate):
    average / max gap in seconds between consecutive events. Partitioned
    by user_id — per-entity frames stay tiny at any corpus size."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (ev.select("user_id", gap.alias("gap"))
            .groupBy("user_id")
            .agg(F.count("gap").cast("long").alias("n_gaps"),
                 F.round(F.avg("gap"), 6).alias("avg_gap_sec"),
                 F.max("gap").cast("long").alias("max_gap_sec"))
            .where(F.col("n_gaps") >= 1))


def q_events_transitions(spark, sf):
    """First-order Markov transition matrix over user event streams:
    P(next_type | prev_type) from consecutive same-user events — the
    behavioral-model primitive under next-action prediction and funnel
    anomaly detection. One lag window per user (per-entity frames,
    high-cardinality partition key), one (prev, next)-grain aggregation;
    the row-normalizing SUM window runs over the <= |types|^2 aggregate,
    never the event stream."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select("user_id", "ts", "event_id", "event_type")
         .withColumn("prev_type", F.lag("event_type").over(w))
         .where(F.col("prev_type").isNotNull()))
    cnt = (t.groupBy("prev_type", F.col("event_type").alias("next_type"))
           .agg(F.count(F.lit(1)).alias("cnt")))
    tot = Window.partitionBy("prev_type")
    return cnt.select(
        "prev_type", "next_type", F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / F.sum("cnt").over(tot), 6).alias("prob"))


def q_events_sketch_rollup(spark, sf):
    """MERGEABLE distinct sketches (DataSketches HLL): per-day user
    sketches built once, then re-aggregated to per-type totals by sketch
    UNION — the 100 TB pattern approx_count_distinct can't do:
    pre-aggregate daily partitions incrementally, answer coarser rollups
    later without touching raw data. Oracle-checkable contract form: the
    union-merged estimate must land within 10% of the exact per-type
    distinct count (DataSketches lgK=12 measures <2% off at sf0.01), so
    the DuckDB twin states n_days, the exact count, and TRUE; a merge
    bug (unioning the wrong key, losing a day's sketch) flips the hash."""
    ev = load_table(spark, sf, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                   F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("approx")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users")))
    return (merged.join(exact, "event_type")
            .select("event_type", "n_days", "exact_users",
                    (F.abs(F.col("approx") - F.col("exact_users"))
                     <= F.col("exact_users") * F.lit(0.10))
                    .alias("within_bound")))


def q_cdc_snapshot(spark, sf):
    """CDC compaction (operators.cdc): orders replayed as a changelog
    per customer — version (o_orderdate, o_orderkey), delete when the
    latest change is a fully-shipped 'F' order. One struct-argmax key
    aggregation (no window sort), newest-wins, deletes filtered."""
    from casf_spark.operators.cdc import cdc_snapshot
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", F.lit("d"))
        .otherwise(F.lit("u")).alias("op"))
    snap = cdc_snapshot(o, ["o_custkey"], ["o_orderdate", "o_orderkey"],
                        "op")
    return snap.select("o_custkey", "o_orderkey",
                       F.round("o_totalprice", 2).alias("latest_price"))


def q_customer_rfm(spark, sf):
    """RFM segmentation (recency / frequency / monetary) with VALUE-based
    quartile boundaries: one per-customer aggregate, one 1-row exact
    -percentile aggregate broadcast back, CASE bucketing — no global
    NTILE sort over the customer table (boundaries-by-percentile is the
    shape that survives a billion customers; orders_quartiles keeps the
    global-sort variant)."""
    o = load_table(spark, sf, "orders")
    per = (o.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_dt"),
                F.count(F.lit(1)).cast("long").alias("f"),
                F.round(F.sum(F.col("o_totalprice")
                              .cast("decimal(18,2)")), 2).alias("m")))
    ref = o.agg(F.max("o_orderdate").alias("ref_dt"))
    per = (per.crossJoin(F.broadcast(ref))
           .withColumn("r", F.datediff("ref_dt", "last_dt").cast("long"))
           .drop("ref_dt", "last_dt"))
    bounds = per.agg(
        *[F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"b_{c}")
          for c in ("r", "f", "m")])

    def bucket(c, rev=False):
        b = F.col(f"b_{c}")
        q = (F.when(F.col(c) <= b[0], 1)
             .when(F.col(c) <= b[1], 2)
             .when(F.col(c) <= b[2], 3).otherwise(4))
        return (5 - q if rev else q).alias(f"{c}_q")

    out = (per.crossJoin(F.broadcast(bounds))
           .select("o_custkey", "r", "f", "m",
                   # low recency-days = BEST -> invert to 4
                   bucket("r", rev=True), bucket("f"), bucket("m")))
    return out.select(
        "o_custkey", "r", "f",
        # bucketing above runs on the exact decimal; the wire column is an
        # explicit double so Spark's decimal(29,2) vs DuckDB's
        # decimal(38,2) SUM-widening metadata never reaches the output
        F.col("m").cast("double").alias("m"),
        "r_q", "f_q", "m_q",
        F.concat_ws("-", "r_q", "f_q", "m_q").alias("segment"))


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


def q_orders_merge_upsert(spark, sf):
    """Warehouse MERGE (operators.cdc.merge_upsert): a derived changeset
    — price bump for every 10th order (updates) and re-keyed copies of
    every 100th (inserts) — merged into orders with whole-row-replace
    semantics via the one-shuffle union + struct-argmax plan (no
    full-outer join). Output: the affected slice of the merged table,
    so both update-wins and insert-appears are hash-checked.

    The insert offset is DERIVED from the data (next 10M multiple past
    max(o_orderkey), one broadcast scalar) rather than a fixed +10M: the
    synthetic sf1/sf3 generators shift real keys by k*10M per copy, so a
    fixed offset would collide inserts with copy k+1's real keys and
    silently overwrite unrelated rows."""
    from casf_spark.operators.cdc import merge_upsert
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("price"))
    off = o.agg(((F.floor(F.max("o_orderkey") / F.lit(10_000_000)) + 1)
                 * F.lit(10_000_000)).cast("long").alias("ins_off"))
    updates = (o.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("price", F.round(F.col("price") + 1.0, 2)))
    inserts = (o.where(F.col("o_orderkey") % 100 == 0)
               .crossJoin(F.broadcast(off))
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + F.col("ins_off"))
               .drop("ins_off"))
    merged = merge_upsert(o, updates.unionByName(inserts), ["o_orderkey"])
    return (merged.crossJoin(F.broadcast(off))
            .where((F.col("o_orderkey") % 10 == 0)
                   | (F.col("o_orderkey") >= F.col("ins_off")))
            .drop("ins_off"))


def q_events_approx_percentiles(spark, sf):
    """approx_percentile rank-error contract, oracle-checkable: the
    t-digest/GK estimate itself is engine-specific, but its RANK
    guarantee is statable — the fraction of values at or below the
    approximate p50 must sit in [0.45, 0.55] (accuracy 10000 bounds rank
    error at 1e-4; the contract allows 5%). The query computes the
    fraction against the raw data itself, per event type; the oracle
    states n and TRUE. This is the sketch-percentile analogue of the
    HLL bound contract (q_events_approx_distinct)."""
    ev = load_table(spark, sf, "events")
    ap = (ev.groupBy("event_type")
          .agg(F.approx_percentile("value", F.lit(0.5), F.lit(10000))
               .alias("ap50"),
               F.count(F.lit(1)).alias("n")))
    j = ev.join(F.broadcast(ap), "event_type")
    return (j.groupBy("event_type")
            .agg(F.max("n").alias("nmax"),
                 (F.sum((F.col("value") <= F.col("ap50")).cast("long"))
                  / F.max("n")).alias("frac"))
            .select("event_type", F.col("nmax").cast("long").alias("n"),
                    F.col("frac").between(0.45, 0.55)
                    .alias("rank_error_ok")))


def q_scd2_orders(spark, sf):
    """SCD Type-2 validity intervals (operators.cdc.scd2_history): each
    customer's order stream becomes [valid_from, valid_to) effective
    ranges with an is_current flag — one per-key lead window."""
    from casf_spark.operators.cdc import scd2_history
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("price"))
    h = scd2_history(o, ["o_custkey"], "o_orderdate",
                     tiebreak_cols=["o_orderkey"])
    return h.select(
        "o_custkey", "o_orderkey", "price",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"))


def q_events_hour_spine(spark, sf):
    """Gap-filled time series via a generated date spine: per-hour event
    counts INCLUDING empty hours across the observed span — the spine is
    sequence()-exploded from one (min,max) row (no driver loop), then
    the sparse counts left-join onto it."""
    ev = load_table(spark, sf, "events")
    counts = (ev.groupBy(F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).alias("n")))
    span = ev.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                  F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = span.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"))
    return (spine.join(counts, "hr", "left")
            .select(F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))


def q_events_k_anonymity(spark, sf):
    """k-anonymity audit: how many events sit in quasi-identifier groups
    (event_type, hour-of-day, value-decile-bucket) smaller than k=5 —
    the re-identification risk surface before a data release. One
    group-by; risk counts, not rows."""
    ev = load_table(spark, sf, "events")
    q = ev.select("event_type", F.hour("ts").alias("hr"),
                  F.floor(F.col("value") / 10).cast("long").alias("vb"))
    g = q.groupBy("event_type", "hr", "vb").agg(
        F.count(F.lit(1)).alias("n"))
    return (g.groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n_groups"),
                 F.sum(F.when(F.col("n") < 5, 1).otherwise(0))
                 .cast("long").alias("groups_under_k"),
                 F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
                 .cast("long").alias("rows_at_risk")))


def q_data_quality_checks(spark, sf):
    """Declarative expectations gate (operators.checks): row-level checks
    fuse into ONE aggregation pass; uniqueness adds one keyed groupBy;
    referential integrity one anti-join vs the dimension's keys. Run over
    events + the orders->customer FK."""
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    from casf_spark.operators import checks as CK
    ev_checks = CK.run_checks(ev, [
        CK.not_null("event_id"),
        CK.not_null("user_id"),
        CK.in_set("event_type", _EVENT_TYPES),
        CK.in_range("value", 0.0, 1000.0),
        CK.expression("props_has_k",
                      F.get_json_object("props", "$.k").isNull()),
        CK.unique("event_id"),
    ])
    fk = CK.run_checks(orders,
                       [CK.foreign_key("o_custkey", cust, "c_custkey")])
    return ev_checks.unionByName(fk)


def q_customer_order_counts_right(spark, sf):
    """RIGHT OUTER join coverage: orders RIGHT JOIN customer — customers
    with no orders survive with a zero count (the dimension side is
    preserved; count(o_orderkey) skips the null-extended rows)."""
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (o.join(c, o.o_custkey == c.c_custkey, "right_outer")
            .groupBy("c_custkey", "c_mktsegment")
            .agg(F.count("o_orderkey").cast("long").alias("n_orders")))


def q_text_novelty(spark, sf):
    """Per-doc 4-gram novelty (first-occurrence credit by doc order) —
    the dataset-growth decay curve (operators.dedup.ngram_novelty)."""
    docs = load_table(spark, sf, "documents")
    return DD.ngram_novelty(docs, "doc_id", "text", n=4)


def q_orders_yoy_growth(spark, sf):
    """Year-over-year growth: yearly revenue per order priority, then a
    lag window over the tiny aggregated series (year x priority rows) —
    the aggregate-then-window time-series shape."""
    o = load_table(spark, sf, "orders")
    yearly = (o.groupBy(F.year("o_orderdate").alias("yr"), "o_orderpriority")
              # exact decimal sum, double on the wire: a decimal revenue
              # makes the lag-ratio chain decimal(38,6) in Spark but DOUBLE
              # in DuckDB (r4 driver hash-fail) — run the window math in
              # IEEE double on both engines instead.
              .agg(F.round(F.sum(F.col("o_totalprice")
                                 .cast("decimal(18,2)")), 2)
                   .cast("double").alias("revenue")))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr", "o_orderpriority", "revenue",
        F.round((F.col("revenue") - prev) / prev * 100, 6)
        .alias("yoy_pct"))


def q_events_unpivot(spark, sf):
    """UNPIVOT/melt coverage: the pivoted per-day type counts melted back
    to long form via stack() — wide->long reshape without ever exploding
    the fact table (the melt runs on the day-grain pivot output)."""
    wide = q_events_pivot(spark, sf)
    cols = ", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES)
    return (wide.select(
        "event_day",
        F.expr(f"stack({len(_EVENT_TYPES)}, {cols}) AS (event_type, n)"))
        .where(F.col("n") > 0))


def q_events_click_purchase_days(spark, sf):
    """FULL OUTER join coverage: daily click counts vs daily purchase
    counts — days where either side is missing survive with NULL-side
    zero-fill. Both sides pre-aggregate to day grain before the join, so
    the outer join carries days, not events."""
    ev = load_table(spark, sf, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    clicks = (ev.where(F.col("event_type") == "click").select(day)
              .groupBy("day").agg(F.count(F.lit(1)).alias("n_clicks")))
    buys = (ev.where(F.col("event_type") == "purchase").select(day)
            .groupBy("day").agg(F.count(F.lit(1)).alias("n_purchases")))
    return (clicks.join(buys, "day", "full_outer")
            .select("day",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("n_purchases", F.lit(0))
                    .alias("n_purchases")))


def q_orders_price_position(spark, sf):
    """percent_rank + cume_dist window coverage: each order's relative
    price position within its priority class (per-group total order —
    partitions bound the sort width)."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


def q_multimodal_pcm(spark, sf):
    """REAL audio decode path (raw s16le PCM, numpy — no external
    decoder): synthesized waveforms -> duration / RMS / peak /
    zero-crossing rate via Arrow-batched mapInPandas. Oracle-checkable
    contract form: sample-level DSP has no SQL twin, but the per-payload
    invariants do — one row per document (oracle enumerates doc_ids; a
    dropped or double-decoded payload flips the hash), the exact sample
    count and duration (1600 samples @ 16 kHz = 0.1 s, statable in SQL),
    and the DSP identities 0 < rms <= peak < 1 and zcr in [0, 1] (the
    0.5-amplitude sine + noise fixture guarantees a nonzero signal).
    Exact waveform math stays pinned in test_multimodal."""
    docs = load_table(spark, sf, "documents")
    pcm = MM.synthesize_pcm_payload(docs, "doc_id", n_samples=1600)
    feats = MM.decode_pcm_features(pcm)
    return feats.select(
        "doc_id", "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        ((F.col("rms") > 0) & (F.col("rms") <= F.col("peak"))
         & (F.col("peak") < 1)).alias("amplitude_ok"),
        ((F.col("zero_crossing_rate") >= 0)
         & (F.col("zero_crossing_rate") <= 1)).alias("zcr_in_unit"))


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


def q_text_chunks(spark, sf):
    """Training-prep chunking: each document split into overlapping token
    windows (size 32, stride 24 — 8-token overlap so no boundary context
    is lost), emitted as (doc_id, chunk_id, n_tokens, chunk_text). The
    window expansion is pure array HOFs (sequence + slice + array_join:
    no explode of per-token rows, no Python) and SHUFFLE-FREE — chunking
    a 100 TB corpus is a map-only pass whose output feeds packing /
    tokenization downstream. Chunk count per doc = ceil((n - overlap) /
    stride) for n > 0, mirrored exactly in the SQL twin."""
    docs = load_table(spark, sf, "documents")
    size, stride = 32, 24
    toks = TX.tokens("text")
    n = F.size(toks)
    n_chunks = F.ceil((n - F.lit(size - stride)) / F.lit(stride)) \
        .cast("int")
    chunks = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.slice(toks, i * stride + 1, size).alias("ctoks")))
    ).otherwise(F.array().cast(
        "array<struct<chunk_id:int,ctoks:array<string>>>"))
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.explode(chunks).alias("c"))
            .select("doc_id",
                    F.col("c.chunk_id").cast("long").alias("chunk_id"),
                    F.size("c.ctoks").cast("long").alias("n_tokens"),
                    F.array_join("c.ctoks", " ").alias("chunk_text")))


def q_text_cdc_chunks(spark, sf):
    """Content-defined chunking (operators.curation.content_defined_chunks):
    chunk boundaries drawn where md5(token) % 16 == 0, so an upstream
    edit redraws only the chunks up to the next boundary and every later
    chunk stays byte-identical for downstream dedup/caching — the
    property the fixed-stride q_text_chunks deliberately lacks. Pure
    array-HOF map-only pass (boundary filter + per-chunk slice; the only
    explode is per-CHUNK); the md5 boundary predicate reuses the proven
    engine-portable idiom so the SQL twin is cell-exact."""
    docs = load_table(spark, sf, "documents")
    return CU.content_defined_chunks(docs, "doc_id", "text", divisor=16)


def q_text_cdc_chunks_w2(spark, sf):
    """The k-token rolling-window CDC variant (window=2): a chunk
    boundary requires md5 of the BIGRAM ending at the position to hit
    the divisor, so a single common token hashing to 0 cannot cause a
    corpus-wide boundary storm — boundaries depend on 2-token context.
    Same shuffle-free staged-array-HOF plan as text_cdc_chunks; this
    contract closes the last oracle gap (previously only window=1 had a
    DuckDB twin; the windowed predicate was property-tested only)."""
    docs = load_table(spark, sf, "documents")
    return CU.content_defined_chunks(docs, "doc_id", "text",
                                     divisor=16, window=2)


def q_c4_quality(spark, sf):
    """C4-style line cleanup report (operators.curation.c4_line_filter):
    the published Raffel et al. 2020 line rules — terminal punctuation,
    >= 5 words, no 'javascript' — plus the brace / lorem-ipsum document
    flags and the three-sentence minimum, with the cleaned text
    re-joined. One shuffle-free array-HOF projection."""
    docs = load_table(spark, sf, "documents")
    return CU.c4_line_filter(docs, "doc_id", "text")


def q_dedup_containment(spark, sf):
    """Asymmetric shingle containment (operators.dedup.containment_pairs,
    Broder's measure): directed pairs where >= 80% of the source doc's
    3-gram shingles appear in the destination — catches short-quoted-in-
    long relationships that symmetric Jaccard's union denominator
    drowns. Same shingle self-join shape as dedup_ngram_jaccard."""
    docs = load_table(spark, sf, "documents")
    return DD.containment_pairs(docs, "doc_id", "text", n=3,
                                threshold=0.8)


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


def q_dedup_semantic(spark, sf):
    """SemDeDup-style semantic dedup (operators.dedup.semantic_dedup_det):
    deterministic coarse quantizer (md5-sampled centroids, the
    ann_ivf_det idiom) buckets the embedding corpus, then near-dups are
    pruned WITHIN clusters by pairwise cosine >= 0.3, keeping the member
    with the lowest centroid similarity (the paper's keep rule in
    pairwise form). The one major LLM-pipeline dedup family MinHash/
    SimHash/embedding-LSH don't cover: semantically-redundant documents
    whose surface text differs. Cluster-bucketed, never all-pairs — the
    oracle-checked twin of the KMeans-quantizer semantic_dedup."""
    emb = load_table(spark, sf, "embeddings")
    return DD.semantic_dedup_det(emb, n_clusters=8, threshold=0.3)


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


def q_stream_near_dedup_state(spark, sf):
    """Streaming near-dedup END STATE (streaming.curation
    .near_dedup_replay_batches — the batch twin of
    near_dedup_stream_against_index): documents arrive as two
    deterministic micro-batches (batch = doc_id % 2, replayed in order),
    each batch is exact-deduped within itself, dropped against the
    persistent MinHash band-bucket index built by PRIOR batches, star-
    contracted within the batch, and survivors' buckets extend the index.
    Output: every surviving (doc, batch_id, fp). The real availableNow
    foreachBatch stream is asserted equal to this twin on the same split
    in tests/test_streaming.py."""
    from casf_spark.streaming.curation import near_dedup_replay_batches
    docs = load_table(spark, sf, "documents")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    return near_dedup_replay_batches([(0, b0), (1, b1)])


def q_stream_lifetime_state(spark, sf):
    """Stateful-streaming lifetime aggregate END STATE
    (streaming.stateful.user_lifetime_stats_batch — the batch twin of the
    transformWithStateInPandas/applyInPandasWithState processor): the
    per-user lifetime (count, non-NULL sum, non-NULL max) every key
    converges to once the stream drains. One hash aggregation; the real
    multi-batch stream's final per-key emission is asserted equal in
    tests/test_stateful_lifetime.py, including NULL-value batches."""
    from casf_spark.streaming.stateful import user_lifetime_stats_batch
    return user_lifetime_stats_batch(load_table(spark, sf, "events"))


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


def q_doc_len_lang_quantile(spark, sf):
    """Per-language quantile length cut (operators.curation
    .group_quantile_flag): flag documents in the bottom quartile of
    token count WITHIN their language — the per-group thresholding
    FineWeb-style pipelines use because length/quality distributions
    differ across languages. One bounded group aggregation broadcast
    back + a map-only comparison against the 6dp-rounded threshold
    (round-before-compare keeps the flag engine-identical)."""
    docs = load_table(spark, sf, "documents")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.size(TX.tokens(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("n_tokens"))
    return CU.group_quantile_flag(d, "lang", "n_tokens", q=0.25,
                                  flag_col="below_p25")


def q_adversarial_contract(spark, sf):
    """Driver-visible NULL/zero-vector adversarial contract (round-7
    verdict item 2): the shipped testdata has no NULL text/lang and no
    zero-norm embedding, so the oracle gate structurally cannot see the
    NULL-handling divergence class that bit in rounds 6 (NULL
    propagation) and 7 (zero-norm cosine). This query CONSTRUCTS the
    adversarial rows in-query — doc -1 (NULL text + NULL lang), doc -2
    (empty text + empty lang), doc -3 (stopword text + NULL lang), and
    vec -1 (an all-zero embedding whose dimension is taken from the
    corpus) — unions them onto the parquet tables with identical
    literals in the DuckDB twin, then runs the NULL-sensitive operators
    over the union: gopher metrics (functions.text.gopher_exprs — NULL
    text counts as empty), per-group quantile flagging with NULL lang as
    a REAL group (operators.curation.group_quantile_flag's null-safe
    join — before the round-8 fix these rows silently vanished), and
    guarded norm/cosine (functions.vectors.cosine returns 0.0 on zero
    norm, never NaN).

    Output is long-format (kind, item_id, metric, value): per-
    adversarial-row metrics plus whole-corpus checksums (sum of word
    counts, flagged count, group count incl. the NULL group, vector
    count, integer-micro-unit cell sum) so the parquet input provably
    flows through both engines. The cell checksum folds each cell to
    integer micro-units BEFORE summing — integer sums are order-
    independent, so engine aggregation order can never drift it."""
    from casf_spark.functions import vectors as V

    def _mrow(metric, value):
        return F.struct(F.lit(metric).alias("metric"),
                        value.cast("double").alias("value"))

    docs = (load_table(spark, sf, "documents")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text", "lang"))
    adv = spark.createDataFrame(
        [(-1, None, None), (-2, "", ""),
         (-3, "the be to of and that have with words here", None)],
        "doc_id long, text string, lang string")
    corpus = docs.unionByName(adv)
    g = TX.gopher_quality(corpus, "doc_id", "text").select(
        "doc_id", "n_words", "alpha_word_frac", "n_required_stopwords")
    flagged = CU.group_quantile_flag(corpus.join(g, "doc_id"), "lang",
                                     "n_words", q=0.25, flag_col="below_q")
    # materialized once (r13 optimization, guide §2.4): the per-row leg
    # (filter doc_id < 0) and the whole-corpus checksum aggregation both
    # consume flagged, whose pipeline (tokenize-heavy gopher metrics +
    # the per-group quantile window) would otherwise run twice — and the
    # two consumers' subtrees differ (filter vs agg), so exchange reuse
    # cannot share them. Narrow doc-grain table; one write vs a second
    # full tokenize pass.
    flagged = flagged.localCheckpoint()
    doc_rows = (flagged.filter(F.col("doc_id") < 0)
                .select(F.col("doc_id").alias("item_id"),
                        F.explode(F.array(
                            _mrow("n_words", F.col("n_words")),
                            _mrow("alpha_word_frac",
                                  F.col("alpha_word_frac")),
                            _mrow("n_required_stopwords",
                                  F.col("n_required_stopwords")),
                            _mrow("text_is_null",
                                  F.when(F.col("text").isNull(),
                                         F.lit(1.0)).otherwise(0.0)),
                            _mrow("q_threshold", F.col("q_threshold")),
                            _mrow("below_q",
                                  F.when(F.col("below_q"),
                                         F.lit(1.0)).otherwise(0.0)),
                        )).alias("m"))
                .select(F.lit("doc").alias("kind"), "item_id",
                        F.col("m.metric").alias("metric"),
                        F.col("m.value").alias("value")))
    doc_sums = (flagged.agg(
        F.sum("n_words").cast("double").alias("s_words"),
        F.sum(F.when(F.col("below_q"), 1).otherwise(0))
        .cast("double").alias("s_below"),
        F.countDistinct(F.coalesce("lang", F.lit("\x01")))
        .cast("double").alias("s_groups"))
        .select(F.lit("doc").alias("kind"),
                F.lit(0).cast("long").alias("item_id"),
                F.explode(F.array(
                    _mrow("sum_n_words", F.col("s_words")),
                    _mrow("n_below_q", F.col("s_below")),
                    _mrow("n_lang_groups", F.col("s_groups")))).alias("m"))
        .select("kind", "item_id", F.col("m.metric").alias("metric"),
                F.col("m.value").alias("value")))

    emb = (load_table(spark, sf, "embeddings")
           .select(F.col("vec_id").cast("long").alias("vec_id"),
                   V.as_double("embedding").alias("v")))
    first = emb.orderBy("vec_id").limit(1)
    zero = first.select(F.lit(-1).cast("long").alias("vec_id"),
                        F.transform("v", lambda x: F.lit(0.0)).alias("v"))
    allv = emb.unionByName(zero)
    probe = F.broadcast(first.select(F.col("v").alias("p")))
    vec_rows = (allv.filter(F.col("vec_id") < 0).crossJoin(probe)
                .select(F.lit("vec").alias("kind"),
                        F.col("vec_id").alias("item_id"),
                        F.explode(F.array(
                            _mrow("norm",
                                  F.round(F.sqrt(V.dot("v", "v")), 6)),
                            _mrow("cos_probe",
                                  F.round(V.cosine("v", "p"), 6)),
                        )).alias("m"))
                .select("kind", "item_id",
                        F.col("m.metric").alias("metric"),
                        F.col("m.value").alias("value")))
    cell_u = F.aggregate(
        F.transform("v", lambda x: F.floor(x * 1e6 + 0.5).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    vec_sums = (allv.agg(
        F.count(F.lit(1)).cast("double").alias("s_n"),
        F.sum(cell_u).cast("double").alias("s_cells"))
        .select(F.lit("vec").alias("kind"),
                F.lit(0).cast("long").alias("item_id"),
                F.explode(F.array(
                    _mrow("n_vecs", F.col("s_n")),
                    _mrow("sum_cell_u", F.col("s_cells")))).alias("m"))
        .select("kind", "item_id", F.col("m.metric").alias("metric"),
                F.col("m.value").alias("value")))
    return (doc_rows.unionByName(doc_sums)
            .unionByName(vec_rows).unionByName(vec_sums))


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


def q_minhash_band_plan(spark, sf):
    """Analytic MinHash banding design surface (functions.hashing
    .minhash_band_plan): the candidate-detection S-curve
    P(s) = 1-(1-s^r)^b and inflection threshold s* = (1/b)^(1/r) for the
    repo's standard (num_hashes=12, bands=4) config — the design tool
    for sizing a corpus-scale dedup run. Data-free, one row per grid
    point."""
    return minhash_band_plan(spark, num_hashes=12, bands=4, step=0.05)


def q_gopher_quality(spark, sf):
    """Gopher rule-based quality filter (functions.text.gopher_quality):
    the published Rae et al. 2021 A1.1 ruleset — word count, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword count — as one shuffle-free map-only
    projection with a per-rule metric column and the conjunction flag."""
    docs = load_table(spark, sf, "documents")
    return TX.gopher_quality(docs, "doc_id", "text")


def q_dsir_select(spark, sf):
    """DSIR-style importance weights (operators.sampling.dsir_logweights):
    hashed unigram+bigram bucket distributions of a target domain
    (source='src0') vs the raw pool give every document a log importance
    weight; gumbel_key makes deterministic Gumbel-top-k selection a
    downstream sort. Two 256-row bucket aggregates broadcast as the
    weight table; the corpus pass is one explode + doc rollup."""
    docs = load_table(spark, sf, "documents")
    return SP.dsir_logweights(docs, "doc_id", "text",
                              F.col("source") == "src0", n_buckets=256)


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (operators.sampling.weighted_sample_wor — Efraimidis–Spirakis):
    draw 50 documents with inclusion probability proportional to
    n_chars, via hash-derived uniforms and the log-space priority
    ln(u)/w. TakeOrderedAndProject partial top-k (no global sort);
    the rank window runs over the 50 survivors only. The length-
    proportional draw is the 'sample tokens, not documents' primitive
    mixture pipelines need."""
    docs = load_table(spark, sf, "documents")
    out = SP.weighted_sample_wor(docs, F.col("doc_id"), "n_chars", k=50)
    return out.select(F.col("key_val").cast("long").alias("doc_id"),
                      "w", "priority", "rank")


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


def q_tokens_to_ids(spark, sf):
    """Vocabulary id mapping (operators.curation.build_vocab +
    tokenize_to_ids): the 512 most frequent tokens get deterministic ids
    (count desc, token asc; OOV -> 0) and every document becomes its
    order-preserving id sequence — the final representation step before
    training shards. Token-grain count agg + distributed partial top-512
    + broadcast vocab join + one doc-grain rebuild.

    The contract projection joins the id sequence to a space-separated
    string: the operator's native ``ids array<long>`` is the right API
    shape, but the grading harness's pandas canonicalizer cannot sort
    array cells (round-6 red row), and a joined string is hash-equivalent
    while staying scalar on both engines."""
    docs = load_table(spark, sf, "documents")
    vocab = CU.build_vocab(docs, "text", 512)
    out = CU.tokenize_to_ids(docs, "doc_id", "text", vocab)
    return out.select(
        "doc_id", "n_tokens", "n_oov", "oov_frac",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), " ")
        .alias("ids_str"))


def q_embedding_int8(spark, sf):
    """Scalar int8 embedding quantization
    (operators.similarity.quantize_embeddings_int8): symmetric max-abs
    scale per vector, floor(x/s + 0.5) codes (engine-identical — no
    ROUND-semantics dependence), per-vector reconstruction error report.
    Map-only; the 4x storage cut is the point at a 100 TB embedding
    corpus."""
    emb = load_table(spark, sf, "embeddings")
    return SIM.quantize_embeddings_int8(emb)


def q_orders_snapshot_diff(spark, sf):
    """Keyed snapshot diff (operators.cdc.snapshot_diff): today's orders
    vs a derived next-day snapshot (every 97th key removed, every 10th
    price-bumped, every 100th re-added at a data-derived key offset —
    the merge_upsert idiom, no fixed constants) labeled added / removed /
    changed / unchanged with changed column names. One full-outer
    key-join, then a map-only comparison projection."""
    from casf_spark.operators.cdc import snapshot_diff
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderstatus").alias("ostatus"))
    off = o.agg(((F.floor(F.max("o_orderkey") / F.lit(10_000_000)) + 1)
                 * F.lit(10_000_000)).cast("long").alias("ins_off"))
    survived = (o.where(F.col("o_orderkey") % 97 != 0)
                .withColumn("price",
                            F.when(F.col("o_orderkey") % 10 == 0,
                                   F.round(F.col("price") + 1.0, 2))
                            .otherwise(F.col("price"))))
    added = (o.where(F.col("o_orderkey") % 100 == 0)
             .crossJoin(F.broadcast(off))
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + F.col("ins_off"))
             .drop("ins_off"))
    new = survived.unionByName(added)
    return snapshot_diff(o, new, ["o_orderkey"], ["price", "ostatus"])


def q_train_shards(spark, sf):
    """Sharded training-order assignment — the write layout for shuffled
    training data: every doc gets (shard, position-in-shard) from a
    SEEDED md5 hash, so the global order is reproducible, re-runnable,
    and engine-independent. Two-level on purpose: shard = hash mod 8
    (one hash shuffle), position = row_number within the shard — there
    is NO global-order window (a single-partition sort is the classic
    100 TB scale-killer; within-shard windows parallelize per shard)."""
    docs = load_table(spark, sf, "documents")
    seed = "epoch0"
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                       F.lit(seed)))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 8)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        h.alias("h"), shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "pos"))


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


def q_text_heavy_hitters(spark, sf):
    """Exact corpus heavy hitters (operators.sketches.frequent_items):
    tokens making up >= 1% of all token occurrences, found via
    batch-local candidate pruning + exact recount — the vocabulary never
    shuffles, only candidate occurrences do. Output is exact, so the
    oracle is a plain GROUP BY/HAVING over the exploded tokens."""
    from casf_spark.operators.sketches import frequent_items
    docs = load_table(spark, sf, "documents")
    toks = docs.select(F.explode(TX.tokens("text")).alias("token"))
    return (frequent_items(toks, "token", theta=0.01)
            .select(F.col("item").alias("token"), "cnt"))


def q_lang_top_tokens(spark, sf):
    """Per-language exact heavy hitters (sketches.grouped_frequent_items):
    tokens making up >= 2% of each language slice's occurrences — the
    mixture-audit question ('what dominates each slice') answered
    exactly, with only candidate occurrences shuffling."""
    from casf_spark.operators.sketches import grouped_frequent_items
    docs = load_table(spark, sf, "documents")
    toks = docs.select("lang", F.explode(TX.tokens("text")).alias("token"))
    return (grouped_frequent_items(toks, "lang", "token", theta=0.02)
            .select("lang", F.col("item").alias("token"), "cnt"))


def q_lang_heavy_boundary(spark, sf):
    """Per-group heavy hitters at a BOUNDARY theta (the round-11
    verdict's pin): theta = 98/3549 is EXACTLY the within-group
    frequency of (de, 'agg') at sf0.01, so ceil(grp_n * theta) lands on
    that token's exact count and the >= comparison's inclusion flip is
    decided by the last bit of the shared double product — both engines
    must multiply the identical double and ceil identically or the hash
    fails. The theta is spelled 98/3549 as a double DIVISION on both
    sides (a decimal literal would parse as DECIMAL in DuckDB and
    diverge). Same plan as lang_top_tokens: pigeonhole candidate
    pruning, candidates-only shuffle."""
    from casf_spark.operators.sketches import grouped_frequent_items
    docs = load_table(spark, sf, "documents")
    toks = docs.select("lang", F.explode(TX.tokens("text")).alias("token"))
    return (grouped_frequent_items(toks, "lang", "token", theta=98 / 3549)
            .select("lang", F.col("item").alias("token"), "cnt"))


def q_text_ttr(spark, sf):
    """Lexical diversity (type-token ratio) per document: distinct over
    total tokens, a shuffle-free projection (array HOFs, no explode)."""
    docs = load_table(spark, sf, "documents")
    toks = TX.tokens("text")
    n = F.size(toks)
    ty = F.size(F.array_distinct(toks))
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        n.cast("long").alias("n_tokens"),
                        ty.cast("long").alias("n_types"),
                        F.round(ty.cast("double") / n, 6).alias("ttr"))
            .where(F.col("n_tokens") > 0))


def q_events_forward_fill(spark, sf):
    """Gap filling: error events carry no usable reading (value masked to
    NULL), forward-filled from the user's last non-null value — the
    last(ignorenulls) running-frame idiom, per-entity partitions."""
    ev = load_table(spark, sf, "events")
    masked = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value"))
        .alias("value"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return masked.select(
        "event_id", "user_id",
        F.round(F.last("value", ignorenulls=True).over(w), 6)
        .alias("filled_value"))


def q_events_json_variant(spark, sf):
    """Semi-structured props via the VARIANT type (Spark 4): parse_json
    ONCE per row, then typed variant_get extractions — the open-schema
    ingestion path. At scale variant beats per-field get_json_object
    re-parses (one parse, binary-encoded fields, shredded column reads);
    this query extracts + aggregates a typed field per event type."""
    ev = load_table(spark, sf, "events")
    v = ev.select("event_type",
                  F.parse_json("props").alias("pv"))
    k = F.variant_get("pv", "$.k", "bigint")
    return (v.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.round(F.avg(k), 6).alias("avg_k"),
                 F.count(k).cast("long").alias("n_with_k")))


def q_events_session_window(spark, sf):
    """Built-in session_window sessionization (gap 30 min): dynamic
    merging windows in ONE aggregation — same session semantics as the
    lag/island construction (q_events_sessions) but expressed as the
    idiomatic Spark operator that also runs stateful-streaming with
    watermark eviction (streaming.events.session_window_counts)."""
    ev = load_table(spark, sf, "events")
    return EV.session_window_counts(ev, "30 minutes")


def q_customer_running_spend(spark, sf):
    """Cumulative window frame: per-customer running order spend in order
    -date order (ROWS UNBOUNDED PRECEDING) — the running-total window
    shape, partitioned by the natural high-cardinality entity key."""
    o = load_table(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"))


def q_events_mad_outliers(spark, sf):
    """Robust anomaly counts: per event type, the median / MAD of `value`
    (exact interpolated percentiles) and how many events sit further than
    3 MADs from the median. Two aggregation passes with tiny broadcast
    thresholds — the fact table never shuffles on a data-sized key."""
    ev = load_table(spark, sf, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    ad = (ev.join(F.broadcast(med), "event_type")
          .select("event_type", "med",
                  F.abs(F.col("value") - F.col("med")).alias("ad")))
    mad = ad.groupBy("event_type").agg(
        F.expr("percentile(ad, 0.5)").alias("mad"))
    return (ad.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.round(F.min("med"), 6).alias("med"),
                 F.round(F.min("mad"), 6).alias("mad"),
                 F.sum(F.when(F.round(F.col("ad"), 6)
                              > F.round(3 * F.col("mad"), 6), 1)
                       .otherwise(0)).cast("long").alias("n_outliers")))


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


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document-pair cosine similarity (reference demo workload:
    tokenize -> stop-word filter -> term counts -> sparse cosine) on
    sf0.001. Driver checks rows > 0."""
    return q_doc_cosine(spark, "/root/testdata/sf0.001")


def q_doc_symbol_lang_quantile(spark, sf):
    """Fourth contract point of the per-group quantile-cut family
    (round-13 verdict item 8 — widen the (grouping, metric, q)
    coverage): the Gopher symbol-to-word ratio cut at the per-LANGUAGE
    90th percentile — an UPPER-tail coordinate (the spam-symbol cut
    keeps rows BELOW p90, where the other three points cut the lower
    tail of a quality metric). Family map: doc_len_lang_quantile =
    (lang, tokens, .25), doc_quality_source_quantile = (source, alpha,
    .25), doc_quality_composite_quantile = (source, composite, .10),
    this = (lang, symbol_ratio, .90). Same shape: map-only metric, one
    lang-grain percentile agg broadcast back, rounded-threshold
    compare."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text").select(
        "doc_id", "symbol_word_ratio")
    d = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "lang")
         .join(g, "doc_id"))
    return CU.group_quantile_flag(d, "lang", "symbol_word_ratio",
                                  q=0.9, flag_col="below_p90")


def q_doc_quality_qmatch(spark, sf):
    """Two-corpus quantile matching (operators.curation.quantile_match
    — the cross-corpus counterpart of doc_quality_qnorm): every doc's
    alpha-word fraction maps, at its within-SOURCE decile midpoint, to
    the value the TRUSTED reference slice (src0's docs) carries at that
    percentile — the calibration a pipeline applies before running
    src0-tuned thresholds on the other 19 crawls. Deterministic: NTILE
    over the (score, doc) total order; the 10 reference midpoint
    percentiles are 6dp-rounded in ONE 1-row agg over the reference
    (which never joins row-to-row). One source-key shuffle + a 1-row
    broadcast."""
    docs = load_table(spark, sf, "documents")
    g = TX.gopher_quality(docs, "doc_id", "text").select(
        "doc_id", "alpha_word_frac")
    d = (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     "source")
         .join(g, "doc_id"))
    ref = d.where(F.col("source") == "src0")
    return (CU.quantile_match(d, ref, "source", "doc_id",
                              "alpha_word_frac", k=10)
            .select("doc_id", "source", "alpha_word_frac", "tile",
                    "score_matched")
            .orderBy("doc_id"))


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


def q_vocab_good_turing(spark, sf):
    """Good-Turing / Chao1 vocabulary-richness report per source
    (operators.profile.vocab_richness): unseen-mass estimate p0 =
    N1/N and bias-corrected Chao1 richness from four exact integers
    per source — the vocabulary-saturation row of a corpus card (a
    source with gt_unseen 0.4 is nowhere near saturated; 0.02 is
    re-crawling itself). One (source, word) count agg + a source-grain
    conditional rollup."""
    docs = load_table(spark, sf, "documents")
    return PF.vocab_richness(docs, "source", "doc_id", "text") \
        .orderBy("grp")


def q_source_vocab_jsd(spark, sf):
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the REST of the corpus (operators.profile.vocab_jsd): the
    bounded symmetric "how different is this source's language"
    number next to PSI (scalar drift) and keyness (per-term ranks).
    Per-word closed-form contributions fold to nano-unit BIGINTs; the
    absent-word mass closes to one per-source term — no groups x vocab
    grid materializes. One (source, word) agg, source-grain output."""
    docs = load_table(spark, sf, "documents")
    return PF.vocab_jsd(docs, "source", "doc_id", "text") \
        .orderBy("grp")


def q_events_quantile_sketch(spark, sf):
    """Mergeable fixed-boundary histogram quantile sketch
    (operators.sketches.hist_sketch_*): the events value column binned
    into 1000 cells over [0, 500) by four independent ingest shards
    (event_id % 4 — four separate builds, the per-batch refresh
    shape), merged cell-wise, then p50/p90/p99 read off the binned CDF
    at nearest rank. The oracle twin is a SINGLE whole-corpus build —
    equality IS the mergeability property (the stream_cms_state
    contract: counter-sum commutativity), and the estimate itself is
    deterministic closed-form (integer target rank, integer cumulative
    counts, 6dp bin edge), unlike t-digest/GK whose state is
    order-dependent. Sketch-grain work: the row stream never shuffles
    beyond 4 bin-grain map-combined aggs."""
    from casf_spark.operators import sketches as SKC
    ev = load_table(spark, sf, "events")
    parts = None
    for i in range(4):
        s = SKC.hist_sketch_build(
            ev.where(F.col("event_id") % 4 == i), "value",
            0.0, 500.0, 1000)
        parts = s if parts is None else parts.unionByName(s)
    merged = SKC.hist_sketch_merge(parts)
    return SKC.hist_sketch_quantiles(merged, [0.5, 0.9, 0.99],
                                     0.0, 500.0, 1000)


# Round-13 driver window (the driver's correctness harness checks the
# FIRST 50 entries of queries()). Composition, per the round-12 verdict
# items 2 + 7 and the NEXT.md freshness SLO ("no name older than 5
# driver rounds"): exactly the 44 names whose last driver green is
# round 8 (the entire stale set — 14 of them are the round-12
# displacement queue head, then the remaining 30 in CORRECTNESS_r08
# key order) behind the 6 round-13 additions. 6 + 44 = 50, so
# CORRECTNESS_r13 leaves NO name with last-driver-green <= r8 — the
# SLO holds with zero slack this round, which is why round 13 adds
# exactly six queries.
_ROUND13_WINDOW = [
    # -- round-13 additions (newest first), windowed immediately
    "events_quantile_sketch", "source_vocab_jsd", "vocab_good_turing",
    "select_facility", "doc_quality_qmatch", "doc_symbol_lang_quantile",
    # -- the round-12 displacement queue head (NEXT.md order; its
    #    15th name, doc_quality_source_quantile, re-greened in the
    #    round-12 window and is NOT stale)
    "bigram_logprob", "sample_per_source", "er_customer_link",
    "corpus_card", "multimodal_audio_neardup", "multimodal_image_neardup",
    "collocations_pmi", "tokenizer_fertility", "nb_lang_eval",
    "nb_lang_score", "retrieval_rrf_weighted", "unigram_lm_segment",
    "curriculum_buckets", "mixture_plan",
    # -- the remaining 30 round-8-stale names, CORRECTNESS_r08.json
    #    key order
    "cluster_profile", "embedding_norms", "dedup_degrees",
    "pack_greedy", "events_approx_distinct", "text_zipf",
    "events_grouping_sets", "doc_lang_source_lift", "events_gap_stats",
    "customer_running_spend", "events_mad_outliers",
    "embedding_power_iter", "events_sketch_rollup",
    "events_session_window", "events_forward_fill",
    "dedup_cross_source", "text_ttr", "multimodal_pcm",
    "events_click_purchase_days", "orders_price_position",
    "events_unpivot", "text_novelty", "customer_order_counts_right",
    "ann_ivf", "data_quality_checks", "cdc_snapshot",
    "events_k_anonymity", "scd2_orders", "split_leakage_safe",
    "dedup_triangles",
]

# Staged for the ROUND-14 rotation (the driver gates on _DRIVER_WINDOW,
# which stays on _ROUND13_WINDOW until CORRECTNESS_r13 lands): after
# round 13 the stale cohort is EXACTLY the 50 names whose last driver
# green is round 9 — recomputed from the CORRECTNESS_r01..r12 union
# (latest greens: r8:44 = the r13 window tail, r9:50, r10:50, r11:50,
# r12:50), so the round-14 additions budget is ZERO — listed in
# CORRECTNESS_r09.json key order per the freshness SLO. Round-14 open:
# confirm CORRECTNESS_r13 is 50/50 over _ROUND13_WINDOW (every name
# below must be ABSENT from it), then flip _DRIVER_WINDOW below.
_ROUND14_WINDOW = [
    "url_normalize", "url_dedup", "domain_caps", "domain_blocklist",
    "dedup_max_spans", "diversity_kcenter_64", "domain_quality",
    "html_extract", "hard_negatives", "text_self_dedup", "customer_rfm",
    "events_hour_spine", "text_fingerprint", "text_token_stats",
    "text_split", "ann_lsh_mp", "multimodal_features",
    "users_click_not_purchase", "window_first_last",
    "events_running_distinct", "text_chunks", "train_shards",
    "orders_merge_upsert", "events_approx_percentiles",
    "text_heavy_hitters", "lang_top_tokens", "dedup_edit_distance",
    "embedding_standardize", "orders_quartiles", "events_json_variant",
    "orders_yoy_growth", "ann_ivf_det", "ann_lsh", "ann_topk",
    "decontaminate", "dedup_clusters", "dedup_embedding", "dedup_exact",
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_winnow", "doc_cosine_cjk", "multimodal_meta", "pack_bins",
    "pii_redact", "pipeline_curate", "sample_stratified", "text_lang_id",
    "text_line_dedup",
]

#: the list the driver-facing queries() order follows — flip to
#: _ROUND14_WINDOW at round-14 open (see the staging note above).
_DRIVER_WINDOW = _ROUND13_WINDOW


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        # (registration order below is the round-4 layout; the actual
        # driver-facing order is _ROUND13_WINDOW first — see the reorder at
        # the end of this function.)
        "tfidf_terms": q_tfidf_terms,
        "bm25_rank": q_bm25_rank,
        "knn_classify": q_knn_classify,
        "mixture_resample": q_mixture_resample,
        "budget_select": q_budget_select,
        "dedup_spans": q_dedup_spans,
        "curation_funnel": q_curation_funnel,
        "dedup_incremental": q_dedup_incremental,
        "dedup_bloom": q_dedup_bloom,
        "stream_bloom_state": q_stream_bloom_state,
        "negative_samples": q_negative_samples,
        "skipgram_cooc": q_skipgram_cooc,
        "corpus_drift_psi": q_corpus_drift_psi,
        "retrieval_ndcg": q_retrieval_ndcg,
        "filter_agreement": q_filter_agreement,
        "fim_examples": q_fim_examples,
        "lm_windows": q_lm_windows,
        "cms_term_counts": q_cms_term_counts,
        "t5_spans": q_t5_spans,
        "vocab_coverage": q_vocab_coverage,
        "unigram_logprob": q_unigram_logprob,
        "ccnet_buckets": q_ccnet_buckets,
        "embedding_outliers": q_embedding_outliers,
        "events_moving_avg": q_events_moving_avg,
        "dedup_collision": q_dedup_collision,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "users_view_and_purchase": q_users_view_and_purchase,
        "orders_quartiles": q_orders_quartiles,
        "events_corr": q_events_corr,
        "events_value_hist": q_events_value_hist,
        "ann_ivf_pq": q_ann_ivf_pq,  # recall-contract row (oracle-checked)
        "temperature_resample": q_temperature_resample,
        "doc_cosine_tfidf": q_doc_cosine_tfidf,
        "multimodal_rgb": q_multimodal_rgb,  # decode-contract rows (oracle-checked)
        "sample_per_source": q_sample_per_source,
        "bigram_logprob": q_bigram_logprob,
        "embedding_norms": q_embedding_norms,
        "dedup_degrees": q_dedup_degrees,
        "pack_greedy": q_pack_greedy,  # packing-contract row (oracle-checked)
        "events_approx_distinct": q_events_approx_distinct,  # bound-contract (oracle-checked)
        "events_grouping_sets": q_events_grouping_sets,
        "text_zipf": q_text_zipf,
        "doc_lang_source_lift": q_doc_lang_source_lift,
        "events_gap_stats": q_events_gap_stats,
        "events_transitions": q_events_transitions,
        "customer_running_spend": q_customer_running_spend,
        "events_mad_outliers": q_events_mad_outliers,
        "embedding_power_iter": q_embedding_power_iter,  # eigen-contract row (oracle-checked)
        "embedding_pca2": q_embedding_pca2,  # eigen-contract rows (oracle-checked)
        "events_sketch_rollup": q_events_sketch_rollup,  # bound-contract (oracle-checked)
        "events_session_window": q_events_session_window,
        "events_json_variant": q_events_json_variant,
        "events_forward_fill": q_events_forward_fill,
        "dedup_cross_source": q_dedup_cross_source,
        "text_ttr": q_text_ttr,
        "multimodal_pcm": q_multimodal_pcm,  # decode-contract rows (oracle-checked)
        "events_click_purchase_days": q_events_click_purchase_days,
        "orders_price_position": q_orders_price_position,
        "orders_yoy_growth": q_orders_yoy_growth,
        "events_unpivot": q_events_unpivot,
        "text_novelty": q_text_novelty,
        "customer_order_counts_right": q_customer_order_counts_right,
        "ann_ivf": q_ann_ivf,  # recall-contract row (oracle-checked)
        # ---- end of driver 50-query window ----
        # round-5 window head: the 14 never-driver-checked overflow names
        "data_quality_checks": q_data_quality_checks,
        "cdc_snapshot": q_cdc_snapshot,
        "events_k_anonymity": q_events_k_anonymity,
        "scd2_orders": q_scd2_orders,
        "split_leakage_safe": q_split_leakage_safe,
        "dedup_triangles": q_dedup_triangles,
        "customer_rfm": q_customer_rfm,
        "events_hour_spine": q_events_hour_spine,
        "text_fingerprint": q_text_fingerprint,
        "text_token_stats": q_text_token_stats,
        "text_split": q_text_split,
        "ann_lsh_mp": q_ann_lsh_multiprobe,
        "multimodal_features": q_multimodal_features,  # byte-contract (oracle-checked)
        "users_click_not_purchase": q_users_click_not_purchase,
        # round-4 additions (window breadth, SURVEY §2.9) — queue for the
        # round-5 window behind the overflow names
        "window_first_last": q_window_first_last,
        "events_running_distinct": q_events_running_distinct,
        "text_chunks": q_text_chunks,
        # round-5 additions (driver window round 6)
        "text_cdc_chunks": q_text_cdc_chunks,
        "dedup_chunks": q_dedup_chunks,
        # round-6 additions (windowed immediately)
        "cdc_chunk_reuse": q_cdc_chunk_reuse,
        "dedup_semantic": q_dedup_semantic,
        "gopher_quality": q_gopher_quality,
        "dsir_select": q_dsir_select,
        "weighted_sample": q_weighted_sample,
        "dedup_remove_spans": q_dedup_remove_spans,
        "dedup_max_spans": q_dedup_max_spans,
        "dedup_keep_best": q_dedup_keep_best,
        "tokens_to_ids": q_tokens_to_ids,
        "embedding_int8": q_embedding_int8,
        "orders_snapshot_diff": q_orders_snapshot_diff,
        "text_cdc_chunks_w2": q_text_cdc_chunks_w2,
        "c4_quality": q_c4_quality,
        "dedup_containment": q_dedup_containment,
        # round-7 additions (windowed immediately)
        "dedup_semantic_32": q_dedup_semantic_32,
        "stream_near_dedup_state": q_stream_near_dedup_state,
        "stream_lifetime_state": q_stream_lifetime_state,
        "embedding_winsorize": q_embedding_winsorize,
        "doc_len_lang_quantile": q_doc_len_lang_quantile,
        "embedding_prep": q_embedding_prep,
        "minhash_band_plan": q_minhash_band_plan,
        "dedup_semantic_2l": q_dedup_semantic_2l,
        "dedup_pagerank": q_dedup_pagerank,
        "pipeline_curate_v2": q_pipeline_curate_v2,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "minhash_eval": q_minhash_eval,
        "train_shards": q_train_shards,
        "orders_merge_upsert": q_orders_merge_upsert,
        "events_approx_percentiles": q_events_approx_percentiles,
        "text_heavy_hitters": q_text_heavy_hitters,
        "lang_top_tokens": q_lang_top_tokens,
        "lang_heavy_boundary": q_lang_heavy_boundary,
        "dedup_edit_distance": q_dedup_edit_distance,
        "embedding_standardize": q_embedding_standardize,
        # round-8 additions (windowed immediately)
        "adversarial_contract": q_adversarial_contract,
        "retrieval_rrf": q_retrieval_rrf,
        "retrieval_rrf_weighted": q_retrieval_rrf_weighted,
        "nb_lang_score": q_nb_lang_score,
        "nb_lang_eval": q_nb_lang_eval,
        "tokenizer_fertility": q_tokenizer_fertility,
        "collocations_pmi": q_collocations_pmi,
        "multimodal_image_neardup": q_multimodal_image_neardup,
        "multimodal_audio_neardup": q_multimodal_audio_neardup,
        "corpus_card": q_corpus_card,
        "er_customer_link": q_er_customer_link,
        "url_normalize": q_url_normalize,
        "url_dedup": q_url_dedup,
        "domain_caps": q_domain_caps,
        "domain_blocklist": q_domain_blocklist,
        "domain_quality": q_domain_quality,
        "html_extract": q_html_extract,
        "hard_negatives": q_hard_negatives,
        "text_self_dedup": q_text_self_dedup,
        # round-11 additions (windowed immediately)
        "quality_propagate_conv": q_quality_propagate_conv,
        "url_psl_domains": q_url_psl_domains,
        # round-12 additions (windowed immediately)
        "url_psl_rules": q_url_psl_rules,
        "domain_boilerplate": q_domain_boilerplate,
        "embedding_rp8": q_embedding_rp8,
        "dedup_cluster_ari": q_dedup_cluster_ari,
        "dedup_kcore": q_dedup_kcore,
        "stream_cms_state": q_stream_cms_state,
        "nb_lang_confusion": q_nb_lang_confusion,
        "doc_quality_qnorm": q_doc_quality_qnorm,
        "cluster_silhouette": q_cluster_silhouette,
        "lm_heldout_jm": q_lm_heldout_jm,
        "doc_symbol_lang_quantile": q_doc_symbol_lang_quantile,
        "doc_quality_qmatch": q_doc_quality_qmatch,
        "select_facility": q_select_facility,
        "vocab_good_turing": q_vocab_good_turing,
        "source_vocab_jsd": q_source_vocab_jsd,
        "events_quantile_sketch": q_events_quantile_sketch,
        "decontaminate_bloom": q_decontaminate_bloom,
        "quality_bootstrap": q_quality_bootstrap,
        "source_keyness": q_source_keyness,
        "doc_quality_composite_quantile": q_doc_quality_composite_quantile,
        "nb_calibration": q_nb_calibration,
        "quality_propagate_weighted": q_quality_propagate_weighted,
        "nb_platt": q_nb_platt,
        "nb_cv": q_nb_cv,
        # round-10 additions (windowed immediately)
        "quality_propagate": q_quality_propagate,
        "split_leakage_domain": q_split_leakage_domain,
        "dedup_waterfall": q_dedup_waterfall,
        "url_incremental": q_url_incremental,
        "diversity_kcenter": q_diversity_kcenter,
        "diversity_kcenter_64": q_diversity_kcenter_64,
        "unigram_lm_scores": q_unigram_lm_scores,
        "unigram_lm_segment": q_unigram_lm_segment,
        "unigram_lm_em": q_unigram_lm_em,
        "crossmodal_integrity": q_crossmodal_integrity,
        "doc_quality_source_quantile": q_doc_quality_source_quantile,
        "cluster_profile": q_cluster_profile,
        "mixture_plan": q_mixture_plan,
        "curriculum_buckets": q_curriculum_buckets,
        # --- driver-green rounds 1-3: cosine engine (reference parity,
        # SURVEY §2.2-2.4 + §7 A/B)
        "cosine_sparse": q_cosine_sparse,
        "cosine_bucketed": q_cosine_bucketed,
        "cosine_via_sql": q_cosine_via_sql,
        "cosine_dense": q_cosine_dense,
        "cosine_subset": q_cosine_subset,
        "cosine_omit": q_cosine_omit,
        "cosine_norm_none": q_cosine_norm_none,
        "cosine_axis_x": q_cosine_axis_x,
        "cosine_topk": q_cosine_topk,
        "cosine_threshold": q_cosine_threshold,
        "cosine_predict": q_cosine_predict,
        "doc_cosine": q_doc_cosine,
        "doc_cosine_lsh": q_doc_cosine_lsh,
        "doc_cosine_cjk": q_doc_cosine_cjk,
        # text analysis + curation (§7 phase C/D)
        "text_term_counts": q_text_term_counts,
        "text_quality": q_text_quality,
        "text_lang_id": q_text_lang_id,
        "text_repetition": q_text_repetition,
        "text_winnow": q_text_winnow,
        "dedup_winnow": q_dedup_winnow,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "pack_bins": q_pack_bins,
        "sample_stratified": q_sample_stratified,
        "text_line_dedup": q_text_line_dedup,
        "pipeline_curate": q_pipeline_curate,
        # dedup suite (phase D)
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        # similarity search (phase D)
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf_det": q_ann_ivf_det,
        # multimodal plumbing (phase D)
        "multimodal_meta": q_multimodal_meta,
        # events suite (windows/sessions/json/asof/interval/rollup/cube/...)
        "events_hourly": q_events_hourly,
        "events_sliding": q_events_sliding,
        "events_sessions": q_events_sessions,
        "events_json": q_events_json,
        "events_asof": q_events_asof,
        "events_interval": q_events_interval,
        "events_distinct_users": q_events_distinct_users,
        "events_profile": q_events_profile,
        "events_rollup": q_events_rollup,
        "events_cube": q_events_cube,
        "events_pivot": q_events_pivot,
        "events_zscore": q_events_zscore,
        "events_percentiles": q_events_percentiles,
        "customers_no_orders": q_customers_no_orders,
        # relational operator coverage (scans/filters/joins/aggs/sort/limit/
        # window/json)
        "q1_pricing_summary": q_q1,
        "q3_shipping_priority": q_q3,
        "q5_region_revenue": q_q5,
        "q4_order_priority": q_q4_order_priority,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "q18_large_orders": q_q18_large_orders,
        "q10_returned_items": q_q10_returned_items,
        "q12_shipmode_priority": q_q12_shipmode_priority,
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q8_market_share": q_q8_market_share,
        "q9_product_profit": q_q9_product_profit,
        "q11_important_parts": q_q11_important_parts,
        "q13_customer_distribution": q_q13_customer_distribution,
        "q14_promo_revenue": q_q14_promo_revenue,
        "q15_top_supplier": q_q15_top_supplier,
        "q16_supplier_count": q_q16_supplier_count,
        "q17_small_quantity": q_q17_small_quantity,
        "q19_disjunctive_revenue": q_q19_disjunctive_revenue,
        "q20_excess_suppliers": q_q20_excess_suppliers,
        "q21_waiting_supplier": q_q21_waiting_supplier,
        "q22_idle_customers": q_q22_idle_customers,
        "window_top_orders": q_window_top_orders,
    }
    for win in (_ROUND13_WINDOW, _ROUND14_WINDOW):
        assert len(win) == 50
        missing = [n for n in win if n not in base]
        assert not missing, f"window names absent from registry: {missing}"
    out = {n: base[n] for n in _DRIVER_WINDOW}
    out.update((n, f) for n, f in base.items() if n not in out)
    return out


def oracle_sql() -> dict[str, str]:
    topk_sql = f"""
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
FROM rk WHERE rn <= 5"""

    predict_sql = f"""
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
WHERE x.vector IS NULL"""

    jaccard_sql = f"""
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
      >= 0.2"""

    quality_sql = f"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, text, {_TOKS} a FROM documents)
SELECT doc_id,
  CAST(length(text) AS BIGINT) n_chars,
  CAST(len(a) AS BIGINT) n_tokens,
  ROUND(CASE WHEN len(a) > 0
        THEN CAST(list_sum(list_transform(a, t -> length(t))) AS DOUBLE) / len(a)
        ELSE 0.0 END, 6) avg_token_len,
  ROUND(CASE WHEN len(a) > 0
        THEN CAST(len(list_filter(a, t -> list_contains({_STOP_LIST}, t)))
             AS DOUBLE) / len(a)
        ELSE 0.0 END, 6) stopword_ratio,
  ROUND(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        AS DOUBLE) / GREATEST(length(text), 1), 6) digit_ratio,
  ROUND(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
        AS DOUBLE) / GREATEST(length(text), 1), 6) punct_ratio
FROM t"""

    # all-pairs BY SEMANTICS (brute-force near-dup over embeddings) —
    # spelled with list_dot_product computed ONCE per pair in its own
    # CTE: the old explode-join (128M exploded rows) took ~12 s at
    # sf0.1 and a naive list_dot_product spelling that repeated the
    # call in SELECT and WHERE took 19 s; this is 0.5 s, identical
    # values (the dot is the same left-to-right fold either way)
    emb_pairs_sql = """
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
WHERE ROUND(d.dp / (n0.nrm * n1.nrm), 6) >= 0.3"""

    ann_topk_sql = """
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
FROM rk WHERE rn <= 10"""

    sessions_sql = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(SUM(new_s) AS BIGINT) n_sessions,
       CAST(COUNT(*) AS BIGINT) n_events
FROM g GROUP BY user_id"""

    sliding_sql = """
WITH pts AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) s1
  FROM events),
wins AS (
  SELECT event_type, s1 AS ws FROM pts
  UNION ALL
  SELECT event_type, s1 - INTERVAL 30 MINUTE FROM pts)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') window_start, event_type,
       CAST(COUNT(*) AS BIGINT) n_events
FROM wins GROUP BY 1, 2"""

    out = {
        "cosine_sparse": _cosine_sql(_ELEM_SUPPLIER, sparse=True),
        "cosine_bucketed": _cosine_sql(_ELEM_SUPPLIER, sparse=True),
        "cosine_via_sql": _cosine_sql(_ELEM_SUPPLIER, sparse=True),
        "cosine_dense": _cosine_sql(_ELEM_SUPPLIER, sparse=False),
        "cosine_subset": _cosine_sql(_ELEM_SUPPLIER, sparse=True,
                                     subset=["1", "3", "5", "7"]),
        "cosine_omit": _cosine_sql(_ELEM_SUPPLIER, sparse=True, omit=0.25),
        "cosine_norm_none": _cosine_sql(_ELEM_SUPPLIER, sparse=True,
                                        normalization="none"),
        "cosine_axis_x": _cosine_sql(_ELEM_PRIORITY, sparse=True),
        "cosine_topk": topk_sql,
        "cosine_threshold": (
            f"SELECT * FROM ({_cosine_sql(_ELEM_DOCS, sparse=False)})\n"
            "WHERE similarity_value >= 0.8"),
        "cosine_predict": predict_sql,
        "doc_cosine": _cosine_sql(_ELEM_DOCS, sparse=True),
        "doc_cosine_tfidf": _cosine_sql(_ELEM_DOCS_TFIDF, sparse=True,
                                        normalization="none"),
        "doc_cosine_cjk": _cosine_sql(
            _ELEM_DOCS_CJK_TMPL.format(cjk26=_CJK26), sparse=True),
        "doc_cosine_lsh": _doc_cosine_lsh_oracle(),
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) sum_qty,
       ROUND(SUM(l_extendedprice), 2) sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) sum_charge,
       ROUND(AVG(l_quantity), 6) avg_qty,
       ROUND(AVG(l_extendedprice), 6) avg_price,
       ROUND(AVG(l_discount), 6) avg_disc,
       CAST(COUNT(*) AS BIGINT) count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        "q5_region_revenue": """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name""",
        "q4_order_priority": """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority""",
        "q6_forecast_revenue": """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""",
        "q18_large_orders": """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 6) total_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 6) > 250)
SELECT c_custkey, c_name, o_orderkey,
       ROUND(o_totalprice, 2) o_totalprice, total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey""",
        "q10_returned_items": """
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue,
       CAST(COUNT(*) AS BIGINT) n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name""",
        "q12_shipmode_priority": """
SELECT strftime(l_shipdate, '%Y') || '-0' ||
         CAST(quarter(l_shipdate) AS VARCHAR) AS ship_quarter,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY 1""",
        "q7_volume_shipping": """
SELECT n1.n_name supp_nation, n2.n_name cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) l_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3""",
        "q8_market_share": """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) o_year,
       CAST(ROUND(SUM(CASE WHEN n2.n_name = 'NATION_3'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           ELSE 0 END)
                  / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6)
            AS DOUBLE) mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1""",
        "q9_product_profit": """
SELECT n_name nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(0.1 AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))), 2)
            AS DOUBLE) sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2""",
        "q13_customer_distribution": """
SELECT c_count, CAST(COUNT(*) AS BIGINT) custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
GROUP BY c_count""",
        "q14_promo_revenue": """
SELECT CAST(ROUND(CAST(100 AS DECIMAL(18,2))
                  * SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        ELSE 0 END)
                  / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 6)
            AS DOUBLE) promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'""",
        "q15_top_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
           total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""",
        "q16_supplier_count": """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3""",
        "q17_small_quantity": """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7, 2)
            AS DOUBLE) avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < 0.2 * (
    SELECT AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)""",
        "q19_disjunctive_revenue": """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)""",
        "q20_excess_suppliers": """
WITH pq AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) sq
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
  GROUP BY 1, 2),
pt AS (SELECT l_partkey, SUM(sq) tq, COUNT(*) ns FROM pq GROUP BY 1)
SELECT pq.l_partkey partkey, s_suppkey, s_name,
       ROUND(sq, 2) supplier_qty, ROUND(tq, 2) part_total_qty
FROM pq
JOIN pt ON pq.l_partkey = pt.l_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE ns >= 3 AND sq > 2.0 * tq / ns""",
        "q21_waiting_supplier": """
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND s_nationkey IN (0, 1, 2, 3, 4)
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY 1, 2""",
        "q22_idle_customers": """
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
         totacctbal
FROM customer
WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
  AND c_acctbal > (
    SELECT ROUND(AVG(c_acctbal), 2) FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (0, 1, 2, 3, 4, 5, 6))
  AND NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_nationkey""",
        "q2_min_cost_supplier": """
WITH assoc AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_size = 5)
SELECT l_partkey partkey, p_name, s_name, ROUND(s_acctbal, 2) s_acctbal
FROM assoc
JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE s_acctbal = (
  SELECT MIN(s2.s_acctbal)
  FROM assoc a2 JOIN supplier s2 ON a2.l_suppkey = s2.s_suppkey
  WHERE a2.l_partkey = assoc.l_partkey)""",
        "q11_important_parts": """
WITH base AS (
  SELECT l_partkey,
         CAST(l_quantity AS DECIMAL(18,2))
           * CAST(p_retailprice AS DECIMAL(18,2)) val
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier WHERE s_nationkey IN (0, 1)))
SELECT l_partkey partkey,
       CAST(ROUND(SUM(val), 2) AS DOUBLE) part_value
FROM base
GROUP BY l_partkey
HAVING SUM(val) > (
  SELECT SUM(val) * CAST(0.001 AS DECIMAL(18,6)) FROM base)""",
        "window_top_orders": """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) total_price,
       CAST(rn AS INT) rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) rn
  FROM orders)
WHERE rn <= 3""",
        "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') window_start,
       event_type, CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(SUM(value), 6) sum_value
FROM events GROUP BY 1, 2""",
        "events_sliding": sliding_sql,
        "events_sessions": sessions_sql,
        "events_json": """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) sum_k,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY event_type""",
        "events_distinct_users": """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) n_users
FROM events GROUP BY event_type""",
        "events_profile": """
SELECT 'event_id' col_name, CAST(COUNT(*) AS BIGINT) n_rows,
       CAST(COUNT(*) FILTER (event_id IS NULL) AS BIGINT) n_null,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) n_distinct,
       CAST(MIN(event_id) AS VARCHAR) min_value,
       CAST(MAX(event_id) AS VARCHAR) max_value
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT),
       CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
FROM events""",
        "events_interval": """
WITH marks AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
              OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
tagged AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) sid
  FROM marks),
sessions AS (
  SELECT user_id AS s_user, CAST(sid AS BIGINT) sid,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) - 60 AS s_begin,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) + 60 AS s_close
  FROM tagged GROUP BY 1, 2),
errors AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
SELECT e.event_id, e.user_id, s.sid, s.s_begin AS s_begin_epoch
FROM errors e JOIN sessions s
  ON e.user_id = s.s_user
 AND epoch(e.ts) >= s.s_begin AND epoch(e.ts) <= s.s_close""",
        "events_asof": """
WITH ranked AS (
  SELECT p.event_id, p.user_id, ROUND(p.value, 6) val,
         c.event_id AS click_id,
         date_diff('second', c.ts, p.ts) AS gap_sec,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) rn
  FROM events p
  JOIN events c ON p.user_id = c.user_id AND c.ts <= p.ts
                AND c.event_type = 'click'
  WHERE p.event_type = 'purchase')
SELECT event_id, user_id, val, click_id, CAST(gap_sec AS BIGINT) gap_sec
FROM ranked WHERE rn = 1""",
        "events_cube": """
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(weekday, 'ALL') weekday,
       CAST(COUNT(*) AS BIGINT) n_events,
       CAST(GROUPING(event_type, weekday) AS BIGINT) gid
FROM (SELECT event_type, strftime(ts, '%a') weekday FROM events)
GROUP BY CUBE (event_type, weekday)""",
        "events_rollup": """
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(event_day, 'ALL') event_day,
       CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(SUM(value), 6) sum_value
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') event_day, value FROM events)
GROUP BY ROLLUP (event_type, event_day)""",
        "events_pivot": """
SELECT strftime(ts, '%Y-%m-%d') event_day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) n_view
FROM events GROUP BY 1""",
        "users_view_and_purchase": """
SELECT user_id FROM events WHERE event_type = 'view'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'""",
        "orders_quartiles": """
WITH q AS (SELECT NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey)
             quartile, o_totalprice
           FROM orders)
SELECT CAST(quartile AS INT) quartile, CAST(COUNT(*) AS BIGINT) n,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) total,
  ROUND(MIN(o_totalprice), 2) lo, ROUND(MAX(o_totalprice), 2) hi
FROM q GROUP BY 1""",
        "events_corr": """
SELECT event_type,
  ROUND(corr(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)), 6)
    corr_val_hour,
  ROUND(covar_samp(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)), 6)
    covar_val_hour,
  CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY 1""",
        "events_value_hist": """
SELECT event_type, CAST(FLOOR(value / 2) AS BIGINT) bucket,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY 1, 2""",
        "events_grouping_sets": """
SELECT COALESCE(event_type, 'ALL') event_type,
       COALESCE(weekday, 'ALL') weekday,
       CAST(COUNT(*) AS BIGINT) n_events,
       CAST(GROUPING(event_type, weekday) AS BIGINT) gid
FROM (SELECT event_type, strftime(ts, '%a') weekday FROM events)
GROUP BY GROUPING SETS ((event_type), (weekday), ())""",
        "text_zipf": f"""
WITH tok AS (SELECT unnest({_TOKS}) term FROM documents),
c AS (SELECT term, COUNT(*) n FROM tok GROUP BY 1),
tot AS (SELECT SUM(n) t FROM c),
top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 30)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT) AS "rank",
       term, CAST(n AS BIGINT) n,
       ROUND(CAST(n AS DOUBLE) / t, 6) AS share
FROM top, tot""",
        "doc_lang_source_lift": """
WITH cell AS (SELECT lang, source, COUNT(*) n_cell FROM documents
              GROUP BY 1, 2),
ml AS (SELECT lang, COUNT(*) n_lang FROM documents GROUP BY 1),
ms AS (SELECT source, COUNT(*) n_source FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) n_total FROM documents)
SELECT cell.lang, cell.source, CAST(n_cell AS BIGINT) n_cell,
       ROUND(CAST(n_cell AS DOUBLE) * n_total / (n_lang * n_source), 6) lift
FROM cell JOIN ml USING (lang) JOIN ms USING (source), tot""",
        "cdc_snapshot": """
WITH c AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) rn
  FROM orders)
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) latest_price
FROM c WHERE rn = 1 AND o_orderstatus <> 'F'""",
        "customer_rfm": """
WITH per AS (
  SELECT o_custkey, MAX(o_orderdate) last_dt,
         CAST(COUNT(*) AS BIGINT) f,
         ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) m
  FROM orders GROUP BY 1),
ref AS (SELECT MAX(o_orderdate) ref_dt FROM orders),
pr AS (SELECT o_custkey,
              CAST(date_diff('day', last_dt, ref_dt) AS BIGINT) r, f, m
       FROM per, ref),
b AS (SELECT quantile_cont(r, [0.25, 0.5, 0.75]) br,
             quantile_cont(f, [0.25, 0.5, 0.75]) bf,
             quantile_cont(m, [0.25, 0.5, 0.75]) bm
      FROM pr),
q AS (SELECT o_custkey, r, f, m,
  CAST(5 - (CASE WHEN r <= br[1] THEN 1 WHEN r <= br[2] THEN 2
                 WHEN r <= br[3] THEN 3 ELSE 4 END) AS INT) r_q,
  CAST(CASE WHEN f <= bf[1] THEN 1 WHEN f <= bf[2] THEN 2
            WHEN f <= bf[3] THEN 3 ELSE 4 END AS INT) f_q,
  CAST(CASE WHEN m <= bm[1] THEN 1 WHEN m <= bm[2] THEN 2
            WHEN m <= bm[3] THEN 3 ELSE 4 END AS INT) m_q
  FROM pr, b)
SELECT o_custkey, r, f, CAST(m AS DOUBLE) m, r_q, f_q, m_q,
       concat_ws('-', r_q, f_q, m_q) AS segment
FROM q""",
        "dedup_triangles": f"""
WITH {_minhash_cte()}
SELECT CAST(COUNT(*) AS BIGINT) n_triangles
FROM mh_cand e1
JOIN mh_cand e2 ON e2.doc0 = e1.doc1
JOIN mh_cand e3 ON e3.doc0 = e1.doc0 AND e3.doc1 = e2.doc1""",
        "split_leakage_safe": f"""
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
FROM fr""",
        "scd2_orders": """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) price,
       strftime(o_orderdate, '%Y-%m-%d') valid_from,
       strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') valid_to,
       CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
            THEN 1 ELSE 0 END AS INT) is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
        "events_hour_spine": """
WITH span AS (SELECT date_trunc('hour', MIN(ts)) lo,
                     date_trunc('hour', MAX(ts)) hi FROM events),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) hr
          FROM span),
c AS (SELECT date_trunc('hour', ts) hr, COUNT(*) n FROM events GROUP BY 1)
SELECT strftime(spine.hr, '%Y-%m-%d %H:%M:%S') hr,
       CAST(COALESCE(c.n, 0) AS BIGINT) n
FROM spine LEFT JOIN c ON spine.hr = c.hr""",
        "events_k_anonymity": """
WITH q AS (SELECT event_type, EXTRACT(hour FROM ts) hr,
                  CAST(FLOOR(value / 10) AS BIGINT) vb FROM events),
g AS (SELECT event_type, hr, vb, COUNT(*) n FROM q GROUP BY 1, 2, 3)
SELECT CAST(COUNT(*) AS BIGINT) n_groups,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         groups_under_k,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) rows_at_risk
FROM g""",
        "data_quality_checks": """
SELECT 'not_null(event_id)' check_name,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         n_violations FROM events
UNION ALL
SELECT 'not_null(user_id)',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'in_set(event_type)',
       CAST(SUM(CASE WHEN event_type IS NULL OR event_type NOT IN
            ('click','error','purchase','signup','view')
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'in_range(value)',
       CAST(SUM(CASE WHEN value IS NULL OR value < 0.0 OR value > 1000.0
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'props_has_k',
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
            THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'unique(event_id)',
       CAST(COALESCE(SUM(n), 0) AS BIGINT)
FROM (SELECT COUNT(*) n FROM events GROUP BY event_id HAVING COUNT(*) > 1)
UNION ALL
SELECT 'foreign_key(o_custkey)',
       CAST(COUNT(*) AS BIGINT)
FROM orders o WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)""",
        "customer_order_counts_right": """
SELECT c.c_custkey, c.c_mktsegment,
       CAST(COUNT(o.o_orderkey) AS BIGINT) n_orders
FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2""",
        "text_novelty": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
g AS (
  SELECT doc, unnest(list_distinct(CASE WHEN len(a) >= 4
    THEN list_transform(range(len(a) - 3),
                        i -> array_to_string(a[i+1:i+4], ' '))
    ELSE [] END)) gram
  FROM t),
dg AS (SELECT doc, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) gh
       FROM g),
fst AS (SELECT gh, MIN(doc) first_doc FROM dg GROUP BY 1),
per AS (
  SELECT dg.doc, CAST(COUNT(*) AS BIGINT) n_grams,
         CAST(SUM(CASE WHEN fst.first_doc = dg.doc THEN 1 ELSE 0 END)
              AS BIGINT) novel
  FROM dg JOIN fst USING (gh) GROUP BY 1)
SELECT t.doc, CAST(COALESCE(per.n_grams, 0) AS BIGINT) n_grams,
       CAST(COALESCE(per.novel, 0) AS BIGINT) novel,
       CASE WHEN COALESCE(per.n_grams, 0) > 0
            THEN ROUND(CAST(per.novel AS DOUBLE) / per.n_grams, 6)
       END novelty_frac
FROM t LEFT JOIN per USING (doc)""",
        "orders_yoy_growth": """
WITH yearly AS (
  SELECT EXTRACT(year FROM o_orderdate) yr, o_orderpriority,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           revenue
  FROM orders GROUP BY 1, 2)
SELECT CAST(yr AS INT) yr, o_orderpriority, revenue,
       ROUND((revenue - LAG(revenue) OVER w)
             / LAG(revenue) OVER w * 100, 6) yoy_pct
FROM yearly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY yr)""",
        "events_unpivot": """
WITH wide AS (
  SELECT strftime(ts, '%Y-%m-%d') event_day,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) n_click,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) n_error,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) n_purchase,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) n_signup,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) n_view
  FROM events GROUP BY 1)
SELECT event_day, event_type, CAST(n AS BIGINT) n
FROM wide UNPIVOT (n FOR event_type IN (
  n_click AS 'click', n_error AS 'error', n_purchase AS 'purchase',
  n_signup AS 'signup', n_view AS 'view'))
WHERE n > 0""",
        "events_click_purchase_days": """
WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) n
           FROM events WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) n
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT COALESCE(c.d, p.d) AS "day",
       CAST(COALESCE(c.n, 0) AS BIGINT) n_clicks,
       CAST(COALESCE(p.n, 0) AS BIGINT) n_purchases
FROM c FULL OUTER JOIN p ON c.d = p.d""",
        "orders_price_position": """
SELECT o_orderkey, o_orderpriority,
       ROUND(PERCENT_RANK() OVER w, 6) pct_rank,
       ROUND(CUME_DIST() OVER w, 6) cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)""",
        "dedup_cross_source": f"""
WITH {_minhash_cte()},
src AS (SELECT CAST(doc_id AS BIGINT) doc, source FROM documents)
SELECT LEAST(a.source, b.source) source_a,
       GREATEST(a.source, b.source) source_b,
       CAST(COUNT(*) AS BIGINT) n_pairs
FROM mh_cand c JOIN src a ON a.doc = c.doc0 JOIN src b ON b.doc = c.doc1
GROUP BY 1, 2""",
        "text_ttr": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents)
SELECT doc_id, CAST(len(a) AS BIGINT) n_tokens,
       CAST(len(list_distinct(a)) AS BIGINT) n_types,
       ROUND(CAST(len(list_distinct(a)) AS DOUBLE) / len(a), 6) ttr
FROM t WHERE len(a) > 0""",
        "events_forward_fill": """
SELECT event_id, user_id,
       ROUND(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                        IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS filled_value
FROM events""",
        "events_json_variant": """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) sum_k,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         avg_k,
       CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) n_with_k
FROM events GROUP BY 1""",
        "events_session_window": """
WITH o AS (
  SELECT user_id, value, epoch_us(ts) us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                      >= 1800 * 1000000
              THEN 1 ELSE 0 END brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, brk DESC
                           ROWS UNBOUNDED PRECEDING) sid
  FROM o)
SELECT user_id, MIN(us) start_us, MAX(us) + 1800 * 1000000 end_us,
       CAST(COUNT(*) AS BIGINT) n_events, ROUND(SUM(value), 6) sum_value
FROM s GROUP BY user_id, sid""",
        "customer_running_spend": """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_spend
FROM orders""",
        "events_mad_outliers": """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) med FROM events
             GROUP BY 1),
ad AS (SELECT e.event_type, m.med, ABS(e.value - m.med) ad
       FROM events e JOIN med m USING (event_type)),
mad AS (SELECT event_type, quantile_cont(ad, 0.5) mad FROM ad GROUP BY 1)
SELECT ad.event_type, ROUND(MIN(ad.med), 6) med, ROUND(MIN(mad.mad), 6) mad,
       CAST(SUM(CASE WHEN ROUND(ad.ad, 6) > ROUND(3 * mad.mad, 6)
                THEN 1 ELSE 0 END) AS BIGINT) n_outliers
FROM ad JOIN mad USING (event_type) GROUP BY 1""",
        "events_transitions": """
WITH o AS (SELECT event_type,
                  LAG(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) prev_type
           FROM events),
c AS (SELECT prev_type, event_type AS next_type, COUNT(*) cnt
      FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY prev_type), 6) AS prob
FROM c""",
        "events_gap_stats": """
WITH g AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
         - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) gap
  FROM events)
SELECT user_id, CAST(COUNT(gap) AS BIGINT) n_gaps,
       ROUND(AVG(gap), 6) avg_gap_sec, CAST(MAX(gap) AS BIGINT) max_gap_sec
FROM g GROUP BY 1 HAVING COUNT(gap) >= 1""",
        "events_funnel": """
WITH f AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) t_purchase
  FROM events GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) n_users,
  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    n_view,
  CAST(SUM(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT)
    n_view_click,
  CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_purchase
            THEN 1 ELSE 0 END) AS BIGINT) n_view_click_purchase
FROM f""",
        "events_retention": """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) dt FROM events),
cohort AS (SELECT user_id, MIN(dt) cohort_day FROM days GROUP BY 1)
SELECT d.cohort_day, CAST(day_offset AS INT) day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) n_active
FROM (SELECT days.user_id, cohort.cohort_day,
             days.dt - cohort.cohort_day AS day_offset
      FROM days JOIN cohort USING (user_id)) d
GROUP BY d.cohort_day, day_offset HAVING day_offset <= 7""",
        "events_moving_avg": """
SELECT event_id, user_id,
  ROUND(AVG(value) OVER w, 6) avg_1h,
  CAST(COUNT(*) OVER w AS BIGINT) n_1h
FROM (SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) sec FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
        "events_zscore": """
SELECT event_id, event_type,
       ROUND((value - AVG(value) OVER (PARTITION BY event_type))
             / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) zscore
FROM events""",
        "events_percentiles": """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) p50,
       ROUND(quantile_cont(value, 0.9), 6) p90,
       CAST(COUNT(*) AS BIGINT) n
FROM events GROUP BY event_type""",
        "customers_no_orders": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    AND o.o_orderdate < TIMESTAMP '1995-07-01')""",
        "users_click_not_purchase": """
SELECT user_id FROM events
WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-02'
GROUP BY user_id
EXCEPT ALL
SELECT user_id FROM events
WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02'
GROUP BY user_id""",
        "text_term_counts": f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) doc, unnest({_TOKS}) AS word
  FROM documents)
SELECT doc AS y, word AS x, CAST(COUNT(*) AS DOUBLE) AS "value"
FROM tok WHERE word NOT IN ({_SW_SQL}) GROUP BY 1, 2""",
        "text_quality": quality_sql,
        "text_lang_id": _lang_id_oracle(),
        "pipeline_curate": _curate_oracle(),
        "text_repetition": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
g2 AS (SELECT doc, unnest(CASE WHEN len(a) >= 2
         THEN list_transform(range(len(a) - 1),
                             i -> array_to_string(a[i+1:i+2], ' '))
         ELSE [] END) gram FROM t),
c2 AS (SELECT doc, gram, COUNT(*) c FROM g2 GROUP BY 1, 2),
f2 AS (SELECT doc,
         ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
               / SUM(c), 6) dup_gram_frac_2,
         ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) top_gram_frac_2
       FROM c2 GROUP BY doc),
g3 AS (SELECT doc, unnest(CASE WHEN len(a) >= 3
         THEN list_transform(range(len(a) - 2),
                             i -> array_to_string(a[i+1:i+3], ' '))
         ELSE [] END) gram FROM t),
c3 AS (SELECT doc, gram, COUNT(*) c FROM g3 GROUP BY 1, 2),
f3 AS (SELECT doc,
         ROUND(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
               / SUM(c), 6) dup_gram_frac_3,
         ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) top_gram_frac_3
       FROM c3 GROUP BY doc)
SELECT t.doc,
  COALESCE(f2.dup_gram_frac_2, 0.0) dup_gram_frac_2,
  COALESCE(f2.top_gram_frac_2, 0.0) top_gram_frac_2,
  COALESCE(f3.dup_gram_frac_3, 0.0) dup_gram_frac_3,
  COALESCE(f3.top_gram_frac_3, 0.0) top_gram_frac_3
FROM t LEFT JOIN f2 USING(doc) LEFT JOIN f3 USING(doc)""",
        "pii_redact": f"""
WITH aug AS (SELECT CAST(doc_id AS BIGINT) doc,
  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
  '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
  CAST(doc_id % 100 AS VARCHAR) || ' call +49 171 ' ||
  CAST(1000000 + doc_id AS VARCHAR) AS t
  FROM documents)
SELECT doc,
  CAST(len(regexp_extract_all(t, '{CU.PII_PATTERNS["email"]}')) AS BIGINT)
    n_email,
  CAST(len(regexp_extract_all(t, '{CU.PII_PATTERNS["phone"]}')) AS BIGINT)
    n_phone,
  CAST(len(regexp_extract_all(t, '{CU.PII_PATTERNS["ipv4"]}')) AS BIGINT)
    n_ipv4,
  regexp_replace(regexp_replace(regexp_replace(t,
      '{CU.PII_PATTERNS["email"]}', '<PII>', 'g'),
      '{CU.PII_PATTERNS["phone"]}', '<PII>', 'g'),
      '{CU.PII_PATTERNS["ipv4"]}', '<PII>', 'g') redacted
FROM aug""",
        "decontaminate": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, source, {_TOKS} a
           FROM documents),
g AS (SELECT doc, source, unnest(CASE WHEN len(a) >= 4
        THEN list_transform(range(len(a) - 3),
                            i -> array_to_string(a[i+1:i+4], ' '))
        ELSE [] END) gram FROM t),
dh AS (SELECT doc, source,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) g FROM g),
b AS (SELECT DISTINCT g FROM dh WHERE source = 'src0'),
d AS (SELECT doc, g FROM dh WHERE source <> 'src0')
SELECT d.doc, CAST(COUNT(DISTINCT d.g) AS BIGINT) n_hits
FROM d JOIN b USING (g) GROUP BY 1""",
        # decontaminate_bloom's oracle IS the exact rule (grams, not
        # hashes — same cardinality): the Bloom gate + rescue must be
        # output-identical to exact decontamination
        "decontaminate_bloom": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, source, {_TOKS} a
           FROM documents),
g AS (SELECT doc, source, unnest(CASE WHEN len(a) >= 4
        THEN list_transform(range(len(a) - 3),
                            i -> array_to_string(a[i+1:i+4], ' '))
        ELSE [] END) gram FROM t),
b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
d AS (SELECT doc, gram FROM g WHERE source <> 'src0')
SELECT d.doc, CAST(COUNT(DISTINCT d.gram) AS BIGINT) n_hits
FROM d JOIN b USING (gram) GROUP BY 1""",
        "pack_bins": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc,
                  CAST(len({_TOKS}) AS BIGINT) n_tok FROM documents)
SELECT doc, n_tok,
  CAST(FLOOR(COALESCE(SUM(n_tok) OVER (ORDER BY doc
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
    AS BIGINT) bin
FROM t""",
        "sample_stratified": """
SELECT CAST(doc_id AS BIGINT) doc_id, lang, source FROM documents
WHERE ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        >> 30) / 1073741824.0)
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                  WHEN 'fr' THEN 0.25 ELSE 0.0 END""",
        "tfidf_terms": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tf AS (SELECT doc, w term, CAST(COUNT(*) AS BIGINT) tf FROM toks
       GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) n_docs FROM documents),
scored AS (
  SELECT tf.doc, tf.term, tf.tf,
         ROUND(tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)) + 1), 6) tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
r AS (SELECT doc, term, tf, tfidf,
        ROW_NUMBER() OVER (PARTITION BY doc
                           ORDER BY tfidf DESC, term) rn
      FROM scored)
SELECT doc, term, tf, tfidf, CAST(rn AS INT) rank FROM r WHERE rn <= 3""",
        "bm25_rank": f"""
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
FROM c GROUP BY 1 ORDER BY score DESC, doc LIMIT 15""",
        "knn_classify": """
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
      FROM votes) WHERE rn = 1""",
        "mixture_resample": """
WITH counts AS (SELECT source s, COUNT(*) n FROM documents GROUP BY 1),
r AS (SELECT s, LEAST(1.0,
        CASE s WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
               WHEN 'src2' THEN 0.2 ELSE 0.0 END * 40.0 / n) rate
      FROM counts)
SELECT CAST(d.doc_id AS BIGINT) doc_id, d.source, d.lang
FROM documents d JOIN r ON d.source = r.s
WHERE ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) >> 30) / 1073741824.0) < r.rate""",
        "dedup_spans": f"""
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
FROM toklist t LEFT JOIN cov ON cov.doc = t.doc""",
        "curation_funnel": f"""
WITH a AS (
  SELECT COUNT(*) total,
    SUM(CASE WHEN n_chars >= 60 THEN 1 ELSE 0 END) s0,
    SUM(CASE WHEN n_chars >= 60 AND lang <> 'zh' THEN 1 ELSE 0 END) s1,
    SUM(CASE WHEN n_chars >= 60 AND lang <> 'zh'
              AND len({_TOKS}) >= 20 THEN 1 ELSE 0 END) s2
  FROM documents)
SELECT CAST(1 AS INT) stage_idx, 'min_chars' stage,
       CAST(s0 AS BIGINT) n_pass, ROUND(s0 / total, 6) pass_rate FROM a
UNION ALL
SELECT CAST(2 AS INT), 'latin_script', CAST(s1 AS BIGINT),
       ROUND(s1 / total, 6) FROM a
UNION ALL
SELECT CAST(3 AS INT), 'min_tokens', CAST(s2 AS BIGINT),
       ROUND(s2 / total, 6) FROM a""",
        "dedup_collision": f"""
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
FROM k JOIN g USING (ck)""",
        "vocab_coverage": f"""
WITH toklist AS (SELECT {_TOKS} a FROM documents),
toks AS (SELECT unnest(a) w FROM toklist),
tc AS (SELECT w term, CAST(COUNT(*) AS BIGINT) cnt FROM toks GROUP BY 1),
tot AS (SELECT SUM(cnt) tot FROM tc),
r AS (SELECT term, cnt,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, term) rk,
        SUM(cnt) OVER (ORDER BY cnt DESC, term
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      FROM tc)
SELECT CAST(rk AS INT) rank, term, cnt, ROUND(cum / tot.tot, 6) cum_share
FROM r CROSS JOIN tot WHERE rk <= 20""",
        "unigram_logprob": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc)
SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
       ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc""",
        "ccnet_buckets": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc),
scored AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
         ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
  FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc),
ranked AS (
  SELECT s.doc, d.lang, s.n_tokens, s.avg_neg_logprob,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.avg_neg_logprob, s.doc) rn,
         COUNT(*) OVER (PARTITION BY d.lang) n
  FROM scored s JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.doc)
SELECT doc AS doc_id, lang, n_tokens, avg_neg_logprob,
       CASE WHEN rn <= (n + 2) // 3 THEN 'head'
            WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked""",
        "embedding_norms": """
WITH ee AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) x
            FROM embeddings),
nn AS (SELECT vec_id, label, SQRT(SUM(x*x)) nrm FROM ee GROUP BY 1, 2)
SELECT label, CAST(COUNT(*) AS BIGINT) n,
       ROUND(MIN(nrm), 6) min_norm, ROUND(MAX(nrm), 6) max_norm,
       ROUND(AVG(nrm), 6) avg_norm
FROM nn GROUP BY 1""",
        "dedup_degrees": f"""
WITH {_minhash_cte()},
deg AS (SELECT doc, COUNT(*) degree FROM (
          SELECT doc0 doc FROM mh_cand
          UNION ALL SELECT doc1 FROM mh_cand) GROUP BY 1)
SELECT CAST(degree AS BIGINT) degree, CAST(COUNT(*) AS BIGINT) n_docs
FROM deg GROUP BY 1""",
        "bigram_logprob": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, generate_subscripts(a, 1) pos, unnest(a) w
         FROM toklist),
bi AS (SELECT t1.doc, t1.w prev, t2.w w
       FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc
                                AND t2.pos = t1.pos + 1),
bc AS (SELECT prev, w, COUNT(*) bc FROM bi GROUP BY 1, 2),
uc AS (SELECT prev, COUNT(*) uc FROM bi GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w) v FROM toks)
SELECT bi.doc, CAST(COUNT(*) AS BIGINT) n_bigrams,
  ROUND(-AVG(ln((bc.bc + 1) / (uc.uc + v.v))), 6) avg_neg_logprob
FROM bi JOIN bc USING (prev, w) JOIN uc USING (prev) CROSS JOIN v
GROUP BY bi.doc""",
        "embedding_outliers": """
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
FROM r WHERE rk <= 5""",
        "sample_per_source": """
WITH t AS (
  SELECT source,
         CAST(doc_id AS VARCHAR) kv,
         ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) >> 30) / 1073741824.0) p
  FROM documents),
r AS (SELECT source, kv,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY p, kv) rk
      FROM t)
SELECT source, kv AS key_val, CAST(rk AS INT) rank FROM r WHERE rk <= 3""",
        "temperature_resample": """
WITH counts AS (SELECT lang s, CAST(COUNT(*) AS BIGINT) n
                FROM documents GROUP BY 1),
r AS (SELECT s, LEAST(1.0,
        (POW(CAST(n AS DOUBLE), 0.5)
         / SUM(POW(CAST(n AS DOUBLE), 0.5)) OVER ()) * 200.0 / n) rate
      FROM counts)
SELECT CAST(d.doc_id AS BIGINT) doc_id, d.lang, d.source
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.s
WHERE ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) >> 30) / 1073741824.0) < r.rate""",
        "budget_select": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc,
                  CAST(len({_TOKS}) AS BIGINT) n_tok, lang stratum,
                  ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) >> 30) / 1073741824.0) p
           FROM documents),
c AS (SELECT doc, stratum, n_tok,
        SUM(n_tok) OVER (PARTITION BY stratum ORDER BY p, doc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      FROM t)
SELECT doc, stratum, n_tok FROM c WHERE cum <= 2000""",
        "text_token_stats": f"""
SELECT CAST(doc_id AS BIGINT) doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
       AS BIGINT) n_ws_tokens,
  CAST(len({_TOKS}) AS BIGINT) n_word_tokens,
  CAST(len(regexp_extract_all(lower(text),
       '{TX.BPE_ISH_PATTERN.replace(chr(39), chr(39) * 2)}')) AS BIGINT)
       n_bpe_tokens,
  CAST(length(text) AS BIGINT) n_chars
FROM documents""",
        "text_fingerprint": f"""
SELECT CAST(doc_id AS BIGINT) doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fingerprint,
       CAST(len({_TOKS}) AS BIGINT) n_tokens
FROM documents""",
        "text_split": """
SELECT doc_id,
       CASE WHEN frac < 0.98 THEN 'train'
            WHEN frac < 0.99 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) >> 30) / 1073741824.0 AS frac
      FROM documents)""",
        "text_line_dedup": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
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
  SELECT doc, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc, pos) rn
  FROM chunks),
rebuilt AS (
  SELECT doc, string_agg(line, chr(10) ORDER BY pos) AS text
  FROM firsts WHERE rn = 1 GROUP BY doc)
SELECT t.doc, COALESCE(r.text, '') AS text
FROM t LEFT JOIN rebuilt r ON t.doc = r.doc""",
        "text_winnow": f"""
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
             ELSE [] END mins FROM h)
SELECT DISTINCT CAST(doc_id AS BIGINT) doc, unnest(mins) AS fp FROM m""",
        "dedup_winnow": f"""
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
HAVING COUNT(*) >= 2""",
        "dedup_exact": """
SELECT CAST(MIN(doc_id) AS BIGINT) doc_id,
       -- NULL text -> per-doc sentinel (each NULL doc its own
       -- singleton group), mirroring dedup._fp_or_unique
       COALESCE(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                chr(0) || 'null:' || CAST(doc_id AS VARCHAR)) fingerprint
FROM documents
GROUP BY 2""",
        "dedup_ngram_jaccard": jaccard_sql,
        "dedup_minhash": _minhash_oracle(),
        "dedup_incremental": _incremental_oracle(),
        "dedup_bloom": _bloom_oracle(),
        "stream_bloom_state": _stream_bloom_oracle(),
        "stream_cms_state": _cms_stream_oracle(),
        "lm_windows": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
st AS (SELECT doc, a,
              COALESCE(SUM(len(a)) OVER (ORDER BY doc
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS start
       FROM toklist),
placed AS (SELECT doc, unnest(a) w,
                  start + generate_subscripts(a, 1) - 1 AS gpos,
                  generate_subscripts(a, 1) = 1 AS doc_first
           FROM st)
SELECT CAST(gpos // 64 AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
       MIN(doc) AS first_doc,
       COALESCE(string_agg(CAST(gpos % 64 AS VARCHAR), ' ' ORDER BY gpos)
                  FILTER (WHERE doc_first), '') AS doc_starts_str,
       string_agg(w, ' ' ORDER BY gpos) AS tokens_str
FROM placed GROUP BY 1""",
        "fim_examples": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
base AS (SELECT doc, a, CAST(len(a) AS BIGINT) n FROM toklist
         WHERE len(a) >= 8),
cuts AS (SELECT doc, a, n,
           CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':a'), 1, 15)
                AS BIGINT) % (n + 1) AS ca,
           CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':b'), 1, 15)
                AS BIGINT) % (n + 1) AS cb
         FROM base),
pp AS (SELECT doc, a, n, LEAST(ca, cb) p1, GREATEST(ca, cb) p2 FROM cuts)
SELECT doc AS doc_id, n AS n_tokens, p1, p2,
       '<PRE> '
         || COALESCE(array_to_string(list_slice(a, 1, p1), ' '), '')
         || ' <SUF> '
         || COALESCE(array_to_string(list_slice(a, p2 + 1, n), ' '), '')
         || ' <MID> '
         || COALESCE(array_to_string(list_slice(a, p1 + 1, p2), ' '), '')
         AS fim_text
FROM pp""",
        "retrieval_ndcg": f"""
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
FROM dcg CROSS JOIN idcg""",
        "corpus_drift_psi": """
WITH rb AS (SELECT CAST(FLOOR(n_chars / 200.0) AS BIGINT) bin, COUNT(*) c
            FROM documents WHERE doc_id % 20 < 10 AND n_chars IS NOT NULL
            GROUP BY 1),
nb AS (SELECT CAST(FLOOR(n_chars / 200.0) AS BIGINT) bin, COUNT(*) c
       FROM documents WHERE doc_id % 20 >= 10 AND n_chars IS NOT NULL
       GROUP BY 1),
j AS (SELECT COALESCE(rb.bin, nb.bin) bin,
             COALESCE(rb.c, 0) ref_cnt, COALESCE(nb.c, 0) new_cnt
      FROM rb FULL OUTER JOIN nb ON rb.bin = nb.bin),
tot AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) nr,
               CAST(SUM(new_cnt) AS BIGINT) nn, COUNT(*) b FROM j),
terms AS (SELECT bin, ref_cnt, new_cnt,
            CAST(FLOOR(((ref_cnt + 1.0) / (nr + b)
                        - (new_cnt + 1.0) / (nn + b))
                       * ln(((ref_cnt + 1.0) / (nr + b))
                            / ((new_cnt + 1.0) / (nn + b)))
                       * 1000000000.0 + 0.5) AS BIGINT) term
          FROM j CROSS JOIN tot)
SELECT bin, CAST(ref_cnt AS BIGINT) AS ref_cnt,
       CAST(new_cnt AS BIGINT) AS new_cnt, term AS psi_term_u,
       CAST(SUM(term) OVER () AS BIGINT) AS psi_u
FROM terms""",
        "skipgram_cooc": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
tk AS (SELECT doc, generate_subscripts(a, 1) i, unnest(a) w
       FROM toklist)
SELECT t1.w AS center, t2.w AS context, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tk t1 JOIN tk t2
  ON t1.doc = t2.doc AND t2.i BETWEEN t1.i - 2 AND t1.i + 2
 AND t2.i <> t1.i
GROUP BY 1, 2
HAVING COUNT(*) >= 5""",
        "negative_samples": f"""
WITH t AS (SELECT unnest({_TOKS}) w FROM documents),
top AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) cnt FROM t GROUP BY 1
        ORDER BY cnt DESC, word LIMIT 128),
wt AS (SELECT word, cnt,
              CAST(FLOOR(POWER(CAST(cnt AS DOUBLE), 0.75) * 1000000 + 0.5)
                   AS BIGINT) wu
       FROM top),
cum AS (SELECT word, cnt, wu,
               CAST(SUM(wu) OVER (ORDER BY cnt DESC, word
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) hi
        FROM wt),
rng AS (SELECT word, wu, hi, hi - wu AS lo FROM cum),
tot AS (SELECT MAX(hi) t, MAX(hi) // COUNT(*) + 1 AS wdt FROM rng),
idx AS (SELECT word, lo, hi,
               unnest(range(lo // tot.wdt, (hi - 1) // tot.wdt + 1)) b
        FROM rng CROSS JOIN tot),
keys AS (SELECT CAST(doc_id AS BIGINT) kid FROM documents
         WHERE doc_id % 10 = 0),
draws AS (SELECT kid, j,
                 CAST('0x' || substr(md5(CAST(kid AS VARCHAR) || ':' ||
                        CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % tot.t u,
                 tot.wdt
          FROM keys CROSS JOIN (SELECT unnest(range(1, 6)) j)
          CROSS JOIN tot)
SELECT d.kid AS doc_id, CAST(d.j AS INT) AS j, i.word
FROM draws d JOIN idx i ON i.b = d.u // d.wdt
WHERE d.u >= i.lo AND d.u < i.hi""",
        "t5_spans": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, generate_subscripts(a, 1) - 1 AS pos, unnest(a) w
         FROM toklist),
f AS (SELECT doc, pos, w,
             (CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':' ||
                    CAST(pos AS VARCHAR)), 1, 15) AS BIGINT) % 20 = 0)
               AS start
      FROM toks),
m AS (SELECT doc, pos, w, start,
             MAX(CASE WHEN start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY pos
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
               AS masked
      FROM f),
b AS (SELECT doc, pos, w, masked,
             masked AND NOT COALESCE(
               LAG(masked) OVER (PARTITION BY doc ORDER BY pos), FALSE)
               AS begin_
      FROM m),
kk AS (SELECT doc, pos, w, masked, begin_,
              SUM(CASE WHEN begin_ THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) - 1 AS k
       FROM b),
p AS (SELECT doc, pos, masked, begin_,
             CASE WHEN NOT masked THEN w
                  WHEN begin_ THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
             END AS inp,
             CASE WHEN begin_
                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w
                  WHEN masked THEN w
             END AS tgt
      FROM kk)
SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(SUM(CASE WHEN begin_ THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       COALESCE(string_agg(inp, ' ' ORDER BY pos)
                  FILTER (WHERE inp IS NOT NULL), '') AS input_text,
       COALESCE(string_agg(tgt, ' ' ORDER BY pos)
                  FILTER (WHERE tgt IS NOT NULL), '') AS target_text
FROM p GROUP BY doc""",
        "cms_term_counts": _cms_oracle(),
        "dedup_clusters": _clusters_oracle(),
        "dedup_keep_best": _keep_best_oracle(),
        "dedup_simhash": _simhash_oracle(),
        "dedup_embedding": emb_pairs_sql,
        "ann_topk": ann_topk_sql,
        # Contract-row oracles (round 4): for engine-specific outputs
        # (KMeans/PQ quantizers, HLL sketches, greedy packing, chained
        # float reductions, byte-level decode) the QUERY emits its
        # data-derived counts plus asserted invariants, and the oracle
        # states those exactly — a regression on either side flips the
        # hash. See each q_* docstring for why the invariant is
        # deterministic.
        "ann_ivf": """
SELECT 'ivf_recall_at_10' AS metric,
       10 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS n_truth,
       TRUE AS recall_ge_floor""",
        "ann_ivf_pq": """
SELECT 'ivf_pq_recall_at_10' AS metric,
       10 * (SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS n_truth,
       TRUE AS recall_ge_floor""",
        "events_approx_distinct": """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type""",
        "events_sketch_rollup": """
SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound
FROM events GROUP BY event_type""",
        "pack_greedy": """
SELECT 'pack_greedy_contract' AS metric,
       COUNT(*) AS n_packed, COUNT(*) AS n_docs, TRUE AS no_overflow
FROM documents""",
        "embedding_pca2": """
SELECT 'pca_top2' AS metric, c AS component, 64 AS dim,
       (SELECT COUNT(*) FROM embeddings) AS n_rows,
       TRUE AS unit_norm, TRUE AS orthogonal_to_v1,
       TRUE AS lambda_ordered, TRUE AS resid_bounded
FROM (SELECT unnest([1, 2]) AS c)""",
        "embedding_power_iter": """
SELECT 'power_iter_top1' AS metric, 64 AS dim,
       (SELECT COUNT(*) FROM embeddings) AS n_rows,
       TRUE AS unit_norm, TRUE AS lambda_ge_mean, TRUE AS resid_bounded""",
        "multimodal_rgb": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, 8 AS width, 8 AS height,
       TRUE AS means_in_range, TRUE AS brightness_consistent
FROM documents""",
        "multimodal_pcm": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, 1600 AS n_samples,
       0.1 AS duration_sec, TRUE AS amplitude_ok, TRUE AS zcr_in_unit
FROM documents""",
        "ann_ivf_det": """
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
WHERE rank <= 10""",
        "ann_lsh": _lsh_oracle(),
        "ann_lsh_mp": "SELECT DISTINCT * FROM (("
                      + _lsh_oracle(seed=42) + ") UNION ("
                      + _lsh_oracle(seed=43) + ") UNION ("
                      + _lsh_oracle(seed=44) + "))",
        "multimodal_meta": """
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) n_bytes,
       lower(hex(encode(substr(text, 1, 4)))) header_hex,
       'application/octet-stream' mime
FROM documents""",
        # multimodal_features contract: DuckDB recomputes the UTF-8 byte
        # length independently (cross-engine differential on the payload
        # plumbing); the Python-only features are asserted via invariants.
        "multimodal_features": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       octet_length(encode(text)) AS n_bytes,
       TRUE AS first_byte_ok, TRUE AS byte_sum_ok
FROM documents""",
        "window_first_last": """
SELECT o_custkey,
       strftime(first_value(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
       nth_value(o_orderpriority, 2) OVER w AS second_priority,
       ROUND(last_value(o_totalprice) OVER w, 2) AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) = 1""",
        "events_running_distinct": """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
firsts AS (
  SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY user_id, event_type),
per_day AS (
  SELECT user_id, day, COUNT(*) AS n_new FROM firsts GROUP BY user_id, day)
SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day,
       CAST(SUM(COALESCE(p.n_new, 0)) OVER (
         PARTITION BY d.user_id ORDER BY d.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS distinct_types_so_far
FROM days d LEFT JOIN per_day p USING (user_id, day)""",
        "text_cdc_chunks": f"""
WITH {_CDC_CHUNKS_CTE}
SELECT doc_id, chunk_id, n_tokens, chunk_text FROM cdc_chunks""",
        "text_cdc_chunks_w2": f"""
WITH {_cdc_chunks_cte(win=2)}
SELECT doc_id, chunk_id, n_tokens, chunk_text FROM cdc_chunks""",
        "c4_quality": """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, COALESCE(text, '') txt,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\n'),
                     l -> trim(l) <> '') lines
  FROM documents),
k AS (
  SELECT doc_id, txt, lines,
         list_filter(lines, l ->
           regexp_matches(trim(l), '[.!?"]$')
           AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                               x -> x <> '')) >= 5
           AND NOT contains(lower(l), 'javascript')) kept
  FROM w)
SELECT doc_id, CAST(len(lines) AS BIGINT) n_lines,
       CAST(len(kept) AS BIGINT) n_kept_lines,
       ROUND(len(kept) * 1.0 / GREATEST(len(lines), 1), 6) kept_frac,
       contains(txt, '{') has_brace,
       contains(lower(txt), 'lorem ipsum') has_lorem_ipsum,
       NOT contains(txt, '{') AND NOT contains(lower(txt), 'lorem ipsum')
         AND len(kept) >= 3 AS passes_c4,
       COALESCE(array_to_string(kept, chr(10)), '') cleaned_text
FROM k""",
        "dedup_containment": """
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
WHERE ROUND(CAST(i.n_common AS DOUBLE) / s.n_sh, 6) >= 0.8""",
        "dedup_chunks": f"""
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
FROM r GROUP BY 1""",
        "cdc_chunk_reuse": f"""
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
FROM agg1 JOIN agg2 USING (doc_id)""",
        "dedup_semantic": _semdedup_oracle(n_clusters=8, threshold=0.3),
        "dedup_semantic_32": _semdedup_oracle(n_clusters=32, threshold=0.5),
        "dedup_semantic_2l": _semdedup_oracle(n_clusters=32, threshold=0.3,
                                              n_super=6),
        "dedup_pagerank": _pagerank_oracle(n_iter=3, damping=0.85),
        "bpe_merges": _bpe_oracle(n_merges=8),
        "bpe_encode": _bpe_oracle(n_merges=8, encode=True),
        "diversity_kcenter": _kcenter_oracle(k=8),
        # the batched large-k path must reproduce the SEQUENTIAL greedy
        # recurrence exactly — the twin is the same chained-CTE DP at
        # k=64, so any batching shortcut that isn't provably safe fails
        "diversity_kcenter_64": _kcenter_oracle(k=64),
        "unigram_lm_segment": _viterbi_oracle(max_word_len=12),
        "unigram_lm_em": _unigram_em_oracle(max_word_len=12),
        "unigram_lm_scores": f"""
WITH toklist AS (SELECT {_TOKS} a FROM documents),
tk AS (SELECT unnest(a) w FROM toklist),
subs AS (
  SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
           i -> list_transform(
                  range(1, LEAST(4, length(w) - i + 1) + 1),
                  l -> substr(w, CAST(i AS INT), CAST(l AS INT))))))
         piece
  FROM tk),
pc AS (SELECT piece, CAST(COUNT(*) AS BIGINT) cnt FROM subs GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM pc),
top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT 64)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) rank,
       piece, cnt, ROUND(ln(cnt / total), 6) score
FROM top CROSS JOIN tot""",
        "curriculum_buckets": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc),
u AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
         ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
  FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc),
th AS (SELECT list_transform(
         quantile_cont(avg_neg_logprob,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
         x -> ROUND(x, 6)) t
       FROM u)
SELECT u.doc, u.n_tokens, u.avg_neg_logprob,
       CAST(1 + len(list_filter(th.t, x -> u.avg_neg_logprob > x))
            AS BIGINT) decile
FROM u CROSS JOIN th""",
        "mixture_plan": f"""
WITH per AS (
  SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) n_docs,
         CAST(SUM(len({_TOKS.replace("lower(text)",
                                     "lower(COALESCE(text, ''))")}))
              AS BIGINT) n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) total FROM per),
wt AS (
  SELECT per.*, tot.total,
         CASE stratum WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                      WHEN 'src2' THEN 0.2 ELSE 0.0 END target_weight
  FROM per CROSS JOIN tot)
SELECT stratum, n_docs, n_tokens,
       ROUND(n_tokens / total, 6) natural_share,
       target_weight,
       CAST(FLOOR(target_weight * 2000000.0 + 0.5) AS BIGINT)
         target_tokens,
       ROUND(CAST(FLOOR(target_weight * 2000000.0 + 0.5) AS BIGINT)
             * 1.0 / GREATEST(n_tokens, 1), 6) epochs,
       ROUND(CAST(FLOOR(target_weight * 2000000.0 + 0.5) AS BIGINT)
             * 1.0 / GREATEST(n_tokens, 1), 6) > 4.0 AS over_cap
FROM wt""",
        "cluster_profile": f"""
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
FROM nd LEFT JOIN rk ON rk.cl = nd.cl""",
        "doc_quality_source_quantile": """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, source,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words
  FROM documents),
m AS (SELECT doc_id, source,
             ROUND(len(list_filter(words,
                                   x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac
      FROM w),
st AS (SELECT source,
              ROUND(quantile_cont(alpha_word_frac, 0.25), 6) q_threshold
       FROM m GROUP BY 1)
SELECT m.source, m.doc_id, m.alpha_word_frac, st.q_threshold,
       m.alpha_word_frac < st.q_threshold AS below_p25
FROM m JOIN st ON m.source IS NOT DISTINCT FROM st.source""",
        "crossmodal_integrity": """
WITH pairs AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         CASE WHEN doc_id % 97 = 0
              THEN 'SHARED PAYLOAD ' || CAST(doc_id % 3 AS VARCHAR)
              ELSE COALESCE(text, '') END payload_src,
         CASE WHEN doc_id % 89 = 0
              THEN 'shared caption ' || CAST(doc_id % 2 AS VARCHAR)
              ELSE COALESCE(text, '') END caption
  FROM documents),
b AS (SELECT doc_id,
             COALESCE(md5(payload_src), '') payload_fp,
             COALESCE(md5(trim(regexp_replace(lower(caption),
                                              '\\s+', ' ', 'g'))), '')
               caption_fp
      FROM pairs),
ps AS (SELECT payload_fp, CAST(COUNT(*) AS BIGINT) n_payload_copies,
              CAST(COUNT(DISTINCT caption_fp) AS BIGINT)
                n_captions_for_payload
       FROM b GROUP BY 1),
cs AS (SELECT caption_fp,
              CAST(COUNT(DISTINCT payload_fp) AS BIGINT)
                n_payloads_for_caption
       FROM b GROUP BY 1)
SELECT b.doc_id, b.payload_fp, b.caption_fp, ps.n_payload_copies,
       ps.n_captions_for_payload, cs.n_payloads_for_caption,
       ps.n_captions_for_payload >= 2 AS payload_conflict,
       cs.n_payloads_for_caption >= 2 AS caption_conflict
FROM b JOIN ps USING (payload_fp) JOIN cs USING (caption_fp)""",
        "minhash_eval": _minhash_eval_oracle(threshold=0.5,
                                             sample_size=100),
        "stream_near_dedup_state": _stream_near_dedup_oracle(),
        "stream_lifetime_state": """
SELECT CAST(user_id AS BIGINT) user_id,
       CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(COALESCE(SUM(CASE WHEN NOT isnan(value) THEN value END), 0.0),
             6) total_value,
       ROUND(MAX(CASE WHEN NOT isnan(value) THEN value END), 6) max_value
FROM events GROUP BY 1""",
        "gopher_quality": f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, COALESCE(text, '') txt,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\n'),
                     l -> trim(l) <> '') lines,
         {_TOKS} low
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) n_words,
    ROUND(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
          * 1.0 / GREATEST(len(words), 1), 6) mean_word_len,
    ROUND((length(txt) - length(replace(txt, '#', ''))
           + (length(txt) - length(replace(txt, '...', ''))) / 3)
          / GREATEST(len(words), 1), 6) symbol_word_ratio,
    ROUND(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
          * 1.0 / GREATEST(len(lines), 1), 6) bullet_line_frac,
    ROUND(len(list_filter(lines, l -> ends_with(trim(l), '...')))
          * 1.0 / GREATEST(len(lines), 1), 6) ellipsis_line_frac,
    ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
          * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac,
    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have',
                          'with'], r -> list_contains(low, r)))
         AS BIGINT) n_required_stopwords
  FROM w)
SELECT *,
       n_words >= 50 AND n_words <= 100000
       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       AND symbol_word_ratio <= 0.1
       AND bullet_line_frac <= 0.9
       AND ellipsis_line_frac <= 0.3
       AND alpha_word_frac >= 0.8
       AND n_required_stopwords >= 2 AS passes_gopher
FROM m""",
        "weighted_sample": """
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, CAST(n_chars AS DOUBLE) w,
         ln(((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) >> 30) + 0.5) / 1073741824.0)
           / CAST(n_chars AS DOUBLE) AS p
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
top AS (SELECT * FROM t ORDER BY p DESC, CAST(doc_id AS VARCHAR) LIMIT 50)
SELECT doc_id, w, ROUND(p, 6) AS priority,
       CAST(ROW_NUMBER() OVER (ORDER BY p DESC, CAST(doc_id AS VARCHAR))
            AS INT) AS "rank"
FROM top""",
        "dsir_select": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id,
                  COALESCE(source = 'src0', FALSE) is_target,
                  {_TOKS} a
           FROM documents),
f AS (SELECT doc_id, is_target,
             list_concat(a, list_transform(range(1, len(a)),
                                           i -> a[i] || ' ' || a[i + 1])) feats
      FROM t),
occ AS (SELECT doc_id, is_target,
               CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 256 bucket
        FROM (SELECT doc_id, is_target, unnest(feats) feat FROM f)),
pool AS (SELECT bucket,
                SUM(CASE WHEN is_target THEN 1 ELSE 0 END) tc,
                SUM(CASE WHEN is_target THEN 0 ELSE 1 END) rc
         FROM occ GROUP BY 1),
tot AS (SELECT SUM(tc) t_tot, SUM(rc) r_tot FROM pool),
wts AS (SELECT s.bucket,
               ROUND(ln((COALESCE(tc, 0) + 1) * 1.0 / (t_tot + 256))
                   - ln((COALESCE(rc, 0) + 1) * 1.0 / (r_tot + 256)), 6) w
        FROM (SELECT unnest(range(256)) bucket) s CROSS JOIN tot
        LEFT JOIN pool ON s.bucket = pool.bucket),
dc AS (SELECT doc_id, is_target, bucket, COUNT(*) c
       FROM occ GROUP BY 1, 2, 3),
pd AS (SELECT doc_id, is_target, CAST(SUM(c) AS BIGINT) n_features,
              ROUND(SUM(c * w), 6) log_weight
       FROM dc JOIN wts USING (bucket) GROUP BY 1, 2)
SELECT doc_id, is_target, n_features, log_weight,
       ROUND(log_weight - ln(-ln(
         ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) >> 30) + 0.5) / 1073741824.0)), 6) gumbel_key
FROM pd""",
        "dedup_max_spans": f"""
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
ORDER BY sp.doc, span_start""",
        "dedup_remove_spans": f"""
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
FROM p LEFT JOIN drops USING (doc)""",
        "tokens_to_ids": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents),
occ AS (SELECT doc_id, generate_subscripts(a, 1) - 1 pos, unnest(a) token
        FROM t),
counts AS (SELECT token, COUNT(*) cnt FROM occ GROUP BY 1),
vocab AS (SELECT token,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, token) token_id
          FROM (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT 512)),
m AS (SELECT o.doc_id, o.pos, COALESCE(v.token_id, 0) tid
      FROM occ o LEFT JOIN vocab v USING (token))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) n_oov,
       ROUND(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
             6) oov_frac,
       array_to_string(array_agg(tid ORDER BY pos), ' ') ids_str
FROM m GROUP BY doc_id""",
        "embedding_int8": """
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
FROM cd""",
        "orders_snapshot_diff": """
WITH o AS (SELECT CAST(o_orderkey AS BIGINT) o_orderkey,
                  ROUND(o_totalprice, 2) price, o_orderstatus ostatus
           FROM orders),
off AS (SELECT CAST((FLOOR(MAX(o_orderkey) / 10000000) + 1) * 10000000
               AS BIGINT) ins_off FROM o),
n AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN ROUND(price + 1.0, 2)
              ELSE price END price,
         ostatus
  FROM o WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + ins_off, price, ostatus
  FROM o CROSS JOIN off WHERE o_orderkey % 100 = 0),
j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) o_orderkey,
             o.o_orderkey IS NOT NULL in_o, n.o_orderkey IS NOT NULL in_n,
             o.price op, n.price np, o.ostatus os, n.ostatus ns
      FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
       CASE WHEN NOT in_o THEN 'added'
            WHEN NOT in_n THEN 'removed'
            WHEN (op IS DISTINCT FROM np) OR (os IS DISTINCT FROM ns)
              THEN 'changed'
            ELSE 'unchanged' END status,
       CASE WHEN in_o AND in_n THEN
         COALESCE(array_to_string(list_filter(
           [CASE WHEN os IS DISTINCT FROM ns THEN 'ostatus' END,
            CASE WHEN op IS DISTINCT FROM np THEN 'price' END],
           x -> x IS NOT NULL), ','), '')
       ELSE '' END changed_cols
FROM j""",
        "text_chunks": f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents),
p AS (SELECT doc_id, a,
             GREATEST(CAST(CEIL((len(a) - 8) / 24.0) AS INT), 1) nc
      FROM t WHERE len(a) > 0)
, e AS (SELECT doc_id, a, unnest(range(nc)) AS i FROM p)
SELECT doc_id, CAST(i AS BIGINT) chunk_id,
       CAST(len(a[i*24+1 : i*24+32]) AS BIGINT) n_tokens,
       array_to_string(a[i*24+1 : i*24+32], ' ') chunk_text
FROM e""",
        "train_shards": """
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         md5(CAST(doc_id AS VARCHAR) || '#epoch0') h
  FROM documents)
SELECT doc_id,
       CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8
         ORDER BY h, doc_id) AS BIGINT) AS pos
FROM h""",
        "orders_merge_upsert": """
WITH base AS (
  SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) price FROM orders),
off AS (
  SELECT CAST((FLOOR(MAX(o_orderkey) / 10000000) + 1) * 10000000 AS BIGINT)
    ins_off FROM base),
src AS (
  SELECT o_orderkey, o_custkey, ROUND(price + 1.0, 2) price
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT b.o_orderkey + o.ins_off, b.o_custkey, b.price
  FROM base b, off o WHERE b.o_orderkey % 100 = 0),
tagged AS (
  SELECT *, 0 AS prio FROM base
  UNION ALL SELECT *, 1 AS prio FROM src),
merged AS (
  SELECT o_orderkey, o_custkey, price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY prio DESC) rn
    FROM tagged) WHERE rn = 1)
SELECT m.* FROM merged m, off o
WHERE m.o_orderkey % 10 = 0 OR m.o_orderkey >= o.ins_off""",
        "events_approx_percentiles": """
SELECT event_type, COUNT(*) AS n, TRUE AS rank_error_ok
FROM events GROUP BY event_type""",
        "text_heavy_hitters": f"""
WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT COUNT(*) n FROM t)
SELECT token, COUNT(*) AS cnt
FROM t GROUP BY token
HAVING COUNT(*) >= CEIL(0.01 * (SELECT n FROM tot))""",
        "lang_top_tokens": f"""
WITH t AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT lang, COUNT(*) n FROM t GROUP BY lang)
SELECT t.lang, token, COUNT(*) AS cnt
FROM t JOIN tot USING (lang)
GROUP BY t.lang, token, tot.n
HAVING COUNT(*) >= CEIL(0.02 * tot.n)""",
        "lang_heavy_boundary": f"""
WITH t AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT lang, COUNT(*) n FROM t GROUP BY lang)
SELECT t.lang, token, COUNT(*) AS cnt
FROM t JOIN tot USING (lang)
GROUP BY t.lang, token, tot.n
HAVING COUNT(*) >= CEIL(tot.n * (CAST(98 AS DOUBLE) / 3549))""",
        "dedup_edit_distance": f"""
WITH {_minhash_cte()}
SELECT doc0, doc1,
       CAST(levenshtein(d0.text, d1.text) AS BIGINT) AS edit_dist,
       ROUND(1.0 - levenshtein(d0.text, d1.text)
             / GREATEST(length(d0.text), length(d1.text)), 6) AS edit_sim
FROM mh_cand
JOIN documents d0 ON CAST(d0.doc_id AS BIGINT) = doc0
JOIN documents d1 ON CAST(d1.doc_id AS BIGINT) = doc1""",
        "embedding_standardize": """
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
FROM cells JOIN stats USING (dim)""",
        "embedding_winsorize": """
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
FROM cells JOIN bounds USING (dim)""",
        "embedding_prep": """
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
FROM zt JOIN sc USING (vec_id)""",
        "minhash_band_plan": """
SELECT ROUND(i * 0.05, 6) AS s,
       ROUND(1.0 - POWER(1.0 - POWER(ROUND(i * 0.05, 6), 3.0), 4.0), 6)
         AS p_detect,
       ROUND(POWER(0.25, 1.0 / 3.0), 6) AS s_star
FROM generate_series(1, 19) t(i)""",
        "doc_len_lang_quantile": f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, COALESCE(lang, '') lang,
         CAST(len(list_filter(regexp_split_to_array(
                lower(COALESCE(text, '')), '[^a-z0-9]+'),
              t -> t <> '')) AS BIGINT) n_tokens
  FROM documents),
st AS (SELECT lang,
              ROUND(quantile_cont(CAST(n_tokens AS DOUBLE), 0.25), 6)
                q_threshold
       FROM d GROUP BY 1)
SELECT d.lang, d.doc_id, d.n_tokens, st.q_threshold,
       d.n_tokens < st.q_threshold AS below_p25
FROM d JOIN st USING (lang)""",
        # identical adversarial literals as the Spark query; the fl join
        # is null-safe (IS NOT DISTINCT FROM) so the NULL-lang group
        # survives on both engines; the cell checksum is an integer sum
        "adversarial_contract": """
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, text, lang FROM documents
  UNION ALL SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR)
  UNION ALL SELECT -2, '', ''
  UNION ALL SELECT -3, 'the be to of and that have with words here', NULL),
w AS (
  SELECT doc_id, lang, text,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words,
         list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                           '[^a-z0-9]+'),
                     t -> t <> '') low
  FROM docs),
m AS (
  SELECT doc_id, lang, text,
         CAST(len(words) AS BIGINT) n_words,
         ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac,
         CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that',
                               'have', 'with'],
                              r -> list_contains(low, r)))
              AS BIGINT) n_req
  FROM w),
st AS (SELECT lang,
              ROUND(quantile_cont(CAST(n_words AS DOUBLE), 0.25), 6)
                q_threshold
       FROM m GROUP BY 1),
fl AS (SELECT m.*, st.q_threshold, m.n_words < st.q_threshold below_q
       FROM m JOIN st ON m.lang IS NOT DISTINCT FROM st.lang),
doc_rows AS (
  SELECT 'doc' kind, doc_id item_id, u.m metric, u.v AS value FROM (
    SELECT doc_id, unnest([
      {'m': 'n_words', 'v': CAST(n_words AS DOUBLE)},
      {'m': 'alpha_word_frac', 'v': alpha_word_frac},
      {'m': 'n_required_stopwords', 'v': CAST(n_req AS DOUBLE)},
      {'m': 'text_is_null',
       'v': CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END},
      {'m': 'q_threshold', 'v': q_threshold},
      {'m': 'below_q', 'v': CASE WHEN below_q THEN 1.0 ELSE 0.0 END}]) u
    FROM fl WHERE doc_id < 0)),
doc_sums AS (
  SELECT 'doc' kind, CAST(0 AS BIGINT) item_id, u.m metric, u.v AS value
  FROM (
    SELECT unnest([
      {'m': 'sum_n_words', 'v': CAST(SUM(n_words) AS DOUBLE)},
      {'m': 'n_below_q',
       'v': CAST(SUM(CASE WHEN below_q THEN 1 ELSE 0 END) AS DOUBLE)},
      {'m': 'n_lang_groups',
       'v': CAST(COUNT(DISTINCT COALESCE(lang, chr(1))) AS DOUBLE)}]) u
    FROM fl)),
base_v AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) v
  FROM embeddings),
first_v AS (SELECT v FROM base_v ORDER BY vec_id LIMIT 1),
vecs AS (
  SELECT vec_id, v FROM base_v
  UNION ALL
  SELECT CAST(-1 AS BIGINT), list_transform(v, x -> 0.0) FROM first_v),
vec_rows AS (
  SELECT 'vec' kind, vec_id item_id, u.m metric, u.v AS value FROM (
    SELECT vec_id, unnest([
      {'m': 'norm', 'v': ROUND(nv, 6)},
      {'m': 'cos_probe',
       'v': ROUND(CASE WHEN nv > 0 AND np > 0 THEN dp / (nv * np)
                       ELSE 0.0 END, 6)}]) u
    FROM (
      SELECT a.vec_id,
             SQRT(list_sum(list_transform(a.v, x -> x * x))) nv,
             SQRT(list_sum(list_transform(p.v, x -> x * x))) np,
             list_sum(list_transform(list_zip(a.v, p.v),
                                     z -> z[1] * z[2])) dp
      FROM vecs a CROSS JOIN first_v p WHERE a.vec_id < 0))),
vec_sums AS (
  SELECT 'vec' kind, CAST(0 AS BIGINT) item_id, u.m metric, u.v AS value
  FROM (
    SELECT unnest([
      {'m': 'n_vecs', 'v': CAST(COUNT(*) AS DOUBLE)},
      {'m': 'sum_cell_u',
       'v': CAST(SUM(cu) AS DOUBLE)}]) u
    FROM (SELECT CAST(list_sum(list_transform(
                   v, x -> CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)))
                 AS BIGINT) cu
          FROM vecs)))
SELECT * FROM doc_rows
UNION ALL SELECT * FROM doc_sums
UNION ALL SELECT * FROM vec_rows
UNION ALL SELECT * FROM vec_sums""",
        # hybrid retrieval: the PROVEN bm25 and brute-force-cosine oracle
        # bodies as legs, fused with integer nano-unit reciprocal terms
        "retrieval_rrf": f"""
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
FROM f ORDER BY rrf_score DESC, item_id LIMIT 20""",
        # 3-leg weighted fusion: same bm25 + cosine legs plus the
        # tfidf_rank lexical leg; each weight scales the exact reciprocal
        # BEFORE the one integer nano-unit rounding (mirrors rrf_fuse)
        "retrieval_rrf_weighted": f"""
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
FROM f ORDER BY rrf_score DESC, item_id LIMIT 20""",
        # NB classifier (operators/classify.py): integer micro-unit
        # log-likelihood ratios make every doc score an exact integer
        # sum — the same order-independence discipline as rrf/pagerank
        "nb_lang_score": f"""
WITH lab AS (SELECT CAST(doc_id AS VARCHAR) doc,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
             FROM documents
             WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
toklist AS (SELECT CAST(doc_id AS VARCHAR) doc, {_TOKS} a
            FROM documents),
ttoks AS (SELECT t.doc, unnest(t.a) w, l.y
          FROM toklist t JOIN lab l USING (doc)),
tc AS (SELECT w term, CAST(SUM(y) AS DOUBLE) c_pos,
              CAST(SUM(1 - y) AS DOUBLE) c_neg, COUNT(*) cnt
       FROM ttoks GROUP BY 1),
vocab AS (SELECT * FROM tc ORDER BY cnt DESC, term ASC LIMIT 25),
tot AS (SELECT SUM(c_pos) t_pos, SUM(c_neg) t_neg,
               CAST(COUNT(*) AS DOUBLE) v
        FROM vocab),
model AS (SELECT term,
                 CAST(FLOOR((ln((c_pos + 1.0) / (t_pos + v))
                             - ln((c_neg + 1.0) / (t_neg + v)))
                            * 1000000.0 + 0.5) AS BIGINT) lr_u
          FROM vocab CROSS JOIN tot),
prior AS (SELECT CAST(FLOOR((ln(n_pos) - ln(n_neg)) * 1000000.0 + 0.5)
                      AS BIGINT) prior_u
          FROM (SELECT CAST(SUM(y) AS DOUBLE) n_pos,
                       CAST(SUM(1 - y) AS DOUBLE) n_neg
                FROM lab)),
stoks AS (SELECT doc, unnest(a) w FROM toklist),
hit AS (SELECT s.doc, CAST(COUNT(*) AS BIGINT) n_vocab_tokens,
               CAST(SUM(m.lr_u) AS BIGINT) sum_u
        FROM stoks s JOIN model m ON s.w = m.term GROUP BY 1),
sc AS (SELECT CAST(d.doc_id AS BIGINT) doc_id, d.lang,
              COALESCE(h.n_vocab_tokens, 0) n_vocab_tokens,
              (p.prior_u + COALESCE(h.sum_u, 0)) score_u
       FROM documents d
       LEFT JOIN hit h ON CAST(d.doc_id AS VARCHAR) = h.doc
       CROSS JOIN prior p)
SELECT doc_id, lang, n_vocab_tokens,
       ROUND(score_u / 1000000.0, 6) log_odds,
       (score_u >= 0) pred_en
FROM sc ORDER BY doc_id""",
        # held-out confusion report for the same model (the fifth the
        # training fold never saw)
        "nb_cv": _nb_cv_oracle(),
        # multi-class NB language ID: the full train + argmax-score
        # replay; zero-count (label, vocab-term) pairs materialized in
        # the grid CTE (the smoothed floor is label-specific)
        "nb_lang_confusion": f"""
WITH lab AS (SELECT CAST(doc_id AS VARCHAR) doc, lang cls
             FROM documents
             WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
toklist AS (SELECT CAST(doc_id AS VARCHAR) doc, {_TOKS} a
            FROM documents),
ttoks AS (SELECT t.doc, unnest(t.a) w, l.cls
          FROM toklist t JOIN lab l USING (doc)),
tc AS (SELECT cls, w term, CAST(COUNT(*) AS DOUBLE) c
       FROM ttoks GROUP BY 1, 2),
vocab AS (SELECT term FROM (SELECT term, SUM(c) cnt FROM tc GROUP BY 1)
          ORDER BY cnt DESC, term ASC LIMIT 25),
classes AS (SELECT DISTINCT cls FROM lab),
grid AS (SELECT cls, term FROM classes CROSS JOIN vocab),
cv AS (SELECT g.cls, g.term, COALESCE(tc.c, 0.0) c
       FROM grid g LEFT JOIN tc ON g.cls = tc.cls
                               AND g.term = tc.term),
tcl AS (SELECT cls, SUM(c) t_c, CAST(COUNT(*) AS DOUBLE) v
        FROM cv GROUP BY 1),
model AS (SELECT cv.cls, term,
                 CAST(FLOOR(ln((c + 1.0) / (t_c + v)) * 1000000.0
                            + 0.5) AS BIGINT) ll_u
          FROM cv JOIN tcl USING (cls)),
pri AS (SELECT n.cls,
               CAST(FLOOR(ln(n_c / n_tot) * 1000000.0 + 0.5)
                    AS BIGINT) prior_u
        FROM (SELECT cls, CAST(COUNT(*) AS DOUBLE) n_c
              FROM lab GROUP BY 1) n
        CROSS JOIN (SELECT CAST(COUNT(*) AS DOUBLE) n_tot FROM lab)),
held AS (SELECT CAST(doc_id AS VARCHAR) doc, lang
         FROM documents WHERE doc_id % 5 = 0),
stoks AS (SELECT t.doc, unnest(t.a) w
          FROM toklist t JOIN held USING (doc)),
hit AS (SELECT s.doc, m.cls, CAST(SUM(m.ll_u) AS BIGINT) sum_u
        FROM stoks s JOIN model m ON s.w = m.term GROUP BY 1, 2),
sc AS (SELECT h.doc, p.cls,
              p.prior_u + COALESCE(x.sum_u, 0) score_u
       FROM held h CROSS JOIN pri p
       LEFT JOIN hit x ON x.doc = h.doc AND x.cls = p.cls),
pred AS (SELECT doc, cls pred_lang FROM (
           SELECT doc, cls,
                  ROW_NUMBER() OVER (PARTITION BY doc
                                     ORDER BY score_u DESC, cls) rn
           FROM sc) WHERE rn = 1)
SELECT h.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) n
FROM held h JOIN pred p USING (doc)
GROUP BY 1, 2 ORDER BY 1, 2""",
        "nb_lang_eval": f"""
WITH lab AS (SELECT CAST(doc_id AS VARCHAR) doc,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
             FROM documents
             WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
toklist AS (SELECT CAST(doc_id AS VARCHAR) doc, {_TOKS} a
            FROM documents),
ttoks AS (SELECT t.doc, unnest(t.a) w, l.y
          FROM toklist t JOIN lab l USING (doc)),
tc AS (SELECT w term, CAST(SUM(y) AS DOUBLE) c_pos,
              CAST(SUM(1 - y) AS DOUBLE) c_neg, COUNT(*) cnt
       FROM ttoks GROUP BY 1),
vocab AS (SELECT * FROM tc ORDER BY cnt DESC, term ASC LIMIT 25),
tot AS (SELECT SUM(c_pos) t_pos, SUM(c_neg) t_neg,
               CAST(COUNT(*) AS DOUBLE) v
        FROM vocab),
model AS (SELECT term,
                 CAST(FLOOR((ln((c_pos + 1.0) / (t_pos + v))
                             - ln((c_neg + 1.0) / (t_neg + v)))
                            * 1000000.0 + 0.5) AS BIGINT) lr_u
          FROM vocab CROSS JOIN tot),
prior AS (SELECT CAST(FLOOR((ln(n_pos) - ln(n_neg)) * 1000000.0 + 0.5)
                      AS BIGINT) prior_u
          FROM (SELECT CAST(SUM(y) AS DOUBLE) n_pos,
                       CAST(SUM(1 - y) AS DOUBLE) n_neg
                FROM lab)),
held AS (SELECT CAST(doc_id AS VARCHAR) doc,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
         FROM documents WHERE doc_id % 5 = 0),
stoks AS (SELECT t.doc, unnest(t.a) w
          FROM toklist t JOIN held USING (doc)),
hit AS (SELECT s.doc, CAST(SUM(m.lr_u) AS BIGINT) sum_u
        FROM stoks s JOIN model m ON s.w = m.term GROUP BY 1),
sc AS (SELECT h.doc, h.y,
              ((p.prior_u + COALESCE(x.sum_u, 0)) >= 0) pred
       FROM held h
       LEFT JOIN hit x ON h.doc = x.doc
       CROSS JOIN prior p),
cm AS (SELECT
    CAST(SUM(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE) tp,
    CAST(SUM(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS DOUBLE) fp,
    CAST(SUM(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END)
         AS DOUBLE) fn,
    CAST(SUM(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END)
         AS DOUBLE) tn,
    CAST(COUNT(*) AS DOUBLE) n_heldout
  FROM sc)
SELECT 'tp' metric, tp AS value FROM cm
UNION ALL SELECT 'fp', fp FROM cm
UNION ALL SELECT 'fn', fn FROM cm
UNION ALL SELECT 'tn', tn FROM cm
UNION ALL SELECT 'n_heldout', n_heldout FROM cm
UNION ALL SELECT 'accuracy', ROUND((tp + tn) / n_heldout, 6) FROM cm""",
        # calibration report for the same held-out scores: INTEGER
        # micro-unit |score| bands (bucket membership engine-exact by
        # construction), per-bucket sigmoid confidence computed FROM the
        # rounded mean, integer-weighted ECE (round terms to integers
        # BEFORE the weighted sum — the order-stability rule)
        "nb_calibration": f"""
WITH lab AS (SELECT CAST(doc_id AS VARCHAR) doc,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
             FROM documents
             WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
toklist AS (SELECT CAST(doc_id AS VARCHAR) doc, {_TOKS} a
            FROM documents),
ttoks AS (SELECT t.doc, unnest(t.a) w, l.y
          FROM toklist t JOIN lab l USING (doc)),
tc AS (SELECT w term, CAST(SUM(y) AS DOUBLE) c_pos,
              CAST(SUM(1 - y) AS DOUBLE) c_neg, COUNT(*) cnt
       FROM ttoks GROUP BY 1),
vocab AS (SELECT * FROM tc ORDER BY cnt DESC, term ASC LIMIT 25),
tot AS (SELECT SUM(c_pos) t_pos, SUM(c_neg) t_neg,
               CAST(COUNT(*) AS DOUBLE) v
        FROM vocab),
model AS (SELECT term,
                 CAST(FLOOR((ln((c_pos + 1.0) / (t_pos + v))
                             - ln((c_neg + 1.0) / (t_neg + v)))
                            * 1000000.0 + 0.5) AS BIGINT) lr_u
          FROM vocab CROSS JOIN tot),
prior AS (SELECT CAST(FLOOR((ln(n_pos) - ln(n_neg)) * 1000000.0 + 0.5)
                      AS BIGINT) prior_u
          FROM (SELECT CAST(SUM(y) AS DOUBLE) n_pos,
                       CAST(SUM(1 - y) AS DOUBLE) n_neg
                FROM lab)),
held AS (SELECT CAST(doc_id AS VARCHAR) doc,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
         FROM documents WHERE doc_id % 5 = 0),
stoks AS (SELECT t.doc, unnest(t.a) w
          FROM toklist t JOIN held USING (doc)),
hit AS (SELECT s.doc, CAST(SUM(m.lr_u) AS BIGINT) sum_u
        FROM stoks s JOIN model m ON s.w = m.term GROUP BY 1),
sc AS (SELECT h.doc, h.y,
              CAST(p.prior_u + COALESCE(x.sum_u, 0) AS BIGINT) score_u
       FROM held h
       LEFT JOIN hit x ON h.doc = x.doc
       CROSS JOIN prior p),
bk AS (SELECT LEAST(CAST(FLOOR(ABS(score_u) / 250000) AS BIGINT),
                    CAST(4 AS BIGINT)) bucket,
              ABS(score_u) abs_u,
              CASE WHEN (score_u >= 0) = (y = 1) THEN 1 ELSE 0 END ok
       FROM sc),
agg AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(abs_u) AS BIGINT) sum_abs_u,
               CAST(SUM(ok) AS BIGINT) n_ok
        FROM bk GROUP BY 1),
per AS (SELECT bucket, n,
               ROUND(sum_abs_u / n / 1000000.0, 6) mean_abs_logodds,
               ROUND(1.0 / (1.0 + exp(-ROUND(sum_abs_u / n
                                             / 1000000.0, 6))), 6) conf,
               ROUND(n_ok / CAST(n AS DOUBLE), 6) acc
        FROM agg),
per2 AS (SELECT *, ROUND(ABS(acc - conf), 6) gap FROM per),
etot AS (SELECT CAST(SUM(n * CAST(FLOOR(gap * 1000000.0 + 0.5)
                                  AS BIGINT)) AS BIGINT) sum_w_u,
                CAST(SUM(n) AS BIGINT) n_total
         FROM per2)
SELECT bucket, n, mean_abs_logodds, conf, acc, gap,
       CAST(FLOOR(sum_w_u / n_total + 0.5) AS BIGINT) / 1000000.0 ece
FROM per2 CROSS JOIN etot ORDER BY bucket""",
        # Platt grid fit over the same held-out scores: per doc x combo
        # log-loss folded to integer micro-units BEFORE the combo sum;
        # the grid VALUES are generated from the SAME tuples the Spark
        # operator uses — one source of truth; argmin tie (loss_u, a, b)
        "nb_platt": f"""
WITH lab AS (SELECT CAST(doc_id AS VARCHAR) doc,
                    CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
             FROM documents
             WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
toklist AS (SELECT CAST(doc_id AS VARCHAR) doc, {_TOKS} a
            FROM documents),
ttoks AS (SELECT t.doc, unnest(t.a) w, l.y
          FROM toklist t JOIN lab l USING (doc)),
tc AS (SELECT w term, CAST(SUM(y) AS DOUBLE) c_pos,
              CAST(SUM(1 - y) AS DOUBLE) c_neg, COUNT(*) cnt
       FROM ttoks GROUP BY 1),
vocab AS (SELECT * FROM tc ORDER BY cnt DESC, term ASC LIMIT 25),
tot AS (SELECT SUM(c_pos) t_pos, SUM(c_neg) t_neg,
               CAST(COUNT(*) AS DOUBLE) v
        FROM vocab),
model AS (SELECT term,
                 CAST(FLOOR((ln((c_pos + 1.0) / (t_pos + v))
                             - ln((c_neg + 1.0) / (t_neg + v)))
                            * 1000000.0 + 0.5) AS BIGINT) lr_u
          FROM vocab CROSS JOIN tot),
prior AS (SELECT CAST(FLOOR((ln(n_pos) - ln(n_neg)) * 1000000.0 + 0.5)
                      AS BIGINT) prior_u
          FROM (SELECT CAST(SUM(y) AS DOUBLE) n_pos,
                       CAST(SUM(1 - y) AS DOUBLE) n_neg
                FROM lab)),
held AS (SELECT CAST(doc_id AS VARCHAR) doc,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END y
         FROM documents WHERE doc_id % 5 = 0),
stoks AS (SELECT t.doc, unnest(t.a) w
          FROM toklist t JOIN held USING (doc)),
hit AS (SELECT s.doc, CAST(SUM(m.lr_u) AS BIGINT) sum_u
        FROM stoks s JOIN model m ON s.w = m.term GROUP BY 1),
sc AS (SELECT h.doc, h.y,
              ROUND((p.prior_u + COALESCE(x.sum_u, 0)) / 1000000.0, 6)
                lo
       FROM held h
       LEFT JOIN hit x ON h.doc = x.doc
       CROSS JOIN prior p),
grid(ga, gb) AS (VALUES {_PLATT_GRID_SQL}),
terms AS (
  -- LEAST/GREATEST clamp mirrors platt_grid_fit's saturation guard:
  -- identical operands for unsaturated p, bounded ln at the edges
  SELECT g.ga, g.gb,
         CAST(FLOOR(-(s.y * ln(LEAST(GREATEST(1.0 / (1.0
                        + exp(-(g.ga * s.lo + g.gb))), 1e-12),
                        1.0 - 1e-12))
                      + (1 - s.y) * ln(1.0 - LEAST(GREATEST(1.0 / (1.0
                        + exp(-(g.ga * s.lo + g.gb))), 1e-12),
                        1.0 - 1e-12)))
                    * 1000000.0 + 0.5) AS BIGINT) term_u
  FROM sc s CROSS JOIN grid g),
loss AS (SELECT ga, gb, CAST(SUM(term_u) AS BIGINT) loss_u
         FROM terms GROUP BY 1, 2),
best AS (SELECT loss_u bl, ga ba, gb bb FROM loss
         ORDER BY loss_u, ga, gb LIMIT 1)
SELECT ga AS a, gb AS b, loss_u / 1000000.0 AS loss,
       (loss_u = bl AND ga = ba AND gb = bb) AS is_best
FROM loss CROSS JOIN best ORDER BY a, b""",
        # adjacent-bigram PMI collocations (relevance.collocation_pmi):
        # bigram pairs via position self-join == Spark's arrays_zip shift
        "collocations_pmi": f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
uni AS (SELECT unnest(a) w FROM toklist),
cw AS (SELECT w, COUNT(*) c_w FROM uni GROUP BY 1),
n1 AS (SELECT CAST(SUM(c_w) AS DOUBLE) n1 FROM cw),
pos AS (SELECT doc, unnest(a) w, generate_subscripts(a, 1) p
        FROM toklist),
big AS (SELECT a.w w1, b.w w2
        FROM pos a JOIN pos b ON a.doc = b.doc AND b.p = a.p + 1),
cab AS (SELECT w1, w2, COUNT(*) c_ab FROM big GROUP BY 1, 2),
n2 AS (SELECT CAST(SUM(c_ab) AS DOUBLE) n2 FROM cab)
SELECT w1, w2, CAST(c_ab AS BIGINT) c_ab,
       ROUND(ln((c_ab / n2.n2)
                / ((ca.c_w / n1.n1) * (cb.c_w / n1.n1))), 6) pmi
FROM cab
JOIN cw ca ON ca.w = cab.w1
JOIN cw cb ON cb.w = cab.w2
CROSS JOIN n1 CROSS JOIN n2
WHERE c_ab >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 25""",
        # perceptual image near-dup: the twin predicts the dHash
        # bucketing from the PLANT arithmetic (same base raster per
        # doc_id % 400, brightness shifts that dHash provably ignores) —
        # pixel math never needs a SQL twin, yet the gate is exact
        "multimodal_image_neardup": """
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY doc_id % 400) AS BIGINT)
         canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY doc_id % 400) AS BIGINT) n_dupes,
       (COUNT(*) OVER (PARTITION BY doc_id % 400) > 1) is_dup
FROM documents ORDER BY doc_id""",
        # audio twin: identical plant arithmetic (the fingerprint's
        # gain-invariance is exact, so the grouping is fully predicted)
        "multimodal_audio_neardup": """
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY doc_id % 400) AS BIGINT)
         canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY doc_id % 400) AS BIGINT) n_dupes,
       (COUNT(*) OVER (PARTITION BY doc_id % 400) > 1) is_dup
FROM documents ORDER BY doc_id""",
        # structured entity resolution: identical planted-dirty-copy
        # construction, blocking, and candidate scoring (DuckDB
        # levenshtein parity is already relied on by dedup_edit_distance)
        "er_customer_link": """
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
ORDER BY cust0, cust1""",
        # within-doc chunk collapse: identical first-chunk-prepend plant,
        # then the same chunk/first-occurrence rules (1-based
        # list_position == i mirrors Spark's array_position == i+1)
        "text_self_dedup": f"""
WITH base AS (SELECT CAST(doc_id AS BIGINT) doc_id,
                     COALESCE(text, '') txt, {_TOKS} a0
              FROM documents),
aug AS (SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 AND len(a0) >= 10
               THEN array_to_string(a0[1:10], ' ') || ' ' || txt
               ELSE txt END t2
        FROM base),
tl AS (SELECT doc_id,
         list_filter(regexp_split_to_array(lower(t2), '[^a-z0-9]+'),
                     t -> t <> '') a
       FROM aug),
ch AS (SELECT doc_id,
         CASE WHEN len(a) > 0 THEN
           list_transform(range(CAST(CEIL(len(a) / 10.0) AS BIGINT)),
             c -> array_to_string(a[CAST(c*10+1 AS INT):
                                    CAST(c*10+10 AS INT)], ' '))
         ELSE [] END chunks
       FROM tl),
k AS (SELECT doc_id, chunks,
        list_filter(chunks,
                    (c, i) -> list_position(chunks, c) = i) keep
      FROM ch)
SELECT doc_id, CAST(len(chunks) AS BIGINT) n_chunks,
       CAST(len(chunks) - len(keep) AS BIGINT) n_removed,
       ROUND((len(chunks) - len(keep)) * 1.0
             / GREATEST(len(chunks), 1), 6) removed_frac,
       COALESCE(array_to_string(keep, ' '), '') cleaned_text
FROM k ORDER BY doc_id""",
        # hard-negative mining: exact-cosine pool (the ann_topk idiom at
        # k_pool=20 over the vec_id<100 anchors), label split, FaceNet
        # semi-hard margin on 6dp-rounded similarities
        "hard_negatives": """
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
FROM neg WHERE nrk <= 5 ORDER BY anchor_id, neg_rank""",
        # HTML extraction: identical doc_id-keyed markup plant, then the
        # functions.html rules replayed as SQL (blocks -> tags ->
        # entities with &amp; last -> whitespace collapse)
        "html_extract": f"""
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || ' &amp; co</title>'
    || CASE WHEN doc_id % 3 = 0
            THEN '<script>var s = "</style>";' || chr(10)
                 || 'if (s) {{ go(); }}</script>'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN '<style> p {{ color: #fff }} </style>' ELSE '' END
    || '</head><body>'
    || CASE WHEN doc_id % 5 = 0 THEN '<nav>Home &amp; About</nav>'
            ELSE '' END
    || '<p id="c' || CAST(doc_id AS VARCHAR) || '">'
    || CASE WHEN doc_id % 7 = 0
            THEN 'A &amp; B &lt;x&gt; &quot;q&quot; &#39;s&#39; '
            ELSE '' END
    || COALESCE(text, '') || '</p>'
    || CASE WHEN doc_id % 2 = 0 THEN '<div class="ft">&copy; 2024</div>'
            ELSE '' END
    || '</body></html>' html
  FROM documents),
s1 AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g') t,
    regexp_extract(html, '<title[^>]*>(.*?)</title>', 1) ti
  FROM h),
s2 AS (
  SELECT doc_id,
    replace(replace(replace(replace(replace(replace(
      regexp_replace(t, '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&') t,
    replace(replace(replace(replace(replace(replace(ti,
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&') ti
  FROM s1),
s3 AS (
  SELECT doc_id, trim(ti) title,
         trim(regexp_replace(t, '\\s+', ' ', 'g')) text_clean
  FROM s2)
SELECT doc_id, title, text_clean,
       CAST(length(text_clean) AS BIGINT) n_chars_clean
FROM s3 ORDER BY doc_id""",
        # URL family: every twin shares _url_cte() — the identical raw
        # plant PLUS the normalization rules re-run as SQL, so the
        # Spark expressions and the SQL rules cross-check each other
        "url_normalize": f"""
WITH {_url_cte()}
SELECT doc_id, url, url_norm, host, reg_domain FROM u ORDER BY doc_id""",
        "url_dedup": f"""
WITH {_url_cte()}
SELECT url_norm, MIN(doc_id) keep_id, CAST(COUNT(*) AS BIGINT) n_dups
FROM u GROUP BY url_norm HAVING COUNT(*) >= 2 ORDER BY url_norm""",
        "domain_caps": f"""
WITH {_url_cte()},
ranked AS (
  SELECT reg_domain, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY reg_domain
              ORDER BY n_chars DESC, doc_id) AS BIGINT) domain_rank
  FROM u)
SELECT reg_domain, doc_id, n_chars, domain_rank
FROM ranked WHERE domain_rank <= 15 ORDER BY reg_domain, domain_rank""",
        "domain_blocklist": f"""
WITH {_url_cte()}
SELECT reg_domain, CAST(COUNT(*) AS BIGINT) n_docs
FROM u
WHERE reg_domain NOT IN ({", ".join(f"'{d}'" for d in _URL_BLOCKLIST)})
GROUP BY reg_domain ORDER BY reg_domain""",
    }
    # per-domain triage composes the PROVEN gopher body with the shared
    # URL plant+normalization chain — same drift-proofing as
    # pipeline_curate_v2
    out["domain_quality"] = f"""
WITH {_url_cte()},
gq AS ({out['gopher_quality']}),
j AS (SELECT u.reg_domain, u.url_norm, u.n_chars,
             CASE WHEN gq.passes_gopher THEN 1 ELSE 0 END p
      FROM u JOIN gq ON gq.doc_id = u.doc_id)
SELECT reg_domain, CAST(COUNT(*) AS BIGINT) n_docs,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) n_urls,
       CAST(SUM(p) AS BIGINT) n_gopher_pass,
       ROUND(SUM(p) * 1.0 / COUNT(*), 6) gopher_pass_rate,
       ROUND(AVG(n_chars), 6) avg_chars
FROM j GROUP BY reg_domain ORDER BY reg_domain"""
    # capstone: the composed curation pipeline reuses the PROVEN oracle
    # bodies above as CTE subqueries, so the composition can never drift
    # from the per-stage contracts
    out["pipeline_curate_v2"] = f"""
WITH g AS ({out['gopher_quality']}),
c AS ({out['c4_quality']}),
q AS ({out['doc_len_lang_quantile']}),
e AS ({out['dedup_exact']}),
nd AS (WITH {_minhash_cte()} SELECT DISTINCT doc0 FROM mh_cand)
SELECT g.doc_id, g.passes_gopher, c.passes_c4, q.below_p25,
       e.doc_id IS NULL AS is_exact_dup,
       nd.doc0 IS NOT NULL AS is_near_dup,
       (g.passes_gopher AND c.passes_c4 AND NOT q.below_p25
        AND e.doc_id IS NOT NULL AND nd.doc0 IS NULL) AS keep
FROM g JOIN c USING (doc_id) JOIN q USING (doc_id)
LEFT JOIN e ON e.doc_id = g.doc_id
LEFT JOIN nd ON nd.doc0 = g.doc_id"""
    # tokenizer fertility composes the PROVEN bpe_encode oracle body, so
    # the evaluate step can never drift from the encode contract
    out["tokenizer_fertility"] = f"""
WITH e AS ({out['bpe_encode']}),
d AS (SELECT CAST(doc_id AS BIGINT) doc_id, lang,
             COALESCE({_TOKS}, []) a
      FROM documents),
w AS (SELECT doc_id, lang,
             CAST(length(a) AS BIGINT) n_words,
             CAST(COALESCE(list_sum(list_transform(a, t -> length(t))),
                           0) AS BIGINT) n_chars
      FROM d)
SELECT w.lang, CAST(COUNT(*) AS BIGINT) n_docs,
       CAST(SUM(w.n_words) AS BIGINT) n_words,
       CAST(SUM(e.n_symbols) AS BIGINT) n_symbols,
       ROUND(CAST(SUM(e.n_symbols) AS DOUBLE) / SUM(w.n_words), 6)
         symbols_per_word,
       ROUND(CAST(SUM(w.n_chars) AS DOUBLE) / SUM(e.n_symbols), 6)
         chars_per_symbol
FROM w JOIN e USING (doc_id)
GROUP BY 1 ORDER BY 1"""
    # corpus datasheet composes the PROVEN dedup_exact and gopher bodies
    out["corpus_card"] = f"""
WITH b AS (SELECT doc_id, lang, source,
                  length(COALESCE({_TOKS}, [])) n
           FROM documents),
e AS ({out['dedup_exact']}),
g AS ({out['gopher_quality']}),
m1 AS (SELECT CAST(COUNT(*) AS DOUBLE) n_docs,
              CAST(SUM(n) AS DOUBLE) n_tokens,
              CAST(COUNT(DISTINCT lang) AS DOUBLE) n_langs,
              CAST(COUNT(DISTINCT source) AS DOUBLE) n_sources
       FROM b),
m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) n_kept FROM e),
m3 AS (SELECT AVG(CASE WHEN passes_gopher THEN 1.0 ELSE 0.0 END)
         gopher_rate FROM g)
SELECT 'n_docs' metric, n_docs AS value FROM m1
UNION ALL SELECT 'n_tokens', n_tokens FROM m1
UNION ALL SELECT 'n_langs', n_langs FROM m1
UNION ALL SELECT 'n_sources', n_sources FROM m1
UNION ALL SELECT 'exact_dup_rate', ROUND(1.0 - m2.n_kept / m1.n_docs, 6)
  FROM m1, m2
UNION ALL SELECT 'gopher_pass_rate', ROUND(gopher_rate, 6) FROM m3
UNION ALL SELECT 'mean_doc_tokens', ROUND(n_tokens / n_docs, 6) FROM m1"""
    # label propagation composes the PROVEN gopher body for its seeds
    out["filter_agreement"] = f"""
WITH gq AS ({{}}),
fl AS (SELECT COALESCE(g.passes_gopher, FALSE) a,
              COALESCE(d.n_chars >= 240, FALSE) b
       FROM gq g JOIN documents d ON CAST(d.doc_id AS BIGINT) = g.doc_id),
ct AS (SELECT CAST(COUNT(*) AS BIGINT) n,
              CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) n11,
              CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) n10,
              CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) n01,
              CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) n00
       FROM fl),
pp AS (SELECT n, n11, n10, n01, n00,
              (n11 + n00) * 1.0 / n AS po_raw,
              ((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                + (1 - (n11 + n10) * 1.0 / n)
                  * (1 - (n11 + n01) * 1.0 / n) AS pe_raw
       FROM ct)
SELECT n, n11, n10, n01, n00,
       ROUND(po_raw, 6) AS po, ROUND(pe_raw, 6) AS pe,
       CASE WHEN pe_raw = 1.0 THEN NULL
            ELSE ROUND((po_raw - pe_raw) / (1 - pe_raw), 6) END AS kappa
FROM pp""".format(out["gopher_quality"])
    out["quality_propagate"] = _label_prop_oracle(out["gopher_quality"],
                                                  n_iter=3)
    # convergence-stopped variant: same recurrence, integer-exact
    # first-below-bound stopping replayed by unrolled CTEs
    out["quality_propagate_conv"] = _label_prop_conv_oracle(
        out["gopher_quality"], tol_u=5000, max_iter=8)
    # edge-weighted variant: integer MinHash agreement counts as weights
    out["quality_propagate_weighted"] = _label_prop_weighted_oracle(
        out["gopher_quality"], n_iter=3)
    # domain-aware leakage-safe split: the split_leakage_safe closure
    # with same-registered-domain star edges UNIONed in (shared _url_cte
    # — the domain rule can never drift from the url_* contracts)
    out["split_leakage_domain"] = f"""
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
FROM fr ORDER BY doc_id"""
    # waterfall attribution composes the PROVEN dedup_exact /
    # url_dedup / text_line_dedup / dedup_clusters rule bodies
    out["dedup_waterfall"] = f"""
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
FROM fl ORDER BY doc_id"""
    # crawl-ledger incremental URL dedup: shared _url_cte again
    out["url_incremental"] = f"""
WITH {_url_cte()},
nb AS (SELECT doc_id AS doc, url_norm FROM u WHERE doc_id % 4 = 0),
h AS (SELECT DISTINCT url_norm, TRUE AS seen
      FROM u WHERE doc_id % 4 <> 0 AND doc_id % 50 < 40),
m AS (SELECT nb.doc, nb.url_norm, COALESCE(h.seen, FALSE) seen,
             MIN(nb.doc) OVER (PARTITION BY nb.url_norm) mdoc
      FROM nb LEFT JOIN h USING (url_norm))
SELECT doc, url_norm,
       CASE WHEN url_norm IS NULL THEN 'invalid'
            WHEN seen THEN 'seen'
            WHEN doc > mdoc THEN 'batch_dup'
            ELSE 'new' END status
FROM m ORDER BY doc"""
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
    out["dedup_kcore"] = f"""
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
    # per-source composite-quantile cut: the PROVEN gopher metric
    # bodies re-used, composite rounded once, quantile_cont at 0.1
    out["doc_quality_composite_quantile"] = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, source, COALESCE(text, '') txt,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words
  FROM documents),
m AS (
  SELECT doc_id, source,
    ROUND(ROUND(len(list_filter(words,
                                x -> regexp_matches(x, '[A-Za-z]')))
                * 1.0 / GREATEST(len(words), 1), 6)
          - ROUND((length(txt) - length(replace(txt, '#', ''))
                   + (length(txt) - length(replace(txt, '...', ''))) / 3)
                  / GREATEST(len(words), 1), 6), 6) composite
  FROM w),
st AS (SELECT source,
              ROUND(quantile_cont(composite, 0.1), 6) q_threshold
       FROM m GROUP BY 1)
SELECT m.source, m.doc_id, m.composite, st.q_threshold,
       m.composite < st.q_threshold AS below_p10
FROM m JOIN st ON m.source IS NOT DISTINCT FROM st.source"""
    # held-out Jelinek-Mercer LM scoring: full train+score replay;
    # binary-exact 0.75/0.25 mix, nano-unit per-token folds
    out["lm_heldout_jm"] = f"""
WITH tl AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a,
                   doc_id % 5 = 0 AS held
            FROM documents),
tk AS (SELECT doc, held, generate_subscripts(a, 1) pos, unnest(a) w
       FROM tl),
tt AS (SELECT doc, pos, w FROM tk WHERE NOT held),
tbi AS (SELECT t1.w prev, t2.w FROM tt t1
        JOIN tt t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
bc AS (SELECT prev, w, CAST(COUNT(*) AS DOUBLE) bc
       FROM tbi GROUP BY 1, 2),
uc AS (SELECT prev, CAST(COUNT(*) AS DOUBLE) uc FROM tbi GROUP BY 1),
uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) cu FROM tt GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
               CAST(COUNT(DISTINCT w) AS DOUBLE) v FROM tt),
hk AS (SELECT doc, pos, w FROM tk WHERE held),
hp AS (SELECT h.doc, h.w, p.w prev
       FROM hk h LEFT JOIN hk p ON p.doc = h.doc
                              AND p.pos = h.pos - 1),
j AS (SELECT hp.doc, hp.prev,
             (COALESCE(uni.cu, 0) + 1.0)
               / (tot.n + tot.v + 1.0) p_uni,
             CASE WHEN COALESCE(uc.uc, 0) > 0
                  THEN COALESCE(bc.bc, 0) / uc.uc
                  ELSE 0.0 END p_bi
      FROM hp LEFT JOIN uni ON hp.w = uni.w
      LEFT JOIN bc ON hp.prev = bc.prev AND hp.w = bc.w
      LEFT JOIN uc ON hp.prev = uc.prev
      CROSS JOIN tot),
tx AS (SELECT doc,
              CAST(FLOOR(-ln(CASE WHEN prev IS NULL THEN p_uni
                                  ELSE CAST(0.75 AS DOUBLE) * p_bi
                                       + CAST(0.25 AS DOUBLE) * p_uni
                             END) * 1000000000.0 + 0.5)
                   AS BIGINT) tu
       FROM j)
SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
       ROUND(CAST(SUM(tu) AS BIGINT) / (COUNT(*) * 1e9), 6)
         AS avg_neg_logprob
FROM tx GROUP BY doc ORDER BY doc"""
    # per-source decile quantile normalization: the PROVEN alpha metric
    # + ntile over the same total order + quantile_cont midpoints
    _qn_mids = ", ".join(repr((i - 0.5) / 10) for i in range(1, 11))
    out["doc_quality_qnorm"] = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, source,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words
  FROM documents),
m AS (SELECT doc_id, source,
             ROUND(len(list_filter(words,
                                   x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac
      FROM w),
gq AS (SELECT list_transform(quantile_cont(alpha_word_frac,
                                           [{_qn_mids}]),
                             t -> ROUND(t, 6)) g
       FROM m),
tl AS (SELECT doc_id, source, alpha_word_frac,
              CAST(NTILE(10) OVER (PARTITION BY source
                                   ORDER BY alpha_word_frac, doc_id)
                   AS BIGINT) tile
       FROM m WHERE alpha_word_frac IS NOT NULL)
SELECT doc_id, source, alpha_word_frac, tile,
       gq.g[CAST(tile AS INT)] AS score_norm
FROM tl CROSS JOIN gq ORDER BY doc_id"""
    # Dunning G² keyness: four exact integers per row feed ONE
    # closed-form double expression with the SAME association order as
    # the Spark side (e = c*(a+b)/(c+d), left-assoc) — no float sums
    out["source_keyness"] = f"""
WITH tk AS (SELECT CAST(doc_id AS BIGINT) doc, source,
                   unnest({_TOKS}) word FROM documents),
gt AS (SELECT source grp, word, CAST(COUNT(*) AS BIGINT) a
       FROM tk GROUP BY 1, 2),
tt AS (SELECT word, CAST(SUM(a) AS BIGINT) t_tot FROM gt GROUP BY 1),
ct AS (SELECT grp, CAST(SUM(a) AS BIGINT) c FROM gt GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) n_all FROM ct),
j AS (SELECT grp, word, a, t_tot - a AS b, c, n_all - c AS d
      FROM gt JOIN tt USING (word) JOIN ct USING (grp) CROSS JOIN nt),
sc AS (SELECT grp, word, a, b,
         ROUND(2.0 * (CAST(a AS DOUBLE)
                 * ln(CAST(a AS DOUBLE)
                      / (CAST(c AS DOUBLE)
                         * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                         / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))))
               + CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
                 * ln(CAST(b AS DOUBLE)
                      / (CAST(d AS DOUBLE)
                         * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))
                         / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE))))
                 ELSE 0.0 END), 6) g2
       FROM j
       WHERE CAST(a AS DOUBLE) / CAST(c AS DOUBLE)
             > CAST(b AS DOUBLE) / CAST(d AS DOUBLE)),
rk AS (SELECT grp, word AS term, a, b, g2,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY g2 DESC, word) rnk
       FROM sc)
SELECT grp, CAST(rnk AS BIGINT) AS rank, term, a, b, g2
FROM rk WHERE rnk <= 10 ORDER BY grp, rank"""
    # Poisson bootstrap: the SAME integer Poisson(1) thresholds
    # (profile._poisson1_thresholds) spelled into SQL — hash compares
    # stay pure integer in both engines
    from casf_spark.operators.profile import _poisson1_thresholds
    _pth = _poisson1_thresholds()
    _pw = " + ".join(f"CASE WHEN hv >= {t} THEN 1 ELSE 0 END"
                     for t in _pth)
    out["quality_bootstrap"] = f"""
WITH t AS (SELECT CAST(doc_id AS VARCHAR) k,
                  CAST(len({_TOKS}) AS BIGINT) * 1000000 xu
           FROM documents),
rep AS (SELECT k, xu, CAST(r.range AS INT) b
        FROM t CROSS JOIN range(24) r),
hs AS (SELECT b, xu,
         CAST('0x' || substr(md5(k || ':' || CAST(b AS VARCHAR)
                                 || ':13'), 1, 15) AS BIGINT) hv
       FROM rep),
ws AS (SELECT b, xu, ({_pw}) w FROM hs)
SELECT b, CAST(SUM(w) AS BIGINT) n_eff,
       CASE WHEN SUM(w) > 0
            THEN ROUND(CAST(SUM(w * xu) AS BIGINT)
                       / (CAST(SUM(w) AS BIGINT) * 1e6), 6) END AS mean
FROM ws GROUP BY b ORDER BY b"""
    # ARI between the MinHash clustering and exact-fingerprint groups:
    # the dedup_clusters recursive walk + a contingency GROUP BY; the
    # combinatorics stay integer (// halves) until the final division
    out["dedup_cluster_ari"] = f"""
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
FROM cells, am, bm"""
    # simplified silhouette: the semdedup oracle's det-centroid +
    # rounded-argmin idiom, then the micro-unit per-cluster mean fold
    out["cluster_silhouette"] = f"""
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
FROM s GROUP BY "cluster" ORDER BY "cluster" """
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
    out["embedding_rp8"] = f"""
WITH cells AS (
  SELECT CAST(vec_id AS BIGINT) vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) u
  FROM embeddings)
SELECT vec_id, CAST(generate_subscripts(p, 1) - 1 AS INT) AS dim,
       unnest(p) AS y
FROM (SELECT vec_id, [{_rp_cols}] p FROM cells)
ORDER BY vec_id, dim"""
    # per-domain boilerplate detection: shared _url_cte domain + the
    # text_line_dedup pseudo-chunking + the SAME hdr/promo plant
    out["domain_boilerplate"] = f"""
WITH {_url_cte()},
dm AS (SELECT doc_id AS doc, reg_domain FROM u),
t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
chunks AS (
  SELECT doc,
         unnest(list_transform(range(CAST(ceil(len(a) / 10.0) AS BIGINT)),
                i -> array_to_string(
                       list_slice(a, i*10 + 1, i*10 + 10), ' '))) line
  FROM t WHERE len(a) > 0),
lns AS (
  SELECT l.doc, l.line, dm.reg_domain
  FROM (SELECT doc, 'hdr ' || reg_domain AS line FROM dm
        UNION ALL
        SELECT doc, 'promo ' || reg_domain FROM dm WHERE doc % 5 < 2
        UNION ALL
        SELECT doc, line FROM chunks) l
  JOIN dm ON l.doc = dm.doc),
per AS (SELECT reg_domain, line, COUNT(DISTINCT doc) line_docs
        FROM lns GROUP BY reg_domain, line),
gt AS (SELECT reg_domain, COUNT(DISTINCT doc) grp_docs
       FROM lns GROUP BY reg_domain)
SELECT per.reg_domain, line, CAST(line_docs AS BIGINT) AS line_docs,
       CAST(grp_docs AS BIGINT) AS grp_docs
FROM per JOIN gt USING (reg_domain)
WHERE line_docs >= CEIL(grp_docs * 0.5) AND line_docs >= 3
ORDER BY per.reg_domain, line"""
    # registered domains against the FULL vendored PSL snapshot: the
    # IN-lists are generated from the SAME psl_data tuple the Spark
    # side-table join consumes — one source of truth; the plant's
    # suffix list is the SAME _PSL_PLANT_SUFFIXES literal
    psl2, psl3 = URL._split_by_depth(PSL.PSL_ICANN_FULL)
    psl2_sql = ", ".join(f"'{s}'" for s in psl2)
    psl3_sql = ", ".join(f"'{s}'" for s in psl3)
    plant_sql = ", ".join(f"'{s}'" for s in _PSL_PLANT_SUFFIXES)
    plabs = "string_split(hnp, '.')"
    plast2 = f"{plabs}[-2] || '.' || {plabs}[-1]"
    plast3 = f"{plabs}[-3] || '.' || {plast2}"
    out["url_psl_domains"] = f"""
WITH p1 AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         CAST(doc_id % 40 AS INT) g
  FROM documents),
p2 AS (
  SELECT doc_id,
         'h' || CAST(g AS VARCHAR) || '.'
             || ([{plant_sql}])[g + 1] h0
  FROM p1),
p3 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 1 THEN 'sub.' || h0
              WHEN doc_id % 3 = 2 THEN 'a.b.' || h0
              ELSE h0 END h1
  FROM p2),
p4 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN h1 || ':8080' ELSE h1 END host
  FROM p3),
p5 AS (
  SELECT doc_id, host,
         regexp_replace(host, ':[0-9]+$', '') hnp
  FROM p4)
SELECT doc_id, host,
  CASE WHEN length({plabs}) <= 2 THEN hnp
       WHEN {plast3} IN ({psl3_sql}) AND length({plabs}) >= 4
         THEN {plabs}[-4] || '.' || {plast3}
       WHEN {plast3} IN ({psl3_sql}) THEN hnp
       WHEN {plast2} IN ({psl2_sql}) THEN {plabs}[-3] || '.' || {plast2}
       ELSE {plast2} END reg_domain
FROM p5 ORDER BY doc_id"""
    # full PSL rule algorithm (exception > longest rule > default)
    # replayed in SQL; every IN-list is generated from the SAME
    # psl_data.PSL_ICANN_FULL_RULES tuple the Spark join consumes
    _lits = [s for s in PSL.PSL_ICANN_FULL_RULES
             if not s.startswith(("*", "!"))]
    _wild = [s[2:] for s in PSL.PSL_ICANN_FULL_RULES
             if s.startswith("*.")]
    _exc = [s[1:] for s in PSL.PSL_ICANN_FULL_RULES if s.startswith("!")]
    rl2 = ", ".join(f"'{s}'" for s in _lits if s.count(".") == 1)
    rl3 = ", ".join(f"'{s}'" for s in _lits if s.count(".") == 2)
    rw1 = ", ".join(f"'{s}'" for s in _wild if "." not in s)
    rw2 = ", ".join(f"'{s}'" for s in _wild if s.count(".") == 1)
    re2 = ", ".join(f"'{s}'" for s in _exc if s.count(".") == 1)
    re3 = ", ".join(f"'{s}'" for s in _exc if s.count(".") == 2)
    rhosts = ", ".join(f"'{h}'" for h in _PSL_RULE_PLANT_HOSTS)
    rlast1 = f"{plabs}[-1]"
    out["url_psl_rules"] = f"""
WITH p1 AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         ([{rhosts}])[CAST(doc_id % 16 AS INT) + 1] h0
  FROM documents),
p2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN h0 || ':8080' ELSE h0 END host
  FROM p1),
p3 AS (
  SELECT doc_id, host,
         regexp_replace(host, ':[0-9]+$', '') hnp
  FROM p2),
p4 AS (
  SELECT doc_id, host, hnp, length({plabs}) n,
         CASE WHEN {plast3} IN ({re3}) THEN 2
              WHEN {plast2} IN ({re2}) THEN 1
              WHEN {plast3} IN ({rl3}) THEN 3
              WHEN {plast2} IN ({rw2})
                   AND length({plabs}) >= 3 THEN 3
              WHEN {plast2} IN ({rl2}) THEN 2
              WHEN {rlast1} IN ({rw1})
                   AND length({plabs}) >= 2 THEN 2
              ELSE 1 END ps
  FROM p3)
SELECT doc_id, host,
  CASE WHEN n <= ps THEN hnp
       WHEN ps = 3 THEN {plabs}[-4] || '.' || {plast3}
       WHEN ps = 2 THEN {plabs}[-3] || '.' || {plast2}
       ELSE {plast2} END reg_domain
FROM p4 ORDER BY doc_id"""
    # ---- round-13 additions ----
    # fourth (grouping, metric, q) point of the per-group quantile-cut
    # family: per-language symbol-ratio upper cut (q = .90)
    out["doc_symbol_lang_quantile"] = """
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, lang, COALESCE(text, '') txt,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words
  FROM documents),
m AS (
  SELECT doc_id, lang,
    ROUND((length(txt) - length(replace(txt, '#', ''))
           + (length(txt) - length(replace(txt, '...', ''))) / 3)
          / GREATEST(len(words), 1), 6) symbol_word_ratio
  FROM w),
st AS (SELECT lang,
              ROUND(quantile_cont(symbol_word_ratio, 0.9), 6) q_threshold
       FROM m GROUP BY 1)
SELECT m.lang, m.doc_id, m.symbol_word_ratio, st.q_threshold,
       m.symbol_word_ratio < st.q_threshold AS below_p90
FROM m JOIN st ON m.lang IS NOT DISTINCT FROM st.lang"""
    # two-corpus quantile matching: the qnorm NTILE body with the ten
    # midpoint percentiles taken over the src0 REFERENCE slice only
    out["doc_quality_qmatch"] = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, source,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words
  FROM documents),
m AS (SELECT doc_id, source,
             ROUND(len(list_filter(words,
                                   x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac
      FROM w),
gq AS (SELECT list_transform(quantile_cont(alpha_word_frac,
                                           [{_qn_mids}]),
                             t -> ROUND(t, 6)) g
       FROM m WHERE source = 'src0'),
tl AS (SELECT doc_id, source, alpha_word_frac,
              CAST(NTILE(10) OVER (PARTITION BY source
                                   ORDER BY alpha_word_frac, doc_id)
                   AS BIGINT) tile
       FROM m WHERE alpha_word_frac IS NOT NULL)
SELECT doc_id, source, alpha_word_frac, tile,
       gq.g[CAST(tile AS INT)] AS score_matched
FROM tl CROSS JOIN gq ORDER BY doc_id"""
    # Good-Turing / Chao1 vocabulary richness: four exact integers per
    # source -> two closed-form doubles (same float-op order as Spark)
    out["vocab_good_turing"] = f"""
WITH tk AS (SELECT source grp, unnest({_TOKS}) w FROM documents),
gt AS (SELECT grp, w, CAST(COUNT(*) AS BIGINT) a FROM tk GROUP BY 1, 2),
per AS (SELECT grp,
               CAST(SUM(a) AS BIGINT) n_tokens,
               CAST(COUNT(*) AS BIGINT) v_distinct,
               CAST(COUNT(*) FILTER (WHERE a = 1) AS BIGINT) n1,
               CAST(COUNT(*) FILTER (WHERE a = 2) AS BIGINT) n2
        FROM gt GROUP BY 1)
SELECT grp, n_tokens, v_distinct, n1, n2,
  ROUND(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) gt_unseen,
  ROUND(CAST(v_distinct AS DOUBLE)
        + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
          / (2.0 * (CAST(n2 AS DOUBLE) + 1.0)), 6) chao1
FROM per ORDER BY grp"""
    # source-vs-rest Jensen-Shannon divergence: per-word closed-form
    # contributions in nano-units + ONE closed-form absent-word term
    # per source (same float-op order as the Spark side)
    out["source_vocab_jsd"] = f"""
WITH tk AS (SELECT source grp, unnest({_TOKS}) w FROM documents),
gt AS (SELECT grp, w, CAST(COUNT(*) AS BIGINT) a FROM tk GROUP BY 1, 2),
tt AS (SELECT w, CAST(SUM(a) AS BIGINT) t_tot FROM gt GROUP BY 1),
ct AS (SELECT grp, CAST(SUM(a) AS BIGINT) c FROM gt GROUP BY 1),
nt AS (SELECT CAST(SUM(c) AS BIGINT) n_all FROM ct),
pq AS (SELECT grp, t_tot,
              CAST(a AS DOUBLE) / CAST(c AS DOUBLE) p,
              CAST(t_tot - a AS DOUBLE) b,
              CAST(t_tot - a AS DOUBLE) / CAST(n_all - c AS DOUBLE) q
       FROM gt JOIN tt USING (w) JOIN ct USING (grp) CROSS JOIN nt),
terms AS (SELECT grp, t_tot,
                 CAST(FLOOR((0.5 * p * ln(2.0 * p / (p + q))
                             + CASE WHEN b > 0.0
                                    THEN 0.5 * q * ln(2.0 * q / (p + q))
                                    ELSE 0.0 END) * 1e9 + 0.5)
                      AS BIGINT) tu
          FROM pq),
per AS (SELECT grp, CAST(SUM(tu) AS BIGINT) su,
               CAST(COUNT(*) AS BIGINT) n_terms,
               CAST(SUM(t_tot) AS BIGINT) s_g
        FROM terms GROUP BY 1)
SELECT p.grp, p.n_terms,
  ROUND((p.su + CAST(FLOOR(0.5 * ln(2.0)
                           * (CAST(n.n_all - p.s_g AS DOUBLE)
                              / CAST(n.n_all - c.c AS DOUBLE))
                           * 1e9 + 0.5) AS BIGINT)) / 1e9, 6) jsd
FROM per p JOIN ct c USING (grp) CROSS JOIN nt n ORDER BY p.grp"""
    # mergeable histogram quantile sketch: the twin is ONE whole-corpus
    # build — equality with the Spark side's 4-shard merge IS the
    # mergeability property (counter-sum commutativity, the
    # stream_cms_state contract); the estimate is closed-form
    out["events_quantile_sketch"] = """
WITH b AS (
  SELECT CAST(LEAST(GREATEST(FLOOR((CAST(value AS DOUBLE) - 0.0) / 0.5),
                             0), 999) AS INT) bin
  FROM events WHERE value IS NOT NULL),
sk AS (SELECT bin, CAST(COUNT(*) AS BIGINT) cnt FROM b GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) n FROM sk),
cum AS (SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) cum
        FROM sk),
qs AS (SELECT CAST(q AS DOUBLE) q
       FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
tr AS (SELECT q, CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT) target_rank
       FROM qs CROSS JOIN tot)
SELECT tr.q, tr.target_rank,
       ROUND(0.0 + (MIN(c.bin) + 1) * 0.5, 6) est
FROM tr JOIN cum c ON c.cum >= tr.target_rank
GROUP BY 1, 2 ORDER BY tr.q"""
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
    out["select_facility"] = f"""
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
    return out
