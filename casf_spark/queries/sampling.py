"""Sampling and mixture selection: stratified, per-source, weighted and
importance sampling, mixture plans and token budgets."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU
from casf_spark.operators import sampling as SP
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _TOKS
from casf_spark.queries._registry import query


@query("sample_stratified", oracle="""
SELECT CAST(doc_id AS BIGINT) doc_id, lang, source FROM documents
WHERE ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        >> 30) / 1073741824.0)
      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                  WHEN 'fr' THEN 0.25 ELSE 0.0 END""")
def q_sample_stratified(spark, sf):
    """Per-language deterministic hash-rate sampling (domain rebalancing):
    en halved, de kept, fr quartered, others dropped."""
    docs = load_table(spark, sf, "documents")
    return (CU.stratified_sample(docs, F.col("doc_id").cast("string"),
                                 "lang", {"en": 0.5, "de": 1.0, "fr": 0.25})
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    "lang", "source"))


@query("mixture_plan", oracle=f"""
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
FROM wt""")
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


@query("mixture_resample", oracle="""
WITH counts AS (SELECT source s, COUNT(*) n FROM documents GROUP BY 1),
r AS (SELECT s, LEAST(1.0,
        CASE s WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
               WHEN 'src2' THEN 0.2 ELSE 0.0 END * 40.0 / n) rate
      FROM counts)
SELECT CAST(d.doc_id AS BIGINT) doc_id, d.source, d.lang
FROM documents d JOIN r ON d.source = r.s
WHERE ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) >> 30) / 1073741824.0) < r.rate""")
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


@query("temperature_resample", oracle="""
WITH counts AS (SELECT lang s, CAST(COUNT(*) AS BIGINT) n
                FROM documents GROUP BY 1),
r AS (SELECT s, LEAST(1.0,
        (POW(CAST(n AS DOUBLE), 0.5)
         / SUM(POW(CAST(n AS DOUBLE), 0.5)) OVER ()) * 200.0 / n) rate
      FROM counts)
SELECT CAST(d.doc_id AS BIGINT) doc_id, d.lang, d.source
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.s
WHERE ((CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) >> 30) / 1073741824.0) < r.rate""")
def q_temperature_resample(spark, sf):
    """Alpha-sampling (XLM-R/mT5 rule): per-language rates from
    n^0.5-normalized shares toward a 200-row target — up-weights tail
    languages relative to natural proportions."""
    docs = load_table(spark, sf, "documents")
    out = CU.temperature_resample(docs, F.col("doc_id").cast("string"),
                                  "lang", alpha=0.5, total_rows=200)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang", "source")


@query("budget_select", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc,
                  CAST(len({_TOKS}) AS BIGINT) n_tok, lang stratum,
                  ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) >> 30) / 1073741824.0) p
           FROM documents),
c AS (SELECT doc, stratum, n_tok,
        SUM(n_tok) OVER (PARTITION BY stratum ORDER BY p, doc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      FROM t)
SELECT doc, stratum, n_tok FROM c WHERE cum <= 2000""")
def q_budget_select(spark, sf):
    """Per-language token-budget selection (2000 tokens/lang) via the
    chunked two-level prefix sum (operators.curation.budget_select)."""
    docs = load_table(spark, sf, "documents")
    t = docs.select("doc_id", "lang",
                    TX.token_count("text").alias("n_tokens"))
    return CU.budget_select(t, "doc_id", "n_tokens", "lang",
                            budget=2000, n_chunks=8)


@query("sample_per_source", oracle="""
WITH t AS (
  SELECT source,
         CAST(doc_id AS VARCHAR) kv,
         ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
           AS BIGINT) >> 30) / 1073741824.0) p
  FROM documents),
r AS (SELECT source, kv,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY p, kv) rk
      FROM t)
SELECT source, kv AS key_val, CAST(rk AS INT) rank FROM r WHERE rk <= 3""")
def q_sample_per_source(spark, sf):
    """Deterministic 3-per-source document sample via grouped partial
    top-k (operators.sampling.sample_per_group — no window, no global
    sort)."""
    docs = load_table(spark, sf, "documents")
    return SP.sample_per_group(docs, F.col("doc_id"), "source", k=3)


@query("dsir_select", oracle=f"""
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
FROM pd""")
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


@query("weighted_sample", oracle="""
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
FROM top""")
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
