"""Document quality and curation: rule-based filters, per-group quantile
cuts, label propagation of quality seeds, the composed curation
pipelines and corpus reports."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU
from casf_spark.operators import dedup as DD
from casf_spark.operators.pipeline import curate_documents
from casf_spark.operators import profile as PF
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import (_DEDUP_EXACT_SQL, _GOPHER_QUALITY_SQL,
                                        _STOP_LIST, _TOKS, _marker_score,
                                        _minhash_cte)
from casf_spark.queries._registry import query


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


# the ten decile midpoint percentiles, shared by the doc_quality_qnorm and
# doc_quality_qmatch twins
_QN_MIDS = ", ".join(repr((i - 0.5) / 10) for i in range(1, 11))


_C4_QUALITY_SQL = """
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
FROM k"""


_DOC_LEN_LANG_QUANTILE_SQL = f"""
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
FROM d JOIN st USING (lang)"""


@query("pipeline_curate", oracle=_curate_oracle())
def q_pipeline_curate(spark, sf):
    """The composed curation pipeline: quality + language filters, exact
    dedup among survivors, deterministic split labels — one scan, one
    shuffle (operators.pipeline.curate_documents)."""
    return curate_documents(load_table(spark, sf, "documents"))


@query("pii_redact", oracle=f"""
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
FROM aug""")
def q_pii_redact(spark, sf):
    """PII audit: span counts + scrubbed text in one projection
    (operators.curation.pii_scrub_report) over the planted-PII corpus."""
    docs = load_table(spark, sf, "documents")
    return CU.pii_scrub_report(_pii_augmented(docs), "doc_id", "text")


@query("decontaminate", oracle=f"""
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
FROM d JOIN b USING (g) GROUP BY 1""")
def q_decontaminate(spark, sf):
    """Benchmark decontamination: flag non-src0 docs sharing word 4-grams
    with the src0 'benchmark' slice (GPT-3 appendix-C rule; n=4 because
    the synthetic docs are 10-99 tokens — production uses 13)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("source") == "src0")
    rest = docs.where(F.col("source") != "src0")
    return CU.contamination_flags(rest, bench, "doc_id", "text", n=4)


# per-source composite-quantile cut: the PROVEN gopher metric
# bodies re-used, composite rounded once, quantile_cont at 0.1
@query("doc_quality_composite_quantile", oracle="""
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
FROM m JOIN st ON m.source IS NOT DISTINCT FROM st.source""")
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


# per-source decile quantile normalization: the PROVEN alpha metric
# + ntile over the same total order + quantile_cont midpoints
@query("doc_quality_qnorm", oracle=f"""
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
                                           [{_QN_MIDS}]),
                             t -> ROUND(t, 6)) g
       FROM m),
tl AS (SELECT doc_id, source, alpha_word_frac,
              CAST(NTILE(10) OVER (PARTITION BY source
                                   ORDER BY alpha_word_frac, doc_id)
                   AS BIGINT) tile
       FROM m WHERE alpha_word_frac IS NOT NULL)
SELECT doc_id, source, alpha_word_frac, tile,
       gq.g[CAST(tile AS INT)] AS score_norm
FROM tl CROSS JOIN gq ORDER BY doc_id""")
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


def _quality_bootstrap_oracle() -> str:
    # Poisson bootstrap: the SAME integer Poisson(1) thresholds
    # (profile._poisson1_thresholds) spelled into SQL — hash compares
    # stay pure integer in both engines
    from casf_spark.operators.profile import _poisson1_thresholds
    _pth = _poisson1_thresholds()
    _pw = " + ".join(f"CASE WHEN hv >= {t} THEN 1 ELSE 0 END"
                     for t in _pth)
    return f"""
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


@query("quality_bootstrap", oracle=_quality_bootstrap_oracle())
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


# decontaminate_bloom's oracle IS the exact rule (grams, not
# hashes — same cardinality): the Bloom gate + rescue must be
# output-identical to exact decontamination
@query("decontaminate_bloom", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc, source, {_TOKS} a
           FROM documents),
g AS (SELECT doc, source, unnest(CASE WHEN len(a) >= 4
        THEN list_transform(range(len(a) - 3),
                            i -> array_to_string(a[i+1:i+4], ' '))
        ELSE [] END) gram FROM t),
b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
d AS (SELECT doc, gram FROM g WHERE source <> 'src0')
SELECT d.doc, CAST(COUNT(DISTINCT d.gram) AS BIGINT) n_hits
FROM d JOIN b USING (gram) GROUP BY 1""")
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


@query("doc_quality_source_quantile", oracle="""
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
FROM m JOIN st ON m.source IS NOT DISTINCT FROM st.source""")
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


# corpus datasheet composes the PROVEN dedup_exact and gopher bodies
@query("corpus_card", oracle=f"""
WITH b AS (SELECT doc_id, lang, source,
                  length(COALESCE({_TOKS}, [])) n
           FROM documents),
e AS ({_DEDUP_EXACT_SQL}),
g AS ({_GOPHER_QUALITY_SQL}),
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
UNION ALL SELECT 'mean_doc_tokens', ROUND(n_tokens / n_docs, 6) FROM m1""")
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


# capstone: the composed curation pipeline reuses the PROVEN oracle
# bodies above as CTE subqueries, so the composition can never drift
# from the per-stage contracts
@query("pipeline_curate_v2", oracle=f"""
WITH g AS ({_GOPHER_QUALITY_SQL}),
c AS ({_C4_QUALITY_SQL}),
q AS ({_DOC_LEN_LANG_QUANTILE_SQL}),
e AS ({_DEDUP_EXACT_SQL}),
nd AS (WITH {_minhash_cte()} SELECT DISTINCT doc0 FROM mh_cand)
SELECT g.doc_id, g.passes_gopher, c.passes_c4, q.below_p25,
       e.doc_id IS NULL AS is_exact_dup,
       nd.doc0 IS NOT NULL AS is_near_dup,
       (g.passes_gopher AND c.passes_c4 AND NOT q.below_p25
        AND e.doc_id IS NOT NULL AND nd.doc0 IS NULL) AS keep
FROM g JOIN c USING (doc_id) JOIN q USING (doc_id)
LEFT JOIN e ON e.doc_id = g.doc_id
LEFT JOIN nd ON nd.doc0 = g.doc_id""")
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


@query("quality_propagate", oracle=_label_prop_oracle(_GOPHER_QUALITY_SQL,
                                                  n_iter=3))
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


# convergence-stopped variant: same recurrence, integer-exact
# first-below-bound stopping replayed by unrolled CTEs
@query("quality_propagate_conv", oracle=_label_prop_conv_oracle(
        _GOPHER_QUALITY_SQL, tol_u=5000, max_iter=8))
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


# edge-weighted variant: integer MinHash agreement counts as weights
@query("quality_propagate_weighted", oracle=_label_prop_weighted_oracle(
        _GOPHER_QUALITY_SQL, n_iter=3))
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


@query("curation_funnel", oracle=f"""
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
       ROUND(s2 / total, 6) FROM a""")
def q_curation_funnel(spark, sf):
    """One-pass cumulative filter funnel over documents: length -> script
    -> token-count survivor counts (operators.curation.curation_funnel)."""
    docs = load_table(spark, sf, "documents")
    return CU.curation_funnel(docs, [
        ("min_chars", F.col("n_chars") >= 60),
        ("latin_script", F.col("lang") != "zh"),
        ("min_tokens", TX.token_count("text") >= 20),
    ])


# label propagation composes the PROVEN gopher body for its seeds
@query("filter_agreement", oracle=f"""
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
FROM pp""".format(_GOPHER_QUALITY_SQL))
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


@query("corpus_drift_psi", oracle="""
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
FROM terms""")
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


@query("doc_lang_source_lift", oracle="""
WITH cell AS (SELECT lang, source, COUNT(*) n_cell FROM documents
              GROUP BY 1, 2),
ml AS (SELECT lang, COUNT(*) n_lang FROM documents GROUP BY 1),
ms AS (SELECT source, COUNT(*) n_source FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) n_total FROM documents)
SELECT cell.lang, cell.source, CAST(n_cell AS BIGINT) n_cell,
       ROUND(CAST(n_cell AS DOUBLE) * n_total / (n_lang * n_source), 6) lift
FROM cell JOIN ml USING (lang) JOIN ms USING (source), tot""")
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


@query("c4_quality", oracle=_C4_QUALITY_SQL)
def q_c4_quality(spark, sf):
    """C4-style line cleanup report (operators.curation.c4_line_filter):
    the published Raffel et al. 2020 line rules — terminal punctuation,
    >= 5 words, no 'javascript' — plus the brace / lorem-ipsum document
    flags and the three-sentence minimum, with the cleaned text
    re-joined. One shuffle-free array-HOF projection."""
    docs = load_table(spark, sf, "documents")
    return CU.c4_line_filter(docs, "doc_id", "text")


@query("doc_len_lang_quantile", oracle=_DOC_LEN_LANG_QUANTILE_SQL)
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


# identical adversarial literals as the Spark query; the fl join
# is null-safe (IS NOT DISTINCT FROM) so the NULL-lang group
# survives on both engines; the cell checksum is an integer sum
@query("adversarial_contract", oracle="""
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
UNION ALL SELECT * FROM vec_sums""")
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


@query("gopher_quality", oracle=_GOPHER_QUALITY_SQL)
def q_gopher_quality(spark, sf):
    """Gopher rule-based quality filter (functions.text.gopher_quality):
    the published Rae et al. 2021 A1.1 ruleset — word count, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, required-stopword count — as one shuffle-free map-only
    projection with a per-rule metric column and the conjunction flag."""
    docs = load_table(spark, sf, "documents")
    return TX.gopher_quality(docs, "doc_id", "text")


# fourth (grouping, metric, q) point of the per-group quantile-cut
# family: per-language symbol-ratio upper cut (q = .90)
@query("doc_symbol_lang_quantile", oracle="""
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
FROM m JOIN st ON m.lang IS NOT DISTINCT FROM st.lang""")
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


# two-corpus quantile matching: the qnorm NTILE body with the ten
# midpoint percentiles taken over the src0 REFERENCE slice only
@query("doc_quality_qmatch", oracle=f"""
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
                                           [{_QN_MIDS}]),
                             t -> ROUND(t, 6)) g
       FROM m WHERE source = 'src0'),
tl AS (SELECT doc_id, source, alpha_word_frac,
              CAST(NTILE(10) OVER (PARTITION BY source
                                   ORDER BY alpha_word_frac, doc_id)
                   AS BIGINT) tile
       FROM m WHERE alpha_word_frac IS NOT NULL)
SELECT doc_id, source, alpha_word_frac, tile,
       gq.g[CAST(tile AS INT)] AS score_matched
FROM tl CROSS JOIN gq ORDER BY doc_id""")
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
