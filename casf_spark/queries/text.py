"""Text analysis: tokens, term statistics, fingerprints, chunking,
keyness, vocabulary profiles and frequency sketches."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU
from casf_spark.operators import dedup as DD
from casf_spark.operators import sampling as SP
from casf_spark.operators import relevance as RV
from casf_spark.operators import profile as PF
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import (_CDC_CHUNKS_CTE, _STOP_LIST, STOPWORDS,
                                        _SW_SQL, _TOKS, _cdc_chunks_cte,
                                        _marker_score)
from casf_spark.queries._registry import query


# Count-Min sketch shape shared by cms_term_counts and its oracle twin
CMS_W, CMS_D = 512, 4


def _cms_oracle() -> str:
    """cms_term_counts twin: the identical 4x512 integer cell table
    (same constants, same md5-derived columns), point-queried for the
    same deterministic top-20."""
    from casf_spark.functions.hashing import position_sql_exprs
    from casf_spark.operators.sketches import CMS_SEED

    h = "CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, CMS_D, CMS_W, seed=CMS_SEED)
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


@query("text_term_counts", oracle=f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) doc, unnest({_TOKS}) AS word
  FROM documents)
SELECT doc AS y, word AS x, CAST(COUNT(*) AS DOUBLE) AS "value"
FROM tok WHERE word NOT IN ({_SW_SQL}) GROUP BY 1, 2""")
def q_text_term_counts(spark, sf):
    docs = load_table(spark, sf, "documents")
    return TX.term_counts(docs, "doc_id", "text", stopwords=STOPWORDS)


@query("text_quality", oracle=f"""
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
FROM t""")
def q_text_quality(spark, sf):
    return TX.quality_features(load_table(spark, sf, "documents"),
                               "doc_id", "text")


@query("text_lang_id", oracle=_lang_id_oracle())
def q_text_lang_id(spark, sf):
    return TX.lang_id(load_table(spark, sf, "documents"), "doc_id", "text")


@query("text_fingerprint", oracle=f"""
SELECT CAST(doc_id AS BIGINT) doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fingerprint,
       CAST(len({_TOKS}) AS BIGINT) n_tokens
FROM documents""")
def q_text_fingerprint(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TX.fingerprint("text").alias("fingerprint"),
        TX.token_count("text").cast("long").alias("n_tokens"))


@query("text_token_stats", oracle=f"""
SELECT CAST(doc_id AS BIGINT) doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
       AS BIGINT) n_ws_tokens,
  CAST(len({_TOKS}) AS BIGINT) n_word_tokens,
  CAST(len(regexp_extract_all(lower(text),
       '{TX.BPE_ISH_PATTERN.replace(chr(39), chr(39) * 2)}')) AS BIGINT)
       n_bpe_tokens,
  CAST(length(text) AS BIGINT) n_chars
FROM documents""")
def q_text_token_stats(spark, sf):
    return TX.token_stats(load_table(spark, sf, "documents"), "doc_id", "text")


@query("text_winnow", oracle=f"""
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
SELECT DISTINCT CAST(doc_id AS BIGINT) doc, unnest(mins) AS fp FROM m""")
def q_text_winnow(spark, sf):
    """Winnowing fingerprints (rolling k-gram hash + window min) over the
    full documents table — the local-overlap detector; see
    functions.text.winnow_fingerprints."""
    return TX.winnow_fingerprints(load_table(spark, sf, "documents"),
                                  "doc_id", "text", k=5, w=4)


@query("text_split", oracle="""
SELECT doc_id,
       CASE WHEN frac < 0.98 THEN 'train'
            WHEN frac < 0.99 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) >> 30) / 1073741824.0 AS frac
      FROM documents)""")
def q_text_split(spark, sf):
    """Deterministic train/val/test assignment by doc_id hash — stable
    under re-runs, corpus growth, and engine (md5-derived fraction)."""
    docs = load_table(spark, sf, "documents")
    return SP.assign_splits(
        docs.select("doc_id"), F.col("doc_id").cast("string"))


@query("text_line_dedup", oracle=f"""
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
FROM t LEFT JOIN rebuilt r ON t.doc = r.doc""")
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


@query("text_repetition", oracle=f"""
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
FROM t LEFT JOIN f2 USING(doc) LEFT JOIN f3 USING(doc)""")
def q_text_repetition(spark, sf):
    """Gopher-style repetition signals: per-doc duplicated-{2,3}-gram and
    top-gram occurrence fractions (operators.curation.repetition_features)."""
    return CU.repetition_features(load_table(spark, sf, "documents"),
                                  "doc_id", "text", ns=(2, 3))


# Dunning G² keyness: four exact integers per row feed ONE
# closed-form double expression with the SAME association order as
# the Spark side (e = c*(a+b)/(c+d), left-assoc) — no float sums
@query("source_keyness", oracle=f"""
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
FROM rk WHERE rnk <= 10 ORDER BY grp, rank""")
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


@query("tfidf_terms", oracle=f"""
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
SELECT doc, term, tf, tfidf, CAST(rn AS INT) rank FROM r WHERE rn <= 3""")
def q_tfidf_terms(spark, sf):
    """Top-3 TF-IDF keywords per document (operators.relevance) — the
    keyword-extraction step the reference's demo implies (KWD term counts)
    but never weights."""
    docs = load_table(spark, sf, "documents")
    return RV.tfidf_terms(docs, "doc_id", "text", top_k=3)


@query("vocab_coverage", oracle=f"""
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
FROM r CROSS JOIN tot WHERE rk <= 20""")
def q_vocab_coverage(spark, sf):
    """Top-20 vocabulary with cumulative corpus coverage — partial top-n
    (TakeOrderedAndProject) then a window over the 20 survivors."""
    docs = load_table(spark, sf, "documents")
    return RV.vocab_coverage(docs, "doc_id", "text", top_n=20)


# adjacent-bigram PMI collocations (relevance.collocation_pmi):
# bigram pairs via position self-join == Spark's arrays_zip shift
@query("collocations_pmi", oracle=f"""
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
ORDER BY pmi DESC, w1, w2 LIMIT 25""")
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


# within-doc chunk collapse: identical first-chunk-prepend plant,
# then the same chunk/first-occurrence rules (1-based
# list_position == i mirrors Spark's array_position == i+1)
@query("text_self_dedup", oracle=f"""
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
FROM k ORDER BY doc_id""")
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


@query("cms_term_counts", oracle=_cms_oracle())
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


@query("skipgram_cooc", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
tk AS (SELECT doc, generate_subscripts(a, 1) i, unnest(a) w
       FROM toklist)
SELECT t1.w AS center, t2.w AS context, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tk t1 JOIN tk t2
  ON t1.doc = t2.doc AND t2.i BETWEEN t1.i - 2 AND t1.i + 2
 AND t2.i <> t1.i
GROUP BY 1, 2
HAVING COUNT(*) >= 5""")
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


@query("negative_samples", oracle=f"""
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
WHERE d.u >= i.lo AND d.u < i.hi""")
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


@query("text_zipf", oracle=f"""
WITH tok AS (SELECT unnest({_TOKS}) term FROM documents),
c AS (SELECT term, COUNT(*) n FROM tok GROUP BY 1),
tot AS (SELECT SUM(n) t FROM c),
top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 30)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT) AS "rank",
       term, CAST(n AS BIGINT) n,
       ROUND(CAST(n AS DOUBLE) / t, 6) AS share
FROM top, tot""")
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


@query("text_novelty", oracle=f"""
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
FROM t LEFT JOIN per USING (doc)""")
def q_text_novelty(spark, sf):
    """Per-doc 4-gram novelty (first-occurrence credit by doc order) —
    the dataset-growth decay curve (operators.dedup.ngram_novelty)."""
    docs = load_table(spark, sf, "documents")
    return DD.ngram_novelty(docs, "doc_id", "text", n=4)


@query("text_chunks", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents),
p AS (SELECT doc_id, a,
             GREATEST(CAST(CEIL((len(a) - 8) / 24.0) AS INT), 1) nc
      FROM t WHERE len(a) > 0)
, e AS (SELECT doc_id, a, unnest(range(nc)) AS i FROM p)
SELECT doc_id, CAST(i AS BIGINT) chunk_id,
       CAST(len(a[i*24+1 : i*24+32]) AS BIGINT) n_tokens,
       array_to_string(a[i*24+1 : i*24+32], ' ') chunk_text
FROM e""")
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


@query("text_cdc_chunks", oracle=f"""
WITH {_CDC_CHUNKS_CTE}
SELECT doc_id, chunk_id, n_tokens, chunk_text FROM cdc_chunks""")
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


@query("text_cdc_chunks_w2", oracle=f"""
WITH {_cdc_chunks_cte(win=2)}
SELECT doc_id, chunk_id, n_tokens, chunk_text FROM cdc_chunks""")
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


@query("text_heavy_hitters", oracle=f"""
WITH t AS (SELECT unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT COUNT(*) n FROM t)
SELECT token, COUNT(*) AS cnt
FROM t GROUP BY token
HAVING COUNT(*) >= CEIL(0.01 * (SELECT n FROM tot))""")
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


@query("lang_top_tokens", oracle=f"""
WITH t AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT lang, COUNT(*) n FROM t GROUP BY lang)
SELECT t.lang, token, COUNT(*) AS cnt
FROM t JOIN tot USING (lang)
GROUP BY t.lang, token, tot.n
HAVING COUNT(*) >= CEIL(0.02 * tot.n)""")
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


@query("lang_heavy_boundary", oracle=f"""
WITH t AS (SELECT lang, unnest({_TOKS}) AS token FROM documents),
tot AS (SELECT lang, COUNT(*) n FROM t GROUP BY lang)
SELECT t.lang, token, COUNT(*) AS cnt
FROM t JOIN tot USING (lang)
GROUP BY t.lang, token, tot.n
HAVING COUNT(*) >= CEIL(tot.n * (CAST(98 AS DOUBLE) / 3549))""")
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


@query("text_ttr", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents)
SELECT doc_id, CAST(len(a) AS BIGINT) n_tokens,
       CAST(len(list_distinct(a)) AS BIGINT) n_types,
       ROUND(CAST(len(list_distinct(a)) AS DOUBLE) / len(a), 6) ttr
FROM t WHERE len(a) > 0""")
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


# Good-Turing / Chao1 vocabulary richness: four exact integers per
# source -> two closed-form doubles (same float-op order as Spark)
@query("vocab_good_turing", oracle=f"""
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
FROM per ORDER BY grp""")
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


# source-vs-rest Jensen-Shannon divergence: per-word closed-form
# contributions in nano-units + ONE closed-form absent-word term
# per source (same float-op order as the Spark side)
@query("source_vocab_jsd", oracle=f"""
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
FROM per p JOIN ct c USING (grp) CROSS JOIN nt n ORDER BY p.grp""")
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
