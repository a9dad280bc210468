"""Naive-Bayes language classification: scoring, evaluation,
calibration, cross-validation and Platt scaling."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.operators import classify as CL
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _TOKS
from casf_spark.queries._registry import query


# Platt grid VALUES for the nb_platt twin — generated from the SAME
# tuples operators.classify.platt_grid_fit defaults to (one source of
# truth; binary-exact fractions, see PLATT_A_GRID)
_PLATT_GRID_SQL = ", ".join(
    f"({a!r}, {b!r})" for a in CL.PLATT_A_GRID for b in CL.PLATT_B_GRID)


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


# NB classifier (operators/classify.py): integer micro-unit
# log-likelihood ratios make every doc score an exact integer
# sum — the same order-independence discipline as rrf/pagerank
@query("nb_lang_score", oracle=f"""
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
FROM sc ORDER BY doc_id""")
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


@query("nb_lang_eval", oracle=f"""
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
UNION ALL SELECT 'accuracy', ROUND((tp + tn) / n_heldout, 6) FROM cm""")
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


# calibration report for the same held-out scores: INTEGER
# micro-unit |score| bands (bucket membership engine-exact by
# construction), per-bucket sigmoid confidence computed FROM the
# rounded mean, integer-weighted ECE (round terms to integers
# BEFORE the weighted sum — the order-stability rule)
@query("nb_calibration", oracle=f"""
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
FROM per2 CROSS JOIN etot ORDER BY bucket""")
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


# held-out confusion report for the same model (the fifth the
# training fold never saw)
@query("nb_cv", oracle=_nb_cv_oracle())
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


# multi-class NB language ID: the full train + argmax-score
# replay; zero-count (label, vocab-term) pairs materialized in
# the grid CTE (the smoothed floor is label-specific)
@query("nb_lang_confusion", oracle=f"""
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
GROUP BY 1, 2 ORDER BY 1, 2""")
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


# Platt grid fit over the same held-out scores: per doc x combo
# log-loss folded to integer micro-units BEFORE the combo sum;
# the grid VALUES are generated from the SAME tuples the Spark
# operator uses — one source of truth; argmin tie (loss_u, a, b)
@query("nb_platt", oracle=f"""
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
FROM loss CROSS JOIN best ORDER BY a, b""")
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
