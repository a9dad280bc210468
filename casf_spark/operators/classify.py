"""Model-based filtering: a distributed multinomial Naive Bayes text
classifier (train = one counting pass, score = one broadcast-join pass).

Every production pretraining pipeline pairs its heuristic filters with a
LEARNED quality/domain classifier (CCNet / LLaMA / GPT-3 train a
fastText- or NB-style linear model on labeled text and keep documents
the model scores well). The reference corpus has no learned component —
this module supplies the classical counterpart: binary multinomial NB
over the same tokenizer the rest of the engine uses
(``functions.text.tokens``), trained and applied entirely
as DataFrame plans.

Cross-engine determinism (the dedup_pagerank / rrf_fuse lesson applied
at design time): every per-term log-likelihood ratio is folded to
integer MICRO-units at train time, so a document's score is an INTEGER
sum — order-independent, associativity-proof. Only the final report
divides back to a 6dp float.

Scale notes (100 TB bar):

- ``nb_train``: one token-count aggregation keyed by term (map-side
  combined — the shuffle carries the vocabulary, not token
  occurrences), then a top-``vocab_size`` cut via ``orderBy().limit()``
  (TakeOrderedAndProject — per-partition partial top-n, no full
  vocabulary sort). Class totals and the prior are 1-row aggregates
  broadcast-cross-joined, never driver collects. The returned model is
  ≤ ``vocab_size + 1`` rows BY CONSTRUCTION — a bounded side input.
- ``nb_score``: the model broadcasts; scoring is tokenize → broadcast
  hash join → one map-combined per-doc integer sum. Nothing
  corpus-sized shuffles full-width; the only exchange is keyed by doc
  id for the count/sum aggregation.
- OOV tokens (outside the capped vocabulary) are ignored at score time
  — the standard capped-vocab NB convention, and what keeps the model
  bounded no matter the corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from casf_spark.functions.text import tokenize

__all__ = ["nb_train", "nb_score", "nb_cv_folds", "nb_train_multi",
           "nb_score_multi", "calibration_report",
           "platt_grid_fit", "PLATT_A_GRID", "PLATT_B_GRID",
           "PRIOR_TERM"]

#: the model row carrying the class-prior log-odds (the empty string can
#: never collide with a real token — the tokenizer drops empties).
PRIOR_TERM = ""

_SCALE_U = 1_000_000  # integer micro-units for log-likelihood ratios
#: calibration buckets: |score_u| bands this wide, the last open-ended
CALIB_STEP_U = 250_000
CALIB_BUCKETS = 5


def _round_half_up_u(col):
    """floor(x * scale + 0.5) — round-half-up to integer units; identical
    semantics in Spark and DuckDB for negative values too (half rounds
    toward +inf on both engines)."""
    return F.floor(col * F.lit(float(_SCALE_U)) + F.lit(0.5)).cast("long")


def nb_train(docs: DataFrame, id_col: str, text_col: str,
             label_col: str, positive,
             vocab_size: int = 5000) -> DataFrame:
    """Train binary multinomial NB -> model DataFrame ``(term, lr_u)``.

    ``lr_u`` is the integer micro-unit log-likelihood ratio
    ``ln P(term|pos) - ln P(term|neg)`` under Laplace(+1) smoothing over
    the capped vocabulary (top ``vocab_size`` terms by total training
    count, ties term asc). One extra row with ``term = PRIOR_TERM``
    carries the class-prior log-odds ``ln(n_pos) - ln(n_neg)``.

    Rows whose label is NULL are excluded from training (neither class).
    Documents with NULL/empty text contribute no token counts but DO
    count toward the prior — they carry label evidence.
    """
    lab = docs.select(
        F.col(id_col).cast("string").alias("doc"),
        F.when(F.col(label_col).isNull(), F.lit(None))
        .otherwise((F.col(label_col) == F.lit(positive)).cast("int"))
        .alias("y")).where(F.col("y").isNotNull())
    toks = (tokenize(docs, id_col, text_col)
            .select("doc", "word")
            .join(lab, "doc"))
    tc = (toks.groupBy(F.col("word").alias("term"))
          .agg(F.sum("y").cast("double").alias("c_pos"),
               F.sum(1 - F.col("y")).cast("double").alias("c_neg"),
               F.count(F.lit(1)).alias("cnt")))
    vocab = tc.orderBy(F.desc("cnt"), F.asc("term")).limit(vocab_size)
    totals = vocab.agg(F.sum("c_pos").alias("t_pos"),
                       F.sum("c_neg").alias("t_neg"),
                       F.count(F.lit(1)).cast("double").alias("v"))
    terms = (vocab.crossJoin(F.broadcast(totals))
             .select(
                 "term",
                 _round_half_up_u(
                     F.log((F.col("c_pos") + 1.0)
                           / (F.col("t_pos") + F.col("v")))
                     - F.log((F.col("c_neg") + 1.0)
                             / (F.col("t_neg") + F.col("v")))
                 ).alias("lr_u")))
    # a single-class (or empty) training set has no defined prior —
    # F.log(0) is NULL, which would silently NULL every downstream
    # score/pred; raise at model materialization instead
    prior = (lab.agg(F.sum("y").cast("double").alias("n_pos"),
                     F.sum(1 - F.col("y")).cast("double").alias("n_neg"))
             .select(F.lit(PRIOR_TERM).alias("term"),
                     F.when(
                         (F.coalesce("n_pos", F.lit(0.0)) <= 0.0)
                         | (F.coalesce("n_neg", F.lit(0.0)) <= 0.0),
                         F.raise_error(F.lit(
                             "nb_train: training set needs BOTH classes "
                             "(single-class or empty input)"))
                         .cast("long"))
                     .otherwise(
                         _round_half_up_u(F.log(F.col("n_pos"))
                                          - F.log(F.col("n_neg"))))
                     .alias("lr_u")))
    return terms.unionByName(prior)


def nb_score(docs: DataFrame, model: DataFrame, id_col: str,
             text_col: str) -> DataFrame:
    """Score every document with a trained NB model ->
    ``(doc, n_vocab_tokens, score_u, log_odds, pred_pos)``.

    ``score_u = prior_u + sum of lr_u over the doc's vocabulary token
    OCCURRENCES`` (integer micro-units — exact); ``log_odds`` divides
    back to 6dp; ``pred_pos = score_u >= 0``. Documents with no
    vocabulary tokens (including NULL/empty text) score the bare prior.
    """
    # materialize the bounded model ONCE (r13 optimization, guide §2.4):
    # the term rows and the prior row feed two separate broadcast
    # builds, and a freshly-trained lazy model would otherwise run its
    # whole train pipeline (train-corpus tokenize + count agg + top-k)
    # once per broadcast. vocab_size + 1 rows by contract.
    model = model.localCheckpoint()
    term_rows = model.where(F.col("term") != F.lit(PRIOR_TERM))
    prior = (model.where(F.col("term") == F.lit(PRIOR_TERM))
             .select(F.col("lr_u").alias("prior_u")))
    toks = tokenize(docs, id_col, text_col).select("doc", "word")
    hit = (toks.join(F.broadcast(term_rows),
                     toks.word == term_rows.term)
           .groupBy("doc")
           .agg(F.count(F.lit(1)).cast("long").alias("n_vocab_tokens"),
                F.sum("lr_u").alias("sum_u")))
    ids = docs.select(F.col(id_col).cast("string").alias("doc")).distinct()
    return (ids.join(hit, "doc", "left")
            .crossJoin(F.broadcast(prior))
            .select(
                "doc",
                F.coalesce("n_vocab_tokens", F.lit(0)).cast("long")
                .alias("n_vocab_tokens"),
                (F.col("prior_u") + F.coalesce("sum_u", F.lit(0)))
                .cast("long").alias("score_u"))
            .select(
                "doc", "n_vocab_tokens", "score_u",
                F.round(F.col("score_u") / F.lit(float(_SCALE_U)), 6)
                .alias("log_odds"),
                (F.col("score_u") >= 0).alias("pred_pos")))


def calibration_report(scored: DataFrame, label_col: str = "y") -> DataFrame:
    """Reliability / calibration report for NB scores -> one row per
    confidence bucket ``(bucket, n, mean_abs_logodds, conf, acc, gap,
    ece)`` — the check a pipeline owner runs before TRUSTING a learned
    filter's score as a probability (a well-discriminating classifier
    can still be badly calibrated, and every thresholded keep/drop
    decision inherits that error).

    ``scored`` is :func:`nb_score` output joined with an integer truth
    column ``label_col`` (1 = positive). Buckets are |score_u| bands of
    :data:`CALIB_STEP_U` micro-units, :data:`CALIB_BUCKETS` of them (top
    bucket open-ended) — bucketing on the
    INTEGER score, never on a transcendental, so bucket membership is
    engine-exact by construction. Per bucket:

    * ``mean_abs_logodds`` — integer |score_u| sum / n, 6dp;
    * ``conf`` — the NB-implied confidence of the predicted class,
      ``sigmoid(mean_abs_logodds)``, computed FROM the already-rounded
      mean (identical operands on both engines) and rounded 6dp;
    * ``acc`` — empirical accuracy (pred_pos == label), integers, 6dp;
    * ``gap`` — |acc - conf| of the two ROUNDED values (exact);
    * ``ece`` — constant column: expected calibration error,
      ``SUM(n_b * gap_u) / N`` in integer micro-units (the round-7
      order-stability rule: round bucket terms to integers BEFORE the
      weighted sum, so engines sum identical integers), 6dp.

    Scale shape: one map-combined aggregation keyed by bucket (≤
    :data:`CALIB_BUCKETS` groups), then arithmetic on the bucket table with a
    1-row broadcast for the ECE denominator — the corpus is touched
    once, nothing corpus-sized shuffles.
    """
    b = F.least(F.floor(F.abs(F.col("score_u")) / F.lit(CALIB_STEP_U)),
                F.lit(CALIB_BUCKETS - 1)).cast("long")
    agg = (scored
           .select(b.alias("bucket"),
                   F.abs(F.col("score_u")).alias("abs_u"),
                   (F.col("pred_pos").cast("int")
                    == F.col(label_col).cast("int")).cast("long")
                   .alias("ok"))
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("abs_u").cast("long").alias("sum_abs_u"),
                F.sum("ok").cast("long").alias("n_ok")))
    mean_alo = F.round(F.col("sum_abs_u") / F.col("n")
                       / F.lit(float(_SCALE_U)), 6)
    conf = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_alo)), 6)
    acc = F.round(F.col("n_ok") / F.col("n"), 6)
    per = agg.select(
        "bucket", "n",
        mean_alo.alias("mean_abs_logodds"),
        conf.alias("conf"), acc.alias("acc"),
        F.round(F.abs(acc - conf), 6).alias("gap"))
    gap_u = F.floor(F.col("gap") * F.lit(float(_SCALE_U))
                    + F.lit(0.5)).cast("long")
    tot = (per.select((F.col("n") * gap_u).alias("w_u"), "n")
           .agg(F.sum("w_u").cast("long").alias("sum_w_u"),
                F.sum("n").cast("long").alias("n_total")))
    # ece folded to integer micro-units BEFORE the final /1e6 (floor of
    # the half-shifted division — never ROUND on a derived double,
    # whose .5 boundaries two engines can disagree on)
    ece_u = F.floor(F.col("sum_w_u") / F.col("n_total")
                    + F.lit(0.5)).cast("long")
    return (per.crossJoin(F.broadcast(tot))
            .select("bucket", "n", "mean_abs_logodds", "conf", "acc",
                    "gap",
                    (ece_u / F.lit(float(_SCALE_U))).alias("ece")))


#: Platt grid defaults: binary-exact fractions (n/4, n/2) so the float
#: products a * log_odds and the z operands are bit-identical on any
#: IEEE engine; the range keeps |z| <= ~5 for NB log-odds in [-2, 2],
#: so sigmoid never saturates and ln stays well-conditioned.
PLATT_A_GRID = (0.25, 0.5, 0.75, 1.0, 1.5, 2.0)
PLATT_B_GRID = (-1.0, -0.5, -0.25, 0.0, 0.25, 0.5, 1.0)


def platt_grid_fit(scored: DataFrame, label_col: str = "y",
                   a_grid=PLATT_A_GRID,
                   b_grid=PLATT_B_GRID) -> DataFrame:
    """Platt scaling by deterministic grid search -> one row per (a, b)
    combo ``(a, b, loss, is_best)`` — the standard post-hoc calibration
    fit (Platt 1999): map a classifier's raw score to a probability
    ``p = sigmoid(a * log_odds + b)`` and pick the (a, b) minimizing
    held-out log-loss. A grid instead of Newton iterations because the
    fit must be CROSS-ENGINE EXACT: every doc x combo loss term is
    folded to integer micro-units (``floor(term * 1e6 + 0.5)``) before
    the per-combo sum, so losses are order-independent BIGINTs and the
    argmin — ties broken by (loss_u, a, b) — can never differ between
    engines. Emitting the WHOLE grid (not just the winner) makes the
    full loss surface part of the checked contract.

    ``scored`` is :func:`nb_score` output with an integer truth column.
    Scale shape: the grid (|a_grid| x |b_grid| rows) broadcasts into a
    map-side expansion of the held-out scores; the only aggregation is
    keyed by combo (grid-sized); the argmin is a 1-row min(struct)
    broadcast back. Linear in held-out rows.
    """
    spark = scored.sparkSession
    grid = spark.createDataFrame(
        [(float(a), float(b)) for a in a_grid for b in b_grid],
        "a double, b double")
    # z deliberately NOT rounded: a and b are binary-exact and log_odds
    # is the same 6dp double on both engines, so the multiply-add is
    # bit-identical as-is — while ROUND(z, 6) would CREATE divergence
    # (quarter-fraction grids times 6dp inputs land on exact decimal
    # halfway points, where two engines' ROUND can split; observed as
    # 1-micro-unit loss flips before this was removed)
    z = F.col("a") * F.col("log_odds") + F.col("b")
    # clamp (the sklearn log-loss convention): NB integer-sum scores
    # routinely exceed |z| ~ 37, where the sigmoid saturates to exactly
    # 1.0/0.0 in float64 and log(0) would NULL the term — F.sum then
    # silently SKIPS those rows, understating that combo's loss and
    # corrupting the argmin. The clamp expression is mirrored verbatim
    # in the DuckDB twin; unsaturated values are untouched.
    p = F.least(F.greatest(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)),
                           F.lit(1e-12)),
                F.lit(1.0) - F.lit(1e-12))
    y = F.col(label_col).cast("int")
    term = -(y * F.log(p) + (1 - y) * F.log(F.lit(1.0) - p))
    loss = (scored
            .select("log_odds", label_col)
            .crossJoin(F.broadcast(grid))
            .select("a", "b",
                    F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")
                    .alias("term_u"))
            .groupBy("a", "b")
            .agg(F.sum("term_u").cast("long").alias("loss_u")))
    best = loss.agg(F.min(F.struct("loss_u", "a", "b")).alias("m")) \
        .select(F.col("m.loss_u").alias("bl"), F.col("m.a").alias("ba"),
                F.col("m.b").alias("bb"))
    return (loss.crossJoin(F.broadcast(best))
            .select("a", "b",
                    (F.col("loss_u") / F.lit(1e6)).alias("loss"),
                    ((F.col("loss_u") == F.col("bl"))
                     & (F.col("a") == F.col("ba"))
                     & (F.col("b") == F.col("bb"))).alias("is_best")))


def nb_train_multi(docs: DataFrame, id_col: str, text_col: str,
                   label_col: str, vocab_size: int = 5000) -> DataFrame:
    """Train MULTI-class multinomial NB -> model ``(label, term, ll_u)``
    — the language-ID / domain-ID generalization of :func:`nb_train`
    (CCNet trains exactly this shape per language). ``ll_u`` is the
    integer micro-unit conditional log-probability
    ``ln((c(label, term) + 1) / (t_label + V))`` with Laplace(+1)
    smoothing over the SHARED capped vocabulary (top ``vocab_size``
    terms by total training count, ties term asc) — every (label,
    vocab-term) pair gets a row, zero counts included (the smoothed
    floor is label-specific, so it cannot be implied by absence). One
    row per label with ``term = PRIOR_TERM`` carries the prior
    ``ln(n_label / n_total)``.

    NULL labels are excluded from training. The model is
    ``n_labels x (vocab_size + 1)`` rows BY CONSTRUCTION — a bounded
    side input (labels are languages/domains: dozens, not millions).

    Scale shape: one (label, term) count aggregation (map-side
    combined; keys = labels x vocabulary), the vocabulary cut via
    TakeOrderedAndProject, per-label totals re-aggregated from the
    bounded class-term table; priors from one label-grain count.
    """
    lab = docs.select(F.col(id_col).cast("string").alias("doc"),
                      F.col(label_col).alias("label")) \
        .where(F.col("label").isNotNull())
    toks = (tokenize(docs, id_col, text_col)
            .select("doc", "word").join(lab, "doc"))
    tc = (toks.groupBy("label", F.col("word").alias("term"))
          .agg(F.count(F.lit(1)).cast("double").alias("c")))
    vocab = (tc.groupBy("term").agg(F.sum("c").alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("term")).limit(vocab_size)
             .select("term"))
    classes = lab.select("label").distinct()
    grid = classes.crossJoin(F.broadcast(vocab))
    cv = (grid.join(tc, ["label", "term"], "left")
          .select("label", "term",
                  F.coalesce("c", F.lit(0.0)).alias("c")))
    t_c = cv.groupBy("label").agg(F.sum("c").alias("t_c"),
                                  F.count(F.lit(1)).cast("double")
                                  .alias("v"))
    terms = (cv.join(F.broadcast(t_c), "label")
             .select("label", "term",
                     _round_half_up_u(
                         F.log((F.col("c") + 1.0)
                               / (F.col("t_c") + F.col("v"))))
                     .alias("ll_u")))
    n_tot = lab.agg(F.count(F.lit(1)).cast("double").alias("n_tot"))
    priors = (lab.groupBy("label")
              .agg(F.count(F.lit(1)).cast("double").alias("n_c"))
              .crossJoin(F.broadcast(n_tot))
              .select("label", F.lit(PRIOR_TERM).alias("term"),
                      _round_half_up_u(
                          F.log(F.col("n_c") / F.col("n_tot")))
                      .alias("ll_u")))
    return terms.unionByName(priors)


def nb_score_multi(docs: DataFrame, model: DataFrame, id_col: str,
                   text_col: str) -> DataFrame:
    """Classify every document with a :func:`nb_train_multi` model ->
    ``(doc, pred_label, best_u, margin_u)``: per-label integer score
    ``prior_u + sum of ll_u over the doc's vocabulary-token
    occurrences``; ``pred_label`` is the argmax (ties -> label asc,
    via an integer struct-min — fully deterministic); ``margin_u`` the
    integer gap to the runner-up (0 when only one label exists). OOV
    tokens are ignored (capped-vocab convention); a doc with no
    vocabulary tokens classifies by prior alone.

    Scale shape: model broadcasts (bounded rows); tokenize ->
    broadcast join -> one (doc, label) integer-sum aggregation ->
    label-join of the bounded prior table -> per-doc fold over
    n_labels rows (collect_list bounded by the label count).
    """
    # materialize the bounded model ONCE (r13 optimization — same
    # double-broadcast-build reason as nb_score): labels x (vocab+1)
    # rows by contract.
    model = model.localCheckpoint()
    terms = model.where(F.col("term") != PRIOR_TERM) \
        .select("label", "term", "ll_u")
    priors = model.where(F.col("term") == PRIOR_TERM) \
        .select("label", F.col("ll_u").alias("prior_u"))
    toks = tokenize(docs, id_col, text_col).select("doc", "word")
    hit = (toks.join(F.broadcast(terms),
                     toks["word"] == terms["term"])
           .groupBy("doc", "label")
           .agg(F.sum("ll_u").cast("long").alias("sum_u")))
    # distinct (the nb_score guard): duplicate doc ids would duplicate
    # every (doc, label) row, making the sorted list's runner-up a copy
    # of the winner — margin_u silently 0 for those docs
    base = (docs.select(F.col(id_col).cast("string").alias("doc"))
            .distinct()
            .crossJoin(F.broadcast(priors)))
    sc = (base.join(hit, ["doc", "label"], "left")
          .select("doc", "label",
                  (F.col("prior_u") + F.coalesce("sum_u", F.lit(0)))
                  .cast("long").alias("score_u")))
    ranked = F.array_sort(F.collect_list(
        F.struct((-F.col("score_u")).alias("ns"), F.col("label"))))
    return (sc.groupBy("doc")
            .agg(ranked.alias("r"))
            .select(
                "doc",
                F.col("r")[0]["label"].alias("pred_label"),
                (-F.col("r")[0]["ns"]).cast("long").alias("best_u"),
                F.when(F.size("r") > 1,
                       (F.col("r")[1]["ns"] - F.col("r")[0]["ns"]))
                .otherwise(F.lit(0)).cast("long").alias("margin_u")))


def nb_cv_folds(docs: DataFrame, id_col: str, text_col: str,
                label_col: str, positive, n_folds: int = 5,
                vocab_size: int = 5000) -> DataFrame:
    """k-fold cross-validation of the binary NB classifier in TWO
    corpus passes instead of 2k — output-identical to looping
    :func:`nb_train` + :func:`nb_score` over the hash folds
    ``pmod(id, n_folds)`` (pinned by test; identical to ``id %
    n_folds`` for non-negative ids, and a negative id still lands in a
    VALID fold instead of minting a spurious ``fold=-N`` row scored
    against a model that does not exist), but fused leave-one-out
    style:

    * ONE tokenize pass builds the (fold, term) count table; every
      fold's training counts are then ``totals − that fold's row`` —
      pure integer arithmetic on the vocabulary-grain table, so the
      per-fold Laplace log-ratios are bit-identical to independent
      training (exact integers in, the same double expression out).
      The per-fold top-``vocab_size`` cut is one window PARTITIONED BY
      fold over terms with a positive training count (a term seen only
      in the held fold has no training row — the ``cnt > 0`` filter
      mirrors its absence from nb_train's count table).
    * ONE more tokenize pass scores every document against ITS OWN
      fold's model — each doc is held out exactly once, so all k
      scoring joins collapse into one broadcast join keyed (fold,
      term) against the k x vocab_size model table.

    Truth for accuracy coalesces a NULL label to the negative class
    (the nb_lang_eval convention); training still EXCLUDES NULL-label
    rows (they carry no class evidence), exactly like nb_train.

    Output: (fold, n_heldout, n_correct, accuracy) — one row per fold.
    Scale shape: two token-grain aggregations (map-combined to fold x
    vocabulary / doc keys) + bounded-table model algebra; the round-12
    per-fold spelling cost ~2k corpus scans and 2k 1-row scalar aggs
    (measured 5.9 s standalone at sf0.1 — the round-12 verdict's watch
    threshold), this is the fusion it prescribed.
    """
    from pyspark.sql import Window

    if n_folds < 2:
        raise ValueError(f"nb_cv_folds: n_folds must be >= 2, "
                         f"got {n_folds}")
    # a NULL id would pmod to a NULL fold and silently vanish from the
    # output through the fold joins, breaking the partition invariant
    fold = F.when(F.col(id_col).isNull(),
                  F.raise_error(F.lit("nb_cv_folds: NULL doc id"))
                  .cast("int")) \
        .otherwise(F.pmod(F.col(id_col), F.lit(n_folds)).cast("int"))
    base = docs.select(F.col(id_col).cast("string").alias("doc"),
                       fold.alias("fold"),
                       F.when(F.col(label_col).isNull(), F.lit(None))
                       .otherwise((F.col(label_col) == F.lit(positive))
                                  .cast("int")).alias("y"))
    toks = tokenize(docs, id_col, text_col).select("doc", "word")
    # pass 1: (fold, term) training-count table (train rows only)
    lab = base.where(F.col("y").isNotNull())
    ftc = (toks.join(lab, "doc")
           .groupBy("fold", F.col("word").alias("term"))
           .agg(F.sum("y").cast("long").alias("s_pos"),
                F.sum(1 - F.col("y")).cast("long").alias("s_neg"),
                F.count(F.lit(1)).cast("long").alias("n")))
    tot = ftc.groupBy("term").agg(F.sum("s_pos").alias("p_all"),
                                  F.sum("s_neg").alias("g_all"),
                                  F.sum("n").alias("n_all"))
    folds_df = docs.sparkSession.createDataFrame(
        [(f,) for f in range(n_folds)], "fold int")
    # per-fold training counts = totals - the fold's own counts
    pf = (tot.crossJoin(F.broadcast(folds_df))
          .join(ftc, ["fold", "term"], "left")
          .select("fold", "term",
                  (F.col("p_all") - F.coalesce("s_pos", F.lit(0)))
                  .cast("double").alias("c_pos"),
                  (F.col("g_all") - F.coalesce("s_neg", F.lit(0)))
                  .cast("double").alias("c_neg"),
                  (F.col("n_all") - F.coalesce("n", F.lit(0)))
                  .alias("cnt")))
    w = Window.partitionBy("fold").orderBy(F.desc("cnt"), F.asc("term"))
    vocab = (pf.where(F.col("cnt") > 0)
             .withColumn("__nbcv_r", F.row_number().over(w))
             .where(F.col("__nbcv_r") <= vocab_size)
             .drop("__nbcv_r"))
    totals = vocab.groupBy("fold").agg(
        F.sum("c_pos").alias("t_pos"), F.sum("c_neg").alias("t_neg"),
        F.count(F.lit(1)).cast("double").alias("v"))
    terms = (vocab.join(F.broadcast(totals), "fold")
             .select("fold", "term",
                     _round_half_up_u(
                         F.log((F.col("c_pos") + 1.0)
                               / (F.col("t_pos") + F.col("v")))
                         - F.log((F.col("c_neg") + 1.0)
                                 / (F.col("t_neg") + F.col("v")))
                     ).alias("lr_u")))
    labc = lab.groupBy("fold").agg(
        F.sum("y").cast("long").alias("fp"),
        F.sum(1 - F.col("y")).cast("long").alias("fn"))
    ltot = labc.agg(F.sum("fp").alias("ap"), F.sum("fn").alias("an"))
    # every fold gets a prior row even when it holds NO labeled docs
    # (its training set is then ALL labeled docs — exactly what the
    # naive per-fold loop trains on); building the prior from labc
    # alone would inner-join such a fold's documents out of the output
    # entirely, silently breaking the partition invariant.
    # raise when a fold's TRAINING set lacks a class (that fold holds
    # every positive, or every negative): F.log(0) would silently NULL
    # the fold's prior, predictions, and accuracy — and the naive
    # nb_train loop now raises on exactly this input too
    tr_pos = (F.coalesce("ap", F.lit(0))
              - F.coalesce("fp", F.lit(0))).cast("double")
    tr_neg = (F.coalesce("an", F.lit(0))
              - F.coalesce("fn", F.lit(0))).cast("double")
    prior = (folds_df.crossJoin(F.broadcast(ltot))
             .join(F.broadcast(labc), "fold", "left")
             .select("fold",
                     F.when((tr_pos <= 0.0) | (tr_neg <= 0.0),
                            F.raise_error(F.lit(
                                "nb_cv_folds: a fold's training set "
                                "lacks a class — use fewer folds or "
                                "rebalance"))
                            .cast("long"))
                     .otherwise(
                         _round_half_up_u(F.log(tr_pos) - F.log(tr_neg)))
                     .alias("prior_u")))
    # pass 2: score every doc against its own fold's model
    fm = base.select("doc", "fold",
                     F.coalesce("y", F.lit(0)).alias("y0"))
    hit = (toks.join(fm.select("doc", "fold"), "doc")
           .join(F.broadcast(terms.withColumnRenamed("term", "word")),
                 ["fold", "word"])
           .groupBy("doc", "fold")
           .agg(F.sum("lr_u").alias("sum_u")))
    scored = (fm.join(hit, ["doc", "fold"], "left")
              .join(F.broadcast(prior), "fold")
              .select("fold", "y0",
                      ((F.col("prior_u")
                        + F.coalesce("sum_u", F.lit(0)))
                       .cast("long") >= 0).cast("int").alias("pred")))
    return (scored.groupBy("fold")
            .agg(F.count(F.lit(1)).cast("long").alias("n_heldout"),
                 F.sum((F.col("pred") == F.col("y0")).cast("int"))
                 .cast("long").alias("n_correct"))
            .select(F.col("fold").cast("int").alias("fold"),
                    "n_heldout", "n_correct",
                    F.round(F.col("n_correct") / F.col("n_heldout"), 6)
                    .alias("accuracy"))
            .orderBy("fold"))
