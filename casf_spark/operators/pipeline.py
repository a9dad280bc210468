"""End-to-end corpus curation — the composed training-data pipeline.

The individual passes (quality scoring, language ID, exact dedup, split
assignment) each exist as standalone operators; a real pipeline runs them
together, and HOW they compose determines the 100 TB cost:

* All per-row features (quality metrics, language decision, content
  fingerprint) evaluate in ONE projection over ONE scan — importing the
  Column-expression builders (functions.text.quality_exprs /
  lang_pred_expr) instead of joining each pass's output frame, which
  would shuffle the corpus once per feature. The builders read one token
  array per document (functions.text.with_token_arrays), so each text is
  split once.
* The keep decision (quality + language) folds into the dedup
  aggregation instead of filtering before it, so no filter sits where
  Catalyst could push it into the feature projection and evaluate the
  features a second time.
* Split assignment is a narrow hash expression appended at the end.

Net: one tokenization and one feature projection per scanned row, and one
shuffle (the fingerprint struct-argmin aggregation, with no join back)
for the entire curation decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators.sampling import assign_splits


def curate_documents(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Filter → dedup → split in one declarative plan.

    Keeps English documents with >= 20 tokens, a stopword ratio <= 0.15
    and a digit ratio <= 0.3; among surviving exact duplicates keeps the
    min-id copy; labels the keepers with a deterministic 98/1/1
    train/val/test split. Output: (doc_id, n_tokens, pred_lang, split).

    Each document is tokenized once and its features are evaluated once.
    The keep predicate is folded into the fingerprint aggregation: a
    rejected row contributes NULL to its group's min, and groups with no
    kept row are dropped after the shuffle. The trade: rejected rows'
    fingerprints now enter that one exchange too, adding at most the
    reject share of the rows to it.
    """
    q = TX.quality_exprs(text_col)
    feats = TX.with_token_arrays(docs, text_col, TX.TOKS).select(
        F.col(id_col).cast("long").alias("doc_id"),
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        TX.lang_pred_expr().alias("pred_lang"),
        TX.fingerprint(text_col).alias("fp"),
    )
    keep = ((F.col("n_tokens") >= 20)
            & (F.col("stopword_ratio") <= 0.15)
            & (F.col("digit_ratio") <= 0.3)
            & F.col("pred_lang").isin(["en"]))
    # struct-argmin: the keeper row (min doc_id per fingerprint) comes out
    # of ONE aggregation — exact duplicates share identical text, hence
    # identical features, so carrying them through the min-struct is
    # lossless. The previous groupBy + left-semi join back re-evaluated
    # the feature projection for the probe side (measured 2.4 s -> 1.5 s
    # at sf0.1).
    first = (feats.groupBy("fp")
             .agg(F.min(F.when(keep, F.struct("doc_id", "n_tokens",
                                                 "pred_lang")))
                  .alias("_w"))
             .where(F.col("_w").isNotNull())
             .select(F.col("_w.doc_id").alias("doc_id"),
                     F.col("_w.n_tokens").alias("n_tokens"),
                     F.col("_w.pred_lang").alias("pred_lang")))
    out = assign_splits(first, F.col("doc_id").cast("string"),
                        [("train", 0.98), ("val", 0.01), ("test", 0.01)])
    return out.select("doc_id", "n_tokens", "pred_lang", "split")
