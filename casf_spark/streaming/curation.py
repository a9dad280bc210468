"""Micro-batch corpus curation: dedup and frequency sketches replayed
over an ordered list of ``(batch_id, docs)`` batches, each batch checked
against the state every earlier batch left behind — the batch-by-batch
sibling of ``operators.dedup.incremental_dedup``.

The dedup history (band buckets, Bloom words) is only ever joined
against a BROADCAST of the current batch's keys, so it never shuffles at
full width; the per-batch loop is over batches (a small count), not
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from casf_spark.functions import text as TX

__all__ = ["near_dedup_replay_batches", "bloom_dedup_replay_batches",
           "cms_replay_batches"]


def near_dedup_replay_batches(batches: list[tuple[int, DataFrame]],
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              n: int = 2, num_hashes: int = 12,
                              bands: int = 4, seed: int = 42) -> DataFrame:
    """Near-duplicate dedup of ordered ``(batch_id, docs_df)`` batches
    against a MinHash band-bucket index of all earlier batches; returns
    the end state (doc, batch_id, fp) of every surviving document.

    Per batch:
      * within-batch exact dedup: min (doc, text) struct per content
        fingerprint;
      * history drop: any band bucket already in the index (keepers of
        all PRIOR batches only);
      * within-batch star rule: drop docs sharing a bucket with a
        smaller exact-surviving doc id — computed over exact survivors
        BEFORE history drops (the contraction ``minhash_lsh_star_edges``
        uses);
      * survivors' buckets (and only theirs) extend the index.
    """
    from casf_spark.operators.dedup import _band_buckets, _band_keys

    keys = _band_keys(num_hashes, bands)
    index: DataFrame | None = None
    outs: list[DataFrame] = []
    for batch_id, batch_df in sorted(batches, key=lambda p: p[0]):
        base = batch_df.select(
            F.col(id_col).cast("long").alias("doc"),
            F.col(text_col).alias("text"),
            TX.fingerprint(text_col).alias("fp"))
        keep = (base.groupBy("fp")
                .agg(F.min(F.struct("doc", "text")).alias("_w"))
                .select("fp", F.col("_w.doc").alias("doc"),
                        F.col("_w.text").alias("text")))
        nb = _band_buckets(keep.select("doc", "text"), "doc", "text",
                           n, num_hashes, bands, seed).localCheckpoint()
        drop = None
        if index is not None:
            hit = (index.join(
                F.broadcast(nb.select(*keys).distinct()),
                keys).select(*keys).distinct())
            drop = (nb.join(F.broadcast(hit), keys)
                    .select("doc").distinct())
        bmin = nb.groupBy(*keys).agg(F.min("doc").alias("mn"))
        intra = (nb.join(bmin, keys)
                 .where(F.col("doc") > F.col("mn"))
                 .select("doc").distinct())
        drop = intra if drop is None else drop.unionByName(intra).distinct()
        keep = (keep.join(F.broadcast(drop), "doc", "left_anti")
                .localCheckpoint())
        outs.append(keep.select(
            "doc", F.lit(batch_id).cast("long").alias("batch_id"), "fp"))
        kept_buckets = (nb.join(F.broadcast(keep.select("doc")), "doc")
                        .select(*keys))
        index = (kept_buckets if index is None
                 else index.unionByName(kept_buckets))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def bloom_dedup_replay_batches(batches: list[tuple[int, DataFrame]],
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               m_bits: int = 1 << 16,
                               k: int = 4) -> DataFrame:
    """Bloom-gated exact dedup of ordered ``(batch_id, docs)`` batches:
    each batch drops the documents whose normalized text finds all k of
    its bits already set in the FIXED-size bitmap built from earlier
    batches' keepers (the Dolma-BFF shape), after an exact within-batch
    fingerprint argmin. Returns the end state (doc, batch_id, fp) of
    every survivor.

    A Bloom false positive drops a genuinely novel document (rate
    ~ (1-e^{-kn/m})^k — size m to the expected corpus); there are no
    false negatives, so every true duplicate is dropped.
    """
    from casf_spark.operators.sketches import bloom_build, bloom_probe

    words_acc: DataFrame | None = None
    out: DataFrame | None = None
    for batch_id, df in batches:
        fp = df.select(
            F.col(id_col).cast("long").alias("doc"),
            F.col(text_col).alias("text"),
            TX.fingerprint(text_col).alias("fp"))
        keep = (fp.groupBy("fp")
                .agg(F.min(F.struct("doc", "text")).alias("_w"))
                .select("fp", F.col("_w.doc").alias("doc"),
                        F.col("_w.text").alias("text")))
        if words_acc is not None:
            merged = (words_acc.groupBy("word_idx")
                      .agg(F.bit_or("bits").alias("bits")))
            keep = (bloom_probe(keep, TX.normalize_text(F.col("text")),
                                merged, m_bits=m_bits, k=k)
                    .where(~F.col("maybe_seen")).drop("maybe_seen"))
        keep = keep.localCheckpoint()
        bw = bloom_build(keep, TX.normalize_text(F.col("text")),
                         m_bits=m_bits, k=k)
        words_acc = bw if words_acc is None else words_acc.unionByName(bw)
        surv = keep.select("doc", F.lit(batch_id).alias("batch_id"), "fp")
        out = surv if out is None else out.unionByName(surv)
    if out is None:
        raise ValueError("bloom_dedup_replay_batches: no batches")
    return out


def cms_replay_batches(batches: list, queries_df: DataFrame,
                       item_col: str = "item", text_col: str = "text",
                       width: int = 256, depth: int = 4,
                       seed: int = 11) -> DataFrame:
    """Count-Min over ordered batches: per-batch ``depth x width``
    sketches merged by cell-wise sum, then point-queried. Because counter
    sums commute, the merged sketch is BIT-IDENTICAL to one built over
    the concatenated corpus: the oracle checks the mergeability property,
    and any error in the per-batch build or the merge flips the hash.
    """
    from casf_spark.operators.sketches import cms_build, cms_estimate

    acc: DataFrame | None = None
    for _batch_id, df in batches:
        toks = df.select(
            F.explode(TX.tokens(F.coalesce(F.col(text_col), F.lit(""))))
            .alias("item"))
        c = cms_build(toks, "item", width=width, depth=depth, seed=seed)
        acc = c if acc is None else acc.unionByName(c)
    if acc is None:
        raise ValueError("cms_replay_batches: no batches")
    merged = (acc.groupBy("row_idx", "col_idx")
              .agg(F.sum("cnt").cast("long").alias("cnt")))
    return cms_estimate(queries_df, item_col, merged,
                        width=width, depth=depth, seed=seed)

