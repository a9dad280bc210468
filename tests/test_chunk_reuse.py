"""Cross-version CDC chunk reuse (q_cdc_chunk_reuse): end-to-end proof
that content-defined boundaries localize an edit's blast radius, and
that a fixed-stride chunker does not have this property."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU

sys.path.insert(0, "/root/repo")


def _reuse(spark, sf_dir):
    from casf_spark.queries.dedup import q_cdc_chunk_reuse
    return q_cdc_chunk_reuse(spark, sf_dir).collect()


def test_rollup_invariants(spark, sf_dir):
    rows = _reuse(spark, sf_dir)
    assert rows
    for r in rows:
        assert 0 <= r.n_reused <= r.n_chunks_v2
        # the insert lands in exactly one v1 chunk; that chunk may split
        # in two around a new boundary, so at most 2 v2 chunks are new
        assert r.n_chunks_v2 - r.n_reused <= 2
        assert r.reuse_ratio == round(r.n_reused / r.n_chunks_v2, 6)


def test_covers_every_nonempty_doc(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_nonempty = docs.where(F.size(TX.tokens("text")) > 0).count()
    assert len(_reuse(spark, sf_dir)) == n_nonempty


def test_cdc_beats_fixed_stride(spark, sf_dir):
    """The pipeline claim: under the same single-token head edit, CDC
    chunking reuses strictly more chunk hashes than fixed-stride
    chunking of the same expected chunk size — the fixed stride shifts
    every post-edit window so its tail hashes never match."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = TX.tokens("text")
    n, p = F.size(toks), F.least(F.lit(5), F.size(toks))
    edited = F.concat_ws(
        " ", F.concat(F.slice(toks, 1, p), F.array(F.lit("zzedit")),
                      F.slice(toks, p + 1, F.greatest(n - p, F.lit(0)))))
    base = docs.where(n > 0).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text",
        edited.alias("etext"))
    base.cache()

    def reused_frac(chunker):
        v1 = chunker(base.select("doc_id", "text"))
        v2 = chunker(base.select(
            "doc_id", F.col("etext").alias("text")))
        h1 = (v1.select("doc_id", F.md5("chunk_text").alias("h"))
              .distinct().withColumn("hit", F.lit(1)))
        h2 = v2.select("doc_id", F.md5("chunk_text").alias("h"))
        tot = (h2.join(h1, ["doc_id", "h"], "left")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.coalesce("hit", F.lit(0))).alias("r"))
               .first())
        return tot.r / tot.n

    def fixed_stride(df, size=16, stride=16):
        t = TX.tokens("text")
        nn = F.size(t)
        n_chunks = F.ceil(nn / F.lit(stride)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
            lambda i: F.array_join(F.slice(t, i * stride + 1, size), " "))
        return (df.select("doc_id", F.posexplode(chunks)
                          .alias("chunk_id", "chunk_text")))

    cdc_frac = reused_frac(
        lambda df: CU.content_defined_chunks(df, "doc_id", "text",
                                             divisor=16))
    fixed_frac = reused_frac(fixed_stride)
    base.unpersist()
    assert cdc_frac > fixed_frac
    assert cdc_frac > 0.4
