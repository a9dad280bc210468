"""Semantic invariants for the mutation-style queries (merge / SCD2 /
CDC snapshot / incremental dedup).

Why these exist (SCALE.md "merge-upsert insert offset"): the round-5
offset bug proved the DuckDB oracle can AGREE on a semantically wrong
answer — both engines applied the same colliding offset and silently
overwrote 1.35M rows at sf1. Oracle agreement proves engine parity,
not intent; each mutation query therefore also pins the invariant its
semantics promise, computed from the data itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.queries.dedup import q_dedup_incremental
from casf_spark.queries.relational import q_cdc_snapshot
from casf_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# orders_merge_upsert
# ---------------------------------------------------------------------------

def test_merge_upsert_insert_keys_never_collide(spark, sf_dir):
    """The derived insert offset must clear every real key: zero
    synthetic insert keys may exist in the base table (the exact
    failure mode of the old fixed +10M offset at sf1)."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderkey")).first()[0]
    off = (mx // 10_000_000 + 1) * 10_000_000
    assert off > mx
    ins_keys = (o.where(F.col("o_orderkey") % 100 == 0)
                .select((F.col("o_orderkey") + F.lit(off))
                        .alias("o_orderkey")))
    collisions = ins_keys.join(o, "o_orderkey", "inner").count()
    assert collisions == 0


def test_merge_upsert_conservation_and_update_wins(spark, sf_dir):
    """Row conservation: merged size = base + inserts (updates replace
    in place). Update-wins: every key in the update set carries the
    bumped price; inserted keys carry the original price re-keyed."""
    from casf_spark.operators.cdc import merge_upsert
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("price"))
    mx = o.agg(F.max("o_orderkey")).first()[0]
    off = (mx // 10_000_000 + 1) * 10_000_000
    updates = (o.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("price", F.round(F.col("price") + 1.0, 2)))
    inserts = (o.where(F.col("o_orderkey") % 100 == 0)
               .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(off)))
    merged = merge_upsert(o, updates.unionByName(inserts), ["o_orderkey"])
    merged.cache()
    try:
        assert merged.count() == o.count() + inserts.count()
        assert merged.select("o_orderkey").distinct().count() == \
            merged.count()
        # update-wins on every updated key
        exp = updates.select("o_orderkey",
                             F.col("price").alias("exp_price"))
        bad = (merged.join(exp, "o_orderkey")
               .where(F.col("price") != F.col("exp_price")).count())
        assert bad == 0
        # inserts appear verbatim at their new keys
        expi = inserts.select("o_orderkey", F.col("price").alias("ep"))
        badi = (merged.join(expi, "o_orderkey")
                .where(F.col("price") != F.col("ep")).count())
        assert badi == 0
    finally:
        merged.unpersist()


# ---------------------------------------------------------------------------
# scd2_orders
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def scd2(spark, sf_dir):
    from casf_spark.operators.cdc import scd2_history
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round("o_totalprice", 2).alias("price"))
    h = scd2_history(o, ["o_custkey"], "o_orderdate",
                     tiebreak_cols=["o_orderkey"]).cache()
    yield h
    h.unpersist()


def test_scd2_exactly_one_current_per_key(spark, sf_dir, scd2):
    per_key = (scd2.groupBy("o_custkey")
               .agg(F.sum(F.col("is_current").cast("int")).alias("n_cur")))
    assert per_key.where(F.col("n_cur") != 1).count() == 0
    # current <=> open-ended validity
    assert scd2.where(F.col("is_current")
                      & F.col("valid_to").isNotNull()).count() == 0
    assert scd2.where(~F.col("is_current")
                      & F.col("valid_to").isNull()).count() == 0


def test_scd2_intervals_disjoint_and_contiguous(scd2):
    """Within a key, ordered by valid_from, each row's valid_to equals
    the next row's valid_from (half-open [from, to) ranges chain with
    no gap and no overlap)."""
    from pyspark.sql import Window
    w = (Window.partitionBy("o_custkey")
         .orderBy("valid_from", "o_orderkey"))
    nxt = scd2.withColumn("next_from", F.lead("valid_from").over(w))
    broken = nxt.where(
        F.col("next_from").isNotNull()
        & (F.col("valid_to") != F.col("next_from"))).count()
    assert broken == 0
    inverted = scd2.where(F.col("valid_to").isNotNull()
                          & (F.col("valid_to") < F.col("valid_from"))).count()
    assert inverted == 0


def test_scd2_row_conservation(spark, sf_dir, scd2):
    o = load_table(spark, sf_dir, "orders")
    assert scd2.count() == o.count()


# ---------------------------------------------------------------------------
# cdc_snapshot
# ---------------------------------------------------------------------------

def test_cdc_snapshot_newest_wins_and_deletes_filtered(spark, sf_dir):
    """The snapshot holds exactly the keys whose NEWEST change is an
    upsert, once each, carrying that newest row's payload — recomputed
    here with an independent window-ranked plan."""
    from pyspark.sql import Window
    snap = q_cdc_snapshot(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", F.lit("d"))
        .otherwise(F.lit("u")).alias("op"))
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey")))
    ref = (o.withColumn("rn", F.row_number().over(w))
           .where((F.col("rn") == 1) & (F.col("op") == "u"))
           .select("o_custkey", "o_orderkey",
                   F.round("o_totalprice", 2).alias("latest_price")))
    assert snap.select("o_custkey").distinct().count() == snap.count()
    assert snap.exceptAll(ref).count() == 0
    assert ref.exceptAll(snap).count() == 0


# ---------------------------------------------------------------------------
# dedup_incremental
# ---------------------------------------------------------------------------

def test_incremental_dedup_labels_partition_batch(spark, sf_dir):
    """Every batch doc gets exactly one label, and exact_dup docs really
    do share a fingerprint with history (re-derived independently)."""
    from casf_spark.functions.text import fingerprint
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == "src19")
    hist = docs.where(F.col("source") != "src19")
    out = q_dedup_incremental(spark, sf_dir).cache()
    try:
        assert out.count() == new.count()
        assert out.select("doc").distinct().count() == out.count()
        labels = {r[0] for r in out.select("status").distinct().collect()}
        assert labels <= {"exact_dup", "near_dup", "new"}
        hfp = hist.select(fingerprint("text").alias("fp")).distinct()
        nfp = new.select(F.col("doc_id").cast("long").alias("doc"),
                         fingerprint("text").alias("fp"))
        truly_exact = nfp.join(hfp, "fp", "left_semi").select("doc")
        flagged = out.where(F.col("status") == "exact_dup").select("doc")
        assert flagged.exceptAll(truly_exact).count() == 0
        assert truly_exact.exceptAll(flagged).count() == 0
    finally:
        out.unpersist()
