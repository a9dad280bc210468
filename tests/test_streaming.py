from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.sources import load_table
from casf_spark.streaming import events as EV


def test_sliding_each_event_in_two_windows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    sliding = EV.sliding_counts(ev, "1 hour", "30 minutes")
    total = sum(r.n_events for r in sliding.collect())
    assert total == 2 * n_events


def test_session_window_matches_island_construction(spark, sf_dir):
    """session_window and the lag/island sessionization agree on
    (user, n_sessions, n_events) — two independent constructions of the
    same gap semantics."""
    import __spark_entry__ as E
    sw = (E.q_events_session_window(spark, sf_dir)
          .groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n_sessions"),
               F.sum("n_events").alias("n_events")))
    island = E.q_events_sessions(spark, sf_dir)
    got = {r.user_id: (r.n_sessions, r.n_events) for r in sw.collect()}
    want = {r.user_id: (r.n_sessions, r.n_events) for r in island.collect()}
    assert got == want


def test_near_dedup_replay_drops_exact_and_near_copies(spark):
    """Two batches: batch-2 exact copies AND near copies (one token
    changed) of batch-1 docs are both dropped by the band-bucket index;
    novel docs survive."""
    from casf_spark.streaming.curation import near_dedup_replay_batches

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "spark structured streaming processes micro batches of rows",
        "duplicate detection with minhash signatures and band buckets",
    ]
    b1 = spark.createDataFrame(list(enumerate(base)),
                               "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(100, base[0]),                                    # exact copy
         (101, base[1].replace("rows", "records")),         # near copy
         (102, "a completely different sentence about gardening tools")],
        "doc_id long, text string")
    kept = sorted((r.doc, r.batch_id) for r in
                  near_dedup_replay_batches([(0, b1), (1, b2)]).collect())
    assert kept == [(0, 0), (1, 0), (2, 0), (102, 1)], kept


def test_bloom_dedup_replay_drops_cross_batch_duplicates(spark):
    """Bloom-gated dedup: cross-batch content duplicates are dropped
    through the fixed-size word index (no false negatives), and at
    m=64Ki bits for 40 docs per batch no novel text is lost."""
    from casf_spark.streaming.curation import bloom_dedup_replay_batches

    b1 = spark.createDataFrame(
        [(i, f"bloom text number {i}") for i in range(40)],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(1000 + i, f"bloom text number {i}") for i in range(20, 60)],
        "doc_id long, text string")
    # 60 distinct texts: batch 0 keeps its 40, batch 1 only the 20 new,
    # in whatever order the list holds the batches
    for batches in ([(0, b1), (1, b2)], [(1, b2), (0, b1)]):
        kept = {r.doc: r.batch_id for r in bloom_dedup_replay_batches(
            batches, m_bits=1 << 16, k=4).collect()}
        assert kept == {**{i: 0 for i in range(40)},
                        **{1000 + i: 1 for i in range(40, 60)}}


def test_cms_replay_merge_equals_single_build(spark):
    """Count-Min over two batches: per-batch sketches merged by cell-wise
    sum answer point queries exactly like one whole-corpus build
    (mergeability), and every estimate is >= the true count."""
    from casf_spark.functions.text import tokens
    from casf_spark.operators.sketches import cms_build, cms_estimate
    from casf_spark.streaming.curation import cms_replay_batches

    b1 = spark.createDataFrame(
        [(i, f"alpha beta w{i % 9} gamma") for i in range(30)],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(100 + i, f"alpha delta w{i % 5}") for i in range(25)],
        "doc_id long, text string")
    whole = b1.unionByName(b2)
    toks = whole.select(F.explode(tokens("text")).alias("item"))
    truth = toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    merged = {(r.item, r.cms_est) for r in cms_replay_batches(
        [(0, b1), (1, b2)], truth, width=64, depth=4).collect()}
    single = {(r.item, r.cms_est) for r in cms_estimate(
        truth, "item", cms_build(toks, "item", width=64, depth=4),
        width=64, depth=4).collect()}
    assert merged == single
    est = dict(merged)
    for r in truth.collect():
        assert est[r.item] >= r.exact_cnt
