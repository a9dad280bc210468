"""End states of the micro-batch maintenance operators (Bloom,
Count-Min, near-dup and lifetime state), replayed over batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.functions.hashing import minhash_sql_exprs
from casf_spark.operators.dedup import MINHASH_SEED
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import BLOOM_K, BLOOM_M, _TOKS
from casf_spark.queries._registry import query


def _stream_near_dedup_oracle() -> str:
    """stream_near_dedup_state twin: replays the foreachBatch sink's rules
    over the deterministic batch split (batch = doc_id % 2, processed in
    order). Exact keep = min doc per (batch, fingerprint); MinHash band
    buckets over exact keepers; batch 0 drops only by the within-batch
    star rule; batch 1 additionally drops any doc sharing a bucket with
    the index built from batch-0 FINAL keepers. Docs with < 2 tokens have
    no shingles hence no buckets on either engine — only exact dedup can
    drop them, matching _band_buckets' inner-explode semantics."""
    hash_sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    exprs = minhash_sql_exprs(hash_sql, 12, MINHASH_SEED)
    mins = ",\n         ".join(
        f"MIN({e}) AS mh_{i}" for i, e in enumerate(exprs))
    bands = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 3 + r} AS VARCHAR)" for r in range(3))
        bands.append(
            f"SELECT doc, batch, {b} AS band, {cols} AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(bands)
    return f"""
WITH fp AS (
  SELECT CAST(doc_id AS BIGINT) doc, CAST(doc_id % 2 AS BIGINT) batch,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fp
  FROM documents),
keepx AS (SELECT batch, fp, MIN(doc) doc FROM fp GROUP BY batch, fp),
t AS (SELECT k.doc, k.batch, {_TOKS} a
      FROM keepx k JOIN documents d ON CAST(d.doc_id AS BIGINT) = k.doc),
toks AS (SELECT doc, batch, generate_subscripts(a, 1) pos, unnest(a) w
         FROM t),
sh AS (SELECT DISTINCT t1.doc, t1.batch, t1.w || ' ' || t2.w AS shingle
       FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sig AS (SELECT doc, batch,
         {mins}
        FROM sh GROUP BY doc, batch),
bands AS ({bands_sql}),
bmin AS (SELECT batch, band, bucket, MIN(doc) mn
         FROM bands GROUP BY 1, 2, 3),
intra AS (SELECT DISTINCT b.batch, b.doc
          FROM bands b JOIN bmin m
            ON m.batch = b.batch AND m.band = b.band AND m.bucket = b.bucket
          WHERE b.doc > m.mn),
keep0 AS (SELECT k.doc FROM keepx k
          WHERE k.batch = 0
            AND k.doc NOT IN (SELECT doc FROM intra WHERE batch = 0)),
idx0 AS (SELECT DISTINCT band, bucket FROM bands
         WHERE batch = 0 AND doc IN (SELECT doc FROM keep0)),
hist1 AS (SELECT DISTINCT b.doc FROM bands b
          JOIN idx0 i ON b.band = i.band AND b.bucket = i.bucket
          WHERE b.batch = 1),
keep1 AS (SELECT k.doc FROM keepx k
          WHERE k.batch = 1
            AND k.doc NOT IN (SELECT doc FROM hist1)
            AND k.doc NOT IN (SELECT doc FROM intra WHERE batch = 1))
SELECT k.doc, k.batch AS batch_id, k.fp
FROM keepx k
WHERE (k.batch = 0 AND k.doc IN (SELECT doc FROM keep0))
   OR (k.batch = 1 AND k.doc IN (SELECT doc FROM keep1))"""


def _stream_bloom_oracle() -> str:
    """stream_bloom_state twin: replay both micro-batches in SQL —
    batch-0 per-fingerprint argmin representatives, the identical Bloom
    bitmap over them, batch-1 argmin + bitmap probe. Positions derive
    from the fingerprint's own md5 prefix (the same bytes Spark's
    md5_long(normalize_text) reads)."""
    from casf_spark.functions.hashing import position_sql_exprs
    from casf_spark.operators.sketches import BLOOM_SEED

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    h = "CAST('0x' || substr(fp, 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, BLOOM_K, BLOOM_M, seed=BLOOM_SEED)
    hpos = "\nUNION ALL\n".join(f"SELECT {p} AS p FROM k0" for p in pos)
    bcols = ",\n         ".join(f"{p} AS p{i}" for i, p in enumerate(pos))
    joins = "\n".join(f"LEFT JOIN words w{i} ON w{i}.w = b.p{i} // 63"
                      for i in range(BLOOM_K))
    hits = " AND ".join(
        f"COALESCE(((w{i}.bits >> CAST(b.p{i} % 63 AS INT)) & 1) = 1, FALSE)"
        for i in range(BLOOM_K))
    return f"""
WITH b0 AS (SELECT CAST(doc_id AS BIGINT) doc, md5({norm}) fp
            FROM documents WHERE doc_id % 2 = 0),
b1 AS (SELECT CAST(doc_id AS BIGINT) doc, md5({norm}) fp
       FROM documents WHERE doc_id % 2 = 1),
k0 AS (SELECT fp, MIN(doc) doc FROM b0 GROUP BY fp),
hpos AS ({hpos}),
words AS (SELECT p // 63 AS w,
                 bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
          FROM hpos GROUP BY 1),
k1 AS (SELECT fp, MIN(doc) doc FROM b1 GROUP BY fp),
k1p AS (SELECT doc, fp,
          {bcols}
        FROM k1),
k1s AS (SELECT b.doc, b.fp
        FROM k1p b
{joins}
        WHERE NOT ({hits}))
SELECT doc, 0 AS batch_id, fp FROM k0
UNION ALL
SELECT doc, 1 AS batch_id, fp FROM k1s"""


def _cms_stream_oracle() -> str:
    """stream_cms_state twin: the single whole-corpus 4x256 build —
    equal to the Spark side's merged per-batch sketches by counter-sum
    commutativity (the mergeability property IS the contract)."""
    from casf_spark.functions.hashing import position_sql_exprs
    from casf_spark.operators.sketches import CMS_SEED

    h = "CAST('0x' || substr(md5(item), 1, 15) AS BIGINT)"
    pos = position_sql_exprs(h, 4, 256, seed=CMS_SEED)
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


@query("stream_bloom_state", oracle=_stream_bloom_oracle())
def q_stream_bloom_state(spark, sf):
    """End state of Bloom-gated micro-batch dedup (streaming.curation.
    bloom_dedup_replay_batches): documents split
    into two micro-batches by doc_id parity; batch 0 keeps per-
    fingerprint representatives and publishes its fixed-size Bloom
    words; batch 1 dedups within itself then probes batch 0's bitmap
    (k broadcast joins, map-only) and drops maybe-seen docs. The oracle
    rebuilds the identical bitmap and replays both batches in SQL —
    the operator's full cross-batch semantics, hash-checked."""
    from casf_spark.streaming.curation import bloom_dedup_replay_batches
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    return bloom_dedup_replay_batches([(0, b0), (1, b1)],
                                      m_bits=BLOOM_M, k=BLOOM_K)


@query("stream_cms_state", oracle=_cms_stream_oracle())
def q_stream_cms_state(spark, sf):
    """End state of micro-batch Count-Min maintenance (streaming.curation
    .cms_replay_batches): documents split into
    THREE micro-batches by doc_id % 3, each batch collapsing to its
    own 4x256 cell table, merged cell-wise and point-queried for the
    exact top-20 tokens. Because counter sums commute, the twin's
    merged sketch is bit-identical to one built over the whole corpus
    — the oracle replays the single build, so the contract IS the
    mergeability property: a wrong per-batch build or merge flips the
    hash. Overcount >= 0 pinned row-wise as in cms_term_counts."""
    from casf_spark.streaming.curation import cms_replay_batches
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    batches = [(b, docs.where(F.col("doc_id") % 3 == b))
               for b in range(3)]
    toks = docs.select(F.explode(TX.tokens("text")).alias("item"))
    top = (toks.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
           .orderBy(F.desc("exact_cnt"), F.asc("item")).limit(20))
    est = cms_replay_batches(batches, top, width=256, depth=4)
    return est.select(
        F.col("item").alias("token"),
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long")
        .alias("overcount"))


@query("stream_near_dedup_state", oracle=_stream_near_dedup_oracle())
def q_stream_near_dedup_state(spark, sf):
    """Micro-batch near-dedup END STATE (streaming.curation
    .near_dedup_replay_batches): documents arrive as two
    deterministic micro-batches (batch = doc_id % 2, replayed in order),
    each batch is exact-deduped within itself, dropped against the
    persistent MinHash band-bucket index built by PRIOR batches, star-
    contracted within the batch, and survivors' buckets extend the index.
    Output: every surviving (doc, batch_id, fp)."""
    from casf_spark.streaming.curation import near_dedup_replay_batches
    docs = load_table(spark, sf, "documents")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    return near_dedup_replay_batches([(0, b0), (1, b1)])


@query("stream_lifetime_state", oracle="""
SELECT CAST(user_id AS BIGINT) user_id,
       CAST(COUNT(*) AS BIGINT) n_events,
       ROUND(COALESCE(SUM(CASE WHEN NOT isnan(value) THEN value END), 0.0),
             6) total_value,
       ROUND(MAX(CASE WHEN NOT isnan(value) THEN value END), 6) max_value
FROM events GROUP BY 1""")
def q_stream_lifetime_state(spark, sf):
    """Stateful-streaming lifetime aggregate END STATE
    (streaming.stateful.user_lifetime_stats_batch): the per-user
    lifetime (count, non-NULL sum, non-NULL max) every key converges to
    once a stateful stream drains. One hash aggregation; the NULL/NaN
    contract is pinned in tests/test_stateful_lifetime.py."""
    from casf_spark.streaming.stateful import user_lifetime_stats_batch
    return user_lifetime_stats_batch(load_table(spark, sf, "events"))
