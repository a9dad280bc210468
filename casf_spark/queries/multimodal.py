"""Multimodal plumbing: binary payload metadata, decode paths,
perceptual near-dup fingerprints and cross-modal integrity."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.multimodal import binary as MM
from casf_spark.sources.tables import load_table
from casf_spark.queries._registry import query


@query("multimodal_meta", oracle="""
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) n_bytes,
       lower(hex(encode(substr(text, 1, 4)))) header_hex,
       'application/octet-stream' mime
FROM documents""")
def q_multimodal_meta(spark, sf):
    docs = load_table(spark, sf, "documents")
    return MM.payload_metadata(MM.with_payload(docs, "doc_id", "text"))


# multimodal_features contract: DuckDB recomputes the UTF-8 byte
# length independently (cross-engine differential on the payload
# plumbing); the Python-only features are asserted via invariants.
@query("multimodal_features", oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       octet_length(encode(text)) AS n_bytes,
       TRUE AS first_byte_ok, TRUE AS byte_sum_ok
FROM documents""")
def q_multimodal_features(spark, sf):
    """Binary-payload feature extraction (Arrow mapInPandas), contract
    form: the Python-side byte walk emits n_bytes, which the DuckDB twin
    recomputes independently as octet_length(encode(text)) — a real
    cross-engine differential on the payload plumbing (UTF-8 encode,
    bytes across the Arrow boundary, per-row decode) — plus statable
    invariants on the remaining features (first_byte defined iff the
    payload is non-empty and in [0, 255]; byte_sum_mod in [0, 997))."""
    docs = load_table(spark, sf, "documents")
    feats = MM.extract_features(MM.with_payload(docs, "doc_id", "text"))
    return feats.select(
        "doc_id", "n_bytes",
        (F.when(F.col("n_bytes") == 0, F.col("first_byte").isNull())
         .otherwise(F.col("first_byte").between(0, 255)))
        .alias("first_byte_ok"),
        F.col("byte_sum_mod").between(0, 996).alias("byte_sum_ok"))


@query("multimodal_rgb", oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, 8 AS width, 8 AS height,
       TRUE AS means_in_range, TRUE AS brightness_consistent
FROM documents""")
def q_multimodal_rgb(spark, sf):
    """REAL image decode path (raw rgb24, numpy — no external decoder):
    synthesized rasters -> per-channel means + Rec.601 brightness via
    Arrow-batched mapInPandas. Oracle-checkable contract form: byte-level
    raster math has no SQL twin, but the per-image invariants do — one
    output row per document (the oracle enumerates doc_ids, catching any
    decode drop), declared raster dims, channel means in [0, 255], and
    brightness consistent with the Rec.601 combination of the decoded
    means (a real differential between two decode outputs). Exact pixel
    math stays pinned in test_multimodal."""
    docs = load_table(spark, sf, "documents")
    imgs = MM.synthesize_rgb_payload(docs, "doc_id", width=8, height=8)
    feats = MM.decode_rgb_features(imgs, 8, 8)
    rec601 = (F.lit(0.299) * F.col("mean_r") + F.lit(0.587) * F.col("mean_g")
              + F.lit(0.114) * F.col("mean_b"))
    in_range = (
        (F.col("mean_r") >= 0) & (F.col("mean_r") <= 255)
        & (F.col("mean_g") >= 0) & (F.col("mean_g") <= 255)
        & (F.col("mean_b") >= 0) & (F.col("mean_b") <= 255))
    return feats.select(
        "doc_id", "width", "height",
        in_range.alias("means_in_range"),
        (F.abs(F.col("brightness") - rec601) < F.lit(1e-6))
        .alias("brightness_consistent"))


@query("crossmodal_integrity", oracle="""
WITH pairs AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         CASE WHEN doc_id % 97 = 0
              THEN 'SHARED PAYLOAD ' || CAST(doc_id % 3 AS VARCHAR)
              ELSE COALESCE(text, '') END payload_src,
         CASE WHEN doc_id % 89 = 0
              THEN 'shared caption ' || CAST(doc_id % 2 AS VARCHAR)
              ELSE COALESCE(text, '') END caption
  FROM documents),
b AS (SELECT doc_id,
             COALESCE(md5(payload_src), '') payload_fp,
             COALESCE(md5(trim(regexp_replace(lower(caption),
                                              '\\s+', ' ', 'g'))), '')
               caption_fp
      FROM pairs),
ps AS (SELECT payload_fp, CAST(COUNT(*) AS BIGINT) n_payload_copies,
              CAST(COUNT(DISTINCT caption_fp) AS BIGINT)
                n_captions_for_payload
       FROM b GROUP BY 1),
cs AS (SELECT caption_fp,
              CAST(COUNT(DISTINCT payload_fp) AS BIGINT)
                n_payloads_for_caption
       FROM b GROUP BY 1)
SELECT b.doc_id, b.payload_fp, b.caption_fp, ps.n_payload_copies,
       ps.n_captions_for_payload, cs.n_payloads_for_caption,
       ps.n_captions_for_payload >= 2 AS payload_conflict,
       cs.n_payloads_for_caption >= 2 AS caption_conflict
FROM b JOIN ps USING (payload_fp) JOIN cs USING (caption_fp)""")
def q_crossmodal_integrity(spark, sf):
    """Cross-modal pair integrity audit (multimodal.binary
    .pair_integrity): joint payload/caption fingerprints flag payloads
    shared under conflicting captions and captions labeling distinct
    payloads — the pairing-damage sweep a text↔image corpus needs
    beyond per-file decode. The paired dataset is synthesized in-query
    from documents (payload = UTF-8 bytes of the text) with PLANTED
    damage mirrored literally in the twin: every 97th doc_id collapses
    onto one of 3 shared payloads (payload conflicts), every 89th onto
    one of 2 shared captions (caption conflicts). Fingerprint-grain
    aggregations only — payload bytes never shuffle."""
    docs = load_table(spark, sf, "documents")
    pid = F.col("doc_id")
    pairs = docs.select(
        pid.cast("long").alias("doc_id"),
        F.encode(
            F.when(pid % 97 == 0,
                   F.concat(F.lit("SHARED PAYLOAD "),
                            (pid % 3).cast("string")))
            .otherwise(F.coalesce("text", F.lit(""))), "UTF-8")
        .alias("payload"),
        F.when(pid % 89 == 0,
               F.concat(F.lit("shared caption "),
                        (pid % 2).cast("string")))
        .otherwise(F.coalesce("text", F.lit(""))).alias("caption"))
    return MM.pair_integrity(pairs)


# perceptual image near-dup: the twin predicts the dHash
# bucketing from the PLANT arithmetic (same base raster per
# doc_id % 400, brightness shifts that dHash provably ignores) —
# pixel math never needs a SQL twin, yet the gate is exact
@query("multimodal_image_neardup", oracle="""
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY doc_id % 400) AS BIGINT)
         canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY doc_id % 400) AS BIGINT) n_dupes,
       (COUNT(*) OVER (PARTITION BY doc_id % 400) > 1) is_dup
FROM documents ORDER BY doc_id""")
def q_multimodal_image_neardup(spark, sf):
    """Perceptual image near-dup via dHash (multimodal.binary
    .dhash_rgb24) — the image-side counterpart of MinHash text dedup:
    synthesize planted-group RGB24 rasters (same base image per
    ``doc_id % 400`` class, per-doc uniform brightness shifts ≤ 32 —
    the transform byte-exact hashing CANNOT catch), run the REAL
    decode → nearest-resize (18x16 → 9x8) → integer-luma dHash chain,
    bucket by digest. The DuckDB twin predicts the EXACT output from
    the id arithmetic — a full end-to-end gate on the Python
    decode/resize/hash path (any determinism break, digest collision,
    or dropped row hash-mismatches). ONE map-only Arrow pass + ONE
    digest-keyed exchange (the bucket stats are a window over the
    digest partitioning, not a groupBy + join-back — that shape would
    re-run the Python decode a second time and shuffle twice); payload
    bytes never shuffle past the 16-char hash."""
    docs = load_table(spark, sf, "documents")
    imgs = MM.synthesize_rgb_payload_grouped(docs, "doc_id",
                                             group_mod=400,
                                             width=18, height=16)
    small = MM.resize_rgb_nearest(imgs, 18, 16, 9, 8) \
        .withColumnRenamed("resized", "payload")
    hashed = MM.dhash_rgb24(small, 9, 8)
    w = Window.partitionBy("dhash")
    return (hashed
            .select("doc_id",
                    F.min("doc_id").over(w).alias("canonical_id"),
                    F.count(F.lit(1)).over(w).cast("long")
                    .alias("n_dupes"))
            .select("doc_id", "canonical_id", "n_dupes",
                    (F.col("n_dupes") > 1).alias("is_dup"))
            .orderBy("doc_id"))


# audio twin: identical plant arithmetic (the fingerprint's
# gain-invariance is exact, so the grouping is fully predicted)
@query("multimodal_audio_neardup", oracle="""
SELECT CAST(doc_id AS BIGINT) doc_id,
       CAST(MIN(doc_id) OVER (PARTITION BY doc_id % 400) AS BIGINT)
         canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY doc_id % 400) AS BIGINT) n_dupes,
       (COUNT(*) OVER (PARTITION BY doc_id % 400) > 1) is_dup
FROM documents ORDER BY doc_id""")
def q_multimodal_audio_neardup(spark, sf):
    """Perceptual audio near-dup via an energy-profile fingerprint
    (multimodal.binary.pcm_energy_fingerprint) — the audio counterpart
    of the dHash image query: synthesize planted-group s16le signals
    (same base per ``doc_id % 400`` class, per-doc INTEGER gains ≤ 4 —
    the re-master transform byte hashing cannot catch), fingerprint the
    64-frame integer energy contour, bucket by digest. Gain-invariance
    is exact (energies scale by gain²), so the DuckDB twin predicts the
    output from id arithmetic alone — the same
    exact-oracle-without-DSP-twin trick as multimodal_image_neardup.
    ONE map-only Arrow pass + ONE digest-keyed exchange (window over
    the digest partitioning — same single-pass shape as the image
    query)."""
    docs = load_table(spark, sf, "documents")
    pcm = MM.synthesize_pcm_payload_grouped(docs, "doc_id",
                                            group_mod=400,
                                            n_samples=1600)
    fp = MM.pcm_energy_fingerprint(pcm, n_frames=64)
    w = Window.partitionBy("afp")
    return (fp
            .select("doc_id",
                    F.min("doc_id").over(w).alias("canonical_id"),
                    F.count(F.lit(1)).over(w).cast("long")
                    .alias("n_dupes"))
            .select("doc_id", "canonical_id", "n_dupes",
                    (F.col("n_dupes") > 1).alias("is_dup"))
            .orderBy("doc_id"))


@query("multimodal_pcm", oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, 1600 AS n_samples,
       0.1 AS duration_sec, TRUE AS amplitude_ok, TRUE AS zcr_in_unit
FROM documents""")
def q_multimodal_pcm(spark, sf):
    """REAL audio decode path (raw s16le PCM, numpy — no external
    decoder): synthesized waveforms -> duration / RMS / peak /
    zero-crossing rate via Arrow-batched mapInPandas. Oracle-checkable
    contract form: sample-level DSP has no SQL twin, but the per-payload
    invariants do — one row per document (oracle enumerates doc_ids; a
    dropped or double-decoded payload flips the hash), the exact sample
    count and duration (1600 samples @ 16 kHz = 0.1 s, statable in SQL),
    and the DSP identities 0 < rms <= peak < 1 and zcr in [0, 1] (the
    0.5-amplitude sine + noise fixture guarantees a nonzero signal).
    Exact waveform math stays pinned in test_multimodal."""
    docs = load_table(spark, sf, "documents")
    pcm = MM.synthesize_pcm_payload(docs, "doc_id", n_samples=1600)
    feats = MM.decode_pcm_features(pcm)
    return feats.select(
        "doc_id", "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        ((F.col("rms") > 0) & (F.col("rms") <= F.col("peak"))
         & (F.col("peak") < 1)).alias("amplitude_ok"),
        ((F.col("zero_crossing_rate") >= 0)
         & (F.col("zero_crossing_rate") <= 1)).alias("zcr_in_unit"))
