"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: the payload travels as a
``binary`` column (parquet BYTE_ARRAY — column-pruned away unless selected);
metadata (mime, width, duration, ...) as ordinary typed columns; decode /
feature-extraction runs as **Arrow-batched Pandas iterators** via
``mapInPandas`` so bytes cross the JVM<->Python boundary once per batch,
never per row.

Raw RGB24 rasters and s16le PCM decode for real, with numpy only
(``decode_rgb_features``, ``decode_pcm_features``); compressed formats have
no decoder here. ``extract_features`` computes stub features of any payload
(byte length, first byte, byte sum mod 997), so the Spark-side plumbing —
schema, batching, partition shape — is real and testable end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("first_byte", T.IntegerType(), True),
    T.StructField("byte_sum_mod", T.LongType(), False),
])


def with_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Synthesize a binary payload column from text (the test corpus has no
    real media); real pipelines read payloads via
    ``spark.read.format('binaryFile')`` or parquet binary columns."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic stub features of each payload via mapInPandas (Arrow
    batches): byte length, first byte (NULL when empty) and byte sum mod
    997. No media is decoded."""

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            # a NULL payload maps to the empty-bytes features instead of
            # len(None) TypeError'ing the whole batch (one NULL row used
            # to kill a full corpus feature pass)
            payloads = pdf["payload"].map(lambda b: b if b is not None
                                          else b"")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "first_byte": payloads.map(
                    lambda b: int(b[0]) if len(b) else None),
                "byte_sum_mod": payloads.map(
                    lambda b: sum(b) % 997).astype("int64"),
            })

    return df.select("doc_id", "payload").mapInPandas(batches, FEATURE_SCHEMA)


RGB_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("mean_r", T.DoubleType(), False),
    T.StructField("mean_g", T.DoubleType(), False),
    T.StructField("mean_b", T.DoubleType(), False),
    T.StructField("brightness", T.DoubleType(), False),
])


def synthesize_rgb_payload(df: DataFrame, id_col: str,
                           width: int = 8, height: int = 8) -> DataFrame:
    """Deterministic raw-RGB24 payloads (test fixture): each doc gets a
    ``width*height*3``-byte raster seeded from its id. Real pipelines read
    these bytes from ``binaryFile``/parquet instead."""
    w, h = int(width), int(height)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in it:
            payloads = []
            for doc_id in pdf["_id"]:
                rng = np.random.default_rng(int(doc_id))
                payloads.append(rng.integers(
                    0, 256, size=w * h * 3, dtype=np.uint8).tobytes())
            yield pd.DataFrame({"doc_id": pdf["_id"].astype("int64"),
                                "payload": payloads})

    return (df.select(F.col(id_col).cast("long").alias("_id"))
            .mapInPandas(batches, "doc_id long, payload binary")
            .withColumn("mime", F.lit("image/x-raw-rgb24"))
            .withColumn("width", F.lit(w))
            .withColumn("height", F.lit(h)))


def decode_rgb_features(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL decode of raw interleaved RGB24 rasters (ffmpeg's
    ``rawvideo rgb24`` layout — no external decoder needed): numpy
    ``frombuffer(...).reshape(h, w, 3)`` per payload inside an Arrow
    batch, then per-channel means and Rec.601 luma brightness. This is a
    working decode path, not a stub; compressed formats (JPEG/PNG) slot
    into the same iterator with PIL when available."""
    w, h = int(width), int(height)
    need = w * h * 3

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "mean_r", "mean_g", "mean_b",
                                    "brightness")}
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                if len(b) != need:
                    raise ValueError(
                        f"payload of doc {doc_id} is {len(b)} bytes; "
                        f"rgb24 {w}x{h} needs {need}")
                img = np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3)
                means = img.reshape(-1, 3).mean(axis=0)
                rows["doc_id"].append(int(doc_id))
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1]))
                rows["mean_b"].append(float(means[2]))
                rows["brightness"].append(float(
                    0.299 * means[0] + 0.587 * means[1] + 0.114 * means[2]))
            out = pd.DataFrame(rows)
            out["width"], out["height"] = w, h
            yield out[["doc_id", "width", "height", "mean_r", "mean_g",
                       "mean_b", "brightness"]]

    return df.select("doc_id", "payload").mapInPandas(
        batches, RGB_FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("resized", T.BinaryType(), False),
])


def resize_rgb_nearest(df: DataFrame, width: int, height: int,
                       out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize of raw RGB24 rasters via numpy index
    mapping (no PIL): output is again raw rgb24 bytes at (out_w, out_h),
    one row per input row."""
    w, h, ow, oh = int(width), int(height), int(out_w), int(out_h)
    need = w * h * 3

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        ys = (np.arange(oh) * h) // oh
        xs = (np.arange(ow) * w) // ow
        for pdf in it:
            out = []
            for b in pdf["payload"]:
                if len(b) != need:
                    raise ValueError(f"expected {need} bytes, got {len(b)}")
                img = np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3)
                out.append(img[ys][:, xs].tobytes())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": ow, "height": oh, "resized": out})

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZED_SCHEMA)


def synthesize_rgb_payload_grouped(df: DataFrame, id_col: str,
                                   group_mod: int = 400,
                                   width: int = 18,
                                   height: int = 16) -> DataFrame:
    """Deterministic raw-RGB24 payloads with PLANTED near-dup groups
    (test fixture for perceptual dedup): every doc in the same
    ``doc_id % group_mod`` class gets the SAME group-seeded base raster
    (pixels in [0, 200)) plus a per-doc uniform brightness shift
    ``(doc_id // group_mod) % 5 * 8`` (≤ 32 — never
    clips, so gradients are preserved EXACTLY). A gradient-based
    perceptual hash must therefore bucket exactly by the id arithmetic —
    which is what lets a SQL oracle predict the dedup output without
    replicating pixel math."""
    w, h = int(width), int(height)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        bases: dict = {}
        for pdf in it:
            payloads = []
            for doc_id in pdf["_id"]:
                g = int(doc_id) % group_mod
                base = bases.get(g)
                if base is None:
                    rng = np.random.default_rng(g)
                    base = rng.integers(0, 200, size=w * h * 3,
                                        dtype=np.uint8)
                    bases[g] = base
                d = (int(doc_id) // group_mod) % 5 * 8
                payloads.append((base + np.uint8(d)).tobytes())
            yield pd.DataFrame({"doc_id": pdf["_id"].astype("int64"),
                                "payload": payloads})

    return (df.select(F.col(id_col).cast("long").alias("_id"))
            .mapInPandas(batches, "doc_id long, payload binary")
            .withColumn("mime", F.lit("image/x-raw-rgb24"))
            .withColumn("width", F.lit(w))
            .withColumn("height", F.lit(h)))


DHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("dhash", T.StringType(), False),
])


def dhash_rgb24(df: DataFrame, width: int, height: int,
                payload_col: str = "payload") -> DataFrame:
    """Difference hash (dHash) over raw RGB24 rasters -> (doc_id, dhash
    hex string) — the classic perceptual image fingerprint: luma
    gradients survive re-encode and uniform brightness/contrast shifts
    that break byte-exact hashing. Feed it the ``width+1 x height``
    output of :func:`resize_rgb_nearest` for the standard 8x8=64-bit
    hash (9x8 input).

    Determinism discipline: luma is INTEGER fixed-point
    ``299*r + 587*g + 114*b`` (no float rounding anywhere), so a uniform
    +d shift on all channels moves every luma by exactly 1000*d and no
    horizontal comparison can ever flip — the invariance the planted
    fixture (and real brightness-shifted near-dups) rely on. Bit =
    ``luma[x] > luma[x+1]``, packed row-major to a fixed-length hex
    digest (string — no int64 sign games).

    Scale shape: one Arrow-batched map-only pass; the output is
    id + 16-char digest, groupable/joinable like any fingerprint
    (same downstream contract as functions.hashing md5 fingerprints).
    """
    w, h = int(width), int(height)
    need = w * h * 3

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in it:
            ids, hashes = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf[payload_col]):
                if len(b) != need:
                    raise ValueError(
                        f"payload of doc {doc_id} is {len(b)} bytes; "
                        f"rgb24 {w}x{h} needs {need}")
                img = np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3)
                px = img.astype(np.int64)
                luma = 299 * px[:, :, 0] + 587 * px[:, :, 1] \
                    + 114 * px[:, :, 2]
                bits = (luma[:, :-1] > luma[:, 1:]).flatten()
                digest = np.packbits(bits).tobytes().hex()
                ids.append(int(doc_id))
                hashes.append(digest)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return df.select("doc_id", F.col(payload_col).alias(payload_col)) \
        .mapInPandas(batches, DHASH_SCHEMA)


def payload_metadata(df: DataFrame) -> DataFrame:
    """Pure-JVM metadata projection over binary payloads (no Python):
    byte length + hex header. This is the path that must stay cheap at
    100 TB — it never deserializes the payload into Python."""
    return df.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring("payload", 1, 4))).alias("header_hex"),
        "mime",
    )


#: sample rate of the synthesized PCM payloads, in Hz
PCM_SAMPLE_RATE = 16000

PCM_FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_samples", T.LongType(), False),
    T.StructField("duration_sec", T.DoubleType(), False),
    T.StructField("rms", T.DoubleType(), False),
    T.StructField("peak", T.DoubleType(), False),
    T.StructField("zero_crossing_rate", T.DoubleType(), False),
])


def synthesize_pcm_payload(df: DataFrame, id_col: str,
                           n_samples: int = 1600) -> DataFrame:
    """Deterministic 16-bit mono PCM payloads (test fixture): a doc-seeded
    sine + noise mix at :data:`PCM_SAMPLE_RATE`, little-endian int16 — the
    ffmpeg ``s16le`` layout.
    Real pipelines read these bytes from ``binaryFile``/parquet."""
    n = int(n_samples)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        t = np.arange(n) / float(PCM_SAMPLE_RATE)
        for pdf in it:
            payloads = []
            for doc_id in pdf["_id"]:
                rng = np.random.default_rng(int(doc_id))
                freq = 100.0 + float(doc_id % 880)
                wave = (0.5 * np.sin(2 * np.pi * freq * t)
                        + 0.1 * rng.standard_normal(n))
                payloads.append(
                    np.clip(wave * 32767, -32768, 32767)
                    .astype("<i2").tobytes())
            yield pd.DataFrame({"doc_id": pdf["_id"].astype("int64"),
                                "payload": payloads})

    return (df.select(F.col(id_col).cast("long").alias("_id"))
            .mapInPandas(batches, "doc_id long, payload binary")
            .withColumn("mime", F.lit("audio/x-raw-s16le"))
            .withColumn("sample_rate", F.lit(PCM_SAMPLE_RATE)))


def synthesize_pcm_payload_grouped(df: DataFrame, id_col: str,
                                   group_mod: int = 400,
                                   n_samples: int = 1600) -> DataFrame:
    """Deterministic s16le PCM payloads with PLANTED near-dup groups
    (test fixture for perceptual audio dedup): every doc in the same
    ``doc_id % group_mod`` class gets the SAME group-seeded base signal
    (int16 samples in [-8000, 8000)) times a per-doc INTEGER gain
    ``(doc_id // group_mod) % 4 + 1`` (≤ 4 — |sample| stays under
    32000, so the scaling is exact int16, no clip, no rounding). An
    energy-comparison fingerprint is provably gain-invariant on these
    (energies scale by exactly gain²), so it must bucket exactly by the
    id arithmetic — the property that lets a SQL oracle predict the
    dedup output without replicating DSP."""
    n = int(n_samples)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        bases: dict = {}
        for pdf in it:
            payloads = []
            for doc_id in pdf["_id"]:
                g = int(doc_id) % group_mod
                base = bases.get(g)
                if base is None:
                    rng = np.random.default_rng(g)
                    base = rng.integers(-8000, 8000, size=n,
                                        dtype=np.int16)
                    bases[g] = base
                gain = (int(doc_id) // group_mod) % 4 + 1
                payloads.append(
                    (base * np.int16(gain)).astype("<i2").tobytes())
            yield pd.DataFrame({"doc_id": pdf["_id"].astype("int64"),
                                "payload": payloads})

    return (df.select(F.col(id_col).cast("long").alias("_id"))
            .mapInPandas(batches, "doc_id long, payload binary")
            .withColumn("mime", F.lit("audio/x-raw-s16le"))
            .withColumn("sample_rate", F.lit(PCM_SAMPLE_RATE)))


def pcm_energy_fingerprint(df: DataFrame, n_frames: int = 64,
                           payload_col: str = "payload") -> DataFrame:
    """Perceptual audio fingerprint over raw s16le PCM -> (doc_id,
    afp hex string) — a chromaprint-style ENERGY-PROFILE hash: frame
    the signal into ``n_frames`` equal windows, compute each frame's
    integer energy (sum of sample², int64 — exact), and emit one bit
    per adjacent-frame comparison ``E[i] > E[i+1]`` (n_frames-1 bits,
    zero-padded to the byte boundary by packbits). The temporal loudness
    CONTOUR survives the transforms that break byte hashing — uniform
    gain scales every energy by exactly gain², so no comparison flips
    (same integer-exactness discipline as dhash_rgb24's fixed-point
    luma). Framing truncates: the trailing ``len(s) % n_frames``
    samples are dropped (frame width = len // n_frames), so two signals
    that differ ONLY in that sub-frame tail fingerprint identically —
    the contour hash is deliberately insensitive below one frame of
    resolution. Payloads shorter than ``n_frames`` samples raise.

    Scale shape: one Arrow-batched map-only pass, id + hex digest out —
    payload bytes never shuffle past the fingerprint.
    """
    nf = int(n_frames)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in it:
            ids, fps = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf[payload_col]):
                s = np.frombuffer(b, dtype="<i2").astype(np.int64)
                if len(s) < nf:
                    raise ValueError(
                        f"payload of doc {doc_id} has {len(s)} samples; "
                        f"need at least n_frames={nf}")
                w = len(s) // nf
                e = (s[:w * nf].reshape(nf, w) ** 2).sum(axis=1)
                bits = e[:-1] > e[1:]
                ids.append(int(doc_id))
                fps.append(np.packbits(bits).tobytes().hex())
            yield pd.DataFrame({"doc_id": ids, "afp": fps})

    return df.select("doc_id", F.col(payload_col).alias(payload_col)) \
        .mapInPandas(batches, T.StructType([
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("afp", T.StringType(), False)]))


def decode_pcm_features(df: DataFrame,
                        sample_rate: int = PCM_SAMPLE_RATE) -> DataFrame:
    """REAL decode of raw s16le PCM audio (numpy frombuffer — no external
    decoder): duration, RMS / peak amplitude (normalized to [-1, 1]) and
    zero-crossing rate per payload, Arrow-batched. Compressed codecs
    (mp3/ogg) slot into the same iterator with ffmpeg when available."""
    sr = int(sample_rate)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "n_samples", "duration_sec",
                                    "rms", "peak", "zero_crossing_rate")}
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                if len(b) % 2:
                    raise ValueError(
                        f"doc {doc_id}: s16le payload has odd byte length")
                x = np.frombuffer(b, dtype="<i2").astype(np.float64) / 32768.0
                n = len(x)
                rows["doc_id"].append(int(doc_id))
                rows["n_samples"].append(n)
                rows["duration_sec"].append(n / sr)
                rows["rms"].append(float(np.sqrt(np.mean(x * x))) if n else 0.0)
                rows["peak"].append(float(np.max(np.abs(x))) if n else 0.0)
                zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) \
                    if n > 1 else 0.0
                rows["zero_crossing_rate"].append(zc)
            yield pd.DataFrame(rows)[list(PCM_FEATURE_SCHEMA.names)]

    return df.select("doc_id", "payload").mapInPandas(
        batches, PCM_FEATURE_SCHEMA)


def pair_integrity(df: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "payload",
                   caption_col: str = "caption") -> DataFrame:
    """Cross-modal pair integrity audit over a (payload, caption) paired
    dataset — the text↔image curation pass that per-file decoding can't
    do: joint fingerprints expose BOTH directions of pairing damage.

    Per pair row: ``payload_fp`` (md5 of the raw payload bytes),
    ``caption_fp`` (md5 of the whitespace/case-normalized caption), the
    copy counts at each fingerprint grain, and two flags —
    ``payload_conflict`` (this payload appears under >= 2 DISTINCT
    captions: duplicated media with divergent labels, the classic
    LAION-style pairing error) and ``caption_conflict`` (this caption
    labels >= 2 distinct payloads: boilerplate/stock captions). A pair
    with high copies but NO conflict is an exact dup (safe to collapse);
    a conflict needs adjudication, not blind dedup.

    NULL contract: a NULL payload or caption fingerprints to ``''`` (so
    NULL-damaged pairs group together and survive the joins) — mirrored
    in the oracle twin.

    Scale shape: two fingerprint-grain aggregations (map-side combined;
    the shuffle key is the fingerprint, never payload bytes — payloads
    stay columnar at rest) joined back on the fingerprint; AQE handles
    the skewed '' / boilerplate groups. No payload ever crosses the wire
    after the map-side md5.
    """
    from casf_spark.functions.text import normalize_text

    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.md5(F.col(payload_col)), F.lit(""))
        .alias("payload_fp"),
        F.coalesce(F.md5(normalize_text(caption_col)), F.lit(""))
        .alias("caption_fp"))
    pstats = base.groupBy("payload_fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_payload_copies"),
        F.countDistinct("caption_fp").cast("long")
        .alias("n_captions_for_payload"))
    cstats = base.groupBy("caption_fp").agg(
        F.countDistinct("payload_fp").cast("long")
        .alias("n_payloads_for_caption"))
    return (base.join(pstats, "payload_fp").join(cstats, "caption_fp")
            .select("doc_id", "payload_fp", "caption_fp",
                    "n_payload_copies", "n_captions_for_payload",
                    "n_payloads_for_caption",
                    (F.col("n_captions_for_payload") >= 2)
                    .alias("payload_conflict"),
                    (F.col("n_payloads_for_caption") >= 2)
                    .alias("caption_conflict")))
