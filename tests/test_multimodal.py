from __future__ import annotations

import pytest

from casf_spark.multimodal import binary as MM


@pytest.fixture(scope="module")
def payloads(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "world!!"), (3, "")],
        "doc_id long, text string")
    return MM.with_payload(df, "doc_id", "text")


def test_payload_metadata_jvm_only(spark, payloads):
    meta = {r.doc_id: r for r in MM.payload_metadata(payloads).collect()}
    assert meta[1].n_bytes == 5
    assert meta[1].header_hex == "68656c6c"  # 'hell'
    assert meta[3].n_bytes == 0
    assert meta[2].mime == "application/octet-stream"


def test_extract_features_deterministic(spark, payloads):
    a = {r.doc_id: tuple(r) for r in MM.extract_features(payloads).collect()}
    b = {r.doc_id: tuple(r) for r in MM.extract_features(payloads).collect()}
    assert a == b
    assert a[1][1] == 5                       # n_bytes
    assert a[1][2] == ord("h")                # first_byte
    assert a[1][3] == sum(b"hello") % 997     # byte_sum_mod
    assert a[3][2] is None                    # empty payload -> null first byte


def test_real_decoder_gate(spark, payloads):
    with pytest.raises(NotImplementedError):
        MM.extract_features(payloads, real_decoder=True)


def test_rgb_decode_hand_computed(spark):
    """A real 2x1 rgb24 raster with known pixels decodes to exact channel
    means — this is a working decoder, not the stub path."""
    from casf_spark.multimodal import binary as MM
    # pixels: (255,0,0) and (0,0,255) -> means (127.5, 0, 127.5)
    payload = bytes([255, 0, 0, 0, 0, 255])
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    got = MM.decode_rgb_features(df, width=2, height=1).collect()[0]
    assert got["mean_r"] == 127.5 and got["mean_g"] == 0.0
    assert got["mean_b"] == 127.5
    assert got["brightness"] == 0.299 * 127.5 + 0.114 * 127.5


def test_rgb_resize_nearest_exact(spark):
    """2x1 -> 4x2 nearest-neighbor duplicates each source pixel into a
    2x2 block — checked byte-for-byte."""
    import numpy as np
    from casf_spark.multimodal import binary as MM
    payload = bytes([10, 20, 30, 40, 50, 60])  # pixels A, B
    df = spark.createDataFrame([(7, payload)], "doc_id long, payload binary")
    got = MM.resize_rgb_nearest(df, 2, 1, 4, 2).collect()[0]
    img = np.frombuffer(got["resized"], dtype=np.uint8).reshape(2, 4, 3)
    A, B = [10, 20, 30], [40, 50, 60]
    assert img.tolist() == [[A, A, B, B], [A, A, B, B]]
    assert got["width"] == 4 and got["height"] == 2


def test_rgb_pipeline_end_to_end(spark, sf_dir):
    """synthesize -> decode -> features over the documents ids: one row
    per doc, channel means in [0, 255], deterministic across runs."""
    from casf_spark.multimodal import binary as MM
    from casf_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents").limit(50)
    imgs = MM.synthesize_rgb_payload(docs, "doc_id", width=4, height=4)
    feats = MM.decode_rgb_features(imgs, 4, 4)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(0 <= r["mean_r"] <= 255 for r in rows)
    again = {(r["doc_id"], r["brightness"])
             for r in MM.decode_rgb_features(
                 MM.synthesize_rgb_payload(docs, "doc_id", 4, 4),
                 4, 4).collect()}
    assert {(r["doc_id"], r["brightness"]) for r in rows} == again


def test_pcm_decode_hand_computed(spark):
    """decode_pcm_features against a hand-built s16le payload: a constant
    +0.5 then -0.5 square wave has known rms/peak/zcr."""
    import numpy as np

    from casf_spark.multimodal import binary as MM
    half = 16384  # 0.5 * 32768
    wave = np.array([half, half, -half, -half] * 100, dtype="<i2")
    df = spark.createDataFrame([(7, bytearray(wave.tobytes()))],
                               "doc_id LONG, payload BINARY")
    r = MM.decode_pcm_features(df, sample_rate=400).collect()[0]
    assert r.n_samples == 400
    assert abs(r.duration_sec - 1.0) < 1e-9
    assert abs(r.rms - 0.5) < 1e-9
    assert abs(r.peak - 0.5) < 1e-9
    # signs flip every 2 samples: 200 crossings minus edge effects / 399
    assert abs(r.zero_crossing_rate - (200 - 1) / 399) < 1e-9


def test_pcm_pipeline_end_to_end(spark, sf_dir):
    """Synth -> decode over the documents table: one row per doc, correct
    duration at 16 kHz, and every per-payload DSP invariant asserted true
    (the query emits its contract columns; raw rms/peak exactness is
    pinned in test_decode_pcm_*)."""
    from casf_spark.queries.multimodal import q_multimodal_pcm
    from casf_spark.sources import load_table
    out = q_multimodal_pcm(spark, sf_dir)
    rows = out.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows[:20]:
        assert r.n_samples == 1600
        assert abs(r.duration_sec - 0.1) < 1e-9
    assert all(r.amplitude_ok and r.zcr_in_unit for r in rows)


def test_pair_integrity_planted_mismatches(spark):
    """Planted pairing damage: a payload under two different captions
    flags payload_conflict on every copy; a caption over two different
    payloads flags caption_conflict; an exact dup pair (same payload AND
    same caption) counts copies but flags NO conflict; caption
    normalization (case/whitespace) folds before fingerprinting; NULLs
    fingerprint to '' and survive."""
    from casf_spark.multimodal.binary import pair_integrity

    rows = [
        (1, b"IMG_A", "a red car"),
        (2, b"IMG_A", "a blue boat"),      # same payload, other caption
        (3, b"IMG_B", "a red car"),        # same caption, other payload
        (4, b"IMG_C", "unique pair"),
        (5, b"IMG_C", "unique pair"),      # exact dup of 4
        (6, b"IMG_D", "  Unique   PAIR "), # normalizes onto 4/5's caption
        (7, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, caption string")
    got = {r.doc_id: r.asDict() for r in pair_integrity(df).collect()}
    assert len(got) == 7   # no row vanished (incl. the NULL pair)
    # payload IMG_A: 2 copies, 2 captions -> conflict on both rows
    for d in (1, 2):
        assert got[d]["n_payload_copies"] == 2
        assert got[d]["payload_conflict"] is True
    # caption 'a red car' spans payloads A and B -> caption conflict
    for d in (1, 3):
        assert got[d]["caption_conflict"] is True
    assert got[2]["caption_conflict"] is False
    # exact dup pair: copies counted, payload NOT conflicted
    assert got[4]["n_payload_copies"] == 2
    assert got[4]["payload_conflict"] is False
    # but its caption now spans IMG_C and IMG_D (via normalization)
    assert got[4]["caption_conflict"] is True
    assert got[6]["caption_fp"] == got[4]["caption_fp"]
    # NULL pair: empty-string fingerprints, no spurious conflicts
    assert got[7]["payload_fp"] == "" and got[7]["caption_fp"] == ""
    assert got[7]["payload_conflict"] is False


# ------------------------------------------------------------------ dHash

def test_dhash_hand_computed(spark):
    """64-bit dHash over a hand-built 9x8 raster: bit j of row i is
    luma(i,j) > luma(i,j+1) with INTEGER luma 299r+587g+114b, packed
    row-major into a 16-hex-char digest."""
    import numpy as np
    # gray ramp left->right increasing => every comparison False => all 0
    inc = np.zeros((8, 9, 3), dtype=np.uint8)
    inc[:, :, :] = np.arange(9, dtype=np.uint8)[None, :, None]
    # decreasing ramp => every comparison True => all 1
    dec = inc[:, ::-1, :].copy()
    df = spark.createDataFrame(
        [(0, inc.tobytes()), (1, dec.tobytes())],
        "doc_id long, payload binary")
    got = {r.doc_id: r.dhash
           for r in MM.dhash_rgb24(df, 9, 8).collect()}
    assert got[0] == "00" * 8
    assert got[1] == "ff" * 8


def test_dhash_brightness_shift_invariant(spark):
    """A uniform +d shift on every channel moves every integer luma by
    exactly 1000*d, so no comparison flips — the perceptual property the
    planted near-dup fixture (and real brightness-edited dups) rely on;
    a content change DOES change the digest."""
    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.integers(0, 200, size=(8, 9, 3), dtype=np.uint8)
    shifted = base + np.uint8(32)
    changed = base.copy()
    # real content edit: overwrite row 3 with a left->right increasing
    # ramp, forcing all 8 of its comparison bits to 0 (the base's row-3
    # bits are not all 0, so the digest must change)
    changed[3, :, :] = np.arange(9, dtype=np.uint8)[:, None]
    df = spark.createDataFrame(
        [(0, base.tobytes()), (1, shifted.tobytes()),
         (2, changed.tobytes())], "doc_id long, payload binary")
    got = {r.doc_id: r.dhash for r in MM.dhash_rgb24(df, 9, 8).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_grouped_synthesis_and_neardup_pipeline(spark):
    """End-to-end planted-group pipeline: same-group docs (different
    brightness deltas) share a digest after decode -> nearest resize ->
    dHash; different groups don't."""
    from pyspark.sql import functions as F
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    imgs = MM.synthesize_rgb_payload_grouped(docs, "doc_id", group_mod=4,
                                             width=18, height=16)
    small = MM.resize_rgb_nearest(imgs, 18, 16, 9, 8) \
        .withColumnRenamed("resized", "payload")
    got = {r.doc_id: r.dhash
           for r in MM.dhash_rgb24(small, 9, 8).collect()}
    assert len(got) == 12
    for i in range(12):
        assert got[i] == got[i % 4]
    assert len({got[g] for g in range(4)}) == 4


# ------------------------------------------------------------ audio FP

def test_pcm_fingerprint_hand_computed(spark):
    """Energy-profile bits over a hand-built 4-frame signal (n_frames-1
    bits, zero-padded by packbits): energies [4,1,9,1] -> bits 101 ->
    0b10100000 = 'a0'."""
    import numpy as np
    s = np.array([2, 1, 3, 1], dtype="<i2")  # 4 frames of 1 sample
    df = spark.createDataFrame([(0, s.tobytes())],
                               "doc_id long, payload binary")
    got = MM.pcm_energy_fingerprint(df, n_frames=4).collect()[0]
    assert got.afp == "a0"


def test_pcm_fingerprint_gain_invariant_content_sensitive(spark):
    """Integer gain scales every frame energy by exactly gain² — no
    comparison flips; a genuine content change (one frame silenced)
    changes the digest."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = rng.integers(-8000, 8000, size=1600, dtype=np.int16)
    gained = (base * np.int16(4)).astype("<i2")
    changed = base.copy()
    changed[100:125] = 0  # silence frame 4 of 64 (25 samples each)
    df = spark.createDataFrame(
        [(0, base.astype("<i2").tobytes()), (1, gained.tobytes()),
         (2, changed.astype("<i2").tobytes())],
        "doc_id long, payload binary")
    got = {r.doc_id: r.afp
           for r in MM.pcm_energy_fingerprint(df, n_frames=64).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_grouped_pcm_neardup_pipeline(spark):
    """End-to-end planted-group audio pipeline: same-group docs
    (different gains) share a fingerprint; different groups don't."""
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pcm = MM.synthesize_pcm_payload_grouped(docs, "doc_id", group_mod=4,
                                            n_samples=1600)
    got = {r.doc_id: r.afp
           for r in MM.pcm_energy_fingerprint(pcm, n_frames=64).collect()}
    assert len(got) == 12
    for i in range(12):
        assert got[i] == got[i % 4]
    assert len({got[g] for g in range(4)}) == 4
