"""Multimodal plumbing: schema contract, Arrow batch shape, REAL
BMP/WAV decode + perceptual hash, frame-sample explosion."""

from __future__ import annotations

import numpy as np
import pytest

from wing_binlog_go_spark.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    fake_decode_image,
    frame_sample_plan,
    image_features,
    real_decode_audio,
    real_decode_image,
    size_bucketed,
)
from wing_binlog_go_spark.multimodal.codecs import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    grayscale,
    phash64,
)


def _gradient_img(w=64, h=48, seed=0):
    """Deterministic smooth test image (gradients + a blob)."""
    y, x = np.mgrid[0:h, 0:w]
    r = (x * 255 // max(w - 1, 1)).astype(np.uint8)
    g = (y * 255 // max(h - 1, 1)).astype(np.uint8)
    b = ((x + y + seed * 37) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=2)


def _lowfreq_img(w=64, h=48, seed=0):
    """Random low-frequency image — the statistics phash is designed
    for. (A pure linear gradient concentrates energy in so few DCT
    coefficients that the median threshold sits in a sea of near-zero
    ACs and noise flips bits freely; natural images don't look like
    that, and neither should the robustness fixture.)"""
    rng = np.random.RandomState(seed)
    small = rng.randint(0, 256, (6, 8, 3)).astype(np.float64)
    img = np.repeat(np.repeat(small, h // 6, axis=0), w // 8, axis=1)
    for _ in range(2):  # box blur → smooth, band-limited content
        img = (
            np.roll(img, 1, 0) + np.roll(img, -1, 0)
            + np.roll(img, 1, 1) + np.roll(img, -1, 1) + img
        ) / 5
    return np.clip(img, 0, 255).astype(np.uint8)


@pytest.fixture()
def media(spark):
    rows = [
        (1, bytes([10, 20, 30, 40]), ("image/png", 2, 2, None)),
        (2, b"", ("image/png", 0, 0, None)),
        (3, bytes(range(256)), ("image/jpeg", 16, 16, None)),
        (4, b"\xff" * 1000, ("video/mp4", 640, 480, 3500)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_unsupported_formats_still_raise():
    # WebP/MP3 need PIL/ffmpeg (absent); the dispatch must fail
    # loudly, not decode garbage
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 12)
    from wing_binlog_go_spark.multimodal import decode_audio

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04" + b"\x00" * 20)


def test_bmp_roundtrip_exact_pixels():
    # width 3 forces row padding (stride 12 vs 9); round-trip must be
    # byte-exact through the pad/flip/BGR conversions
    img = _gradient_img(w=3, h=5)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    img2 = _gradient_img(w=64, h=48)
    assert np.array_equal(decode_bmp(encode_bmp(img2)), img2)


def test_bmp_rejects_garbage_and_truncation():
    with pytest.raises(ValueError):
        decode_bmp(b"not a bmp at all" * 10)
    whole = encode_bmp(_gradient_img(w=8, h=8))
    with pytest.raises(ValueError):
        decode_bmp(whole[: len(whole) // 2])


def test_real_decode_image_features_on_bmp_bytes():
    img = _gradient_img()
    feats = real_decode_image(encode_bmp(img))
    assert feats["n_bytes"] == len(encode_bmp(img))
    assert abs(feats["mean_byte"] - grayscale(img).mean()) < 1e-9
    assert isinstance(feats["phash"], int)
    assert real_decode_image(None) == {"n_bytes": None, "mean_byte": None, "phash": None}


def _hamming(a, b):
    return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")


def test_phash_robust_to_noise_and_separates_images():
    """The point of a PERCEPTUAL hash: re-encode noise barely moves it,
    different content moves it far. ±3 uniform pixel noise (JPEG-ish
    perturbation) must stay within a small hamming radius; an unrelated
    image must land far away."""
    base = _lowfreq_img(seed=1)
    rng = np.random.RandomState(7)
    noisy = np.clip(
        base.astype(np.int16) + rng.randint(-3, 4, base.shape), 0, 255
    ).astype(np.uint8)
    other = _lowfreq_img(seed=2)

    h_base = phash64(grayscale(base))
    h_noisy = phash64(grayscale(noisy))
    h_other = phash64(grayscale(other))
    assert _hamming(h_base, h_noisy) <= 6
    assert _hamming(h_base, h_other) > 16


def test_phash_invariant_to_integer_upscale():
    # the fractional-box resize makes k× nearest-upscale EXACTLY
    # hash-preserving (proportionally identical source boxes)
    base = _lowfreq_img()
    for k in (2, 3):
        up = np.repeat(np.repeat(base, k, axis=0), k, axis=1)
        assert _hamming(phash64(grayscale(base)), phash64(grayscale(up))) == 0


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct as _struct
    import zlib as _zlib

    return (
        _struct.pack(">I", len(data))
        + ctype
        + data
        + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_build(width, height, color, body_rows: bytes, palette=None) -> bytes:
    """Hand-assemble a PNG from already-filtered scanline bytes."""
    import struct as _struct
    import zlib as _zlib

    out = b"\x89PNG\r\n\x1a\n"
    out += _png_chunk(b"IHDR", _struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0))
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
    out += _png_chunk(b"IDAT", _zlib.compress(body_rows))
    return out + _png_chunk(b"IEND", b"")


def _png_filter_rows(img_flat: np.ndarray, bpp: int, ftypes: list[int]) -> bytes:
    """Reference (independent) implementation of the PNG row filters,
    used to build fixtures that exercise every unfilter branch."""
    h, stride = img_flat.shape
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = img_flat[y].astype(np.int32)
        ft = ftypes[y % len(ftypes)]
        out.append(ft)
        for x in range(stride):
            a = int(row[x - bpp]) if x >= bpp else 0
            b = int(prior[x])
            c = int(prior[x - bpp]) if x >= bpp else 0
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] - a
            elif ft == 2:
                v = row[x] - b
            elif ft == 3:
                v = row[x] - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = row[x] - pred
            out.append(v & 0xFF)
        prior = row
    return bytes(out)


def test_png_roundtrip_exact_pixels():
    from wing_binlog_go_spark.multimodal.codecs import decode_png, encode_png

    img = _gradient_img(w=13, h=7)  # odd width: no stride alignment help
    assert np.array_equal(decode_png(encode_png(img)), img)
    # Sub-filtered encode exercises the cumsum unfilter lane
    assert np.array_equal(decode_png(encode_png(img, sub_filter=True)), img)


def test_png_all_filter_types_decode():
    """Fixtures filtered with every type (None/Sub/Up/Average/Paeth in
    rotation, and each alone) must reconstruct exactly — verified against
    an independent reference filter implementation."""
    from wing_binlog_go_spark.multimodal.codecs import decode_png

    img = np.random.RandomState(5).randint(0, 256, (10, 16, 3)).astype(np.uint8)
    flat = img.reshape(10, 48)
    for ftypes in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        body = _png_filter_rows(flat, 3, ftypes)
        png = _png_build(16, 10, 2, body)
        assert np.array_equal(decode_png(png), img), f"filters {ftypes}"


def test_png_color_types():
    from wing_binlog_go_spark.multimodal.codecs import decode_png

    # grayscale (color 0): replicated into RGB
    gray = np.arange(24, dtype=np.uint8).reshape(4, 6)
    body = _png_filter_rows(gray.reshape(4, 6), 1, [0])
    out = decode_png(_png_build(6, 4, 0, body))
    assert np.array_equal(out[:, :, 0], gray) and np.array_equal(out[:, :, 2], gray)

    # palette (color 3)
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    out = decode_png(_png_build(3, 2, 3, _png_filter_rows(idx, 1, [0]), palette=palette))
    assert tuple(out[0, 0]) == (255, 0, 0) and tuple(out[1, 0]) == (0, 0, 255)

    # RGBA (color 6): alpha dropped
    rgba = np.zeros((2, 2, 4), dtype=np.uint8)
    rgba[:, :, 0] = 200
    rgba[:, :, 3] = 7
    out = decode_png(_png_build(2, 2, 6, _png_filter_rows(rgba.reshape(2, 8), 4, [0])))
    assert out.shape == (2, 2, 3) and out[0, 0, 0] == 200 and out[0, 0, 1] == 0

    # gray+alpha (color 4)
    ga = np.array([[10, 255, 200, 0]], dtype=np.uint8)  # two pixels
    out = decode_png(_png_build(2, 1, 4, _png_filter_rows(ga, 2, [0])))
    assert tuple(out[0, 0]) == (10, 10, 10) and tuple(out[0, 1]) == (200, 200, 200)


def test_png_rejects_corruption():
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_png, encode_png

    good = encode_png(_gradient_img(w=8, h=8))
    with pytest.raises(ValueError):
        decode_png(b"not a png")
    with pytest.raises(ValueError):
        decode_png(good[:40])  # truncated mid-chunk
    # flip a pixel byte inside IDAT → CRC must catch it
    bad = bytearray(good)
    idat = good.index(b"IDAT")
    bad[idat + 10] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    # interlace flag set on a non-interlaced body → data-size mismatch
    ihdr_body = _struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 1)
    mislabeled = (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr_body)
        + good[good.index(b"IDAT") - 4:]
    )
    with pytest.raises(ValueError):
        decode_png(mislabeled)


def test_png_adam7_interlace_roundtrip():
    """Adam7 passes de-interlace exactly, including odd dimensions
    where late passes are narrow and pass 2 can be empty."""
    from wing_binlog_go_spark.multimodal.codecs import decode_png, encode_png

    for w, h in ((13, 7), (8, 8), (3, 2), (1, 1), (17, 9)):
        img = _gradient_img(w=w, h=h, seed=w * h)
        assert np.array_equal(decode_png(encode_png(img, interlace=True)), img), (w, h)


def test_png_bmp_cross_format_same_phash():
    """Re-encoding the same pixels as BMP and PNG must produce the SAME
    perceptual hash — the cross-format near-dup case (one image posted
    as .png and .bmp) collapses to hamming 0."""
    from wing_binlog_go_spark.multimodal.codecs import encode_png

    img = _lowfreq_img(seed=9)
    h_bmp = phash64(grayscale(decode_image(encode_bmp(img))))
    h_png = phash64(grayscale(decode_image(encode_png(img))))
    assert h_bmp == h_png


def test_phash_near_dup_across_bmp_and_png(spark):
    """Spark end-to-end: the same image stored once as BMP and once as
    PNG (plus unrelated images) — the pigeonhole join must pair the two
    encodings at hamming 0."""
    from wing_binlog_go_spark.multimodal import phash_near_dup_pairs
    from wing_binlog_go_spark.multimodal.codecs import encode_png

    img = _lowfreq_img(seed=21)
    rows = [
        (1, encode_bmp(img), ("image/bmp", 64, 48, None)),
        (2, encode_png(img, sub_filter=True), ("image/png", 64, 48, None)),
        (3, encode_bmp(_lowfreq_img(seed=22)), ("image/bmp", 64, 48, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in phash_near_dup_pairs(df, max_hamming=4, batch_decoder=real_decode_image).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert not {(a, b) for a, b in pairs if 3 in (a, b)}


def test_wav_roundtrip_and_features():
    t = np.arange(16000) / 16000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)  # 440 Hz, 1 s
    rate, mono = decode_wav(encode_wav(sine, rate=16000))
    assert rate == 16000 and len(mono) == 16000
    assert np.abs(mono - sine).max() < 1e-3  # 16-bit quantization only

    feats = real_decode_audio(encode_wav(sine, rate=16000))
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2); 440 Hz crosses zero ~880×/s
    assert abs(feats["rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(feats["zero_crossings"] - 880) <= 2
    assert real_decode_audio(None)["rms"] is None


def test_wav_stereo_mixdown_and_bad_input():
    import struct as _struct

    # hand-build a stereo WAV: L = +0.5, R = -0.5 → mono mix ≈ 0
    pcm = np.array([16384, -16384] * 100, dtype="<i2").tobytes()
    hdr = _struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 2, 8000, 8000 * 4, 4, 16,
        b"data", len(pcm),
    )
    rate, mono = decode_wav(hdr + pcm)
    assert rate == 8000 and np.abs(mono).max() < 1e-9
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks


def test_fake_decode_is_deterministic():
    a, b = fake_decode_image(bytes([1, 2, 3])), fake_decode_image(bytes([1, 2, 3]))
    assert a == b and a["n_bytes"] == 3


def test_image_features_pipeline(media):
    feats = {r.media_id: r for r in image_features(media).collect()}
    assert feats[1].n_bytes == 4 and feats[1].mean_byte == 25.0
    assert feats[2].n_bytes == 0 and feats[2].mean_byte == 0.0
    assert feats[3].mean_byte == 127.5
    # phash stable across runs
    again = {r.media_id: r.phash for r in image_features(media).collect()}
    assert again == {k: v.phash for k, v in feats.items()}


def test_metadata_predicates_skip_payload(media):
    # filter on meta only — plan should not reference payload bytes
    imgs = media.filter(media.meta.mime.startswith("image/")).select("media_id")
    assert {r.media_id for r in imgs.collect()} == {1, 2, 3}
    assert "payload" not in imgs.columns


def test_audio_features_pipeline(spark):
    from wing_binlog_go_spark.multimodal import audio_features, decode_audio, MEDIA_SCHEMA

    rows = [
        (10, bytes([128, 128, 128, 128]), ("audio/wav", None, None, 4)),  # silence
        (11, bytes([0, 255, 0, 255]), ("audio/wav", None, None, 4)),      # square wave
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in audio_features(df).collect()}
    assert feats[10].rms == 0.0 and feats[10].zero_crossings == 0
    assert feats[11].rms > 100 and feats[11].zero_crossings == 3
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_audio(b"RIFF")


def test_frame_sample_explosion(media):
    frames = frame_sample_plan(media.filter(media.media_id == 4), every_ms=1000).collect()
    assert [f.frame_ts_ms for f in frames] == [0, 1000, 2000, 3000]


def test_null_payload_yields_null_features(spark):
    from wing_binlog_go_spark.multimodal import audio_features

    rows = [(1, None, ("image/png", 1, 1, None)),
            (2, bytes([1, 2]), ("image/png", 1, 1, None))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in image_features(df).collect()}
    assert feats[1].n_bytes is None and feats[1].phash is None
    assert feats[2].n_bytes == 2
    audio = {r.media_id: r for r in audio_features(df).collect()}
    assert audio[1].rms is None


def test_image_phash_exact_beside_null_payload_in_one_batch(spark):
    """A NULL payload in the same Arrow batch as real ones must not make
    the phash column float64: every hash reaches Spark bit for bit (a
    float keeps 53 bits of a 64-bit hash)."""
    payload = bytes([1, 2, 3])
    rows = [(1, None, ("image/png", 1, 1, None)),
            (2, payload, ("image/png", 1, 1, None))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)  # one batch
    phashes = {r.media_id: r.phash for r in image_features(df).collect()}
    assert phashes == {1: None, 2: fake_decode_image(payload)["phash"]}


def test_phash_near_dup_recall_beside_null_payload_in_one_batch(spark):
    """Two hashes one low bit apart, sharing an Arrow batch with a NULL
    payload, must pair at Hamming distance exactly 1 — rounded to a
    float's 53-bit mantissa they would lose that bit."""
    from wing_binlog_go_spark.multimodal import phash_near_dup_pairs

    planted = {1: 0x5A5A_5A5A_5A5A_5A5B, 2: 0x5A5A_5A5A_5A5A_5A5A}

    def stub_decoder(payload):
        if payload is None:
            return {"n_bytes": None, "mean_byte": None, "phash": None}
        mid = int.from_bytes(payload, "big")
        return {"n_bytes": len(payload), "mean_byte": 0.0, "phash": planted[mid]}

    rows = [(mid, mid.to_bytes(4, "big"), ("image/png", 8, 8, None)) for mid in planted]
    rows.append((3, None, ("image/png", 8, 8, None)))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)  # one batch
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in phash_near_dup_pairs(df, batch_decoder=stub_decoder).collect()
    }
    assert pairs == {(1, 2): 1}


def test_negative_duration_frame_sample(spark):
    rows = [(9, b"x", ("video/mp4", 1, 1, -500))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = frame_sample_plan(df, every_ms=1000).collect()
    assert [f.frame_ts_ms for f in frames] == [0]


def test_phash_near_dup_finds_exact_copies(spark):
    from wing_binlog_go_spark.multimodal import phash_near_dup_pairs

    rows = [
        (1, bytes(range(100)), ("image/png", 8, 8, None)),
        (2, bytes(range(100)), ("image/png", 8, 8, None)),   # exact copy of 1
        (3, bytes([7] * 64), ("image/png", 8, 8, None)),
        (4, bytes(range(99)) + b"\x00", ("image/png", 8, 8, None)),  # near 1
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {(r.media_a, r.media_b): r.hamming for r in phash_near_dup_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0  # exact copies always found
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_size_bucketing_preserves_rows(media):
    assert size_bucketed(media, buckets=4).count() == 4


def test_phash_planted_near_dup_recall_at_loose_threshold(spark):
    """Planted perceptual near-dups: a decoder stub assigns each copy a
    phash within k bits of its original (k = 1..7, re-encode noise); the
    auto-chunked pigeonhole join must recall ALL of them at
    max_hamming=7 and none of the far pairs (the exact bit_count filter
    makes recall deterministic, not probabilistic)."""
    import random

    from wing_binlog_go_spark.multimodal import phash_near_dup_pairs

    rng = random.Random(42)
    base_hashes = {i: rng.getrandbits(63) for i in range(10)}

    def flip(h, k):
        for bit in rng.sample(range(64), k):
            h ^= 1 << bit
        return h - (1 << 64) if h >= (1 << 63) else h

    planted = {}  # media_id -> phash
    expected = set()
    for i, h in base_hashes.items():
        planted[i] = h
        k = (i % 7) + 1
        planted[i + 1000] = flip(h, k)  # near-dup copy, k bits away
        expected.add((i, i + 1000))

    def stub_decoder(payload):
        mid = int.from_bytes(payload, "big")
        return {"n_bytes": len(payload), "mean_byte": 0.0, "phash": planted[mid]}

    rows = [
        (mid, mid.to_bytes(4, "big"), ("image/png", 8, 8, None))
        for mid in planted
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in phash_near_dup_pairs(
            df, max_hamming=7, batch_decoder=stub_decoder
        ).collect()
    }
    assert expected <= set(pairs), f"missed planted dups: {expected - set(pairs)}"
    for (a, b), ham in pairs.items():
        assert ham <= 7
    # distinct random base hashes must not pair with each other
    cross = {(a, b) for a, b in pairs if a < 1000 and b < 1000}
    assert not cross


def test_phash_near_dup_on_real_bmp_bytes(spark):
    """End-to-end on ACTUAL pixels: three originals, each with a
    noise-perturbed re-encode (the canonical near-dup), plus unrelated
    noise images. The full Spark path — binary payload column →
    mapInPandas real decode → DCT phash → pigeonhole chunk join — must
    recall every planted pair and no cross pair."""
    from wing_binlog_go_spark.multimodal import phash_near_dup_pairs

    rng = np.random.RandomState(3)
    rows = []
    expected = set()
    for i in range(3):
        base = _lowfreq_img(seed=i * 11 + 1)
        noisy = np.clip(
            base.astype(np.int16) + rng.randint(-3, 4, base.shape), 0, 255
        ).astype(np.uint8)
        rows.append((i, encode_bmp(base), ("image/bmp", 64, 48, None)))
        rows.append((i + 100, encode_bmp(noisy), ("image/bmp", 64, 48, None)))
        expected.add((i, i + 100))
    for j in range(3):  # unrelated content, far in phash space
        rand = _lowfreq_img(seed=j + 50)
        rows.append((j + 200, encode_bmp(rand), ("image/bmp", 64, 48, None)))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in phash_near_dup_pairs(
            df, max_hamming=8, batch_decoder=real_decode_image
        ).collect()
    }
    assert expected <= set(pairs), f"missed planted dups: {expected - set(pairs)}"
    for ham in pairs.values():
        assert ham <= 8
    # no original pairs with another original or with the random images
    bad = {(a, b) for a, b in pairs} - expected
    assert not bad, f"false pairs: {bad}"


def test_audio_features_on_real_wav_bytes(spark):
    """audio_features over the real WAV decoder: silence vs a tone."""
    from wing_binlog_go_spark.multimodal import audio_features

    t = np.arange(8000) / 8000.0
    tone = encode_wav(0.5 * np.sin(2 * np.pi * 440 * t), rate=8000)
    silence = encode_wav(np.zeros(8000), rate=8000)
    df = spark.createDataFrame(
        [(1, tone, ("audio/wav", None, None, 1000)),
         (2, silence, ("audio/wav", None, None, 1000)),
         (3, None, ("audio/wav", None, None, None))],
        MEDIA_SCHEMA,
    )
    feats = {r.media_id: r for r in audio_features(df, batch_decoder=real_decode_audio).collect()}
    assert abs(feats[1].rms - 0.5 / np.sqrt(2)) < 1e-3
    assert feats[1].zero_crossings > 800
    assert feats[2].rms == 0.0 and feats[2].zero_crossings == 0
    assert feats[3].rms is None


# ---------------------------------------------------------------------------
# GIF / video
# ---------------------------------------------------------------------------


def _palette_frames(n_frames=4, w=24, h=16):
    """Animated fixture: a colored box marches across a dark canvas —
    few distinct colors (encoder palette cap), visually distinct frames."""
    frames = []
    for i in range(n_frames):
        f = np.full((h, w, 3), 16, dtype=np.uint8)
        x = (i * 5) % (w - 6)
        f[4:12, x : x + 6] = [200, 40 * i % 256, 90]
        frames.append(f)
    return frames


def test_lzw_roundtrip():
    from wing_binlog_go_spark.multimodal.codecs import _lzw_decode, _lzw_encode

    rng = np.random.RandomState(2)
    for size in (2, 4, 8):
        n_sym = 1 << size
        # repetitive data grows the dictionary; long enough to force
        # several width bumps (and a reset at min_code_size=2)
        data = list(rng.randint(0, n_sym, 5000)) + [0] * 500 + list(range(n_sym)) * 20
        assert _lzw_decode(_lzw_encode(data, size), size) == data


def test_gif_roundtrip_frames_exact():
    from wing_binlog_go_spark.multimodal.codecs import decode_gif, encode_gif

    frames = _palette_frames()
    decoded = decode_gif(encode_gif(frames, delay_ms=50))
    assert len(decoded) == len(frames)
    for (delay, got), want in zip(decoded, frames):
        assert delay == 50
        assert np.array_equal(got, want)


def test_gif_single_frame_and_bad_input():
    from wing_binlog_go_spark.multimodal.codecs import decode_gif, encode_gif

    one = decode_gif(encode_gif(_palette_frames(1)))
    assert len(one) == 1
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)  # truncated descriptor
    with pytest.raises(ValueError):
        decode_gif(b"JPEG nonsense")
    whole = encode_gif(_palette_frames(2))
    with pytest.raises(ValueError):
        decode_gif(whole[: len(whole) - 10])  # missing trailer/frame data


def test_gif_transparency_composites_over_previous_frame():
    """Hand-build a 2-frame GIF where frame 2 is a small rect with a
    transparent index: the decoded second frame must show frame 1's
    pixels through the transparent holes (delta-frame compositing)."""
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import _lzw_encode, decode_gif

    # palette: 0=black 1=red 2=green 3=unused
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 0, 0)  # 4-entry GCT
    out += pal
    # frame 1: all red, full canvas
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, 4, 4, 0)
    lzw = _lzw_encode([1] * 16, 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    # frame 2: 2x2 rect at (1,1): green with one transparent pixel (idx 3)
    out += b"\x21\xf9\x04" + _struct.pack("<BHB", 0x05, 10, 3) + b"\x00"  # transp idx 3, disposal 1
    out += b"\x2c" + _struct.pack("<HHHHB", 1, 1, 2, 2, 0)
    lzw = _lzw_encode([2, 3, 2, 2], 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    out.append(0x3B)

    frames = decode_gif(bytes(out))
    assert len(frames) == 2
    f2 = frames[1][1]
    assert tuple(f2[1, 1]) == (0, 255, 0)   # green painted
    assert tuple(f2[1, 2]) == (255, 0, 0)   # transparent → red shows through
    assert tuple(f2[0, 0]) == (255, 0, 0)   # outside rect untouched
    assert frames[1][0] == 100              # delay 10 cs → 100 ms


def test_gif_disposal2_with_transparency_restores_to_transparent():
    """Disposal 2 + active transparent index: conformant renderers
    restore the rect to TRANSPARENT (black on an RGB canvas), not the
    background color — a red background must NOT reappear under the
    disposed rect in the following frame."""
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import _lzw_encode, decode_gif

    # palette: 0=black 1=red 2=green 3=transparent slot; bg_index=1 (red)
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 1, 0)  # bg = red
    out += pal
    # frame 1: 2x2 green rect at (1,1), transparent idx 3, DISPOSAL 2
    out += b"\x21\xf9\x04" + _struct.pack("<BHB", (2 << 2) | 1, 10, 3) + b"\x00"
    out += b"\x2c" + _struct.pack("<HHHHB", 1, 1, 2, 2, 0)
    lzw = _lzw_encode([2, 2, 2, 2], 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    # frame 2: 1x1 green pixel at (0,0) with NO transparency control
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, 1, 1, 0)
    lzw = _lzw_encode([2], 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    out.append(0x3B)

    frames = decode_gif(bytes(out))
    assert len(frames) == 2
    f2 = frames[1][1]
    # the disposed rect restored to transparent-as-black, NOT bg red
    assert tuple(f2[1, 1]) == (0, 0, 0)
    assert tuple(f2[2, 2]) == (0, 0, 0)
    assert tuple(f2[0, 0]) == (0, 255, 0)  # frame-2 content painted


def test_encode_tiff_bits_per_sample_count_matches_spp():
    """TIFF 6.0: BitsPerSample (258) count must equal SamplesPerPixel;
    strict readers reject count=1 for RGB. Parse the encoder's IFD."""
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (5, 4, 3), dtype=np.uint8)
    for kwargs in ({}, {"packbits": True}, {"lzw": True}):
        data = encode_tiff(img, **kwargs)
        ifd_off = _struct.unpack_from("<I", data, 4)[0]
        n = _struct.unpack_from("<H", data, ifd_off)[0]
        tags = {}
        for e in range(n):
            off = ifd_off + 2 + e * 12
            tag, ttype, count, val = _struct.unpack_from("<HHII", data, off)
            tags[tag] = (ttype, count, val)
        ttype, count, val = tags[258]
        assert (ttype, count) == (3, 3)
        assert _struct.unpack_from("<3H", data, val) == (8, 8, 8)
        assert np.array_equal(decode_tiff(data), img)


def test_decode_video_dispatch_and_timestamps():
    from wing_binlog_go_spark.multimodal import decode_video
    from wing_binlog_go_spark.multimodal.codecs import encode_gif

    frames = decode_video(encode_gif(_palette_frames(3), delay_ms=40))
    assert [ts for ts, _ in frames] == [0, 40, 80]
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00 ftypisom" + b"\x00" * 16)  # MP4


def test_video_frame_features_samples_real_frames(spark):
    """Spark end-to-end on real GIF bytes: 4 frames at 100 ms sampled
    every 200 ms → ticks 0/200 pick frames 0 and 2; their phashes must
    equal the directly-computed hashes of those frames. NULL and
    non-video payloads contribute no rows."""
    from wing_binlog_go_spark.multimodal import video_frame_features
    from wing_binlog_go_spark.multimodal.codecs import (
        encode_gif,
        grayscale,
        phash64,
    )

    frames = _palette_frames(4)
    gif = encode_gif(frames, delay_ms=100)
    rows = [
        (1, gif, ("image/gif", 24, 16, 400)),
        (2, None, ("video/mp4", None, None, None)),
        (3, b"\x00\x00\x00 ftypisom", ("video/mp4", 1, 1, 99)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        (r.media_id, r.frame_ts_ms): r.phash
        for r in video_frame_features(df, every_ms=200).collect()
    }
    assert set(got) == {(1, 0), (1, 200)}
    assert got[(1, 0)] == phash64(grayscale(frames[0]))
    assert got[(1, 200)] == phash64(grayscale(frames[2]))


# ---------------------------------------------------------------------------
# audio fingerprinting
# ---------------------------------------------------------------------------


def _rich_audio(seed, n=16000, rate=16000):
    """Band-limited multi-tone fixture with amplitude envelopes — the
    spectrally-rich content the spectrogram hash is designed for (a
    pure sine's spectrogram is one line; like the image phash, the
    robustness fixture should look like real content)."""
    rng = np.random.RandomState(seed)
    t = np.arange(n) / rate
    x = np.zeros(n)
    for _ in range(6):
        f = rng.uniform(200, 3000)
        a = rng.uniform(0.05, 0.2)
        env = np.clip(
            np.sin(2 * np.pi * rng.uniform(0.3, 2) * t + rng.uniform(0, 6)), 0, None
        )
        x += a * env * np.sin(2 * np.pi * f * t + rng.uniform(0, 2 * np.pi))
    return x


def test_audio_phash_robust_and_separating():
    from wing_binlog_go_spark.multimodal.codecs import audio_phash64

    for seed in range(3):
        base = _rich_audio(seed)
        noisy = base + np.random.RandomState(99 + seed).normal(0, 0.01, len(base))
        other = _rich_audio(seed + 50)
        hb = audio_phash64(base)
        assert _hamming(hb, audio_phash64(noisy)) <= 6
        assert _hamming(hb, audio_phash64(other)) > 16


def test_audio_fingerprint_survives_wav_reencode():
    from wing_binlog_go_spark.multimodal import real_audio_fingerprint
    from wing_binlog_go_spark.multimodal.codecs import audio_phash64

    base = _rich_audio(0)
    direct = audio_phash64(base)
    through_codec = real_audio_fingerprint(encode_wav(base))
    assert _hamming(direct, through_codec) <= 2
    assert real_audio_fingerprint(None) is None


def test_audio_phash_handles_degenerate_input():
    from wing_binlog_go_spark.multimodal.codecs import audio_phash64

    # shorter than one FFT frame, and pure silence: defined, stable ints
    assert isinstance(audio_phash64(np.zeros(10)), int)
    assert audio_phash64(np.zeros(4000)) == audio_phash64(np.zeros(4000))


def test_audio_near_dup_pairs_on_real_wav_bytes(spark):
    """Spark end-to-end: three clips each stored clean and re-encoded
    with noise — the chunk join must pair every (clean, noisy) pair and
    no cross-content pair."""
    from wing_binlog_go_spark.multimodal import audio_near_dup_pairs

    rows, expected = [], set()
    for i in range(3):
        base = _rich_audio(i * 7 + 1)
        noisy = base + np.random.RandomState(i).normal(0, 0.01, len(base))
        rows.append((i, encode_wav(base), ("audio/wav", None, None, 1000)))
        rows.append((i + 100, encode_wav(noisy), ("audio/wav", None, None, 1000)))
        expected.add((i, i + 100))
    rows.append((500, None, ("audio/wav", None, None, None)))  # NULL payload
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in audio_near_dup_pairs(df, max_hamming=8).collect()
    }
    assert expected <= set(pairs), f"missed planted pairs: {expected - set(pairs)}"
    assert not (set(pairs) - expected), f"false pairs: {set(pairs) - expected}"


def test_audio_fingerprints_exact_beside_null_payload_in_one_batch(spark):
    """The fingerprints audio_near_dup_pairs joins on are exactly
    real_audio_fingerprint's, also when a NULL payload shares their
    Arrow batch. Each clip gets a probe row whose fingerprint is the
    clip's driver-side value with bit 0 flipped: the pair must come
    back at Hamming distance exactly 1, which hashes rounded to a
    float's 53-bit mantissa (low bits lost) do not give."""
    from wing_binlog_go_spark.multimodal import (
        audio_near_dup_pairs,
        real_audio_fingerprint,
    )

    wavs = {i: encode_wav(_rich_audio(i * 7 + 1)) for i in range(3)}
    probes = {b"probe%d" % i: real_audio_fingerprint(w) ^ 1 for i, w in wavs.items()}

    def fingerprint(payload):
        if payload is not None and bytes(payload) in probes:
            return probes[bytes(payload)]
        return real_audio_fingerprint(payload)

    rows = [(i, w, ("audio/wav", None, None, 1000)) for i, w in wavs.items()]
    rows += [(i + 200, b"probe%d" % i, ("audio/wav", None, None, 1000)) for i in wavs]
    rows.append((500, None, ("audio/wav", None, None, None)))  # NULL payload
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1)  # one batch
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in audio_near_dup_pairs(df, max_hamming=8, fingerprint=fingerprint).collect()
    }
    assert pairs == {(i, i + 200): 1 for i in wavs}


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------

_JPEG_FIXTURE_GLOB = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/**/*.jpg"


def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255 * 255 / mse) if mse else 99.0


def test_jpeg_roundtrip_psnr():
    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg, encode_jpeg

    img = _lowfreq_img(w=64, h=48, seed=3)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    assert _psnr(img, dec) > 30  # lossy, but faithful at q90 4:4:4
    dec420 = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    assert _psnr(img, dec420) > 22  # chroma half-res: looser bound


def test_jpeg_odd_dimensions_and_partial_mcus():
    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg, encode_jpeg

    img = _lowfreq_img(w=64, h=48, seed=4)[:45, :53]
    for sub in (False, True):
        dec = decode_jpeg(encode_jpeg(img, quality=90, subsample=sub))
        assert dec.shape == img.shape
        assert _psnr(img, dec) > (30 if not sub else 22)


def test_jpeg_decodes_real_photos():
    """Every camera JPEG shipped with Spark's MLlib test data — both
    baseline (SOF0) and progressive (SOF2) — must decode to its SOF
    dimensions with natural-image statistics (a garbled huffman/IDCT/
    refinement pass produces noise — near-zero neighbor correlation —
    so this catches real decode errors, not just crashes)."""
    import glob
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg

    files = sorted(glob.glob(_JPEG_FIXTURE_GLOB, recursive=True))
    if not files:
        pytest.skip("no JPEG fixtures on this machine")
    modes = set()
    for p in files:
        data = open(p, "rb").read()
        # independent SOF parse for expected dims + mode
        i, sof = 2, None
        while i < len(data) - 4:
            if data[i] != 0xFF:
                i += 1
                continue
            m = data[i + 1]
            if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
                i += 2
                continue
            ln = _struct.unpack(">H", data[i + 2 : i + 4])[0]
            if m in (0xC0, 0xC2):
                h, w = _struct.unpack(">HH", data[i + 5 : i + 9])
                sof = (m, h, w)
                break
            i += 2 + ln
        assert sof is not None
        mode, h, w = sof
        modes.add(mode)
        im = decode_jpeg(data)
        assert im.shape == (h, w, 3), p
        corr = np.corrcoef(im[:, :-1].reshape(-1), im[:, 1:].reshape(-1))[0, 1]
        assert corr > 0.5, f"{p}: neighbor correlation {corr} — garbled decode?"
        assert im.std() > 10, p
    assert 0xC0 in modes  # the set exercises baseline...
    assert 0xC2 in modes  # ...and progressive decode paths


def test_jpeg_progressive_known_content():
    """Ground-truth-ish progressive fixture: full-white-stripe.jpg is,
    per its name and provenance (a mostly-white test card), an almost
    entirely white image — the decoded mean must sit near 255. A broken
    refinement pass would shred this into mid-gray noise."""
    import os

    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg

    p = "/usr/share/doc/nodejs/full-white-stripe.jpg"
    if not os.path.exists(p):
        pytest.skip("nodejs doc fixture absent")
    im = decode_jpeg(open(p, "rb").read())
    assert im.shape == (312, 493, 3)
    assert im.mean() > 240
    assert (im > 240).mean() > 0.85  # the vast majority of pixels white


def test_jpeg_rejects_garbage():
    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    whole = encode_jpeg(_lowfreq_img(seed=6))
    with pytest.raises(ValueError):
        decode_jpeg(whole[:50])  # headers only, no scan


def test_jpeg_phash_consistent_with_lossless_formats():
    """The SAME image stored lossless (BMP) and lossy (JPEG q90) must
    land within a small phash radius — the cross-format near-dup case
    that motivates decoding JPEG at all."""
    from wing_binlog_go_spark.multimodal.codecs import encode_jpeg

    img = _lowfreq_img(seed=12)
    h_bmp = phash64(grayscale(decode_image(encode_bmp(img))))
    h_jpg = phash64(grayscale(decode_image(encode_jpeg(img, quality=90))))
    assert _hamming(h_bmp, h_jpg) <= 6


def test_jpeg_corruption_never_hangs_or_crashes_interpreter():
    """Random single-byte corruptions of a valid JPEG must terminate in
    bounded time with either a clean ValueError or a (possibly garbled)
    image — never an unbounded loop or non-ValueError crash."""
    from wing_binlog_go_spark.multimodal.codecs import decode_jpeg, encode_jpeg

    base = bytearray(encode_jpeg(_lowfreq_img(seed=8), quality=85))
    rng = np.random.RandomState(0)
    for _ in range(25):
        bad = bytearray(base)
        pos = rng.randint(2, len(bad))
        bad[pos] ^= 1 << rng.randint(0, 8)
        try:
            im = decode_jpeg(bytes(bad))
            assert im.ndim == 3 and im.shape[2] == 3
        except ValueError:
            pass  # clean rejection is fine


def test_decode_image_handles_gif_still():
    from wing_binlog_go_spark.multimodal.codecs import encode_gif

    frames = _palette_frames(2)
    still = decode_image(encode_gif(frames))
    assert np.array_equal(still, frames[0])


# ---------------------------------------------------------------------------
# FLAC
# ---------------------------------------------------------------------------


def _rich_signal(n=8000, rate=8000, seed=3):
    t = np.arange(n) / rate
    rng = np.random.RandomState(seed)
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in [(440, 0.2), (890, 0.1), (1700, 0.05)])
    return x + rng.normal(0, 0.01, n)


def _q16(x):
    return np.clip(np.asarray(x) * 32767, -32768, 32767).astype(np.int64)


def test_flac_mono_roundtrip_is_lossless():
    from wing_binlog_go_spark.multimodal.codecs import decode_flac, encode_flac

    sig = _rich_signal()
    for po in (0, 2):  # single and partitioned rice residuals
        enc = encode_flac(sig, rate=8000, partition_order=po)
        rate, mono = decode_flac(enc)
        assert rate == 8000 and len(mono) == len(sig)
        # FLAC is LOSSLESS over the quantized signal — exact, not PSNR
        assert np.array_equal(np.round(mono * 32768).astype(np.int64), _q16(sig))
    # and it actually compresses vs raw 16-bit
    assert len(encode_flac(sig, rate=8000)) < 2 * len(sig)


def test_flac_constant_blocks_collapse():
    from wing_binlog_go_spark.multimodal.codecs import decode_flac, encode_flac

    enc = encode_flac(np.zeros(3000), rate=16000, block_size=1024)
    rate, mono = decode_flac(enc)
    assert rate == 16000 and len(mono) == 3000 and np.abs(mono).max() == 0.0
    assert len(enc) < 200  # CONSTANT subframes: ~header-sized stream


def test_flac_stereo_independent_and_left_side_agree():
    from wing_binlog_go_spark.multimodal.codecs import decode_flac, encode_flac

    sig = _rich_signal()
    t = np.arange(len(sig)) / 8000.0
    stereo = np.stack([sig, sig * 0.5 + 0.01 * np.sin(2 * np.pi * 100 * t)])
    want = (_q16(stereo[0]) + _q16(stereo[1])) / 2.0 / 32768.0
    for mode in (None, "left-side"):
        _rate, mono = decode_flac(encode_flac(stereo, rate=8000, stereo_mode=mode))
        assert np.allclose(mono, want, atol=1e-12), mode


def test_flac_crc_catches_corruption():
    from wing_binlog_go_spark.multimodal.codecs import decode_flac, encode_flac

    good = bytearray(encode_flac(_rich_signal(2000), rate=8000))
    with pytest.raises(ValueError):
        decode_flac(b"fLaC" + b"\x00" * 10)  # truncated metadata
    bad = bytearray(good)
    bad[-20] ^= 0xFF  # flip a byte inside the last frame
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(bad))


def test_flac_short_final_frame_partition_order_clamp():
    """Regression: a final frame with <= (order << po) samples must clamp
    the rice partition order to 0 (RFC 9639 §9.2.7: the first partition
    holds (block_size >> po) - predictor_order samples, which must be
    positive).  Before the fix a 4-sample tail at po=2 desynced the
    bitstream — worst case a SILENT wrong decode ([0,0,0,1.0] came back
    as [0,0,-1519,-3033])."""
    from wing_binlog_go_spark.multimodal.codecs import decode_flac, encode_flac

    for n in range(1, 10):
        for po in (0, 1, 2):
            for block in (64, 256):
                sig = np.zeros(n)
                sig[-1] = 1.0
                rate, mono = decode_flac(
                    encode_flac(sig, rate=16000, block_size=block, partition_order=po)
                )
                assert rate == 16000 and len(mono) == n, (n, po, block)
                assert np.array_equal(
                    np.round(mono * 32768).astype(np.int64), _q16(sig)
                ), (n, po, block)
    # the exact counterexample shape from the property suite: a full
    # 64-sample frame followed by a 4-sample tail, po=2
    sig = np.concatenate(
        [np.random.RandomState(0).uniform(-1, 1, 64), [0.0, 0.0, 0.0, 1.0]]
    )
    _rate, mono = decode_flac(
        encode_flac(sig, rate=16000, block_size=64, partition_order=2)
    )
    assert np.array_equal(np.round(mono * 32768).astype(np.int64), _q16(sig))


def test_flac_through_audio_dispatch_and_features(spark):
    """decode_audio dispatches FLAC; audio_features over real FLAC
    bytes equal the same clip's WAV features (both lossless carriers
    of the identical 16-bit signal)."""
    from wing_binlog_go_spark.multimodal import audio_features, decode_audio
    from wing_binlog_go_spark.multimodal.codecs import encode_flac

    sig = _rich_signal(4000)
    rate, mono = decode_audio(encode_flac(sig, rate=8000))
    assert rate == 8000 and len(mono) == 4000
    rows = [
        (1, encode_flac(sig, rate=8000), ("audio/flac", None, None, 500)),
        (2, encode_wav(sig, rate=8000), ("audio/wav", None, None, 500)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in audio_features(df, batch_decoder=real_decode_audio).collect()}
    assert abs(feats[1].rms - feats[2].rms) < 1e-4
    assert abs(feats[1].zero_crossings - feats[2].zero_crossings) <= 2


def test_video_near_dup_pairs_on_real_gif_bytes(spark):
    """Video-level dedup over real animated GIFs: a noisy re-encode of
    the same animation matches at every sampled tick; unrelated
    animations never pair."""
    from wing_binlog_go_spark.multimodal import video_near_dup_pairs
    from wing_binlog_go_spark.multimodal.codecs import encode_gif

    def quant(f):  # 64-step lattice: ≤64 possible colors total
        return (f // 64 * 64).astype(np.uint8)

    def animation(seed, n_frames=4):
        return [quant(_lowfreq_img(seed=seed * 13 + i)) for i in range(n_frames)]

    def perturb(frames, seed):
        # re-encode noise constrained to the same lattice: a few percent
        # of pixels hop one quantization step
        rng = np.random.RandomState(seed)
        out = []
        for f in frames:
            hop = (rng.random(f.shape) < 0.03).astype(np.int16) * 64
            out.append(quant(np.clip(f.astype(np.int16) + hop, 0, 255)))
        return out

    base = animation(1)
    rows = [
        (1, encode_gif(base, delay_ms=200), ("image/gif", 64, 48, 800)),
        (2, encode_gif(perturb(base, 9), delay_ms=200), ("image/gif", 64, 48, 800)),
        (3, encode_gif(animation(7), delay_ms=200), ("image/gif", 64, 48, 800)),
        (4, None, ("video/mp4", None, None, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): (r.shared_frames, r.min_hamming)
        for r in video_near_dup_pairs(
            df, every_ms=200, max_hamming=7, min_shared_frames=3
        ).collect()
    }
    assert (1, 2) in pairs, pairs
    shared, min_ham = pairs[(1, 2)]
    assert shared >= 3
    assert not {(a, b) for a, b in pairs if 3 in (a, b)}, pairs


def test_video_frame_features_rejects_nonpositive_step(spark):
    from wing_binlog_go_spark.multimodal import video_frame_features

    df = spark.createDataFrame([(1, b"GIF8", ("image/gif", 1, 1, 10))], MEDIA_SCHEMA)
    with pytest.raises(ValueError, match="every_ms"):
        video_frame_features(df, every_ms=0)


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------


def test_tiff_roundtrip_uncompressed_and_packbits():
    from wing_binlog_go_spark.multimodal.codecs import decode_tiff, encode_tiff

    img = _lowfreq_img(w=30, h=20, seed=14)
    assert np.array_equal(decode_tiff(encode_tiff(img)), img)
    # PackBits strips: flat regions compress, round trip stays exact
    flat = img.copy()
    flat[5:15, :] = 77
    enc = encode_tiff(flat, packbits=True)
    assert np.array_equal(decode_tiff(enc), flat)
    assert len(enc) < len(encode_tiff(flat))  # RLE actually compressed


def test_tiff_big_endian_and_grayscale():
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_tiff

    # hand-build a 2x2 big-endian grayscale TIFF, white-is-zero
    px = bytes([0, 64, 128, 255])
    out = bytearray(b"MM\x00\x2a") + _struct.pack(">I", 8)
    entries = [
        (256, 4, 1, 2), (257, 4, 1, 2), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 0),  # white-is-zero
        (273, 4, 1, 0),  # patched below
        (277, 3, 1, 1), (279, 4, 1, len(px)),
    ]
    data_off = 8 + 2 + len(entries) * 12 + 4
    out += _struct.pack(">H", len(entries))
    for tag, t, c, v in entries:
        v = data_off if tag == 273 else v
        if t == 3:  # inline SHORT is LEFT-justified in big-endian files
            out += _struct.pack(">HHIHH", tag, t, c, v, 0)
        else:
            out += _struct.pack(">HHII", tag, t, c, v)
    out += _struct.pack(">I", 0)
    out += px
    im = decode_tiff(bytes(out))
    assert im.shape == (2, 2, 3)
    assert im[0, 0, 0] == 255 and im[1, 1, 0] == 0  # inverted grayscale


def test_tiff_rejects_lzw_and_garbage():
    from wing_binlog_go_spark.multimodal.codecs import decode_tiff, encode_tiff

    with pytest.raises(ValueError):
        decode_tiff(b"not tiff")
    dz = bytearray(encode_tiff(_lowfreq_img(w=8, h=8)))
    import struct as _struct

    # flip the compression tag (259) to JPEG-in-TIFF (7): unsupported
    n = _struct.unpack_from("<H", dz, 8)[0]
    for e in range(n):
        off = 10 + e * 12
        if _struct.unpack_from("<H", dz, off)[0] == 259:
            _struct.pack_into("<I", dz, off + 8, 7)
    with pytest.raises(ValueError, match="PIL"):
        decode_tiff(bytes(dz))
    # flip to deflate (8) over non-deflate bytes: clean rejection
    for e in range(n):
        off = 10 + e * 12
        if _struct.unpack_from("<H", dz, off)[0] == 259:
            _struct.pack_into("<I", dz, off + 8, 8)
    with pytest.raises(ValueError, match="(?i)deflate"):
        decode_tiff(bytes(dz))


def test_tiff_through_image_dispatch():
    from wing_binlog_go_spark.multimodal.codecs import encode_tiff

    img = _lowfreq_img(seed=15)
    assert np.array_equal(decode_image(encode_tiff(img)), img)
    # phash agrees with the BMP encoding of the same pixels
    h_t = phash64(grayscale(decode_image(encode_tiff(img))))
    h_b = phash64(grayscale(decode_image(encode_bmp(img))))
    assert h_t == h_b


def test_tiff_lzw_roundtrip_and_raw_streams():
    from wing_binlog_go_spark.multimodal.codecs import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.RandomState(5)
    # repetitive data pushes through every width change and a dict reset
    for n in (10, 278, 5000, 60000):
        data = bytes(rng.randint(0, 40, n).astype(np.uint8))
        assert _tiff_lzw_decode(_tiff_lzw_encode(data)) == data, n
    rand = bytes(rng.randint(0, 256, 30000).astype(np.uint8))
    assert _tiff_lzw_decode(_tiff_lzw_encode(rand)) == rand

    # banded image: real byte-sequence repeats for the dictionary
    img = np.repeat(_lowfreq_img(w=40, h=6, seed=16), 4, axis=0)
    enc = encode_tiff(img, lzw=True)
    assert np.array_equal(decode_tiff(enc), img)
    assert len(enc) < img.size  # actually compressed


# ---------------------------------------------------------------------------
# WebP lossless (VP8L)
# ---------------------------------------------------------------------------


def test_webp_roundtrip_plain_and_shapes():
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    rng = np.random.RandomState(31)
    for shape in ((1, 1), (1, 17), (17, 1), (2, 3), (13, 9), (33, 2), (48, 64)):
        img = rng.randint(0, 256, (*shape, 3), dtype=np.uint8)
        assert np.array_equal(decode_webp(encode_webp(img)), img), shape


def test_webp_every_predictor_mode_roundtrips():
    """All 14 spatial predictors (incl. Select and the two clamped
    add/subtract forms) must invert exactly, borders included."""
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    rng = np.random.RandomState(32)
    img = rng.randint(0, 256, (11, 7, 3), dtype=np.uint8)
    grad = _gradient_img(w=19, h=9)
    for mode in range(14):
        for im in (img, grad):
            got = decode_webp(encode_webp(im, predictor=mode))
            assert np.array_equal(got, im), f"predictor {mode}"


def test_webp_transform_compositions_roundtrip():
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    rng = np.random.RandomState(33)
    img = rng.randint(0, 256, (13, 9, 3), dtype=np.uint8)
    for kw in (
        {"subtract_green": True},
        {"color_transform": (12, 250, 7)},
        {"subtract_green": True, "predictor": 11},
        {"subtract_green": True, "color_transform": (3, 4, 5), "predictor": 12},
        {"cache_bits": 4},
        {"meta_groups": True},
        {"meta_groups": True, "subtract_green": True, "predictor": 7,
         "cache_bits": 5, "rle": True},
    ):
        got = decode_webp(encode_webp(img, **kw))
        assert np.array_equal(got, img), kw


def test_webp_palette_all_bundle_widths():
    """Color indexing at every packing width: 8 px/byte (≤2 colors),
    4 px (≤4), 2 px (≤16) and unbundled (>16), on odd widths where the
    last packed byte is partial."""
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    rng = np.random.RandomState(34)
    for ncol in (2, 3, 4, 9, 16, 17, 200):
        pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.randint(0, ncol, (11, 7))]
        got = decode_webp(encode_webp(img, palette=True))
        assert np.array_equal(got, img), ncol


def test_webp_rle_and_cache_actually_compress():
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    img = np.zeros((32, 32, 3), np.uint8)
    img[:16] = (10, 20, 30)
    img[16:] = (200, 100, 50)
    plain = encode_webp(img)
    rle = encode_webp(img, rle=True)
    assert np.array_equal(decode_webp(rle), img)
    assert len(rle) < len(plain) / 4  # constant runs collapse to copies

    rng = np.random.RandomState(35)
    pal = rng.randint(0, 256, (8, 3), dtype=np.uint8)
    repetitive = pal[rng.randint(0, 8, (24, 24))]
    cached = encode_webp(repetitive, cache_bits=6)
    assert np.array_equal(decode_webp(cached), repetitive)
    assert len(cached) < len(encode_webp(repetitive))


def test_webp_rejects_bad_containers_and_lossy():
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00WAVE")  # wrong form type
    with pytest.raises(ValueError):
        decode_webp(b"not a webp at all")
    good = encode_webp(_gradient_img(w=8, h=8))
    with pytest.raises(ValueError):
        decode_webp(good[:20])  # truncated chunk
    # lossy VP8 chunk → PIL seam, loudly
    lossy = (
        b"RIFF" + _struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + _struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_webp(lossy)


def test_webp_corruption_never_hangs_or_crashes_interpreter():
    """Random single-bit corruptions of a valid VP8L stream must
    terminate with a clean ValueError or a (garbled) image — never an
    unbounded loop or another exception type."""
    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    base = bytearray(encode_webp(_gradient_img(w=16, h=12), subtract_green=True))
    rng = np.random.RandomState(36)
    for _ in range(40):
        bad = bytearray(base)
        pos = rng.randint(12, len(bad))
        bad[pos] ^= 1 << rng.randint(0, 8)
        try:
            im = decode_webp(bytes(bad))
            assert im.ndim == 3 and im.shape[2] == 3
        except (ValueError, NotImplementedError):
            pass  # clean rejection is fine


def test_webp_real_lossy_file_raises_toward_pil_seam():
    """The stdlib test corpus ships a real lossy WebP (VP8X + ALPH +
    VP8 chunks); the decoder must walk the extended container and raise
    the documented NotImplementedError, not crash."""
    import glob
    import os

    candidates = glob.glob(
        "/root/.pyenv/versions/*/lib/python*/test/**/python.webp", recursive=True
    )
    if not candidates:
        pytest.skip("no real webp in environment")
    payload = open(candidates[0], "rb").read()
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_image(payload)


def test_decode_image_dispatches_webp():
    from wing_binlog_go_spark.multimodal.codecs import encode_webp

    img = _gradient_img(w=10, h=6)
    assert np.array_equal(decode_image(encode_webp(img)), img)


def test_webp_anim_roundtrip_and_video_dispatch():
    """Animated lossless WebP: full-canvas frames round-trip exactly
    through ANMF compositing, decode_video yields cumulative
    timestamps, and decode_image returns the first composited frame
    (GIF-still parity)."""
    from wing_binlog_go_spark.multimodal import decode_video
    from wing_binlog_go_spark.multimodal.codecs import (
        decode_webp_anim,
        encode_webp_anim,
    )

    rng = np.random.RandomState(42)
    frames = [rng.randint(0, 256, (10, 14, 3), dtype=np.uint8) for _ in range(3)]
    data = encode_webp_anim(frames, duration_ms=40)
    got = decode_webp_anim(data)
    assert [d for d, _ in got] == [40, 40, 40]
    assert all(np.array_equal(f, g) for f, (_, g) in zip(frames, got))
    vid = decode_video(data)
    assert [ts for ts, _ in vid] == [0, 40, 80]
    assert np.array_equal(decode_image(data), frames[0])


def test_webp_anim_subrect_composites_over_previous_frame():
    """A sub-rect ANMF frame with overwrite blending must paint only
    its rect; the rest of the canvas keeps the previous frame."""
    from wing_binlog_go_spark.multimodal.codecs import (
        decode_webp_anim,
        encode_webp_anim,
    )

    rng = np.random.RandomState(43)
    base = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    patch = rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)
    out = decode_webp_anim(
        encode_webp_anim([(base, (0, 0)), (patch, (2, 4))], canvas=(8, 8))
    )
    assert len(out) == 2
    f2 = out[1][1]
    assert np.array_equal(f2[4:8, 2:6], patch)       # rect painted
    assert np.array_equal(f2[:4], base[:4])          # rest untouched
    assert np.array_equal(out[0][1], base)

    # odd offsets cannot be represented (2-px units) — loud error
    with pytest.raises(ValueError, match="2-px"):
        encode_webp_anim([(base, (0, 0)), (patch, (1, 4))], canvas=(8, 8))


def test_video_frame_features_on_webp_anim(spark):
    """Spark end-to-end on real animated-WebP bytes: mirrors the GIF
    video-feature test — sampled frames' phashes must equal the
    directly computed hashes."""
    from wing_binlog_go_spark.multimodal import video_frame_features
    from wing_binlog_go_spark.multimodal.codecs import (
        encode_webp_anim,
        grayscale,
        phash64,
    )

    rng = np.random.RandomState(44)
    frames = [rng.randint(0, 256, (16, 24, 3), dtype=np.uint8) for _ in range(4)]
    data = encode_webp_anim(frames, duration_ms=100)
    rows = [(1, data, ("image/webp", 24, 16, 400))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        (r.media_id, r.frame_ts_ms): r.phash
        for r in video_frame_features(df, every_ms=200).collect()
    }
    assert set(got) == {(1, 0), (1, 200)}
    assert got[(1, 0)] == phash64(grayscale(frames[0]))
    assert got[(1, 200)] == phash64(grayscale(frames[2]))


def test_video_near_dup_matches_across_gif_and_webp_containers(spark):
    """The SAME animation shipped as a GIF and as an animated lossless
    WebP must pair (frame phashes are container-independent); an
    unrelated WebP animation must not."""
    from wing_binlog_go_spark.multimodal import video_near_dup_pairs
    from wing_binlog_go_spark.multimodal.codecs import encode_gif, encode_webp_anim

    def quant(f):
        return (f // 64 * 64).astype(np.uint8)

    def animation(seed, n_frames=4):
        return [quant(_lowfreq_img(seed=seed * 13 + i)) for i in range(n_frames)]

    base = animation(1)
    rows = [
        (1, encode_gif(base, delay_ms=200), ("image/gif", 64, 48, 800)),
        (2, encode_webp_anim(base, duration_ms=200), ("image/webp", 64, 48, 800)),
        (3, encode_webp_anim(animation(7), duration_ms=200), ("image/webp", 64, 48, 800)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.media_a, r.media_b): r.shared_frames
        for r in video_near_dup_pairs(df, every_ms=200, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2  # same content, two containers
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_webp_roundtrip_property():
    """Hypothesis sweep: arbitrary small images at arbitrary encoder
    settings round-trip exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from wing_binlog_go_spark.multimodal.codecs import decode_webp, encode_webp

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 10),
        h=st.integers(1, 10),
        seed=st.integers(0, 10_000),
        sg=st.booleans(),
        pred=st.one_of(st.none(), st.integers(0, 13)),
        cache=st.sampled_from([0, 3]),
        rle=st.booleans(),
    )
    def check(w, h, seed, sg, pred, cache, rle):
        img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
        data = encode_webp(
            img, subtract_green=sg, predictor=pred, cache_bits=cache, rle=rle
        )
        assert np.array_equal(decode_webp(data), img)

    check()


def test_q111_multimodal_near_dup_exact_triangle(spark):
    """The registered multimodal query (rows-only at the driver) has a
    fully determined answer locally: each doc's three container
    encodings (BMP/PNG/WebP) of the SAME pixels decode identically, so
    every doc contributes exactly its format triangle — 3 pairs — and
    nothing pairs across docs."""
    from wing_binlog_go_spark.registry import all_queries

    q = all_queries()["q111_multimodal_near_dup"]
    rows = [(r.media_a, r.media_b) for r in
            q.spark(spark, "/root/testdata/sf0.001").collect()]
    doc_ids = range(8)
    expected = sorted(
        (d * 10 + a, d * 10 + b)
        for d in doc_ids
        for a, b in ((0, 1), (0, 2), (1, 2))
    )
    assert rows == expected


def test_png_16bit_depth_decodes_high_byte():
    """16-bit PNGs (gray, RGB and RGBA, plain and Sub-filtered) decode
    to the high byte of each big-endian sample — filtering is
    byte-oriented per the spec, so the unfilter path is shared with
    doubled bpp."""
    import struct as _struct
    import zlib as _zlib

    from wing_binlog_go_spark.multimodal.codecs import decode_png

    rng = np.random.RandomState(51)

    def build(color, ch, w, h, ftype=0):
        hi = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
        lo = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
        samples = (hi.astype(np.uint16) << 8) | lo
        rows = bytearray()
        raw = samples.astype(">u2").tobytes()
        stride = w * ch * 2
        prev = bytes(stride)
        for y in range(h):
            row = raw[y * stride : (y + 1) * stride]
            rows.append(ftype)
            if ftype == 0:
                rows += row
            else:  # Sub filter, bpp = ch*2 bytes
                bpp = ch * 2
                out = bytearray()
                for x in range(stride):
                    left = row[x - bpp] if x >= bpp else 0
                    out.append((row[x] - left) & 0xFF)
                rows += out
        png = b"\x89PNG\r\n\x1a\n"
        png += _png_chunk(
            b"IHDR", _struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0)
        )
        png += _png_chunk(b"IDAT", _zlib.compress(bytes(rows)))
        png += _png_chunk(b"IEND", b"")
        return png, hi

    for color, ch in ((0, 1), (2, 3), (6, 4)):
        for ftype in (0, 1):
            data, hi = build(color, ch, 7, 5, ftype)
            got = decode_png(data)
            if ch == 1:
                want = np.repeat(hi, 3, axis=2)
            else:
                want = hi[:, :, :3]
            assert np.array_equal(got, want), (color, ftype)

    # 16-bit palette is illegal; sub-byte depths still raise
    bad = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 16, 3, 0, 0, 0)
    ) + _png_chunk(b"IDAT", _zlib.compress(b"\x00" * 36)) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="16-bit palette"):
        decode_png(bad)
    bad4 = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 4, 3, 0, 0, 0)
    ) + _png_chunk(b"IDAT", _zlib.compress(b"\x00" * 12)) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="8/16-bit"):
        decode_png(bad4)


def test_gif_interlaced_roundtrip_and_disposal3():
    """The two formerly-raising GIF forms: interlaced frames round-trip
    through the four-pass de-interlace (odd heights included), and
    disposal 3 restores the PRE-FRAME canvas content — not background,
    not the frame — under the following frame."""
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import (
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    for h in (16, 13, 9, 1):
        frames = [f[:h] for f in _palette_frames(2)]
        got = decode_gif(encode_gif(frames, interlace=True))
        assert all(np.array_equal(a, b[1]) for a, b in zip(frames, got)), h

    # disposal 3: frame 2 paints a rect over frame 1 with disposal 3;
    # frame 3 paints one pixel — under it, frame 1's content is BACK
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # black/red/green
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80 | 0x01, 0, 0)
    out += pal
    # frame 1: all red
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, 4, 4, 0)
    lzw = _lzw_encode([1] * 16, 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    # frame 2: 2x2 green rect at (1,1), DISPOSAL 3 (restore previous)
    out += b"\x21\xf9\x04" + _struct.pack("<BHB", 3 << 2, 10, 0) + b"\x00"
    out += b"\x2c" + _struct.pack("<HHHHB", 1, 1, 2, 2, 0)
    lzw = _lzw_encode([2, 2, 2, 2], 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    # frame 3: single green pixel at (0,0)
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, 1, 1, 0)
    lzw = _lzw_encode([2], 2)
    out += bytes([2, len(lzw)]) + lzw + b"\x00"
    out.append(0x3B)
    frames = decode_gif(bytes(out))
    assert len(frames) == 3
    assert tuple(frames[1][1][1, 1]) == (0, 255, 0)  # rect visible in frame 2
    f3 = frames[2][1]
    assert tuple(f3[1, 1]) == (255, 0, 0)  # restored to frame-1 red
    assert tuple(f3[0, 0]) == (0, 255, 0)  # frame-3 pixel painted


def test_tiff_deflate_roundtrip():
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(52)
    img = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    data = encode_tiff(img, deflate=True)
    assert np.array_equal(decode_tiff(data), img)
    # compression tag says deflate (8)
    ifd_off = _struct.unpack_from("<I", data, 4)[0]
    n = _struct.unpack_from("<H", data, ifd_off)[0]
    tags = {}
    for e in range(n):
        off = ifd_off + 2 + e * 12
        tag, _t, _c, val = _struct.unpack_from("<HHII", data, off)
        tags[tag] = val
    assert tags[259] == 8
    # banded content actually compresses
    banded = np.repeat(_lowfreq_img(w=40, h=6, seed=17), 4, axis=0)
    enc = encode_tiff(banded, deflate=True)
    assert np.array_equal(decode_tiff(enc), banded)
    assert len(enc) < banded.size


def test_wav_float_and_24bit_decode():
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import decode_wav

    t = np.arange(800) / 8000.0
    sig = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float64)

    def wav(fmt_code, bits, payload):
        hdr = _struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(payload), b"WAVE",
            b"fmt ", 16, fmt_code, 1, 8000, 8000 * bits // 8, bits // 8, bits,
            b"data", len(payload),
        )
        return hdr + payload

    r32, m32 = decode_wav(wav(3, 32, sig.astype("<f4").tobytes()))
    assert r32 == 8000 and np.abs(m32 - sig).max() < 1e-6
    r64, m64 = decode_wav(wav(3, 64, sig.astype("<f8").tobytes()))
    assert np.abs(m64 - sig).max() == 0.0
    # 24-bit signed integer PCM
    v = np.round(sig * 8388607).astype(np.int64)
    raw = bytearray()
    for x in v:
        raw += int(x & 0xFFFFFF).to_bytes(3, "little")
    r24, m24 = decode_wav(wav(1, 24, bytes(raw)))
    assert np.abs(m24 - sig).max() < 1e-6
    # ADPCM still raises toward the seam
    with pytest.raises(ValueError, match="ADPCM"):
        decode_wav(wav(2, 4, b"\x00" * 64))


def test_decompression_bombs_reject_fast():
    """Hostile crawl bytes: a tiny PNG/TIFF whose DEFLATE stream claims
    small dimensions but expands to ~100 MB must reject with a clean
    ValueError BEFORE materializing the output (executor-OOM is the
    wrong failure mode), and quickly."""
    import struct as _struct
    import time as _time
    import zlib as _zlib

    from wing_binlog_go_spark.multimodal.codecs import decode_png, decode_tiff

    bomb = _zlib.compress(b"\x00" * (100 * 1024 * 1024), 9)  # ~100 KB in
    # PNG: 4x4 RGB header, bomb IDAT
    png = b"\x89PNG\r\n\x1a\n"
    png += _png_chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
    png += _png_chunk(b"IDAT", bomb)
    png += _png_chunk(b"IEND", b"")
    t0 = _time.perf_counter()
    with pytest.raises(ValueError, match="bomb|bound"):
        decode_png(png)
    assert _time.perf_counter() - t0 < 2.0

    # TIFF: 4x4 RGB, compression 8, bomb strip
    def entry(tag, ttype, count, value):
        return _struct.pack("<HHII", tag, ttype, count, value)

    ifd = _struct.pack("<H", 7)
    ifd += entry(256, 4, 1, 4) + entry(257, 4, 1, 4)
    ifd += entry(258, 3, 1, 8) + entry(259, 3, 1, 8) + entry(262, 3, 1, 2)
    data_off = 8 + 2 + 7 * 12 + 4
    ifd += entry(273, 4, 1, data_off) + entry(279, 4, 1, len(bomb))
    ifd += _struct.pack("<I", 0)
    tif = b"II*\x00" + _struct.pack("<I", 8) + ifd + bomb
    t0 = _time.perf_counter()
    with pytest.raises(ValueError, match="bomb|bound"):
        decode_tiff(tif)
    assert _time.perf_counter() - t0 < 2.0


def test_bmp_8bit_paletted_and_rle8():
    """8-bit paletted BMPs decode in both plain and RLE8 forms: random
    palettized content round-trips through the RLE8 encoder (runs +
    word-padded literal escapes + line/bitmap terminators), and a
    plain 8-bit BMP built by hand decodes through the palette."""
    import struct as _struct

    from wing_binlog_go_spark.multimodal.codecs import (
        decode_bmp,
        encode_bmp_rle8,
    )

    rng = np.random.RandomState(53)
    for shape, ncol in (((13, 9), 16), ((7, 31), 3), ((1, 5), 2), ((20, 20), 200)):
        pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.randint(0, ncol, shape)]
        got = decode_bmp(encode_bmp_rle8(img))
        assert np.array_equal(got, img), (shape, ncol)

    # plain (uncompressed) 8-bit paletted BMP, odd width → row padding
    pal = rng.randint(0, 256, (4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, (5, 3)).astype(np.uint8)
    stride = (3 + 3) & ~3
    rows = bytearray()
    for y in range(4, -1, -1):  # bottom-up
        rows += idx[y].tobytes() + b"\x00" * (stride - 3)
    palbytes = b"".join(bytes([int(c[2]), int(c[1]), int(c[0]), 0]) for c in pal)
    off = 14 + 40 + len(palbytes)
    hdr = _struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
    hdr += _struct.pack("<IiiHHIIiiII", 40, 3, 5, 1, 8, 0, len(rows), 0, 0, 4, 0)
    got = decode_bmp(hdr + palbytes + bytes(rows))
    assert np.array_equal(got, pal[idx])

    # out-of-range palette index rejects
    bad = bytearray(encode_bmp_rle8(pal[idx]))
    # palette says 4 colors; point an encoded run at index 250
    pos = bad.index(b"\x00\x01", 14 + 40 + 16) - 2  # before end-of-bitmap
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad[: 14 + 40 + 16]) + b"\x01\xfa\x00\x00\x00\x01")


def test_resize_plane_preserves_mean_and_constants():
    """Area-average resampling invariants: a constant image stays
    exactly constant at any target size, and global mean brightness is
    preserved (every source pixel is covered exactly once across the
    fractional output boxes)."""
    from wing_binlog_go_spark.multimodal.codecs import resize_plane, resize_rgb

    const = np.full((13, 7), 93.0)
    for oh, ow in [(4, 4), (26, 14), (5, 9)]:
        out = resize_plane(const, oh, ow)
        assert out.shape == (oh, ow)
        assert np.allclose(out, 93.0)

    img = _gradient_img(w=64, h=48)
    small = resize_rgb(img, 24, 32)
    assert small.shape == (24, 32, 3) and small.dtype == np.uint8
    # mean preserved to rounding
    assert abs(float(small.mean()) - float(img.mean())) < 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resize_rgb(img, 0, 32)
    with _pytest.raises(ValueError):
        resize_rgb(img[:, :, 0], 8, 8)


def test_resize_same_size_is_identity():
    """At the source dimensions every fractional box covers exactly one
    pixel, so resize must reproduce the input byte-for-byte — the
    anchor that the box geometry is aligned (an off-by-one in the grid
    would blur even the identity case)."""
    from wing_binlog_go_spark.multimodal.codecs import resize_rgb

    img = _gradient_img(w=64, h=48)
    assert np.array_equal(resize_rgb(img, 48, 64), img)


def test_resize_images_spark_mixed_formats(spark):
    """Spark-side resize over a mixed BMP/PNG corpus: output payloads
    decode to the target dims in both output formats; NULL payloads
    pass through as NULL rows."""
    from wing_binlog_go_spark.multimodal import decode_image, resize_images
    from wing_binlog_go_spark.multimodal.codecs import encode_bmp, encode_png

    img1 = _gradient_img(w=40, h=30, seed=1)
    img2 = _gradient_img(w=64, h=48, seed=2)
    rows = [
        (1, bytearray(encode_bmp(img1))),
        (2, bytearray(encode_png(img2))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    for fmt in ("bmp", "png"):
        out = {r.media_id: r for r in resize_images(df, 16, 20, fmt=fmt).collect()}
        assert out[3].payload is None and out[3].height is None
        for mid in (1, 2):
            r = out[mid]
            assert (r.height, r.width, r.n_bytes) == (16, 20, len(r.payload))
            dec = decode_image(bytes(r.payload))
            assert dec.shape == (16, 20, 3)


def test_resample_linear_preserves_tone_and_duration():
    """440 Hz at 8 kHz resampled to 16 kHz keeps its dominant FFT bin
    at 440 Hz and doubles the sample count; identity rate is a copy;
    bad rates raise."""
    import numpy as np
    import pytest

    from wing_binlog_go_spark.multimodal import codecs

    t = np.arange(8000) / 8000.0
    tone = 0.5 * np.sin(2 * np.pi * 440 * t)
    up = codecs.resample_linear(tone, 8000, 16000)
    assert len(up) == 16000
    freqs = np.fft.rfftfreq(len(up), 1 / 16000.0)
    peak = freqs[np.argmax(np.abs(np.fft.rfft(up)))]
    assert abs(peak - 440) < 2
    same = codecs.resample_linear(tone, 8000, 8000)
    assert np.array_equal(same, tone)
    with pytest.raises(ValueError):
        codecs.resample_linear(tone, 0, 16000)


def test_resample_audio_over_spark_mixed_formats(spark):
    """WAV and FLAC payloads normalize to one rate through the Spark
    op; NULL passes through; duration is preserved to one sample."""
    import numpy as np

    from wing_binlog_go_spark.multimodal import decode_audio, resample_audio
    from wing_binlog_go_spark.multimodal.codecs import encode_flac, encode_wav

    t8 = np.arange(4000) / 8000.0   # 0.5 s at 8 kHz
    t22 = np.arange(11025) / 22050.0  # 0.5 s at 22.05 kHz
    tone8 = 0.4 * np.sin(2 * np.pi * 300 * t8)
    tone22 = 0.4 * np.sin(2 * np.pi * 300 * t22)
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(tone8, rate=8000))),
            (2, bytearray(encode_flac(tone22, rate=22050))),
            (3, None),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in resample_audio(df, rate=16000).collect()}
    assert rows[3].payload is None
    for mid in (1, 2):
        rate, samples = decode_audio(bytes(rows[mid].payload))
        assert rate == 16000
        assert abs(len(samples) - 8000) <= 1  # 0.5 s at 16 kHz
        assert rows[mid].n_samples == len(samples)


def test_resample_sinc_beats_linear_near_nyquist():
    """The quality claim behind the seam: on a 3 kHz tone near the
    4 kHz input Nyquist, sinc upsampling reconstructs to ~1e-3 RMS
    while linear droops 20x worse; DC passes exactly; identity rate is
    a copy; an out-of-band tone DOWNsamples to near-silence (rejected,
    not aliased)."""
    import numpy as np

    from wing_binlog_go_spark.multimodal import codecs

    t = np.arange(8000) / 8000.0
    tone = 0.5 * np.sin(2 * np.pi * 3000 * t)  # 3 kHz, near 4 kHz Nyquist
    ref = 0.5 * np.sin(2 * np.pi * 3000 * np.arange(16000) / 16000.0)
    cut = slice(200, -200)  # ignore edge windows
    up_sinc = codecs.resample_sinc(tone, 8000, 16000)
    up_lin = codecs.resample_linear(tone, 8000, 16000)
    err_sinc = np.sqrt(np.mean((up_sinc[cut] - ref[cut]) ** 2))
    err_lin = np.sqrt(np.mean((up_lin[cut] - ref[cut]) ** 2))
    assert err_sinc < 2e-3
    assert err_sinc < err_lin / 20
    dc = codecs.resample_sinc(np.full(1000, 0.25), 8000, 12000)
    assert np.allclose(dc[50:-50], 0.25, atol=1e-9)
    same = codecs.resample_sinc(tone, 8000, 8000)
    assert np.array_equal(same, tone)
    # downsample of an out-of-band tone is attenuated (anti-aliased),
    # not folded: 3 kHz is above the 2 kHz Nyquist of 4 kHz output
    down = codecs.resample_sinc(tone, 8000, 4000)
    assert np.sqrt(np.mean(down[cut] ** 2)) < 0.05  # vs 0.35 RMS input


def test_q111b_frozen_phash_store_provenance_and_pairs(spark):
    """The committed phash table (resources/phashes_q111.json) must be
    exactly what the REAL codec path produces for the q111 fixture
    media — the provenance that makes the q111b hash-match evidence FOR
    the decode-backed family, not beside it. Per doc: 3 format
    encodings share one hash (the q111 triangle), the chunk-1 variant
    sits at hamming 1 (pairs), the chunk-0 variant at hamming 2
    (candidate via the agreeing chunk, rejected by the verify) — so
    q111b's 6 pairs/doc exercise accept, boundary, and reject."""
    import numpy as np

    from wing_binlog_go_spark.multimodal import decode_image
    from wing_binlog_go_spark.multimodal.codecs import (
        encode_bmp,
        encode_png,
        encode_webp,
        grayscale,
        phash64,
    )
    from wing_binlog_go_spark.multimodal.queries import (
        _q_multimodal_near_dup_frozen,
        load_frozen_phashes,
    )

    store = load_frozen_phashes()
    committed = {int(m): int(h) for m, h in store["media"]}
    assert store["max_hamming"] == 1 and store["n_chunks"] == 2
    assert len(committed) == 40  # 8 docs x (3 formats + 2 variants)

    def signed(h):
        h &= 0xFFFFFFFFFFFFFFFF
        return h - (1 << 64) if h >= (1 << 63) else h

    for did in range(8):
        img = np.random.RandomState(did).randint(
            0, 256, (16, 16, 3), dtype=np.uint8
        )
        for k, payload in enumerate(
            (encode_bmp(img), encode_png(img), encode_webp(img))
        ):
            real = phash64(grayscale(decode_image(payload)))
            assert committed[did * 10 + k] == real, (did, k)
        base = committed[did * 10]
        assert committed[did * 10 + 3] == signed(base ^ (1 << 37))
        assert committed[did * 10 + 4] == signed(base ^ 0b101)

    pairs = _q_multimodal_near_dup_frozen(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(pairs) == 48  # 6 per doc x 8 docs
    by_doc = {}
    for r in pairs:
        assert r.media_a // 10 == r.media_b // 10  # docs never cross-pair
        by_doc.setdefault(r.media_a // 10, []).append(
            (r.media_a % 10, r.media_b % 10, r.hamming)
        )
    want = sorted(
        [(a, b, 0) for a in range(3) for b in range(a + 1, 3)]
        + [(k, 3, 1) for k in range(3)]
    )
    for did, got in by_doc.items():
        assert sorted(got) == want, did  # variant 4 rejected everywhere
