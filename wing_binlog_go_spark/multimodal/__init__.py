"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Driver north star: at 100 TB, media payloads dominate storage, so the
plumbing matters more than any single codec:

- payloads are ``binary`` columns (parquet keeps them out of dictionary
  encoding), metadata is a typed struct so predicates (mime, width,
  duration) push down WITHOUT touching bytes;
- decode/feature steps run in ``mapInPandas`` so each Arrow batch moves
  to Python once, and ``spark.sql.execution.arrow.maxRecordsPerBatch``
  bounds executor memory against large blobs;
- partition by size: ``repartition`` on a size-bucket column keeps blob
  skew from starving tasks.

Codecs: all three modalities decode for REAL via the pure-Python
``codecs`` module — images (BMP 24/32-bit; PNG 8-bit, all five color
types, Adam7 interlace included, DEFLATE via stdlib zlib; JPEG baseline
AND progressive; GIF stills; TIFF uncompressed/PackBits/LZW; lossless
WebP/VP8L with all four transforms, color cache, LZ77 and meta prefix
codes), audio (WAV 8/16-bit PCM; FLAC per RFC 9639) and video
(animated GIF: LZW + frame compositing). ``decode_image`` /
``decode_audio`` / ``decode_video`` dispatch on the payload's magic
bytes and return actual pixel/sample/frame arrays, with a classic DCT
perceptual hash over real pixels. Formats still needing codec
libraries this environment lacks (WebP-lossy/MP3/MP4) raise
NotImplementedError at the dispatch point, and ``fake_decode_image``
remains the deterministic stand-in for format-agnostic plumbing tests.
A real deployment drops PIL/ffmpeg in behind the same seam.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("phash", T.LongType()),
    ]
)


def decode_image(payload: bytes) -> "object":
    """Decode an image payload → H×W×3 uint8 RGB ndarray.

    Dispatches on magic bytes: BMP, PNG (incl. Adam7), JPEG (baseline +
    progressive), GIF stills, TIFF and lossless WebP (VP8L) decode
    natively (pure Python + numpy + stdlib zlib); lossy WebP (VP8)
    would go through PIL/ffmpeg, which are not available here."""
    from wing_binlog_go_spark.multimodal import codecs

    if payload[:2] == b"BM":
        return codecs.decode_bmp(payload)
    if payload[:8] == codecs._PNG_MAGIC:
        return codecs.decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return codecs.decode_jpeg(payload)
    if payload[:4] == b"GIF8":  # still image = first composited frame
        return codecs.decode_gif(payload)[0][1]
    if payload[:2] in (b"II", b"MM"):
        return codecs.decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        if any(f == b"ANMF" for f, _ in codecs._webp_chunks(payload)):
            # still image = first composited animation frame (GIF parity)
            return codecs.decode_webp_anim(payload)[0][1]
        return codecs.decode_webp(payload)  # VP8L; lossy raises inside
    raise NotImplementedError(
        "only BMP, PNG, JPEG (baseline+progressive), GIF, TIFF and "
        "lossless WebP have built-in decoders; other formats need PIL, "
        "which is not installed in this environment"
    )


def real_decode_image(payload: bytes | None) -> dict:
    """Feature extractor over REAL pixels (drop-in for the
    ``batch_decoder`` seam of :func:`image_features`): decodes the
    payload, then derives n_bytes, mean luma, and the DCT perceptual
    hash (``codecs.phash64``). NULL payloads yield null features, same
    contract as the fake."""
    if payload is None:
        return {"n_bytes": None, "mean_byte": None, "phash": None}
    from wing_binlog_go_spark.multimodal import codecs

    gray = codecs.grayscale(decode_image(payload))
    return {
        "n_bytes": len(payload),
        "mean_byte": float(gray.mean()),
        "phash": codecs.phash64(gray),
    }


def fake_decode_image(payload: bytes | None) -> dict:
    """Deterministic stand-in for a decoder: derives stable pseudo-features
    from the raw bytes so the pipeline shape is testable end-to-end.
    NULL payloads (failed fetches are normal in a media corpus) yield
    null-ish features instead of killing the task."""
    if payload is None:
        return {"n_bytes": None, "mean_byte": None, "phash": None}
    n = len(payload)
    mean = (sum(payload) / n) if n else 0.0
    # 64-bit rolling hash as a stand-in perceptual hash; two's-complement
    # reinterpretation into a signed long (NOT a bias shift — external
    # recomputations of the hash must byte-match)
    h = 1469598103934665603
    for b in payload:
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return {"n_bytes": n, "mean_byte": mean, "phash": h - (1 << 64) if h >= (1 << 63) else h}


def image_features(df: DataFrame, batch_decoder=fake_decode_image) -> DataFrame:
    """payload → feature rows via mapInPandas (one Arrow batch per call)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [batch_decoder(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "mean_byte": [f["mean_byte"] for f in feats],
                    # Int64: a NULL makes a plain column float64, which cannot hold a 64-bit hash
                    "phash": pd.array([f["phash"] for f in feats], dtype="Int64"),
                }
            )

    return df.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resize_images(
    df: DataFrame, height: int, width: int, fmt: str = "bmp"
) -> DataFrame:
    """Distributed decode → exact area-average resize → re-encode over
    a binary image column — the normalize-resolution step of a
    multimodal training pipeline, REAL end-to-end on the formats the
    built-in decoders cover (BMP/PNG/JPEG/GIF/TIFF/VP8L WebP in,
    BMP or PNG out).

    Shape: Arrow-batched ``mapInPandas``, one Python roundtrip per
    batch, zero shuffle — parallelism is the scan's. NULL payloads
    pass through as NULL rows (failed fetches are normal in a media
    corpus); an undecodable payload raises loudly (same contract as
    ``decode_image`` — silent drops would skew the corpus). The
    resampler is ``codecs.resize_plane``: every output pixel averages
    exactly the source region it covers, so downscale is alias-free
    and mean brightness is preserved to rounding.
    """
    from wing_binlog_go_spark.multimodal import codecs

    encoders = {"bmp": codecs.encode_bmp, "png": codecs.encode_png}
    if fmt not in encoders:
        raise ValueError(f"resize_images: fmt must be one of {sorted(encoders)}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = encoders[fmt]
        for pdf in batches:
            payloads, hs, ws, nb = [], [], [], []
            for p in pdf["payload"]:
                if p is None:
                    payloads.append(None); hs.append(None)
                    ws.append(None); nb.append(None)
                    continue
                img = codecs.resize_rgb(decode_image(bytes(p)), height, width)
                out = enc(img)
                payloads.append(out)
                hs.append(height); ws.append(width); nb.append(len(out))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "height": pd.array(hs, dtype="Int32"),
                    "width": pd.array(ws, dtype="Int32"),
                    "n_bytes": pd.array(nb, dtype="Int64"),
                }
            )

    return df.mapInPandas(run, RESIZED_IMAGE_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def decode_audio(payload: bytes) -> "object":
    """Decode an audio payload → (sample_rate, mono float64 samples).

    RIFF/WAVE PCM and FLAC decode natively (``codecs.decode_wav`` /
    ``codecs.decode_flac``); lossy formats would go through
    soundfile/ffmpeg, not available here."""
    from wing_binlog_go_spark.multimodal import codecs

    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return codecs.decode_wav(payload)
    if payload[:4] == b"fLaC":
        return codecs.decode_flac(payload)
    raise NotImplementedError(
        "only PCM WAV and FLAC have built-in decoders; MP3/Vorbis/... "
        "need ffmpeg/soundfile, which are not installed in this "
        "environment"
    )


def real_decode_audio(payload: bytes | None) -> dict:
    """Feature extractor over REAL samples (drop-in for the
    ``batch_decoder`` seam of :func:`audio_features`): RMS level and
    zero-crossing count over the decoded mono signal."""
    if payload is None:
        return {"n_bytes": None, "rms": None, "zero_crossings": None}
    import numpy as np

    _rate, mono = decode_audio(payload)
    n = len(mono)
    rms = float(np.sqrt(np.mean(mono * mono))) if n else 0.0
    zc = int(np.count_nonzero(np.signbit(mono[:-1]) != np.signbit(mono[1:]))) if n > 1 else 0
    return {"n_bytes": len(payload), "rms": rms, "zero_crossings": zc}


def fake_decode_audio(payload: bytes | None) -> dict:
    """Deterministic stand-in: treat bytes as signed samples."""
    if payload is None:
        return {"n_bytes": None, "rms": None, "zero_crossings": None}
    samples = [b - 128 for b in payload]
    n = len(samples)
    rms = (sum(s * s for s in samples) / n) ** 0.5 if n else 0.0
    zc = sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
    )
    return {"n_bytes": n, "rms": rms, "zero_crossings": zc}


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fp", T.LongType()),
    ]
)


def real_audio_fingerprint(payload: bytes | None) -> "int | None":
    """Payload → 64-bit perceptual audio fingerprint
    (``codecs.audio_phash64`` over the decoded mono signal); NULL
    payloads yield None — same contract as the image feature seam."""
    if payload is None:
        return None
    from wing_binlog_go_spark.multimodal import codecs

    _rate, mono = decode_audio(payload)
    return codecs.audio_phash64(mono)


def audio_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    n_chunks: int | None = None,
    fingerprint=real_audio_fingerprint,
) -> DataFrame:
    """Near-duplicate audio by perceptual-fingerprint distance — the
    same pigeonhole chunk equi-join the image phash and text SimHash
    paths use (operators.dedup.hamming_chunk_pairs), so every modality's
    near-dup shares one scale shape: fingerprints build in an
    Arrow-batched map pass, candidates come from an equi-join on
    (chunk index, chunk value), and the exact bit_count filter makes
    recall within the radius deterministic."""
    from wing_binlog_go_spark.operators.dedup import hamming_chunk_pairs

    if n_chunks is None:
        n_chunks = max_hamming + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Int64: a NULL makes a plain column float64, which cannot hold a 64-bit hash
            fps = pd.array([fingerprint(p) for p in pdf["payload"]], dtype="Int64")
            yield pd.DataFrame({"media_id": pdf["media_id"], "fp": fps})

    feats = (
        df.mapInPandas(run, AUDIO_FP_SCHEMA)
        .filter(F.col("fp").isNotNull())
        .localCheckpoint(eager=True)  # decode once, not once per join side
    )
    return hamming_chunk_pairs(
        feats,
        "media_id",
        "fp",
        max_hamming,
        n_chunks=n_chunks,
        out_a="media_a",
        out_b="media_b",
    )


def audio_features(df: DataFrame, batch_decoder=fake_decode_audio) -> DataFrame:
    """payload → audio feature rows via mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [batch_decoder(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "rms": [f["rms"] for f in feats],
                    "zero_crossings": [f["zero_crossings"] for f in feats],
                }
            )

    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def decode_video(payload: bytes) -> "list[tuple[int, object]]":
    """Decode a video payload → list of (ts_ms, H×W×3 RGB frame).

    Animated GIF and animated lossless WebP (ANMF chapters carrying
    VP8L frames) decode natively with full-canvas compositing; frame
    timestamps are the cumulative presentation delays. Container
    formats (MP4/WebM) and lossy-WebP animations need ffmpeg, not
    available here — same dispatch seam as images/audio."""
    from wing_binlog_go_spark.multimodal import codecs

    if payload[:4] == b"GIF8":
        frames = codecs.decode_gif(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        frames = codecs.decode_webp_anim(payload)
    else:
        raise NotImplementedError(
            "only animated GIF and animated lossless WebP have built-in "
            "video decoders; MP4/WebM/... need ffmpeg, which is not "
            "installed in this environment"
        )
    ts = 0
    out = []
    for delay_ms, frame in frames:
        out.append((ts, frame))
        ts += max(delay_ms, 1)
    return out


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_ts_ms", T.IntegerType()),
        T.StructField("phash", T.LongType()),
    ]
)


def video_frame_features(
    df: DataFrame, every_ms: int = 1000, frame_decoder=decode_video
) -> DataFrame:
    """REAL frame sampling: decode each payload's frames, keep the
    last-presented frame at each ``every_ms`` tick, and emit one row per
    sampled frame with its perceptual hash — the decode-backed
    counterpart of :func:`frame_sample_plan` (which emits the row
    explosion without touching bytes).

    Runs in ``mapInPandas`` like the image/audio paths: one Arrow batch
    of payloads per call, per-frame numpy work (compositing + DCT)
    vectorized inside. NULL or undecodable-format payloads yield no
    rows rather than killing the task (failed fetches are normal in a
    media corpus); genuinely corrupt bytes of a supported format still
    raise, as elsewhere in the codec layer."""
    if every_ms <= 0:
        # the sampling loop advances by every_ms: a non-positive step
        # would spin an executor forever — fail at plan time instead
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    from wing_binlog_go_spark.multimodal import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ts_out, hashes = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    frames = frame_decoder(bytes(payload))
                except NotImplementedError:
                    continue
                # last frame presented at or before each sample tick
                end_ts = frames[-1][0]
                tick, fi = 0, 0
                while tick <= end_ts:
                    while fi + 1 < len(frames) and frames[fi + 1][0] <= tick:
                        fi += 1
                    ids.append(mid)
                    ts_out.append(tick)
                    hashes.append(
                        codecs.phash64(codecs.grayscale(frames[fi][1]))
                    )
                    tick += every_ms
            yield pd.DataFrame(
                {"media_id": ids, "frame_ts_ms": ts_out, "phash": hashes}
            )

    return df.mapInPandas(run, VIDEO_FRAME_SCHEMA)


def video_near_dup_pairs(
    df: DataFrame,
    every_ms: int = 1000,
    max_hamming: int = 6,
    min_shared_frames: int = 2,
    frame_decoder=decode_video,
) -> DataFrame:
    """Near-duplicate VIDEOS: pairs whose sampled frames match at
    ``min_shared_frames`` or more distinct ticks within the perceptual-
    hash radius — shot-level matching over the per-frame hashes of
    :func:`video_frame_features` (a re-encoded/re-scaled copy shares
    most frame hashes; unrelated footage shares none).

    Scale shape: same pigeonhole chunk equi-join as every other
    modality, keyed per FRAME; the frame-pair stream then aggregates on
    the (video_a, video_b) pair counting distinct matched source ticks.
    No cross product at either level. Returns
    (media_a, media_b, shared_frames, min_hamming).
    """
    n_chunks = max_hamming + 1
    feats = video_frame_features(
        df, every_ms=every_ms, frame_decoder=frame_decoder
    ).localCheckpoint(eager=True)
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("phash"), bits * c).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    )
    b = feats.select(
        F.col("media_id").alias("_mid"),
        F.col("frame_ts_ms").alias("_ts"),
        F.col("phash").alias("_h"),
        F.posexplode(chunks).alias("chunk_no", "chunk"),
    )
    lhs, rhs = b.alias("a"), b.alias("b")
    frame_pairs = (
        lhs.join(
            rhs,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._mid") < F.col("b._mid")),  # cross-video only
        )
        .select(
            F.col("a._mid").alias("media_a"),
            F.col("b._mid").alias("media_b"),
            F.col("a._ts").alias("ts_a"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return (
        frame_pairs.groupBy("media_a", "media_b")
        .agg(
            F.countDistinct("ts_a").alias("shared_frames"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp.

    The decode of each frame is the stubbed step; the row explosion —
    which is the part that matters for partitioning (a 2-hour video is
    7200 rows at 1 fps) — is real Spark: sequence+explode, no UDF.
    """
    # greatest(0, ·): a corrupt negative duration would make sequence()
    # raise 'illegal boundaries' (step sign must match direction)
    safe_duration = F.greatest(
        F.lit(0), F.coalesce(F.col("meta.duration_ms"), F.lit(0))
    )
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), safe_duration, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def phash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n_chunks: int | None = None,
    batch_decoder=fake_decode_image,
) -> DataFrame:
    """Near-duplicate media by perceptual-hash distance — the chunked
    pigeonhole join shared with text SimHash dedup
    (operators.dedup.hamming_chunk_pairs).

    Perceptual near-dup thresholds are often looser than SimHash text
    thresholds (re-encodes/resizes flip many bits), so ``n_chunks``
    defaults to ``max_hamming + 1`` — the minimum satisfying the
    pigeonhole guarantee — instead of the fixed 4 of the text path.
    More chunks ⇒ shorter chunk values ⇒ more false candidates, all
    pruned by the exact bit_count filter; the join stays an equi-join.
    ``batch_decoder`` swaps the codec (the real decoder when available,
    a deterministic fake in this environment).
    """
    from wing_binlog_go_spark.operators.dedup import hamming_chunk_pairs

    if n_chunks is None:
        n_chunks = max_hamming + 1
    # localCheckpoint: the chunk self-join would otherwise run the Arrow
    # decode pass once per side (mapInPandas is opaque to exchange reuse)
    feats = (
        image_features(df, batch_decoder=batch_decoder)
        .filter(F.col("phash").isNotNull())  # NULL payloads have no hash
        .select("media_id", "phash")
        .localCheckpoint(eager=True)
    )
    return hamming_chunk_pairs(
        feats,
        "media_id",
        "phash",
        max_hamming,
        n_chunks=n_chunks,
        out_a="media_a",
        out_b="media_b",
    )


def size_bucketed(df: DataFrame, buckets: int = 32) -> DataFrame:
    """Spread blob rows evenly across partitions by hashed id.

    (Size % buckets would send all equal-sized blobs — the common case
    after a resize step — to ONE bucket, concentrating skew instead of
    spreading it.)"""
    return df.withColumn(
        "_spread", F.pmod(F.xxhash64("media_id"), F.lit(buckets)).cast("int")
    ).repartition(buckets, "_spread").drop("_spread")


RESAMPLED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resample_audio(
    df: DataFrame, rate: int = 16000, method: str = "linear"
) -> DataFrame:
    """Distributed decode → linear resample → 16-bit WAV re-encode over
    a binary audio column — the normalize-sample-rate step of a
    multimodal training pipeline (models expect one rate), REAL
    end-to-end for WAV/FLAC inputs. The audio sibling of
    ``resize_images``: same Arrow-batched ``mapInPandas`` shape, zero
    shuffle, NULL payloads pass through, undecodable payloads raise
    loudly. ``method="linear"`` (cheap, high-frequency droop) or
    ``"sinc"`` (band-limited windowed-sinc: anti-aliased downsampling,
    near-exact in-band reconstruction — see ``codecs.resample_sinc``).
    """
    from wing_binlog_go_spark.multimodal import codecs

    resamplers = {"linear": codecs.resample_linear, "sinc": codecs.resample_sinc}
    if method not in resamplers:
        raise ValueError(f"method must be one of {sorted(resamplers)}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = resamplers[method]
        for pdf in batches:
            payloads, rates, ns, nb = [], [], [], []
            for p in pdf["payload"]:
                if p is None:
                    payloads.append(None); rates.append(None)
                    ns.append(None); nb.append(None)
                    continue
                src_rate, samples = decode_audio(bytes(p))
                out_samples = fn(samples, src_rate, rate)
                out = codecs.encode_wav(out_samples, rate=rate)
                payloads.append(out)
                rates.append(rate); ns.append(len(out_samples)); nb.append(len(out))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "rate": pd.array(rates, dtype="Int32"),
                    "n_samples": pd.array(ns, dtype="Int64"),
                    "n_bytes": pd.array(nb, dtype="Int64"),
                }
            )

    return df.mapInPandas(run, RESAMPLED_AUDIO_SCHEMA)
