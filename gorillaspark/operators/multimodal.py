"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery (schemas, batched Arrow UDF signatures,
partition sizing for fat binary rows) is real and tested. Media
decoding is REAL for the library-free formats — PCM WAV audio,
uncompressed 24-bit BMP images, and the GSV1 frame container (see
media_codecs.py) — via ``decoder='native'`` and the typed operators
:func:`audio_stats` / :func:`image_stats` / :func:`video_frame_stats`.
media_codecs.py grew a real baseline JPEG codec in r5 (MP4/MJPEG
demux+decode with it), an H.264 decoder in r7-r8 (h264.py —
Annex-B and avc1/avcC MP4 tracks, CAVLC, I/P/B GOPs with
every inter partition shape, quarter-pel MC, spatial+temporal
direct and weighted prediction). H.264 CABAC, the High-profile 8x8
transform, interlaced H.264 and H.265/HEVC (Annex-B payloads and
hvc1/hev1 MP4 tracks) are not decoded: ``decoder=`` hooks / parsers
raise ``NotImplementedError``. Swapping in ffmpeg/torchaudio on a real
cluster changes only the per-format branch: batch shapes, schemas
and partitioning are already exercised end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import media_codecs as mc

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),       # image|audio|video
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("payload", BinaryType(), False),     # opaque bytes
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("sha256", StringType(), False),
    StructField("feature", ArrayType(FloatType(), False), True),
])


def synthesize_media(spark, n: int = 256, seed: int = 3) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) for
    exercising the binary-column path at test scale."""
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"))
         .alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        F.lit(1000).alias("duration_ms"),
        F.sha2(F.concat(F.lit(seed), F.col("id").cast("string")), 512)
         .cast("binary").alias("payload"),
    )
    return df


def _fake_decode(kind: str, payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a real decoder: derives a fixed-size
    feature from the payload bytes (stable across runs/platforms)."""
    h = hashlib.sha256(kind.encode() + payload).digest()
    raw = np.frombuffer(h[: dim * 4], dtype="<u4").astype(np.float32)
    return raw / np.float32(2**32)


def _native_feature(payload: bytes, dim: int) -> np.ndarray:
    """Real decode dispatched on magic bytes → fixed-dim float feature.

    WAV → [sample_rate/1e5, channels, frames/1e6, duration_s, rms/2^15,
    peak/2^15, zcr rate, 0…]; BMP → [w/1e4, h/1e4, mean_r/255,
    mean_g/255, mean_b/255, ahash-bit density, 0…]; GSV1 → first-frame
    image feature with slot 6 = frame count. Compressed formats raise
    NotImplementedError — plug a real library there on a real cluster.
    """
    out = np.zeros(dim, dtype=np.float32)
    if payload[:4] == b"RIFF" or payload[:4] == b"fLaC":
        a = mc.audio_features(payload)
        n = max(a["n_samples"], 1)
        out[:7] = [a["sample_rate"] / 1e5, a["n_channels"],
                   a["n_samples"] / a["n_channels"] / 1e6
                   if a["n_channels"] else 0.0,
                   a["duration_ms"] / 1e3,
                   (a["sumsq"] / n) ** 0.5 / 32768.0,
                   a["peak"] / 32768.0,
                   a["zero_crossings"] / n]
    elif (payload[:2] == b"BM" or payload[:4] == b"GSV1"
          or payload[:8] == b"\x89PNG\r\n\x1a\n"
          or payload[:2] == b"\xff\xd8"
          or payload[4:8] == b"ftyp"):
        frames = 0
        if payload[:4] == b"GSV1":
            frames = sum(1 for _ in mc.gsv1_frames(bytes(payload)))
            _, _, payload = next(mc.gsv1_frames(bytes(payload)))
        elif payload[4:8] == b"ftyp":
            d = mc.mp4_demux(bytes(payload))
            frames = len(d["samples"])
            if not frames:
                raise ValueError("MP4 has no samples")
            payload = d["samples"][0]
        im = mc.image_features(payload)
        area = max(im["width"] * im["height"], 1)
        out[:6] = [im["width"] / 1e4, im["height"] / 1e4,
                   im["sum_r"] / area / 255.0, im["sum_g"] / area / 255.0,
                   im["sum_b"] / area / 255.0,
                   bin(im["ahash"] & (2**64 - 1)).count("1") / 64.0]
        out[6] = frames
    else:
        raise NotImplementedError(
            "payload is not WAV/FLAC/BMP/PNG/JPEG/GSV1/MP4; other "
            "compressed formats need codec libraries absent from "
            "this environment — plug a real decoder into this "
            "branch on a real cluster")
    return out


# shared with the other embarrassingly-parallel Python stages
# (simhash signatures, IVF corpus indexing) — see spread.py for the
# scale rationale
from .spread import spread as _spread  # noqa: E402  (re-export)


def extract_features(media: DataFrame, decoder: str = "stub",
                     dim: int = 8) -> DataFrame:
    """Batched feature extraction over the binary column.

    ``decoder='native'`` really decodes WAV/FLAC/BMP/PNG/JPEG/GSV1/MP4 payloads
    (media_codecs.py — no external libs needed); ``decoder='stub'``
    raises NotImplementedError (compressed formats need media libs
    absent from this container); ``decoder='fake'`` uses the
    deterministic byte-derived feature so the full Spark plumbing —
    Arrow batching of binary rows, schema, partition sizing — runs and
    is asserted in tests.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                if decoder == "fake":
                    feats.append(_fake_decode(kind, bytes(payload), dim))
                elif decoder == "native":
                    feats.append(_native_feature(bytes(payload), dim))
                else:
                    raise NotImplementedError(
                        "media decoding requires video codec libraries "
                        "not present in this environment; use "
                        "decoder='native' for WAV/BMP/PNG/JPEG/GSV1, "
                        "decoder='fake' for plumbing tests, or plug a "
                        "real decoder here")
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "sha256": [hashlib.sha256(bytes(p)).hexdigest()
                           for p in pdf["payload"]],
                "feature": feats,
            })

    return _spread(media).mapInPandas(run, FEATURE_SCHEMA)


AUDIO_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", IntegerType(), False),
    StructField("n_channels", IntegerType(), False),
    StructField("n_samples", LongType(), False),
    StructField("duration_ms", LongType(), False),
    StructField("sumsq", LongType(), False),
    StructField("peak", IntegerType(), False),
    StructField("zero_crossings", LongType(), False),
])

IMAGE_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("sum_r", LongType(), False),
    StructField("sum_g", LongType(), False),
    StructField("sum_b", LongType(), False),
    StructField("ahash", LongType(), False),
])

FRAME_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_index", IntegerType(), False),
    StructField("frame_ts_ms", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("ahash", LongType(), False),
])


def audio_stats(media: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """REAL WAV/FLAC decode → exact-integer audio statistics per row.

    All outputs are integers (sumsq is the exact sum of squared
    samples), so RMS = sqrt(sumsq/n) derived downstream is
    bit-reproducible — the property the DuckDB oracle relies on.
    Per-file decode is inherently per-row (each row is an independent
    media file); the numpy work inside each file is vectorized.
    """
    cols = media.select(F.col(id_col).alias("media_id"),
                        F.col(payload_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [mc.audio_features(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return _spread(cols).mapInPandas(run, AUDIO_STATS_SCHEMA)


def image_stats(media: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """REAL BMP decode → exact-integer channel sums + 8×8 aHash."""
    cols = media.select(F.col(id_col).alias("media_id"),
                        F.col(payload_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [mc.image_features(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return _spread(cols).mapInPandas(run, IMAGE_STATS_SCHEMA)


def video_frame_stats(media: DataFrame, every_ms: int = 1000,
                      id_col: str = "media_id",
                      payload_col: str = "payload") -> DataFrame:
    """REAL demux + per-frame decode, sampled every ``every_ms``:
    one output row per sampled frame (1→N fan-out inside the Arrow
    batch — the distributed frame-extraction shape). Containers: GSV1
    (BMP frames); real ISO-BMFF MP4 with Motion-JPEG samples (r5);
    avc1 H.264 tracks (r8: sample sequences decode as GOPs via
    h264_decode_gop, so P-frame samples predict from their references
    instead of failing standalone). hvc1/hev1 HEVC tracks raise
    ``NotImplementedError`` at demux; other unsupported fourccs raise
    at frame decode.
    """
    cols = media.select(F.col(id_col).alias("media_id"),
                        F.col(payload_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p)
                if p[4:8] == b"ftyp":
                    # MP4: avc1 P samples need GOP-ordered decode —
                    # the feature generator handles both fourccs
                    frames = mc.mp4_sample_frame_features(p, every_ms)
                else:
                    frames = ((idx, ts, mc.image_features(bmp))
                              for idx, ts, bmp
                              in mc.gsv1_sample_frames(p, every_ms))
                for idx, ts, im in frames:
                    recs.append({"media_id": mid, "frame_index": idx,
                                 "frame_ts_ms": ts, "width": im["width"],
                                 "height": im["height"],
                                 "ahash": im["ahash"]})
            yield pd.DataFrame(recs, columns=[f.name for f in
                                              FRAME_STATS_SCHEMA])

    return _spread(cols).mapInPandas(run, FRAME_STATS_SCHEMA)


def synthesize_real_media(spark, n: int = 60, seed: int = 11) -> DataFrame:
    """Deterministic media table whose payloads are REAL encoded files
    (WAV sine bursts, BMP gradients, GSV1 frame stacks) — used to
    exercise the native decode path end to end at test scale.
    Generation is distributed (mapInPandas over spark.range)."""
    base = spark.range(n).select(F.col("id").alias("media_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rng = np.random.default_rng(seed * 1_000_003 + mid)
                kind = ("audio", "image", "video")[mid % 3]
                if kind == "audio":
                    sr = 8000
                    t = np.arange(sr // 2 + mid % 100)
                    freq = 100 + (mid % 40) * 10
                    s = (np.sin(2 * np.pi * freq * t / sr) * 12000 +
                         rng.normal(0, 300, t.size)).astype(np.int16)
                    payload = mc.wav_encode(s, sr)
                    w = h = 0
                    dur = t.size * 1000 // sr
                elif kind == "image":
                    h, w = 24 + mid % 3 * 8, 32 + mid % 5 * 8
                    yy, xx = np.mgrid[0:h, 0:w]
                    px = np.stack([(xx * 5 + mid) % 256,
                                   (yy * 7 + mid * 3) % 256,
                                   (xx + yy + mid * 7) % 256],
                                  axis=2).astype(np.uint8)
                    payload = mc.bmp_encode(px)
                    dur = 0
                else:
                    h, w = 16, 16
                    nf = 3 + mid % 4
                    frames = []
                    for k in range(nf):
                        yy, xx = np.mgrid[0:h, 0:w]
                        frames.append(((xx * 3 + yy * 5 + mid + k * 17)
                                       % 256)[:, :, None]
                                      .repeat(3, 2).astype(np.uint8))
                    payload = mc.gsv1_encode(frames, 500)
                    dur = (nf - 1) * 500
                recs.append({"media_id": mid, "kind": kind,
                             "mime": {"audio": "audio/wav",
                                      "image": "image/bmp",
                                      "video": "video/x-gsv1"}[kind],
                             "width": w, "height": h,
                             "duration_ms": dur, "payload": payload})
            yield pd.DataFrame(recs, columns=[f.name for f in MEDIA_SCHEMA])

    return base.repartition(8, "media_id").mapInPandas(gen, MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts) —
    the explode is JVM-side; actual frame decode goes through
    :func:`extract_features`-style hooks."""
    return (media.where(F.col("kind") == "video")
            .select("media_id",
                    F.explode(
                        F.sequence(F.lit(0), F.col("duration_ms"),
                                   F.lit(every_ms))).alias("frame_ts_ms")))
