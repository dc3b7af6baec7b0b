"""Pure-numpy codecs for library-free media formats.

The sandbox ships no PIL/ffmpeg/torchaudio, but two real interchange
formats need nothing beyond byte arithmetic, so their decode paths are
REAL here (not stubbed): RIFF/WAVE PCM-16 audio and uncompressed
24-bit BI_RGB BMP images — and PNG, whose only compressor is
DEFLATE (stdlib zlib), is decoded for real too (r7: every legal
color-type/bit-depth combo — grey 1/2/4/8/16, RGB 8/16, palette
1/2/4/8 with tRNS, grey+alpha and RGBA 8/16, Adam7 interlace —
every legal PNG decodes). Baseline JPEG joined in r5:
huffman + 8x8 DCT are numpy-sized problems, so encode AND decode are
real below (SOF0 + progressive SOF2 from r7, 4:4:4/4:2:0/4:2:2,
restart markers; arithmetic / 12-bit raise). From r7, baseline H.264 (h264.py)
decodes for real too: Annex-B CAVLC IDR frames — standalone or as
avc1 MP4 tracks (avcC record + length-prefixed samples, ISO/IEC
14496-15) — and GOPs with P slices (one reference, P_L0_16x16 /
P_Skip / intra-in-P, quarter-pel motion compensation,
h264_decode_gop), B slices, every inter partition shape and
weighted prediction. Out of scope, rejected with
NotImplementedError: H.264 CABAC and the High-profile 8x8
transform, and H.265/HEVC in any form (Annex-B payloads, detected by
_is_annexb_h265 so they are never misparsed as H.264, and hvc1/hev1
MP4 tracks). The H.264 deblocking filter is not implemented either:
the decoder refuses streams that need it.

Also defines GSV1, a minimal documented frame container (magic +
frame interval + length-prefixed BMP frames) so video frame-sampling
exercises real byte-level demuxing + per-frame decode instead of a
pretend plan.

Everything is deterministic and endian-explicit (little-endian, as
both formats specify), so encoded bytes and decoded features are
stable across platforms — which is what lets the driver's DuckDB
oracle reproduce decoded statistics analytically.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# WAV (RIFF / PCM signed 16-bit little-endian)
# ---------------------------------------------------------------------------


def wav_encode(samples: np.ndarray, sample_rate: int = 16000,
               n_channels: int = 1) -> bytes:
    """Encode int16 samples (interleaved if multi-channel) as PCM WAV."""
    s = np.ascontiguousarray(samples, dtype="<i2")
    if s.size % n_channels:
        raise ValueError("sample count not divisible by channel count")
    data = s.tobytes()
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_channels,
                                sample_rate, byte_rate, block_align, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def _loud_corruption(fn):
    """Public-decoder wrapper: truncated/corrupt payloads surface as
    ValueError (the ingestion contract), never as the internal
    IndexError/KeyError/struct.error/zlib.error a malformed buffer
    happens to trip first — at 100 TB these parsers read untrusted
    bytes and an executor task must fail with the real story."""
    import functools
    import zlib as _zlib

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        try:
            return fn(*a, **kw)
        except (ValueError, NotImplementedError):
            raise
        except (IndexError, KeyError, struct.error,
                _zlib.error, OverflowError) as e:
            raise ValueError(
                f"corrupt or truncated payload in {fn.__name__}: "
                f"{type(e).__name__}: {e}") from e
    return wrapped


@_loud_corruption
def wav_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PCM-16 WAV: (sample_rate, n_channels, int16 samples).

    Walks the RIFF chunk list properly (fmt/data may be preceded by
    LIST/fact chunks in the wild); rejects non-PCM / non-16-bit.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    sample_rate = n_channels = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, n_channels, sample_rate = struct.unpack_from(
                "<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM-16 supported (fmt={fmt_tag}, bits={bits})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)          # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return sample_rate, n_channels, np.frombuffer(data, dtype="<i2")


def audio_features(payload: bytes) -> dict:
    """Exact-integer audio statistics from a PCM WAV or FLAC payload
    (FLAC: real rice+predictor decode, flac_decode below — lossless,
    so the statistics are identical to the source samples').

    ``sumsq`` is the exact int64 sum of squared samples so downstream
    RMS = sqrt(sumsq/n) is bit-reproducible across engines (no
    accumulation-order float drift); zcr counts sign boundaries over
    the interleaved stream.
    """
    if payload[:4] == b"fLaC":
        sr, nch, s = flac_decode(payload)
    else:
        sr, nch, s = wav_decode(payload)
    n = int(s.size)
    frames = n // nch if nch else 0
    s64 = s.astype(np.int64)
    sumsq = int((s64 * s64).sum())
    peak = int(np.abs(s64).max()) if n else 0
    zc = int(((s64[:-1] >= 0) != (s64[1:] >= 0)).sum()) if n > 1 else 0
    return {
        "sample_rate": sr, "n_channels": nch, "n_samples": n,
        "duration_ms": frames * 1000 // sr if sr else 0,
        "sumsq": sumsq, "peak": peak, "zero_crossings": zc,
    }


# ---------------------------------------------------------------------------
# BMP (uncompressed 24-bit BI_RGB)
# ---------------------------------------------------------------------------


def bmp_encode(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a bottom-up 24-bit BMP."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("expected (h, w, 3) RGB array")
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = rows.tobytes()
    file_hdr = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           len(data), 2835, 2835, 0, 0)
    return file_hdr + info_hdr + data


@_loud_corruption
def bmp_decode(payload: bytes) -> np.ndarray:
    """Decode a 24-bit BI_RGB BMP into an (h, w, 3) uint8 RGB array.

    Handles bottom-up (positive height) and top-down (negative height)
    layouts and 4-byte row padding; rejects palettes/compression."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=h * stride, offset=data_off)
    rows = raw.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]                    # BGR -> RGB
    return rgb if top_down else rgb[::-1]


def _is_annexb(payload: bytes) -> bool:
    return (payload[:4] == b"\x00\x00\x00\x01"
            or payload[:3] == b"\x00\x00\x01")


@_loud_corruption
def h264_rgb(payload: bytes) -> np.ndarray:
    """Intra-only baseline H.264 Annex-B access unit → (h, w, 3)
    uint8 RGB (h264.py — real CAVLC + intra prediction decode)."""
    from . import h264 as _h264
    return _h264.h264_decode(payload)


def _is_annexb_h265(payload: bytes) -> bool:
    """H.265 vs H.264 Annex-B: the 2-byte H.265 NAL header makes the
    first NAL byte EVEN (bit 0 is the top of nuh_layer_id) with a
    6-bit type in the parameter-set/IRAP/SEI range, while every
    H.264 stream leads with an odd-first-byte SPS/PPS/IDR NAL
    (nal_ref_idc in bits 5-6, 5-bit type)."""
    i = 4 if payload[:4] == b"\x00\x00\x00\x01" else 3
    if len(payload) <= i:
        return False
    b0 = payload[i]
    return (b0 & 0x81) == 0 and ((b0 >> 1) & 0x3F) in (
        16, 17, 18, 19, 20, 21, 32, 33, 34, 35, 39, 40)


def image_features(payload: bytes) -> dict:
    """Exact-integer image statistics from a BMP or PNG payload
    (PNG: real zlib+unfilter decode, png_decode below; grey/RGBA
    normalize to RGB first).

    Channel sums are exact int64 (the oracle divides later if it wants
    means). ``ahash`` is an 8×8 average hash computed entirely in
    integer arithmetic so it is bit-identical cross-engine: luminance
    = 299R+587G+114B (×1000 fixed point, no division), block sums over
    the integer partition boundaries i*h//8, bit set iff
    64·blocksum·blockarea_total > totalsum·blockarea·64 — reduced to
    the cross-multiplied integer comparison below.
    """
    if payload[:8] == _PNG_MAGIC:
        px = _to_rgb(png_decode(payload)).astype(np.int64)
    elif payload[:2] == b"\xff\xd8":
        px = _to_rgb(jpeg_decode(payload)).astype(np.int64)
    elif _is_annexb(payload):
        if _is_annexb_h265(payload):
            raise NotImplementedError("H.265/HEVC streams unsupported: "
                                      "only H.264 Annex-B decodes")
        px = h264_rgb(payload).astype(np.int64)
    else:
        px = bmp_decode(payload).astype(np.int64)
    return pixel_features(px)


def pixel_features(px: np.ndarray) -> dict:
    """:func:`image_features`'s stats core over already-decoded
    (h, w, 3) integer RGB pixels — shared by the per-frame video path,
    where a GOP decode yields pixel arrays, not encoded payloads."""
    px = px.astype(np.int64, copy=False)
    h, w, _ = px.shape
    sums = px.sum(axis=(0, 1))
    lum = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
    ys = np.array([i * h // 8 for i in range(9)])
    xs = np.array([j * w // 8 for j in range(9)])
    if h >= 8 and w >= 8:
        # one reduceat per axis replaces the 64 tiny per-block sums
        # (integer adds — any summation order is exact)
        blocks = np.add.reduceat(
            np.add.reduceat(lum, ys[:-1], axis=0), xs[:-1], axis=1)
        areas = np.diff(ys)[:, None] * np.diff(xs)[None, :]
    else:
        blocks = np.empty((8, 8), dtype=np.int64)
        areas = np.empty((8, 8), dtype=np.int64)
        for i in range(8):
            for j in range(8):
                blk = lum[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
                blocks[i, j] = blk.sum()
                areas[i, j] = blk.size
    total = int(lum.sum())
    # bit set iff block mean > image mean, cross-multiplied exact:
    #   blocksum / area > total / (h*w)   ≡   blocksum*h*w > total*area
    bits = (blocks * (h * w)) > (total * areas)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64).reshape(8, 8)
    ahash = int((bits.astype(np.uint64) * weights).sum(dtype=np.uint64)
                .view(np.int64))
    return {
        "width": w, "height": h,
        "sum_r": int(sums[0]), "sum_g": int(sums[1]), "sum_b": int(sums[2]),
        "ahash": ahash,
    }


# ---------------------------------------------------------------------------
# GSV1 — minimal frame container (length-prefixed BMP frames)
# ---------------------------------------------------------------------------

_GSV1_MAGIC = b"GSV1"


def gsv1_encode(frames: list[np.ndarray], frame_interval_ms: int) -> bytes:
    """Pack RGB frames into the GSV1 container:
    magic | u32 n_frames | u32 frame_interval_ms | (u32 len | BMP)*"""
    out = [_GSV1_MAGIC,
           struct.pack("<II", len(frames), frame_interval_ms)]
    for f in frames:
        b = bmp_encode(f)
        out.append(struct.pack("<I", len(b)))
        out.append(b)
    return b"".join(out)


@_loud_corruption
def gsv1_frames(payload: bytes):
    """Demux GSV1: yields (frame_index, frame_ts_ms, bmp_bytes)."""
    if payload[:4] != _GSV1_MAGIC:
        raise ValueError("not a GSV1 payload")
    n_frames, interval = struct.unpack_from("<II", payload, 4)
    pos = 12
    for i in range(n_frames):
        (sz,) = struct.unpack_from("<I", payload, pos)
        yield i, i * interval, payload[pos + 4:pos + 4 + sz]
        pos += 4 + sz


def gsv1_sample_frames(payload: bytes, every_ms: int):
    """Frame sampling: the frames whose timestamp crosses each
    every_ms boundary (first frame at/after k*every_ms, k=0,1,…)."""
    next_ts = 0
    for i, ts, bmp in gsv1_frames(payload):
        if ts >= next_ts:
            yield i, ts, bmp
            next_ts = (ts // every_ms + 1) * every_ms


# ---------------------------------------------------------------------------
# PNG (all color types, depths 1/2/4/8/16, non-interlaced)
# ---------------------------------------------------------------------------
#
# "Compressed formats need libraries absent from this sandbox" kept
# shrinking as the stubs were re-litigated: PNG's only compressor is
# DEFLATE (stdlib zlib) — decoded for real since r4; baseline JPEG's
# huffman + 8x8 DCT are numpy-sized — real codec since r5 (below);
# and MP4 is a CONTAINER — the ISO-BMFF mux/demux below is pure byte
# arithmetic, with Motion-JPEG samples decoding for real through the
# JPEG codec. Only post-r8 video bitstream features remain
# honestly stubbed.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _png_pack_subbyte(vals: np.ndarray, depth: int) -> np.ndarray:
    """(h, n) sample values < 2^depth → (h, row_bytes) packed rows
    (MSB-first within each byte, rows padded to a byte boundary —
    spec §7.2)."""
    h = vals.shape[0]
    bits = ((vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1)
    flat = bits.reshape(h, -1).astype(np.uint8)
    pad = (-flat.shape[1]) % 8
    if pad:
        flat = np.pad(flat, ((0, 0), (0, pad)))
    return np.packbits(flat, axis=1)


# Adam7 pass grid: (x_start, y_start, x_step, y_step) — spec §8.2
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_passes(w: int, h: int, interlace: int):
    """Non-empty (x0, y0, dx, dy, w_p, h_p) pass rectangles — one
    full-image pass when non-interlaced, the Adam7 seven otherwise
    (empty passes contribute no scanlines at all, spec §8.2)."""
    grid = _ADAM7 if interlace else ((0, 0, 1, 1),)
    out = []
    for x0, y0, dx, dy in grid:
        w_p, h_p = (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy
        if w_p > 0 and h_p > 0:
            out.append((x0, y0, dx, dy, w_p, h_p))
    return out


def _png_scanline_rows(px: np.ndarray, depth: int) -> np.ndarray:
    """(h, w, ch) samples → (h, row_bytes) packed scanline bytes."""
    h, w, ch = px.shape
    if depth == 16:
        return np.ascontiguousarray(px, dtype=">u2").view(np.uint8) \
            .reshape(h, w * ch * 2)
    if depth < 8:
        return _png_pack_subbyte(px.reshape(h, w * ch), depth)
    return np.ascontiguousarray(px, np.uint8).reshape(h, w * ch)


def _png_wrap(ihdr: bytes, px: np.ndarray, extra: bytes = b"",
              depth: int = 8, interlace: bool = False) -> bytes:
    """Assemble magic + IHDR + extra + one IDAT (filter-0 scanlines,
    pass-split when interlaced) + IEND around (h, w, ch) samples."""
    import zlib
    h, w = px.shape[:2]
    parts = []
    for x0, y0, dx, dy, _, _ in _png_passes(w, h, int(interlace)):
        rows = _png_scanline_rows(
            np.ascontiguousarray(px[y0::dy, x0::dx]), depth)
        filt = np.zeros((rows.shape[0], 1 + rows.shape[1]),
                        dtype=np.uint8)
        filt[:, 1:] = rows                      # filter byte 0 per row
        parts.append(filt.tobytes())
    idat = zlib.compress(b"".join(parts), 6)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + extra
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))


def png_encode(pixels: np.ndarray, depth: int = 8,
               interlace: bool = False) -> bytes:
    """Encode (h, w) grey, (h, w, 2) grey+alpha, (h, w, 3) RGB or
    (h, w, 4) RGBA as a PNG (filter 0 rows, one IDAT; Adam7 pass
    split when ``interlace``). ``depth=16`` takes uint16 samples
    (big-endian on the wire); ``depth`` 1/2/4 takes 2-D grey with
    values < 2^depth."""
    il = int(interlace)
    if depth in (1, 2, 4):
        px = np.ascontiguousarray(pixels, dtype=np.uint8)
        if px.ndim != 2 or int(px.max(initial=0)) >= (1 << depth):
            raise ValueError(f"depth-{depth} PNG needs 2-D grey "
                             f"values < {1 << depth}")
        h, w = px.shape
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, il)
        return _png_wrap(ihdr, px[:, :, None], depth=depth,
                         interlace=interlace)
    dt = np.uint16 if depth == 16 else np.uint8
    px = np.ascontiguousarray(pixels, dtype=dt)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, il)
    return _png_wrap(ihdr, px, depth=depth, interlace=interlace)


def png_encode_indexed(indices: np.ndarray, palette: np.ndarray,
                       trns: np.ndarray | None = None,
                       depth: int = 8, interlace: bool = False) -> bytes:
    """Encode (h, w) palette indices + (n, 3) RGB palette as a
    color-type-3 PNG (depth 1/2/4/8; optional tRNS alpha per entry;
    Adam7 when ``interlace``)."""
    idx = np.ascontiguousarray(indices, dtype=np.uint8)
    plt = np.ascontiguousarray(palette, dtype=np.uint8)
    if plt.ndim != 2 or plt.shape[1] != 3 or not len(plt):
        raise ValueError("palette must be (n, 3) uint8")
    if depth not in (1, 2, 4, 8) or \
            int(idx.max(initial=0)) >= min(len(plt), 1 << depth):
        raise ValueError("indices exceed palette/depth range")
    h, w = idx.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlace))
    extra = _png_chunk(b"PLTE", plt.tobytes())
    if trns is not None:
        extra += _png_chunk(
            b"tRNS", np.ascontiguousarray(trns, np.uint8).tobytes())
    return _png_wrap(ihdr, idx[:, :, None], extra, depth=depth,
                     interlace=interlace)


def _png_unfilter(raw: np.ndarray, h: int, w: int, c: int) -> np.ndarray:
    """Reverse the five PNG row filters (spec §9): per-row filter byte
    then w*c filtered bytes.

    Fast path: the C kernel's ``gs_png_unfilter`` (codec/_native,
    same lazy-build + silent-fallback contract as the Gorilla and rice
    kernels) — one C pass over byte lanes, which is where the
    sequential Sub/Average/Paeth x-recurrence belongs (libpng favors
    Paeth, so real images hit it on nearly every row; the r5 verdict
    measured the Python recurrence as the suite's top media cost).
    Fallback: numpy — None/Up/Sub fully vectorized (Sub is a prefix
    sum mod 256 per byte lane); Average/Paeth keep the inherent w-step
    recurrence as length-c numpy ops. Both paths are golden-tested
    against hand-built IDATs exercising all five filters."""
    stride = 1 + w * c
    raw = raw.reshape(h, stride)
    try:
        from ..codec.native import png_unfilter_native
        fast = png_unfilter_native(raw, h, w, c)
    except ValueError:
        raise ValueError("bad PNG filter byte")
    except Exception:
        fast = None
    if fast is not None:
        return fast
    out = np.zeros((h, w * c), dtype=np.uint8)
    for y in range(h):
        f = int(raw[y, 0])
        cur = raw[y, 1:].astype(np.int32)
        prior = out[y - 1].astype(np.int32) if y else np.zeros(
            w * c, dtype=np.int32)
        if f == 0:                                   # None
            rec = cur
        elif f == 2:                                 # Up
            rec = (cur + prior) & 0xFF
        elif f == 1:                                 # Sub: prefix sum
            rec = (np.cumsum(cur.reshape(w, c), axis=0,
                             dtype=np.int64) & 0xFF).reshape(-1)
        elif f in (3, 4):                            # Average / Paeth
            cur2 = cur.reshape(w, c)
            prior2 = prior.reshape(w, c)
            rec2 = np.empty((w, c), dtype=np.int32)
            left = np.zeros(c, dtype=np.int32)
            ul = np.zeros(c, dtype=np.int32)
            for x in range(w):
                up = prior2[x]
                if f == 3:
                    pred = (left + up) >> 1
                else:
                    p = left + up - ul
                    pa = np.abs(p - left)
                    pb = np.abs(p - up)
                    pc_ = np.abs(p - ul)
                    pred = np.where((pa <= pb) & (pa <= pc_), left,
                                    np.where(pb <= pc_, up, ul))
                left = (cur2[x] + pred) & 0xFF
                rec2[x] = left
                ul = up
            rec = rec2.reshape(-1)
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = rec.astype(np.uint8)
    return out.reshape(h, w, c)


# legal (color_type -> channels) and (color_type -> bit depths), spec §11.2.2
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


@_loud_corruption
def png_decode(payload: bytes) -> np.ndarray:
    """Decode a non-interlaced PNG to an (h, w, c) uint8 array.

    Full color-type/bit-depth coverage (r7; r4-r6 handled 8-bit
    grey/RGB/RGBA only): grey 1/2/4/8/16, RGB 8/16, palette 1/2/4/8
    (PLTE lookup, tRNS alpha), grey+alpha 8/16, RGBA 8/16. Sub-byte
    depths unpack after row unfiltering (the filters operate on the
    PACKED bytes, bpp = 1 — spec §9); 16-bit channels reduce to their
    high byte (the spec's sample-depth rescale); palette resolves to
    RGB, or RGBA when a tRNS chunk is present. All paths run the same
    five-filter reversal (C kernel gs_png_unfilter, byte-distance =
    bytes per pixel). Adam7 interlace (r7) decodes each of the seven
    passes as its own filtered sub-image and scatters it into place —
    every legal PNG decodes."""
    import zlib
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    w = h = color_type = depth = None
    idat, plte, trns = [], None, None
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", body)
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            if depth not in _PNG_DEPTHS.get(color_type, ()):
                raise ValueError(
                    f"illegal PNG depth/color combo (depth={depth}, "
                    f"color_type={color_type})")
        elif tag == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    ch = _PNG_CHANNELS[color_type]
    bpp = max(1, (ch * depth) // 8)        # filter byte-distance, §9
    passes = _png_passes(w, h, interlace)
    expected = sum(h_p * (1 + (w_p * ch * depth + 7) // 8)
                   for *_, w_p, h_p in passes)
    # DEFLATE tops out near 1032:1; IHDR dimensions implying more
    # output than the payload could carry are corruption (or a
    # decompression bomb), not data — refuse before allocating
    if expected > len(payload) * 1100 + 4096:
        raise ValueError("implausible PNG dimensions for payload size")
    z = zlib.decompressobj()
    raw = np.frombuffer(z.decompress(b"".join(idat), expected + 1),
                        dtype=np.uint8)
    if raw.size != expected:
        raise ValueError("PNG row data size mismatch")

    def pass_pixels(seg, h_p, w_p):
        # unfilter one pass's scanlines (each pass filters against its
        # OWN previous scanline, spec §8.2), then unpack its samples
        row_bytes = (w_p * ch * depth + 7) // 8
        rows = _png_unfilter(seg, h_p, row_bytes // bpp, bpp).reshape(
            h_p, row_bytes)
        if depth < 8:
            bits = np.unpackbits(rows, axis=1)[:, :w_p * ch * depth]
            vals = bits.reshape(h_p, w_p * ch, depth) @ \
                (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            return vals.reshape(h_p, w_p, ch).astype(np.uint8)
        if depth == 16:
            return rows.reshape(h_p, w_p, ch, 2)[:, :, :, 0]  # high byte
        return rows.reshape(h_p, w_p, ch)

    px = np.zeros((h, w, ch), dtype=np.uint8)
    off = 0
    for x0, y0, dx, dy, w_p, h_p in passes:
        size = h_p * (1 + (w_p * ch * depth + 7) // 8)
        px[y0::dy, x0::dx] = pass_pixels(raw[off:off + size], h_p, w_p)
        off += size
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is None:
            return rgb
        alpha = np.full(len(plte), 255, np.uint8)
        alpha[:min(len(trns), len(plte))] = trns[:len(plte)]
        return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
    if color_type == 0 and depth < 8:
        # exact integer rescale to 8 bits: 255/(2^d-1) is integral
        px = px * np.uint8(255 // ((1 << depth) - 1))
    return px


def _to_rgb(px: np.ndarray) -> np.ndarray:
    """(h, w, c) → (h, w, 3): grey replicates (grey+alpha drops the
    alpha first), RGBA drops alpha."""
    if px.shape[2] <= 2:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]


# ---------------------------------------------------------------------------
# JPEG (baseline JFIF) — pure numpy + byte arithmetic, no libraries
# ---------------------------------------------------------------------------
# Real baseline-DCT JPEG, the r5 re-litigation of the "JPEG needs
# media libs" stub (the same move PNG made in r4 when zlib turned out
# to be stdlib): huffman coding and the 8x8 DCT need nothing beyond
# numpy. Scope, honestly stated: baseline sequential (SOF0) AND, from
# r7, progressive (SOF2: spectral selection + successive
# approximation, multi-scan decode into shared coefficient planes),
# 8-bit, grayscale or YCbCr at 4:4:4 / 4:2:0 / 4:2:2, restart markers
# supported; arithmetic coding, 12-bit and hierarchical modes raise
# NotImplementedError. The encoder emits its
# OWN canonical huffman tables in DHT (fixed-length canonical codes
# over the symbols actually used — every JPEG carries its tables, so
# any valid table interoperates) and the Annex-K quantization tables
# scaled by libjpeg's quality convention. Entropy decode is an
# inherent bit-serial loop (Python-slow per coefficient, like PNG's
# Paeth recurrence); DCT/IDCT/color are batched numpy.

_JPEG_QL = np.array([  # Annex K table K.1 (luminance)
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int64)
_JPEG_QC = np.array([  # Annex K table K.2 (chrominance)
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99]], dtype=np.int64)


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag permutation, generated (not memorized):
    index i in the stream maps to flat position zz[i] in the block."""
    order = sorted(((x + y, (y if (x + y) % 2 == 0 else x), x, y)
                    for y in range(8) for x in range(8)))
    return np.array([y * 8 + x for _, _, x, y in order], dtype=np.int64)


_ZZ = _zigzag_order()


def _dct_mat() -> np.ndarray:
    k = np.arange(8)
    A = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    A *= np.sqrt(2.0 / 8.0)
    A[0] *= np.sqrt(0.5)
    return A


_DCT_A = _dct_mat()


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)          # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put(0x7F, 8 - self.n)          # pad with 1s
        return bytes(self.out)

    def restart(self, i: int) -> None:
        """Byte-align and emit RSTn (raw, not subject to stuffing)."""
        if self.n:
            self.put(0x7F, 8 - self.n)
        self.out += bytes([0xFF, 0xD0 + (i % 8)])


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.restart_hit = False
        self.padding = False

    def _fill(self) -> None:
        if self.pos < len(self.d) and self.d[self.pos] == 0xFF:
            nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) \
                else 0xD9
            if nxt == 0x00:                     # stuffed data 0xFF
                self.pos += 2
                b = 0xFF
            elif 0xD0 <= nxt <= 0xD7:           # RSTn: flag, add NO bits
                self.pos += 2
                self.acc = 0
                self.n = 0
                self.restart_hit = True
                return
            else:                               # EOI/marker: pad with 1s
                b = 0xFF                        # (position not advanced)
                self.padding = True
        elif self.pos < len(self.d):
            b = self.d[self.pos]
            self.pos += 1
        else:
            b = 0xFF                            # truncated stream: pad
            self.padding = True
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, nbits: int) -> int:
        while self.n < nbits:
            self._fill()
        v = (self.acc >> (self.n - nbits)) & ((1 << nbits) - 1)
        self.n -= nbits
        self.acc &= (1 << self.n) - 1
        return v

    def sync_restart(self) -> None:
        """Consume pad bits up to the RSTn marker; never reads past
        it — the first post-marker bit stays for the next MCU.

        Raises instead of spinning when the stream has no further
        markers: once _fill starts padding (EOI reached or data
        truncated) the awaited RSTn can never appear."""
        while not self.restart_hit:
            if self.padding:
                raise ValueError(
                    "truncated JPEG: missing restart marker")
            if self.n:
                self.bits(1)
            else:
                self._fill()
        self.restart_hit = False

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | self.bits(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in JPEG stream")


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, value bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _extend(bits: int, s: int) -> int:
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _canonical_table(symbols: set) -> tuple[list, list, dict]:
    """Fixed-length canonical huffman over the used symbols:
    (bits[16], symbol list, {symbol: (code, length)}). n <= 2^L - 1
    keeps the all-ones code unused, as JPEG convention requires."""
    syms = sorted(symbols) or [0]
    L = max(1, (len(syms) + 1 - 1).bit_length())
    while (1 << L) - 1 < len(syms):
        L += 1
    bits = [0] * 16
    bits[L - 1] = len(syms)
    enc = {s: (i, L) for i, s in enumerate(syms)}
    return bits, syms, enc


def _block_symbols(coeffs: np.ndarray, dc_prev: int) -> tuple:
    """Symbols+bits for one quantized zigzag block: returns
    (dc_symbol, dc_bits, [(ac_symbol, ac_bits), ...], new_dc)."""
    dc = int(coeffs[0])
    s, bits = _magnitude(dc - dc_prev)
    acs = []
    run = 0
    last_nz = 0
    nz = np.nonzero(coeffs[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for i in range(1, 64):
        v = int(coeffs[i])
        if i > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run >= 16:
            acs.append((0xF0, (0, 0)))          # ZRL
            run -= 16
        vs, vb = _magnitude(v)
        acs.append(((run << 4) | vs, (vs, vb)))
        run = 0
    if last_nz < 63:
        acs.append((0x00, (0, 0)))              # EOB
    return s, bits, acs, dc


def _jpeg_coefficients(pixels: np.ndarray, quality: int,
                       subsample: str):
    """Shared front half of the JPEG encoders: color transform,
    chroma subsampling, MCU padding, batch DCT and quantization.
    Returns (comp_zz, samp, QL, QC, grey, h, w, mcux, mcuy) with
    comp_zz[ci] the (by, bx, 64) ZIG-ZAG quantized coefficients."""
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    grey = px.ndim == 2
    h, w = px.shape[:2]
    q = 5000 // max(1, min(100, quality)) if quality < 50 \
        else 200 - 2 * min(100, quality)
    QL = np.clip((_JPEG_QL * q + 50) // 100, 1, 255)
    QC = np.clip((_JPEG_QC * q + 50) // 100, 1, 255)

    if grey:
        planes = [px.astype(np.float64) - 128.0]
        samp = [(1, 1)]
        quant = [QL]
    else:
        rgb = px.astype(np.float64)
        R, G, B = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        Y = 0.299 * R + 0.587 * G + 0.114 * B
        Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
        Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
        hs, vs_ = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}[subsample]

        def ds(p, fx, fy):
            if fx == 1 and fy == 1:
                return p
            ph = -(-p.shape[0] // fy) * fy
            pw = -(-p.shape[1] // fx) * fx
            pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                        mode="edge")
            return pp.reshape(ph // fy, fy, pw // fx, fx).mean((1, 3))
        planes = [Y - 128.0, ds(Cb, hs, vs_) - 128.0,
                  ds(Cr, hs, vs_) - 128.0]
        samp = [(hs, vs_), (1, 1), (1, 1)]
        quant = [QL, QC, QC]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component: pad plane to the MCU grid, batch-DCT, quantize
    comp_zz = []
    for ci, (p, (sh, sv)) in enumerate(zip(planes, samp)):
        pw, ph = mcux * 8 * sh, mcuy * 8 * sv
        pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                    mode="edge")
        blocks = (pp.reshape(ph // 8, 8, pw // 8, 8)
                  .transpose(0, 2, 1, 3))       # (by, bx, 8, 8)
        co = np.einsum("ux,yvxw,zw->yvuz", _DCT_A, blocks, _DCT_A)
        qz = np.round(co / quant[ci][None, None]).astype(np.int64)
        comp_zz.append(qz.reshape(ph // 8, pw // 8, 64)[:, :, _ZZ])
    return comp_zz, samp, QL, QC, grey, h, w, mcux, mcuy


def _jpeg_headers(samp, QL, QC, grey, h, w, sof_marker: int) -> bytearray:
    """APP0 + DQT(s) + SOF + the shared stream preamble."""
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(QL.reshape(-1)[_ZZ]
                                           .astype(np.uint8)))
    if not grey:
        out += seg(0xDB, bytes([0x01]) + bytes(QC.reshape(-1)[_ZZ]
                                               .astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, len(samp))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    out += seg(sof_marker, sof)
    return out


def jpeg_encode(pixels: np.ndarray, quality: int = 90,
                subsample: str = "444",
                restart_interval: int = 0) -> bytes:
    """Encode (h, w) grey or (h, w, 3) RGB uint8 as baseline JFIF.

    ``subsample``: '444' (no chroma subsampling), '420' (2x2) or
    '422' (2x1). Quant = Annex-K tables under the libjpeg quality
    convention; huffman = per-image fixed-length canonical tables
    declared in DHT (two passes: collect symbols, then emit)."""
    comp_zz, samp, QL, QC, grey, h, w, mcux, mcuy = \
        _jpeg_coefficients(pixels, quality, subsample)

    dri = restart_interval

    def mcu_blocks():
        for mi in range(mcuy * mcux):
            my, mx = divmod(mi, mcux)
            for ci, (sh, sv) in enumerate(samp):
                for v in range(sv):
                    for u in range(sh):
                        yield mi, ci, comp_zz[ci][my * sv + v,
                                                  mx * sh + u]

    # pass 1: symbol sets per table class (0 = luma, 1 = chroma)
    dc_syms = [set(), set()]
    ac_syms = [set(), set()]
    dc_prev = [0] * len(comp_zz)
    last_mi = 0
    for mi, ci, zz in mcu_blocks():
        if dri and mi != last_mi and mi % dri == 0:
            dc_prev = [0] * len(comp_zz)
        last_mi = mi
        cls = 0 if ci == 0 else 1
        s, _, acs, dc_prev[ci] = _block_symbols(zz, dc_prev[ci])
        dc_syms[cls].add(s)
        ac_syms[cls].update(sym for sym, _ in acs)
    ncls = 1 if grey else 2
    dc_tabs = [_canonical_table(dc_syms[c]) for c in range(ncls)]
    ac_tabs = [_canonical_table(ac_syms[c]) for c in range(ncls)]

    # pass 2: entropy-coded data (RSTn every `dri` MCUs when set)
    bw = _BitWriter()
    dc_prev = [0] * len(comp_zz)
    last_mi = 0
    for mi, ci, zz in mcu_blocks():
        if dri and mi != last_mi and mi % dri == 0:
            bw.restart(mi // dri - 1)
            dc_prev = [0] * len(comp_zz)
        last_mi = mi
        cls = 0 if ci == 0 else 1
        s, bits, acs, dc_prev[ci] = _block_symbols(zz, dc_prev[ci])
        code, ln = dc_tabs[cls][2][s]
        bw.put(code, ln)
        bw.put(bits, s)
        for sym, (vs, vb) in acs:
            code, ln = ac_tabs[cls][2][sym]
            bw.put(code, ln)
            bw.put(vb, vs)
    entropy = bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    out = _jpeg_headers(samp, QL, QC, grey, h, w, 0xC0)
    for cls in range(ncls):
        for is_ac, tabs in ((0, dc_tabs), (1, ac_tabs)):
            bits, syms, _ = tabs[cls]
            out += seg(0xC4, bytes([(is_ac << 4) | cls]) + bytes(bits)
                       + bytes(syms))
    if dri:
        out += seg(0xDD, struct.pack(">H", dri))
    sos = bytes([len(comp_zz)])
    for ci in range(len(comp_zz)):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def jpeg_encode_progressive(pixels: np.ndarray, quality: int = 90,
                            subsample: str = "444") -> bytes:
    """Encode (h, w) grey or (h, w, 3) RGB uint8 as PROGRESSIVE JFIF
    (SOF2) with a script that exercises both progressive dimensions:
    spectral selection (DC scan, then AC bands 1-5 and 6-63 per
    component) and successive approximation (every first pass at
    point transform Al=1, then one-bit refinement scans down to
    Al=0 — DC raw-bit refinement, AC jcphuff-style refinement with
    EOB runs and buffered correction bits). Final coefficients equal
    the baseline encoder's exactly, so decode parity with
    ``jpeg_encode`` of the same pixels is the round-trip contract."""
    comp_zz, samp, QL, QC, grey, h, w, mcux, mcuy = \
        _jpeg_coefficients(pixels, quality, subsample)
    ncomp = len(comp_zz)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    def comp_blocks(ci):
        """Real (non-MCU-padding) blocks in raster order — the
        non-interleaved scan order (T.81 A.2.2)."""
        sh, sv = samp[ci]
        comp_w = -(-(w * sh) // hmax)
        comp_h = -(-(h * sv) // vmax)
        for by in range(-(-comp_h // 8)):
            for bx in range(-(-comp_w // 8)):
                yield comp_zz[ci][by, bx]

    def mcu_dc_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for u in range(sh):
                            yield ci, comp_zz[ci][my * sv + v,
                                                  mx * sh + u]

    def scan_dc_first(ops, al):
        dc_prev = [0] * ncomp
        it = mcu_dc_blocks() if ncomp > 1 else \
            ((0, b) for b in comp_blocks(0))
        for ci, blk in it:
            cls = 0 if ci == 0 else 1
            v = int(blk[0]) >> al            # arithmetic shift, T.81
            s, bits = _magnitude(v - dc_prev[ci])
            dc_prev[ci] = v
            ops.append(("s", (0, cls), s))
            if s:
                ops.append(("b", bits, s))

    def scan_dc_refine(ops, al):
        it = mcu_dc_blocks() if ncomp > 1 else \
            ((0, b) for b in comp_blocks(0))
        for _, blk in it:
            ops.append(("b", (int(blk[0]) >> al) & 1, 1))

    def scan_ac_first(ops, ci, ss, se, al):
        cls = 0 if ci == 0 else 1
        eobrun = 0

        def flush():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                ops.append(("s", (1, cls), nb << 4))
                if nb:
                    ops.append(("b", eobrun - (1 << nb), nb))
                eobrun = 0

        for blk in comp_blocks(ci):
            r = 0
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = (v >> al) if v >= 0 else -((-v) >> al)
                if t == 0:
                    r += 1
                    continue
                flush()
                while r > 15:
                    ops.append(("s", (1, cls), 0xF0))
                    r -= 16
                vs, vb = _magnitude(t)
                ops.append(("s", (1, cls), (r << 4) | vs))
                ops.append(("b", vb, vs))
                r = 0
            if r:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush()
        flush()

    def scan_ac_refine(ops, ci, ss, se, al):
        """jcphuff encode_mcu_AC_refine re-expressed: newly
        significant coefficients emit (run, 1) + sign; already-
        nonzero coefficients emit buffered correction bits; blocks
        with nothing new fold into an EOB run whose correction bits
        flush right after the EOBn code."""
        cls = 0 if ci == 0 else 1
        eobrun = 0
        be: list = []                  # bits buffered behind the EOB run

        def flush():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                ops.append(("s", (1, cls), nb << 4))
                if nb:
                    ops.append(("b", eobrun - (1 << nb), nb))
                ops.extend(("b", b, 1) for b in be)
                be.clear()
                eobrun = 0

        for blk in comp_blocks(ci):
            vals = [int(blk[k]) for k in range(ss, se + 1)]
            absv = [(v >> al) if v >= 0 else -((-v) >> al)
                    for v in vals]
            absv = [abs(t) for t in absv]
            eob = 0
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i + 1            # 1 past the last new ±1
            r = 0
            br: list = []                  # correction bits this run
            for i, t in enumerate(absv):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i < eob:
                    flush()
                    ops.append(("s", (1, cls), 0xF0))
                    ops.extend(("b", b, 1) for b in br)
                    br.clear()
                    r -= 16
                if t > 1:                  # history coefficient
                    br.append(t & 1)
                    continue
                flush()                    # newly significant ±1
                ops.append(("s", (1, cls), (r << 4) | 1))
                ops.append(("b", 1 if vals[i] > 0 else 0, 1))
                ops.extend(("b", b, 1) for b in br)
                br.clear()
                r = 0
            if r or br:
                eobrun += 1
                be.extend(br)
                if eobrun == 0x7FFF:
                    flush()
        flush()

    # scan script: DC first/refine, then per-component AC band
    # first passes, then their refinements
    scan_specs = [("dcf", None, 0, 0, 0, 1), ("dcr", None, 0, 0, 1, 0)]
    for ci in range(ncomp):
        scan_specs += [("acf", ci, 1, 5, 0, 1),
                       ("acf", ci, 6, 63, 0, 1)]
    for ci in range(ncomp):
        scan_specs += [("acr", ci, 1, 5, 1, 0),
                       ("acr", ci, 6, 63, 1, 0)]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    out = _jpeg_headers(samp, QL, QC, grey, h, w, 0xC2)
    for kind, ci, ss, se, ah, al in scan_specs:
        ops: list = []
        if kind == "dcf":
            scan_dc_first(ops, al)
        elif kind == "dcr":
            scan_dc_refine(ops, al)
        elif kind == "acf":
            scan_ac_first(ops, ci, ss, se, al)
        else:
            scan_ac_refine(ops, ci, ss, se, al)
        # per-scan canonical tables from this scan's symbol set
        syms: dict = {}
        for op in ops:
            if op[0] == "s":
                syms.setdefault(op[1], set()).add(op[2])
        tabs = {key: _canonical_table(ss_) for key, ss_ in syms.items()}
        for (tc, th), (bits, symbols, _) in tabs.items():
            out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits)
                       + bytes(symbols))
        if kind in ("dcf", "dcr"):
            sos = bytes([ncomp])
            for c in range(ncomp):
                cls = 0 if c == 0 else 1
                sos += bytes([c + 1, cls << 4])
        else:
            cls = 0 if ci == 0 else 1
            sos = bytes([1, ci + 1, cls])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        bw = _BitWriter()
        for op in ops:
            if op[0] == "s":
                code, ln = tabs[op[1]][2][op[2]]
                bw.put(code, ln)
            else:
                bw.put(op[1], op[2])
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_entropy_native(payload: bytes, pos: int, mcux: int,
                         mcuy: int, dri: int, comps: list,
                         order: list, huff_raw: dict):
    """C fast path for the entropy scan (gs_jpeg_scan): per-component
    zig-zag coefficient planes, or None to fall back to the Python
    bit-walk. Huffman tables are flattened to canonical
    mincode/maxcode/valptr arrays (8 slots = is_ac*4 + table_id);
    corrupt entropy data raises ValueError exactly like the Python
    path (invalid code / AC overflow / missing restart)."""
    try:
        from ..codec.native import NATIVE, jpeg_scan_native
        if NATIVE is None:
            return None
    except Exception:
        return None
    if len(comps) > 16:
        return None
    needed = ({(0, td) for _, td, _ in order}
              | {(1, ta) for _, _, ta in order})
    if any(th > 3 or key not in huff_raw
           for key in needed for th in [key[1]]):
        return None
    mincode = np.zeros(8 * 17, np.int32)
    maxcode = np.full(8 * 17, -1, np.int32)
    valptr = np.zeros(8 * 17, np.int32)
    vals: list[int] = []
    for (tc, th), (bits, syms) in huff_raw.items():
        if th > 3:
            continue
        slot = tc * 4 + th
        code = 0
        k = 0
        base = len(vals)
        for length in range(1, 17):
            cnt = bits[length - 1]
            mincode[slot * 17 + length] = code
            valptr[slot * 17 + length] = base + k
            maxcode[slot * 17 + length] = code + cnt - 1 if cnt else -1
            code = (code + cnt) << 1
            k += cnt
        vals.extend(syms)
    units = []
    for ci, td, ta in order:
        _, sh, sv, _ = comps[ci]
        for v in range(sv):
            for u in range(sh):
                units.append((ci, v, u, td, 4 + ta))
    cbase = []
    rowstride = []
    tot = 0
    for _, sh, sv, _ in comps:
        cbase.append(tot)
        rowstride.append(mcux * sh)
        tot += (mcuy * sv) * (mcux * sh)
    try:
        blocks = jpeg_scan_native(
            payload, pos, mcux, mcuy, dri, len(comps),
            np.array(units, np.int32).reshape(-1, 5),
            np.array(cbase, np.int64),
            np.array(rowstride, np.int32),
            np.array([c[1] for c in comps], np.int32),
            np.array([c[2] for c in comps], np.int32),
            mincode, maxcode, valptr,
            np.array(vals, np.uint8), tot)
    except ValueError:
        raise
    except Exception:
        return None
    if blocks is None:
        return None
    out = []
    for ci, (_, sh, sv, _) in enumerate(comps):
        nb = (mcuy * sv) * (mcux * sh)
        out.append(blocks[cbase[ci]:cbase[ci] + nb]
                   .reshape(mcuy * sv, mcux * sh, 64)
                   .astype(np.int64))
    return out


def _jpeg_dims(comps: list, w: int, h: int,
               payload_len: int) -> tuple:
    """(mcux, mcuy, hmax, vmax) from the SOF, with the plausibility
    cap: every coded block costs >= 1 bit, so SOF dimensions implying
    more blocks than the entropy data could hold are corruption —
    refuse before allocating the coefficient planes."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        raise ValueError("zero sampling factor in JPEG SOF")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if mcux * mcuy * sum(c[1] * c[2] for c in comps) > 8 * payload_len:
        raise ValueError("implausible JPEG dimensions for payload size")
    return mcux, mcuy, hmax, vmax


def _jpeg_prog_scan(payload: bytes, pos: int, comps: list,
                    coeffs: list, huff: dict, scomps: list,
                    ss: int, se: int, ah: int, al: int, dri: int,
                    dims: tuple) -> int:
    """Decode ONE progressive (SOF2) scan into the zig-zag coefficient
    planes, T.81 G.2: spectral selection (Ss..Se band per scan) and
    successive approximation (Ah=0 first pass at point transform Al;
    Ah>0 one-bit refinement). DC scans may interleave components
    (MCU order); AC scans are single-component in the component's own
    block raster. EOB runs span blocks; restart markers reset DC
    predictors and the EOB run. Returns the stream position after the
    scan's entropy data (the next marker's 0xFF)."""
    mcux, mcuy, hmax, vmax, w, h = dims
    br = _BitReader(payload, pos)
    p1, m1 = 1 << al, -1 << al
    eobrun = 0

    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    if ss > se or se > 63 or ah not in range(14) or al > 13:
        raise ValueError("bad progressive scan parameters")

    def refine_ac(blk, k, kend, r, newval):
        """Advance over r zero-history coefficients (then place
        newval, if any), emitting one correction bit for every
        nonzero-history coefficient passed — the T.81 G.2/jdphuff
        refinement walk."""
        while k <= kend:
            if blk[k]:
                if br.bits(1) and not (blk[k] & p1):
                    blk[k] += p1 if blk[k] > 0 else m1
            else:
                if r == 0:
                    if newval:
                        blk[k] = newval
                    return k + 1
                r -= 1
            k += 1
        return k

    def block_dc_first(blk, ci):
        s = br.huff(huff[(0, scomps_td[ci])])
        if s > 15:
            raise ValueError(f"implausible JPEG DC size category {s}")
        dc_prev[ci] += _extend(br.bits(s), s)
        blk[0] = dc_prev[ci] << al

    def block_dc_refine(blk):
        if br.bits(1):
            blk[0] |= p1

    def block_ac_first(blk, ta):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = br.huff(huff[(1, ta)])
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.bits(r)
                    return
                k += 16
                continue
            k += r
            if k > se:
                raise ValueError("AC run overflow in progressive scan")
            blk[k] = _extend(br.bits(s), s) << al
            k += 1

    def block_ac_refine(blk, ta):
        nonlocal eobrun
        k = ss
        if not eobrun:
            while k <= se:
                rs = br.huff(huff[(1, ta)])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    # r == 15: a run of 16 zero-history coefficients
                    k = refine_ac(blk, k, se, 15, 0)
                    continue
                if s != 1:
                    raise ValueError(
                        "bad refinement magnitude in progressive scan")
                newval = p1 if br.bits(1) else m1
                k = refine_ac(blk, k, se, r, newval)
        if eobrun:
            # correction bits for the remaining nonzero coefficients
            while k <= se:
                if blk[k] and br.bits(1) and not (blk[k] & p1):
                    blk[k] += p1 if blk[k] > 0 else m1
                k += 1
            eobrun -= 1

    scomps_td = {}
    units = []                     # (ci, td_or_ta)
    for cid, td, ta in scomps:
        ci = next(i for i, c in enumerate(comps) if c[0] == cid)
        scomps_td[ci] = td
        units.append((ci, ta))

    dc_prev = {ci: 0 for ci, _ in units}
    unit_i = 0

    def maybe_restart():
        nonlocal eobrun
        if dri and unit_i and unit_i % dri == 0:
            br.sync_restart()
            for ci in dc_prev:
                dc_prev[ci] = 0
            eobrun = 0

    if ss == 0 and len(units) > 1:
        # interleaved DC scan over MCUs
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for ci, _ in units:
                    _, sh, sv, _ = comps[ci]
                    for v in range(sv):
                        for u in range(sh):
                            blk = coeffs[ci][my * sv + v, mx * sh + u]
                            if ah == 0:
                                block_dc_first(blk, ci)
                            else:
                                block_dc_refine(blk)
                unit_i += 1
    else:
        # non-interleaved scan in the component's own block raster
        # (complete blocks of the component's scaled dimensions)
        ci, ta = units[0]
        _, sh, sv, _ = comps[ci]
        comp_w = -(-(w * sh) // hmax)
        comp_h = -(-(h * sv) // vmax)
        bw, bh = -(-comp_w // 8), -(-comp_h // 8)
        for by in range(bh):
            for bx in range(bw):
                maybe_restart()
                blk = coeffs[ci][by, bx]
                if ss == 0:
                    if ah == 0:
                        block_dc_first(blk, ci)
                    else:
                        block_dc_refine(blk)
                elif ah == 0:
                    block_ac_first(blk, ta)
                else:
                    block_ac_refine(blk, ta)
                unit_i += 1
    return br.pos


@_loud_corruption
def jpeg_decode(payload: bytes) -> np.ndarray:
    """Decode baseline (SOF0) or progressive (SOF2) JFIF to
    (h, w, c) uint8, c = 1 (grey) or 3 (RGB). Reads DQT/DHT/SOF/SOS/
    DRI from the stream (any valid tables, not just ours); handles
    4:4:4/4:2:0/4:2:2 and restart markers; progressive streams walk
    every scan (spectral selection + successive approximation, r7)
    into shared coefficient planes before one dequant+IDCT pass;
    rejects arithmetic-coded/12-bit/hierarchical explicitly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}
    huff_raw: dict[tuple, tuple] = {}   # (tc,th) -> (bits16, symbols)
    comps = []           # (id, sh, sv, tq)
    h = w = 0
    dri = 0
    scan = None
    progressive = False
    dims = None          # (mcux, mcuy, hmax, vmax) once SOF is known
    coeffs = None
    n_scans = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (ln,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2:pos + ln]
        if marker == 0xDB:
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit DQT unsupported")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ] = np.frombuffer(body, np.uint8, 64, off + 1)
                qt[tq] = tab.reshape(8, 8)
                off += 65
        elif marker == 0xC4:
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1:off + 17])
                syms = body[off + 17:off + 17 + sum(bits)]
                table = {}
                code = 0
                k = 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc, th)] = table
                huff_raw[(tc, th)] = (bits, list(syms))
                off += 17 + sum(bits)
        elif marker in (0xC0, 0xC2):
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            progressive = marker == 0xC2
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append([cid, hv >> 4, hv & 15, tq])
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only baseline sequential "
                "(SOF0) and progressive huffman (SOF2) are supported")
        elif marker == 0xDD:
            (dri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            ns = body[0]
            scan = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i:3 + 2 * i]
                scan.append((cid, tt >> 4, tt & 15))
            if not progressive:
                pos += ln
                break
            # progressive: decode THIS scan into the shared
            # coefficient planes, then keep walking markers (more
            # DHT/DRI/SOS segments follow until EOI)
            if not comps:
                raise ValueError("JPEG SOS before SOF")
            if dims is None:
                dims = _jpeg_dims(comps, w, h, len(payload))
                coeffs = [np.zeros((dims[1] * c[2], dims[0] * c[1],
                                    64), dtype=np.int64)
                          for c in comps]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            pos = _jpeg_prog_scan(payload, pos + ln, comps, coeffs,
                                  huff, scan, ss, se, ahal >> 4,
                                  ahal & 15, dri,
                                  dims + (w, h))
            n_scans += 1
            if n_scans > 512:
                raise ValueError("implausible JPEG scan count")
            continue
        pos += ln
    if scan is None or not comps:
        raise ValueError("truncated JPEG: no SOS/SOF")

    if progressive:
        if coeffs is None:
            raise ValueError("progressive JPEG with no decoded scan")
        mcux, mcuy, hmax, vmax = dims
    else:
        mcux, mcuy, hmax, vmax = _jpeg_dims(comps, w, h, len(payload))
        order = []
        for cid, td, ta in scan:
            ci = next(i for i, c in enumerate(comps) if c[0] == cid)
            order.append((ci, td, ta))
        coeffs = _jpeg_entropy_native(payload, pos, mcux, mcuy, dri,
                                      comps, order, huff_raw)
    if coeffs is None:                  # Python bit-walk fallback
        br = _BitReader(payload, pos)
        coeffs = [np.zeros((mcuy * c[2], mcux * c[1], 64),
                           dtype=np.int64) for c in comps]
        dc_prev = [0] * len(comps)
        mcu_i = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcu_i and mcu_i % dri == 0:
                    br.sync_restart()
                    dc_prev = [0] * len(comps)
                mcu_i += 1
                for ci, td, ta in order:
                    _, sh, sv, _ = comps[ci]
                    for v in range(sv):
                        for u in range(sh):
                            blk = coeffs[ci][my * sv + v, mx * sh + u]
                            s = br.huff(huff[(0, td)])
                            # parity with the C kernel (gs_jpeg_scan
                            # rc -5): DC size categories above 15 are
                            # impossible in any legal JPEG precision —
                            # without this guard kernel presence would
                            # flip decode-vs-ValueError on streams
                            # whose DHT smuggles an oversized symbol
                            if s > 15:
                                raise ValueError(
                                    "implausible JPEG DC size "
                                    f"category {s}")
                            dc_prev[ci] += _extend(br.bits(s), s)
                            blk[0] = dc_prev[ci]
                            k = 1
                            while k < 64:
                                rs = br.huff(huff[(1, ta)])
                                r, size = rs >> 4, rs & 15
                                if size == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break           # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("AC run overflow")
                                blk[k] = _extend(br.bits(size), size)
                                k += 1

    planes = []
    for ci, (cid, sh, sv, tq) in enumerate(comps):
        zz = coeffs[ci]
        deq = np.zeros((zz.shape[0], zz.shape[1], 64))
        deq[:, :, _ZZ] = zz * qt[tq].reshape(-1)[_ZZ][None, None]
        blocks = deq.reshape(zz.shape[0], zz.shape[1], 8, 8)
        px = np.einsum("ux,yvuz,zw->yvxw", _DCT_A, blocks, _DCT_A)
        plane = (px.transpose(0, 2, 1, 3)
                 .reshape(zz.shape[0] * 8, zz.shape[1] * 8)) + 128.0
        plane = np.repeat(np.repeat(plane, vmax // sv, 0), hmax // sh, 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        Y, Cb, Cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        out = np.stack([Y + 1.402 * Cr,
                        Y - 0.344136 * Cb - 0.714136 * Cr,
                        Y + 1.772 * Cb], axis=2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# MP4 (ISO base media file format) — real mux/demux, pure bytes
# ---------------------------------------------------------------------------
# The container is byte arithmetic: length-prefixed boxes, a sample
# table (stsd/stts/stsc/stsz/stco) and an mdat blob. With 'jpeg'
# (Motion-JPEG, a real QuickTime/MP4 sample format) entries the frame
# DECODE path is real too, via jpeg_decode above; avc1 entries (r7)
# rebuild Annex-B from the avcC record and decode through h264.py.
# HEVC tracks (hvc1/hev1) raise NotImplementedError at demux; other
# compressed sample formats demux fine but their frame decode raises.


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def _full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + body)


def mp4_mux(frames: list, frame_ms: int = 500, fourcc: bytes = b"jpeg",
            width: int = 0, height: int = 0,
            config: bytes = b"",
            ctts_offsets: list | None = None) -> bytes:
    """Mux video sample payloads into a minimal valid MP4: ftyp +
    mdat + moov with a one-trak sample table (1000-tick timescale,
    constant ``frame_ms`` per sample, one chunk). ``fourcc='jpeg'``
    (Motion-JPEG) makes every sample independently decodable by
    :func:`jpeg_decode`. ``config`` is appended inside the visual
    sample entry — for ``fourcc='avc1'`` pass the avcC box
    (``_box(b"avcC", h264.h264_avcc_config(...))``) and
    length-prefixed samples (``h264.h264_to_avcc_sample``), the real
    ISO/IEC 14496-15 shape. ``ctts_offsets`` (r8): per-sample
    composition-time offsets in media ticks for B-frame tracks where
    decoding order differs from presentation order — emitted as a
    version-1 (signed) ctts box."""
    n = len(frames)
    dur = n * frame_ms
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
                + b"isomiso2mp41")
    mdat_off = len(ftyp) + 8
    mdat = _box(b"mdat", b"".join(frames))

    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, 1000, dur) + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                    0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 3, struct.pack(
        ">IIIII", 0, 0, 1, 0, dur) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)
        + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, 1000, dur)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide"
                 + b"\x00" * 12 + b"gorillaspark\x00")
    # VisualSampleEntry: 86-byte body per ISO 14496-12 §12.1.3
    entry = _box(fourcc, b"\x00" * 6 + struct.pack(">H", 1)
                 + b"\x00" * 16
                 + struct.pack(">HH", width, height)
                 + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
                 + b"\x00" * 32
                 + struct.pack(">Hh", 24, -1) + config)
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, frame_ms))
    if ctts_offsets is not None:
        if len(ctts_offsets) != n:
            raise ValueError("ctts_offsets must cover every sample")
        stts += _full(b"ctts", 1, 0, struct.pack(">I", n) + b"".join(
            struct.pack(">Ii", 1, int(o)) for o in ctts_offsets))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", len(f)) for f in frames))
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, mdat_off))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = _box(b"dinf", _full(b"dref", 0, 0, struct.pack(">I", 1)
                               + _full(b"url ", 0, 1, b"")))
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk_boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4:pos + 8]
        body_off = pos + 8
        if size == 1:                            # 64-bit largesize
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body_off = pos + 16
        elif size == 0:                          # to end of enclosing
            size = end - pos
        yield tag, body_off, pos + size
        pos += size


def _find_box(data: bytes, start: int, end: int, path: list):
    """First box matching the tag path; returns (body_off, box_end)."""
    for tag, off, bend in _walk_boxes(data, start, end):
        if tag == path[0]:
            if len(path) == 1:
                return off, bend
            return _find_box(data, off, bend, path[1:])
    raise ValueError(f"MP4 box {b'/'.join(path).decode()} not found")


@_loud_corruption
def mp4_demux(payload: bytes) -> dict:
    """Parse the sample table of the first video trak: returns
    {fourcc, timescale, width, height, sample_ts (media-ms),
    samples (list of bytes)}. Handles general stsc chunk runs and
    both stco offsets; full-box versions beyond 0 and co64 raise."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload")
    moov, moov_end = _find_box(payload, 0, len(payload), [b"moov"])
    video = None
    for tag, off, bend in _walk_boxes(payload, moov, moov_end):
        if tag != b"trak":
            continue
        h_off, h_end = _find_box(payload, off, bend,
                                 [b"mdia", b"hdlr"])
        if payload[h_off + 8:h_off + 12] == b"vide":
            video = (off, bend)
            break
    if video is None:
        raise ValueError("no video trak")
    toff, tend = video
    md_off, _ = _find_box(payload, toff, tend, [b"mdia", b"mdhd"])
    if payload[md_off]:
        raise NotImplementedError("mdhd version 1 unsupported")
    (timescale,) = struct.unpack_from(">I", payload, md_off + 12)
    if timescale == 0:
        raise ValueError("corrupt mdhd: timescale is 0")
    sb, sb_end = _find_box(payload, toff, tend,
                           [b"mdia", b"minf", b"stbl"])
    boxes = {tag: (off, bend)
             for tag, off, bend in _walk_boxes(payload, sb, sb_end)}
    if b"co64" in boxes:
        raise NotImplementedError("co64 (64-bit offsets) unsupported")

    def full(tag):
        off, bend = boxes[tag]
        if payload[off]:
            raise NotImplementedError(f"{tag.decode()} v>0 unsupported")
        return off + 4, bend

    off, _ = full(b"stsd")
    fourcc = payload[off + 4 + 4:off + 4 + 8]
    if fourcc in (b"hvc1", b"hev1"):
        raise NotImplementedError(
            f"{fourcc.decode()} (H.265/HEVC) tracks unsupported")
    w, h = struct.unpack_from(">HH", payload, off + 4 + 8 + 24)
    # codec config boxes trail the 86-byte VisualSampleEntry (avcC
    # for avc1 tracks, ISO/IEC 14496-15)
    entry_start = off + 4
    (entry_size,) = struct.unpack_from(">I", payload, entry_start)
    entry_end = min(entry_start + entry_size, len(payload))
    avcc = None
    if entry_start + 86 < entry_end:
        for tag, boff, bend in _walk_boxes(payload, entry_start + 86,
                                           entry_end):
            if tag == b"avcC":
                avcc = payload[boff:bend]
                break

    cap = len(payload)  # a sample needs >= 1 byte: counts beyond the
    # file size are a corrupt (or malicious) sample table, not data
    off, _ = full(b"stts")
    (n_ent,) = struct.unpack_from(">I", payload, off)
    if n_ent > cap:
        raise ValueError("implausible stts entry count")
    ts, ticks, t = [], [], 0
    for i in range(n_ent):
        cnt, delta = struct.unpack_from(">II", payload, off + 4 + 8 * i)
        if cnt + len(ts) > cap:
            raise ValueError("implausible stts sample count")
        for _ in range(cnt):
            ts.append(t * 1000 // timescale)
            ticks.append(t)
            t += delta
    n = len(ts)

    # ctts (composition offsets, B-frame reordering): presentation
    # time = decode time + per-sample offset (v1 offsets are signed)
    comp_ts = None
    if b"ctts" in boxes:
        coff, cend = boxes[b"ctts"]
        ver = payload[coff]
        if ver > 1:
            raise NotImplementedError("ctts v>1 unsupported")
        (n_ce,) = struct.unpack_from(">I", payload, coff + 4)
        if n_ce > cap:
            raise ValueError("implausible ctts entry count")
        offs: list = []
        fmt = ">Ii" if ver == 1 else ">II"
        for i in range(n_ce):
            cnt, o = struct.unpack_from(fmt, payload, coff + 8 + 8 * i)
            if cnt + len(offs) > cap:
                raise ValueError("implausible ctts sample count")
            offs += [o] * cnt
        if len(offs) < n:
            raise ValueError("ctts covers fewer samples than stts")
        comp_ts = [(tk + o) * 1000 // timescale
                   for tk, o in zip(ticks, offs)]

    off, _ = full(b"stsz")
    uniform, cnt = struct.unpack_from(">II", payload, off)
    if cnt > cap:
        raise ValueError("implausible stsz sample count")
    sizes = [uniform] * cnt if uniform else list(
        struct.unpack_from(f">{cnt}I", payload, off + 8))

    off, _ = full(b"stco")
    (n_chunks,) = struct.unpack_from(">I", payload, off)
    if n_chunks > cap:
        raise ValueError("implausible stco chunk count")
    chunk_offs = list(struct.unpack_from(f">{n_chunks}I", payload,
                                         off + 4))

    off, send = full(b"stsc")
    (n_runs,) = struct.unpack_from(">I", payload, off)
    if n_runs > cap:
        raise ValueError("implausible stsc run count")
    runs = [struct.unpack_from(">III", payload, off + 4 + 12 * i)
            for i in range(n_runs)]
    spc = []                                    # samples per chunk
    for i, (first, per, _desc) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < n_runs else n_chunks
        spc += [per] * (last - first + 1)

    samples, si = [], 0
    for ci, coff in enumerate(chunk_offs):
        pos = coff
        for _ in range(spc[ci] if ci < len(spc) else 0):
            if si >= n:
                break
            samples.append(payload[pos:pos + sizes[si]])
            pos += sizes[si]
            si += 1
    if fourcc == b"avc1":
        # rebuild decodable Annex-B access units (SPS/PPS from avcC +
        # length-prefixed sample NALs) so every consumer of "samples"
        # gets the same directly-decodable contract as Motion-JPEG
        if avcc is None:
            raise ValueError("avc1 track lacks an avcC record")
        from . import h264 as _h264
        samples = [_h264.h264_sample_to_annexb(s, avcc) for s in samples]
    return {"fourcc": fourcc, "timescale": timescale, "width": w,
            "height": h, "sample_ts": ts, "samples": samples,
            "composition_ts": comp_ts}


def mp4_frames(payload: bytes):
    """Demux an MP4 and yield (frame_index, frame_ts_ms,
    frame_bytes) — Motion-JPEG samples are directly decodable by
    :func:`jpeg_decode` / :func:`image_features`; compressed video
    fourccs raise at decode time, not here."""
    d = mp4_demux(payload)
    for i, (ts, s) in enumerate(zip(d["sample_ts"], d["samples"])):
        yield i, ts, s


def mp4_sample_frames(payload: bytes, every_ms: int):
    """Same boundary-crossing sampling policy as gsv1_sample_frames."""
    next_ts = 0
    for i, ts, s in mp4_frames(payload):
        if ts >= next_ts:
            yield i, ts, s
            next_ts = (ts // every_ms + 1) * every_ms


def mp4_sample_frame_features(payload: bytes, every_ms: int):
    """Yield (frame_index, frame_ts_ms, image-feature dict) per
    sampled frame of an MP4.

    Motion-JPEG samples decode standalone; avc1 samples form a GOP —
    P samples predict from earlier frames — so the avc1 path decodes
    the sample sequence IN ORDER through h264.h264_decode_gop and
    samples the decoded frames (a standalone decode of a P sample
    raises 'P slice without a reference frame'; r7 ADVICE item)."""
    d = mp4_demux(payload)
    if d["fourcc"] == b"avc1":
        from . import h264 as _h264
        # each demuxed sample is already a full Annex-B access unit
        # (SPS/PPS + slice NALs); their concatenation is the GOP.
        # h264_decode_gop returns frames in OUTPUT order (POC order
        # for poc_type-0 B streams), so pair them with the sorted
        # presentation timeline: ctts composition times when the
        # track carries B reordering, decode times otherwise (equal
        # timelines for I/P-only tracks).
        frames = _h264.h264_decode_gop(b"".join(d["samples"]))
        if len(frames) != len(d["samples"]):
            raise ValueError("avc1 sample count != decoded frame count")
        pres = sorted(d["composition_ts"] or d["sample_ts"])
        next_ts = 0
        for i, (ts, px) in enumerate(zip(pres, frames)):
            if ts >= next_ts:
                yield i, ts, pixel_features(px)
                next_ts = (ts // every_ms + 1) * every_ms
        return
    next_ts = 0
    for i, (ts, s) in enumerate(zip(d["sample_ts"], d["samples"])):
        if ts >= next_ts:
            yield i, ts, image_features(s)
            next_ts = (ts // every_ms + 1) * every_ms


# ---------------------------------------------------------------------------
# FLAC (free lossless audio codec) — real subset codec, pure integers
# ---------------------------------------------------------------------------
# The audio twin of the JPEG re-litigation: FLAC is rice-coded integer
# prediction residuals — no DSP libraries required, and LOSSLESS, so
# decoded statistics are bit-identical to the source (the analytic
# audio oracle carries over unchanged). Scope: 16-bit streams; the
# encoder emits CONSTANT / FIXED(0-2) subframes with single-partition
# rice coding; the decoder additionally handles VERBATIM, FIXED(3-4),
# LPC subframes, all four channel assignments (independent, L/S, R/S,
# M/S), multi-partition rice with escape codes, and wasted bits —
# i.e. the full baseline decode surface of real-world 16-bit FLACs.
# CRC-8 (header) and CRC-16 (frame) are computed and VERIFIED.


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    tab = []
    for b in range(256):
        c = b << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
        tab.append(c)
    return tab


_CRC8_TAB = _crc_table(0x07, 8)
_CRC16_TAB = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """FLAC header CRC-8 (poly 0x07, init 0). C kernel when present;
    table-driven byte loop otherwise — the CRC runs over EVERY frame
    byte, so the old per-bit Python loop was the FLAC decode hot
    spot."""
    try:
        from ..codec.native import flac_crc_native
        c = flac_crc_native(data, 0)
        if c is not None:
            return c
    except Exception:
        pass
    c = 0
    for b in data:
        c = _CRC8_TAB[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    """FLAC frame CRC-16 (poly 0x8005, init 0); same fast-path
    contract as :func:`_crc8`."""
    try:
        from ..codec.native import flac_crc_native
        c = flac_crc_native(data, 1)
        if c is not None:
            return c
    except Exception:
        pass
    c = 0
    for b in data:
        c = ((c << 8) & 0xFFFF) ^ _CRC16_TAB[(c >> 8) ^ b]
    return c


class _MSBWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits:
            self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
            self.n += nbits
            while self.n >= 8:
                self.out.append((self.acc >> (self.n - 8)) & 0xFF)
                self.n -= 8
            self.acc &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)


class _MSBReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bits(self, nbits: int) -> int:
        while self.n < nbits:
            self.acc = (self.acc << 8) | self.d[self.pos]
            self.pos += 1
            self.n += 8
        v = (self.acc >> (self.n - nbits)) & ((1 << nbits) - 1)
        self.n -= nbits
        self.acc &= (1 << self.n) - 1
        return v

    def sbits(self, nbits: int) -> int:
        v = self.bits(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0

    def byte_pos(self) -> int:
        return self.pos - (self.n + 7) // 8


def _utf8_int(w: _MSBWriter, v: int) -> None:
    """FLAC's UTF-8-style coded number (frame index)."""
    if v < 0x80:
        w.put(v, 8)
        return
    for nb in range(2, 8):
        if v < (1 << (5 * nb + 1)):
            w.put((0xFF << (8 - nb)) & 0xFF | (v >> (6 * (nb - 1))), 8)
            for i in range(nb - 2, -1, -1):
                w.put(0x80 | ((v >> (6 * i)) & 0x3F), 8)
            return
    raise ValueError("frame number too large")


def _utf8_int_read(r: _MSBReader) -> int:
    b0 = r.bits(8)
    if b0 < 0x80:
        return b0
    ones = 0
    while b0 & (0x80 >> ones):
        ones += 1
    v = b0 & (0x7F >> ones)
    for _ in range(ones - 1):
        v = (v << 6) | (r.bits(8) & 0x3F)
    return v


def _rice_decode_fast(r: _MSBReader, cnt: int, k: int) -> np.ndarray:
    """Decode ``cnt`` rice(k) codes with a set-bit pointer walk over a
    numpy-unpacked bit window instead of per-bit reader calls: the
    only per-code Python is the unary-terminator scan (skipping set
    bits that belong to previous codes' k-bit suffixes); quotients and
    suffix values are then computed vectorized. ~3x the naive loop —
    and when the lazily-built C kernel is present (codec/native.py,
    same silent-fallback contract as the Gorilla codec) the whole
    partition decodes at C speed instead."""
    start_bit = r.pos * 8 - r.n
    try:
        from ..codec.native import rice_decode_native
        fast = rice_decode_native(r.d, start_bit, cnt, k)
    except Exception:
        fast = None
    if fast is not None:
        vals, end_bit = fast
        r.pos = end_bit >> 3
        r.acc = 0
        r.n = 0
        rem = end_bit & 7
        if rem:
            r.acc = r.d[r.pos] & ((1 << (8 - rem)) - 1)
            r.n = 8 - rem
            r.pos += 1
        return vals
    w0 = start_bit // 8
    need = w0 + ((cnt * (k + 34)) >> 3) + 64
    ts = np.empty(cnt, dtype=np.int64)
    curs = np.empty(cnt, dtype=np.int64)
    while True:
        win = np.frombuffer(r.d, dtype=np.uint8,
                            count=min(need, len(r.d)) - w0, offset=w0)
        bits = np.unpackbits(win)
        ones = np.flatnonzero(bits)
        cur = start_bit - w0 * 8
        p = int(np.searchsorted(ones, cur))
        i = 0
        ok = True
        n1 = len(ones)
        olist = ones.tolist()
        while i < cnt:
            while p < n1 and olist[p] < cur:
                p += 1
            if p >= n1:
                ok = False
                break
            t = olist[p]
            p += 1
            curs[i] = cur
            ts[i] = t
            cur = t + 1 + k
            i += 1
        if ok and cur <= len(bits):
            break
        if need >= len(r.d) + w0:
            raise ValueError("truncated FLAC rice partition")
        need = need * 2
    q = ts - curs
    if k:
        idx = ts[:, None] + 1 + np.arange(k)
        pw = 1 << np.arange(k - 1, -1, -1, dtype=np.int64)
        u = (q << k) | (bits[idx].astype(np.int64) @ pw)
    else:
        u = q
    vals = (u >> 1) ^ -(u & 1)
    # reposition the bit reader after the partition
    abs_bit = w0 * 8 + cur
    r.pos = abs_bit >> 3
    r.acc = 0
    r.n = 0
    rem = abs_bit & 7
    if rem:
        r.acc = r.d[r.pos] & ((1 << (8 - rem)) - 1)
        r.n = 8 - rem
        r.pos += 1
    return vals


def _rice_encode_fast(fw: _MSBWriter, u: np.ndarray, k: int) -> None:
    """Vectorized rice(k) encoding of zigzagged values: code bit
    positions computed in numpy (terminator at start+q, k suffix bits
    after), packed with np.packbits, appended to the writer in whole
    bytes — no per-sample Python in the hot path."""
    q = (u >> k).astype(np.int64)
    lens = q + 1 + k
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    total = int(starts[-1] + lens[-1]) if len(u) else 0
    bits = np.zeros(total, dtype=np.uint8)
    bits[starts + q] = 1
    if k:
        idx = (starts + q + 1)[:, None] + np.arange(k)
        vals = (u[:, None] >> np.arange(k - 1, -1, -1)) & 1
        bits[idx.reshape(-1)] = vals.reshape(-1).astype(np.uint8)
    # merge with the writer's partial byte so the whole partition
    # appends as one bytes() extend instead of per-byte put() calls
    if fw.n:
        acc_bits = np.array([(fw.acc >> (fw.n - 1 - i)) & 1
                             for i in range(fw.n)], dtype=np.uint8)
        bits = np.concatenate([acc_bits, bits])
        total += fw.n
        fw.acc = 0
        fw.n = 0
    packed = np.packbits(bits)
    nfull = total >> 3
    fw.out += packed[:nfull].tobytes()
    rem = total & 7
    if rem:
        fw.acc = int(packed[nfull]) >> (8 - rem)
        fw.n = rem


def _write_rice_residuals(fw: _MSBWriter, res: np.ndarray, order: int,
                          bs: int, partition_order: int,
                          escape: bool) -> None:
    fw.put(0b00, 2)                              # rice, 4-bit params
    fw.put(partition_order, 4)
    off = 0
    for p in range(1 << partition_order):
        cnt = (bs >> partition_order) - (order if p == 0 else 0)
        part = res[off:off + cnt]
        off += cnt
        if escape:
            fw.put(0b1111, 4)
            fw.put(17, 5)
            for v in part:
                fw.put(int(v) & 0x1FFFF, 17)
            continue
        u = (part << 1) ^ (part >> 63)
        mean = int(u.mean()) if len(u) else 0
        k = min(max(mean, 1).bit_length() - 1, 14)
        fw.put(k, 4)
        if len(u) > 64:
            _rice_encode_fast(fw, u, k)
        else:
            for vv in u:
                fw.unary(int(vv) >> k)
                fw.put(int(vv), k)


def _write_subframe(fw: _MSBWriter, blk: np.ndarray, cbps: int,
                    mode: str, partition_order: int,
                    escape: bool) -> None:
    fw.put(0, 1)
    # wasted-bits detection: w common trailing zero bits
    wasted = 0
    if mode == "auto" and len(blk) and (blk != 0).any():
        nz = blk[blk != 0]
        wasted = min(int(v & -v).bit_length() - 1 for v in nz)
        wasted = max(0, min(wasted, cbps - 1))
    work = blk >> wasted if wasted else blk
    eff = cbps - wasted
    if len(work) and (work == work[0]).all() and mode == "auto":
        fw.put(0b000000, 6)                      # CONSTANT
        fw.put(0, 1)
        fw.put(int(work[0]) & ((1 << eff) - 1), eff)
        return
    if mode == "verbatim":
        fw.put(0b000001, 6)
        fw.put(0, 1)
        for v in blk:
            fw.put(int(v) & ((1 << cbps) - 1), cbps)
        return
    if mode == "lpc":
        # order-2 LPC with qlp [2, -1] shift 0 == the FIXED(2)
        # predictor, emitted through the LPC wire format
        order = 2
        fw.put(0b100000 | (order - 1), 6)
        fw.put(0, 1)
        for v in blk[:order]:
            fw.put(int(v) & ((1 << cbps) - 1), cbps)
        fw.put(4 - 1, 4)                         # precision 4
        fw.put(0, 5)                             # shift 0
        fw.put(2 & 0xF, 4)
        fw.put(-1 & 0xF, 4)
        res = blk[2:] - (2 * blk[1:-1] - blk[:-2])
        _write_rice_residuals(fw, res, order, len(blk),
                              partition_order, escape)
        return
    best, best_res = None, None
    for order in (0, 1, 2):
        if len(work) <= order:
            continue
        res = work.copy()
        for _ in range(order):
            res = np.diff(res)
        cost = np.abs(res).sum()
        if best is None or cost < best[0]:
            best, best_res = (cost, order), res
    order = best[1]
    fw.put(0b001000 | order, 6)                  # FIXED
    if wasted:
        fw.put(1, 1)
        fw.unary(wasted - 1)
    else:
        fw.put(0, 1)
    for v in work[:order]:
        fw.put(int(v) & ((1 << eff) - 1), eff)
    _write_rice_residuals(fw, best_res, order, len(work),
                          partition_order, escape)


def flac_encode(samples: np.ndarray, sample_rate: int = 16000,
                n_channels: int = 1, block_size: int = 4096,
                mode: str = "auto", stereo: str = "independent",
                partition_order: int = 0, escape: bool = False) -> bytes:
    """Encode int16 samples (interleaved if multi-channel) as FLAC.

    Default path: per-block CONSTANT/FIXED(0-2) subframes chosen by
    residual magnitude, auto wasted-bits detection, rice partitions
    of order ``partition_order``. The knobs exist so every DECODE
    path is exercised by an encoder that really emits it (not by
    hand-crafted bit arrays): ``mode`` 'verbatim'/'lpc' (order-2 LPC
    via the LPC wire format), ``stereo`` 'ls'/'rs'/'ms' (left-side /
    right-side / mid-side decorrelation, side at bps+1),
    ``escape=True`` (raw-residual escape partitions)."""
    s = np.asarray(samples, dtype=np.int64)
    if s.size % n_channels:
        raise ValueError("sample count not divisible by channel count")
    chans = [s[c::n_channels] for c in range(n_channels)]
    n_frames_samples = len(chans[0])

    w = _MSBWriter()
    w.out += b"fLaC"
    # STREAMINFO (last metadata block)
    si = _MSBWriter()
    last_bs = n_frames_samples % block_size or block_size
    si.put(min(block_size, n_frames_samples), 16)
    si.put(min(block_size, max(n_frames_samples, 1)), 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(sample_rate, 20)
    si.put(n_channels - 1, 3)
    si.put(15, 5)                                # bps - 1 = 15
    si.put(n_frames_samples, 36)
    si.align()
    si.out += b"\x00" * 16                       # MD5 unknown
    w.out += bytes([0x80]) + struct.pack(">I", len(si.out))[1:] \
        + bytes(si.out)

    if stereo != "independent" and n_channels != 2:
        raise ValueError("stereo decorrelation needs 2 channels")
    ch_codes = {"independent": n_channels - 1, "ls": 8, "rs": 9,
                "ms": 10}
    for fi in range(0, max(n_frames_samples, 1), block_size):
        bs = min(block_size, n_frames_samples - fi) or 0
        if bs == 0:
            break
        if partition_order and (bs >> partition_order) << \
                partition_order != bs:
            raise ValueError("block size not divisible by partitions")
        fw = _MSBWriter()
        fw.put(0b11111111111110, 14)
        fw.put(0, 1)                             # reserved
        fw.put(0, 1)                             # fixed blocking
        custom_bs = bs != 4096
        fw.put(0b0111 if custom_bs else 0b1100, 4)
        fw.put(0, 4)                             # rate from STREAMINFO
        fw.put(ch_codes[stereo], 4)
        fw.put(0b100, 3)                         # 16-bit
        fw.put(0, 1)
        _utf8_int(fw, fi // block_size)
        if custom_bs:
            fw.put(bs - 1, 16)
        fw.align()
        fw.out.append(_crc8(bytes(fw.out)))

        blks = [ch[fi:fi + bs] for ch in chans]
        if stereo == "ls":
            sub = [(blks[0], 16), (blks[0] - blks[1], 17)]
        elif stereo == "rs":
            sub = [(blks[0] - blks[1], 17), (blks[1], 16)]
        elif stereo == "ms":
            sub = [((blks[0] + blks[1]) >> 1, 16),
                   (blks[0] - blks[1], 17)]
        else:
            sub = [(b, 16) for b in blks]
        for blk, cbps in sub:
            _write_subframe(fw, blk, cbps, mode, partition_order,
                            escape)
        fw.align()
        body = bytes(fw.out)
        w.out += body + struct.pack(">H", _crc16(body))
    return bytes(w.out)


@_loud_corruption
def flac_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode FLAC to (sample_rate, n_channels, interleaved int
    samples). Handles CONSTANT/VERBATIM/FIXED/LPC subframes, all
    channel assignments, multi-partition rice (+escapes), wasted
    bits; verifies header CRC-8 and frame CRC-16. Non-16-bit streams
    decode too (bps from the stream)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    sample_rate = n_channels = bps = None
    total = 0
    while True:
        hdr = payload[pos]
        btype = hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + payload[pos + 1:pos + 4])
        body = payload[pos + 4:pos + 4 + ln]
        if btype == 0:
            r = _MSBReader(body)
            r.bits(16); r.bits(16); r.bits(24); r.bits(24)
            sample_rate = r.bits(20)
            n_channels = r.bits(3) + 1
            bps = r.bits(5) + 1
            total = r.bits(36)
        pos += 4 + ln
        if hdr & 0x80:
            break
    if sample_rate is None:
        raise ValueError("FLAC missing STREAMINFO")

    out = [[] for _ in range(n_channels)]
    got = 0
    while got < total and pos < len(payload):
        try:
            pos, got = _flac_frame(payload, pos, got, bps, out)
        except (IndexError, struct.error) as e:
            # a corrupt bitstream can desynchronize the reader before
            # the CRC is even reached — fail as corruption, loudly
            raise ValueError(f"corrupt FLAC frame at {pos}: {e}")

    inter = np.empty(got * n_channels, dtype=np.int64)
    for c in range(n_channels):
        cat = (np.concatenate(out[c]) if out[c]
               else np.empty(0, dtype=np.int64))
        inter[c::n_channels] = cat[:got]
    return sample_rate, n_channels, inter


def _flac_frame(payload: bytes, pos: int, got: int, bps: int,
                out: list) -> tuple[int, int]:
    """Decode one frame in place; returns (next_pos, new_got)."""
    fstart = pos
    r = _MSBReader(payload, pos)
    if r.bits(14) != 0b11111111111110:
        raise ValueError("bad FLAC frame sync")
    r.bits(1)
    r.bits(1)
    bs_code = r.bits(4)
    sr_code = r.bits(4)
    ch_code = r.bits(4)
    bps_code = r.bits(3)
    r.bits(1)
    _utf8_int_read(r)
    if bs_code == 0b0110:
        bs = r.bits(8) + 1
    elif bs_code == 0b0111:
        bs = r.bits(16) + 1
    elif bs_code == 0b0001:
        bs = 192
    elif 0b0010 <= bs_code <= 0b0101:
        bs = 576 << (bs_code - 2)
    elif bs_code >= 0b1000:
        bs = 256 << (bs_code - 8)
    else:
        raise ValueError("reserved block size code")
    if sr_code in (0b1100,):
        r.bits(8)
    elif sr_code in (0b1101, 0b1110):
        r.bits(16)
    fbps = {0b100: 16, 0b001: 8, 0b010: 12, 0b101: 20,
            0b110: 24}.get(bps_code, bps)
    hdr_end = r.byte_pos()
    crc8 = r.bits(8)
    if crc8 != _crc8(payload[fstart:hdr_end]):
        raise ValueError("FLAC frame header CRC-8 mismatch")

    if ch_code < 8:
        nch, kinds = ch_code + 1, ["ind"] * (ch_code + 1)
    elif ch_code == 8:
        nch, kinds = 2, ["ind", "side"]      # L/S
    elif ch_code == 9:
        nch, kinds = 2, ["side", "ind"]      # R/S... side first
    elif ch_code == 10:
        nch, kinds = 2, ["ind", "side"]      # M/S
    else:
        raise ValueError("reserved channel assignment")

    chans = []
    for c in range(nch):
        cbps = fbps + (1 if (
            (ch_code == 8 and c == 1) or (ch_code == 9 and c == 0)
            or (ch_code == 10 and c == 1)) else 0)
        r.bits(1)
        st = r.bits(6)
        wasted = 0
        if r.bits(1):
            wasted = r.unary() + 1
            cbps -= wasted
        if st == 0:                          # CONSTANT
            blk = np.full(bs, r.sbits(cbps), dtype=np.int64)
        elif st == 1:                        # VERBATIM
            blk = np.array([r.sbits(cbps) for _ in range(bs)],
                           dtype=np.int64)
        elif 8 <= st <= 12 or st >= 32:      # FIXED / LPC
            if st >= 32:
                order = (st & 0x1F) + 1
                warm = [r.sbits(cbps) for _ in range(order)]
                prec = r.bits(4) + 1
                shift = r.sbits(5)
                qlp = [r.sbits(prec) for _ in range(order)]
            else:
                order = st - 8
                warm = [r.sbits(cbps) for _ in range(order)]
            method = r.bits(2)
            if method > 1:
                raise ValueError("reserved residual method")
            pbits = 4 if method == 0 else 5
            po = r.bits(4)
            parts = []
            for p in range(1 << po):
                cnt = (bs >> po) - (order if p == 0 else 0)
                k = r.bits(pbits)
                if k == (1 << pbits) - 1:    # escape: raw
                    rb = r.bits(5)
                    parts.append(np.array(
                        [r.sbits(rb) if rb else 0 for _ in range(cnt)],
                        dtype=np.int64))
                elif cnt > 64:
                    parts.append(_rice_decode_fast(r, cnt, k))
                else:
                    pp = []
                    for _ in range(cnt):
                        q = r.unary()
                        u = (q << k) | r.bits(k)
                        pp.append((u >> 1) ^ -(u & 1))
                    parts.append(np.array(pp, dtype=np.int64))
            res = (np.concatenate(parts) if parts
                   else np.empty(0, dtype=np.int64))
            blk = np.empty(bs, dtype=np.int64)
            blk[:order] = warm
            if st >= 32:
                # true recurrence (the shift makes it non-linear in
                # integer arithmetic) — sequential, LPC only
                for i in range(order, bs):
                    acc = 0
                    for j in range(order):
                        acc += qlp[j] * blk[i - 1 - j]
                    blk[i] = res[i - order] + (acc >> shift)
            elif order == 0:
                blk[:] = res
            else:
                # FIXED order o == o-fold integration: reconstruct by
                # repeated cumsum seeded with the warm-up samples'
                # difference chain — no per-sample Python
                warm_a = np.asarray(warm, dtype=np.int64)
                diffs = [warm_a]
                for _ in range(order - 1):
                    diffs.append(np.diff(diffs[-1]))
                cur = np.asarray(res, dtype=np.int64)
                for j in range(order, 0, -1):
                    cur = diffs[j - 1][-1] + np.cumsum(cur)
                blk[order:] = cur
        else:
            raise ValueError(f"reserved subframe type {st}")
        chans.append(blk << wasted)

    # undo inter-channel decorrelation
    if ch_code == 8:                         # left/side
        left, side = chans
        chans = [left, left - side]
    elif ch_code == 9:                       # right/side
        side, right = chans
        chans = [right + side, right]
    elif ch_code == 10:                      # mid/side
        mid, side = chans
        left = mid + ((side + (side & 1)) >> 1)
        chans = [left, left - side]
    r.align()
    fend = r.byte_pos()
    (crc16,) = struct.unpack_from(">H", payload, fend)
    if crc16 != _crc16(payload[fstart:fend]):
        raise ValueError("FLAC frame CRC-16 mismatch")
    for c in range(len(chans)):
        out[c].append(np.asarray(chans[c], dtype=np.int64))
    return fend + 2, got + bs
