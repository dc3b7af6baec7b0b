"""ctypes loader for the C kernel (codec/_native/gorilla.c).

Built lazily with the system compiler (``cc -O3 -shared -fPIC``) into
the package directory. If there is no compiler or the build or load
fails, ``NATIVE = None`` and ``NATIVE_ERROR`` says why; the Gorilla
codec entry (:mod:`gorillaspark.codec.vector`) then runs the scalar
Python codec and warns once, and the media decoders use their Python
paths — correctness never depends on this module.

The Gorilla wrappers below raise instead of asking for a fallback: a
corrupt block is a ``ValueError``, a missing kernel a ``RuntimeError``.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
from pathlib import Path

import numpy as np

_DIR = Path(__file__).parent / "_native"
_SRC = _DIR / "gorilla.c"


def _so_path() -> Path:
    """Shared-object name keyed by the source hash: a changed gorilla.c
    always gets a fresh build even when mtimes are unreliable (git
    checkout / rsync preserving timestamps). Raises OSError when the
    source is not shipped at all (pruned install)."""
    digest = hashlib.sha256(_SRC.read_bytes()).hexdigest()[:12]
    return _DIR / f"_gorilla_{digest}.so"


def _build() -> Path:
    so = _so_path()
    if so.exists():
        return so
    # many executor Python workers may import concurrently: build to
    # a unique temp name, then atomically rename into place
    tmp = so.with_suffix(f".{os.getpid()}.tmp.so")
    try:
        subprocess.run(
            ["cc", "-O3", "-shared", "-fPIC", "-o", str(tmp), str(_SRC)],
            check=True, capture_output=True, timeout=120)
    except subprocess.CalledProcessError as e:
        raise OSError("cc failed: "
                      + e.stderr.decode(errors="replace")[-400:]) from e
    os.replace(tmp, so)
    # best-effort sweep of builds of older source revisions
    for old in _DIR.glob("_gorilla*.so"):
        if old != so:
            try:
                old.unlink()
            except OSError:
                pass
    return so


def _load():
    """(library, None) when the kernel builds and binds, else
    (None, the cause)."""
    try:
        lib = ctypes.CDLL(str(_build()))
        I64 = ctypes.POINTER(ctypes.c_int64)
        U64 = ctypes.POINTER(ctypes.c_uint64)
        lib.gs_encode_blocks.restype = ctypes.c_int64
        lib.gs_encode_blocks.argtypes = [I64, I64, ctypes.c_int64, I64,
                                         U64, U64, ctypes.c_int64, I64]
        lib.gs_decode_blocks.restype = ctypes.c_int64
        lib.gs_decode_blocks.argtypes = [U64, I64, ctypes.c_int64, I64,
                                         U64, I64, ctypes.c_int64]
        lib.gs_encode_blocks_dfcm.restype = ctypes.c_int64
        lib.gs_encode_blocks_dfcm.argtypes = [
            I64, I64, ctypes.c_int64, I64, U64, U64, ctypes.c_int64,
            I64, U64, ctypes.c_int64]
        lib.gs_decode_blocks_dfcm.restype = ctypes.c_int64
        lib.gs_decode_blocks_dfcm.argtypes = [
            U64, I64, ctypes.c_int64, I64, U64, I64, ctypes.c_int64,
            U64, ctypes.c_int64]
        U8 = ctypes.POINTER(ctypes.c_uint8)
        lib.gs_rice_decode.restype = ctypes.c_int64
        lib.gs_rice_decode.argtypes = [U8, ctypes.c_int64,
                                       ctypes.c_int64, ctypes.c_int64,
                                       ctypes.c_int, I64]
        lib.gs_png_unfilter.restype = ctypes.c_int
        lib.gs_png_unfilter.argtypes = [U8, ctypes.c_int64,
                                        ctypes.c_int64, ctypes.c_int, U8]
        lib.gs_flac_crc.restype = ctypes.c_int
        lib.gs_flac_crc.argtypes = [U8, ctypes.c_int64, ctypes.c_int]
        I32 = ctypes.POINTER(ctypes.c_int32)
        lib.gs_jpeg_scan.restype = ctypes.c_int
        lib.gs_jpeg_scan.argtypes = (
            [U8, ctypes.c_int64, ctypes.c_int64] + [ctypes.c_int] * 5
            + [I32] * 5 + [I64] + [I32] * 3 + [I32] * 3 + [U8] + [I32])
        return lib, None
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"


NATIVE, NATIVE_ERROR = _load()


def _malloc_prefault() -> bool:
    """Raise glibc's M_MMAP_THRESHOLD so the large per-batch decode
    output buffers (~16 B/point, freed every Arrow batch) come from
    the malloc free-list instead of fresh mmaps: freed pages stay
    faulted, removing kernel page-zeroing from the per-batch cost.
    BENCH/BASELINE.md "Decode-cliff probe" quantifies it (cold-output
    faults collapse 32-proc decode 5×; in the steady-state Spark path
    this trims ~14% off the median batch). Heap high-water memory is
    retained by the worker — bounded by one batch's output footprint.
    Disable with SPARK_GRAFT_MALLOC_PREFAULT=0."""
    if os.environ.get("SPARK_GRAFT_MALLOC_PREFAULT", "1") != "1":
        return False
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        M_MMAP_THRESHOLD = -3
        return bool(libc.mallopt(M_MMAP_THRESHOLD, 1 << 30))
    except Exception:
        return False


_PREFAULT = _malloc_prefault()


def _p64(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _pu64(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64))


def _kernel(name: str):
    if NATIVE is None:
        raise RuntimeError(f"Gorilla C kernel unavailable ({NATIVE_ERROR})")
    return getattr(NATIVE, name)


def _encode(kernel, block_ts, offsets, ts, values, *table):
    """One segmented encode call → (words, words per block). ``table``
    is the DFCM kernels' (scratch table, size) pair."""
    block_ts = np.ascontiguousarray(block_ts, dtype=np.int64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    values = np.ascontiguousarray(values).view(np.uint64)
    S = block_ts.shape[0]
    if offsets.shape != (S + 1,) or offsets.min() < 0 \
            or offsets.max() > min(ts.shape[0], values.shape[0]):
        raise ValueError("Gorilla block offsets do not fit the points")
    # a point takes at most 114 bits and a block's header, first point
    # and close marker at most 6 words, so this capacity always fits
    cap = 2 * ts.shape[0] + 6 * max(S, 1)
    out_words = np.empty(cap, dtype=np.uint64)
    out_wc = np.empty(max(S, 1), dtype=np.int64)
    total = kernel(_p64(block_ts), _p64(offsets), S, _p64(ts),
                   _pu64(values), _pu64(out_words), cap, _p64(out_wc),
                   *table)
    if total < 0:
        raise RuntimeError(f"Gorilla encode overflowed {cap} words")
    return out_words[:total].copy(), out_wc[:S].copy()


def _decode(kernel, words, word_counts, n_points_hint, *table):
    """One segmented decode call → (offsets, ts, values); ValueError on
    a corrupt block."""
    words = np.ascontiguousarray(words, dtype=np.uint64)
    wc = np.ascontiguousarray(word_counts, dtype=np.int64)
    S = wc.shape[0]
    if int(wc.sum()) > words.shape[0]:
        raise ValueError("Gorilla word counts exceed the words given")
    # every point after a block's first takes at least 2 bits and the
    # kernel rejects reads past a block's last word: 32 points a word
    bound = 32 * words.shape[0]
    for cap in ([int(n_points_hint)] if n_points_hint else []) + [bound]:
        out_ts = np.empty(cap, dtype=np.int64)
        out_vals = np.empty(cap, dtype=np.uint64)
        out_off = np.empty(S + 1, dtype=np.int64)
        total = kernel(_pu64(words), _p64(wc), S, _p64(out_ts),
                       _pu64(out_vals), _p64(out_off), cap, *table)
        if total == -2:
            raise ValueError("corrupt Gorilla block (truncated, or a "
                             "value window wider than 64 bits)")
        if total >= 0:
            return out_off, out_ts[:total].copy(), out_vals[:total].copy()
    raise RuntimeError(f"Gorilla decode overflowed {bound} points")


def _dfcm_table(size: int) -> np.ndarray:
    """Scratch table for the DFCM kernels, sized by the Java rounding
    mirrored from predictors.DifferentialFCM: next power of two of
    (size-1).bit_length(), with size==1 -> 1."""
    if size <= 0:
        raise ValueError("size must be positive")
    size -= 1
    return np.empty(1 if size == 0 else 1 << size.bit_length(),
                    dtype=np.uint64)


def encode_blocks_native(block_ts: np.ndarray, offsets: np.ndarray,
                         ts: np.ndarray, values: np.ndarray):
    """C-kernel segmented last-value encode → (words, words per block);
    same contract as :func:`gorillaspark.codec.vector.encode_blocks_fast`."""
    return _encode(_kernel("gs_encode_blocks"), block_ts, offsets, ts,
                   values)


def decode_blocks_native(words: np.ndarray, word_counts: np.ndarray,
                         n_points_hint: int | None = None):
    """C-kernel segmented last-value decode → (offsets, ts, values)."""
    return _decode(_kernel("gs_decode_blocks"), words, word_counts,
                   n_points_hint)


def encode_blocks_dfcm_native(block_ts: np.ndarray, offsets: np.ndarray,
                              ts: np.ndarray, values: np.ndarray,
                              size: int = 1024):
    """C-kernel segmented encode with the DFCM value predictor
    (bit-exact vs codec/scalar.py GorillaEncoder(predictor='dfcm:N'))."""
    table = _dfcm_table(size)
    return _encode(_kernel("gs_encode_blocks_dfcm"), block_ts, offsets,
                   ts, values, _pu64(table), table.shape[0])


def decode_blocks_dfcm_native(words: np.ndarray, word_counts: np.ndarray,
                              size: int = 1024,
                              n_points_hint: int | None = None):
    """C-kernel segmented DFCM decode → (offsets, ts, values)."""
    table = _dfcm_table(size)
    return _decode(_kernel("gs_decode_blocks_dfcm"), words, word_counts,
                   n_points_hint, _pu64(table), table.shape[0])


def rice_decode_native(data: bytes, start_bit: int, cnt: int,
                       k: int):
    """C fast path for FLAC rice partitions: (int64 residuals,
    end_bit), or None when the kernel is unavailable / the stream is
    truncated (caller falls back to the numpy path)."""
    if NATIVE is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(cnt, dtype=np.int64)
    end = NATIVE.gs_rice_decode(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        len(data), start_bit, cnt, k, _p64(out))
    if end < 0:
        return None
    return out, int(end)


def png_unfilter_native(raw: np.ndarray, h: int, w: int, c: int):
    """C fast path for PNG row unfiltering: (h, w, c) uint8 array, or
    None when the kernel is unavailable (caller falls back to numpy).
    Raises ValueError on an invalid filter byte — same contract as the
    Python path."""
    if NATIVE is None:
        return None
    raw = np.ascontiguousarray(raw, dtype=np.uint8)
    out = np.empty(h * w * c, dtype=np.uint8)
    U8 = ctypes.POINTER(ctypes.c_uint8)
    rc = NATIVE.gs_png_unfilter(
        raw.ctypes.data_as(U8), h, w, c, out.ctypes.data_as(U8))
    if rc < 0:
        raise ValueError("bad PNG filter byte")
    return out.reshape(h, w, c)


def jpeg_scan_native(data: bytes, start: int, mcux: int, mcuy: int,
                     dri: int, n_comps: int, units: np.ndarray,
                     comp_base: np.ndarray, comp_rowstride: np.ndarray,
                     comp_sh: np.ndarray, comp_sv: np.ndarray,
                     mincode: np.ndarray, maxcode: np.ndarray,
                     valptr: np.ndarray, vals: np.ndarray,
                     total_blocks: int):
    """C fast path for the baseline-JPEG entropy scan: zig-zag
    coefficient blocks (total_blocks, 64) int32, or None when the
    kernel is unavailable. ``units`` is (n_units, 5) int32 rows of
    (comp, v, u, dc_slot, ac_slot). Raises ValueError on corrupt
    entropy data — same failure classes as the Python bit-walk."""
    if NATIVE is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    units = np.ascontiguousarray(units, dtype=np.int32)
    out = np.zeros(total_blocks * 64, dtype=np.int32)
    U8 = ctypes.POINTER(ctypes.c_uint8)
    I32 = ctypes.POINTER(ctypes.c_int32)

    def p32(a):
        return np.ascontiguousarray(a, dtype=np.int32) \
            .ctypes.data_as(I32)

    rc = NATIVE.gs_jpeg_scan(
        buf.ctypes.data_as(U8), len(data), start, mcux, mcuy, dri,
        n_comps, units.shape[0],
        p32(units[:, 0].copy()), p32(units[:, 1].copy()),
        p32(units[:, 2].copy()), p32(units[:, 3].copy()),
        p32(units[:, 4].copy()),
        _p64(np.ascontiguousarray(comp_base, dtype=np.int64)),
        p32(comp_rowstride), p32(comp_sh), p32(comp_sv),
        p32(mincode), p32(maxcode), p32(valptr),
        np.ascontiguousarray(vals, dtype=np.uint8)
        .ctypes.data_as(U8),
        out.ctypes.data_as(I32))
    if rc == -2:
        raise ValueError("invalid huffman code in JPEG stream")
    if rc == -3:
        raise ValueError("AC run overflow")
    if rc == -4:
        raise ValueError("truncated JPEG: missing restart marker")
    if rc == -5:
        raise ValueError("implausible JPEG DC size")
    if rc != 0:
        raise ValueError(f"JPEG entropy decode failed ({rc})")
    return out.reshape(total_blocks, 64)


def flac_crc_native(data: bytes, mode: int):
    """C fast path for FLAC frame CRCs (mode 0 = CRC-8 poly 0x07,
    1 = CRC-16 poly 0x8005); None when the kernel is unavailable."""
    if NATIVE is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    return int(NATIVE.gs_flac_crc(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        len(data), mode))
