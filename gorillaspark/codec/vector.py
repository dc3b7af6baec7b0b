"""Gorilla block codec entry: one encode and one decode function for
every predictor.

Both take S blocks at once, laid out back to back: ``offsets`` (S+1)
splits the points, ``word_counts`` (S) splits the words, and each
block's words are an independent stream with its own header, close
marker and the reference's trailing snapshot word
(`LongArrayOutput.java:136-145`). Values are raw 64-bit patterns
(float64 arrays are viewed as uint64, so NaN payloads, -0.0 and
subnormals round-trip exactly).

Which kernel runs:

* ``last_value`` and ``dfcm[:N]`` — the C kernel (:mod:`.native`);
* ``v1`` (the byte-oriented, go-tsz-interoperable format), and every
  predictor when the C kernel could not be built or loaded — the scalar
  codec (:mod:`.scalar`), one block at a time. The first fallback in a
  process warns, naming the cause.

Both kernels write the same words; tests/test_codec_vector.py checks
each against every v2 golden and against the other. A corrupt block
raises ``ValueError`` on either path.
"""

from __future__ import annotations

import warnings

import numpy as np

from . import native
from .scalar import (
    GorillaDecoder,
    GorillaEncoder,
    GorillaV1Decoder,
    GorillaV1Encoder,
)

_fallback_warned = False


def _use_c_kernel(predictor: str) -> bool:
    """True when ``predictor`` runs on the C kernel; warns once per
    process when it would but the kernel is missing."""
    global _fallback_warned
    if predictor == "v1":
        return False
    if native.NATIVE is not None:
        return True
    if not _fallback_warned:
        _fallback_warned = True
        cause = native.NATIVE_ERROR or "not loaded"
        warnings.warn(
            f"Gorilla C kernel unavailable ({cause}); the codec runs on "
            "the scalar Python path, about 200x slower",
            RuntimeWarning, stacklevel=3)
    return False


def _dfcm_size(predictor: str) -> int:
    return int(predictor.split(":", 1)[1]) if ":" in predictor else 1024


def encode_blocks_fast(block_ts: np.ndarray, offsets: np.ndarray,
                       ts: np.ndarray, values: np.ndarray,
                       predictor: str = "last_value"
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Encode S blocks → (uint64 words, int64 words per block).

    ``block_ts`` int64[S] is each block's header timestamp; block s owns
    ``ts[offsets[s]:offsets[s+1]]`` (ascending int64 epoch-ms) and the
    same slice of ``values``.
    """
    values = np.ascontiguousarray(values).view(np.uint64)
    if _use_c_kernel(predictor):
        if predictor == "last_value":
            return native.encode_blocks_native(block_ts, offsets, ts,
                                               values)
        return native.encode_blocks_dfcm_native(
            block_ts, offsets, ts, values, _dfcm_size(predictor))
    words = []
    for s, bt in enumerate(np.asarray(block_ts).tolist()):
        a, b = offsets[s], offsets[s + 1]
        enc = GorillaV1Encoder(bt) if predictor == "v1" \
            else GorillaEncoder(bt, predictor=predictor)
        for t, v in zip(ts[a:b].tolist(), values[a:b].tolist()):
            enc.add(t, v)
        out = enc.close()
        words.append(np.frombuffer(out, dtype=">u8").astype(np.uint64)
                     if predictor == "v1" else np.array(out, np.uint64))
    return (np.concatenate(words) if words else np.empty(0, np.uint64),
            np.array([len(w) for w in words], dtype=np.int64))


def decode_blocks_fast(words: np.ndarray, word_counts: np.ndarray,
                       n_points_hint: int | None = None,
                       predictor: str = "last_value"):
    """Decode S blocks → (int64[S+1] point offsets, int64 ts, uint64
    values). ``n_points_hint`` sizes the C kernel's output buffers."""
    if _use_c_kernel(predictor):
        if predictor == "last_value":
            return native.decode_blocks_native(words, word_counts,
                                               n_points_hint)
        return native.decode_blocks_dfcm_native(
            words, word_counts, _dfcm_size(predictor), n_points_hint)
    words = np.asarray(words, dtype=np.uint64)
    wc = np.asarray(word_counts, dtype=np.int64)
    ends = np.cumsum(wc)
    offsets = np.zeros(len(wc) + 1, dtype=np.int64)
    pairs = []
    for s, (a, b) in enumerate(zip((ends - wc).tolist(), ends.tolist())):
        dec = GorillaV1Decoder(words[a:b].astype(">u8").tobytes()) \
            if predictor == "v1" \
            else GorillaDecoder(words[a:b].tolist(), predictor=predictor)
        pairs += dec.read_all()
        offsets[s + 1] = len(pairs)
    pts = np.array(pairs, dtype=np.uint64).reshape(-1, 2)
    return offsets, pts[:, 0].view(np.int64).copy(), pts[:, 1].copy()
