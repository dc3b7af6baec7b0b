"""Vectorized codec: golden bit-exactness, differential equality with
the scalar reference implementation, and property-based round trips.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gorillaspark.codec.bitbuf import words_to_unsigned
from gorillaspark.codec.scalar import GorillaEncoder
from gorillaspark.codec.vector import (
    decode_blocks,
    decode_v2,
    encode_blocks,
    encode_v2,
)

GOLDENS = Path(__file__).parent / "goldens"
_U64 = (1 << 64) - 1

V2_NAMES = ["simple8", "will_it_blend", "similar_floats", "large_random",
            "long_values", "empty_block", "edge_bits", "ts_torture"]


def _fixture_arrays(name):
    fx = json.loads((GOLDENS / f"{name}.json").read_text())
    ts = np.array([p[0] for p in fx["points"]], dtype=np.int64)
    vs = np.array([p[1] & _U64 for p in fx["points"]], dtype=np.uint64)
    want = np.array(words_to_unsigned(fx["words"]), dtype=np.uint64)
    return fx["block_ts"], ts, vs, want


@pytest.mark.parametrize("name", V2_NAMES)
def test_vector_encode_bit_exact(name):
    block_ts, ts, vs, want = _fixture_arrays(name)
    got = encode_v2(block_ts, ts, vs)
    assert got.shape == want.shape and bool((got == want).all())


@pytest.mark.parametrize("name", V2_NAMES)
def test_vector_decode_reference_stream(name):
    block_ts, ts, vs, want = _fixture_arrays(name)
    dts, dvs = decode_v2(want)
    assert (dts == ts).all() and (dvs == vs).all()


def test_copy_flush_snapshot_unclosed():
    fx = json.loads((GOLDENS / "copy_flush.json").read_text())
    ts = np.array([p[0] for p in fx["points"]], dtype=np.int64)
    vs = np.array([p[1] & _U64 for p in fx["points"]], dtype=np.uint64)
    got = encode_v2(fx["block_ts"], ts, vs, closed=False)
    want = np.array(words_to_unsigned(fx["words"]), dtype=np.uint64)
    assert got.shape == want.shape and bool((got == want).all())


def test_segmented_equals_per_block():
    """encode_blocks must produce, per block, the identical stream that
    encode_v2 (and hence the reference) produces — including empty
    blocks and repeated-value runs."""
    rng = np.random.default_rng(7)
    S = 120
    lens = rng.integers(0, 300, S)
    lens[::9] = 0
    block_ts = (1500400800000 + np.arange(S) * 86_400_000).astype(np.int64)
    tps, vps = [], []
    for s in range(S):
        t = block_ts[s] + np.cumsum(rng.integers(1, 240000, lens[s]))
        v = rng.random(lens[s]).view(np.uint64)
        if lens[s] > 12:
            v[4:9] = v[3]  # xor == 0 run
        tps.append(t)
        vps.append(v)
    ts = (np.concatenate(tps) if S else np.empty(0)).astype(np.int64)
    vs = np.concatenate(vps)
    offsets = np.zeros(S + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(lens)

    words, wc = encode_blocks(block_ts, offsets, ts, vs)
    pos = 0
    for s in range(S):
        ref = encode_v2(int(block_ts[s]), tps[s].astype(np.int64), vps[s])
        got = words[pos:pos + wc[s]]
        pos += wc[s]
        assert got.shape == ref.shape and bool((got == ref).all()), s

    offs2, dts, dvs = decode_blocks(words, wc)
    assert (offs2 == offsets).all()
    assert (dts == ts).all() and (dvs == vs).all()


def test_vector_matches_scalar_on_adversarial_values():
    """Differential test on bit patterns chosen to stress lz/tz edges."""
    patterns = np.array(
        [0, 1, _U64, 1 << 63, (1 << 63) - 1, 0x8000000000000001,
         0x0000000100000000, 0x00000000FFFFFFFF, 0xAAAAAAAAAAAAAAAA,
         0x5555555555555555, 1 << 32, (1 << 32) - 1, 3, _U64 - 1,
         0x7FF0000000000000, 0xFFF8000000000000, 0x0010000000000000,
         0x000FFFFFFFFFFFFF, 2, 1] * 5,
        dtype=np.uint64)
    ts = 1500400800000 + 7 * np.arange(1, len(patterns) + 1, dtype=np.int64)
    got = encode_v2(1500400800000, ts, patterns)
    enc = GorillaEncoder(1500400800000)
    for t, v in zip(ts.tolist(), patterns.tolist()):
        enc.add(t, v)
    want = np.array(enc.close(), dtype=np.uint64)
    assert got.shape == want.shape and bool((got == want).all())
    dts, dvs = decode_v2(got)
    assert (dts == ts).all() and (dvs == patterns).all()


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.tuples(st.integers(1, 500_000),               # time gap (ms)
              st.integers(0, _U64)),                  # raw value bits
    min_size=0, max_size=300))
def test_property_roundtrip_and_scalar_equality(pairs):
    block_ts = 1_500_000_000_000
    ts = np.cumsum(np.array([p[0] for p in pairs] or [0], dtype=np.int64))
    if not pairs:
        ts = np.empty(0, dtype=np.int64)
    else:
        ts = block_ts + ts
    vs = np.array([p[1] for p in pairs], dtype=np.uint64)
    got = encode_v2(block_ts, ts, vs)
    enc = GorillaEncoder(block_ts)
    for t, v in zip(ts.tolist(), vs.tolist()):
        enc.add(t, v)
    want = np.array(enc.close(), dtype=np.uint64)
    assert got.shape == want.shape and bool((got == want).all())
    dts, dvs = decode_v2(got)
    assert (dts == ts).all() and (dvs == vs).all()


@pytest.mark.skipif(shutil.which("cc") is None,
                    reason="no C compiler on PATH")
def test_native_kernel_loads_when_compiler_present():
    """With ``cc`` available the C kernel must build and bind. The
    native tests skip when NATIVE is None, so without this a broken
    gorilla.c or ctypes binding would silently drop every codec call
    onto the numpy path (a 10x+ slowdown) with the suite green."""
    from gorillaspark.codec import native

    assert native.NATIVE is not None


def test_native_dfcm_matches_scalar_and_golden():
    """r7: the DFCM predictor rides the C kernel
    (gs_encode_blocks_dfcm / gs_decode_blocks_dfcm). Word-for-word
    equality with the scalar codec across table sizes (including the
    size=1 and power-of-two-rounding edges), plus the
    reference-generated dfcm_roundtrip golden."""
    from gorillaspark.codec.native import (
        NATIVE,
        decode_blocks_dfcm_native,
        encode_blocks_dfcm_native,
    )

    if NATIVE is None:
        pytest.skip("no C compiler in environment")

    fx = json.loads((GOLDENS / "dfcm_roundtrip.json").read_text())
    g_ts = np.array([p[0] for p in fx["points"]], dtype=np.int64)
    g_vs = np.array([p[1] & _U64 for p in fx["points"]], dtype=np.uint64)
    gw, gwc = encode_blocks_dfcm_native(
        np.array([fx["block_ts"]], np.int64),
        np.array([0, len(g_ts)], np.int64), g_ts, g_vs, 1024)
    assert gw.tolist() == words_to_unsigned(fx["words"])

    rng = np.random.default_rng(23)
    blocks = []
    base = 1500400800000
    for blen in [0, 1, 5, 254, 2000]:
        ts = (base + np.cumsum(rng.integers(1, 120000, blen))
              ).astype(np.int64)
        vals = rng.integers(0, 1 << 62, blen).astype(np.uint64)
        if blen:
            vals[::7] = vals[0]           # repeats (decoder asymmetry)
        blocks.append((base, ts, vals))
    offs = np.zeros(len(blocks) + 1, np.int64)
    for i, (_, t, _) in enumerate(blocks):
        offs[i + 1] = offs[i] + len(t)
    bts = np.array([b[0] for b in blocks], np.int64)
    all_ts = np.concatenate([b[1] for b in blocks])
    all_vs = np.concatenate([b[2] for b in blocks])
    for size in [1, 2, 100, 1024]:
        words, wc = encode_blocks_dfcm_native(bts, offs, all_ts,
                                              all_vs, size)
        pos = 0
        for i, (bt, t, v) in enumerate(blocks):
            enc = GorillaEncoder(int(bt), predictor=f"dfcm:{size}")
            for a, b in zip(t.tolist(), v.tolist()):
                enc.add(a, b)
            sw = np.array(enc.close(), dtype=np.uint64)
            kw = words[pos:pos + wc[i]]
            pos += wc[i]
            assert (sw == kw).all(), (size, i)
        off2, t2, v2 = decode_blocks_dfcm_native(words, wc, size)
        assert (off2 == offs).all()
        assert (t2 == all_ts).all() and (v2 == all_vs).all()


def test_native_dfcm_repeat_asymmetry_parity():
    """Sequential integer doubles make DFCM predict exactly (xor==0)
    within a few points; per the reference's encode/decode update
    asymmetry (ValueCompressor.java:34-35 updates on repeats,
    ValueDecompressor.java:53 does not), the decoded stream then
    legitimately diverges from the encoder's input. The contract is
    three-way parity — C kernel == scalar == reference — NOT
    decode==input; this pins the C kernel to the scalar decoder on a
    stream that actually exercises the repeat path (none of the
    random-data cases above do)."""
    from gorillaspark.codec.native import (
        NATIVE,
        decode_blocks_dfcm_native,
        encode_blocks_dfcm_native,
    )
    from gorillaspark.codec.scalar import GorillaDecoder

    if NATIVE is None:
        pytest.skip("no C compiler in environment")

    blen = 1000
    base = 1500400800000
    ts = base + 60000 * np.arange(blen, dtype=np.int64)
    vals = np.arange(blen, dtype=np.float64).view(np.uint64)
    words, wc = encode_blocks_dfcm_native(
        np.array([base], np.int64), np.array([0, blen], np.int64),
        ts, vals, 1024)
    pairs = GorillaDecoder(words.tolist(), predictor="dfcm:1024").read_all()
    s_ts = np.array([p[0] for p in pairs], np.int64)
    s_vs = np.array([p[1] for p in pairs], np.uint64)
    off2, t2, v2 = decode_blocks_dfcm_native(words, wc, 1024,
                                             n_points_hint=blen)
    assert len(pairs) == blen and (off2 == [0, blen]).all()
    assert (t2 == s_ts).all() and (v2 == s_vs).all()
    # the quirk really fired: decode != input somewhere
    assert (v2 != vals).any()
