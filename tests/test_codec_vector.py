"""The codec entry (codec/vector.py) — what production runs: golden
bit-exactness, differential equality with the scalar reference codec,
property-based round trips, the no-compiler fallback and corrupt
blocks.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gorillaspark.codec import native, vector
from gorillaspark.codec.bitbuf import words_to_unsigned
from gorillaspark.codec.scalar import GorillaDecoder, GorillaEncoder
from gorillaspark.codec.vector import decode_blocks_fast, encode_blocks_fast

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


def _encode_one(block_ts, ts, vs, predictor="last_value"):
    words, wc = encode_blocks_fast(np.array([block_ts], np.int64),
                                   np.array([0, len(ts)], np.int64),
                                   ts, vs, predictor)
    assert wc.tolist() == [len(words)]
    return words


def _scalar_words(block_ts, ts, vs, predictor="last_value"):
    enc = GorillaEncoder(int(block_ts), predictor=predictor)
    for t, v in zip(ts.tolist(), vs.tolist()):
        enc.add(t, v)
    return np.array(enc.close(), dtype=np.uint64)


@pytest.mark.parametrize("name", V2_NAMES)
def test_vector_encode_bit_exact(name):
    block_ts, ts, vs, want = _fixture_arrays(name)
    got = _encode_one(block_ts, ts, vs)
    assert got.shape == want.shape and bool((got == want).all())


@pytest.mark.parametrize("name", V2_NAMES)
def test_vector_decode_reference_stream(name):
    block_ts, ts, vs, want = _fixture_arrays(name)
    offs, dts, dvs = decode_blocks_fast(want, [len(want)])
    assert offs.tolist() == [0, len(ts)]
    assert (dts == ts).all() and (dvs == vs).all()


def test_segmented_equals_per_block():
    """One segmented call must produce, per block, the identical stream
    the scalar reference codec produces — including empty blocks and
    repeated-value runs."""
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
        tps.append(t.astype(np.int64))
        vps.append(v)
    ts = np.concatenate(tps)
    vs = np.concatenate(vps)
    offsets = np.zeros(S + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(lens)

    words, wc = encode_blocks_fast(block_ts, offsets, ts, vs)
    pos = 0
    for s in range(S):
        ref = _scalar_words(block_ts[s], tps[s], vps[s])
        got = words[pos:pos + wc[s]]
        pos += wc[s]
        assert got.shape == ref.shape and bool((got == ref).all()), s

    offs2, dts, dvs = decode_blocks_fast(words, wc)
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
    got = _encode_one(1500400800000, ts, patterns)
    want = _scalar_words(1500400800000, ts, patterns)
    assert got.shape == want.shape and bool((got == want).all())
    _, dts, dvs = decode_blocks_fast(got, [len(got)])
    assert (dts == ts).all() and (dvs == patterns).all()


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.tuples(st.integers(1, 500_000),               # time gap (ms)
              st.integers(0, _U64)),                  # raw value bits
    min_size=0, max_size=300))
def test_property_roundtrip_and_scalar_equality(pairs):
    block_ts = 1_500_000_000_000
    ts = block_ts + np.cumsum(np.array([p[0] for p in pairs], np.int64))
    vs = np.array([p[1] for p in pairs], dtype=np.uint64)
    got = _encode_one(block_ts, ts, vs)
    want = _scalar_words(block_ts, ts, vs)
    assert got.shape == want.shape and bool((got == want).all())
    _, dts, dvs = decode_blocks_fast(got, [len(got)])
    assert (dts == ts).all() and (dvs == vs).all()


@pytest.mark.skipif(shutil.which("cc") is None,
                    reason="no C compiler on PATH")
def test_native_kernel_loads_when_compiler_present():
    """With ``cc`` available the C kernel must build and bind. Without
    this a broken gorilla.c or ctypes binding would drop every codec
    call onto the scalar path (two orders of magnitude slower) with
    only a warning."""
    assert native.NATIVE is not None, native.NATIVE_ERROR


def test_native_dfcm_matches_scalar_and_golden():
    """The DFCM predictor rides the C kernel
    (gs_encode_blocks_dfcm / gs_decode_blocks_dfcm). Word-for-word
    equality with the scalar codec across table sizes (including the
    size=1 and power-of-two-rounding edges), plus the
    reference-generated dfcm_roundtrip golden."""
    if native.NATIVE is None:
        pytest.skip("no C compiler in environment")

    fx = json.loads((GOLDENS / "dfcm_roundtrip.json").read_text())
    g_ts = np.array([p[0] for p in fx["points"]], dtype=np.int64)
    g_vs = np.array([p[1] & _U64 for p in fx["points"]], dtype=np.uint64)
    gw = _encode_one(fx["block_ts"], g_ts, g_vs, "dfcm:1024")
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
        pred = f"dfcm:{size}"
        words, wc = encode_blocks_fast(bts, offs, all_ts, all_vs, pred)
        pos = 0
        for i, (bt, t, v) in enumerate(blocks):
            sw = _scalar_words(bt, t, v, pred)
            kw = words[pos:pos + wc[i]]
            pos += wc[i]
            assert (sw == kw).all(), (size, i)
        off2, t2, v2 = decode_blocks_fast(words, wc, predictor=pred)
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
    if native.NATIVE is None:
        pytest.skip("no C compiler in environment")

    blen = 1000
    base = 1500400800000
    ts = base + 60000 * np.arange(blen, dtype=np.int64)
    vals = np.arange(blen, dtype=np.float64).view(np.uint64)
    words = _encode_one(base, ts, vals, "dfcm:1024")
    pairs = GorillaDecoder(words.tolist(), predictor="dfcm:1024").read_all()
    s_ts = np.array([p[0] for p in pairs], np.int64)
    s_vs = np.array([p[1] for p in pairs], np.uint64)
    off2, t2, v2 = decode_blocks_fast(words, [len(words)], blen,
                                      "dfcm:1024")
    assert len(pairs) == blen and (off2 == [0, blen]).all()
    assert (t2 == s_ts).all() and (v2 == s_vs).all()
    # the quirk really fired: decode != input somewhere
    assert (v2 != vals).any()


@pytest.fixture
def scalar_only(monkeypatch):
    """Run the entry as it runs without a compiler (warning silenced)."""
    def on():
        monkeypatch.setattr(native, "NATIVE", None)
        monkeypatch.setattr(vector, "_fallback_warned", True)
    return on


def _ten_points():
    rng = np.random.default_rng(5)
    ts = 1500400800000 + np.cumsum(rng.integers(1, 100_000, 10))
    return 1500400800000, ts.astype(np.int64), rng.random(10).view(np.uint64)


@pytest.mark.parametrize("predictor", ["last_value", "dfcm:1024", "v1"])
def test_scalar_fallback_equals_native(scalar_only, predictor):
    """Without a C kernel the entry must write and read the same words:
    every v2 golden plus a multi-block batch with empty blocks."""
    rng = np.random.default_rng(11)
    lens = np.array([0, 1, 37, 0, 250])
    bts = (1500400800000 + np.arange(len(lens)) * 86_400_000
           ).astype(np.int64)
    ts = np.concatenate([b + np.cumsum(rng.integers(1, 240_000, n))
                         for b, n in zip(bts, lens)]).astype(np.int64)
    vs = rng.normal(100, 5, len(ts)).round(1).view(np.uint64)
    batches = [(bts, np.r_[0, np.cumsum(lens)].astype(np.int64), ts, vs)]
    for name in V2_NAMES:
        bt, gts, gvs, _ = _fixture_arrays(name)
        batches.append((np.array([bt], np.int64),
                        np.array([0, len(gts)], np.int64), gts, gvs))
    native_out = []
    for b in batches:
        words, wc = encode_blocks_fast(*b, predictor)
        native_out.append((words, wc, decode_blocks_fast(
            words, wc, predictor=predictor)))
    scalar_only()
    for b, (words, wc, (offs, dts, dvs)) in zip(batches, native_out):
        s_words, s_wc = encode_blocks_fast(*b, predictor)
        assert (s_words == words).all() and (s_wc == wc).all()
        s_offs, s_ts, s_vs = decode_blocks_fast(words, wc,
                                                predictor=predictor)
        assert (s_offs == offs).all()
        assert (s_ts == dts).all() and (s_vs == dvs).all()


def test_codec_fallback_warns_once(monkeypatch):
    monkeypatch.setattr(native, "NATIVE", None)
    monkeypatch.setattr(vector, "_fallback_warned", False)
    block_ts, ts, vs = _ten_points()
    with pytest.warns(RuntimeWarning, match="C kernel unavailable") as rec:
        words = _encode_one(block_ts, ts, vs)
        decode_blocks_fast(words, [len(words)])
    assert len(rec) == 1


@pytest.mark.parametrize("predictor", ["last_value", "dfcm:1024"])
def test_corrupt_block_raises(scalar_only, predictor):
    """A block that lost its last two words, or a bit of its close
    marker, used to read on into zero bits — one repeated point per two
    bits, forever — and the C wrapper doubled its buffers until
    allocation failed. Both kernels must raise ValueError, and on every
    single-bit flip of the block they must agree."""
    if native.NATIVE is None:
        pytest.skip("no C compiler in environment")
    words = _encode_one(*_ten_points(), predictor)
    last = int(np.flatnonzero(words)[-1])
    marker = words.copy()           # clear the close marker's last 1 bit
    marker[last] &= words[last] - np.uint64(1)
    flips = []
    for bit in range(64 * len(words)):
        f = words.copy()
        f[bit // 64] ^= np.uint64(1 << (63 - bit % 64))
        flips.append(f)

    def run(w):
        try:
            offs, ts, vs = decode_blocks_fast(w, [len(w)],
                                              predictor=predictor)
        except ValueError:
            return "ValueError"
        return offs.tolist(), ts.tolist(), vs.tolist()

    on_c = [run(w) for w in flips]
    for bad in (words[:-2], marker):
        with pytest.raises(ValueError):
            decode_blocks_fast(bad, [len(bad)], predictor=predictor)
    scalar_only()
    for bad in (words[:-2], marker):
        with pytest.raises(ValueError):
            decode_blocks_fast(bad, [len(bad)], predictor=predictor)
    assert [run(w) for w in flips] == on_c
    assert "ValueError" in on_c


def test_mixed_predictor_batch_keeps_block_order():
    """The decode operator splits a batch that mixes predictors into runs
    of equal predictors, one entry call each, and keeps block order."""
    import pyarrow as pa

    from gorillaspark.operators.encode import _decode_batch, _encode_table

    rng = np.random.default_rng(3)
    n = 400
    pts = pa.table({
        "series_key": pa.array(np.repeat(["a", "b", "c", "d"], n // 4)),
        "ts_ms": pa.array(1500400800000 + np.tile(
            np.cumsum(rng.integers(1, 60_000, n // 4)), 4)),
        "value": pa.array(rng.normal(50, 3, n)),
    })
    order = ["v1", "dfcm:16", "dfcm:16", "last_value"]
    batches = [_encode_table(pts.slice(i * 100, 100), "double", p)
               for i, p in enumerate(order)]
    tbl = pa.Table.from_batches(batches)
    lens, ts, vals = _decode_batch(tbl.combine_chunks())
    assert lens.tolist() == [100] * 4
    assert (ts == pts.column("ts_ms").to_numpy()).all()
    assert (vals.view(np.float64) == pts.column("value").to_numpy()).all()
