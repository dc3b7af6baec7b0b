"""HEVC Main-profile codec (gorillaspark.operators.h265).

Pinning levels, mirroring the H.264 suites:
1. syntax-layer round-trips (VPS/SPS/PPS/slice header, hvcC record,
   hvc1 sample framing);
2. pixel contracts: every stream is lossless (cu_transquant_bypass)
   and round-trips bit-exactly, for every intra mode and partitioning
   sampled — the source is the only conformance anchor (no HEVC
   conformance vectors in this sandbox, see the module's honesty
   contract);
3. the ingestion contract: foreign (unmarked) HEVC and lossy streams
   reject loudly, truncation/corruption surfaces as
   ValueError/NotImplementedError, never an internal exception type.
"""

import random

import numpy as np
import pytest

from gorillaspark.operators import h265 as h5
from gorillaspark.operators.h264 import _Bits, _BitW

RNG = np.random.default_rng(0xC0DEC)


# ---------------------------------------------------------------------------
# syntax layer
# ---------------------------------------------------------------------------


def test_parameter_set_roundtrip():
    bw = _BitW()
    h5._write_vps(bw)
    vps = h5._parse_vps(_Bits(bw.bytes()))
    assert vps["ptl"]["profile_idc"] == 1          # Main

    bw = _BitW()
    h5._write_sps(bw, 64, 32, crop=(0, 4, 0, 2))
    sps = h5._parse_sps(_Bits(bw.bytes()))
    assert (sps["w"], sps["h"]) == (64, 32)
    assert sps["crop"] == (0, 4, 0, 2)
    assert sps["log2_ctb"] == 4 and sps["log2_min_cb"] == 3

    bw = _BitW()
    h5._write_pps(bw)
    pps = h5._parse_pps(_Bits(bw.bytes()))
    assert pps == {"qp": 32}

    bw = _BitW()
    h5._write_slice_header(bw)
    br = _Bits(bw.bytes() + b"\xff")
    assert h5._parse_slice_header(br, pps) == 32
    assert br.pos == 8 * len(bw.bytes())     # header fully consumed


def test_nal_layer_two_byte_header():
    stream = h5._nal(h5._NAL_VPS, b"\x01\x00\x00\x00\x02") \
        + h5._marker_sei()
    nals = list(h5._split_annexb_h265(stream))
    assert nals[0][0] == h5._NAL_VPS
    assert nals[0][3] == b"\x01\x00\x00\x00\x02"   # unescaped exactly
    assert nals[1][0] == h5._NAL_PREFIX_SEI
    assert h5._GS_HEVC_UUID in nals[1][3]


def test_hvcc_record_and_sample_roundtrip():
    y = RNG.integers(0, 256, (16, 32), dtype=np.uint8)
    annexb = h5.h265_encode(y)
    hvcc = h5.hevc_hvcc_config(annexb)
    assert hvcc[0] == 1 and (hvcc[21] & 3) == 3    # 4-byte lengths
    sample = h5.hevc_to_hvc1_sample(annexb)
    rebuilt = h5.hevc_sample_to_annexb(sample, hvcc)
    Y, _, _, _ = h5.h265_decode_planes(rebuilt)
    assert (Y == y).all()


# ---------------------------------------------------------------------------
# pixel contracts
# ---------------------------------------------------------------------------


def test_lossless_roundtrip_random_planes():
    y = RNG.integers(0, 256, (32, 48), dtype=np.uint8)
    cb = RNG.integers(0, 256, (16, 24), dtype=np.uint8)
    cr = RNG.integers(0, 256, (16, 24), dtype=np.uint8)
    p = h5.h265_encode(y, cb=cb, cr=cr)
    Y, Cb, Cr, crop = h5.h265_decode_planes(p)
    assert crop == (0, 0, 0, 0)
    assert (Y == y).all() and (Cb == cb).all() and (Cr == cr).all()


def test_lossless_conformance_window():
    y = RNG.integers(0, 256, (22, 36), dtype=np.uint8)
    p = h5.h265_encode(y)
    rgb = h5.h265_decode(p)
    assert rgb.shape == (22, 36, 3)
    # neutral chroma -> exact grey equal to the luma plane
    assert (rgb[:, :, 0].astype(np.int64) == y).all()
    assert (rgb[:, :, 0] == rgb[:, :, 1]).all()


def test_quadtree_and_nxn_paths(monkeypatch):
    # quadrant edges inside CTBs make the auto heuristic split, and
    # the 2-sample detail makes NxN win inside some 8x8 CUs
    y = np.zeros((32, 32), dtype=np.uint8)
    y[:24, :24] = 240
    y[24:, 24:] = 120
    y[::2, ::2] ^= 60
    plans = []
    commit = h5._commit_cu

    def spy(*args):
        plans.append(commit(*args))
        return plans[-1]

    monkeypatch.setattr(h5, "_commit_cu", spy)
    p_auto = h5.h265_encode(y)
    assert any(pl["nxn"] for pl in plans)
    p_flat = h5.h265_encode(y, force_split=False)
    assert p_auto != p_flat
    for p in (p_auto, p_flat):
        Y, _, _, _ = h5.h265_decode_planes(p)
        assert (Y == y).all()


def test_intra_only_gop():
    frames = [RNG.integers(0, 256, (16, 16), dtype=np.uint8)
              for _ in range(3)]
    payload = b"".join(h5.h265_encode(f) for f in frames)
    out = h5.h265_decode_gop(payload)
    assert len(out) == 3
    for g, f in zip(out, frames):
        assert (g[:, :, 0].astype(np.int64) == f).all()


def test_lossless_fuzz_roundtrip():
    for trial in range(6):
        h = int(RNG.integers(1, 4)) * 16
        w = int(RNG.integers(1, 4)) * 16
        y = RNG.integers(0, 256, (h, w), dtype=np.uint8)
        cb = RNG.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
        cr = RNG.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
        fs = [None, True, False][trial % 3]
        p = h5.h265_encode(y, cb=cb, cr=cr, force_split=fs)
        Y, Cb, Cr, _ = h5.h265_decode_planes(p)
        assert (Y == y).all() and (Cb == cb).all() and (Cr == cr).all()
    # every intra mode alone, whole CTBs and 8x8 CUs (NxN where the
    # encoder picks it): the decoder's predictor must match per mode
    for mode in range(35):
        for fs in (None, True):
            y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
            cb = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
            cr = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
            p = h5.h265_encode(y, cb=cb, cr=cr, cands=(mode,),
                               force_split=fs)
            Y, Cb, Cr, _ = h5.h265_decode_planes(p)
            assert (Y == y).all() and (Cb == cb).all() \
                and (Cr == cr).all(), f"mode {mode} split={fs}"


# ---------------------------------------------------------------------------
# ingestion contract
# ---------------------------------------------------------------------------


def test_foreign_hevc_rejected_loudly():
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y)
    stripped = b"".join(
        h5._nal(t, rbsp)
        for t, _l, _ti, rbsp in h5._split_annexb_h265(ab)
        if t != h5._NAL_PREFIX_SEI)
    with pytest.raises(NotImplementedError, match="third-party"):
        h5.h265_decode_planes(stripped)


def test_trail_first_stream_rejected():
    # a stream that does not start with an IDR has no reference chain
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y)
    parts = []
    for t, _l, ti, rbsp in h5._split_annexb_h265(ab):
        parts.append(h5._nal(1 if t == h5._NAL_IDR_W_RADL else t,
                             rbsp, tid=ti))
    with pytest.raises(ValueError, match="IDR"):
        h5.h265_decode_planes(b"".join(parts))


def test_inter_picture_rejected():
    # a TRAIL (P/B) picture after a valid IDR is refused: this codec
    # decodes intra pictures only
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y)
    idr = [rbsp for t, _l, _ti, rbsp in h5._split_annexb_h265(ab)
           if t == h5._NAL_IDR_W_RADL]
    stream = ab + h5._nal(h5._NAL_TRAIL_R, idr[0])
    with pytest.raises(NotImplementedError, match="inter"):
        h5.h265_decode_gop_planes(stream)


def test_cra_nal_rejected():
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y)
    parts = []
    for t, _l, ti, rbsp in h5._split_annexb_h265(ab):
        parts.append(h5._nal(21 if t == h5._NAL_IDR_W_RADL else t,
                             rbsp, tid=ti))      # 21 = CRA_NUT
    with pytest.raises(NotImplementedError):
        h5.h265_decode_planes(b"".join(parts))


def _flip_bit(stream: bytes, nal_type: int, bit: int) -> bytes:
    parts = []
    for t, _l, ti, rbsp in h5._split_annexb_h265(stream):
        if t == nal_type:
            b = bytearray(rbsp)
            b[bit // 8] ^= 0x80 >> (bit % 8)
            rbsp = bytes(b)
        parts.append(h5._nal(t, rbsp, tid=ti))
    return b"".join(parts)


class _NoBypassEnc:
    """Encoder proxy that codes cu_transquant_bypass_flag as 0."""

    def __init__(self, enc):
        self.enc = enc

    def bit(self, ctx, idx, b):
        self.enc.bit(ctx, idx, 0 if idx == h5._TQ_BYPASS else b)

    def __getattr__(self, name):
        return getattr(self.enc, name)


def test_lossy_stream_rejected(monkeypatch):
    # a stream that needs the transform, deblocking or SAO is refused
    # rather than reconstructed wrongly. RBSP bit offsets: PPS bit 26
    # is transquant_bypass_enabled_flag and bit 32
    # pps_deblocking_filter_disabled_flag (both 1); slice header bit 6
    # is slice_sao_luma_flag (0)
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y)
    for nal_type, bit, msg in ((h5._NAL_PPS, 26, "transquant_bypass"),
                               (h5._NAL_PPS, 32, "deblocking"),
                               (h5._NAL_IDR_W_RADL, 6, "sample-adaptive")):
        with pytest.raises(NotImplementedError, match=msg):
            h5.h265_decode_planes(_flip_bit(ab, nal_type, bit))
    serialize = h5._serialize_cu
    monkeypatch.setattr(h5, "_serialize_cu", lambda enc, ctx, plan:
                        serialize(_NoBypassEnc(enc), ctx, plan))
    with pytest.raises(NotImplementedError,
                       match="cu_transquant_bypass_flag is 0"):
        h5.h265_decode_planes(h5.h265_encode(y))


def test_truncation_and_corruption_contract():
    y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    base = h5.h265_encode(y)
    with pytest.raises((ValueError, NotImplementedError)):
        h5.h265_decode_planes(base[:len(base) // 2])
    rnd = random.Random(11)
    for _ in range(120):
        b = bytearray(base)
        for _ in range(rnd.randint(1, 4)):
            b[rnd.randrange(len(b))] = rnd.randrange(256)
        try:
            h5.h265_decode_planes(bytes(b))
        except (ValueError, NotImplementedError):
            pass           # loud rejection is the contract
        # any other exception type fails the test by propagating


def test_even_dimension_requirement():
    with pytest.raises(ValueError, match="even"):
        h5.h265_encode(np.zeros((15, 16), dtype=np.uint8))
