"""HEVC Main-profile codec (gorillaspark.operators.h265).

Pinning levels, mirroring the H.264 suites:
1. syntax-layer round-trips (VPS/SPS/PPS/slice header, hvcC record,
   hvc1 sample framing);
2. pixel contracts: lossless (cu_transquant_bypass) streams round-trip
   bit-exactly, and lossy decode equals the ENCODER's own
   reconstruction for every intra mode / partitioning / QP sampled —
   the decoder is the encoder's only conformance anchor (no HEVC
   conformance vectors in this sandbox, see the module's honesty
   contract);
3. the ingestion contract: foreign (unmarked) HEVC rejects loudly,
   truncation/corruption surfaces as ValueError/NotImplementedError,
   never an internal exception type.
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
    h5._write_pps(bw, qp=30, deblock=True)
    pps = h5._parse_pps(_Bits(bw.bytes()))
    assert pps == {"qp": 30, "tq_bypass": 0, "deblock": 1}

    bw = _BitW()
    h5._write_pps(bw, qp=37, transquant_bypass=True)
    pps = h5._parse_pps(_Bits(bw.bytes()))
    assert pps == {"qp": 37, "tq_bypass": 1, "deblock": 0}

    bw = _BitW()
    h5._write_slice_header(bw, qp_delta=-3)
    sh = h5._parse_slice_header(_Bits(bw.bytes() + b"\xff"), pps)
    assert sh["qp"] == 34


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
    annexb = h5.h265_encode(y, lossless=True)
    hvcc = h5.hevc_hvcc_config(annexb)
    assert hvcc[0] == 1 and (hvcc[21] & 3) == 3    # 4-byte lengths
    sample = h5.hevc_to_hvc1_sample(annexb)
    rebuilt = h5.hevc_sample_to_annexb(sample, hvcc)
    Y, _, _, _ = h5.h265_decode_planes(rebuilt)
    assert (Y == y).all()


def test_dct_matrices_match_published_values():
    # the recursive even-row fold must reproduce the spec's literal
    # matrices (spot-pinned against the universally published rows)
    assert h5._DCT[4].tolist() == [[64, 64, 64, 64],
                                   [83, 36, -36, -83],
                                   [64, -64, -64, 64],
                                   [36, -83, 83, -36]]
    assert h5._DCT[8][1].tolist() == [89, 75, 50, 18, -18, -50, -75, -89]
    assert h5._DCT[16][1].tolist() == [90, 87, 80, 70, 57, 43, 25, 9,
                                       -9, -25, -43, -57, -70, -80,
                                       -87, -90]


# ---------------------------------------------------------------------------
# pixel contracts
# ---------------------------------------------------------------------------


def test_lossless_roundtrip_random_planes():
    y = RNG.integers(0, 256, (32, 48), dtype=np.uint8)
    cb = RNG.integers(0, 256, (16, 24), dtype=np.uint8)
    cr = RNG.integers(0, 256, (16, 24), dtype=np.uint8)
    p = h5.h265_encode(y, cb=cb, cr=cr, lossless=True)
    Y, Cb, Cr, crop = h5.h265_decode_planes(p)
    assert crop == (0, 0, 0, 0)
    assert (Y == y).all() and (Cb == cb).all() and (Cr == cr).all()


def test_lossless_conformance_window():
    y = RNG.integers(0, 256, (22, 36), dtype=np.uint8)
    p = h5.h265_encode(y, lossless=True)
    rgb = h5.h265_decode(p)
    assert rgb.shape == (22, 36, 3)
    # neutral chroma -> exact grey equal to the luma plane
    assert (rgb[:, :, 0].astype(np.int64) == y).all()
    assert (rgb[:, :, 0] == rgb[:, :, 1]).all()


def test_lossy_decode_equals_encoder_reconstruction():
    y = RNG.integers(0, 256, (48, 64), dtype=np.uint8)
    for qp in (12, 30, 45):
        p = h5.h265_encode(y, qp=qp)
        Y, Cb, Cr, _ = h5.h265_decode_planes(p)
        Yr, Cbr, Crr, _ = h5.h265_encoder_reconstruction(y, qp=qp)
        assert (Y == Yr).all() and (Cb == Cbr).all() and (Cr == Crr).all()


@pytest.mark.parametrize("mode", list(range(35)))
def test_every_intra_mode_round_trips(mode):
    y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    for force_split in (None, True):
        p = h5.h265_encode(y, qp=28, cands=(mode,),
                           force_split=force_split)
        Y, _, _, _ = h5.h265_decode_planes(p)
        Yr, _, _, _ = h5.h265_encoder_reconstruction(
            y, qp=28, cands=(mode,), force_split=force_split)
        assert (Y == Yr).all(), f"mode {mode} split={force_split}"


def test_quadtree_and_nxn_paths():
    # a sharp quadrant image makes the auto heuristic split and the
    # 4x4 detail makes NxN win inside at least some 8x8 CUs
    y = np.zeros((32, 32), dtype=np.uint8)
    y[:16, :16] = 240
    y[16:, 16:] = 120
    y[::2, ::2] ^= 60
    p_auto = h5.h265_encode(y, qp=24)
    p_flat = h5.h265_encode(y, qp=24, force_split=False)
    Y_a, _, _, _ = h5.h265_decode_planes(p_auto)
    Y_f, _, _, _ = h5.h265_decode_planes(p_flat)
    Yr_a, _, _, _ = h5.h265_encoder_reconstruction(y, qp=24)
    Yr_f, _, _, _ = h5.h265_encoder_reconstruction(y, qp=24,
                                                   force_split=False)
    assert (Y_a == Yr_a).all() and (Y_f == Yr_f).all()


def test_lossy_quality_sane():
    xg, yg = np.meshgrid(np.arange(64), np.arange(32))
    y = ((xg * 2 + yg * 3) % 256).astype(np.uint8)
    p = h5.h265_encode(y, qp=22)
    Y, _, _, _ = h5.h265_decode_planes(p)
    assert float(np.abs(Y[:32, :64] - y).mean()) < 4.0
    assert len(p) < y.size // 4          # actually compresses


def test_intra_only_gop():
    frames = [RNG.integers(0, 256, (16, 16), dtype=np.uint8)
              for _ in range(3)]
    payload = b"".join(h5.h265_encode(f, lossless=True) for f in frames)
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
        p = h5.h265_encode(y, cb=cb, cr=cr, lossless=True,
                           force_split=fs)
        Y, Cb, Cr, _ = h5.h265_decode_planes(p)
        assert (Y == y).all() and (Cb == cb).all() and (Cr == cr).all()


def test_lossy_fuzz_parity():
    for trial in range(6):
        y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
        qp = int(RNG.integers(4, 50))
        p = h5.h265_encode(y, qp=qp)
        Y, Cb, Cr, _ = h5.h265_decode_planes(p)
        Yr, Cbr, Crr, _ = h5.h265_encoder_reconstruction(y, qp=qp)
        assert (Y == Yr).all() and (Cb == Cbr).all() and (Cr == Crr).all()


# ---------------------------------------------------------------------------
# ingestion contract
# ---------------------------------------------------------------------------


def test_foreign_hevc_rejected_loudly():
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y, lossless=True)
    stripped = b"".join(
        h5._nal(t, rbsp)
        for t, _l, _ti, rbsp in h5._split_annexb_h265(ab)
        if t != h5._NAL_PREFIX_SEI)
    with pytest.raises(NotImplementedError, match="third-party"):
        h5.h265_decode_planes(stripped)


def test_trail_first_stream_rejected():
    # a stream that does not start with an IDR has no reference chain
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y, lossless=True)
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
    ab = h5.h265_encode(y, lossless=True)
    idr = [rbsp for t, _l, _ti, rbsp in h5._split_annexb_h265(ab)
           if t == h5._NAL_IDR_W_RADL]
    stream = ab + h5._nal(h5._NAL_TRAIL_R, idr[0])
    with pytest.raises(NotImplementedError, match="inter"):
        h5.h265_decode_gop_planes(stream)


def test_cra_nal_rejected():
    y = RNG.integers(0, 256, (16, 16), dtype=np.uint8)
    ab = h5.h265_encode(y, lossless=True)
    parts = []
    for t, _l, ti, rbsp in h5._split_annexb_h265(ab):
        parts.append(h5._nal(21 if t == h5._NAL_IDR_W_RADL else t,
                             rbsp, tid=ti))      # 21 = CRA_NUT
    with pytest.raises(NotImplementedError):
        h5.h265_decode_planes(b"".join(parts))


def test_truncation_and_corruption_contract():
    y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    base = h5.h265_encode(y, qp=30)
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


# ---------------------------------------------------------------------------
# SAO (late r8): band/edge offsets, merge flags
# ---------------------------------------------------------------------------


def test_sao_improves_and_round_trips():
    # smooth gradient + noise: SAO must reduce (or match) the coded
    # error, decode must equal the encoder recon bit-exactly, and
    # both band and edge types should fire somewhere
    rng = np.random.default_rng(81)
    xg, yg = np.meshgrid(np.arange(64), np.arange(48))
    y = np.clip((xg * 3 + yg * 2) % 256
                + rng.integers(-8, 9, (48, 64)), 0, 255).astype(
        np.uint8)
    kinds = set()
    orig = h5._sao_choose_comp

    def spy(*a, **k):
        p = orig(*a, **k)
        if p is not None:
            kinds.add(p[0])
        return p

    h5._sao_choose_comp = spy
    try:
        p_on = h5.h265_encode(y, qp=34, sao=True)
    finally:
        h5._sao_choose_comp = orig
    p_off = h5.h265_encode(y, qp=34, sao=False)
    Y_on, _, _, _ = h5.h265_decode_planes(p_on)
    Y_off, _, _, _ = h5.h265_decode_planes(p_off)
    Yr, _, _, _ = h5.h265_encoder_reconstruction(y, qp=34, sao=True)
    assert np.array_equal(Y_on, Yr)
    src = y.astype(np.int64)
    sse_on = int(((Y_on - src) ** 2).sum())
    sse_off = int(((Y_off - src) ** 2).sum())
    assert sse_on <= sse_off
    assert "eo" in kinds or "bo" in kinds


def test_sao_merge_flags_exercised():
    # flat content -> all-off params everywhere -> merge-left/up
    y = np.full((48, 64), 77, dtype=np.uint8)
    merges = [0]
    orig = h5._ser_sao

    def spy(enc, ctx, cx, cy, params, all_params, sh):
        if cx > 0 and params == all_params[(cx - 1, cy)]:
            merges[0] += 1
        elif cy > 0 and params == all_params[(cx, cy - 1)]:
            merges[0] += 1
        return orig(enc, ctx, cx, cy, params, all_params, sh)

    h5._ser_sao = spy
    try:
        p = h5.h265_encode(y, qp=30, sao=True, force_split=False)
    finally:
        h5._ser_sao = orig
    assert merges[0] > 0
    Y, _, _, _ = h5.h265_decode_planes(p)
    Yr, _, _, _ = h5.h265_encoder_reconstruction(
        y, qp=30, sao=True, force_split=False)
    assert np.array_equal(Y, Yr)


def test_sao_lossless_opts_out():
    # transquant-bypass streams must never be SAO-perturbed, even
    # when the caller leaves sao=True
    y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    p = h5.h265_encode(y, lossless=True, sao=True)
    Y, _, _, _ = h5.h265_decode_planes(p)
    assert np.array_equal(Y, y.astype(np.int64))


# ---------------------------------------------------------------------------
# Deblocking (late r8): intra CU edges on the 8-sample grid
# ---------------------------------------------------------------------------


def test_deblock_smooths_blocky_ramp_and_round_trips():
    xg, yg = np.meshgrid(np.arange(64), np.arange(48))
    y = np.clip((xg * 2 + yg * 3) // 2, 0, 255).astype(np.uint8)
    p_on = h5.h265_encode(y, qp=40, sao=False)
    p_off = h5.h265_encode(y, qp=40, sao=False, deblock=False)
    Y_on, _, _, _ = h5.h265_decode_planes(p_on)
    Y_off, _, _, _ = h5.h265_decode_planes(p_off)
    Yr, _, _, _ = h5.h265_encoder_reconstruction(y, qp=40, sao=False)
    assert np.array_equal(Y_on, Yr)
    assert not np.array_equal(Y_on, Y_off)       # the filter fired
    src = y.astype(np.int64)
    assert ((Y_on - src) ** 2).sum() < ((Y_off - src) ** 2).sum()


def test_deblock_lossless_opts_out():
    y = RNG.integers(0, 256, (32, 32), dtype=np.uint8)
    p = h5.h265_encode(y, lossless=True, deblock=True)
    Y, _, _, _ = h5.h265_decode_planes(p)
    assert np.array_equal(Y, y.astype(np.int64))

