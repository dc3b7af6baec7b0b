"""CABAC arithmetic engine (gorillaspark.operators.h264_cabac), shared
by the HEVC codec, and the CAVLC-only H.264 decoder's refusal of CABAC
streams.

1. the engine round-trips arbitrary bin sequences (regular bins over
   every context, bypass, interleaved non-final terminate bins) — the
   §9.3 M-coder state machine itself;
2. an H.264 stream whose PPS sets entropy_coding_mode_flag is
   rejected loudly, never decoded wrong.
"""

import numpy as np
import pytest

from gorillaspark.operators import h264 as hh
from gorillaspark.operators import h264_cabac as hc


def test_table_invariants():
    # regenerated tables satisfy the engine invariants of the spec's
    # Tables 9-44/9-45
    assert len(hc._RANGE_LPS) == 64 and len(hc._TRANS_LPS) == 64
    for s in range(64):
        for r in range(4):
            assert 2 <= hc._RANGE_LPS[s][r] <= 240
    # near-equiprobable state subdivides near half of each cell
    assert hc._RANGE_LPS[0] == [144, 176, 208, 240]
    # LPS transitions move toward more-skewed-MPS states
    for s in range(1, 63):
        assert hc._TRANS_LPS[s] <= s


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_engine_roundtrip_fuzz(seed):
    rng = np.random.default_rng(seed)
    for _ in range(30):
        n = int(rng.integers(1, 500))
        ops = []
        for _ in range(n):
            kind = int(rng.integers(0, 10))
            if kind < 6:
                ops.append(("r", int(rng.integers(0, hc.N_CTX)),
                            int(rng.integers(0, 2))))
            elif kind < 9:
                ops.append(("b", int(rng.integers(0, 2))))
            else:
                ops.append(("t",))   # non-final terminate (bin 0)
        enc, ctx = hc._CabacEnc(), hc._Ctx()
        for op in ops:
            if op[0] == "r":
                enc.bit(ctx, op[1], op[2])
            elif op[0] == "b":
                enc.bypass(op[1])
            else:
                enc.terminate(0)
        enc.terminate(1)
        data = enc.bytes()
        dec, ctx2 = hc._CabacDec(hh._Bits(data)), hc._Ctx()
        for op in ops:
            if op[0] == "r":
                assert dec.bit(ctx2, op[1]) == op[2]
            elif op[0] == "b":
                assert dec.bypass() == op[1]
            else:
                assert dec.terminate() == 0
        assert dec.terminate() == 1


def test_skewed_bin_sequences_compress_and_roundtrip():
    # long MPS runs drive the state to 62 and stress renormalisation
    enc, ctx = hc._CabacEnc(), hc._Ctx()
    bins = [0] * 2000 + [1] + [0] * 2000
    for b in bins:
        enc.bit(ctx, 100, b)
    enc.terminate(1)
    data = enc.bytes()
    assert len(data) < 120           # ~4000 skewed bins compress hard
    dec, ctx2 = hc._CabacDec(hh._Bits(data)), hc._Ctx()
    for b in bins:
        assert dec.bit(ctx2, 100) == b
    assert dec.terminate() == 1


def test_foreign_cabac_rejected_loudly():
    # a valid CAVLC stream whose PPS flips entropy_coding_mode_flag
    # (the bit after the two single-bit ue(0) ids) must be REFUSED
    off = np.full((1, 2), 5, dtype=np.int64)
    stream = hh.h264_encode_flat_mbs(off, qp=36)
    pps = bytearray(hh._write_pps())
    assert pps[0] & 0xE0 == 0xC0
    pps[0] |= 0x20
    sc = b"\x00\x00\x00\x01"
    nals = [sc + (b"\x68" + hh._escape(bytes(pps))
                  if (n[0] & 0x1F) == 8 else n)
            for n in hh._split_annexb_raw(stream)]
    with pytest.raises(NotImplementedError, match="CABAC"):
        hh.h264_decode(b"".join(nals))
