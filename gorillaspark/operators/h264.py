"""Pure-numpy H.264/AVC (CAVLC) codec — no libraries.

Closes the last media stub family (multimodal.py's avc1 branch): a
REAL bitstream decoder for Annex-B H.264 streams coded with CAVLC
entropy coding:

* NAL unit parsing (Annex B start codes, emulation-prevention
  0x0003 unescaping), SPS / PPS / slice header parse.
* CAVLC residual decode AND encode (coeff_token, level prefix/suffix
  adaptation, total_zeros, run_before) for luma DC / luma 4x4 /
  chroma DC / chroma AC blocks.
* Intra_16x16 (V / H / DC / Plane), Intra_4x4 (all 9 modes), I_PCM
  and 8x8 chroma (DC / H / V / Plane) prediction, 4:2:0.
* Integer inverse core transform, Intra_16x16 luma DC Hadamard and
  2x2 chroma DC transforms, LevelScale dequantisation.

The encoder is split into entropy-independent MB plans
(_plan_mb_i16/_plan_mb_i4) and the CAVLC writer
(_emit_mb_cavlc).

B slices (r8): B_Skip / B_Direct_16x16 (spatial derivation
8.4.1.2.2 AND temporal 8.4.1.2.3, per the slice header's
direct_spatial_mv_pred_flag) / B_L0_16x16 / B_L1_16x16 /
B_Bi_16x16 (default average) / the 16x8 and 8x16 two-partition
mode pairs (Table 7-14 types 4..21) / B_8x8 with every Table 7-18
sub-partition incl. B_Direct_8x8 / intra-in-B, over a two-list DPB
with poc_type-0 output reordering (h264_encode_b_frame + the GOP
decoder). P slices carry the full
partition set (16x16, 16x8, 8x16, P_8x8 with 8x8/8x4/4x8/4x4
sub-partitions); all inter MV prediction runs at the spec's
4x4-block granularity (8.4.1.3). Weighted prediction (r8): explicit
pred_weight_tables in P and B slices plus implicit B biprediction
(8.4.2.3, weighted_bipred_idc 2).

Out of scope, rejected loudly (NotImplementedError): CABAC
(entropy_coding_mode_flag = 1), the High-profile 8x8 transform,
multiple slice groups, fields/MBAFF, monochrome / 4:2:2 / 4:4:4,
scaling matrices, and in-loop deblocking — the encoder below always signals
``disable_deblocking_filter_idc = 1`` and the decoder refuses
streams that would require filtering, so reconstruction is exact
without implementing the filter.

Conformance note: the VLC tables are transcribed from the public
Rec. ITU-T H.264 (Tables 9-5, 9-7..9-10); the sandbox has no
external H.264 implementation or conformance vectors, so validation
is (a) structural — every VLC column is checked prefix-free, the
CBP mapping is checked to be a permutation — and (b) behavioural —
encode→decode round-trips bit-exactly and the decoder reproduces the
encoder's integer reconstruction loop sample-for-sample
(tests/test_h264.py).

Reference parity context: the Gorilla reference (burmanm/gorilla-tsc)
has no media surface; this module extends the engine's
LLM-data-pipeline coverage the same way media_codecs.py does, with
the same _loud_corruption ingestion contract.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# bit I/O over RBSP payloads
# ---------------------------------------------------------------------------


class _Bits:
    """MSB-first bit reader over an RBSP (already unescaped)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.n = len(data) * 8

    def u(self, k: int) -> int:
        if self.pos + k > self.n:
            raise ValueError("bitstream exhausted")
        v = 0
        p = self.pos
        d = self.data
        for _ in range(k):
            v = (v << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v

    def flag(self) -> int:
        return self.u(1)

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def more_rbsp_data(self) -> bool:
        """True while data beyond the rbsp_stop_one_bit remains."""
        if self.pos >= self.n:
            return False
        # find last set bit in the stream (the stop bit)
        last = self.n - 1
        while last >= 0:
            if (self.data[last >> 3] >> (7 - (last & 7))) & 1:
                break
            last -= 1
        return self.pos < last


class _BitW:
    """MSB-first bit writer producing an RBSP payload."""

    __slots__ = ("bits",)

    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, k: int):
        for i in range(k - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        v += 1
        k = v.bit_length()
        self.u(0, k - 1)
        self.u(v, k)

    def se(self, v: int):
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def trailing(self):
        self.bits.append(1)
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self) -> bytes:
        out = bytearray()
        acc = 0
        for i, b in enumerate(self.bits):
            acc = (acc << 1) | b
            if i % 8 == 7:
                out.append(acc)
                acc = 0
        rem = len(self.bits) % 8
        if rem:
            out.append(acc << (8 - rem))
        return bytes(out)


def _unescape(nal: bytes) -> bytes:
    """Remove emulation_prevention_three_byte (00 00 03 xx -> 00 00 xx)."""
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(nal):
        b = nal[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


def _escape(rbsp: bytes) -> bytes:
    """Insert emulation prevention bytes into an RBSP."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _split_annexb(payload: bytes):
    """Yield (nal_unit_type, nal_ref_idc, rbsp) per Annex-B NAL unit.

    ref_idc matters for slice-header parsing: a non-reference slice
    (nal_ref_idc == 0, legal for the last P of a GOP) carries no
    dec_ref_pic_marking() — assuming ref_idc 3 for every slice would
    misread a spurious adaptive_ref_pic_marking flag and shift
    slice_qp_delta (r7 ADVICE item)."""
    i = 0
    n = len(payload)
    starts = []
    while i + 3 <= n:
        if payload[i] == 0 and payload[i + 1] == 0:
            if payload[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and payload[i + 2] == 0 and payload[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    if not starts:
        raise ValueError("no Annex-B start code found")
    for k, (s, body) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        nal = payload[body:end]
        if not nal:
            continue
        if nal[0] & 0x80:
            raise ValueError("forbidden_zero_bit set in NAL header")
        yield nal[0] & 0x1F, (nal[0] >> 5) & 3, _unescape(nal[1:])


# ---------------------------------------------------------------------------
# CAVLC tables (Rec. ITU-T H.264 Tables 9-5, 9-7, 9-8, 9-9(a), 9-10)
# ---------------------------------------------------------------------------
# Each VLC is stored as (length, value). Decoding builds a prefix map;
# tests assert every column is prefix-free.

# coeff_token, keyed (TrailingOnes, TotalCoeff) -> (len, val),
# one dict per nC class: 0 <= nC < 2, 2 <= nC < 4, 4 <= nC < 8.
_CT_NC0 = {
    (0, 0): (1, 1),
    (0, 1): (6, 0b000101), (1, 1): (2, 0b01),
    (0, 2): (8, 0b00000111), (1, 2): (6, 0b000100), (2, 2): (3, 0b001),
    (0, 3): (9, 0b000000111), (1, 3): (8, 0b00000110),
    (2, 3): (7, 0b0000101), (3, 3): (5, 0b00011),
    (0, 4): (10, 0b0000000111), (1, 4): (9, 0b000000110),
    (2, 4): (8, 0b00000101), (3, 4): (6, 0b000011),
    (0, 5): (11, 0b00000000111), (1, 5): (10, 0b0000000110),
    (2, 5): (9, 0b000000101), (3, 5): (7, 0b0000100),
    (0, 6): (13, 0b0000000001111), (1, 6): (11, 0b00000000110),
    (2, 6): (10, 0b0000000101), (3, 6): (8, 0b00000100),
    (0, 7): (13, 0b0000000001011), (1, 7): (13, 0b0000000001110),
    (2, 7): (11, 0b00000000101), (3, 7): (9, 0b000000100),
    (0, 8): (13, 0b0000000001000), (1, 8): (13, 0b0000000001010),
    (2, 8): (13, 0b0000000001101), (3, 8): (10, 0b0000000100),
    (0, 9): (14, 0b00000000001111), (1, 9): (14, 0b00000000001110),
    (2, 9): (13, 0b0000000001001), (3, 9): (11, 0b00000000100),
    (0, 10): (14, 0b00000000001011), (1, 10): (14, 0b00000000001010),
    (2, 10): (14, 0b00000000001101), (3, 10): (13, 0b0000000001100),
    (0, 11): (15, 0b000000000001111), (1, 11): (15, 0b000000000001110),
    (2, 11): (14, 0b00000000001001), (3, 11): (14, 0b00000000001100),
    (0, 12): (15, 0b000000000001011), (1, 12): (15, 0b000000000001010),
    (2, 12): (15, 0b000000000001101), (3, 12): (14, 0b00000000001000),
    (0, 13): (16, 0b0000000000001111), (1, 13): (15, 0b000000000000001),
    (2, 13): (15, 0b000000000001001), (3, 13): (15, 0b000000000001100),
    (0, 14): (16, 0b0000000000001011), (1, 14): (16, 0b0000000000001110),
    (2, 14): (16, 0b0000000000001101), (3, 14): (15, 0b000000000001000),
    (0, 15): (16, 0b0000000000000111), (1, 15): (16, 0b0000000000001010),
    (2, 15): (16, 0b0000000000001001), (3, 15): (16, 0b0000000000001100),
    (0, 16): (16, 0b0000000000000100), (1, 16): (16, 0b0000000000000110),
    (2, 16): (16, 0b0000000000000101), (3, 16): (16, 0b0000000000001000),
}

_CT_NC2 = {
    (0, 0): (2, 0b11),
    (0, 1): (6, 0b001011), (1, 1): (2, 0b10),
    (0, 2): (6, 0b000111), (1, 2): (5, 0b00111), (2, 2): (3, 0b011),
    (0, 3): (7, 0b0000111), (1, 3): (6, 0b001010),
    (2, 3): (6, 0b001001), (3, 3): (4, 0b0101),
    (0, 4): (8, 0b00000111), (1, 4): (6, 0b000110),
    (2, 4): (6, 0b000101), (3, 4): (4, 0b0100),
    (0, 5): (8, 0b00000100), (1, 5): (7, 0b0000110),
    (2, 5): (7, 0b0000101), (3, 5): (5, 0b00110),
    (0, 6): (9, 0b000000111), (1, 6): (8, 0b00000110),
    (2, 6): (8, 0b00000101), (3, 6): (6, 0b001000),
    (0, 7): (11, 0b00000001111), (1, 7): (9, 0b000000110),
    (2, 7): (9, 0b000000101), (3, 7): (6, 0b000100),
    (0, 8): (11, 0b00000001011), (1, 8): (11, 0b00000001110),
    (2, 8): (11, 0b00000001101), (3, 8): (7, 0b0000100),
    (0, 9): (12, 0b000000001111), (1, 9): (11, 0b00000001010),
    (2, 9): (11, 0b00000001001), (3, 9): (9, 0b000000100),
    (0, 10): (12, 0b000000001011), (1, 10): (12, 0b000000001110),
    (2, 10): (12, 0b000000001101), (3, 10): (11, 0b00000001100),
    (0, 11): (12, 0b000000001000), (1, 11): (12, 0b000000001010),
    (2, 11): (12, 0b000000001001), (3, 11): (11, 0b00000001000),
    (0, 12): (13, 0b0000000001111), (1, 12): (13, 0b0000000001110),
    (2, 12): (13, 0b0000000001101), (3, 12): (12, 0b000000001100),
    (0, 13): (13, 0b0000000001011), (1, 13): (13, 0b0000000001010),
    (2, 13): (13, 0b0000000001001), (3, 13): (13, 0b0000000001100),
    (0, 14): (13, 0b0000000000111), (1, 14): (14, 0b00000000001011),
    (2, 14): (13, 0b0000000000110), (3, 14): (13, 0b0000000001000),
    (0, 15): (14, 0b00000000001001), (1, 15): (14, 0b00000000001000),
    (2, 15): (14, 0b00000000001010), (3, 15): (13, 0b0000000000001),
    (0, 16): (14, 0b00000000000111), (1, 16): (14, 0b00000000000110),
    (2, 16): (14, 0b00000000000101), (3, 16): (14, 0b00000000000100),
}

_CT_NC4 = {
    (0, 0): (4, 0b1111),
    (0, 1): (6, 0b001111), (1, 1): (4, 0b1110),
    (0, 2): (6, 0b001011), (1, 2): (5, 0b01111), (2, 2): (4, 0b1101),
    (0, 3): (6, 0b001000), (1, 3): (5, 0b01100),
    (2, 3): (5, 0b01110), (3, 3): (4, 0b1100),
    (0, 4): (7, 0b0001111), (1, 4): (5, 0b01010),
    (2, 4): (5, 0b01011), (3, 4): (4, 0b1011),
    (0, 5): (7, 0b0001011), (1, 5): (5, 0b01000),
    (2, 5): (5, 0b01001), (3, 5): (4, 0b1010),
    (0, 6): (7, 0b0001001), (1, 6): (6, 0b001110),
    (2, 6): (6, 0b001101), (3, 6): (4, 0b1001),
    (0, 7): (7, 0b0001000), (1, 7): (6, 0b001010),
    (2, 7): (6, 0b001001), (3, 7): (4, 0b1000),
    (0, 8): (8, 0b00001111), (1, 8): (7, 0b0001110),
    (2, 8): (7, 0b0001101), (3, 8): (5, 0b01101),
    (0, 9): (8, 0b00001011), (1, 9): (8, 0b00001110),
    (2, 9): (7, 0b0001010), (3, 9): (6, 0b001100),
    (0, 10): (9, 0b000001111), (1, 10): (8, 0b00001010),
    (2, 10): (8, 0b00001101), (3, 10): (7, 0b0001100),
    (0, 11): (9, 0b000001011), (1, 11): (9, 0b000001110),
    (2, 11): (8, 0b00001001), (3, 11): (8, 0b00001100),
    (0, 12): (9, 0b000001000), (1, 12): (9, 0b000001010),
    (2, 12): (9, 0b000001101), (3, 12): (8, 0b00001000),
    (0, 13): (10, 0b0000001101), (1, 13): (9, 0b000000111),
    (2, 13): (9, 0b000001001), (3, 13): (9, 0b000001100),
    (0, 14): (10, 0b0000001001), (1, 14): (10, 0b0000001100),
    (2, 14): (10, 0b0000001011), (3, 14): (10, 0b0000001010),
    (0, 15): (10, 0b0000000101), (1, 15): (10, 0b0000001000),
    (2, 15): (10, 0b0000000111), (3, 15): (10, 0b0000000110),
    (0, 16): (10, 0b0000000001), (1, 16): (10, 0b0000000100),
    (2, 16): (10, 0b0000000011), (3, 16): (10, 0b0000000010),
}

# chroma DC (4:2:0), Table 9-5 column nC == -1
_CT_NCM1 = {
    (0, 0): (2, 0b01),
    (0, 1): (6, 0b000111), (1, 1): (1, 0b1),
    (0, 2): (6, 0b000100), (1, 2): (6, 0b000110), (2, 2): (3, 0b001),
    (0, 3): (6, 0b000011), (1, 3): (7, 0b0000011),
    (2, 3): (7, 0b0000010), (3, 3): (6, 0b000101),
    (0, 4): (6, 0b000010), (1, 4): (8, 0b00000011),
    (2, 4): (8, 0b00000010), (3, 4): (7, 0b0000000),
}

# total_zeros for 4x4 blocks, Tables 9-7/9-8: _TZ[TotalCoeff][total_zeros]
_TZ = {
    1: [(1, 1), (3, 0b011), (3, 0b010), (4, 0b0011), (4, 0b0010),
        (5, 0b00011), (5, 0b00010), (6, 0b000011), (6, 0b000010),
        (7, 0b0000011), (7, 0b0000010), (8, 0b00000011),
        (8, 0b00000010), (9, 0b000000011), (9, 0b000000010),
        (9, 0b000000001)],
    2: [(3, 0b111), (3, 0b110), (3, 0b101), (3, 0b100), (3, 0b011),
        (4, 0b0101), (4, 0b0100), (4, 0b0011), (4, 0b0010),
        (5, 0b00011), (5, 0b00010), (6, 0b000011), (6, 0b000010),
        (6, 0b000001), (6, 0b000000)],
    3: [(4, 0b0101), (3, 0b111), (3, 0b110), (3, 0b101), (4, 0b0100),
        (4, 0b0011), (3, 0b100), (3, 0b011), (4, 0b0010),
        (5, 0b00011), (5, 0b00010), (6, 0b000001), (5, 0b00001),
        (6, 0b000000)],
    4: [(5, 0b00011), (3, 0b111), (4, 0b0101), (4, 0b0100),
        (3, 0b110), (3, 0b101), (3, 0b100), (4, 0b0011),
        (3, 0b011), (4, 0b0010), (5, 0b00010), (5, 0b00001),
        (5, 0b00000)],
    5: [(4, 0b0101), (4, 0b0100), (4, 0b0011), (3, 0b111),
        (3, 0b110), (3, 0b101), (3, 0b100), (3, 0b011), (4, 0b0010),
        (5, 0b00001), (4, 0b0001), (5, 0b00000)],
    6: [(6, 0b000001), (5, 0b00001), (3, 0b111), (3, 0b110),
        (3, 0b101), (3, 0b100), (3, 0b011), (3, 0b010), (4, 0b0001),
        (3, 0b001), (6, 0b000000)],
    7: [(6, 0b000001), (5, 0b00001), (3, 0b101), (3, 0b100),
        (3, 0b011), (2, 0b11), (3, 0b010), (4, 0b0001), (3, 0b001),
        (6, 0b000000)],
    8: [(6, 0b000001), (4, 0b0001), (5, 0b00001), (3, 0b011),
        (2, 0b11), (2, 0b10), (3, 0b010), (3, 0b001), (6, 0b000000)],
    9: [(6, 0b000001), (6, 0b000000), (4, 0b0001), (2, 0b11),
        (2, 0b10), (3, 0b001), (2, 0b01), (5, 0b00001)],
    10: [(5, 0b00001), (5, 0b00000), (3, 0b001), (2, 0b11),
         (2, 0b10), (2, 0b01), (4, 0b0001)],
    11: [(4, 0b0000), (4, 0b0001), (3, 0b001), (3, 0b010),
         (1, 0b1), (3, 0b011)],
    12: [(4, 0b0000), (4, 0b0001), (2, 0b01), (1, 0b1), (3, 0b001)],
    13: [(3, 0b000), (3, 0b001), (1, 0b1), (2, 0b01)],
    14: [(2, 0b00), (2, 0b01), (1, 0b1)],
    15: [(1, 0b0), (1, 0b1)],
}

# total_zeros for 2x2 chroma DC blocks (4:2:0), Table 9-9(a)
_TZ_CDC = {
    1: [(1, 1), (2, 0b01), (3, 0b001), (3, 0b000)],
    2: [(1, 1), (2, 0b01), (2, 0b00)],
    3: [(1, 1), (1, 0b0)],
}

# run_before, Table 9-10: _RB[min(zerosLeft, 7)][run_before]
_RB = {
    1: [(1, 1), (1, 0)],
    2: [(1, 1), (2, 0b01), (2, 0b00)],
    3: [(2, 0b11), (2, 0b10), (2, 0b01), (2, 0b00)],
    4: [(2, 0b11), (2, 0b10), (2, 0b01), (3, 0b001), (3, 0b000)],
    5: [(2, 0b11), (2, 0b10), (3, 0b011), (3, 0b010), (3, 0b001),
        (3, 0b000)],
    6: [(2, 0b11), (3, 0b000), (3, 0b001), (3, 0b011), (3, 0b010),
        (3, 0b101), (3, 0b100)],
    7: [(3, 0b111), (3, 0b110), (3, 0b101), (3, 0b100), (3, 0b011),
        (3, 0b010), (3, 0b001), (4, 0b0001), (5, 0b00001),
        (6, 0b000001), (7, 0b0000001), (8, 0b00000001),
        (9, 0b000000001), (10, 0b0000000001), (11, 0b00000000001)],
}

# coded_block_pattern me(v) mapping for intra MBs, Table 9-4 col 1
_CBP_INTRA = [47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43,
              45, 46, 16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42,
              44, 1, 2, 4, 8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33,
              34, 36, 40, 38, 41]

_ZZ4 = np.array([0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14,
                 15])

# LevelScale4x4 entries per qP%6: [ (0,0)-class, (1,1)-class, other ]
_LS = [(10, 16, 13), (11, 18, 14), (13, 20, 16), (14, 23, 18),
       (16, 25, 20), (18, 29, 23)]
# forward quant multipliers (encoder), same classes
_MF = [(13107, 5243, 8066), (11916, 4660, 7490), (10082, 4194, 6554),
       (9362, 3647, 5825), (8192, 3355, 5243), (7282, 2893, 4559)]

_LS_CLASS = np.array([[0, 2, 0, 2],
                      [2, 1, 2, 1],
                      [0, 2, 0, 2],
                      [2, 1, 2, 1]], dtype=np.int64)

# chroma QP mapping for qPI >= 30 (Table 8-15)
_QPC = [29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37,
        38, 38, 38, 39, 39, 39, 39]

# raster position (x4, y4) of luma4x4BlkIdx 0..15 (zig-zag of quads)
_BLK_POS = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1),
            (3, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2),
            (2, 3), (3, 3)]


def _invert(table: dict) -> dict:
    """(len, code) -> key prefix map for decoding."""
    return {(ln, code): key for key, (ln, code) in table.items()}


_CT_DEC = {0: _invert(_CT_NC0), 2: _invert(_CT_NC2),
           4: _invert(_CT_NC4), -1: _invert(_CT_NCM1)}
_TZ_DEC = {k: {(ln, code): i for i, (ln, code) in enumerate(v)}
           for k, v in _TZ.items()}
_TZ_CDC_DEC = {k: {(ln, code): i for i, (ln, code) in enumerate(v)}
               for k, v in _TZ_CDC.items()}
_RB_DEC = {k: {(ln, code): i for i, (ln, code) in enumerate(v)}
           for k, v in _RB.items()}


def _read_vlc(br: _Bits, dec: dict, what: str, max_len: int = 16):
    ln, code = 0, 0
    while ln <= max_len:
        code = (code << 1) | br.u(1)
        ln += 1
        hit = dec.get((ln, code))
        if hit is not None:
            return hit
    raise ValueError(f"invalid {what} VLC code")


def _ct_class(nc: int) -> int:
    if nc < 0:
        return -1
    if nc < 2:
        return 0
    if nc < 4:
        return 2
    return 4


# ---------------------------------------------------------------------------
# CAVLC residual block decode / encode (spec 9.2 / 7.3.5.3.2)
# ---------------------------------------------------------------------------


def _decode_residual(br: _Bits, nc: int, max_coeffs: int) -> np.ndarray:
    """Decode one CAVLC residual block -> coeff array in scan order
    (length max_coeffs: 16 luma / luma-DC, 15 AC, 4 chroma DC)."""
    if nc >= 8:
        six = br.u(6)
        total, t1s = (0, 0) if six == 0b000011 else (
            (six >> 2) + 1, six & 3)
    else:
        t1s, total = _read_vlc(br, _CT_DEC[_ct_class(nc)], "coeff_token")
    coeffs = np.zeros(max_coeffs, dtype=np.int64)
    if total == 0:
        return coeffs
    if total > max_coeffs:
        raise ValueError("coeff_token TotalCoeff exceeds block size")
    levels = []
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    for i in range(total):
        if i < t1s:
            levels.append(1 - 2 * br.u(1))
            continue
        prefix = 0
        while br.u(1) == 0:
            prefix += 1
            if prefix > 31:
                raise ValueError("level_prefix too long")
        size = suffix_len
        if prefix == 14 and suffix_len == 0:
            size = 4
        elif prefix >= 15:
            size = prefix - 3
        code = (min(15, prefix) << suffix_len) + (br.u(size) if size else 0)
        if prefix >= 15 and suffix_len == 0:
            code += 15
        if prefix >= 16:
            code += (1 << (prefix - 3)) - 4096
        if i == t1s and t1s < 3:
            code += 2
        lvl = (code + 2) >> 1 if code % 2 == 0 else -((code + 1) >> 1)
        levels.append(lvl)
        if suffix_len == 0:
            suffix_len = 1
        if abs(lvl) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeffs:
        if max_coeffs == 4:  # chroma DC
            tz = _read_vlc(br, _TZ_CDC_DEC[total], "total_zeros(chroma)")
        else:
            tz = _read_vlc(br, _TZ_DEC[total], "total_zeros")
    else:
        tz = 0
    zeros_left = tz
    pos = total + tz - 1
    if pos >= max_coeffs:
        raise ValueError("total_zeros exceeds block size")
    for i in range(total):
        coeffs[pos] = levels[i]
        if i == total - 1:
            break
        if zeros_left > 0:
            run = _read_vlc(br, _RB_DEC[min(zeros_left, 7)], "run_before")
            if run > zeros_left:
                raise ValueError("run_before exceeds zeros left")
        else:
            run = 0
        zeros_left -= run
        pos -= run + 1
    return coeffs


def _encode_residual(bw: _BitW, coeffs: np.ndarray, nc: int,
                     max_coeffs: int):
    """CAVLC-encode one residual block (scan-order coeffs)."""
    nz = [(i, int(v)) for i, v in enumerate(coeffs[:max_coeffs]) if v]
    total = len(nz)
    # trailing ones: up to 3 final |1| coefficients
    t1s = 0
    for _, v in reversed(nz):
        if abs(v) == 1 and t1s < 3:
            t1s += 1
        else:
            break
    if nc >= 8:
        bw.u(0b000011 if total == 0 else ((total - 1) << 2) | t1s, 6)
    else:
        table = {-1: _CT_NCM1, 0: _CT_NC0, 2: _CT_NC2,
                 4: _CT_NC4}[_ct_class(nc)]
        ln, code = table[(t1s, total)]
        bw.u(code, ln)
    if total == 0:
        return
    suffix_len = 1 if total > 10 and t1s < 3 else 0
    rev = list(reversed(nz))
    for i, (_, lvl) in enumerate(rev):
        if i < t1s:
            bw.u(0 if lvl > 0 else 1, 1)
            continue
        code = 2 * lvl - 2 if lvl > 0 else -2 * lvl - 1
        if i == t1s and t1s < 3:
            code -= 2
        # invert the decoder's prefix/suffix arithmetic
        if suffix_len == 0 and code < 14:
            bw.u(1, code + 1)                   # prefix = code, no suffix
        elif suffix_len == 0 and code < 30:
            bw.u(1, 15)                         # prefix 14, 4-bit suffix
            bw.u(code - 14, 4)
        elif suffix_len > 0 and (code >> suffix_len) < 15:
            bw.u(1, (code >> suffix_len) + 1)
            bw.u(code & ((1 << suffix_len) - 1), suffix_len)
        else:                                   # escape: prefix >= 15
            enc = None
            for p in range(15, 32):
                size = p - 3
                base = (15 << suffix_len) + (15 if suffix_len == 0 else 0)
                if p >= 16:
                    base += (1 << (p - 3)) - 4096
                delta = code - base
                if 0 <= delta < (1 << size):
                    enc = (p, delta, size)
                    break
            if enc is None:
                raise ValueError("level too large to CAVLC-encode")
            p, delta, size = enc
            bw.u(1, p + 1)
            bw.u(delta, size)
        lvl_abs = abs(lvl)
        if suffix_len == 0:
            suffix_len = 1
        if lvl_abs > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    if total < max_coeffs:
        tz = nz[-1][0] + 1 - total        # zeros before last nonzero
        if max_coeffs == 4:
            ln, code = _TZ_CDC[total][tz]
        else:
            ln, code = _TZ[total][tz]
        bw.u(code, ln)
    else:
        tz = 0
    zeros_left = tz
    for i in range(total - 1):
        pos_hi = rev[i][0]
        pos_next = rev[i + 1][0]
        run = pos_hi - pos_next - 1
        if zeros_left > 0:
            ln, code = _RB[min(zeros_left, 7)][run]
            bw.u(code, ln)
        zeros_left -= run


# ---------------------------------------------------------------------------
# transforms (spec 8.5) — all exact int64
# ---------------------------------------------------------------------------


def _inv_transform_4x4(d: np.ndarray) -> np.ndarray:
    """Inverse core transform (8.5.12.2), WITHOUT the final
    (x + 32) >> 6 scaling: returns the pre-scale array."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    # horizontal
    e0 = d[:, 0] + d[:, 2]
    e1 = d[:, 0] - d[:, 2]
    e2 = (d[:, 1] >> 1) - d[:, 3]
    e3 = d[:, 1] + (d[:, 3] >> 1)
    e[:, 0] = e0 + e3
    e[:, 1] = e1 + e2
    e[:, 2] = e1 - e2
    e[:, 3] = e0 - e3
    f = np.empty_like(e)
    f0 = e[0] + e[2]
    f1 = e[0] - e[2]
    f2 = (e[1] >> 1) - e[3]
    f3 = e[1] + (e[3] >> 1)
    f[0] = f0 + f3
    f[1] = f1 + f2
    f[2] = f1 - f2
    f[3] = f0 - f3
    return f


def _inv_transform_4x4_batch(d: np.ndarray) -> np.ndarray:
    """Batched :func:`_inv_transform_4x4` over (N, 4, 4) blocks —
    identical integer arithmetic per block, one numpy pass for all
    N (the per-block form cost ~30 µs of Python per 4x4, dominating
    MB reconstruction)."""
    d = d.astype(np.int64)
    e = np.empty_like(d)
    e0 = d[:, :, 0] + d[:, :, 2]
    e1 = d[:, :, 0] - d[:, :, 2]
    e2 = (d[:, :, 1] >> 1) - d[:, :, 3]
    e3 = d[:, :, 1] + (d[:, :, 3] >> 1)
    e[:, :, 0] = e0 + e3
    e[:, :, 1] = e1 + e2
    e[:, :, 2] = e1 - e2
    e[:, :, 3] = e0 - e3
    f = np.empty_like(e)
    f0 = e[:, 0] + e[:, 2]
    f1 = e[:, 0] - e[:, 2]
    f2 = (e[:, 1] >> 1) - e[:, 3]
    f3 = e[:, 1] + (e[:, 3] >> 1)
    f[:, 0] = f0 + f3
    f[:, 1] = f1 + f2
    f[:, 2] = f1 - f2
    f[:, 3] = f0 - f3
    return f


def _fwd_transform_4x4(x: np.ndarray) -> np.ndarray:
    """Forward core transform Cf X Cf^T (encoder side)."""
    cf = np.array([[1, 1, 1, 1], [2, 1, -1, -2],
                   [1, -1, -1, 1], [1, -2, 2, -1]], dtype=np.int64)
    return cf @ x.astype(np.int64) @ cf.T


_HAD4 = np.array([[1, 1, 1, 1], [1, 1, -1, -1],
                  [1, -1, -1, 1], [1, -1, 1, -1]], dtype=np.int64)


def _hadamard4(x: np.ndarray) -> np.ndarray:
    return _HAD4 @ x.astype(np.int64) @ _HAD4.T


_LS_ARRS: dict = {}


def _ls_arr(qp: int) -> np.ndarray:
    """Cached (4, 4) LevelScale table for qp (the per-call np.array +
    fancy-index construction was ~25% of MB reconstruction)."""
    a = _LS_ARRS.get(qp)
    if a is None:
        a = np.array(_LS[qp % 6], dtype=np.int64)[_LS_CLASS]
        a.setflags(write=False)
        _LS_ARRS[qp] = a
    return a


def _dequant_ac(c: np.ndarray, qp: int) -> np.ndarray:
    """LevelScale dequant of a 4x4 residual block (8.5.12.1); c in
    raster order. DC position included (used for chroma AC blocks the
    DC of which is replaced by the chroma-DC path)."""
    return (c.astype(np.int64) * _ls_arr(qp)) << (qp // 6)


def _luma_dc_dequant(c16: np.ndarray, qp: int) -> np.ndarray:
    """Intra16x16 luma DC: inverse Hadamard + DC scaling (8.5.10).
    c16 is the 4x4 of DC levels in raster order."""
    f = _hadamard4(c16)
    ls = _LS[qp % 6][0]
    if qp >= 36:
        return (f * ls) << (qp // 6 - 6)
    return (f * ls + (1 << (5 - qp // 6))) >> (6 - qp // 6)


_HAD2 = np.array([[1, 1], [1, -1]], dtype=np.int64)


def _chroma_dc_dequant(c4: np.ndarray, qpc: int) -> np.ndarray:
    """2x2 chroma DC: Hadamard + scaling (8.5.11)."""
    f = _HAD2 @ c4.astype(np.int64) @ _HAD2
    ls = _LS[qpc % 6][0]
    return ((f * ls) << (qpc // 6)) >> 5


def _qpc_from_qp(qp: int, offset: int = 0) -> int:
    qpi = max(0, min(51, qp + offset))
    return qpi if qpi < 30 else _QPC[qpi - 30]


# ---------------------------------------------------------------------------
# intra prediction (spec 8.3) — operate on the reconstruction planes
# ---------------------------------------------------------------------------


def _pred16(plane: np.ndarray, x0: int, y0: int, mode: int) -> np.ndarray:
    """Intra_16x16 prediction: 0 V, 1 H, 2 DC, 3 Plane."""
    top = plane[y0 - 1, x0:x0 + 16].astype(np.int64) if y0 > 0 else None
    left = plane[y0:y0 + 16, x0 - 1].astype(np.int64) if x0 > 0 else None
    if mode == 0:
        if top is None:
            raise ValueError("Intra16x16 V prediction without top row")
        return np.tile(top, (16, 1))
    if mode == 1:
        if left is None:
            raise ValueError("Intra16x16 H prediction without left col")
        return np.tile(left[:, None], (1, 16))
    if mode == 2:
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 16) >> 5
        elif top is not None:
            dc = (int(top.sum()) + 8) >> 4
        elif left is not None:
            dc = (int(left.sum()) + 8) >> 4
        else:
            dc = 128
        return np.full((16, 16), dc, dtype=np.int64)
    if mode == 3:
        if top is None or left is None or x0 == 0 or y0 == 0:
            raise ValueError("Intra16x16 Plane prediction needs both edges")
        p = plane.astype(np.int64)
        hsum = sum((x + 1) * (int(p[y0 - 1, x0 + 8 + x])
                              - int(p[y0 - 1, x0 + 6 - x]))
                   for x in range(8))
        vsum = sum((y + 1) * (int(p[y0 + 8 + y, x0 - 1])
                              - int(p[y0 + 6 - y, x0 - 1]))
                   for y in range(8))
        a = 16 * (int(p[y0 + 15, x0 - 1]) + int(p[y0 - 1, x0 + 15]))
        b = (5 * hsum + 32) >> 6
        c = (5 * vsum + 32) >> 6
        yy, xx = np.mgrid[0:16, 0:16]
        return np.clip((a + b * (xx - 7) + c * (yy - 7) + 16) >> 5,
                       0, 255)
    raise ValueError(f"bad Intra16x16 pred mode {mode}")


def _pred_chroma(plane: np.ndarray, x0: int, y0: int,
                 mode: int) -> np.ndarray:
    """8x8 chroma prediction: 0 DC, 1 H, 2 V, 3 Plane (8.3.4)."""
    top = plane[y0 - 1, x0:x0 + 8].astype(np.int64) if y0 > 0 else None
    left = plane[y0:y0 + 8, x0 - 1].astype(np.int64) if x0 > 0 else None
    if mode == 0:
        out = np.empty((8, 8), dtype=np.int64)
        for by in (0, 4):
            for bx in (0, 4):
                t = top[bx:bx + 4] if top is not None else None
                l_ = left[by:by + 4] if left is not None else None
                # corner rule: (0,0) both; (4,0) prefers top; (0,4)
                # prefers left; (4,4) both (8.3.4.1)
                if bx == 4 and by == 0:
                    use_t, use_l = t, (l_ if t is None else None)
                elif bx == 0 and by == 4:
                    use_l, use_t = l_, (t if l_ is None else None)
                else:
                    use_t, use_l = t, l_
                if use_t is not None and use_l is not None:
                    dc = (int(use_t.sum()) + int(use_l.sum()) + 4) >> 3
                elif use_t is not None:
                    dc = (int(use_t.sum()) + 2) >> 2
                elif use_l is not None:
                    dc = (int(use_l.sum()) + 2) >> 2
                else:
                    dc = 128
                out[by:by + 4, bx:bx + 4] = dc
        return out
    if mode == 1:
        if left is None:
            raise ValueError("chroma H prediction without left col")
        return np.tile(left[:, None], (1, 8))
    if mode == 2:
        if top is None:
            raise ValueError("chroma V prediction without top row")
        return np.tile(top, (8, 1))
    if mode == 3:
        if top is None or left is None:
            raise ValueError("chroma Plane prediction needs both edges")
        p = plane.astype(np.int64)
        hsum = sum((x + 1) * (int(p[y0 - 1, x0 + 4 + x])
                              - int(p[y0 - 1, x0 + 2 - x]))
                   for x in range(4))
        vsum = sum((y + 1) * (int(p[y0 + 4 + y, x0 - 1])
                              - int(p[y0 + 2 - y, x0 - 1]))
                   for y in range(4))
        a = 16 * (int(p[y0 + 7, x0 - 1]) + int(p[y0 - 1, x0 + 7]))
        b = (17 * hsum + 16) >> 5
        c = (17 * vsum + 16) >> 5
        yy, xx = np.mgrid[0:8, 0:8]
        return np.clip((a + b * (xx - 3) + c * (yy - 3) + 16) >> 5,
                       0, 255)
    raise ValueError(f"bad chroma pred mode {mode}")


def _pred4(plane: np.ndarray, x0: int, y0: int, mode: int,
           top_right_ok: bool) -> np.ndarray:
    """Intra_4x4 prediction, modes 0..8 (8.3.1.2). ``plane`` holds
    already-reconstructed samples; availability is by position."""
    p = plane.astype(np.int64)
    have_top = y0 > 0
    have_left = x0 > 0
    top = p[y0 - 1, x0:x0 + 4] if have_top else None
    left = p[y0:y0 + 4, x0 - 1] if have_left else None
    tl = int(p[y0 - 1, x0 - 1]) if have_top and have_left else None
    if have_top and top_right_ok and x0 + 8 <= plane.shape[1]:
        tr = p[y0 - 1, x0 + 4:x0 + 8]
    elif have_top:
        tr = np.full(4, int(top[3]), dtype=np.int64)
    else:
        tr = None
    out = np.empty((4, 4), dtype=np.int64)
    if mode == 0:                                        # Vertical
        if top is None:
            raise ValueError("I4x4 V prediction without top")
        return np.tile(top, (4, 1))
    if mode == 1:                                        # Horizontal
        if left is None:
            raise ValueError("I4x4 H prediction without left")
        return np.tile(left[:, None], (1, 4))
    if mode == 2:                                        # DC
        if top is not None and left is not None:
            dc = (int(top.sum()) + int(left.sum()) + 4) >> 3
        elif top is not None:
            dc = (int(top.sum()) + 2) >> 2
        elif left is not None:
            dc = (int(left.sum()) + 2) >> 2
        else:
            dc = 128
        out[:] = dc
        return out
    if mode == 3:                                # Diagonal down-left
        if top is None:
            raise ValueError("I4x4 DDL prediction without top")
        t = np.concatenate([top, tr])
        for y in range(4):
            for x in range(4):
                i = x + y
                if i == 6:
                    out[y, x] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return out
    if mode == 4:                                # Diagonal down-right
        if top is None or left is None or tl is None:
            raise ValueError("I4x4 DDR prediction needs all edges")
        for y in range(4):
            for x in range(4):
                if x > y:
                    i = x - y
                    a = tl if i == 1 else top[i - 2]
                    out[y, x] = ((a + 2 * (top[i - 1] if i >= 1 else tl)
                                  + top[i] + 2) >> 2) if i >= 2 else \
                        ((tl + 2 * top[0] + top[1] + 2) >> 2)
                elif x < y:
                    i = y - x
                    out[y, x] = ((left[i - 2] if i >= 2 else tl)
                                 + 2 * (left[i - 1] if i >= 1 else tl)
                                 + left[i] + 2) >> 2 if i >= 2 else \
                        ((tl + 2 * left[0] + left[1] + 2) >> 2)
                else:
                    out[y, x] = (top[0] + 2 * tl + left[0] + 2) >> 2
        return out
    if mode == 5:                                # Vertical-right
        if top is None or left is None or tl is None:
            raise ValueError("I4x4 VR prediction needs all edges")
        for y in range(4):
            for x in range(4):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    out[y, x] = ((tl + top[0] + 1) >> 1) if i == 0 else \
                        ((top[i - 1] + top[i] + 1) >> 1)
                elif z >= 0:
                    i = x - (y >> 1)
                    if i == 0:
                        out[y, x] = (left[0] + 2 * tl + top[0] + 2) >> 2
                    elif i == 1:
                        out[y, x] = (tl + 2 * top[0] + top[1] + 2) >> 2
                    else:
                        out[y, x] = (top[i - 2] + 2 * top[i - 1]
                                     + top[i] + 2) >> 2
                elif z == -1:
                    out[y, x] = (top[0] + 2 * tl + left[0] + 2) >> 2
                else:
                    i = y - 2 * x
                    out[y, x] = (left[i - 1] + 2 * left[i - 2]
                                 + (left[i - 3] if i >= 3 else tl)
                                 + 2) >> 2 if i >= 2 else 0
        return out
    if mode == 6:                                # Horizontal-down
        if top is None or left is None or tl is None:
            raise ValueError("I4x4 HD prediction needs all edges")
        for y in range(4):
            for x in range(4):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    out[y, x] = ((tl + left[0] + 1) >> 1) if i == 0 else \
                        ((left[i - 1] + left[i] + 1) >> 1)
                elif z >= 0:
                    i = y - (x >> 1)
                    if i == 0:
                        out[y, x] = (top[0] + 2 * tl + left[0] + 2) >> 2
                    elif i == 1:
                        out[y, x] = (tl + 2 * left[0] + left[1] + 2) >> 2
                    else:
                        out[y, x] = (left[i - 2] + 2 * left[i - 1]
                                     + left[i] + 2) >> 2
                elif z == -1:
                    out[y, x] = (left[0] + 2 * tl + top[0] + 2) >> 2
                else:
                    i = x - 2 * y
                    out[y, x] = (top[i - 1] + 2 * top[i - 2]
                                 + (top[i - 3] if i >= 3 else tl)
                                 + 2) >> 2 if i >= 2 else 0
        return out
    if mode == 7:                                # Vertical-left
        if top is None:
            raise ValueError("I4x4 VL prediction without top")
        t = np.concatenate([top, tr])
        for y in range(4):
            for x in range(4):
                i = x + (y >> 1)
                if y % 2 == 0:
                    out[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
        return out
    if mode == 8:                                # Horizontal-up
        if left is None:
            raise ValueError("I4x4 HU prediction without left")
        for y in range(4):
            for x in range(4):
                z = x + 2 * y
                if z > 5:
                    out[y, x] = left[3]
                elif z == 5:
                    out[y, x] = (left[2] + 3 * left[3] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    out[y, x] = (left[i] + left[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    out[y, x] = (left[i] + 2 * left[i + 1]
                                 + left[i + 2] + 2) >> 2
        return out
    raise ValueError(f"bad Intra4x4 pred mode {mode}")


# ---------------------------------------------------------------------------
# parameter sets + slice header (spec 7.3.2)
# ---------------------------------------------------------------------------


def _parse_sps(br: _Bits) -> dict:
    profile = br.u(8)
    br.u(8)                                   # constraint flags + reserved
    level = br.u(8)
    sps_id = br.ue()
    if profile == 100:               # High profile (r8): 4:2:0 8-bit
        if br.ue() != 1:
            raise NotImplementedError(
                "chroma_format_idc != 1 (monochrome/4:2:2/4:4:4) "
                "unsupported")
        if br.ue() != 0 or br.ue() != 0:
            raise NotImplementedError("bit depths beyond 8 unsupported")
        br.flag()                    # qpprime_y_zero_transform_bypass
        if br.flag():
            raise NotImplementedError(
                "seq_scaling_matrix_present (non-flat scaling lists) "
                "unsupported")
    elif profile in (110, 122, 244, 44, 83, 86, 118, 128):
        raise NotImplementedError(
            f"High/extended profile {profile} (chroma_format_idc, "
            "scaling matrices, bit depths) unsupported")
    log2_max_frame_num = br.ue() + 4
    poc_type = br.ue()
    if poc_type == 0:
        log2_max_poc_lsb = br.ue() + 4
    elif poc_type == 1:
        raise NotImplementedError("pic_order_cnt_type 1 unsupported")
    else:
        log2_max_poc_lsb = 0
    br.ue()                                   # max_num_ref_frames
    br.flag()                                 # gaps_in_frame_num
    w_mbs = br.ue() + 1
    h_map = br.ue() + 1
    frame_mbs_only = br.flag()
    if not frame_mbs_only:
        raise NotImplementedError("interlaced (fields/MBAFF) unsupported")
    br.flag()                                 # direct_8x8_inference
    crop = [0, 0, 0, 0]
    if br.flag():
        crop = [br.ue(), br.ue(), br.ue(), br.ue()]
    br.flag()                                 # vui_parameters_present
    return {"sps_id": sps_id, "profile": profile, "level": level,
            "log2_max_frame_num": log2_max_frame_num,
            "poc_type": poc_type, "log2_max_poc_lsb": log2_max_poc_lsb,
            "w_mbs": w_mbs, "h_mbs": h_map, "crop": crop}


def _parse_pps(br: _Bits) -> dict:
    pps_id = br.ue()
    sps_id = br.ue()
    if br.flag():                             # entropy_coding_mode_flag
        raise NotImplementedError(
            "CABAC (entropy_coding_mode_flag = 1) unsupported: only "
            "CAVLC streams decode")
    bottom_field_poc = br.flag()
    if br.ue() != 0:
        raise NotImplementedError("multiple slice groups (FMO) unsupported")
    num_ref_idx_l0 = br.ue()                  # num_ref_idx_l0_default
    br.ue()                                   # num_ref_idx_l1_default
    weighted_pred = bool(br.flag())           # weighted_pred_flag
    weighted_bipred = br.u(2)
    if weighted_bipred == 3:
        raise ValueError("weighted_bipred_idc out of range")
    qp = 26 + br.se()                         # pic_init_qp
    br.se()                                   # pic_init_qs
    chroma_qp_off = br.se()
    deblock_ctrl = br.flag()
    constrained_intra = br.flag()
    br.flag()                                 # redundant_pic_cnt_present
    if br.more_rbsp_data():                   # High-profile extension
        if br.flag():                         # transform_8x8_mode_flag
            raise NotImplementedError(
                "8x8 transform (transform_8x8_mode_flag = 1) "
                "unsupported: only 4x4-transform CAVLC streams decode")
        if br.flag():
            raise NotImplementedError(
                "pic_scaling_matrix_present (non-flat scaling "
                "lists) unsupported")
        if br.se() != chroma_qp_off:
            raise NotImplementedError(
                "second_chroma_qp_index_offset != "
                "chroma_qp_index_offset unsupported (shared Cb/Cr "
                "qp offset only)")
    return {"pps_id": pps_id, "sps_id": sps_id,
            "init_qp": qp, "chroma_qp_off": chroma_qp_off,
            "deblock_ctrl": deblock_ctrl,
            "constrained_intra": constrained_intra,
            "bottom_field_poc": bottom_field_poc,
            "num_ref_idx_l0": num_ref_idx_l0,
            "weighted_pred": weighted_pred,
            "weighted_bipred": weighted_bipred}


def _parse_pred_weight_table(br: _Bits, is_b: bool) -> dict:
    """pred_weight_table (7.3.5.1, one reference per list): log2
    denominators + per-list (luma, Cb, Cr) (weight, offset) pairs,
    defaulting to (1 << denom, 0) when the per-list flag is 0."""
    ly = br.ue()
    lc = br.ue()
    if ly > 7 or lc > 7:
        raise ValueError("log2_weight_denom out of range")

    def one_list():
        if br.flag():                # luma_weight_lX_flag
            wy, oy = br.se(), br.se()
        else:
            wy, oy = 1 << ly, 0
        if br.flag():                # chroma_weight_lX_flag
            wcb, ocb = br.se(), br.se()
            wcr, ocr = br.se(), br.se()
        else:
            wcb = wcr = 1 << lc
            ocb = ocr = 0
        for v in (wy, oy, wcb, ocb, wcr, ocr):
            if not -128 <= v <= 127:
                raise ValueError("weight/offset out of range")
        return ((wy, oy), (wcb, ocb), (wcr, ocr))

    l0 = one_list()
    l1 = one_list() if is_b else None
    return {"ly": ly, "lc": lc, "l0": l0, "l1": l1}


def _write_pred_weight_table(bw: _BitW, weights: dict, is_b: bool):
    """Encoder twin of :func:`_parse_pred_weight_table`."""
    ly, lc = weights["ly"], weights["lc"]
    bw.ue(ly)
    bw.ue(lc)
    for key in (("l0", "l1") if is_b else ("l0",)):
        (wy, oy), (wcb, ocb), (wcr, ocr) = weights[key]
        lf = (wy, oy) != (1 << ly, 0)
        bw.u(1 if lf else 0, 1)
        if lf:
            bw.se(wy)
            bw.se(oy)
        cf = ((wcb, ocb) != (1 << lc, 0)
              or (wcr, ocr) != (1 << lc, 0))
        bw.u(1 if cf else 0, 1)
        if cf:
            bw.se(wcb)
            bw.se(ocb)
            bw.se(wcr)
            bw.se(ocr)


def _parse_slice_header(br: _Bits, sps: dict, pps: dict,
                        nal_ref_idc: int, is_idr: bool) -> dict:
    first_mb = br.ue()
    slice_type = br.ue()
    st5 = slice_type % 5
    if st5 not in (0, 1, 2):
        raise NotImplementedError(
            f"only I, P and B slices supported (slice_type "
            f"{slice_type})")
    if st5 in (0, 1) and is_idr:
        raise ValueError("inter slice in an IDR NAL unit")
    if st5 == 1:
        if sps["poc_type"] != 0:
            raise ValueError(
                "B slices require pic_order_cnt_type 0 (decoding "
                "order differs from output order)")
    br.ue()                                   # pic_parameter_set_id
    br.u(sps["log2_max_frame_num"])           # frame_num
    if is_idr:
        br.ue()                               # idr_pic_id
    poc_lsb = 0
    if sps["poc_type"] == 0:
        poc_lsb = br.u(sps["log2_max_poc_lsb"])
        if pps["bottom_field_poc"]:
            br.se()
    direct_spatial = True
    if st5 == 1:
        direct_spatial = bool(br.flag())      # direct_spatial_mv_pred
    if st5 in (0, 1):
        if br.flag():                         # num_ref_idx_override
            if br.ue() != 0 or (st5 == 1 and br.ue() != 0):
                raise NotImplementedError(
                    "inter decode supports one reference picture "
                    "per list (num_ref_idx_lX_active_minus1 must "
                    "be 0)")
        elif pps["num_ref_idx_l0"] != 0:
            raise NotImplementedError(
                "inter decode supports one reference picture (PPS "
                "num_ref_idx_l0_default_active_minus1 must be 0)")
        if br.flag():                         # ref_pic_list_mod_l0
            raise NotImplementedError(
                "reference picture list modification unsupported")
        if st5 == 1 and br.flag():            # ref_pic_list_mod_l1
            raise NotImplementedError(
                "reference picture list modification unsupported")
    wp = None                        # weighted prediction (r8)
    if ((st5 == 0 and pps["weighted_pred"])
            or (st5 == 1 and pps["weighted_bipred"] == 1)):
        wp = _parse_pred_weight_table(br, st5 == 1)
    elif st5 == 1 and pps["weighted_bipred"] == 2:
        wp = "implicit"              # weights derived from POCs
    if nal_ref_idc:
        if is_idr:
            br.flag()                         # no_output_of_prior_pics
            br.flag()                         # long_term_reference_flag
        elif br.flag():                       # adaptive_ref_pic_marking
            raise NotImplementedError(
                "adaptive reference picture marking unsupported")
    qp = pps["init_qp"] + br.se()
    if pps["deblock_ctrl"]:
        if br.ue() != 1:
            raise NotImplementedError(
                "in-loop deblocking filter not implemented; stream "
                "must signal disable_deblocking_filter_idc == 1")
    else:
        raise NotImplementedError(
            "stream may enable deblocking (PPS lacks "
            "deblocking_filter_control_present_flag); decoder only "
            "supports streams that disable the loop filter")
    return {"first_mb": first_mb, "qp": qp, "slice_type": st5,
            "poc_lsb": poc_lsb, "direct_spatial": direct_spatial,
            "wp": wp}


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _clip255(x):
    return np.clip(x, 0, 255)


class _MBState:
    """Per-MB bookkeeping for prediction/CAVLC context."""

    __slots__ = ("nnz_l", "nnz_c", "i4_modes", "intra16")

    def __init__(self):
        self.nnz_l = np.zeros(16, dtype=np.int64)   # per luma 4x4 blk
        self.nnz_c = np.zeros((2, 4), dtype=np.int64)  # per chroma 4x4
        self.i4_modes = np.full(16, 2, dtype=np.int64)
        self.intra16 = False


def _luma_nc(states, mbx, mby, mbs_w, blk: int) -> int:
    """CAVLC nC for a luma 4x4 block (9.2.1): mean of left/top
    neighbours' totalCoeff."""
    x4, y4 = _BLK_POS[blk]

    def at(gx, gy):
        mx, my = gx >> 2, gy >> 2
        if mx < 0 or my < 0 or mx >= mbs_w:
            return None
        st = states.get((mx, my))
        if st is None:
            return None
        lx, ly = gx & 3, gy & 3
        return int(st.nnz_l[_BLK_POS.index((lx, ly))])

    gx, gy = mbx * 4 + x4, mby * 4 + y4
    na = at(gx - 1, gy)
    nb = at(gx, gy - 1)
    if na is not None and nb is not None:
        return (na + nb + 1) >> 1
    if na is not None:
        return na
    if nb is not None:
        return nb
    return 0


def _chroma_nc(states, mbx, mby, mbs_w, ci: int, blk: int) -> int:
    x2, y2 = blk & 1, blk >> 1

    def at(gx, gy):
        mx, my = gx >> 1, gy >> 1
        if mx < 0 or my < 0 or mx >= mbs_w:
            return None
        st = states.get((mx, my))
        if st is None:
            return None
        return int(st.nnz_c[ci][(gy & 1) * 2 + (gx & 1)])

    gx, gy = mbx * 2 + x2, mby * 2 + y2
    na = at(gx - 1, gy)
    nb = at(gx, gy - 1)
    if na is not None and nb is not None:
        return (na + nb + 1) >> 1
    if na is not None:
        return na
    if nb is not None:
        return nb
    return 0


def h264_decode_gop_planes(payload: bytes):
    """Decode an Annex-B H.264 stream (SPS + PPS + an IDR access unit
    followed by zero or more P access units, CAVLC) to a list of
    uncropped (Y, Cb, Cr) int64 frame planes plus the SPS crop
    window. A slice whose first_mb_in_slice is 0 starts a new frame;
    P slices (r7) predict from the previous completed frame (one
    reference, P_L0_16x16 / P_Skip / intra-in-P macroblocks,
    quarter-pel motion compensation)."""
    sps = pps = None
    slices = []
    for nal_type, ref_idc, rbsp in _split_annexb(payload):
        if nal_type == 7:
            sps = _parse_sps(_Bits(rbsp))
        elif nal_type == 8:
            pps = _parse_pps(_Bits(rbsp))
        elif nal_type in (1, 5):
            if nal_type == 5 and ref_idc == 0:
                raise ValueError("IDR NAL with nal_ref_idc 0")
            slices.append((rbsp, ref_idc, nal_type == 5))
        # SEI (6), AUD (9), filler (12): ignored
    if sps is None or pps is None or not slices:
        raise ValueError("stream lacks SPS, PPS or a coded slice")
    mbs_w, mbs_h = sps["w_mbs"], sps["h_mbs"]
    n_mbs = mbs_w * mbs_h
    if n_mbs > 1 << 20:
        raise ValueError("implausible frame dimensions")
    # plausibility caps (the media ingestion contract): an I-slice
    # macroblock costs several bits minimum, so the FIRST frame is
    # bounded by the payload; P frames can legitimately be a few
    # bytes (one skip run covers the frame), so the GOP is bounded
    # by total decoded pixels instead
    if n_mbs > 8 * len(payload):
        raise ValueError("frame dimensions implausible for payload size")
    if n_mbs * len(slices) > 1 << 22:
        raise ValueError("implausible GOP size for frame dimensions")
    W, H = mbs_w * 16, mbs_h * 16
    frames: list = []                # [(sort_key, planes)]
    cur = None                       # (Y, Cb, Cr, states, mvs)
    cur_is_ref = True                # nal_ref_idc of the current frame
    cur_key = (0, 0)                 # (idr_era, poc)
    ref = None                       # most recent completed REFERENCE
    refs: list = []                  # DPB: [(poc, planes)], era-local
    era = -1                         # IDR counter (POC restarts there)
    seq = 0                          # decode index (poc_type 2 key)
    n_decoded = 0

    def finish():
        nonlocal cur, ref, n_decoded
        if cur is None:
            return
        if n_decoded != n_mbs:
            raise ValueError(
                f"decoded {n_decoded} of {n_mbs} macroblocks")
        frames.append((cur_key, cur[:3]))
        if cur_is_ref:  # non-reference frames never enter the DPB
            ref = cur[:3]
            # keep the frame's L0 motion: spatial-direct B MBs need
            # the colocated motion of their L1 reference (8.4.1.2.2)
            refs.append((cur_key[1], cur[:3], dict(cur[4]["l0"])))
            del refs[:-16]
        cur = None

    for rbsp, nal_ref_idc, is_idr in slices:
        br = _Bits(rbsp)
        sh = _parse_slice_header(br, sps, pps, nal_ref_idc, is_idr)
        if sh["first_mb"] == 0:
            finish()
            cur = (np.zeros((H, W), dtype=np.int64),
                   np.full((H // 2, W // 2), 128, dtype=np.int64),
                   np.full((H // 2, W // 2), 128, dtype=np.int64),
                   {}, {"l0": {}, "l1": {}})
            cur_is_ref = nal_ref_idc != 0
            n_decoded = 0
            if is_idr:               # IDR clears the DPB, POC restarts
                era += 1
                refs.clear()
            poc = sh["poc_lsb"] if sps["poc_type"] == 0 else seq
            cur_key = (era, poc)
            seq += 1
        elif cur is None:
            raise ValueError("slice continues a frame never started")
        Y, Cb, Cr, states, mvs = cur
        mv_map = mvs["l0"]
        if sh["slice_type"] == 0 and ref is None:
            raise ValueError("P slice without a reference frame")
        ref0 = ref1 = col_mvs = temporal = wp = None
        if sh["wp"] is not None and sh["wp"] != "implicit":
            wp = _WPred(table=sh["wp"])      # explicit WP (r8)
        if sh["slice_type"] == 1:    # B: nearest refs by output order
            below = [r for r in refs if r[0] < cur_key[1]]
            above = [r for r in refs if r[0] > cur_key[1]]
            if not below or not above:
                raise ValueError(
                    "B slice lacks a past or future reference frame")
            past = max(below, key=lambda r: r[0])
            fut = min(above, key=lambda r: r[0])
            ref0 = past[1]
            ref1, col_mvs = fut[1], fut[2]
            if not sh["direct_spatial"]:     # temporal direct (r8)
                temporal = (cur_key[1] - past[0], fut[0] - past[0])
            if sh["wp"] == "implicit":       # implicit bipred (r8)
                wp = _WPred(implicit=_implicit_bi_weights(
                    cur_key[1] - past[0], fut[0] - past[0]))
        qp = sh["qp"]
        addr = sh["first_mb"]

        def step(addr):
            if addr >= n_mbs:
                raise ValueError("slice overruns the frame's MB count")
            return addr % mbs_w, addr // mbs_w

        if sh["slice_type"] == 2:                    # I slice, CAVLC
            while True:
                mbx, mby = step(addr)
                qp = _decode_mb(br, qp, pps, Y, Cb, Cr, states,
                                mbx, mby, mbs_w)
                mv_map[(mbx, mby)] = None            # intra
                n_decoded += 1
                addr += 1
                if not br.more_rbsp_data():
                    break
        elif sh["slice_type"] == 1:                  # B slice, CAVLC
            while True:
                skip_run = br.ue()
                for _ in range(skip_run):            # B_Skip: direct
                    mbx, mby = step(addr)
                    _decode_mb_b_skip(ref0, ref1, col_mvs, Y, Cb, Cr,
                                      states, mvs, mbx, mby, mbs_w,
                                      temporal, wp)
                    n_decoded += 1
                    addr += 1
                if not br.more_rbsp_data():
                    break
                mbx, mby = step(addr)
                qp = _decode_mb_b(br, qp, pps, ref0, ref1, col_mvs,
                                  Y, Cb, Cr, states, mvs, mbx, mby,
                                  mbs_w, temporal, wp)
                n_decoded += 1
                addr += 1
                if not br.more_rbsp_data():
                    break
        else:                                        # P slice
            while True:
                skip_run = br.ue()
                for _ in range(skip_run):
                    mbx, mby = step(addr)
                    _decode_mb_p_skip(ref, Y, Cb, Cr, states, mv_map,
                                      mbx, mby, mbs_w, wp)
                    n_decoded += 1
                    addr += 1
                if not br.more_rbsp_data():
                    break
                mbx, mby = step(addr)
                qp = _decode_mb_p(br, qp, pps, ref, Y, Cb, Cr, states,
                                  mv_map, mbx, mby, mbs_w, wp)
                n_decoded += 1
                addr += 1
                if not br.more_rbsp_data():
                    break
    finish()
    if not frames:
        raise ValueError("no complete frame decoded")
    # output order: decode order under poc_type 2 (seq keys), POC
    # order within each IDR era under poc_type 0 (B reordering)
    frames.sort(key=lambda f: f[0])
    return [f[1] for f in frames], sps["crop"]


def h264_decode_planes(payload: bytes):
    """Decode an Annex-B H.264 access unit to uncropped (Y, Cb, Cr)
    int64 planes plus the SPS crop window — the raw reconstruction a
    conformant decoder produces. Single-frame form of
    :func:`h264_decode_gop_planes` (a stand-alone sample: SPS + PPS +
    one IDR access unit)."""
    frames, crop = h264_decode_gop_planes(payload)
    if len(frames) != 1:
        raise ValueError(
            f"expected one access unit, stream holds {len(frames)}")
    Y, Cb, Cr = frames[0]
    return Y, Cb, Cr, crop


def _planes_to_rgb(Y, Cb, Cr, crop) -> np.ndarray:
    H, W = Y.shape
    cl, cr_, ct, cb_ = crop
    x0, x1 = 2 * cl, W - 2 * cr_
    y0, y1 = 2 * ct, H - 2 * cb_
    if x1 <= x0 or y1 <= y0:
        raise ValueError("frame cropping removes every sample")
    y = Y[y0:y1, x0:x1]
    cb = Cb.repeat(2, 0).repeat(2, 1)[y0:y1, x0:x1] - 128
    cr = Cr.repeat(2, 0).repeat(2, 1)[y0:y1, x0:x1] - 128
    out = np.empty((y.shape[0], y.shape[1], 3), dtype=np.float64)
    out[:, :, 0] = y + 1.402 * cr
    out[:, :, 1] = y - 0.344136 * cb - 0.714136 * cr
    out[:, :, 2] = y + 1.772 * cb
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def h264_decode(payload: bytes) -> np.ndarray:
    """Decode an Annex-B H.264 access unit to (h, w, 3) uint8 RGB.

    Chroma (4:2:0) is upsampled by nearest-neighbour duplication and
    converted with the same JFIF-style formulas the JPEG path uses; a
    stream with neutral chroma (Cb=Cr=128) decodes to exact grey
    R=G=B=Y, which is what the oracle family relies on."""
    Y, Cb, Cr, crop = h264_decode_planes(payload)
    return _planes_to_rgb(Y, Cb, Cr, crop)


def h264_decode_gop(payload: bytes) -> list:
    """Decode an Annex-B H.264 GOP (IDR + following P access units)
    to a list of (h, w, 3) uint8 RGB frames."""
    frames, crop = h264_decode_gop_planes(payload)
    return [_planes_to_rgb(Y, Cb, Cr, crop) for Y, Cb, Cr in frames]


# ---------------------------------------------------------------------------
# inter prediction (r7: P slices — one reference, 16x16 partitions)
# ---------------------------------------------------------------------------

# coded_block_pattern mapping for Inter macroblocks (Table 9-4,
# Inter column; the Intra column is _CBP_INTRA above)
_CBP_INTER = [0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
              14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43,
              45, 46, 17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30,
              22, 25, 38, 41]


def _mc_luma(refY: np.ndarray, x0: int, y0: int, mvx: int, mvy: int,
             size=16) -> np.ndarray:
    """Quarter-pel luma motion compensation (8.4.2.2.1): 6-tap
    (1,-5,20,20,-5,1) half-pel filtering, bilinear quarter-pel
    averaging, edge samples clamped (unrestricted MV padding).
    ``size`` is the square side or an (h, w) partition shape."""
    sh, sw = (size, size) if isinstance(size, int) else size
    H, W = refY.shape
    ix, fx = x0 + (mvx >> 2), mvx & 3
    iy, fy = y0 + (mvy >> 2), mvy & 3
    if fx == 0 and fy == 0:
        # full-pel: gather only the target window (the filter margin
        # rows/cols would be sliced away unread)
        ys = np.arange(iy, iy + sh).clip(0, H - 1)
        xs = np.arange(ix, ix + sw).clip(0, W - 1)
        return refY[ys[:, None], xs]
    ys = np.clip(np.arange(iy - 2, iy + sh + 3), 0, H - 1)
    xs = np.clip(np.arange(ix - 2, ix + sw + 3), 0, W - 1)
    w = refY[np.ix_(ys, xs)]                       # (sh+5, sw+5)

    def tap6(a, axis):
        sl = [slice(None)] * a.ndim

        def part(i):
            s = list(sl)
            s[axis] = slice(i, i + a.shape[axis] - 5)
            return a[tuple(s)]
        return (part(0) - 5 * part(1) + 20 * part(2) + 20 * part(3)
                - 5 * part(4) + part(5))

    G = w[2:2 + sh, 2:2 + sw]
    Hr = w[2:2 + sh, 3:3 + sw]                     # right integer
    Md = w[3:3 + sh, 2:2 + sw]                     # below integer
    b1 = tap6(w, 1)                                # (sh+5, sw)
    b_full = np.clip((b1 + 16) >> 5, 0, 255)
    b = b_full[2:2 + sh]
    s_ = b_full[3:3 + sh]
    h1 = tap6(w, 0)                                # (sh, sw+5)
    h_full = np.clip((h1 + 16) >> 5, 0, 255)
    hh = h_full[:, 2:2 + sw]
    m = h_full[:, 3:3 + sw]
    j = np.clip((tap6(b1, 0) + 512) >> 10, 0, 255)  # (size, size)

    table = {
        (1, 0): (G + b + 1) >> 1,
        (2, 0): b,
        (3, 0): (Hr + b + 1) >> 1,
        (0, 1): (G + hh + 1) >> 1,
        (0, 2): hh,
        (0, 3): (Md + hh + 1) >> 1,
        (1, 1): (b + hh + 1) >> 1,
        (3, 1): (b + m + 1) >> 1,
        (1, 3): (s_ + hh + 1) >> 1,
        (3, 3): (s_ + m + 1) >> 1,
        (2, 1): (b + j + 1) >> 1,
        (2, 3): (s_ + j + 1) >> 1,
        (1, 2): (hh + j + 1) >> 1,
        (3, 2): (m + j + 1) >> 1,
        (2, 2): j,
    }
    return table[(fx, fy)]


def _mc_chroma(refC: np.ndarray, cx0: int, cy0: int, mvx: int,
               mvy: int, size=8) -> np.ndarray:
    """Eighth-pel chroma bilinear interpolation (8.4.2.2.2); the
    luma MV applies directly (chroma plane is half-resolution, so
    quarter-pel luma units are eighth-pel chroma units). ``size`` is
    the square side or an (h, w) chroma partition shape."""
    sh, sw = (size, size) if isinstance(size, int) else size
    H, W = refC.shape
    ix, fx = cx0 + (mvx >> 3), mvx & 7
    iy, fy = cy0 + (mvy >> 3), mvy & 7
    if fx == 0 and fy == 0:
        # integer chroma position: the blend is (64*A + 32) >> 6 == A
        ys = np.arange(iy, iy + sh).clip(0, H - 1)
        xs = np.arange(ix, ix + sw).clip(0, W - 1)
        return refC[ys[:, None], xs]
    ys = np.clip(np.arange(iy, iy + sh + 1), 0, H - 1)
    xs = np.clip(np.arange(ix, ix + sw + 1), 0, W - 1)
    w = refC[np.ix_(ys, xs)]                       # (sh+1, sw+1)
    A = w[:sh, :sw]
    B = w[:sh, 1:]
    C = w[1:, :sw]
    D = w[1:, 1:]
    return ((8 - fx) * (8 - fy) * A + fx * (8 - fy) * B
            + (8 - fx) * fy * C + fx * fy * D + 32) >> 6


class _PartMvs:
    """Per-4x4-block motion field of one PARTITIONED inter MB (one
    reference list). Cells fill as partitions decode, so a later
    partition of the same MB sees its earlier siblings as neighbours
    (8.4.1.3.2 decode-order availability) while unfilled cells read
    as unavailable."""

    __slots__ = ("mv",)

    def __init__(self):
        self.mv = [[None] * 4 for _ in range(4)]

    def fill(self, i0: int, j0: int, w4: int, h4: int, mv):
        for j in range(j0, j0 + h4):
            for i in range(i0, i0 + w4):
                self.mv[j][i] = mv

    def at(self, i: int, j: int):
        return self.mv[j][i]

    def __eq__(self, other):                  # mv_map equality in tests
        return isinstance(other, _PartMvs) and self.mv == other.mv

    def __hash__(self):
        return hash(tuple(map(tuple, self.mv)))


def _blk_mv(mv_map, bx, by, mbs_w):
    """MV of the 4x4 luma block (bx, by) in global block units:
    None = unavailable (outside / not yet decoded), 'intra' =
    available intra MB, (x, y) = inter MV. mv_map stays keyed by MB
    with values None (intra) | (x, y) (uniform 16x16) | _PartMvs."""
    if bx < 0 or by < 0 or bx >= mbs_w * 4:
        return None
    v = mv_map.get((bx >> 2, by >> 2), _blk_mv)   # sentinel: absent
    if v is _blk_mv:
        return None
    if v is None:
        return "intra"
    if isinstance(v, _PartMvs):
        return v.at(bx & 3, by & 3)
    return v


def _part_neighbors(mv_map, bx0, by0, w4, mbs_w):
    """(A, B, C) neighbour MVs of the partition whose top-left 4x4
    block is (bx0, by0) and width is ``w4`` blocks (8.4.1.3.2): A
    left, B above, C above-right with the D (above-left) fallback.
    None = unavailable, 'intra' = available intra, (x, y) = MV."""
    a = _blk_mv(mv_map, bx0 - 1, by0, mbs_w)
    b = _blk_mv(mv_map, bx0, by0 - 1, mbs_w)
    c = _blk_mv(mv_map, bx0 + w4, by0 - 1, mbs_w)
    if c is None:
        c = _blk_mv(mv_map, bx0 - 1, by0 - 1, mbs_w)   # D fallback
    return a, b, c


def _mv_neighbors(mv_map, mbx, mby, mbs_w):
    """(A, B, C) neighbour MVs of the MB's 16x16 partition."""
    return _part_neighbors(mv_map, mbx * 4, mby * 4, 4, mbs_w)


def _mv_pred_part(mv_map, bx0, by0, w4, mbs_w, rule=None):
    """MV predictor for the partition at block (bx0, by0), width
    ``w4`` (8.4.1.3). ``rule`` carries the 16x8/8x16 directional
    shortcut ('A'/'B'/'C' = use that neighbour when it codes the
    same reference — always refIdx 0 here); None = pure median
    (8.4.1.3.1 incl. its A-only and exactly-one-inter early
    exits)."""
    a, b, c = _part_neighbors(mv_map, bx0, by0, w4, mbs_w)
    if rule is not None:
        n = {"A": a, "B": b, "C": c}[rule]
        if n not in (None, "intra"):
            return n
    if b is None and c is None:
        if a is None or a == "intra":
            return 0, 0
        return a
    inter = [v for v in (a, b, c) if v not in (None, "intra")]
    if len(inter) == 1:
        return inter[0]
    mvs = [(0, 0) if v in (None, "intra") else v for v in (a, b, c)]
    xs = sorted(v[0] for v in mvs)
    ys = sorted(v[1] for v in mvs)
    return xs[1], ys[1]


def _mv_pred_16x16(mv_map, mbx, mby, mbs_w):
    """Median MV predictor for a 16x16 partition (8.4.1.3)."""
    return _mv_pred_part(mv_map, mbx * 4, mby * 4, 4, mbs_w)


def _mv_pred_skip(mv_map, mbx, mby, mbs_w):
    """P_Skip MV (8.4.1.1): zero when the A/B neighbour block is
    missing or is a zero-MV ref-0 block, else the median predictor
    (an intra neighbour is AVAILABLE with refIdx -1, so it falls
    through to the median)."""
    a = _blk_mv(mv_map, mbx * 4 - 1, mby * 4, mbs_w)
    b = _blk_mv(mv_map, mbx * 4, mby * 4 - 1, mbs_w)
    if a is None or b is None or a == (0, 0) or b == (0, 0):
        return 0, 0
    return _mv_pred_16x16(mv_map, mbx, mby, mbs_w)


def _col_corner_mvs(col_mv):
    """Per-8x8-quadrant colocated corner MVs (direct_8x8_inference:
    each quadrant reads its outer-corner 4x4 block of the colocated
    MB): a row-major 2x2 grid of None (intra col MB) or (x, y)."""
    if isinstance(col_mv, _PartMvs):
        return [[col_mv.at(3 * qx, 3 * qy) for qx in (0, 1)]
                for qy in (0, 1)]
    return [[col_mv, col_mv], [col_mv, col_mv]]


def _mv_entry_from_grid(q):
    """mv_map entry for a per-quadrant MV grid: the plain tuple when
    uniform (the common case), else a _PartMvs field."""
    if q[0][0] == q[0][1] == q[1][0] == q[1][1]:
        return q[0][0]
    pm = _PartMvs()
    for qy in (0, 1):
        for qx in (0, 1):
            pm.fill(qx * 2, qy * 2, 2, 2, q[qy][qx])
    return pm


def _direct_spatial_mv(mvs, col_mv, mbx, mby, mbs_w):
    """Spatial direct MV derivation (8.4.1.2.2; one reference per
    list). Returns (use_l0, use_l1, q_l0, q_l1) where q_lX is a
    row-major 2x2 per-8x8-quadrant MV grid (None when the list is
    unused). ``col_mv`` is the colocated MB's L0 motion in the L1
    reference: None for intra, (mvx, mvy) for a uniform ref-0 inter
    MB, or a _PartMvs field when the colocated MB was partitioned
    (r8) — the four direct_8x8_inference quadrants then evaluate
    colZeroFlag against their own colocated corner block.

    With one reference picture per list, refIdxLX = MinPositive over
    the A/B/C neighbours reduces to: 0 when any neighbour codes list
    X, else -1 (list unused). When both come out -1 the MB
    bi-predicts with zero MVs (directZeroPredictionFlag). colZeroFlag
    (the L1 reference is short-term — always here — the colocated
    block is inter with refIdx 0 and both |mvCol| components <= 1 in
    quarter-pel units) zeroes the quadrant's MV; otherwise the
    standard 16x16 median predictor (8.4.1.3) supplies it."""
    use_l0 = any(v not in (None, "intra") for v in
                 _mv_neighbors(mvs["l0"], mbx, mby, mbs_w))
    use_l1 = any(v not in (None, "intra") for v in
                 _mv_neighbors(mvs["l1"], mbx, mby, mbs_w))
    zero = [[(0, 0), (0, 0)], [(0, 0), (0, 0)]]
    if not use_l0 and not use_l1:
        return True, True, zero, [row[:] for row in zero]
    corners = _col_corner_mvs(col_mv)

    def grid(med):
        return [[(0, 0) if (c is not None and abs(c[0]) <= 1
                            and abs(c[1]) <= 1) else med
                 for c in row] for row in corners]

    q_l0 = q_l1 = None
    if use_l0:
        q_l0 = grid(_mv_pred_16x16(mvs["l0"], mbx, mby, mbs_w))
    if use_l1:
        q_l1 = grid(_mv_pred_16x16(mvs["l1"], mbx, mby, mbs_w))
    return use_l0, use_l1, q_l0, q_l1


def _mc_predict_mb(ref, mbx, mby, mvx, mvy):
    predY = _mc_luma(ref[0], mbx * 16, mby * 16, mvx, mvy, 16)
    predCb = _mc_chroma(ref[1], mbx * 8, mby * 8, mvx, mvy, 8)
    predCr = _mc_chroma(ref[2], mbx * 8, mby * 8, mvx, mvy, 8)
    return predY, predCb, predCr


class _WPred:
    """Resolved weighted-prediction context for one inter slice
    (8.4.2.3, one reference per list). ``table`` is the parsed
    pred_weight_table for EXPLICIT mode; ``implicit`` the (w0, w1)
    POC-derived pair for implicit B biprediction (logWD 5, zero
    offsets — single-list predictions stay unweighted there)."""

    __slots__ = ("table", "implicit")

    def __init__(self, table=None, implicit=None):
        self.table = table
        self.implicit = implicit

    def single(self, planes, li: int):
        """Weight a single-list (y, cb, cr) prediction (8.4.2.3.2)."""
        t = self.table
        if t is None:                # implicit: unweighted
            return planes
        ws = t["l0"] if li == 0 else t["l1"]
        out = []
        for p, ld, (w, o) in zip(planes, (t["ly"], t["lc"], t["lc"]),
                                 ws):
            if ld:
                q = ((p * w + (1 << (ld - 1))) >> ld) + o
            else:
                q = p * w + o
            out.append(np.clip(q, 0, 255))
        return tuple(out)

    def bi(self, p0, p1):
        """Combine two (y, cb, cr) predictions (8.4.2.3.2 explicit /
        8.4.2.3.1 implicit)."""
        if self.table is None:
            w0, w1 = self.implicit
            return tuple(np.clip((a * w0 + b * w1 + 32) >> 6, 0, 255)
                         for a, b in zip(p0, p1))
        t = self.table
        out = []
        for a, b, ld, (w0, o0), (w1, o1) in zip(
                p0, p1, (t["ly"], t["lc"], t["lc"]), t["l0"],
                t["l1"]):
            q = (((a * w0 + b * w1 + (1 << ld)) >> (ld + 1))
                 + ((o0 + o1 + 1) >> 1))
            out.append(np.clip(q, 0, 255))
        return tuple(out)


def _wp_single(planes, wp, li: int):
    return planes if wp is None else wp.single(planes, li)


def _wp_bi(p0, p1, wp):
    if wp is None:                   # default (non-weighted) average
        return tuple((a + b + 1) >> 1 for a, b in zip(p0, p1))
    return wp.bi(p0, p1)


def _implicit_bi_weights(tb: int, td: int):
    """Implicit-mode (w0, w1) from POC distances (8.4.2.3.1): w1 =
    DistScaleFactor >> 2, falling back to 32/32 outside the legal
    range or at zero distance."""
    if td == 0:
        return 32, 32
    tb = min(max(tb, -128), 127)
    td = min(max(td, -128), 127)
    tx = _idiv(16384 + abs(_idiv(td, 2)), td)
    w1 = min(max((tb * tx + 32) >> 6, -1024), 1023) >> 2
    if not -64 <= w1 <= 128:
        return 32, 32
    return 64 - w1, w1


# P macroblock partition geometry (Table 7-13): mb_type 1 = two
# 16x8 rows, 2 = two 8x16 columns, each with its 8.4.1.3 directional
# MV-predictor rule; 3/4 = P_8x8 (ref0 variant identical with one
# reference) whose per-quadrant sub_mb_type (Table 7-17) picks the
# sub-partition split (median prediction only)
_P_MB_PARTS = {1: (((0, 0, 16, 8), "B"), ((0, 8, 16, 8), "A")),
               2: (((0, 0, 8, 16), "A"), ((8, 0, 8, 16), "C"))}
_P_SUB_PARTS = (
    ((0, 0, 8, 8),),                                    # P_L0_8x8
    ((0, 0, 8, 4), (0, 4, 8, 4)),                       # P_L0_8x4
    ((0, 0, 4, 8), (4, 0, 4, 8)),                       # P_L0_4x8
    ((0, 0, 4, 4), (4, 0, 4, 4), (0, 4, 4, 4),
     (4, 4, 4, 4)),                                     # P_L0_4x4
)


def _p_partitions(mb_type: int, sub_types=None):
    """Yield (ox, oy, w, h, rule) luma partitions of one P MB in
    decode order. ``sub_types`` is the four sub_mb_type values for
    mb_type 3/4 (quadrants in raster order)."""
    if mb_type in (1, 2):
        for geom, rule in _P_MB_PARTS[mb_type]:
            yield (*geom, rule)
        return
    for q, stype in enumerate(sub_types):
        qx, qy = (q & 1) * 8, (q >> 1) * 8
        for dx, dy, w, h in _P_SUB_PARTS[stype]:
            yield qx + dx, qy + dy, w, h, None


# B macroblock two-partition types (Table 7-14, 4..21): partition
# shape (the _P_MB_PARTS key: 1 = 16x8, 2 = 8x16) + each partition's
# prediction mode. B_8x8 (22) stays rejected.
_B_PART_MODES = {
    4: (1, "l0", "l0"), 5: (2, "l0", "l0"),
    6: (1, "l1", "l1"), 7: (2, "l1", "l1"),
    8: (1, "l0", "l1"), 9: (2, "l0", "l1"),
    10: (1, "l1", "l0"), 11: (2, "l1", "l0"),
    12: (1, "l0", "bi"), 13: (2, "l0", "bi"),
    14: (1, "l1", "bi"), 15: (2, "l1", "bi"),
    16: (1, "bi", "l0"), 17: (2, "bi", "l0"),
    18: (1, "bi", "l1"), 19: (2, "bi", "l1"),
    20: (1, "bi", "bi"), 21: (2, "bi", "bi"),
}
_B_PART_TYPE = {(s, m0, m1): t for t, (s, m0, m1)
                in _B_PART_MODES.items()}


def _code_b_partitions(code_mvd, mb_type, mvs, ref0, ref1, mbx, mby,
                       mbs_w, wp=None):
    """Shared body of a two-partition B macroblock (16x8/8x16,
    mb_types 4..21) for BOTH directions:
    ``code_mvd(li, idx, bx0, by0, w4, h4, mvp) -> (mvx, mvy)``
    either decodes an mvd and returns mvp+mvd, or emits target-mvp
    and returns the target (``idx`` is the partition index). Syntax order follows 7.3.5.1: ALL L0 mvds
    (partition order) before ALL L1 mvds; a partition that does not
    use a list records 'intra' cells (available, refIdx -1) in that
    list's 4x4 field so in-MB neighbours predict per 8.4.1.3.
    Returns the (predY, predCb, predCr) planes, or None when called
    without references (encoder side)."""
    shape, m0, m1 = _B_PART_MODES[mb_type]
    parts = _P_MB_PARTS[shape]
    modes = (m0, m1)
    pms = {"l0": _PartMvs(), "l1": _PartMvs()}
    mvs["l0"][(mbx, mby)] = pms["l0"]
    mvs["l1"][(mbx, mby)] = pms["l1"]
    part_mvs = [[None, None], [None, None]]      # [list][partIdx]
    for li, lst in enumerate(("l0", "l1")):
        for idx, ((ox, oy, w, h), rule) in enumerate(parts):
            if modes[idx] not in (lst, "bi"):
                pms[lst].fill(ox // 4, oy // 4, w // 4, h // 4,
                              "intra")
                continue
            bx0, by0 = mbx * 4 + ox // 4, mby * 4 + oy // 4
            mvp = _mv_pred_part(mvs[lst], bx0, by0, w // 4, mbs_w,
                                rule)
            mvx, mvy = code_mvd(li, idx, bx0, by0, w // 4, h // 4,
                                mvp)
            if abs(mvx) > 1 << 14 or abs(mvy) > 1 << 14:
                raise ValueError("implausible motion vector")
            pms[lst].fill(ox // 4, oy // 4, w // 4, h // 4,
                          (mvx, mvy))
            part_mvs[li][idx] = (mvx, mvy)
    if ref0 is None and ref1 is None:            # encoder side
        return None
    predY = np.empty((16, 16), dtype=np.int64)
    predCb = np.empty((8, 8), dtype=np.int64)
    predCr = np.empty((8, 8), dtype=np.int64)
    for idx, ((ox, oy, w, h), _rule) in enumerate(parts):
        preds = []
        for li, refp in ((0, ref0), (1, ref1)):
            mv = part_mvs[li][idx]
            if mv is None:
                continue
            if refp is None:
                raise ValueError(
                    "B macroblock without a reference frame")
            cx, cy, cw, ch = ox // 2, oy // 2, w // 2, h // 2
            preds.append((li, (
                _mc_luma(refp[0], mbx * 16 + ox, mby * 16 + oy,
                         mv[0], mv[1], (h, w)),
                _mc_chroma(refp[1], mbx * 8 + cx, mby * 8 + cy,
                           mv[0], mv[1], (ch, cw)),
                _mc_chroma(refp[2], mbx * 8 + cx, mby * 8 + cy,
                           mv[0], mv[1], (ch, cw)))))
        if len(preds) == 2:
            py, pcb, pcr = _wp_bi(preds[0][1], preds[1][1], wp)
        else:
            py, pcb, pcr = _wp_single(preds[0][1], wp, preds[0][0])
        predY[oy:oy + h, ox:ox + w] = py
        cx, cy, cw, ch = ox // 2, oy // 2, w // 2, h // 2
        predCb[cy:cy + ch, cx:cx + cw] = pcb
        predCr[cy:cy + ch, cx:cx + cw] = pcr
    return predY, predCb, predCr


# B_8x8 sub-macroblock types (Table 7-18): prediction mode + the
# _P_SUB_PARTS shape index. Type 0 (B_Direct_8x8) derives its motion
# from the MB-level direct derivation's quadrant grid.
_B_SUB_MODES = {
    1: ("l0", 0), 2: ("l1", 0), 3: ("bi", 0),
    4: ("l0", 1), 5: ("l0", 2), 6: ("l1", 1), 7: ("l1", 2),
    8: ("bi", 1), 9: ("bi", 2),
    10: ("l0", 3), 11: ("l1", 3), 12: ("bi", 3),
}
_B_SUB_TYPE = {(m, s): t for t, (m, s) in _B_SUB_MODES.items()}
_P_SUB_NAMES = {"8x8": 0, "8x4": 1, "4x8": 2, "4x4": 3}


def _b8x8_targets(subs):
    """Parse 'b8x8' quadrant specs: each entry ``('direct',)`` or
    ``(mode, shape, mv...)`` with mode 'l0'/'l1'/'bi', shape '8x8'/
    '8x4'/'4x8'/'4x4' and one MV tuple per sub-part ((x, y) for
    single-list modes, (x0, y0, x1, y1) for 'bi'). Returns
    (sub_types, targets) with targets[(li, q, pi)] = (mvx, mvy)."""
    sub_types, targets = [], {}
    for q, s in enumerate(subs):
        if s[0] == "direct":
            sub_types.append(0)
            continue
        mode, shp = s[0], _P_SUB_NAMES[s[1]]
        sub_types.append(_B_SUB_TYPE[(mode, shp)])
        parts = s[2:]
        if len(parts) != len(_P_SUB_PARTS[shp]):
            raise ValueError("sub-partition MV count mismatch")
        for pi, mv in enumerate(parts):
            if mode == "bi":
                targets[(0, q, pi)] = (int(mv[0]), int(mv[1]))
                targets[(1, q, pi)] = (int(mv[2]), int(mv[3]))
            elif mode == "l0":
                targets[(0, q, pi)] = (int(mv[0]), int(mv[1]))
            else:
                targets[(1, q, pi)] = (int(mv[0]), int(mv[1]))
    return sub_types, targets


def _code_b_8x8(code_mvd, sub_types, mvs, col_mvs, temporal, ref0,
                ref1, mbx, mby, mbs_w, wp=None):
    """Shared body of a B_8x8 macroblock (mb_type 22) for both
    directions. ``sub_types`` is the four
    Table 7-18 sub_mb_type values (quadrant raster order);
    ``code_mvd(li, q, pi, bx0, by0, w4, h4, mvp) -> (mvx, mvy)``
    decodes mvp+mvd or emits target-mvp and returns the target.
    Syntax order follows 7.3.5.2: ALL L0 mvds (quadrant, then
    sub-part order) before ALL L1 mvds; B_Direct_8x8 quadrants take
    the MB-level direct derivation's per-quadrant motion (spatial or
    temporal), and quadrants not using a list record 'intra' cells
    so in-MB neighbours predict per 8.4.1.3 with decode-order
    availability. Returns the prediction planes, or None when called
    without references (encoder side)."""
    if any(not 0 <= t <= 12 for t in sub_types):
        raise ValueError("invalid B sub_mb_type")
    pms = {"l0": _PartMvs(), "l1": _PartMvs()}
    direct = None
    if 0 in sub_types:               # MB-level direct derivation
        col_mv = col_mvs.get((mbx, mby)) if col_mvs else None
        if temporal is not None:
            direct = _direct_temporal_mv(col_mv, temporal[0],
                                         temporal[1])
        else:
            direct = _direct_spatial_mv(mvs, col_mv, mbx, mby,
                                        mbs_w)
    mvs["l0"][(mbx, mby)] = pms["l0"]
    mvs["l1"][(mbx, mby)] = pms["l1"]
    mv_grid = ({}, {})               # [list][(q, pi)] -> mv
    for li, lst in enumerate(("l0", "l1")):
        for q, t in enumerate(sub_types):
            qx, qy = (q & 1) * 2, (q >> 1) * 2   # 4x4-block units
            if t == 0:               # B_Direct_8x8
                use = direct[0] if li == 0 else direct[1]
                if not use:
                    pms[lst].fill(qx, qy, 2, 2, "intra")
                    continue
                grid = direct[2] if li == 0 else direct[3]
                mv = grid[q >> 1][q & 1]
                pms[lst].fill(qx, qy, 2, 2, mv)
                mv_grid[li][(q, 0)] = mv
                continue
            mode, shp = _B_SUB_MODES[t]
            if mode not in (lst, "bi"):
                pms[lst].fill(qx, qy, 2, 2, "intra")
                continue
            for pi, (dx, dy, w, h) in enumerate(_P_SUB_PARTS[shp]):
                ox, oy = (q & 1) * 8 + dx, (q >> 1) * 8 + dy
                bx0 = mbx * 4 + ox // 4
                by0 = mby * 4 + oy // 4
                mvp = _mv_pred_part(mvs[lst], bx0, by0, w // 4,
                                    mbs_w)
                mvx, mvy = code_mvd(li, q, pi, bx0, by0, w // 4,
                                    h // 4, mvp)
                if abs(mvx) > 1 << 14 or abs(mvy) > 1 << 14:
                    raise ValueError("implausible motion vector")
                pms[lst].fill(ox // 4, oy // 4, w // 4, h // 4,
                              (mvx, mvy))
                mv_grid[li][(q, pi)] = (mvx, mvy)
    if ref0 is None and ref1 is None:            # encoder side
        return None
    predY = np.empty((16, 16), dtype=np.int64)
    predCb = np.empty((8, 8), dtype=np.int64)
    predCr = np.empty((8, 8), dtype=np.int64)
    for q, t in enumerate(sub_types):
        parts = (((0, 0, 8, 8),) if t == 0
                 else _P_SUB_PARTS[_B_SUB_MODES[t][1]])
        for pi, (dx, dy, w, h) in enumerate(parts):
            ox, oy = (q & 1) * 8 + dx, (q >> 1) * 8 + dy
            cx, cy, cw, ch = ox // 2, oy // 2, w // 2, h // 2
            preds = []
            for li, refp in ((0, ref0), (1, ref1)):
                mv = mv_grid[li].get((q, pi))
                if mv is None:
                    continue
                if refp is None:
                    raise ValueError(
                        "B macroblock without a reference frame")
                preds.append((li, (
                    _mc_luma(refp[0], mbx * 16 + ox, mby * 16 + oy,
                             mv[0], mv[1], (h, w)),
                    _mc_chroma(refp[1], mbx * 8 + cx, mby * 8 + cy,
                               mv[0], mv[1], (ch, cw)),
                    _mc_chroma(refp[2], mbx * 8 + cx, mby * 8 + cy,
                               mv[0], mv[1], (ch, cw)))))
            if len(preds) == 2:
                py, pcb, pcr = _wp_bi(preds[0][1], preds[1][1], wp)
            else:
                py, pcb, pcr = _wp_single(preds[0][1], wp,
                                          preds[0][0])
            predY[oy:oy + h, ox:ox + w] = py
            predCb[cy:cy + ch, cx:cx + cw] = pcb
            predCr[cy:cy + ch, cx:cx + cw] = pcr
    return predY, predCb, predCr


def _part_predict(ref, pm, predY, predCb, predCr, mbx, mby, ox, oy,
                  w, h, mvx, mvy):
    """Motion-compensate ONE partition of an inter MB into the
    assembled prediction planes and record its MVs in the per-4x4
    field."""
    pm.fill(ox // 4, oy // 4, w // 4, h // 4, (mvx, mvy))
    predY[oy:oy + h, ox:ox + w] = _mc_luma(
        ref[0], mbx * 16 + ox, mby * 16 + oy, mvx, mvy, (h, w))
    cx, cy, cw, ch = ox // 2, oy // 2, w // 2, h // 2
    predCb[cy:cy + ch, cx:cx + cw] = _mc_chroma(
        ref[1], mbx * 8 + cx, mby * 8 + cy, mvx, mvy, (ch, cw))
    predCr[cy:cy + ch, cx:cx + cw] = _mc_chroma(
        ref[2], mbx * 8 + cx, mby * 8 + cy, mvx, mvy, (ch, cw))


def _idiv(a: int, b: int) -> int:
    """Spec integer division: truncation toward zero (5.x '/')."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _direct_temporal_mv(col_mv, tb: int, td: int):
    """Temporal direct MV derivation (8.4.1.2.3; one reference per
    list, direct_8x8_inference corners): both lists always predict;
    each quadrant scales its colocated corner MV by the POC-distance
    ratio — mvL0 = (DistScaleFactor * mvCol + 128) >> 8, mvL1 =
    mvL0 - mvCol. ``tb`` = POC(cur) - POC(ref0), ``td`` = POC(ref1 =
    the colocated picture) - POC(ref0); an intra colocated block
    contributes mvCol = 0."""
    if td == 0:
        raise ValueError("temporal direct with zero POC distance")
    tb = min(max(tb, -128), 127)
    td = min(max(td, -128), 127)
    tx = _idiv(16384 + abs(_idiv(td, 2)), td)
    dsf = min(max((tb * tx + 32) >> 6, -1024), 1023)
    corners = _col_corner_mvs(col_mv)
    q_l0 = [[None, None], [None, None]]
    q_l1 = [[None, None], [None, None]]
    for qy in (0, 1):
        for qx in (0, 1):
            c = corners[qy][qx]
            cx, cy = c if c is not None else (0, 0)
            m0 = ((dsf * cx + 128) >> 8, (dsf * cy + 128) >> 8)
            q_l0[qy][qx] = m0
            q_l1[qy][qx] = (m0[0] - cx, m0[1] - cy)
    return True, True, q_l0, q_l1


def _record_direct(mvs, col_mvs, mbx, mby, mbs_w, temporal=None):
    """Derive the direct-mode motion for MB (mbx, mby) — spatial
    (8.4.1.2.2) when ``temporal`` is None, else temporal (8.4.1.2.3)
    with ``temporal = (tb, td)`` POC distances — and record it in the
    per-list MV maps; returns (use_l0, use_l1, q_l0, q_l1). Shared by
    the decoders and both encoders (which replicate the decoder's
    derivation to keep divergence loud)."""
    col_mv = col_mvs.get((mbx, mby)) if col_mvs else None
    if temporal is not None:
        use_l0, use_l1, q_l0, q_l1 = _direct_temporal_mv(
            col_mv, temporal[0], temporal[1])
    else:
        use_l0, use_l1, q_l0, q_l1 = _direct_spatial_mv(
            mvs, col_mv, mbx, mby, mbs_w)
    mvs["l0"][(mbx, mby)] = (_mv_entry_from_grid(q_l0) if use_l0
                             else None)
    mvs["l1"][(mbx, mby)] = (_mv_entry_from_grid(q_l1) if use_l1
                             else None)
    return use_l0, use_l1, q_l0, q_l1


def _mc_predict_quad(ref, mbx, mby, qx, qy, mvx, mvy):
    """8x8-quadrant motion compensation (luma 8x8 + chroma 4x4)."""
    y = _mc_luma(ref[0], mbx * 16 + qx * 8, mby * 16 + qy * 8,
                 mvx, mvy, 8)
    cb = _mc_chroma(ref[1], mbx * 8 + qx * 4, mby * 8 + qy * 4,
                    mvx, mvy, 4)
    cr = _mc_chroma(ref[2], mbx * 8 + qx * 4, mby * 8 + qy * 4,
                    mvx, mvy, 4)
    return y, cb, cr


def _direct_predict_mb(mvs, col_mvs, ref0, ref1, mbx, mby, mbs_w,
                       temporal=None, wp=None):
    """Derive the direct-mode motion for MB (mbx, mby) — spatial, or
    temporal when ``temporal = (tb, td)`` — update the per-list MV
    maps and return the (predY, predCb, predCr) 16x16 prediction —
    shared by B_Skip and B_Direct_16x16.
    Uniform quadrant grids (the common case) take the whole-MB MC
    fast path; a partitioned colocated MB yields per-quadrant motion
    compensation. ``wp`` is the slice's weighted-prediction context
    (r8)."""
    use_l0, use_l1, q_l0, q_l1 = _record_direct(mvs, col_mvs, mbx,
                                                mby, mbs_w, temporal)
    uni_l0 = q_l0 is None or isinstance(
        mvs["l0"].get((mbx, mby)), tuple)
    uni_l1 = q_l1 is None or isinstance(
        mvs["l1"].get((mbx, mby)), tuple)
    if uni_l0 and uni_l1:            # whole-MB fast path
        preds = []
        if use_l0:
            preds.append(_mc_predict_mb(ref0, mbx, mby, *q_l0[0][0]))
        if use_l1:
            preds.append(_mc_predict_mb(ref1, mbx, mby, *q_l1[0][0]))
        if len(preds) == 2:
            return _wp_bi(preds[0], preds[1], wp)
        return _wp_single(preds[0], wp, 0 if use_l0 else 1)
    predY = np.empty((16, 16), dtype=np.int64)
    predCb = np.empty((8, 8), dtype=np.int64)
    predCr = np.empty((8, 8), dtype=np.int64)
    for qy in (0, 1):
        for qx in (0, 1):
            preds = []
            if use_l0:
                preds.append(_mc_predict_quad(ref0, mbx, mby, qx, qy,
                                              *q_l0[qy][qx]))
            if use_l1:
                preds.append(_mc_predict_quad(ref1, mbx, mby, qx, qy,
                                              *q_l1[qy][qx]))
            if len(preds) == 2:
                y, cb, cr = _wp_bi(preds[0], preds[1], wp)
            else:
                y, cb, cr = _wp_single(preds[0], wp,
                                       0 if use_l0 else 1)
            predY[qy * 8:qy * 8 + 8, qx * 8:qx * 8 + 8] = y
            predCb[qy * 4:qy * 4 + 4, qx * 4:qx * 4 + 4] = cb
            predCr[qy * 4:qy * 4 + 4, qx * 4:qx * 4 + 4] = cr
    return predY, predCb, predCr


def _decode_mb_p_skip(ref, Y, Cb, Cr, states, mv_map, mbx, mby,
                      mbs_w, wp=None):
    mvx, mvy = _mv_pred_skip(mv_map, mbx, mby, mbs_w)
    predY, predCb, predCr = _wp_single(
        _mc_predict_mb(ref, mbx, mby, mvx, mvy), wp, 0)
    Y[mby * 16:mby * 16 + 16, mbx * 16:mbx * 16 + 16] = predY
    Cb[mby * 8:mby * 8 + 8, mbx * 8:mbx * 8 + 8] = predCb
    Cr[mby * 8:mby * 8 + 8, mbx * 8:mbx * 8 + 8] = predCr
    states[(mbx, mby)] = _MBState()
    mv_map[(mbx, mby)] = (mvx, mvy)


def _cavlc_inter_tail(br, qp, pps, Y, Cb, Cr, states, st, predY,
                      predCb, predCr, mbx, mby, mbs_w):
    """CBP + mb_qp_delta + residual + reconstruction of an inter MB
    over its assembled prediction planes (CAVLC) — shared by the P
    and B macroblock decoders."""
    cbp_code = br.ue()
    if cbp_code > 47:
        raise ValueError("invalid coded_block_pattern")
    cbp = _CBP_INTER[cbp_code]
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp:
        qp = _apply_qp_delta(br, qp)
    recon = predY.copy()
    if cbp_luma:
        for blk in range(16):
            if not (cbp_luma >> (blk // 4)) & 1:
                continue
            nc = _luma_nc(states, mbx, mby, mbs_w, blk)
            coeffs = _decode_residual(br, nc, 16)   # 16-coeff inter blk
            st.nnz_l[blk] = np.count_nonzero(coeffs)
            d = np.zeros(16, dtype=np.int64)
            d[_ZZ4] = coeffs
            dq = _dequant_ac(d.reshape(4, 4), qp)
            r = (_inv_transform_4x4(dq) + 32) >> 6
            bx, by = _BLK_POS[blk]
            recon[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = _clip255(
                predY[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + r)
    Y[mby * 16:mby * 16 + 16, mbx * 16:mbx * 16 + 16] = recon
    cdc, cac = _decode_chroma_residual(br, states, mbx, mby, mbs_w,
                                       cbp_chroma, st)
    _recon_chroma_from_pred(Cb, Cr, predCb, predCr, mbx, mby, cdc,
                            cac, qp, pps)
    return qp


def _decode_mb_p(br, qp, pps, ref, Y, Cb, Cr, states, mv_map, mbx,
                 mby, mbs_w, wp=None):
    mb_type = br.ue()
    if mb_type >= 5:                 # intra macroblock in a P slice
        qp = _decode_mb_intra(br, mb_type - 5, qp, pps, Y, Cb, Cr,
                              states, mbx, mby, mbs_w)
        mv_map[(mbx, mby)] = None
        return qp
    st = _MBState()
    sub_types = None
    if mb_type == 0:                 # P_L0_16x16
        mvpx, mvpy = _mv_pred_16x16(mv_map, mbx, mby, mbs_w)
        mvx = mvpx + br.se()
        mvy = mvpy + br.se()
        if abs(mvx) > 1 << 14 or abs(mvy) > 1 << 14:
            raise ValueError("implausible motion vector")
        predY, predCb, predCr = _mc_predict_mb(ref, mbx, mby, mvx,
                                               mvy)
        mv_entry = (mvx, mvy)
    else:                            # r8: 16x8 / 8x16 / P_8x8(ref0)
        if mb_type >= 3:             # all four sub_mb_types first
            sub_types = [br.ue() for _ in range(4)]
            if any(t > 3 for t in sub_types):
                raise ValueError("invalid P sub_mb_type")
        pm = _PartMvs()
        mv_map[(mbx, mby)] = pm      # earlier partitions neighbour
        predY = np.empty((16, 16), dtype=np.int64)
        predCb = np.empty((8, 8), dtype=np.int64)
        predCr = np.empty((8, 8), dtype=np.int64)
        for ox, oy, w, h, rule in _p_partitions(mb_type, sub_types):
            mvp = _mv_pred_part(mv_map, mbx * 4 + ox // 4,
                                mby * 4 + oy // 4, w // 4, mbs_w,
                                rule)
            mvx = mvp[0] + br.se()
            mvy = mvp[1] + br.se()
            if abs(mvx) > 1 << 14 or abs(mvy) > 1 << 14:
                raise ValueError("implausible motion vector")
            _part_predict(ref, pm, predY, predCb, predCr, mbx, mby,
                          ox, oy, w, h, mvx, mvy)
        mv_entry = pm
    predY, predCb, predCr = _wp_single((predY, predCb, predCr), wp,
                                       0)
    qp = _cavlc_inter_tail(br, qp, pps, Y, Cb, Cr, states, st, predY,
                           predCb, predCr, mbx, mby, mbs_w)
    states[(mbx, mby)] = st
    mv_map[(mbx, mby)] = mv_entry
    return qp


def _decode_mb_b_skip(ref0, ref1, col_mvs, Y, Cb, Cr, states, mvs,
                      mbx, mby, mbs_w, temporal=None, wp=None):
    """B_Skip macroblock: direct 16x16 prediction, no residual
    (spatial 8.4.1.2.2 or temporal 8.4.1.2.3)."""
    predY, predCb, predCr = _direct_predict_mb(mvs, col_mvs, ref0,
                                               ref1, mbx, mby, mbs_w,
                                               temporal, wp)
    Y[mby * 16:mby * 16 + 16, mbx * 16:mbx * 16 + 16] = predY
    Cb[mby * 8:mby * 8 + 8, mbx * 8:mbx * 8 + 8] = predCb
    Cr[mby * 8:mby * 8 + 8, mbx * 8:mbx * 8 + 8] = predCr
    states[(mbx, mby)] = _MBState()


def _decode_mb_b(br, qp, pps, ref0, ref1, col_mvs, Y, Cb, Cr,
                 states, mvs, mbx, mby, mbs_w, temporal=None,
                 wp=None):
    """B-slice macroblock (r8): B_Direct_16x16 (spatial or temporal
    direct) / B_L0_16x16 / B_L1_16x16 / B_Bi_16x16 (default average)
    / the 16x8 and 8x16 two-partition types (4..21) / B_8x8 with all
    Table 7-18 sub-partitions incl. B_Direct_8x8 / intra."""
    mb_type = br.ue()
    if mb_type >= 23:                # intra macroblock in a B slice
        qp = _decode_mb_intra(br, mb_type - 23, qp, pps, Y, Cb, Cr,
                              states, mbx, mby, mbs_w)
        mvs["l0"][(mbx, mby)] = None
        mvs["l1"][(mbx, mby)] = None
        return qp
    if mb_type == 22:                # r8: B_8x8 sub-partitions
        sub_types = [br.ue() for _ in range(4)]

        def read_sub_mvd(li, q, pi, bx0, by0, w4, h4, mvp):
            return mvp[0] + br.se(), mvp[1] + br.se()

        predY, predCb, predCr = _code_b_8x8(
            read_sub_mvd, sub_types, mvs, col_mvs, temporal, ref0,
            ref1, mbx, mby, mbs_w, wp)
    elif mb_type > 3:                # r8: 16x8 / 8x16 partitions
        def read_mvd(li, idx, bx0, by0, w4, h4, mvp):
            return mvp[0] + br.se(), mvp[1] + br.se()

        predY, predCb, predCr = _code_b_partitions(
            read_mvd, mb_type, mvs, ref0, ref1, mbx, mby, mbs_w, wp)
    elif mb_type == 0:               # B_Direct_16x16: derived motion
        predY, predCb, predCr = _direct_predict_mb(
            mvs, col_mvs, ref0, ref1, mbx, mby, mbs_w, temporal, wp)
    else:
        use_l0 = mb_type in (1, 3)
        use_l1 = mb_type in (2, 3)
        preds = []
        for li, (lst, use, refp) in enumerate(
                (("l0", use_l0, ref0), ("l1", use_l1, ref1))):
            if not use:
                mvs[lst][(mbx, mby)] = None
                continue
            mvpx, mvpy = _mv_pred_16x16(mvs[lst], mbx, mby, mbs_w)
            mvx = mvpx + br.se()
            mvy = mvpy + br.se()
            if abs(mvx) > 1 << 14 or abs(mvy) > 1 << 14:
                raise ValueError("implausible motion vector")
            mvs[lst][(mbx, mby)] = (mvx, mvy)
            preds.append((li, _mc_predict_mb(refp, mbx, mby, mvx,
                                             mvy)))
        if len(preds) == 2:
            predY, predCb, predCr = _wp_bi(preds[0][1], preds[1][1],
                                           wp)
        else:
            predY, predCb, predCr = _wp_single(preds[0][1], wp,
                                               preds[0][0])
    st = _MBState()
    qp = _cavlc_inter_tail(br, qp, pps, Y, Cb, Cr, states, st, predY,
                           predCb, predCr, mbx, mby, mbs_w)
    states[(mbx, mby)] = st
    return qp


def _decode_mb(br, qp, pps, Y, Cb, Cr, states, mbx, mby, mbs_w):
    return _decode_mb_intra(br, br.ue(), qp, pps, Y, Cb, Cr, states,
                            mbx, mby, mbs_w)


def _decode_mb_pcm(br, qp, Y, Cb, Cr, states, mbx, mby):
    """I_PCM (mb_type 25, CAVLC): byte-aligned raw samples — 256 luma
    + 64 Cb + 64 Cr (4:2:0, 8-bit). Lossless by construction; QP is
    untouched; the MB counts as fully-coded intra for every
    neighbour context (nC 16, DC pred mode)."""
    while br.pos % 8:
        if br.u(1):
            raise ValueError("pcm_alignment_zero_bit is 1")
    x0, y0 = mbx * 16, mby * 16
    for r in range(16):
        for c in range(16):
            Y[y0 + r, x0 + c] = br.u(8)
    cx, cy = mbx * 8, mby * 8
    for plane in (Cb, Cr):
        for r in range(8):
            for c in range(8):
                plane[cy + r, cx + c] = br.u(8)
    st = _MBState()
    st.intra16 = True
    st.nnz_l[:] = 16
    st.nnz_c[:] = 16
    states[(mbx, mby)] = st
    return qp


def _decode_mb_intra(br, mb_type, qp, pps, Y, Cb, Cr, states, mbx,
                     mby, mbs_w):
    st = _MBState()
    x0, y0 = mbx * 16, mby * 16
    if mb_type == 25:
        return _decode_mb_pcm(br, qp, Y, Cb, Cr, states, mbx, mby)
    if mb_type > 25:
        raise ValueError(f"invalid I-slice mb_type {mb_type}")
    if mb_type == 0:
        qp = _decode_mb_i4(br, qp, pps, Y, Cb, Cr, states,
                           mbx, mby, mbs_w, st)
        states[(mbx, mby)] = st
        return qp
    # Intra_16x16: mode/CBP folded into mb_type
    st.intra16 = True
    pred_mode = (mb_type - 1) % 4
    cbp_chroma = ((mb_type - 1) // 4) % 3
    cbp_luma = 15 if mb_type >= 13 else 0
    chroma_mode = br.ue()
    if chroma_mode > 3:
        raise ValueError("invalid intra_chroma_pred_mode")
    qp = _apply_qp_delta(br, qp)
    # luma DC (always coded for Intra_16x16)
    nc = _luma_nc(states, mbx, mby, mbs_w, 0)
    dc_scan = _decode_residual(br, nc, 16)
    # AC blocks
    ac = np.zeros((16, 16), dtype=np.int64)
    if cbp_luma:
        for blk in range(16):
            nc = _luma_nc(states, mbx, mby, mbs_w, blk)
            coeffs = _decode_residual(br, nc, 15)
            st.nnz_l[blk] = np.count_nonzero(coeffs)
            ac[blk, 1:] = coeffs
    cdc, cac = _decode_chroma_residual(br, states, mbx, mby, mbs_w,
                                       cbp_chroma, st)
    _recon_mb_i16(Y, Cb, Cr, mbx, mby, pred_mode, chroma_mode, qp,
                  pps, dc_scan, ac, cdc, cac)
    states[(mbx, mby)] = st
    return qp


def _recon_mb_i16(Y, Cb, Cr, mbx, mby, pred_mode, chroma_mode, qp,
                  pps, dc_scan, ac, cdc, cac):
    """Intra_16x16 reconstruction from parsed levels (8.3.3, 8.5) —
    split from the CAVLC parser above."""
    x0, y0 = mbx * 16, mby * 16
    pred = _pred16(Y, x0, y0, pred_mode)
    dc16 = np.zeros(16, dtype=np.int64)
    dc16[_ZZ4] = dc_scan
    dcs = _luma_dc_dequant(dc16.reshape(4, 4), qp)
    # all 16 4x4 blocks in one batched dequant + inverse transform
    # (same per-block integer chain as the scalar loop)
    d = np.zeros((16, 16), dtype=np.int64)
    d[:, _ZZ4] = ac
    dq = (d.reshape(16, 4, 4) * _ls_arr(qp)[None]) << (qp // 6)
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        dq[blk, 0, 0] = dcs[by, bx]
    r = (_inv_transform_4x4_batch(dq) + 32) >> 6
    res = np.empty((16, 16), dtype=np.int64)
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        res[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = r[blk]
    Y[y0:y0 + 16, x0:x0 + 16] = _clip255(pred + res)
    _recon_chroma(Cb, Cr, mbx, mby, chroma_mode, cdc, cac, qp, pps)


def _apply_qp_delta(br, qp):
    delta = br.se()
    if not -27 <= delta <= 26:
        raise ValueError("mb_qp_delta out of range")
    qp = (qp + delta + 52) % 52
    return qp


def _decode_chroma_residual(br, states, mbx, mby, mbs_w, cbp_chroma, st):
    cdc = np.zeros((2, 4), dtype=np.int64)
    cac = np.zeros((2, 4, 16), dtype=np.int64)
    if cbp_chroma:
        for ci in range(2):
            cdc[ci] = _decode_residual(br, -1, 4)
    if cbp_chroma == 2:
        for ci in range(2):
            for blk in range(4):
                nc = _chroma_nc(states, mbx, mby, mbs_w, ci, blk)
                coeffs = _decode_residual(br, nc, 15)
                st.nnz_c[ci][blk] = np.count_nonzero(coeffs)
                cac[ci, blk, 1:] = coeffs
    return cdc, cac


def _recon_chroma(Cb, Cr, mbx, mby, chroma_mode, cdc, cac, qp, pps):
    cx, cy = mbx * 8, mby * 8
    preds = [_pred_chroma(p, cx, cy, chroma_mode) for p in (Cb, Cr)]
    _recon_chroma_from_pred(Cb, Cr, preds[0], preds[1], mbx, mby,
                            cdc, cac, qp, pps)


def _recon_chroma_from_pred(Cb, Cr, pred_cb, pred_cr, mbx, mby, cdc,
                            cac, qp, pps):
    qpc = _qpc_from_qp(qp, pps["chroma_qp_off"])
    cx, cy = mbx * 8, mby * 8
    # both planes' 4 blocks in one batched dequant + inverse
    # transform (same per-block integer chain as the scalar loop)
    d = np.zeros((8, 16), dtype=np.int64)
    d[:, _ZZ4] = cac.reshape(8, 16)
    dq = (d.reshape(8, 4, 4) * _ls_arr(qpc)[None]) << (qpc // 6)
    for ci in range(2):
        dcs = _chroma_dc_dequant(cdc[ci].reshape(2, 2), qpc)
        for blk in range(4):
            dq[ci * 4 + blk, 0, 0] = dcs[blk >> 1, blk & 1]
    r = (_inv_transform_4x4_batch(dq) + 32) >> 6
    for ci, (plane, pred) in enumerate(((Cb, pred_cb),
                                        (Cr, pred_cr))):
        res = np.empty((8, 8), dtype=np.int64)
        for blk in range(4):
            bx, by = blk & 1, blk >> 1
            res[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] = r[ci * 4 + blk]
        plane[cy:cy + 8, cx:cx + 8] = _clip255(pred + res)


def _decode_mb_i4(br, qp, pps, Y, Cb, Cr, states, mbx, mby, mbs_w, st):
    """Intra_4x4 macroblock (mb_type 0)."""
    x0, y0 = mbx * 16, mby * 16
    # fill st.i4_modes progressively: the predicted mode for block k
    # reads same-MB neighbours' modes, which in the 4x4 Z-scan are
    # always earlier in decode order (8.3.1.1)
    modes = st.i4_modes
    for blk in range(16):
        pred_mode = _predict_i4_mode(states, st, mbx, mby, mbs_w, blk)
        if br.flag():
            modes[blk] = pred_mode
        else:
            rem = br.u(3)
            modes[blk] = rem if rem < pred_mode else rem + 1
    chroma_mode = br.ue()
    if chroma_mode > 3:
        raise ValueError("invalid intra_chroma_pred_mode")
    cbp = _read_cbp_intra(br)
    cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
    if cbp_chroma == 3:
        raise ValueError("invalid chroma CBP")
    if cbp:
        qp = _apply_qp_delta(br, qp)
    luma = np.zeros((16, 16), dtype=np.int64)
    if cbp_luma:
        for blk in range(16):
            if cbp_luma & (1 << (blk // 4)):
                nc = _luma_nc(states, mbx, mby, mbs_w, blk)
                coeffs = _decode_residual(br, nc, 16)
                st.nnz_l[blk] = np.count_nonzero(coeffs)
                luma[blk] = coeffs
    cdc, cac = _decode_chroma_residual(br, states, mbx, mby, mbs_w,
                                       cbp_chroma, st)
    _recon_mb_i4(Y, Cb, Cr, states, mbx, mby, mbs_w, modes, luma,
                 chroma_mode, qp, pps, cdc, cac)
    return qp


def _recon_mb_i4(Y, Cb, Cr, states, mbx, mby, mbs_w, modes, luma,
                 chroma_mode, qp, pps, cdc, cac):
    """Intra_4x4 reconstruction from parsed levels — block-by-block
    (later blocks predict from earlier)."""
    x0, y0 = mbx * 16, mby * 16
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        px, py = x0 + bx * 4, y0 + by * 4
        # top-right availability: decoded already in raster order?
        tr_ok = _i4_top_right_available(bx, by, mbx, mby, mbs_w,
                                        states)
        pred = _pred4(Y, px, py, int(modes[blk]), tr_ok)
        d = np.zeros(16, dtype=np.int64)
        d[_ZZ4] = luma[blk]
        dq = _dequant_ac(d.reshape(4, 4), qp)
        r = (_inv_transform_4x4(dq) + 32) >> 6
        Y[py:py + 4, px:px + 4] = _clip255(pred + r)
    _recon_chroma(Cb, Cr, mbx, mby, chroma_mode, cdc, cac, qp, pps)


def _i4_top_right_available(bx, by, mbx, mby, mbs_w, states) -> bool:
    """Is the 4x4 block's top-right neighbour reconstructed?"""
    gx, gy = mbx * 4 + bx + 1, mby * 4 + by - 1
    if gy < 0:
        return False
    tmx, tmy = gx >> 2, gy >> 2
    if tmx >= mbs_w:
        return False
    if (tmx, tmy) in states:
        return True
    if tmx == mbx and tmy == mby:
        # same MB: available iff that block comes earlier in decode
        # order — true exactly for blocks whose above-right neighbour
        # is in a previously-decoded position of the zig-zag quad scan
        lx, ly = gx & 3, gy & 3
        return _BLK_POS.index((lx, ly)) < _BLK_POS.index((bx, by))
    return False


def _predict_i4_mode(states, st, mbx, mby, mbs_w, blk) -> int:
    bx, by = _BLK_POS[blk]

    def mode_at(gx, gy):
        if gx < 0 or gy < 0:
            return None
        mx, my = gx >> 2, gy >> 2
        if mx >= mbs_w:
            return None
        if mx == mbx and my == mby:
            src = st
        else:
            src = states.get((mx, my))
            if src is None:
                return None
            if src.intra16:
                return 2          # Intra16x16 neighbour predicts DC
        return int(src.i4_modes[_BLK_POS.index((gx & 3, gy & 3))])

    gx, gy = mbx * 4 + bx, mby * 4 + by
    ma = mode_at(gx - 1, gy)
    mb = mode_at(gx, gy - 1)
    if ma is None or mb is None:
        return 2
    return min(ma, mb)


def _read_cbp_intra(br) -> int:
    code = br.ue()
    if code >= 48:
        raise ValueError("invalid coded_block_pattern code")
    return _CBP_INTRA[code]


# ---------------------------------------------------------------------------
# encoder — real intra encoder with the standard reconstruction loop
# ---------------------------------------------------------------------------


def _quant_ac(w: np.ndarray, qp: int) -> np.ndarray:
    """Forward quant of a 4x4 transformed block (raster order)."""
    mf = np.array(_MF[qp % 6], dtype=np.int64)[_LS_CLASS]
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    return np.sign(w) * ((np.abs(w) * mf + f) >> qbits)


def _quant_dc(w: np.ndarray, qp: int, shift_extra: int = 0) -> np.ndarray:
    mf = _MF[qp % 6][0]
    qbits = 15 + qp // 6
    f = (1 << qbits) // 3
    return np.sign(w) * ((np.abs(w) * mf + 2 * f) >> (qbits + shift_extra))


def _write_sps(mbs_w: int, mbs_h: int, poc_type: int = 2) -> bytes:
    bw = _BitW()
    bw.u(66, 8)                              # profile_idc: Baseline
    bw.u(0b11000000, 8)                      # constraint_set0/1
    bw.u(20, 8)                              # level 2.0
    bw.ue(0)                                 # sps_id
    bw.ue(0)                                 # log2_max_frame_num_minus4
    bw.ue(poc_type)                          # pic_order_cnt_type
    if poc_type == 0:
        bw.ue(2)                             # log2_max_poc_lsb = 6
    bw.ue(2 if poc_type == 0 else 1)         # max_num_ref_frames
    bw.u(0, 1)                               # gaps_in_frame_num
    bw.ue(mbs_w - 1)
    bw.ue(mbs_h - 1)
    bw.u(1, 1)                               # frame_mbs_only
    bw.u(1, 1)                               # direct_8x8_inference
    bw.u(0, 1)                               # frame_cropping
    bw.u(0, 1)                               # vui_parameters
    bw.trailing()
    return bw.bytes()


def _write_pps(weighted_pred: bool = False,
               weighted_bipred: int = 0) -> bytes:
    bw = _BitW()
    bw.ue(0)                                 # pps_id
    bw.ue(0)                                 # sps_id
    bw.u(0, 1)                               # entropy_coding_mode
    bw.u(0, 1)                               # bottom_field_poc
    bw.ue(0)                                 # num_slice_groups_minus1
    bw.ue(0)                                 # num_ref_idx_l0
    bw.ue(0)                                 # num_ref_idx_l1
    bw.u(1 if weighted_pred else 0, 1)       # weighted_pred
    bw.u(weighted_bipred & 3, 2)             # weighted_bipred_idc
    bw.se(0)                                 # pic_init_qp_minus26 -> 26
    bw.se(0)                                 # pic_init_qs
    bw.se(0)                                 # chroma_qp_index_offset
    bw.u(1, 1)                               # deblocking_filter_control
    bw.u(0, 1)                               # constrained_intra_pred
    bw.u(0, 1)                               # redundant_pic_cnt
    bw.trailing()
    return bw.bytes()


def _slice_header(bw: _BitW, qp: int, poc_lsb: int | None = None):
    bw.ue(0)                                 # first_mb_in_slice
    bw.ue(7)                                 # slice_type: I (all)
    bw.ue(0)                                 # pps_id
    bw.u(0, 4)                               # frame_num
    bw.ue(0)                                 # idr_pic_id
    if poc_lsb is not None:                  # poc_type 0 streams
        bw.u(poc_lsb & 63, 6)
    bw.u(1, 1)                               # no_output_of_prior_pics
    bw.u(0, 1)                               # long_term_reference
    bw.se(qp - 26)                           # slice_qp_delta
    bw.ue(1)                                 # disable_deblocking_filter


def _assemble(sps: bytes, pps: bytes, slice_rbsp: bytes) -> bytes:
    sc = b"\x00\x00\x00\x01"
    return (sc + bytes([0x67]) + _escape(sps)
            + sc + bytes([0x68]) + _escape(pps)
            + sc + bytes([0x65]) + _escape(slice_rbsp))


_CBP_INTRA_INV = {cbp: i for i, cbp in enumerate(_CBP_INTRA)}


def h264_encode(y: np.ndarray, qp: int = 30,
                cb: np.ndarray | None = None,
                cr: np.ndarray | None = None,
                mb_mode: str = "i16",
                poc_lsb: int | None = None,
                weighted_pred: bool = False,
                weighted_bipred: int = 0) -> bytes:
    """Encode a (h, w) uint8 luma plane (h, w multiples of 16; cb/cr
    optional (h/2, w/2) planes, default neutral 128) as a one-slice
    Annex-B IDR access unit. ``mb_mode``: 'i16' (Intra_16x16 DC
    prediction, full AC residual), 'i4' (Intra_4x4, per-block
    SAD-chosen mode, full residual) or 'pcm' (r8: I_PCM raw macroblocks —
    LOSSLESS, byte-aligned samples).

    A real lossy encoder with the standard reconstruction loop: each
    MB predicts from the *reconstructed* neighbours, so
    :func:`h264_decode` of the returned stream reproduces the
    encoder's reconstruction exactly (asserted in tests). Returns the
    Annex-B bytes.

    ``weighted_pred`` / ``weighted_bipred`` (r8) set the PPS flags
    for a GOP whose P/B slices carry explicit pred_weight_tables
    (``h264_encode_p_frame(weights=...)``) or implicit B
    biprediction (idc 2); the IDR itself is unaffected."""
    y = np.asarray(y, dtype=np.int64)
    H, W = y.shape
    if H % 16 or W % 16:
        raise ValueError("frame dimensions must be multiples of 16")
    mbs_w, mbs_h = W // 16, H // 16
    cbp = np.full((H // 2, W // 2), 128, dtype=np.int64) \
        if cb is None else np.asarray(cb, dtype=np.int64)
    crp = np.full((H // 2, W // 2), 128, dtype=np.int64) \
        if cr is None else np.asarray(cr, dtype=np.int64)
    Yr = np.zeros((H, W), dtype=np.int64)
    Cbr = np.full((H // 2, W // 2), 128, dtype=np.int64)
    Crr = np.full((H // 2, W // 2), 128, dtype=np.int64)
    states: dict = {}
    bw = _BitW()
    _slice_header(bw, qp, poc_lsb)
    for mby in range(mbs_h):
        for mbx in range(mbs_w):
            if mb_mode == "pcm":
                # I_PCM: lossless raw macroblock
                x0, y0 = mbx * 16, mby * 16
                cx, cy = mbx * 8, mby * 8
                bw.ue(25)
                while len(bw.bits) % 8:
                    bw.u(0, 1)           # pcm_alignment_zero_bit
                for r in range(16):
                    for c in range(16):
                        bw.u(int(y[y0 + r, x0 + c]), 8)
                for plane in (cbp, crp):
                    for r in range(8):
                        for c in range(8):
                            bw.u(int(plane[cy + r, cx + c]), 8)
                st = _MBState()
                st.intra16 = True
                st.nnz_l[:] = 16
                st.nnz_c[:] = 16
                Yr[y0:y0 + 16, x0:x0 + 16] = y[y0:y0 + 16,
                                               x0:x0 + 16]
                Cbr[cy:cy + 8, cx:cx + 8] = cbp[cy:cy + 8, cx:cx + 8]
                Crr[cy:cy + 8, cx:cx + 8] = crp[cy:cy + 8, cx:cx + 8]
                states[(mbx, mby)] = st
                continue
            if mb_mode == "i16":
                sym = _plan_mb_i16(y, cbp, crp, Yr, Cbr, Crr, states,
                                   mbx, mby, mbs_w, qp)
            elif mb_mode == "i4":
                sym = _plan_mb_i4(y, cbp, crp, Yr, Cbr, Crr, states,
                                  mbx, mby, mbs_w, qp)
            else:
                raise ValueError(f"unknown mb_mode {mb_mode!r}")
            _emit_mb_cavlc(bw, states, sym, mbx, mby, mbs_w)
            states[(mbx, mby)] = sym["st"]
    bw.trailing()
    return _assemble(
        _write_sps(mbs_w, mbs_h,
                   poc_type=0 if poc_lsb is not None else 2),
        _write_pps(weighted_pred=weighted_pred,
                   weighted_bipred=weighted_bipred), bw.bytes())


def h264_encoder_reconstruction(y, qp: int = 30, cb=None, cr=None,
                                mb_mode: str = "i16") -> np.ndarray:
    """The encoder's own reconstructed luma plane (what a conformant
    decoder must reproduce exactly). Runs the same loop as
    :func:`h264_encode` without emitting bits."""
    y = np.asarray(y, dtype=np.int64)
    H, W = y.shape
    mbs_w, mbs_h = W // 16, H // 16
    cbp = np.full((H // 2, W // 2), 128, dtype=np.int64) \
        if cb is None else np.asarray(cb, dtype=np.int64)
    crp = np.full((H // 2, W // 2), 128, dtype=np.int64) \
        if cr is None else np.asarray(cr, dtype=np.int64)
    Yr = np.zeros((H, W), dtype=np.int64)
    Cbr = np.full((H // 2, W // 2), 128, dtype=np.int64)
    Crr = np.full((H // 2, W // 2), 128, dtype=np.int64)
    states: dict = {}
    for mby in range(mbs_h):
        for mbx in range(mbs_w):
            if mb_mode == "i16":
                sym = _plan_mb_i16(y, cbp, crp, Yr, Cbr, Crr, states,
                                   mbx, mby, mbs_w, qp)
            else:
                sym = _plan_mb_i4(y, cbp, crp, Yr, Cbr, Crr, states,
                                  mbx, mby, mbs_w, qp)
            states[(mbx, mby)] = sym["st"]
    return Yr


def _plan_chroma(src_cb, src_cr, Cbr, Crr, mbx, mby, qp, st):
    """Chroma plan for one MB (DC pred): quantized DC/AC levels and
    the CBP decision, entropy-layer independent. Updates the MB
    state's chroma nnz (CAVLC context bookkeeping, mirrored by the
    decoder) and reconstructs the chroma planes in place."""
    qpc = _qpc_from_qp(qp)
    cx, cy = mbx * 8, mby * 8
    plan = []
    any_dc = False
    any_ac = False
    for ci, (src, rec) in enumerate(((src_cb, Cbr), (src_cr, Crr))):
        pred = _pred_chroma(rec, cx, cy, 0)
        resid = src[cy:cy + 8, cx:cx + 8] - pred
        wdc = np.empty((2, 2), dtype=np.int64)
        wac = np.empty((4, 16), dtype=np.int64)
        for blk in range(4):
            bx, by = blk & 1, blk >> 1
            w = _fwd_transform_4x4(
                resid[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4])
            wdc[by, bx] = w[0, 0]
            q = _quant_ac(w, qpc)
            q[0, 0] = 0
            wac[blk] = q.reshape(16)[_ZZ4]
        h2 = np.array([[1, 1], [1, -1]], dtype=np.int64)
        # chroma DC: decoder's >>5 (vs luma's >>6) halves the gain of
        # the 2x2 Hadamard pair, so quantize one bit coarser-inverse
        qdc = _quant_dc(h2 @ wdc @ h2, qpc, shift_extra=-1)
        if np.any(qdc):
            any_dc = True
        if np.any(wac[:, 1:]):
            any_ac = True
        plan.append((qdc, wac))
    cbp_chroma = 2 if any_ac else (1 if any_dc else 0)
    cdc = np.zeros((2, 4), dtype=np.int64)
    cac = np.zeros((2, 4, 16), dtype=np.int64)
    for ci, (qdc, wac) in enumerate(plan):
        if cbp_chroma:
            # scan order of the 2x2 DC block: raster (0,0),(0,1),
            # (1,0),(1,1)
            cdc[ci] = qdc.reshape(4)
        if cbp_chroma == 2:
            cac[ci, :, 1:] = wac[:, 1:16]
            st.nnz_c[ci] = np.count_nonzero(cac[ci, :, 1:], axis=1)
    _recon_chroma(Cbr, Crr, mbx, mby, 0, cdc, cac, qp,
                  {"chroma_qp_off": 0})
    return cbp_chroma, cdc, cac


def _emit_chroma_cavlc(bw, states, sym, mbx, mby, mbs_w):
    if sym["cbp_chroma"]:
        for ci in range(2):
            _encode_residual(bw, sym["cdc"][ci], -1, 4)
    if sym["cbp_chroma"] == 2:
        for ci in range(2):
            for blk in range(4):
                nc = _chroma_nc(states, mbx, mby, mbs_w, ci, blk)
                _encode_residual(bw, sym["cac"][ci, blk, 1:], nc, 15)


def _emit_mb_cavlc(bw, states, sym, mbx, mby, mbs_w):
    """Serialize one planned MB with CAVLC — exactly the bit sequence
    the pre-r8 inline encoder produced."""
    if sym["kind"] == "i16":
        bw.ue(sym["mb_type"])
        bw.ue(sym["chroma_mode"])
        bw.se(sym["qp_delta"])
        nc = _luma_nc(states, mbx, mby, mbs_w, 0)
        _encode_residual(bw, sym["dc_scan"], nc, 16)
        if sym["cbp_luma"]:
            for blk in range(16):
                nc = _luma_nc(states, mbx, mby, mbs_w, blk)
                _encode_residual(bw, sym["qac"][blk, 1:], nc, 15)
    else:
        bw.ue(0)                             # mb_type I_4x4
        for blk in range(16):
            pm = sym["pred_modes"][blk]
            m = int(sym["modes"][blk])
            if m == pm:
                bw.u(1, 1)
            else:
                bw.u(0, 1)
                bw.u(m if m < pm else m - 1, 3)
        bw.ue(sym["chroma_mode"])
        bw.ue(_CBP_INTRA_INV[sym["cbp_luma"] | (sym["cbp_chroma"] << 4)])
        if sym["cbp_luma"] or sym["cbp_chroma"]:
            bw.se(sym["qp_delta"])
        if sym["cbp_luma"]:
            for blk in range(16):
                if sym["cbp_luma"] & (1 << (blk // 4)):
                    nc = _luma_nc(states, mbx, mby, mbs_w, blk)
                    _encode_residual(bw, sym["qblocks"][blk], nc, 16)
    _emit_chroma_cavlc(bw, states, sym, mbx, mby, mbs_w)




def _plan_mb_i16(y, src_cb, src_cr, Yr, Cbr, Crr, states, mbx, mby,
                 mbs_w, qp):
    """Plan one Intra_16x16 MB: mode decisions + quantized levels
    (entropy-layer independent), reconstructing the planes in place
    with the same integer path as the decoder. Does NOT add the MB
    state to ``states`` — the caller does that after emitting."""
    st = _MBState()
    st.intra16 = True
    x0, y0 = mbx * 16, mby * 16
    pred = _pred16(Yr, x0, y0, 2)            # DC prediction
    resid = y[y0:y0 + 16, x0:x0 + 16] - pred
    wdc = np.empty((4, 4), dtype=np.int64)
    qac = np.zeros((16, 16), dtype=np.int64)  # scan order, idx 0 unused
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        w = _fwd_transform_4x4(resid[by * 4:by * 4 + 4,
                                     bx * 4:bx * 4 + 4])
        wdc[by, bx] = w[0, 0]
        q = _quant_ac(w, qp)
        q[0, 0] = 0
        qac[blk] = q.reshape(16)[_ZZ4]
    # DC: forward Hadamard, quant with the doubled rounding + shift.
    # The decode chain divides by 64 twice (inverse Hadamard 8.5.10
    # and the core transform's final >>6) against a forward gain of
    # 256, so the level needs 2 more bits than the plain AC quant —
    # shift_extra=-2 (empirically exact on flat frames at all qp)
    qdc4 = _quant_dc(_hadamard4(wdc), qp, shift_extra=-2)
    dc_scan = qdc4.reshape(16)[_ZZ4]
    cbp_luma = 15 if np.any(qac[:, 1:]) else 0
    if cbp_luma:
        st.nnz_l[:] = np.count_nonzero(qac[:, 1:], axis=1)
    cbp_chroma, cdc, cac = _plan_chroma(src_cb, src_cr, Cbr, Crr,
                                        mbx, mby, qp, st)
    mb_type = 1 + 2 + 4 * cbp_chroma + (12 if cbp_luma else 0)
    # reconstruction (same integer path as the decoder)
    dcs = _luma_dc_dequant(qdc4, qp)
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        d = np.zeros(16, dtype=np.int64)
        d[_ZZ4] = qac[blk]
        dq = _dequant_ac(d.reshape(4, 4), qp)
        dq[0, 0] = dcs[by, bx]
        r = (_inv_transform_4x4(dq) + 32) >> 6
        Yr[y0 + by * 4:y0 + by * 4 + 4, x0 + bx * 4:x0 + bx * 4 + 4] = \
            _clip255(pred[by * 4:by * 4 + 4, bx * 4:bx * 4 + 4] + r)
    return {"kind": "i16", "mb_type": mb_type, "chroma_mode": 0,
            "qp_delta": 0, "qp": qp, "cbp_luma": cbp_luma,
            "cbp_chroma": cbp_chroma, "dc_scan": dc_scan, "qac": qac,
            "cdc": cdc, "cac": cac, "st": st}


def _plan_mb_i4(y, src_cb, src_cr, Yr, Cbr, Crr, states, mbx, mby,
                mbs_w, qp):
    """Plan one Intra_4x4 MB (mode search + quantized levels),
    reconstructing in place; twin of
    :func:`_plan_mb_i16`."""
    st = _MBState()
    x0, y0 = mbx * 16, mby * 16
    modes = np.empty(16, dtype=np.int64)
    qblocks = np.zeros((16, 16), dtype=np.int64)
    preds = [None] * 16
    # choose modes + quantize greedily in decode order (prediction
    # uses the evolving reconstruction, as the spec requires)
    for blk in range(16):
        bx, by = _BLK_POS[blk]
        px, py = x0 + bx * 4, y0 + by * 4
        tr_ok = _i4_top_right_available(bx, by, mbx, mby, mbs_w,
                                        states)
        best = None
        src = y[py:py + 4, px:px + 4]
        for mode in range(9):
            try:
                p = _pred4(Yr, px, py, mode, tr_ok)
            except ValueError:
                continue
            sad = int(np.abs(src - p).sum())
            if best is None or sad < best[0]:
                best = (sad, mode, p)
        _, mode, p = best
        modes[blk] = mode
        preds[blk] = p
        w = _fwd_transform_4x4(src - p)
        q = _quant_ac(w, qp)
        qblocks[blk] = q.reshape(16)[_ZZ4]
        # reconstruct immediately so later blocks predict correctly
        d = np.zeros(16, dtype=np.int64)
        d[_ZZ4] = qblocks[blk]
        dq = _dequant_ac(d.reshape(4, 4), qp)
        r = (_inv_transform_4x4(dq) + 32) >> 6
        Yr[py:py + 4, px:px + 4] = _clip255(p + r)
    st.i4_modes = modes
    cbp_luma = 0
    for g in range(4):
        if np.any(qblocks[g * 4:(g + 1) * 4]):
            cbp_luma |= 1 << g
    if cbp_luma:
        for blk in range(16):
            if cbp_luma & (1 << (blk // 4)):
                st.nnz_l[blk] = np.count_nonzero(qblocks[blk])
    cbp_chroma, cdc, cac = _plan_chroma(src_cb, src_cr, Cbr, Crr,
                                        mbx, mby, qp, st)
    # predicted modes read only earlier-in-scan same-MB blocks (the
    # 4x4 Z-scan's left/top neighbours always precede), so computing
    # them from the final mode array equals the progressive decode
    pred_modes = [_predict_i4_mode(states, st, mbx, mby, mbs_w, blk)
                  for blk in range(16)]
    return {"kind": "i4", "modes": modes, "pred_modes": pred_modes,
            "chroma_mode": 0, "qp_delta": 0, "qp": qp,
            "cbp_luma": cbp_luma, "cbp_chroma": cbp_chroma,
            "qblocks": qblocks, "cdc": cdc, "cac": cac, "st": st}


def h264_encode_flat_mbs(offsets: np.ndarray, qp: int = 36,
                         poc_lsb: int | None = None,
                         weighted_pred: bool = False,
                         weighted_bipred: int = 0) -> bytes:
    """The ORACLE FAMILY: an IDR frame of Intra_16x16 DC-predicted
    macroblocks, each carrying a single luma DC coefficient chosen so
    the whole MB reconstructs to pred + offsets[my][mx] exactly —
    the H.264 analogue of the block-constant JPEG family.

    With QP=36 the DC dequant is exact integer: dcY = 10*c (8.5.10,
    qP>=36 branch, shift qP/6-6 = 0), and a DC-only 4x4 inverse
    transform is the flat value (dcY + 32) >> 6, so

        offset(c) = (10*c + 32) >> 6      (arithmetic shift)

    and the decoded MB value follows the DC prediction chain
    v = pred + offset: pred = 128 for the first MB, the flat left/top
    MB value when one neighbour exists, (vleft + vtop + 1) >> 1 when
    both do — a pure-SQL-expressible recurrence. Chroma is neutral
    (no residual), so decode is exact grey. ``offsets`` must keep
    every value inside [0, 255] (no clipping, asserted here)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    mbs_h, mbs_w = offsets.shape
    # required reconstruction values (mirror of the decode chain)
    v = np.zeros((mbs_h, mbs_w), dtype=np.int64)
    for my in range(mbs_h):
        for mx in range(mbs_w):
            if mx == 0 and my == 0:
                pred = 128
            elif my == 0:
                pred = v[my, mx - 1]
            elif mx == 0:
                pred = v[my - 1, mx]
            else:
                pred = (v[my, mx - 1] + v[my - 1, mx] + 1) >> 1
            v[my, mx] = pred + offsets[my, mx]
    if v.min() < 0 or v.max() > 255:
        raise ValueError("offsets would clip; oracle family requires "
                         "unclipped reconstruction")
    states: dict = {}
    poc_type = 0 if poc_lsb is not None else 2
    bw = _BitW()
    _slice_header(bw, qp, poc_lsb)
    for mx, my, sym in _flat_mb_syms(offsets, qp):
        _emit_mb_cavlc(bw, states, sym, mx, my, mbs_w)
        states[(mx, my)] = sym["st"]
    bw.trailing()
    return _assemble(_write_sps(mbs_w, mbs_h, poc_type=poc_type),
                     _write_pps(weighted_pred=weighted_pred,
                                weighted_bipred=weighted_bipred),
                     bw.bytes())


def _flat_mb_syms(offsets, qp):
    """MB plans for the flat-macroblock oracle family (one luma DC
    coefficient per Intra_16x16 MB, CBP 0/0)."""
    mbs_h, mbs_w = offsets.shape
    for my in range(mbs_h):
        for mx in range(mbs_w):
            st = _MBState()
            st.intra16 = True
            o = int(offsets[my, mx])
            if o == 0:
                c = 0
            else:
                c = -(-(64 * o - 32) // 10)          # ceil division
                assert (10 * c + 32) >> 6 == o
            dc_scan = np.zeros(16, dtype=np.int64)
            dc_scan[0] = c
            yield mx, my, {
                "kind": "i16", "mb_type": 3, "chroma_mode": 0,
                "qp_delta": 0, "qp": qp, "cbp_luma": 0,
                "cbp_chroma": 0, "dc_scan": dc_scan,
                "qac": np.zeros((16, 16), dtype=np.int64),
                "cdc": np.zeros((2, 4), dtype=np.int64),
                "cac": np.zeros((2, 4, 16), dtype=np.int64), "st": st}


# ---------------------------------------------------------------------------
# ISO/IEC 14496-15 packaging (avc1 sample entries) — the MP4 side
# ---------------------------------------------------------------------------


def _split_annexb_raw(payload: bytes):
    """Yield raw NAL units (header byte + EBSP, still escaped) from an
    Annex-B byte stream — the packaging twin of :func:`_split_annexb`."""
    i = 0
    n = len(payload)
    starts = []
    while i + 3 <= n:
        if payload[i] == 0 and payload[i + 1] == 0:
            if payload[i + 2] == 1:
                starts.append((i, i + 3))
                i += 3
                continue
            if i + 4 <= n and payload[i + 2] == 0 and payload[i + 3] == 1:
                starts.append((i, i + 4))
                i += 4
                continue
        i += 1
    if not starts:
        raise ValueError("no Annex-B start code found")
    for k, (s, body) in enumerate(starts):
        end = starts[k + 1][0] if k + 1 < len(starts) else n
        nal = payload[body:end]
        if nal:
            yield nal


_CBP_INTER_INV = {cbp: i for i, cbp in enumerate(_CBP_INTER)}


def _emit_inter_levels_cavlc(bw, states, st, levels, mbx, mby, mbs_w):
    """CBP + mb_qp_delta + luma residual of one inter MB (CAVLC) —
    shared by the P and B encoders. ``levels`` is None or a (16, 16)
    per-4x4 scan-order array."""
    if levels is None:
        bw.ue(_CBP_INTER_INV[0])
        return
    levels = np.asarray(levels, dtype=np.int64)
    cbp_luma = 0
    for blk in range(16):
        if np.any(levels[blk]):
            cbp_luma |= 1 << (blk // 4)
    bw.ue(_CBP_INTER_INV[cbp_luma])
    if cbp_luma:
        bw.se(0)                     # mb_qp_delta
    for blk in range(16):
        if not (cbp_luma >> (blk // 4)) & 1:
            continue
        nc = _luma_nc(states, mbx, mby, mbs_w, blk)
        _encode_residual(bw, levels[blk], nc, 16)
        st.nnz_l[blk] = np.count_nonzero(levels[blk])


def h264_encode_p_frame(mb_specs: list, mbs_w: int, mbs_h: int,
                        qp: int = 30, frame_num: int = 1,
                        ref_idc: int = 2,
                        poc_lsb: int | None = None,
                        weights: dict | None = None) -> bytes:
    """Encode ONE P frame as an Annex-B non-IDR NAL (nal_ref_idc
    ``ref_idc``, single slice, CAVLC) to append after an IDR access
    unit. ``ref_idc=0`` emits a non-reference slice — legal for the
    last P of a GOP — whose header carries NO dec_ref_pic_marking()
    and whose frame never enters the decoder's reference picture.

    ``mb_specs`` is raster-order, one entry per MB:
      * ``None``            — P_Skip (MV = the spec's skip predictor);
      * ``(mvx, mvy)``      — P_L0_16x16, quarter-pel MV, no residual;
      * ``(mvx, mvy, lv)``  — P_L0_16x16 with a luma residual: ``lv``
        is a (16, 16) int array of per-4x4 CAVLC scan-order
        coefficient LEVELS (inter blocks carry all 16 positions);
      * ``('p16x8', mv0, mv1[, lv])`` — P_L0_L0_16x8 (r8): top and
        bottom 16x8 partition MVs as (mvx, mvy) pairs;
      * ``('p8x16', mv0, mv1[, lv])`` — P_L0_L0_8x16: left and right;
      * ``('p8x8', subs[, lv])``      — P_8x8: ``subs`` is four
        quadrant entries in raster order, each ``('8x8', mv)``,
        ``('8x4', mv_top, mv_bot)``, ``('4x8', mv_l, mv_r)`` or
        ``('4x4', mv0, mv1, mv2, mv3)`` (Table 7-17 sub_mb_types).

    The encoder replicates the decoder's MV prediction (median /
    skip rules) to derive mvd, and the CAVLC nC neighbour contexts
    to pick coefficient tables — so any decoder divergence shows up
    as a hard mismatch in tests rather than cancelling out.

    ``weights`` (r8) is the explicit pred_weight_table in the parsed
    dict shape ({'ly', 'lc', 'l0': ((wY,oY),(wCb,oCb),(wCr,oCr)),
    'l1': None}) — pass it iff the GOP's IDR was encoded with
    ``weighted_pred=True`` (the PPS flag decides whether the decoder
    parses the table)."""
    bw = _BitW()
    bw.ue(0)                                 # first_mb_in_slice
    bw.ue(0)                                 # slice_type: P
    bw.ue(0)                                 # pps_id
    bw.u(frame_num & 15, 4)                  # frame_num
    if poc_lsb is not None:                  # poc_type 0 streams
        bw.u(poc_lsb & 63, 6)
    bw.u(0, 1)                               # num_ref_idx_override
    bw.u(0, 1)                               # ref_pic_list_modification
    if weights is not None:                  # pred_weight_table (r8)
        _write_pred_weight_table(bw, weights, is_b=False)
    if ref_idc:
        bw.u(0, 1)                           # adaptive_ref_pic_marking
    bw.se(qp - 26)                           # slice_qp_delta
    bw.ue(1)                                 # disable_deblocking
    states: dict = {}
    mv_map: dict = {}
    skip_run = 0
    for addr, spec in enumerate(mb_specs):
        mbx, mby = addr % mbs_w, addr // mbs_w
        if spec is None:
            mv_map[(mbx, mby)] = _mv_pred_skip(mv_map, mbx, mby,
                                               mbs_w)
            states[(mbx, mby)] = _MBState()
            skip_run += 1
            continue
        bw.ue(skip_run)
        skip_run = 0
        if spec[0] == "i16dc":
            # intra macroblock inside the P slice: Intra_16x16 DC
            # prediction, cbp 0/0, one luma DC level (mb_type 3+5)
            st = _MBState()
            st.intra16 = True
            bw.ue(8)
            bw.ue(0)                         # chroma pred DC
            bw.se(0)                         # mb_qp_delta
            dc_scan = np.zeros(16, dtype=np.int64)
            dc_scan[0] = int(spec[1])
            nc = _luma_nc(states, mbx, mby, mbs_w, 0)
            _encode_residual(bw, dc_scan, nc, 16)
            states[(mbx, mby)] = st
            mv_map[(mbx, mby)] = None
            continue
        if isinstance(spec[0], str):         # r8: partitioned inter MB
            kind = spec[0]
            mb_type = {"p16x8": 1, "p8x16": 2, "p8x8": 3}.get(kind)
            if mb_type is None:
                raise ValueError(f"unknown P mb_spec kind {kind!r}")
            bw.ue(mb_type)
            sub_types = None
            if kind == "p8x8":
                subs = spec[1]
                if len(subs) != 4:
                    raise ValueError("p8x8 needs 4 quadrant specs")
                names = {"8x8": 0, "8x4": 1, "4x8": 2, "4x4": 3}
                sub_types = [names[s[0]] for s in subs]
                mv_seq = [mv for s in subs for mv in s[1:]]
                for t in sub_types:
                    bw.ue(t)                 # sub_mb_type (7.3.5.2)
                levels = spec[2] if len(spec) > 2 else None
            else:
                mv_seq = [spec[1], spec[2]]
                levels = spec[3] if len(spec) > 3 else None
            pm = _PartMvs()
            mv_map[(mbx, mby)] = pm          # partitions see siblings
            parts = list(_p_partitions(mb_type, sub_types))
            if len(parts) != len(mv_seq):
                raise ValueError("sub-partition MV count mismatch")
            for (ox, oy, w, h, rule), mv in zip(parts, mv_seq):
                mvp = _mv_pred_part(mv_map, mbx * 4 + ox // 4,
                                    mby * 4 + oy // 4, w // 4,
                                    mbs_w, rule)
                bw.se(int(mv[0]) - mvp[0])
                bw.se(int(mv[1]) - mvp[1])
                pm.fill(ox // 4, oy // 4, w // 4, h // 4,
                        (int(mv[0]), int(mv[1])))
            mv_entry = pm
        else:
            mvx, mvy = spec[0], spec[1]
            levels = spec[2] if len(spec) > 2 else None
            mvpx, mvpy = _mv_pred_16x16(mv_map, mbx, mby, mbs_w)
            bw.ue(0)                         # mb_type P_L0_16x16
            bw.se(mvx - mvpx)
            bw.se(mvy - mvpy)
            mv_entry = (mvx, mvy)
        st = _MBState()
        _emit_inter_levels_cavlc(bw, states, st, levels, mbx, mby, mbs_w)
        states[(mbx, mby)] = st
        mv_map[(mbx, mby)] = mv_entry
    if skip_run:
        bw.ue(skip_run)
    bw.trailing()
    return (b"\x00\x00\x00\x01" + bytes([(ref_idc & 3) << 5 | 1])
            + _escape(bw.bytes()))


def h264_encode_b_frame(mb_specs: list, mbs_w: int, mbs_h: int,
                        poc_lsb: int, qp: int = 30,
                        frame_num: int = 1,
                        col_mvs: dict | None = None,
                        temporal: tuple | None = None,
                        weights: dict | None = None) -> bytes:
    """Encode ONE B frame as an Annex-B non-reference NAL (CAVLC,
    single slice) for a poc_type-0 stream (build the IDR with
    ``h264_encode(..., poc_lsb=...)`` and reference P frames with
    ``h264_encode_p_frame(..., poc_lsb=...)``; decoding order is NAL
    order, output order is POC order).

    ``mb_specs`` is raster-order, one entry per MB:
      * ``None``                    — B_Skip (spatial direct, no
        residual);
      * ``('direct'[, lv])``        — B_Direct_16x16 (spatial direct
        with an optional luma residual);
      * ``('l0', mvx, mvy[, lv])``  — B_L0_16x16 from the nearest
        reference BEFORE this frame in output order;
      * ``('l1', mvx, mvy[, lv])``  — B_L1_16x16 from the nearest
        reference AFTER it;
      * ``('bi', mvx0, mvy0, mvx1, mvy1[, lv])`` — B_Bi_16x16, the
        default (non-weighted) average (p0 + p1 + 1) >> 1;
      * ``('b16x8', part0, part1[, lv])`` / ``('b8x16', part0,
        part1[, lv])`` — two-partition B MB (r8, Table 7-14 types
        4..21): each part is ``('l0', mvx, mvy)``, ``('l1', mvx,
        mvy)`` or ``('bi', mvx0, mvy0, mvx1, mvy1)``;
      * ``('b8x8', [sub0..sub3][, lv])`` — B_8x8 (r8, Table 7-18):
        each quadrant is ``('direct',)`` or ``(mode, shape, mv...)``
        with shape '8x8'/'8x4'/'4x8'/'4x4' and one MV tuple per
        sub-part (see :func:`_b8x8_targets`);
      * ``('i16dc', c)``            — Intra_16x16 DC, one luma level.
    ``lv`` is a (16, 16) scan-order luma level array as in the P
    encoder. MV prediction replicates the decoder per reference list
    (median over neighbours that use the same list). ``col_mvs`` is
    the L1 reference's per-MB L0 motion ((mbx, mby) -> (mvx, mvy) or
    None for intra; default all-intra) — the encoder replicates the
    decoder's spatial-direct derivation (8.4.1.2.2) with it, so
    passing motion that disagrees with the actual reference frame
    shows up as a hard pixel mismatch in tests, never silently.

    ``temporal=(tb, td)`` (r8) switches the direct mode to TEMPORAL
    (direct_spatial_mv_pred_flag = 0): ``tb`` = POC(this B) -
    POC(ref0), ``td`` = POC(ref1) - POC(ref0) — the same distances
    the decoder derives from the GOP's poc_lsb values, replicated
    here so a mismatch is a hard pixel failure in tests."""
    bw = _BitW()
    bw.ue(0)                                 # first_mb_in_slice
    bw.ue(1)                                 # slice_type: B
    bw.ue(0)                                 # pps_id
    bw.u(frame_num & 15, 4)                  # frame_num
    bw.u(poc_lsb & 63, 6)                    # pic_order_cnt_lsb
    bw.u(0 if temporal else 1, 1)            # direct_spatial_mv_pred
    bw.u(0, 1)                               # num_ref_idx_override
    bw.u(0, 1)                               # ref_pic_list_mod_l0
    bw.u(0, 1)                               # ref_pic_list_mod_l1
    if weights is not None:                  # pred_weight_table (r8):
        # only for weighted_bipred_idc=1 GOPs (both lists)
        _write_pred_weight_table(bw, weights, is_b=True)
    # nal_ref_idc 0: no dec_ref_pic_marking
    bw.se(qp - 26)                           # slice_qp_delta
    bw.ue(1)                                 # disable_deblocking
    states: dict = {}
    mvs = {"l0": {}, "l1": {}}

    def code_mvd(lst, mbx, mby, mvx, mvy):
        mvpx, mvpy = _mv_pred_16x16(mvs[lst], mbx, mby, mbs_w)
        bw.se(mvx - mvpx)
        bw.se(mvy - mvpy)
        mvs[lst][(mbx, mby)] = (mvx, mvy)

    def derive_direct(mbx, mby):
        """Replicate the decoder's direct derivation (spatial or
        temporal) and record the derived MVs in the per-list maps."""
        _record_direct(mvs, col_mvs, mbx, mby, mbs_w, temporal)

    skip_run = 0
    for addr, spec in enumerate(mb_specs):
        mbx, mby = addr % mbs_w, addr // mbs_w
        if spec is None:                     # B_Skip: spatial direct
            derive_direct(mbx, mby)
            states[(mbx, mby)] = _MBState()
            skip_run += 1
            continue
        bw.ue(skip_run)                      # mb_skip_run
        skip_run = 0
        if spec[0] == "i16dc":
            st = _MBState()
            st.intra16 = True
            bw.ue(23 + 3)                    # Intra_16x16 DC, CBP 0/0
            bw.ue(0)                         # chroma pred DC
            bw.se(0)                         # mb_qp_delta
            dc_scan = np.zeros(16, dtype=np.int64)
            dc_scan[0] = int(spec[1])
            nc = _luma_nc(states, mbx, mby, mbs_w, 0)
            _encode_residual(bw, dc_scan, nc, 16)
            states[(mbx, mby)] = st
            mvs["l0"][(mbx, mby)] = None
            mvs["l1"][(mbx, mby)] = None
            continue
        kind = spec[0]
        if kind == "direct":                 # B_Direct_16x16
            bw.ue(0)
            levels = spec[1] if len(spec) > 1 else None
            derive_direct(mbx, mby)
        elif kind == "l0":
            bw.ue(1)                         # B_L0_16x16
            levels = spec[3] if len(spec) > 3 else None
            code_mvd("l0", mbx, mby, int(spec[1]), int(spec[2]))
            mvs["l1"][(mbx, mby)] = None
        elif kind == "l1":
            bw.ue(2)                         # B_L1_16x16
            levels = spec[3] if len(spec) > 3 else None
            code_mvd("l1", mbx, mby, int(spec[1]), int(spec[2]))
            mvs["l0"][(mbx, mby)] = None
        elif kind == "bi":
            bw.ue(3)                         # B_Bi_16x16
            levels = spec[5] if len(spec) > 5 else None
            code_mvd("l0", mbx, mby, int(spec[1]), int(spec[2]))
            code_mvd("l1", mbx, mby, int(spec[3]), int(spec[4]))
        elif kind in ("b16x8", "b8x16"):     # r8: two-partition B MB
            shape = 1 if kind == "b16x8" else 2
            p0, p1 = spec[1], spec[2]
            levels = spec[3] if len(spec) > 3 else None
            mb_type = _B_PART_TYPE[(shape, p0[0], p1[0])]
            bw.ue(mb_type)
            targets = []                     # [list][partIdx]
            for part in (p0, p1):
                if part[0] == "bi":
                    targets.append(((int(part[1]), int(part[2])),
                                    (int(part[3]), int(part[4]))))
                elif part[0] == "l0":
                    targets.append(((int(part[1]), int(part[2])),
                                    None))
                else:
                    targets.append((None,
                                    (int(part[1]), int(part[2]))))

            def emit_mvd(li, idx, bx0, by0, w4, h4, mvp,
                         _t=targets):
                mv = _t[idx][li]
                bw.se(mv[0] - mvp[0])
                bw.se(mv[1] - mvp[1])
                return mv

            _code_b_partitions(emit_mvd, mb_type, mvs, None, None,
                               mbx, mby, mbs_w)
        elif kind == "b8x8":                 # r8: B_8x8 sub-parts
            subs = spec[1]
            if len(subs) != 4:
                raise ValueError("b8x8 needs 4 quadrant specs")
            levels = spec[2] if len(spec) > 2 else None
            sub_types, targets = _b8x8_targets(subs)
            bw.ue(22)
            for t in sub_types:
                bw.ue(t)                     # sub_mb_type (7.3.5.2)

            def emit_sub_mvd(li, q, pi, bx0, by0, w4, h4, mvp,
                             _t=targets):
                mv = _t[(li, q, pi)]
                bw.se(mv[0] - mvp[0])
                bw.se(mv[1] - mvp[1])
                return mv

            _code_b_8x8(emit_sub_mvd, sub_types, mvs, col_mvs,
                        temporal, None, None, mbx, mby, mbs_w)
        else:
            raise ValueError(f"unknown B mb_spec kind {kind!r}")
        st = _MBState()
        _emit_inter_levels_cavlc(bw, states, st, levels, mbx, mby, mbs_w)
        states[(mbx, mby)] = st
    if skip_run:
        bw.ue(skip_run)
    bw.trailing()
    return (b"\x00\x00\x00\x01" + bytes([0x01])   # ref_idc 0, type 1
            + _escape(bw.bytes()))


def h264_avcc_config(annexb: bytes) -> bytes:
    """Build an AVCDecoderConfigurationRecord (the avcC box BODY,
    ISO/IEC 14496-15 5.3.3.1) from the SPS/PPS NALs of an Annex-B
    access unit. Length field size is 4 (lengthSizeMinusOne = 3)."""
    sps_nals, pps_nals = [], []
    for nal in _split_annexb_raw(annexb):
        t = nal[0] & 0x1F
        if t == 7:
            sps_nals.append(nal)
        elif t == 8:
            pps_nals.append(nal)
    if not sps_nals or not pps_nals:
        raise ValueError("Annex-B stream lacks SPS or PPS")
    sps_rbsp = _unescape(sps_nals[0][1:])
    out = bytearray()
    out += bytes([1, sps_rbsp[0], sps_rbsp[1], sps_rbsp[2]])
    out.append(0xFC | 3)                     # lengthSizeMinusOne = 3
    out.append(0xE0 | len(sps_nals))
    for nal in sps_nals:
        out += len(nal).to_bytes(2, "big") + nal
    out.append(len(pps_nals))
    for nal in pps_nals:
        out += len(nal).to_bytes(2, "big") + nal
    return bytes(out)


def h264_to_avcc_sample(annexb: bytes) -> bytes:
    """Length-prefix (4-byte) the non-parameter-set NALs of an Annex-B
    access unit — the avc1 MP4 sample payload (parameter sets live in
    the track's avcC record, not in samples)."""
    out = bytearray()
    for nal in _split_annexb_raw(annexb):
        if (nal[0] & 0x1F) in (7, 8):
            continue
        out += len(nal).to_bytes(4, "big") + nal
    if not out:
        raise ValueError("access unit has no sample NALs")
    return bytes(out)


def h264_sample_to_annexb(sample: bytes, avcc: bytes) -> bytes:
    """Rebuild a decodable Annex-B access unit from a length-prefixed
    avc1 sample plus its track's avcC record (SPS/PPS prepended)."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("corrupt avcC record")
    length_size = (avcc[4] & 3) + 1
    sc = b"\x00\x00\x00\x01"
    out = bytearray()
    pos = 5
    n_sps = avcc[pos] & 0x1F
    pos += 1
    for _ in range(n_sps):
        ln = int.from_bytes(avcc[pos:pos + 2], "big")
        pos += 2
        if pos + ln > len(avcc):
            raise ValueError("truncated avcC SPS")
        out += sc + avcc[pos:pos + ln]
        pos += ln
    if pos >= len(avcc):
        raise ValueError("truncated avcC record")
    n_pps = avcc[pos]
    pos += 1
    for _ in range(n_pps):
        ln = int.from_bytes(avcc[pos:pos + 2], "big")
        pos += 2
        if pos + ln > len(avcc):
            raise ValueError("truncated avcC PPS")
        out += sc + avcc[pos:pos + ln]
        pos += ln
    pos = 0
    while pos < len(sample):
        if pos + length_size > len(sample):
            raise ValueError("truncated avc1 sample length prefix")
        ln = int.from_bytes(sample[pos:pos + length_size], "big")
        pos += length_size
        if ln == 0 or pos + ln > len(sample):
            raise ValueError("corrupt avc1 sample NAL length")
        out += sc + sample[pos:pos + ln]
        pos += ln
    return bytes(out)
