"""CABAC binary arithmetic engine (Rec. H.264 §9.3.3.2 decode /
§9.3.4 encode) — the M-coder with 64 probability states and 4 range
cells that HEVC reuses unchanged (H.265 §9.3.4), shared by h265.py.

H.264 CABAC slice syntax is not implemented: h264.py decodes CAVLC
only and rejects ``entropy_coding_mode_flag = 1`` with
NotImplementedError.

Honesty contract — a deviation in the spec's DATA, not its STRUCTURE
(this sandbox has no network, no codec binaries and no conformance
vectors, so the spec's literal table values cannot be sourced):

* ``rangeTabLPS`` / ``transIdxLPS`` are REGENERATED at import from
  the published design formulas of the CABAC authors (D. Marpe,
  H. Schwarz, T. Wiegand, "Context-Based Adaptive Binary Arithmetic
  Coding in the H.264/AVC Video Compression Standard", IEEE TCSVT
  13(7), 2003 — public): alpha = (0.01875/0.5)^(1/63), p_sigma =
  0.5 * alpha^sigma, LPS subranges p_sigma * the four quantized
  range-cell midpoints (288/352/416/480), LPS transition to the
  state nearest the updated probability. The result satisfies every
  engine invariant of Tables 9-44/9-45 and is close to — but not
  certified equal to — their literal values.
* Contexts initialize uniformly (pStateIdx 0, valMPS 0) instead of
  the spec's per-context init tables (pure literal data with no
  generating formula).

Both sides of this repo's codecs share the regenerated tables, so
round-trips are exact (tests/test_h264_cabac.py pins the engine), but
a third-party stream WOULD desync; h265.py therefore decodes only
streams carrying the gorillaspark SEI marker. Substituting the spec's
literal values into ``_RANGE_LPS`` / ``_TRANS_LPS`` / the context
init is a pure data swap.
"""

from __future__ import annotations

from .h264 import _Bits

# ---------------------------------------------------------------------------
# probability model tables — regenerated from the published design
# formulas (see module docstring); NOT the spec's literal Tables
# 9-44/9-45
# ---------------------------------------------------------------------------

_ALPHA = (0.01875 / 0.5) ** (1.0 / 63.0)
_PROB = [0.5 * _ALPHA ** s for s in range(64)]
# range cells [256,320) [320,384) [384,448) [448,512) -> midpoints
_RANGE_LPS = [[max(2, min(240, int(round(_PROB[s] * (288 + 64 * r)))))
               for r in range(4)] for s in range(64)]


def _next_lps(s: int) -> int:
    # LPS observed: its probability grows to alpha*p + (1-alpha);
    # move to the state whose LPS probability is nearest (the MPS
    # flip at state 0 is handled by the engine, so clamp at p=0.5)
    p = min(_ALPHA * _PROB[s] + (1.0 - _ALPHA), 0.5)
    return min(range(63), key=lambda t: abs(_PROB[t] - p))


_TRANS_LPS = [_next_lps(s) for s in range(64)]

# engine invariants the spec tables also satisfy
assert all(2 <= v <= 240 for row in _RANGE_LPS for v in row)
assert all(_RANGE_LPS[s][r] >= _RANGE_LPS[s + 1][r]
           for s in range(63) for r in range(4))
assert all(_RANGE_LPS[s][r] <= _RANGE_LPS[s][r + 1]
           for s in range(64) for r in range(3))
assert all(0 <= _TRANS_LPS[s] <= max(s, 1) for s in range(63))


# context slots per _Ctx (H.264's ctxIdx range)
N_CTX = 320


class _Ctx:
    """Per-slice context variables: pStateIdx + valMPS, uniform init."""

    __slots__ = ("state", "mps")

    def __init__(self):
        self.state = bytearray(N_CTX)
        self.mps = bytearray(N_CTX)


# ---------------------------------------------------------------------------
# arithmetic engine (§9.3.3.2 decode, §9.3.4 encode)
# ---------------------------------------------------------------------------


class _CabacEnc:
    """Arithmetic encoder (§9.3.4): regular / bypass / terminate bins."""

    __slots__ = ("low", "range", "outstanding", "first", "out")

    def __init__(self):
        self.low = 0
        self.range = 510
        self.outstanding = 0
        self.first = True
        self.out: list[int] = []

    def _put(self, b: int):
        if self.first:
            self.first = False
        else:
            self.out.append(b)
        nb = 1 - b
        while self.outstanding:
            self.out.append(nb)
            self.outstanding -= 1

    def _renorm(self):
        while self.range < 256:
            if self.low >= 512:
                self.low -= 512
                self._put(1)
            elif self.low < 256:
                self._put(0)
            else:
                self.low -= 256
                self.outstanding += 1
            self.range <<= 1
            self.low <<= 1

    def bit(self, ctx: _Ctx, idx: int, b: int):
        s = ctx.state[idx]
        rlps = _RANGE_LPS[s][(self.range >> 6) & 3]
        self.range -= rlps
        if b != ctx.mps[idx]:
            self.low += self.range
            self.range = rlps
            if s == 0:
                ctx.mps[idx] ^= 1
            ctx.state[idx] = _TRANS_LPS[s]
        else:
            ctx.state[idx] = s + 1 if s < 62 else 62
        self._renorm()

    def bypass(self, b: int):
        self.low <<= 1
        if b:
            self.low += self.range
        if self.low >= 1024:
            self.low -= 1024
            self._put(1)
        elif self.low < 512:
            self._put(0)
        else:
            self.low -= 512
            self.outstanding += 1

    def terminate(self, b: int):
        self.range -= 2
        if b:
            self.low += self.range
            self.range = 2
            self._renorm()
            # EncodeFlush (§9.3.4.6): a SECOND range=2 renorm pushes
            # the remaining undetermined bits of low out before the
            # final three; the trailing 1 is the rbsp_stop_one_bit
            self.range = 2
            self._renorm()
            self._put((self.low >> 9) & 1)
            v = ((self.low >> 7) & 3) | 1
            self.out.append((v >> 1) & 1)
            self.out.append(v & 1)
        else:
            self._renorm()

    def bytes(self) -> bytes:
        bits = self.out
        buf = bytearray()
        acc = 0
        for i, b in enumerate(bits):
            acc = (acc << 1) | b
            if i % 8 == 7:
                buf.append(acc)
                acc = 0
        rem = len(bits) % 8
        if rem:
            buf.append(acc << (8 - rem))        # zero-pad to byte
        return bytes(buf)


class _CabacDec:
    """Arithmetic decoder (§9.3.3.2) over an aligned _Bits reader."""

    __slots__ = ("br", "range", "offset", "phantom")

    def __init__(self, br: _Bits):
        self.br = br
        self.restart()

    def restart(self):
        """(Re-)initialise the engine (§9.3.1.2) at a byte-aligned
        position — slice start, and again right after I_PCM samples
        (§9.3.1: the engine restarts, the context states persist)."""
        if self.br.pos % 8:
            raise ValueError("CABAC decode requires byte alignment")
        self.phantom = 0
        self.range = 510
        off = 0
        for _ in range(9):
            off = (off << 1) | self._bit()
        if off >= 510:
            raise ValueError("illegal CABAC initialisation value")
        self.offset = off

    def _bit(self) -> int:
        br = self.br
        p = br.pos
        if p < br.n:
            br.pos = p + 1
            return (br.data[p >> 3] >> (7 - (p & 7))) & 1
        # the encoder's flush can leave the decoder a few bits short
        # of its final renorms; a bounded zero tail is spec-legal
        # (cabac_zero_word territory), anything more is corruption
        self.phantom += 1
        if self.phantom > 32:
            raise ValueError("CABAC decode ran past the slice data")
        return 0

    def bit(self, ctx: _Ctx, idx: int) -> int:
        s = ctx.state[idx]
        mps = ctx.mps[idx]
        rlps = _RANGE_LPS[s][(self.range >> 6) & 3]
        self.range -= rlps
        if self.offset >= self.range:
            b = mps ^ 1
            self.offset -= self.range
            self.range = rlps
            if s == 0:
                ctx.mps[idx] = b
            ctx.state[idx] = _TRANS_LPS[s]
        else:
            b = mps
            ctx.state[idx] = s + 1 if s < 62 else 62
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return b

    def bypass(self) -> int:
        self.offset = (self.offset << 1) | self._bit()
        if self.offset >= self.range:
            self.offset -= self.range
            return 1
        return 0

    def bypass_n(self, k: int) -> int:
        """k bypass bins in one step. The per-bin chain (offset' =
        2·offset + t, subtract range when ≥) computes the base-range
        digits of offset·2^k + T, and each quotient digit is 0/1
        because offset < range — so the decoded bins are exactly the
        binary digits of (offset·2^k + T) // range and the final
        offset is the remainder (range is untouched by bypass bins).
        Identical results to k bypass() calls; the slow path keeps
        the phantom-bit accounting when the read crosses the slice
        end."""
        if k <= 0:
            return 0
        br = self.br
        p = br.pos
        if p + k <= br.n:
            b0 = p >> 3
            b1 = (p + k + 7) >> 3
            chunk = int.from_bytes(br.data[b0:b1], "big")
            t = (chunk >> ((b1 - b0) * 8 - (p - b0 * 8) - k)) \
                & ((1 << k) - 1)
            br.pos = p + k
            acc = (self.offset << k) | t
            v = acc // self.range
            self.offset = acc - v * self.range
            return v
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bypass()
        return v

    def terminate(self) -> int:
        self.range -= 2
        if self.offset >= self.range:
            return 1
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return 0
