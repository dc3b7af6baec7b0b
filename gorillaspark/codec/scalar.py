"""Scalar (pure-Python) Gorilla codec — the readable reference
implementation: the differential-testing oracle for the C kernel, the
``v1`` path, and the path the codec entry (codec/vector.py) takes when
no compiler is present.

Format parity (re-expressed from scratch, not translated):

* v2 stream: `GorillaCompressor.java:28-143` / `GorillaDecompressor.java:33-127`
  with the value half in `ValueCompressor.java:27-91` /
  `ValueDecompressor.java:32-54` over 64-bit words
  (`LongArrayOutput.java`, `LongArrayInput.java`).
* v1 stream: `Compressor.java:24-182` / `Decompressor.java:22-130`
  (raw signed delta-of-delta buckets, 5-bit leading-zero field with
  clamp-to-31, sigbits stored raw with the 64→0 six-bit trick).

Quirks deliberately preserved for bit-exactness:

* v2 dd == -1 zigzags to 1, minus one → 0, "bits required" = 0 which
  falls into the *default* 36-bit branch (`GorillaCompressor.java:112-138`
  switch has no case 0) — not the 9-bit one.
* close() writes '1111' + 0xFFFFFFFF + one 0 bit + flush
  (`GorillaCompressor.java:84-89`), so a closed stream's word array
  always carries a trailing zero word (`LongArrayOutput.java:141-145`).
* predictors are updated by the encoder even when xor == 0, but the
  decoder skips the update in that branch (`ValueCompressor.java:34-35`
  vs `ValueDecompressor.java:53`) — asymmetric for DFCM, mirrored here.
* timestamps: ts == 0 means "empty" to both sides and a first delta of
  2^27-1 is the empty-stream sentinel (`GorillaDecompressor.java:62-67`).
"""

from __future__ import annotations

import struct

from .bitbuf import BitReader, BitWriter
from .predictors import make_predictor

FIRST_DELTA_BITS = 27
EMPTY_SENTINEL = (1 << FIRST_DELTA_BITS) - 1
_U64 = (1 << 64) - 1
_U32 = (1 << 32) - 1


def double_to_bits(value: float) -> int:
    """IEEE-754 bit pattern of a double, as unsigned 64-bit int."""
    return struct.unpack("<Q", struct.pack("<d", value))[0]


def bits_to_double(bits: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", bits & _U64))[0]


def _i32(x: int) -> int:
    """Wrap to signed 32-bit (Java int cast)."""
    x &= _U32
    return x - (1 << 32) if x >= (1 << 31) else x


def _zigzag32(n: int) -> int:
    """Signed 32-bit → unsigned zigzag (protobuf encoding)."""
    return ((n << 1) ^ (n >> 31)) & _U32


def _unzigzag32(n: int) -> int:
    """Unsigned 32-bit zigzag → signed."""
    n &= _U32
    return (n >> 1) ^ -(n & 1)


def _clz64(x: int) -> int:
    return 64 - x.bit_length()


def _ctz64(x: int) -> int:
    return (x & -x).bit_length() - 1


# --------------------------------------------------------------------------
# v2 (word-oriented) encoder
# --------------------------------------------------------------------------

class GorillaEncoder:
    """v2 block encoder. Values are raw unsigned-64 bit patterns; use
    :func:`double_to_bits` for doubles (bit-transparent: NaN payloads,
    -0.0 and subnormals round-trip exactly)."""

    def __init__(self, block_ts: int, predictor: str = "last_value") -> None:
        self._out = BitWriter()
        self._block_ts = block_ts
        self._ts = 0          # 0 = no first value yet (reference sentinel)
        self._delta = 0       # signed 32-bit stored delta
        self._pred = make_predictor(predictor)
        self._slz = 1 << 30   # "MAX_VALUE": forces new-window on first xor
        self._stz = 0
        self._out.write_bits(block_ts, 64)

    # -- timestamps ---------------------------------------------------

    def _write_first(self, ts: int, value: int) -> None:
        self._delta = _i32(ts - self._block_ts)
        self._ts = ts
        self._out.write_bits(self._delta, FIRST_DELTA_BITS)
        self._pred.update(value)
        self._out.write_bits(value, 64)

    def _compress_ts(self, ts: int) -> None:
        new_delta = _i32(ts - self._ts)
        dd = _i32(new_delta - self._delta)
        if dd == 0:
            self._out.write_bit(0)
        else:
            zz = _zigzag32(dd) - 1          # ≥ 0 (dd != 0 → zigzag ≥ 1)
            nbits = zz.bit_length()
            if 1 <= nbits <= 7:
                self._out.write_bits(zz | (0x02 << 7), 9)
            elif 8 <= nbits <= 9:
                self._out.write_bits(zz | (0x06 << 9), 12)
            elif 10 <= nbits <= 12:
                self._out.write_bits(zz | (0x0E << 12), 16)
            else:
                # nbits == 0 (dd == -1) lands here too — reference quirk
                self._out.write_bits(0x0F, 4)
                self._out.write_bits(zz, 32)
            self._delta = new_delta
        self._ts = ts

    # -- values -------------------------------------------------------

    def _compress_value(self, value: int) -> None:
        value &= _U64
        diff = self._pred.predict() ^ value
        self._pred.update(value)
        if diff == 0:
            self._out.write_bit(0)
            return
        lz = _clz64(diff)
        tz = _ctz64(diff)
        self._out.write_bit(1)
        if lz >= self._slz and tz >= self._stz:
            self._out.write_bit(0)
            sig = 64 - self._slz - self._stz
            self._out.write_bits(diff >> self._stz, sig)
        else:
            self._out.write_bit(1)
            sig = 64 - lz - tz
            self._out.write_bits(lz, 6)
            self._out.write_bits(sig - 1, 6)
            self._out.write_bits(diff >> tz, sig)
            self._slz, self._stz = lz, tz

    # -- public API ---------------------------------------------------

    def add(self, ts: int, value: int) -> None:
        """Append one point; ``value`` is the raw 64-bit pattern."""
        if self._ts == 0:
            self._write_first(ts, value & _U64)
        else:
            self._compress_ts(ts)
            self._compress_value(value)

    def add_double(self, ts: int, value: float) -> None:
        self.add(ts, double_to_bits(value))

    def snapshot(self) -> list[int]:
        """Words so far *without* closing (reference copy-flush path)."""
        return self._out.snapshot(closed=False)

    def close(self) -> list[int]:
        """Terminate the stream and return the full word array."""
        self._out.write_bits(0x0F, 4)
        self._out.write_bits(0xFFFFFFFF, 32)
        self._out.write_bit(0)
        self._out.flush()
        return self._out.snapshot(closed=True)


# --------------------------------------------------------------------------
# v2 decoder
# --------------------------------------------------------------------------

class GorillaDecoder:
    """v2 block decoder; yields (ts, raw-64-bit-value) pairs."""

    def __init__(self, words, predictor: str = "last_value") -> None:
        self._in = BitReader(words)
        self._block_ts = self._in.read_bits(64)
        self._ts = 0
        self._delta = 0
        self._val = 0
        self._pred = make_predictor(predictor)
        self._slz = 1 << 30
        self._stz = 0
        self._done = False

    def _first(self) -> bool:
        delta = self._in.read_bits(FIRST_DELTA_BITS)
        if delta == EMPTY_SENTINEL:
            self._done = True
            return False
        self._delta = delta
        self._val = self._in.read_bits(64)
        self._pred.update(self._val)
        self._ts = (self._block_ts + delta) & _U64
        return True

    def _next_value(self) -> int:
        ctrl = self._in.next_clear_bit(2)
        if ctrl == 3:
            self._slz = self._in.read_bits(6)
            sig = self._in.read_bits(6) + 1
            self._stz = 64 - sig - self._slz
        if ctrl >= 2:
            width = 64 - self._slz - self._stz
            value = self._in.read_bits(width) << self._stz
            value = (self._pred.predict() ^ value) & _U64
            self._pred.update(value)
            return value
        # repeated value: decoder intentionally does NOT update the
        # predictor here (reference asymmetry, see module docstring)
        return self._pred.predict()

    def read(self):
        """Next (ts, raw_value) pair or None at end of stream."""
        if self._done:
            return None
        if self._ts == 0:
            if not self._first():
                return None
            return (self._ts, self._val)
        ctrl = self._in.next_clear_bit(4)
        if ctrl == 0:
            self._ts = (self._ts + self._delta) & _U64
            self._val = self._next_value()
            return (self._ts, self._val)
        if ctrl == 0x02:
            raw = self._in.read_bits(7)
        elif ctrl == 0x06:
            raw = self._in.read_bits(9)
        elif ctrl == 0x0E:
            raw = self._in.read_bits(12)
        elif ctrl == 0x0F:
            raw = self._in.read_bits(32)
            if raw == 0xFFFFFFFF:
                self._done = True
                return None
        else:
            return None
        dd = _unzigzag32(_i32(raw + 1) & _U32)
        self._delta = self._delta + dd
        self._ts = (self._ts + self._delta) & _U64
        self._val = self._next_value()
        return (self._ts, self._val)

    def read_all(self):
        out = []
        while (p := self.read()) is not None:
            out.append(p)
        return out


# --------------------------------------------------------------------------
# v1 (byte-oriented wire format; go-tsz interoperable)
# --------------------------------------------------------------------------

class GorillaV1Encoder:
    """v1 block encoder (raw signed dd buckets; 5-bit lz clamped to 31;
    sigbits written raw in 6 bits with 64 truncating to 0)."""

    def __init__(self, block_ts: int) -> None:
        self._out = BitWriter()
        self._block_ts = block_ts
        self._ts = 0
        self._delta = 0      # long in v1
        self._val = 0
        self._slz = 1 << 30
        self._stz = 0
        self._out.write_bits(block_ts, 64)

    def add(self, ts: int, value: int) -> None:
        value &= _U64
        if self._ts == 0:
            self._delta = ts - self._block_ts
            self._ts = ts
            self._val = value
            self._out.write_bits(self._delta, FIRST_DELTA_BITS)
            self._out.write_bits(value, 64)
            return
        self._compress_ts(ts)
        self._compress_value(value)

    def add_double(self, ts: int, value: float) -> None:
        self.add(ts, double_to_bits(value))

    def _compress_ts(self, ts: int) -> None:
        new_delta = ts - self._ts
        dd = new_delta - self._delta
        if dd == 0:
            self._out.write_bit(0)
        elif -63 <= dd <= 64:
            self._out.write_bits(0x02, 2)
            self._out.write_bits(dd, 7)
        elif -255 <= dd <= 256:
            self._out.write_bits(0x06, 3)
            self._out.write_bits(dd, 9)
        elif -2047 <= dd <= 2048:
            self._out.write_bits(0x0E, 4)
            self._out.write_bits(dd, 12)
        else:
            self._out.write_bits(0x0F, 4)
            self._out.write_bits(dd, 32)
        self._delta = new_delta
        self._ts = ts

    def _compress_value(self, value: int) -> None:
        xor = self._val ^ value
        self._val = value
        if xor == 0:
            self._out.write_bit(0)
            return
        lz = _clz64(xor)
        tz = _ctz64(xor)
        if lz >= 32:
            lz = 31
        self._out.write_bit(1)
        if lz >= self._slz and tz >= self._stz:
            self._out.write_bit(0)
            sig = 64 - self._slz - self._stz
            self._out.write_bits(xor >> self._stz, sig)
        else:
            self._out.write_bit(1)
            self._out.write_bits(lz, 5)
            sig = 64 - lz - tz
            self._out.write_bits(sig, 6)   # 64 truncates to 0 in 6 bits
            self._out.write_bits(xor >> tz, sig)
            self._slz, self._stz = lz, tz

    def close(self) -> bytes:
        self._out.write_bits(0x0F, 4)
        self._out.write_bits(0xFFFFFFFF, 32)
        self._out.write_bit(0)
        self._out.flush()
        words = self._out.snapshot(closed=True)
        return b"".join(struct.pack(">Q", w) for w in words)


class GorillaV1Decoder:
    """v1 block decoder over big-endian bytes."""

    def __init__(self, data: bytes) -> None:
        pad = (-len(data)) % 8
        words = struct.unpack(f">{(len(data) + pad) // 8}Q", data + b"\0" * pad)
        self._in = BitReader(words)
        self._block_ts = self._in.read_bits(64)
        self._ts = 0
        self._delta = 0
        self._val = 0
        self._slz = 1 << 30
        self._stz = 0
        self._done = False

    def read(self):
        if self._done:
            return None
        if self._ts == 0:
            delta = self._in.read_bits(FIRST_DELTA_BITS)
            if delta == EMPTY_SENTINEL:
                self._done = True
                return None
            self._delta = delta
            self._val = self._in.read_bits(64)
            self._ts = self._block_ts + delta
            return (self._ts, self._val)
        ctrl = self._in.next_clear_bit(4)
        dd = 0
        if ctrl == 0x02:
            dd = self._read_signed(7)
        elif ctrl == 0x06:
            dd = self._read_signed(9)
        elif ctrl == 0x0E:
            dd = self._read_signed(12)
        elif ctrl == 0x0F:
            raw = self._in.read_bits(32)
            if raw == 0xFFFFFFFF:
                self._done = True
                return None
            dd = _i32(raw)
        self._delta += dd
        self._ts += self._delta
        self._next_value()
        return (self._ts, self._val)

    def _read_signed(self, bits: int) -> int:
        # v1 asymmetric ranges: value > 2^(bits-1) → value - 2^bits
        # (`Decompressor.java:96-101`; 64 stays positive in 7 bits)
        raw = self._in.read_bits(bits)
        if raw > (1 << (bits - 1)):
            raw -= 1 << bits
        return raw

    def _next_value(self) -> None:
        if self._in.read_bit():
            if self._in.read_bit():
                self._slz = self._in.read_bits(5)
                sig = self._in.read_bits(6)
                if sig == 0:
                    sig = 64
                self._stz = 64 - sig - self._slz
            width = 64 - self._slz - self._stz
            value = self._in.read_bits(width) << self._stz
            self._val = (self._val ^ value) & _U64

    def read_all(self):
        out = []
        while (p := self.read()) is not None:
            out.append(p)
        return out
