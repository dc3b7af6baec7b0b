"""Scalar bit stream over 64-bit words, MSB-first.

Semantics match the reference's word-oriented bit sink/source
(`LongArrayOutput.java:115-145`, `LongArrayInput.java:24-92`):

* bits are written most-significant-first within each 64-bit word;
* ``snapshot(closed=True)`` mirrors ``getLongArray()`` called after
  ``close()``/``flush()``: the returned array is every flushed word plus
  the (now empty) current word — i.e. ``total_bits//64 + 2`` words, the
  last of which is always zero after a flush;
* ``snapshot(closed=False)`` mirrors ``getLongArray()`` *without* a
  close (reference test "testCopyFlush", `EncodeGorillaTest.java:483-500`):
  flushed words plus the current partial word.

This scalar implementation is the readable reference behind
:mod:`gorillaspark.codec.scalar`; production blocks are written and read
by the C kernel that :mod:`gorillaspark.codec.vector` dispatches to.
A read past the last word raises ``ValueError`` (a truncated or
corrupt block).
"""

from __future__ import annotations

_U64 = (1 << 64) - 1


def _mask(bits: int) -> int:
    return (1 << bits) - 1


class BitWriter:
    """MSB-first bit writer producing 64-bit words."""

    __slots__ = ("_words", "_cur", "_bits_left")

    def __init__(self) -> None:
        self._words: list[int] = []   # flushed words
        self._cur = 0                 # current word being filled
        self._bits_left = 64

    def write_bit(self, bit: int) -> None:
        self._bits_left -= 1
        if bit:
            self._cur |= 1 << self._bits_left
        if self._bits_left == 0:
            self._flip()

    def write_bits(self, value: int, bits: int) -> None:
        """Write the low ``bits`` bits of ``value``, MSB first."""
        value &= _mask(bits)
        bl = self._bits_left
        if bits <= bl:
            self._cur |= value << (bl - bits)
            self._bits_left = bl - bits
            if self._bits_left == 0:
                self._flip()
        else:
            hi = bits - bl                      # bits that spill to next word
            self._cur |= value >> hi
            self._flip()
            self._cur |= (value << (64 - hi)) & _U64
            self._bits_left = 64 - hi

    def flush(self) -> None:
        """Force the current word out (reference ``flush`` → ``flipWord``)."""
        self._flip()

    def _flip(self) -> None:
        self._words.append(self._cur)
        self._cur = 0
        self._bits_left = 64

    @property
    def bit_length(self) -> int:
        return 64 * len(self._words) + (64 - self._bits_left)

    def snapshot(self, closed: bool = True) -> list[int]:
        """Words as unsigned 64-bit ints, matching ``getLongArray()``.

        With ``closed=True`` the caller has already invoked the codec's
        close() (which flushes), so the trailing element is the empty
        current word (zero). With ``closed=False`` the trailing element
        is the partial current word.
        """
        return [*self._words, self._cur]


class BitReader:
    """MSB-first bit reader over a sequence of unsigned 64-bit words."""

    __slots__ = ("_words", "_pos", "_cur", "_bits_left")

    def __init__(self, words) -> None:
        self._words = [w & _U64 for w in words]
        self._pos = 0
        self._cur = self._words[0] if self._words else 0
        self._pos = 1
        self._bits_left = 64

    def _advance(self) -> None:
        if self._pos >= len(self._words):
            raise ValueError("Gorilla block ends mid-stream "
                             "(truncated or corrupt)")
        self._cur = self._words[self._pos]
        self._pos += 1
        self._bits_left = 64

    def read_bit(self) -> int:
        bit = (self._cur >> (self._bits_left - 1)) & 1
        self._bits_left -= 1
        if self._bits_left == 0:
            self._advance()
        return bit

    def read_bits(self, bits: int) -> int:
        bl = self._bits_left
        if bits <= bl:
            value = (self._cur >> (bl - bits)) & _mask(bits)
            self._bits_left = bl - bits
            if self._bits_left == 0:
                self._advance()
        else:
            value = self._cur & _mask(bl)
            rem = bits - bl
            self._advance()
            value = (value << rem) | (self._cur >> (64 - rem))
            self._bits_left = 64 - rem
        return value

    def next_clear_bit(self, max_bits: int) -> int:
        """Read up to ``max_bits`` bits, stopping after the first 0 bit.

        Returns the control value, e.g. '0'→0, '10'→2, '110'→6,
        '1110'→0xE, '1111'→0xF (reference ``nextClearBit``).
        """
        val = 0
        for _ in range(max_bits):
            val <<= 1
            if self.read_bit():
                val |= 1
            else:
                break
        return val


def words_to_signed(words: list[int]) -> list[int]:
    """Unsigned 64-bit words → signed (Java ``long[]`` view)."""
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def words_to_unsigned(words) -> list[int]:
    """Signed (Java) words → unsigned 64-bit ints."""
    return [w & _U64 for w in words]
