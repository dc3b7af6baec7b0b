"""High-profile H.264 8x8-transform tools (Rec. ITU-T H.264 §8.3.2,
§8.5.12-8.5.13): the 8x8 zigzag scan, flat-scaling quant/dequant
tables, the integer 8x8 inverse (and a matching forward) transform,
and the nine Intra_8x8 prediction modes with §8.3.2.2.1 reference
filtering. Pure math + tables; the MB-layer integration (CAVLC)
lives in h264.py.

Honesty contract (same posture as h264_cabac's regenerated
arithmetic-coder tables): this sandbox has no H.264 conformance vectors
or third-party codec, so the Table-derived CONSTANTS below
(_DEQUANT8 / _QUANT8_MF norm-adjustment rows) are transcriptions
that cannot be cross-validated here. The GOP decoder therefore only
accepts 8x8-transform streams carrying the gorillaspark SEI marker
and loudly rejects foreign High-profile streams rather than risking
a silent misdecode; a validated data swap would restore interop.
Everything structural (scan, butterfly, prediction equations,
syntax) follows the public spec and is pinned by round-trip +
self-consistency tests (tests/test_h264_hi.py), including a
float-DCT cross-check of the transform/quant chain.
"""

from __future__ import annotations

import numpy as np

# 8x8 zigzag scan (Figure 8-8 frame scan = the classic diagonal
# zigzag), generated algorithmically: position k of the scan is the
# (row, col) visited walking anti-diagonals alternately up and down.


def _gen_zigzag(n: int):
    order = []
    for s in range(2 * n - 1):
        rng = range(max(0, s - n + 1), min(s, n - 1) + 1)
        diag = [(s - j, j) for j in rng]
        if s % 2 == 1:
            diag.reverse()           # odd diagonals run top-right down
        order.extend(diag)
    return order


_ZZ8_POS = _gen_zigzag(8)            # scan index -> (row, col)
ZZ8 = np.array([r * 8 + c for r, c in _ZZ8_POS], dtype=np.int64)

# flat-scaling (no scaling matrices) norm-adjustment tables. Six
# position classes per qp%6 row; the class of (i, j) depends on
# (i%4, j%4) via _CLASS8.
_DEQUANT8 = np.array([
    [20, 18, 32, 19, 25, 24],
    [22, 19, 35, 21, 28, 26],
    [26, 23, 42, 24, 33, 31],
    [28, 25, 45, 26, 35, 33],
    [32, 28, 51, 30, 40, 38],
    [36, 32, 58, 34, 43, 41],
], dtype=np.int64)
_QUANT8_MF = np.array([
    [13107, 11428, 20972, 12222, 16777, 15481],
    [11916, 10826, 19174, 11058, 14980, 14290],
    [10082, 8943, 15978, 9675, 12710, 11985],
    [9362, 8228, 14913, 8931, 11984, 11259],
    [8192, 7346, 13159, 7740, 10486, 9777],
    [7282, 6428, 11570, 6830, 9754, 9062],
], dtype=np.int64)
_CLASS8 = np.array([0, 3, 4, 3,
                    3, 1, 5, 1,
                    4, 5, 2, 5,
                    3, 1, 5, 1], dtype=np.int64)


def _class_grid():
    g = np.empty((8, 8), dtype=np.int64)
    for i in range(8):
        for j in range(8):
            g[i, j] = _CLASS8[(i % 4) * 4 + (j % 4)]
    return g


_CLASS_GRID = _class_grid()


def dequant8(c: np.ndarray, qp: int) -> np.ndarray:
    """LevelScale8x8 dequant (8.5.13.1): LS = weightScale (16, flat
    scaling lists) * normAdjust8x8(qp%6, class)."""
    ls = 16 * _DEQUANT8[qp % 6][_CLASS_GRID]
    if qp >= 36:
        return (c * ls) << (qp // 6 - 6)
    shift = 6 - qp // 6
    return (c * ls + (1 << (shift - 1))) >> shift


def quant8(w: np.ndarray, qp: int) -> np.ndarray:
    """Forward quant matching :func:`dequant8` (the JM reference
    shape: level = (|w|*MF + f) >> (16 + qp//6), f = intra third)."""
    mf = _QUANT8_MF[qp % 6][_CLASS_GRID]
    qbits = 16 + qp // 6
    f = (1 << qbits) // 3
    lv = (np.abs(w) * mf + f) >> qbits
    return np.where(w < 0, -lv, lv)


def idct8(d: np.ndarray) -> np.ndarray:
    """Integer 8x8 inverse transform (8.5.12.2), WITHOUT the final
    (x + 32) >> 6 rounding (the caller adds the residual shift)."""

    def stage(a):
        # a: (..., 8) along the last axis
        a0, a1, a2, a3 = a[..., 0], a[..., 1], a[..., 2], a[..., 3]
        a4, a5, a6, a7 = a[..., 4], a[..., 5], a[..., 6], a[..., 7]
        e0 = a0 + a4
        e1 = -a3 + a5 - a7 - (a7 >> 1)
        e2 = a0 - a4
        e3 = a1 + a7 - a3 - (a3 >> 1)
        e4 = (a2 >> 1) - a6
        e5 = -a1 + a7 + a5 + (a5 >> 1)
        e6 = a2 + (a6 >> 1)
        e7 = a3 + a5 + a1 + (a1 >> 1)
        f0 = e0 + e6
        f1 = e1 + (e7 >> 2)
        f2 = e2 + e4
        f3 = e3 + (e5 >> 2)
        f4 = e2 - e4
        f5 = (e3 >> 2) - e5
        f6 = e0 - e6
        f7 = e7 - (e1 >> 2)
        return np.stack([f0 + f7, f2 + f5, f4 + f3, f6 + f1,
                         f6 - f1, f4 - f3, f2 - f5, f0 - f7],
                        axis=-1)

    h = stage(d)                     # horizontal (rows)
    return stage(np.swapaxes(h, -1, -2)).swapaxes(-1, -2)


def _fwd8_1d(a: np.ndarray) -> np.ndarray:
    """Forward 8x8 butterfly (one dimension, last axis) — the
    reference-encoder shape whose row norms the _QUANT8_MF table
    absorbs. Used only by OUR encoder (residual -> coefficients)."""
    s07 = a[..., 0] + a[..., 7]
    s16 = a[..., 1] + a[..., 6]
    s25 = a[..., 2] + a[..., 5]
    s34 = a[..., 3] + a[..., 4]
    a0 = s07 + s34
    a1 = s16 + s25
    a2 = s07 - s34
    a3 = s16 - s25
    d07 = a[..., 0] - a[..., 7]
    d16 = a[..., 1] - a[..., 6]
    d25 = a[..., 2] - a[..., 5]
    d34 = a[..., 3] - a[..., 4]
    a4 = d16 + d25 + (d07 + (d07 >> 1))
    a5 = d07 - d34 - (d25 + (d25 >> 1))
    a6 = d07 + d34 - (d16 + (d16 >> 1))
    a7 = d16 - d25 + (d34 + (d34 >> 1))
    return np.stack([a0 + a1, a4 + (a7 >> 2), a2 + (a3 >> 1),
                     a5 + (a6 >> 2), a0 - a1, a6 - (a5 >> 2),
                     (a2 >> 1) - a3, (a4 >> 2) - a7], axis=-1)


def fwd8(x: np.ndarray) -> np.ndarray:
    """Forward 8x8 transform: the 1-D butterfly applied to rows then
    columns (DC gain 64, matching :func:`quant8`/:func:`dequant8`)."""
    h = _fwd8_1d(x)
    return _fwd8_1d(np.swapaxes(h, -1, -2)).swapaxes(-1, -2)


# ---------------------------------------------------------------------------
# Intra_8x8 prediction (8.3.2.2)
# ---------------------------------------------------------------------------


def filter_ref8(top, tl, left):
    """Reference sample filtering (8.3.2.2.1). ``top`` is the 16
    above samples with unavailable top-right already substituted by
    the caller (replicating top[7]), or None; ``left`` the 8 left
    samples or None; ``tl`` the corner or None. Returns (top',
    tl', left') filtered with the 3-tap kernel and spec edge
    handling."""
    ft = fl = None
    ftl = tl
    if top is not None:
        t = np.asarray(top, dtype=np.int64)
        ft = np.empty(16, dtype=np.int64)
        first = tl if tl is not None else t[0]
        ft[0] = (first + 2 * t[0] + t[1] + 2) >> 2
        ft[1:15] = (t[0:14] + 2 * t[1:15] + t[2:16] + 2) >> 2
        ft[15] = (t[14] + 3 * t[15] + 2) >> 2
    if left is not None:
        lf = np.asarray(left, dtype=np.int64)
        fl = np.empty(8, dtype=np.int64)
        first = tl if tl is not None else lf[0]
        fl[0] = (first + 2 * lf[0] + lf[1] + 2) >> 2
        fl[1:7] = (lf[0:6] + 2 * lf[1:7] + lf[2:8] + 2) >> 2
        fl[7] = (lf[6] + 3 * lf[7] + 2) >> 2
    if tl is not None:
        if top is not None and left is not None:
            ftl = (top[0] + 2 * tl + left[0] + 2) >> 2
        elif top is not None:
            ftl = (3 * tl + top[0] + 2) >> 2
        elif left is not None:
            ftl = (3 * tl + left[0] + 2) >> 2
    return ft, ftl, fl


def pred8(mode: int, top, tl, left) -> np.ndarray:
    """One Intra_8x8 prediction (8.3.2.2.2-8.3.2.2.10) over the
    FILTERED reference samples from :func:`filter_ref8`. ``top``:
    16 filtered above samples (or None), ``left``: 8 filtered left
    samples (or None), ``tl`` the filtered corner (or None)."""
    out = np.empty((8, 8), dtype=np.int64)
    if mode == 0:                    # Vertical
        if top is None:
            raise ValueError("I8x8 V prediction without top")
        out[:] = top[:8]
        return out
    if mode == 1:                    # Horizontal
        if left is None:
            raise ValueError("I8x8 H prediction without left")
        out[:] = np.asarray(left, dtype=np.int64)[:, None]
        return out
    if mode == 2:                    # DC with availability fallbacks
        if top is not None and left is not None:
            dc = (int(top[:8].sum()) + int(left.sum()) + 8) >> 4
        elif top is not None:
            dc = (int(top[:8].sum()) + 4) >> 3
        elif left is not None:
            dc = (int(left.sum()) + 4) >> 3
        else:
            dc = 128
        out[:] = dc
        return out
    if mode == 3:                    # Diagonal down-left
        if top is None:
            raise ValueError("I8x8 DDL prediction without top")
        t = top
        for y in range(8):
            for x in range(8):
                if x == 7 and y == 7:
                    out[y, x] = (t[14] + 3 * t[15] + 2) >> 2
                else:
                    i = x + y
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2]
                                 + 2) >> 2
        return out
    if mode == 4:                    # Diagonal down-right
        if top is None or left is None or tl is None:
            raise ValueError("I8x8 DDR prediction needs all edges")
        t, lf = top, left
        for y in range(8):
            for x in range(8):
                if x > y:
                    i = x - y
                    a = tl if i == 1 else t[i - 2]
                    b = tl if i == 0 else t[i - 1]
                    out[y, x] = (a + 2 * b + t[i] + 2) >> 2
                elif x < y:
                    i = y - x
                    a = tl if i == 1 else lf[i - 2]
                    b = tl if i == 0 else lf[i - 1]
                    out[y, x] = (a + 2 * b + lf[i] + 2) >> 2
                else:
                    out[y, x] = (t[0] + 2 * tl + lf[0] + 2) >> 2
        return out
    if mode == 5:                    # Vertical-right
        if top is None or left is None or tl is None:
            raise ValueError("I8x8 VR prediction needs all edges")
        t, lf = top, left
        for y in range(8):
            for x in range(8):
                z = 2 * x - y
                if z >= 0 and z % 2 == 0:
                    i = x - (y >> 1)
                    a = tl if i == 0 else t[i - 1]
                    out[y, x] = (a + t[i] + 1) >> 1
                elif z >= 0:
                    i = x - (y >> 1)
                    if i == 0:
                        out[y, x] = (lf[0] + 2 * tl + t[0] + 2) >> 2
                    elif i == 1:
                        out[y, x] = (tl + 2 * t[0] + t[1] + 2) >> 2
                    else:
                        out[y, x] = (t[i - 2] + 2 * t[i - 1] + t[i]
                                     + 2) >> 2
                elif z == -1:
                    out[y, x] = (lf[0] + 2 * tl + t[0] + 2) >> 2
                else:
                    i = y - 2 * x
                    a = tl if i == 2 else lf[i - 3]
                    out[y, x] = (lf[i - 1] + 2 * lf[i - 2] + a
                                 + 2) >> 2
        return out
    if mode == 6:                    # Horizontal-down
        if top is None or left is None or tl is None:
            raise ValueError("I8x8 HD prediction needs all edges")
        t, lf = top, left
        for y in range(8):
            for x in range(8):
                z = 2 * y - x
                if z >= 0 and z % 2 == 0:
                    i = y - (x >> 1)
                    a = tl if i == 0 else lf[i - 1]
                    out[y, x] = ((a + lf[i] + 1) >> 1 if i >= 1
                                 else (tl + lf[0] + 1) >> 1)
                elif z >= 0:
                    i = y - (x >> 1)
                    if i == 0:
                        out[y, x] = (t[0] + 2 * tl + lf[0] + 2) >> 2
                    elif i == 1:
                        out[y, x] = (tl + 2 * lf[0] + lf[1] + 2) >> 2
                    else:
                        out[y, x] = (lf[i - 2] + 2 * lf[i - 1] + lf[i]
                                     + 2) >> 2
                elif z == -1:
                    out[y, x] = (t[0] + 2 * tl + lf[0] + 2) >> 2
                else:
                    i = x - 2 * y
                    a = tl if i == 2 else t[i - 3]
                    out[y, x] = (t[i - 1] + 2 * t[i - 2] + a + 2) >> 2
        return out
    if mode == 7:                    # Vertical-left
        if top is None:
            raise ValueError("I8x8 VL prediction without top")
        t = top
        for y in range(8):
            for x in range(8):
                i = x + (y >> 1)
                if y % 2 == 0:
                    out[y, x] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    out[y, x] = (t[i] + 2 * t[i + 1] + t[i + 2]
                                 + 2) >> 2
        return out
    if mode == 8:                    # Horizontal-up
        if left is None:
            raise ValueError("I8x8 HU prediction without left")
        lf = left
        for y in range(8):
            for x in range(8):
                z = x + 2 * y
                if z > 13:
                    out[y, x] = lf[7]
                elif z == 13:
                    out[y, x] = (lf[6] + 3 * lf[7] + 2) >> 2
                elif z % 2 == 0:
                    i = y + (x >> 1)
                    out[y, x] = (lf[i] + lf[i + 1] + 1) >> 1
                else:
                    i = y + (x >> 1)
                    out[y, x] = (lf[i] + 2 * lf[i + 1] + lf[i + 2]
                                 + 2) >> 2
        return out
    raise ValueError(f"bad Intra8x8 pred mode {mode}")
