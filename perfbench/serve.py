"""The read operations of the closed-loop read phase.

Each operation runs the program's public read path and materializes its
answer as an Arrow table inside the timed region:

* ``lookup`` — one series-day of raw points (``tableio.read`` + block
  pruning + ``decode_points``);
* ``panel`` — one series' dashboard: its 1h tier rows, a 1h p95
  cascaded from the 1m sketch, and one day of raw points gap-filled at
  1m;
* ``scan`` — every block of one day decoded and M4-downsampled at 1h.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from gorillaspark.operators import downsample, encode, gapfill, sketch

HOT_SERIES = "conv000000"


@dataclass
class Op:
    kind: str
    series: str | None
    day_ms: int
    wall_s: float = 0.0
    result: dict = field(default_factory=dict)

    @property
    def name(self) -> str:
        who = f"{self.series}@" if self.series else ""
        return f"{self.kind}({who}{self.day_ms})"


def _day_blocks(io, day_ms: int, series: str | None = None):
    blocks = io.read("blocks").where(F.col("block_ts") == day_ms)
    if series is not None:
        blocks = blocks.where(F.col("series_key") == series)
    return blocks


def run_op(io, op: Op) -> None:
    t0 = time.perf_counter()
    if op.kind == "lookup":
        op.result["points"] = encode.decode_points(
            _day_blocks(io, op.day_ms, op.series)).toArrow()
    elif op.kind == "panel":
        s = F.col("series_key") == op.series
        op.result["h1"] = (io.read("rollups")
                           .where(s & (F.col("tier") == "1h")).toArrow())
        sk = sketch.dd_sketch_cascade(io.read("sketch_1m").where(s), "1h")
        op.result["p95"] = sketch.dd_sketch_quantile(sk).toArrow()
        raw = encode.decode_points(_day_blocks(io, op.day_ms, op.series))
        op.result["gapfill"] = gapfill.gapfill_ffill(raw, "1m").toArrow()
    elif op.kind == "scan":
        raw = encode.decode_points(_day_blocks(io, op.day_ms))
        op.result["m4"] = downsample.m4_downsample(raw, "1h").toArrow()
    else:
        raise ValueError(op.kind)
    op.wall_s = time.perf_counter() - t0


def op_mix(seed: int, series_days: list[tuple[str, int]],
           scan_days: list[int], kinds: tuple[str, ...], n: int) -> list[Op]:
    """A seeded, interleaved operation order. ``kinds`` is one cycle of
    the mix; lookups and panels pick random series-days, half of the
    panels read the hot series, and scans take ``scan_days`` in turn."""
    rng = random.Random(seed)
    hot_days = [d for s, d in series_days if s == HOT_SERIES]
    cold = [sd for sd in series_days if sd[0] != HOT_SERIES]
    ops, panels, scans = [], 0, 0
    for i in range(n):
        kind = kinds[i % len(kinds)]
        if kind == "scan":     # days in turn: every run scans alike
            ops.append(Op(kind, None, scan_days[scans % len(scan_days)]))
            scans += 1
            continue
        if kind == "panel":
            panels += 1
            if panels % 2 and hot_days:
                ops.append(Op(kind, HOT_SERIES, rng.choice(hot_days)))
                continue
        ops.append(Op(kind, *rng.choice(cold)))
    return ops


def closed_loop(io, ops: list[Op], seconds: float) -> list[Op]:
    """One client: each operation is sent after the previous returns.
    Runs until ``seconds`` have passed and every kind has run once;
    returns the operations that ran."""
    done: list[Op] = []
    left = {o.kind for o in ops}
    t_end = time.perf_counter() + seconds
    for op in ops:
        if time.perf_counter() >= t_end and not left:
            break
        run_op(io, op)
        done.append(op)
        left.discard(op.kind)
    return done
