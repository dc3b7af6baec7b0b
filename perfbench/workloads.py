"""The two workloads: ``backfill`` (batch job) and ``stream`` (micro-batch
sink). Each has a set-up, a write phase, a closed-loop read phase over
what it wrote, and correctness checks against DuckDB.

All program calls go through module attributes (``rollup_job.main``,
``stream_rollup.flush_carry`` …) so the tracer's wrappers see them.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import inputs
import serve
import verify

from gorillaspark.jobs import rollup_job
from gorillaspark.operators import normalize
from gorillaspark.plans import maintenance, session
from gorillaspark.sources import tableio
from gorillaspark.streaming import stream_rollup

DAY_MS = inputs.DAY_MS
SESSION_EXTRA = {"spark.ui.showConsoleProgress": "false"}


class InjectedCrash(RuntimeError):
    pass


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    tracer: object | None
    t_start: float
    cpus: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def spark(self):
        s = session.build_session(app="perfbench", extra=SESSION_EXTRA)
        s.sparkContext.setLogLevel("ERROR")
        if s.sparkContext.defaultParallelism != self.cpus:
            raise RuntimeError(
                f"Spark runs {s.sparkContext.defaultParallelism} tasks "
                f"in parallel, this process has {self.cpus} CPUs")
        return s

    def io(self, warehouse: str):
        return tableio.ParquetTableIO(self.spark(), self.path(warehouse))

    def sink(self, io):
        sink = stream_rollup.incremental_encode(io)
        if self.tracer is not None:
            sink = self.tracer.traced(sink, "stream_rollup.sink")
        return sink

    def mark(self, res: "Result", start: bool) -> None:
        """Open or close the measured phase; snapshot tracer totals."""
        now = time.perf_counter()
        if start:
            res.measure_t0 = now
        else:
            res.measure_t1 = now
        if self.tracer is not None:
            sign = -1 if start else 1
            for key, val in (("trace.own_s", self.tracer.own_s),
                             *self.tracer.counts.items()):
                res.counts[key] = res.counts.get(key, 0) + sign * val

    def top(self, name: str, fn, *args, **kwargs):
        """A benchmark-level step: a top-level span when tracing."""
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.call(name, fn, *args, **kwargs)


@dataclass
class Result:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)          # timed, closed loop
    untimed_ops: list = field(default_factory=list)
    info: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)   # traced, measured phase
    measure_t0: float = 0.0
    measure_t1: float = 0.0


def codec_speed(res: Result, ref) -> None:
    """Single-thread C/numpy kernel speed on the workload's own points,
    one block per series-day: a slow host window shows up here."""
    import numpy as np
    from gorillaspark.codec import native, vector
    ts = ref.pts.column("ts_ms").to_numpy()
    vals = ref.pts.column("bits").to_numpy().view(np.uint64)
    key = np.asarray(ref.pts.column("series_key").to_numpy(
        zero_copy_only=False))
    bts = ts - ts % DAY_MS
    change = np.r_[True, (bts[1:] != bts[:-1]) | (key[1:] != key[:-1])]
    starts = np.flatnonzero(change)
    offsets = np.r_[starts, len(ts)].astype(np.int64)
    enc, dec = [], []
    for _ in range(5):
        t0 = time.perf_counter()
        words, wc = vector.encode_blocks_fast(bts[starts], offsets, ts, vals)
        t1 = time.perf_counter()
        out = vector.decode_blocks_fast(words, wc, n_points_hint=len(ts))
        dec.append(time.perf_counter() - t1)
        enc.append(t1 - t0)
    if not (np.array_equal(out[1], ts) and np.array_equal(out[2], vals)):
        raise RuntimeError("codec round trip differs")
    res.info["codec.native"] = int(native.NATIVE is not None)
    res.info["codec.encode_mpts_s"] = len(ts) / statistics.median(enc) / 1e6
    res.info["codec.decode_mpts_s"] = len(ts) / statistics.median(dec) / 1e6


def _write_input(ctx: Ctx, df, name: str) -> str:
    path = ctx.path(name)
    df.write.mode("overwrite").parquet(path)
    return path


READ_KINDS = ("lookup", "scan", "lookup", "lookup")


def _read_phase(ctx: Ctx, io, res: Result, ref, scan_days: list[int],
                untimed: tuple[str, ...]) -> None:
    """The closed loop, after one untimed operation of each ``untimed``
    kind: the write phase ends by stopping the session, and a long-lived
    reader would not pay the restart (new Python workers) on its first
    queries. Panels (~2 s each) run only there, to leave the loop's time
    to the gated lookups and scans."""
    sd = ref.series_days()
    ops = serve.op_mix(ctx.seed, sd, scan_days, READ_KINDS, n=10_000)
    t0 = time.perf_counter()
    res.untimed_ops = serve.op_mix(ctx.seed + 1, sd, scan_days, untimed,
                                   len(untimed))
    for op in res.untimed_ops:
        ctx.top("serve.restart", serve.run_op, io, op)
    res.ops = ctx.top("serve.loop", serve.closed_loop, io, ops, ctx.seconds)
    res.failures += verify.ops_match(ref, res.untimed_ops)
    res.attempted += len(res.ops) + len(res.untimed_ops)
    res.info["read_s"] = time.perf_counter() - t0
    res.info["op_ms"] = {k: [round(1000 * o.wall_s) for o in res.ops
                             if o.kind == k] for k in set(READ_KINDS)}


# -- backfill --------------------------------------------------------------
BACKFILL = dict(n_conv=2_000, mean_turns=100, n_days=1)
BACKFILL_WARM = dict(n_conv=400, mean_turns=40, n_days=1)
STAGES = ("encode", "rollup", "sketch")
JOB = "bf"


def _main_args(ctx: Ctx, tx: str, wh: str, job: str) -> list[str]:
    now_ms = (inputs.BASE_DAY + 8) * DAY_MS    # fixed: 8 days after input
    return ["--transcripts", tx, "--warehouse", ctx.path(wh),
            "--job-id", job, "--now-ms", str(now_ms)]


def _crashing_job(ctx: Ctx, tx: str, crash_key: str) -> None:
    """``rollup_job.main`` crashed from outside: the ``rollups`` append
    under ``crash_key`` raises, after that unit's encode stage committed."""
    append = tableio.ParquetTableIO.append

    def crashing_append(self, table, df, commit_key=None):
        if table == "rollups" and commit_key == crash_key:
            raise InjectedCrash(crash_key)
        return append(self, table, df, commit_key=commit_key)

    tableio.ParquetTableIO.append = crashing_append
    try:
        rollup_job.main(_main_args(ctx, tx, "wh", JOB))
        raise RuntimeError("the injected crash did not fire")
    except InjectedCrash:
        pass
    finally:
        tableio.ParquetTableIO.append = append


def backfill(ctx: Ctx) -> Result:
    res = Result()
    spark = ctx.spark()
    tx = ctx.top("transcripts.gen", _write_input, ctx,
                 inputs.packed_transcripts(spark, ctx.seed, **BACKFILL), "tx")
    warm_tx = _write_input(ctx, inputs.packed_transcripts(
        spark, ctx.seed + 1, **BACKFILL_WARM), "warm_tx")
    ref = verify.Reference(ctx.path("ref"), tx, per_day=True)
    units = [inputs.day_str(d // DAY_MS) for d in ref.days()]
    rollup_job.main(_main_args(ctx, warm_tx, "warm_wh", JOB))   # warm-up
    res.metrics["setup_s"] = time.perf_counter() - ctx.t_start

    # write phase: the job on a cold warehouse, crashed from outside once
    # the last unit's encode stage committed, then run again
    ctx.mark(res, start=True)
    ctx.top("backfill.crashed_job", _crashing_job, ctx, tx,
            f"{JOB}-rollup/{units[-1]}")
    t_resume = time.perf_counter()
    ctx.top("backfill.resume", rollup_job.main, _main_args(ctx, tx, "wh", JOB))
    t_write = time.perf_counter()
    res.metrics["ingest_pts_per_s"] = ref.n_points / (t_write - res.measure_t0)
    res.info["resume_s"] = t_write - t_resume
    res.info["write_s"] = t_write - res.measure_t0
    res.info["n_points"] = ref.n_points
    # the resumed invocation + its stage-units; the crashed one is not counted
    res.attempted += 1 + len(STAGES) * len(units)
    io = ctx.io("wh")
    _read_phase(ctx, io, res, ref, ref.days(), ("lookup", "scan", "panel"))
    ctx.mark(res, start=False)
    res.info["day_ms"] = ref.days()[0]
    res.info["blocks"] = verify.row_count(io, "blocks")

    res.failures += verify.blocks_match(ref, io, "encode unit")
    res.failures += verify.blocks_unique(ref, io, "resumed job")
    res.failures += verify.rollups_match(ref, io)
    res.failures += verify.sketch_counts_match(ref, io)
    res.failures += verify.meta_once(ref, io, [f"{JOB}-{s}" for s in STAGES],
                                     units)
    res.failures += verify.ops_match(ref, res.ops)
    res.metrics["stored_bytes_per_point"] = \
        verify.stored_bytes(io) / ref.n_points
    codec_speed(res, ref)
    return res


# -- stream ----------------------------------------------------------------
STREAM = dict(n_conv=3_000, mean_turns=100, n_days=2, hours=32)
STREAM_WARM = dict(n_conv=300, mean_turns=40, n_days=1, hours=16)
BATCH_H = 8     # flushing every other 8 h batch cuts days: real fragments


def _write_batches(ctx: Ctx, spark, tx_path: str, name: str) -> str:
    """Latency points (the program's own ``turn_latency_points``) sliced
    into ``BATCH_H``-hour micro-batches, one directory per batch."""
    from pyspark.sql import functions as F
    pts = normalize.validate_points(normalize.turn_latency_points(
        spark.read.parquet(tx_path)))
    b = F.floor((F.col("ts_ms") - F.lit(inputs.BASE_DAY * DAY_MS))
                / F.lit(BATCH_H * 3_600_000))
    path = ctx.path(name)
    pts.withColumn("batch", b).write.partitionBy("batch") \
        .mode("overwrite").parquet(path)
    return path


def _stream(ctx: Ctx, io, batches: str, n_batches: int) -> int:
    """Deliver the micro-batches in order, flushing the carry after every
    other one and at the end, then compact; returns repaired groups."""
    spark = ctx.spark()
    sink = ctx.sink(io)
    for b in range(n_batches):
        sink(spark.read.parquet(os.path.join(batches, f"batch={b}")), b)
        if b % 2 == 1:
            _flush(ctx, io, spark)
    _flush(ctx, io, spark)
    return maintenance.compact_sweep(spark, io, "blocks", job_id="stream")


def _flush(ctx: Ctx, io, spark) -> None:
    if ctx.tracer is not None:
        ctx.tracer.count("stream_rollup.carry_rows", _carry_rows(io))
    stream_rollup.flush_carry(io, spark)


def _carry_rows(io) -> int:
    """Rows in the newest carry snapshot (parquet footers, no Spark)."""
    import glob
    import pyarrow.parquet as pq
    snaps = sorted(glob.glob(os.path.join(io.root, "blocks_carry", "batch=*")),
                   key=lambda d: int(d.rsplit("=", 1)[1]))
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(snaps[-1], "*.parquet"))) \
        if snaps else 0


def stream(ctx: Ctx) -> Result:
    res = Result()
    spark = ctx.spark()
    tx = ctx.top("transcripts.gen", _write_input, ctx,
                 inputs.packed_transcripts(spark, ctx.seed, **STREAM), "tx")
    warm_tx = _write_input(ctx, inputs.packed_transcripts(
        spark, ctx.seed + 1, **STREAM_WARM), "warm_tx")
    batches = _write_batches(ctx, spark, tx, "batches")
    warm_batches = _write_batches(ctx, spark, warm_tx, "warm_batches")
    ref = verify.Reference(ctx.path("ref"), tx, per_day=False)
    _stream(ctx, ctx.io("warm_wh"), warm_batches,
            STREAM_WARM["hours"] // BATCH_H)
    res.metrics["setup_s"] = time.perf_counter() - ctx.t_start

    ctx.mark(res, start=True)
    io = ctx.io("wh")
    n_batches = STREAM["hours"] // BATCH_H
    res.info["frag_groups"] = ctx.top("stream.ingest", _stream, ctx, io,
                                      batches, n_batches)
    t_write = time.perf_counter()
    res.metrics["ingest_pts_per_s"] = ref.n_points / (t_write - res.measure_t0)
    res.info["write_s"] = t_write - res.measure_t0
    res.info["n_points"] = ref.n_points
    # micro-batches + flushes + the compaction sweep
    res.attempted += n_batches + n_batches // 2 + 2
    # scans read whole days only: the last day holds just 8 h
    _read_phase(ctx, io, res, ref, ref.days()[:-1], ("lookup", "scan"))
    ctx.mark(res, start=False)
    res.info["day_ms"] = ref.days()[0]
    res.info["blocks"] = verify.row_count(io, "blocks")

    res.failures += verify.blocks_match(ref, io, "stream day")
    res.failures += verify.blocks_unique(ref, io, "compaction")
    res.failures += verify.ops_match(ref, res.ops)
    res.metrics["stored_bytes_per_point"] = \
        verify.stored_bytes(io) / ref.n_points
    codec_speed(res, ref)
    return res


WORKLOADS = {"backfill": backfill, "stream": stream}


def read_metrics(res: Result) -> dict:
    def p50_ms(kind: str) -> float:
        return 1000 * statistics.median(
            o.wall_s for o in res.ops if o.kind == kind)
    scans = [o for o in res.ops if o.kind == "scan"]
    pts = sum(int(sum(o.result["m4"].column("n").to_pylist()))
              for o in scans)
    return {"lookup_p50_ms": p50_ms("lookup"),
            "scan_pts_per_s": pts / sum(o.wall_s for o in scans)}
