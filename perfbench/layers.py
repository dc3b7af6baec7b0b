"""Per-layer metrics of a traced run.

Eager calls (the job, the ledger, table I/O, the stream sink, retention,
compaction) are timed by their spans. Lazy operators only build plans
when called, so their execution is attributed with a ladder run on one
representative day after the measured phase: each rung adds one layer
to the previous rung's plan and ends in a ``noop`` sink, and a layer's
time is the difference between its rung and the one below.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

import inputs

from gorillaspark.operators import (downsample, encode, gapfill, normalize,
                                    rollup, sketch)

DAY_MS = inputs.DAY_MS


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _passthrough(batches):
    yield from batches


def ladder(spark, tx_path: str, io, day_ms: int) -> dict[str, float]:
    """Rung timings on one day: scan → points → encode layout → Arrow
    pass-through → encode kernel; cached blocks → Arrow → decode kernel;
    and the rollup, sketch, gap-fill and M4 operators on cached input."""
    out: dict[str, float] = {}
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd") \
        == inputs.day_str(day_ms // DAY_MS)
    tday = spark.read.parquet(tx_path).where(day)
    scan = _noop(tday)
    pts_plan = normalize.validate_points(normalize.turn_latency_points(tday))
    out["normalize.scan_s"] = scan
    out["normalize.points_s"] = _noop(pts_plan) - scan

    pts = pts_plan.cache()
    pts.count()
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    laid_out = (pts.repartition(n_part, F.col("series_key"),
                                normalize.block_key("ts_ms"))
                .sortWithinPartitions("series_key", "ts_ms"))
    shuffle = _noop(laid_out)
    arrow = _noop(laid_out.mapInArrow(_passthrough, laid_out.schema))
    out["encode.shuffle_sort_s"] = shuffle
    out["encode.arrow_s"] = arrow - shuffle
    out["encode.kernel_s"] = _noop(encode.encode_points(pts, "double")) - arrow

    blocks = io.read("blocks").where(F.col("block_ts") == day_ms).cache()
    blocks.count()
    cached = _noop(blocks)
    arrow = _noop(blocks.mapInArrow(_passthrough, blocks.schema))
    out["encode.decode_arrow_s"] = arrow - cached
    decoded = encode.decode_points(blocks)
    out["encode.decode_kernel_s"] = _noop(decoded) - arrow

    m1 = rollup.rollup_tier(pts, "1m")
    tier = _noop(m1)
    h1 = rollup.rollup_from_lower(m1, "1h", p95_source=pts)
    d1 = rollup.rollup_from_lower(h1, "1d", p95_source=pts)
    out["rollup.tier_1m_s"] = tier
    out["rollup.cascade_s"] = _noop(m1.unionByName(h1).unionByName(d1)) - tier
    sk = sketch.dd_sketch_tier(pts, "1m")
    tier = _noop(sk)
    out["sketch.tier_1m_s"] = tier
    out["sketch.quantile_s"] = _noop(sketch.dd_sketch_quantile(
        sketch.dd_sketch_cascade(sk, "1h"))) - tier

    decoded = decoded.cache()
    decoded.count()
    out["gapfill.ffill_s"] = _noop(gapfill.gapfill_ffill(decoded, "1m"))
    out["downsample.m4_s"] = _noop(downsample.m4_downsample(decoded, "1h"))
    for df in (pts, blocks, decoded):
        df.unpersist()
    return out


def per_layer(ctx, tracer, res) -> dict:
    t0, t1 = res.measure_t0, res.measure_t1
    wall = t1 - t0

    def spans(name, measured=True):
        return [s for s in tracer.spans if s.name == name
                and (not measured or t0 <= s.t0 and s.t1 <= t1)]

    def total(name, measured=True):
        return sum(s.dur for s in spans(name, measured))

    def p(values, q):
        values = sorted(values)
        if not values:
            return 0.0
        return values[min(len(values) - 1, int(q * len(values)))]

    stages = [s for s in spans("checkpoint.stage")
              if not s.attrs.get("error")]
    skipped = 0
    for sp in spans("checkpoint.run_resumable_shared"):
        if "planned" in sp.attrs:
            ran = [s for s in tracer.spans if s.parent == sp.sid
                   and s.name == "checkpoint.stage"]
            skipped += sp.attrs["planned"] - len(ran)
    reads = [s for s in spans("tableio.read") if "files" in s.attrs]
    lookups = [1000 * o.wall_s for o in res.ops if o.kind == "lookup"]
    panels = [1000 * o.wall_s for o in res.untimed_ops if o.kind == "panel"]
    m = {
        "session.start_s": spans("session.start", measured=False)[0].dur,
        "transcripts.gen_s": total("transcripts.gen", measured=False),
        "rollup_job.day_units_s": total("rollup_job.day_units"),
        "rollup_job.spark_jobs": sum(tracer.subtree_jobs(s)
                                     for s in spans("rollup_job.main")),
        "checkpoint.completed_units_s": total("checkpoint.completed_units"),
        "checkpoint.record_unit_s": total("checkpoint.record_unit"),
        "checkpoint.stage_self_s": sum(s.self_s for s in stages),
        "checkpoint.units_run": len(stages),
        "checkpoint.units_skipped": skipped,
        "checkpoint.spark_jobs_per_unit":
            sum(tracer.subtree_jobs(s) for s in stages) / max(len(stages), 1),
        "checkpoint.resume_s": total("backfill.resume"),
        "tableio.append_s": total("tableio.append"),
        "tableio.read_s": total("tableio.read"),
        "tableio.rewrite_s": total("tableio.rewrite"),
        "tableio.manifest_reads": res.counts.get("tableio.manifest_reads", 0),
        "tableio.files_per_read":
            statistics.mean(s.attrs["files"] for s in reads) if reads else 0,
        "tableio.bytes_written": sum(
            s.attrs.get("bytes", 0)
            for s in spans("tableio.append") + spans("tableio.rewrite")),
        "retention.sweep_s": total("retention.sweep"),
        "retention.dropped": sum(s.attrs.get("retention.dropped", 0)
                                 for s in spans("retention.sweep")),
        "maintenance.compact_s": total("maintenance.compact"),
        "maintenance.frag_groups": sum(
            s.attrs.get("maintenance.frag_groups", 0)
            for s in spans("maintenance.compact")),
        "stream_rollup.sink_p50_s": statistics.median(
            [s.dur for s in spans("stream_rollup.sink")] or [0.0]),
        "stream_rollup.flush_s": total("stream_rollup.flush"),
        "stream_rollup.carry_rows": res.counts.get(
            "stream_rollup.carry_rows", 0),
        "serve.lookup_p80_ms": p(lookups, 0.8),
        "serve.panel_ms": panels[0] if panels else 0.0,
        "serve.samples": len(res.ops),
        "trace.overhead_share": res.counts["trace.own_s"] / wall,
        "trace.coverage_share": tracer.top_level_s(t0, t1) / wall,
        "encode.blocks": res.info["blocks"],
        **{k: res.info[k] for k in ("codec.native", "codec.encode_mpts_s",
                                    "codec.decode_mpts_s")},
    }
    spark = ctx.spark()
    m.update(ladder(spark, ctx.path("tx"), ctx.io("wh"), res.info["day_ms"]))
    return m
