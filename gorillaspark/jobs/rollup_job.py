"""End-to-end resumable rollup job (spark-submit entry point).

    spark-submit --py-files gorillaspark.zip \
        gorillaspark/jobs/rollup_job.py \
        --transcripts <path-or-table> --warehouse <dir> \
        [--job-id run1] [--now-ms <epoch>]

Pipeline per day-unit (resumable; see plans/checkpoint.py):
  scan transcripts (pruned to the unit's day) → stable turn ordering →
  latency points → Gorilla blocks (encode, write `blocks`) →
  1m/1h/1d rollups (write `rollups`) → 1m DDSketch tier (write
  `sketch_1m` — the mergeable-quantile base: coarse-tier p95 at query
  time cascades from these rows with a 1% bound instead of re-reading
  raw; operators/sketch.py) → retention sweep → compaction sweep
  (merge streaming-fragmented day blocks; plans/maintenance.py —
  idempotent per table snapshot).

Every stage is stock DataFrame API + the segmented codec kernel; the
unit key is the UTC day of the turn timestamp so partition pruning
reaches the parquet scan.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import functions as F

from ..operators.encode import encode_points
from ..operators.normalize import turn_latency_points, validate_points
from ..operators.retention import RetentionPolicy, retention_sweep
from ..operators.rollup import rollup_from_lower, rollup_tier
from ..operators.sketch import dd_sketch_tier
from ..plans.checkpoint import run_resumable_shared
from ..plans.maintenance import compact_sweep
from ..plans.session import build_session
from ..sources.tableio import ParquetTableIO


def day_units(df) -> list[str]:
    rows = (df.select(F.date_format(F.col("ts").cast("timestamp"),
                                    "yyyy-MM-dd").alias("d"))
            .distinct().orderBy("d").collect())
    return [r.d for r in rows]


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--job-id", default="rollup")
    ap.add_argument("--now-ms", type=int, default=None)
    args = ap.parse_args(argv)

    spark = build_session(app=f"gorillaspark-{args.job_id}")
    io = ParquetTableIO(spark, args.warehouse)
    transcripts = spark.read.parquet(args.transcripts)
    units = day_units(transcripts)

    def day_points(day: str):
        """The unit's shared input: scan the day's transcripts ONCE,
        derive latency points once; all three sinks below consume this
        (persisted by run_resumable_shared), so ingest cost is 1x, not
        3x, per unit — each stage still commits its own _meta row."""
        tday = transcripts.where(
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
            == day)
        return validate_points(turn_latency_points(tday))

    def day_rollups(pts):
        m1 = rollup_tier(pts, "1m")
        h1 = rollup_from_lower(m1, "1h", p95_source=pts)
        d1 = rollup_from_lower(h1, "1d", p95_source=pts)
        return m1.unionByName(h1).unionByName(d1)

    rans = run_resumable_shared(
        spark, io,
        [(f"{args.job_id}-encode",
          lambda pts: encode_points(pts, "double"), "blocks"),
         (f"{args.job_id}-rollup", day_rollups, "rollups"),
         (f"{args.job_id}-sketch",
          lambda pts: dd_sketch_tier(pts, "1m"), "sketch_1m")],
        units, day_points)
    ran = rans[f"{args.job_id}-encode"]
    ran2 = rans[f"{args.job_id}-rollup"]
    ran3 = rans[f"{args.job_id}-sketch"]

    now_ms = args.now_ms or int(time.time() * 1000)
    dropped = retention_sweep(io, "blocks", "raw", now_ms,
                              RetentionPolicy())
    # maintenance: merge any day-blocks fragmented by streaming
    # ingestion (idempotent per table snapshot; _meta lineage row)
    compacted = compact_sweep(spark, io, "blocks", job_id=args.job_id)
    print({"encoded_units": len(ran), "rollup_units": len(ran2),
           "sketch_units": len(ran3),
           "retention_dropped_snapshots": dropped,
           "compacted_fragmented_groups": compacted})
    spark.stop()


if __name__ == "__main__":
    main()
