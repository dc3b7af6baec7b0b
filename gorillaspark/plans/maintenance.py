"""Table maintenance: block compaction as an idempotent, lineage-
recorded sweep — the piece that runs alongside retention in the
resumable rollup job.

Streaming ingestion (streaming/stream_rollup.py) can leave a day's
block split across micro-batch fragments when a flush lands mid-day;
fragments decode correctly but waste per-block headers and inflate
block counts. ``compact_sweep`` repairs the table in place:

* only fragmented (series_key, block_ts) groups decode → re-encode
  (operators/encode.compact_blocks — proven bit-identical to a
  single-pass encode); the untouched majority is rewritten as-is;
* the rewrite is one atomic manifest swap (ParquetTableIO.rewrite,
  the Iceberg ``rewrite_data_files`` analogue) keyed by the snapshot
  it compacted, so a crashed/re-run sweep is a no-op and a *changed*
  table compacts again under a fresh key;
* each sweep commits a ``_meta`` lineage row (job_id =
  ``{job_id}-compact``, unit = the compacted snapshot id) whose counts
  are the rewrite entry's ``added_*`` counts — the compacted blocks are
  computed once, by the rewrite's write. A crash
  BETWEEN the rewrite commit and the lineage commit is repaired on
  the next sweep: committed ``{job_id}/compact/*`` keys with no
  matching ``_meta`` row are backfilled from their entries (wall_ms 0
  marks a backfill), mirroring run_resumable_shared's
  crash-between-commits contract.

The sweep decides from the manifest first: a snapshot with fewer than
two live entries holding files cannot be fragmented, because each
writer of ``blocks`` (``encode_points``, ``compact_blocks``) writes at
most one block per ``(series_key, block_ts)`` per commit. Only a table
built by two or more live commits pays ``fragmented_group_count``'s
Spark job. The lineage rows are written and read on the driver
(plans/checkpoint.py), so a sweep of a single-commit table starts no
Spark job at all.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.encode import compact_blocks
from .checkpoint import completed_units, record_unit


def fragmented_group_count(blocks) -> int:
    """Number of (series_key, block_ts) groups split across >1 block."""
    return (blocks.groupBy("series_key", "block_ts")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1).count())


def _backfill_lineage(spark: SparkSession, io, table: str,
                      job_id: str) -> None:
    """Repair lineage for compactions whose rewrite committed but whose
    ``_meta`` row was lost to a crash (idempotent: record_unit dedups
    on its own commit key)."""
    prefix = f"{job_id}/compact/"
    done = completed_units(spark, io, f"{job_id}-compact")
    for s in io.snapshots(table):
        if not (s.commit_key or "").startswith(prefix):
            continue
        unit = s.commit_key[len(prefix):]
        if unit in done:
            continue
        record_unit(spark, io, f"{job_id}-compact", unit=unit,
                    rows_out=s.added_rows, out_partitions=s.added_files,
                    out_bytes_est=s.added_bytes,
                    snapshot_id=s.snapshot_id, wall_ms=0)


def compact_sweep(spark: SparkSession, io, table: str = "blocks",
                  job_id: str = "maintenance",
                  value_kind: str = "double") -> int:
    """Compact fragmented day-blocks in ``table``; returns the number
    of fragmented groups repaired (0 = clean table or no-op replay).
    Idempotent per table snapshot: the rewrite commit key embeds the
    snapshot id being compacted.
    """
    _backfill_lineage(spark, io, table, job_id)
    snaps = io.snapshots(table)
    if not snaps:
        return 0
    # pin the read at the snapshot the commit key names: an append
    # landing between here and the rewrite neither enters the compacted
    # blocks nor gets its files dropped (rewrite preserves snapshots
    # after expected_snapshot_id)
    snap_id = snaps[-1].snapshot_id
    key = f"{job_id}/compact/{snap_id}"
    if any(s.commit_key == key for s in snaps):
        return 0
    # one live commit holds at most one block per group (module doc)
    if sum(1 for s in snaps if s.files) < 2:
        return 0
    blocks = io.read(table, snapshot_id=snap_id)
    n_frag = fragmented_group_count(blocks)
    if n_frag == 0:
        return 0
    t0 = time.time()
    snap = io.rewrite(table, compact_blocks(blocks, value_kind),
                      commit_key=key, expected_snapshot_id=snap_id)
    if snap is None:
        # nothing landed: either retention removed the anchor snapshot
        # (rewrite aborted) or a concurrent sweep won the same commit
        # key (that sweep owns the lineage row) — recording a success
        # here would fabricate a compaction that never happened
        return 0
    record_unit(spark, io, f"{job_id}-compact", unit=str(snap_id),
                rows_out=snap.added_rows, out_partitions=snap.added_files,
                out_bytes_est=snap.added_bytes,
                snapshot_id=snap.snapshot_id,
                wall_ms=max(int((time.time() - t0) * 1000), 1))
    # the rewrite changed the table's file set in place — memoized
    # spread() widen decisions keyed on the pre-rewrite plan are now
    # stale (r7 ADVICE); force the next stage to re-evaluate
    from ..operators.spread import invalidate as _spread_invalidate
    _spread_invalidate()
    return n_frag
