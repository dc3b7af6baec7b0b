"""Checkpoint / lineage / metrics: resumable jobs.

Contract (north rule): jobs are resumable from snapshot checkpoints
with *per-partition lineage and metrics rows*. Implementation:

* work is partitioned into logical units (here: day partitions of the
  input); each unit's completion is one row in the ``_meta`` table
  (``META_SCHEMA``): ``(job_id, unit, status, rows_out, out_partitions,
  out_bytes_est, snapshot_id, wall_ms, committed_at_ms)``;
* the row's counts are the ``added_*`` counts of the snapshot entry
  the output append committed (rows, files, parquet bytes), so the
  output plan runs once — in its write — and nothing re-counts it;
* a restarted job anti-joins pending units against completed ``_meta``
  rows — only unfinished units re-run;
* the ledger is written and read on the driver: ``record_unit`` commits
  its one-row ``pyarrow`` table through ``ParquetTableIO.append`` and
  ``completed_units`` reads the live ``_meta`` files with
  ``pq.read_table``, so neither starts a Spark job. ``_meta`` stays a
  parquet table of ``META_SCHEMA``'s columns, so Spark (``unit_metrics``)
  and other engines read it, including rows written through Spark;
* output appends are keyed ``commit_key = f"{job_id}/{unit}"`` so a
  crash *between* output commit and meta commit replays the unit as a
  no-op append (idempotent exactly-once output) whose ``_meta`` row is
  taken from the entry already committed under that key.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

META_TABLE = "_meta"

META_SCHEMA = StructType([
    StructField("job_id", StringType(), False),
    StructField("unit", StringType(), False),
    StructField("status", StringType(), False),
    StructField("rows_out", LongType(), True),
    StructField("out_partitions", LongType(), True),
    StructField("out_bytes_est", LongType(), True),
    StructField("snapshot_id", StringType(), True),
    StructField("wall_ms", LongType(), True),
    StructField("committed_at_ms", LongType(), True),
])

# META_SCHEMA for rows built on the driver (string / int64 columns)
_META_ARROW = pa.schema([
    pa.field(f.name, pa.string() if isinstance(f.dataType, StringType)
             else pa.int64(), f.nullable)
    for f in META_SCHEMA])


def completed_units(spark: SparkSession, io, job_id: str) -> set[str]:
    files = io.live_files(META_TABLE)
    if not files:
        return set()
    meta = pq.read_table(files, columns=["job_id", "unit", "status"])
    d = meta.to_pydict()
    return {u for j, u, s in zip(d["job_id"], d["unit"], d["status"])
            if j == job_id and s == "done"}


def record_unit(spark: SparkSession, io, job_id: str, unit: str,
                rows_out: int | None, out_partitions: int | None,
                out_bytes_est: int | None,
                snapshot_id: str | None, wall_ms: int) -> None:
    row = (job_id, unit, "done", rows_out, out_partitions,
           out_bytes_est, snapshot_id or "", wall_ms,
           int(time.time() * 1000))
    io.append(META_TABLE,
              pa.Table.from_pylist([dict(zip(_META_ARROW.names, row))],
                                   _META_ARROW),
              commit_key=f"meta/{job_id}/{unit}")


def unit_metrics(spark: SparkSession, io, job_id: str):
    """The per-unit lineage + metrics rows for a job (throughput,
    output volume, snapshot ids) — the operational view the north rule
    asks for; no rows, with the same columns, if the job never ran."""
    try:
        meta = io.read(META_TABLE)
    except FileNotFoundError:
        meta = spark.createDataFrame([], META_SCHEMA)
    return (meta.where(F.col("job_id") == job_id)
            .withColumn("rows_per_sec",
                        F.col("rows_out")
                        / F.greatest(F.col("wall_ms"), F.lit(1)) * 1000))


def _commit_unit(spark: SparkSession, io, job_id: str, unit: str,
                 out: DataFrame, out_table: str) -> int | None:
    """Append one unit's output and record its lineage/metrics row from
    the snapshot entry the append committed — or, when the commit key
    was already committed (a replay after a crash), from that entry, so
    a replay never executes ``out``. Returns rows_out."""
    t0 = time.time()
    key = f"{job_id}/{unit}"
    snap = (io.append(out_table, out, commit_key=key)
            or io.committed(out_table, key))
    record_unit(spark, io, job_id, unit, snap.added_rows, snap.added_files,
                snap.added_bytes, snap.snapshot_id,
                int((time.time() - t0) * 1000))
    return snap.added_rows


def run_resumable_shared(spark: SparkSession, io,
                         stages: list[tuple],
                         units: list[str],
                         shared_fn) -> dict[str, dict[str, int]]:
    """Drive several resumable stages off ONE shared scan per unit.

    ``stages`` is a list of ``(job_id, stage_fn, out_table)`` where
    ``stage_fn(shared_df) -> DataFrame``; ``shared_fn(unit)`` derives
    the unit's shared input (e.g. the day's latency points), which is
    persisted once and fed to every stage still pending for that unit.
    Each stage keeps its OWN ``_meta`` ledger and idempotent commit
    key, so a stage resumes on its own: completed units are skipped on
    re-run. The expensive source scan happens once per unit instead of
    once per stage per unit (at 100 TB the difference between 1x and
    len(stages)x ingest cost). A single stage with an identity
    ``stage_fn`` is the plain one-table resumable job.

    Returns {job_id: {unit: rows_out}} for units executed this
    invocation.
    """
    done = {job_id: completed_units(spark, io, job_id)
            for job_id, _, _ in stages}
    ran: dict[str, dict[str, int]] = {job_id: {}
                                      for job_id, _, _ in stages}
    for unit in units:
        todo = [(j, fn, tbl) for j, fn, tbl in stages
                if unit not in done[j]]
        if not todo:
            continue
        shared = shared_fn(unit)
        if len(todo) > 1:  # a single pending stage needs no pin
            shared = shared.persist()
        try:
            for job_id, stage_fn, out_table in todo:
                ran[job_id][unit] = _commit_unit(
                    spark, io, job_id, unit, stage_fn(shared),
                    out_table)
        finally:
            if len(todo) > 1:
                shared.unpersist()
    return ran
