"""TableIO snapshots, idempotent commits, resumable jobs, retention."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gorillaspark.operators.retention import (
    RetentionPolicy,
    apply_retention,
    retention_sweep,
)
from gorillaspark.plans.checkpoint import (
    META_SCHEMA,
    META_TABLE,
    completed_units,
    record_unit,
    run_resumable_shared,
    unit_metrics,
)
from gorillaspark.sources.tableio import ParquetTableIO


@pytest.fixture()
def io(spark, tmp_path):
    return ParquetTableIO(spark, str(tmp_path / "wh"))


def _on_disk(snap) -> tuple[int, int, int]:
    """(rows from the parquet footers, bytes, files) under an entry."""
    files = [p for d in snap.files
             for p in glob.glob(os.path.join(d, "*.parquet"))]
    return (sum(pq.read_metadata(p).num_rows for p in files),
            sum(os.path.getsize(p) for p in files), len(files))


def _counts(snap) -> tuple[int, int, int]:
    return snap.added_rows, snap.added_bytes, snap.added_files


def _spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts (tagged by a job group)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def test_snapshot_append_read(spark, io):
    df1 = spark.range(5).withColumn("v", F.lit("a"))
    df2 = spark.range(3).withColumn("v", F.lit("b"))
    s1 = io.append("t", df1)
    assert io.read("t").count() == 5
    s2 = io.append("t", df2)
    assert io.read("t").count() == 8
    # snapshot pinning: reading at s1 excludes s2's rows
    assert io.read("t", snapshot_id=s1.snapshot_id).count() == 5
    assert io.current_snapshot_id("t") == s2.snapshot_id


def test_idempotent_commit_key(spark, io):
    df = spark.range(4)
    assert io.append("t", df, commit_key="k1") is not None
    assert io.append("t", df, commit_key="k1") is None  # no-op replay
    assert io.read("t").count() == 4


def test_resumable_job_skips_done_units(spark, io):
    calls = []

    def unit_fn(u):
        calls.append(u)
        return spark.range(2).withColumn("unit", F.lit(u))

    ran1 = run_resumable_shared(spark, io, [("job1", lambda df: df, "out")],
                                ["d1", "d2", "d3"], unit_fn)["job1"]
    assert set(ran1) == {"d1", "d2", "d3"}
    assert io.read("out").count() == 6
    # simulate restart: only new unit runs, outputs not duplicated
    calls.clear()
    ran2 = run_resumable_shared(spark, io, [("job1", lambda df: df, "out")],
                                ["d1", "d2", "d3", "d4"], unit_fn)["job1"]
    assert set(ran2) == {"d4"} and calls == ["d4"]
    assert io.read("out").count() == 8
    assert completed_units(spark, io, "job1") == {"d1", "d2", "d3", "d4"}


def test_crash_between_output_and_meta_is_exactly_once(spark, io):
    """If a crash lands after the output append but before the meta
    row, the re-run re-executes the unit but the output append is a
    keyed no-op — no duplicate rows."""
    df = spark.range(3).withColumn("unit", F.lit("d1"))
    io.append("out", df, commit_key="job2/d1")   # output committed…
    # …crash before meta; restart:
    ran = run_resumable_shared(spark, io, [("job2", lambda df: df, "out")],
                               ["d1"],
                               lambda u: spark.range(3).withColumn(
                                   "unit", F.lit(u)))["job2"]
    assert ran == {"d1": 3}
    assert io.read("out").count() == 3           # not 6


def test_replay_does_not_rerun_committed_unit(spark, io):
    """A replayed unit takes its ledger row from the entry committed
    under its key: its output DataFrame is never executed."""
    snap = io.append("out", spark.range(3), commit_key="job3/d1")

    @F.udf("long")
    def boom(x):
        raise RuntimeError("replayed unit was executed")

    def unit_fn(u):
        return spark.range(3).select(boom("id").alias("id"))

    with pytest.raises(Exception, match="replayed unit was executed"):
        unit_fn("d1").collect()
    ran = run_resumable_shared(spark, io, [("job3", lambda df: df, "out")],
                               ["d1"], unit_fn)["job3"]
    assert ran == {"d1": 3}
    m = unit_metrics(spark, io, "job3").toPandas()
    assert m["snapshot_id"].tolist() == [snap.snapshot_id]
    assert m["rows_out"].tolist() == [3]


def test_replay_of_entry_without_counts_records_null(spark, io):
    """Entries committed before they carried counts replay with null
    ledger counts; nothing re-counts the committed output."""
    io.append("out", spark.range(3), commit_key="job4/d1")
    path = io._manifest_path("out")
    with open(path) as f:
        legacy = [{k: v for k, v in e.items() if not k.startswith("added_")}
                  for e in json.load(f)]
    with open(path, "w") as f:
        json.dump(legacy, f)
    ran = run_resumable_shared(spark, io, [("job4", lambda df: df, "out")],
                               ["d1"], lambda u: spark.range(3))["job4"]
    assert ran == {"d1": None}
    m = unit_metrics(spark, io, "job4").toPandas()
    assert m["rows_out"].isna().all() and m["out_bytes_est"].isna().all()
    assert m["snapshot_id"].tolist() == [legacy[0]["snapshot_id"]]


def test_entry_counts_match_written_files(spark, io):
    """append and rewrite record the rows in the written files' parquet
    footers, their bytes on disk and their number in the entry."""
    a = io.append("t", spark.range(0, 100, 1, 3))
    assert _counts(a) == _on_disk(a)
    assert a.added_rows == 100 and a.added_files == 3
    r = io.rewrite("t", io.read("t").where("id % 2 = 0").coalesce(1),
                   commit_key="compact/0")
    assert _counts(r) == _on_disk(r)
    assert r.added_rows == 50 and r.added_files == 1
    # the replaced entry keeps what its commit wrote
    old = io.snapshots("t")[0]
    assert old.files == [] and _counts(old) == _counts(a)


def test_retention_filter_and_sweep(spark, io):
    now = 100 * 86_400_000
    pol = RetentionPolicy()
    df = spark.createDataFrame(
        [(i * 86_400_000,) for i in range(80, 100)], "bucket_ms: long")
    kept = apply_retention(df, "raw", now, pol, bucket_col="bucket_ms")
    assert kept.count() == 7  # days 93..99 within the 7-day raw window
    # physical sweep: old snapshots dropped wholesale
    io.append("blocks", spark.range(2))
    snaps = io.snapshots("blocks")
    snaps[0].committed_at_ms = 0  # age it
    with open(io._manifest_path("blocks"), "w") as f:
        json.dump([s.__dict__ for s in snaps], f)
    dropped = retention_sweep(io, "blocks", "raw", now_ms=10**15)
    assert dropped == 1
    with pytest.raises(FileNotFoundError):
        io.read("blocks")


def test_unit_metrics_rows(spark, io):
    run_resumable_shared(spark, io, [("jm", lambda df: df, "out")],
                         ["u1", "u2"],
                         lambda u: spark.range(10).withColumn("unit",
                                                              F.lit(u)))
    m = unit_metrics(spark, io, "jm").toPandas()
    assert len(m) == 2
    assert (m["rows_out"] == 10).all()
    assert (m["out_partitions"] >= 1).all()
    assert (m["out_bytes_est"] > 0).all()
    assert (m["wall_ms"] >= 0).all()
    assert (m["committed_at_ms"] > 0).all()
    assert (m["rows_per_sec"] > 0).all()
    entries = {s.snapshot_id: s for s in io.snapshots("out")}
    for r in m.itertuples():
        rows, size, files = _on_disk(entries[r.snapshot_id])
        assert (r.rows_out, r.out_bytes_est, r.out_partitions) \
            == (rows, size, files)


def test_concurrent_appends_lose_no_snapshot(spark, io):
    """The manifest lock must serialize read-modify-write commits:
    N threads appending concurrently → exactly N snapshots survive."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i):
        io.append("conc", spark.range(3).withColumn("w", F.lit(i)),
                  commit_key=f"writer/{i}")

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(one, range(8)))
    snaps = io.snapshots("conc")
    assert len(snaps) == 8
    assert {s.commit_key for s in snaps} == {f"writer/{i}" for i in range(8)}
    assert io.read("conc").count() == 24
    # racing writers with the SAME key: exactly one commit wins
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(lambda _: io.append(
            "conc", spark.range(1), commit_key="dup"), range(8)))
    assert sum(1 for s in io.snapshots("conc")
               if s.commit_key == "dup") == 1


def test_rewrite_preserves_append_racing_compaction(spark, io):
    """A snapshot appended between the compactor's read and its
    manifest swap must survive the rewrite: its rows are not in the
    compacted DataFrame, so emptying its file list would be silent
    permanent data loss (the streaming-sink-plus-batch-compactor
    scenario the manifest lock exists to support)."""
    io.append("t", spark.range(5).withColumn("v", F.lit("old")),
              commit_key="w/0")
    anchor = io.current_snapshot_id("t")
    compacted = io.read("t", snapshot_id=anchor)
    # concurrent append lands AFTER the compactor read its input…
    io.append("t", spark.range(3).withColumn("v", F.lit("late")),
              commit_key="w/1")
    # …then the compactor swaps, anchored at what it actually read
    snap = io.rewrite("t", compacted, commit_key=f"compact/{anchor}",
                      expected_snapshot_id=anchor)
    assert snap is not None
    got = io.read("t")
    assert got.count() == 8  # 5 compacted + 3 late, none lost
    assert got.where(F.col("v") == "late").count() == 3
    # the late snapshot's files and commit key are both intact
    late = [s for s in io.snapshots("t") if s.commit_key == "w/1"]
    assert late and late[0].files
    # replaying the late append is still deduped
    assert io.append("t", spark.range(3), commit_key="w/1") is None


def test_rewrite_aborts_when_anchor_vanished(spark, io):
    """If retention dropped the anchor snapshot while the compactor
    was writing, the rewrite cannot reason about what it would replace
    and must abort without touching the manifest."""
    io.append("t", spark.range(4), commit_key="w/0")
    anchor = io.current_snapshot_id("t")
    # materialized pre-race, as a real compactor's write would be
    compacted = io.read("t", snapshot_id=anchor).localCheckpoint()
    # retention races: anchor snapshot removed wholesale
    io.delete_snapshots_before("t", cutoff_ms=10**15)
    io.append("t", spark.range(2), commit_key="w/1")
    before = [s.__dict__ for s in io.snapshots("t")]
    assert io.rewrite("t", compacted, commit_key=f"compact/{anchor}",
                      expected_snapshot_id=anchor) is None
    assert [s.__dict__ for s in io.snapshots("t")] == before
    assert io.read("t").count() == 2


def test_compact_sweep_with_concurrent_append(spark, tmp_path):
    """End-to-end: compact_sweep anchored at its read snapshot keeps a
    block appended mid-sweep."""
    from gorillaspark.operators.encode import encode_points
    from gorillaspark.plans.maintenance import compact_sweep
    from gorillaspark.sources.tableio import ParquetTableIO

    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    day = 86_400_000
    schema = "series_key string, ts_ms long, value double"
    rows = [("s1", day + i * 60_000, float(i)) for i in range(20)]
    pts = spark.createDataFrame(rows, schema)
    # fragment day 1 across two appends (mid-day split)
    io.append("blocks",
              encode_points(pts.where(F.col("ts_ms") < day + 600_000)),
              commit_key="mb/0")
    io.append("blocks",
              encode_points(pts.where(F.col("ts_ms") >= day + 600_000)),
              commit_key="mb/1")
    # monkeypatch rewrite to inject an append between read and swap
    real_rewrite = io.rewrite
    late_rows = [("s2", day * 2 + i * 60_000, float(i)) for i in range(5)]
    late = encode_points(spark.createDataFrame(late_rows, schema))

    def racing_rewrite(table, df, commit_key=None, expected_snapshot_id=None):
        io.append(table, late, commit_key="mb/late")
        return real_rewrite(table, df, commit_key=commit_key,
                            expected_snapshot_id=expected_snapshot_id)

    io.rewrite = racing_rewrite
    n = compact_sweep(spark, io, "blocks", job_id="j")
    io.rewrite = real_rewrite
    assert n == 1  # the fragmented day-1 group was repaired
    final = io.read("blocks")
    # day-1 fragments merged to one block; late s2 block survived
    assert final.where(F.col("series_key") == "s1").count() == 1
    assert final.where(F.col("series_key") == "s2").count() == 1


def test_compaction_rewrite_is_deterministic(spark, tmp_path):
    """Copies of one fragmented table compact to the same files: file k
    of one rewrite holds exactly the rows, in the same order, as file k
    of another, so stored bytes per seed can be compared run to run.
    Every append file here holds as many blocks of one size as the
    others, so the files tie on size and the compaction scan takes them
    in directory-listing order, which differs between copies."""
    from gorillaspark.operators.encode import encode_points
    from gorillaspark.operators.normalize import block_key
    from gorillaspark.plans.maintenance import compact_sweep

    day = 86_400_000
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def part(d):  # the encode shuffle's partition of (key, day d)
        return F.pmod(F.hash("series_key",
                              block_key(F.lit(d * day).cast("long"))),
                      F.lit(n_part))

    cand = spark.createDataFrame([(f"s{i:03d}",) for i in range(400)],
                                 "series_key string")
    by_part: dict[int, list[str]] = {}
    for r in cand.select("series_key", part(1).alias("p")) \
            .where(part(2) == F.col("p")).collect():
        by_part.setdefault(r.p, []).append(r.series_key)
    keys = [k for p in range(n_part) for k in sorted(by_part[p])[:3]]
    offs = range(0, day, 600_000)
    pts = spark.createDataFrame(
        [(k, d * day + o, float(i % 7)) for k in keys for d in (1, 2)
         for i, o in enumerate(offs)],
        "series_key string, ts_ms long, value double")
    # day 1 is cut in two; day 2 arrives whole and passes through
    cuts = [day, day + day // 2, 3 * day]

    def rewritten(name: str) -> list:
        io = ParquetTableIO(spark, str(tmp_path / name))
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            io.append("blocks", encode_points(
                pts.where((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))),
                commit_key=f"mb/{i}")
        assert compact_sweep(spark, io, "blocks", job_id="j") == len(keys)
        [snap] = [s for s in io.snapshots("blocks")
                  if s.commit_key.startswith("j/compact/")]
        files = glob.glob(os.path.join(snap.files[0], "*.parquet"))
        files.sort(key=lambda p: int(os.path.basename(p).split("-")[1]))
        return [pq.read_table(p) for p in files]

    first = rewritten("w0")
    assert sum(t.num_rows for t in first) == 2 * len(keys)
    for name in ("w1", "w2"):
        other = rewritten(name)
        assert len(other) == len(first)
        for a, b in zip(first, other):
            assert a.equals(b)


def test_rewrite_time_travel_consistent_at_concurrent_snapshot(spark, io):
    """ADVICE r4: the rewrite snapshot is inserted at the anchor
    position, not the manifest tail — so a cumulative read pinned at a
    concurrent snapshot X (landed after the anchor, before the swap)
    still sees the compacted base rows alongside X's own, and the
    rewrite snapshot's own cumulative read contains ONLY compacted
    rows."""
    io.append("t", spark.range(5).withColumn("v", F.lit("old")),
              commit_key="w/0")
    anchor = io.current_snapshot_id("t")
    compacted = io.read("t", snapshot_id=anchor)
    late = io.append("t", spark.range(3).withColumn("v", F.lit("late")),
                     commit_key="w/1")
    snap = io.rewrite("t", compacted, commit_key=f"compact/{anchor}",
                      expected_snapshot_id=anchor)
    assert snap is not None
    # time travel at the concurrent snapshot: base rows NOT collapsed
    at_late = io.read("t", snapshot_id=late.snapshot_id)
    assert at_late.count() == 8
    assert at_late.where(F.col("v") == "old").count() == 5
    # the rewrite's own cumulative read excludes concurrent appends
    at_rewrite = io.read("t", snapshot_id=snap.snapshot_id)
    assert at_rewrite.count() == 5
    assert at_rewrite.where(F.col("v") == "late").count() == 0
    # manifest order: rewrite sits at the anchor slot, late stays last
    assert io.current_snapshot_id("t") == late.snapshot_id


def test_ledger_and_repeat_read_start_no_spark_job(spark, io):
    """The ledger is written and read on the driver, and a second read
    of an unchanged table reuses the first one's DataFrame: none of
    these starts a Spark job."""
    io.append("t", spark.range(3))
    first = io.read("t")
    assert _spark_jobs(spark, lambda: record_unit(
        spark, io, "jj", "u1", 3, 1, 100, "s1", 5)) == 0
    assert _spark_jobs(spark, lambda: completed_units(
        spark, io, "jj")) == 0
    got = []
    assert _spark_jobs(spark, lambda: got.append(io.read("t"))) == 0
    assert got[0] is first
    assert completed_units(spark, io, "jj") == {"u1"}


def test_unit_metrics_shape_without_a_ledger(spark, io):
    """A job that never ran gets no rows but the same columns and types
    as after one recorded unit, rows_per_sec included."""
    empty = unit_metrics(spark, io, "jn")
    assert empty.count() == 0
    record_unit(spark, io, "jn", "u1", 4, 1, 40, "s1", 2)
    one = unit_metrics(spark, io, "jn")
    assert one.count() == 1
    assert [(f.name, f.dataType) for f in empty.schema] == \
        [(f.name, f.dataType) for f in one.schema]


def test_ledger_reads_rows_written_through_spark(spark, io):
    """A ``_meta`` holding a row written through Spark and rows written
    on the driver reads as one ledger: completed_units sees every row,
    unit_metrics keeps META_SCHEMA's names and types, DuckDB reads it."""
    import duckdb
    from pyspark.sql.types import DoubleType

    io.append(META_TABLE, spark.createDataFrame(
        [("jx", "u0", "done", 1, 1, 10, "s0", 5, 1)], META_SCHEMA),
        commit_key="meta/jx/u0")
    record_unit(spark, io, "jx", "u1", 2, 1, 20, "s1", 7)
    record_unit(spark, io, "jx", "u2", None, None, None, None, 0)
    record_unit(spark, io, "other", "u9", 1, 1, 1, "s9", 1)
    assert completed_units(spark, io, "jx") == {"u0", "u1", "u2"}
    assert completed_units(spark, io, "other") == {"u9"}
    m = unit_metrics(spark, io, "jx")
    assert [(f.name, f.dataType) for f in m.schema] == \
        [(f.name, f.dataType) for f in META_SCHEMA] \
        + [("rows_per_sec", DoubleType())]
    rows = sorted(m.collect(), key=lambda r: r.unit)
    assert [r.rows_out for r in rows] == [1, 2, None]
    assert [r.snapshot_id for r in rows] == ["s0", "s1", ""]
    files = io.live_files(META_TABLE)
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet({files}) "
        "WHERE status = 'done'").fetchone()[0] == 4


def test_read_memo_follows_commits(spark, io):
    """A memoized read never outlives the files it covers: append,
    rewrite, retention and snapshot-pinned reads each return the
    table's contents at that point."""
    s1 = io.append("t", spark.range(0, 3))
    assert _ids(io.read("t")) == [0, 1, 2]
    io.append("t", spark.range(3, 5))
    assert _ids(io.read("t")) == [0, 1, 2, 3, 4]
    assert _ids(io.read("t", snapshot_id=s1.snapshot_id)) == [0, 1, 2]
    assert _ids(io.read("t")) == [0, 1, 2, 3, 4]
    io.rewrite("t", io.read("t").where("id >= 1"), commit_key="c/0")
    assert _ids(io.read("t")) == [1, 2, 3, 4]
    io.append("t", spark.range(10, 12))
    assert _ids(io.read("t")) == [1, 2, 3, 4, 10, 11]
    snaps = io.snapshots("t")
    for s in snaps[:-1]:
        s.committed_at_ms = 0  # age every entry but the newest
    with open(io._manifest_path("t"), "w") as f:
        json.dump([s.__dict__ for s in snaps], f)
    assert io.delete_snapshots_before("t", cutoff_ms=1) == len(snaps) - 1
    assert _ids(io.read("t")) == [10, 11]


def test_compact_sweep_of_single_commit_table_starts_no_job(spark, io):
    """One live commit holds at most one block per (series_key,
    block_ts), so the sweep answers from the manifest."""
    from gorillaspark.operators.encode import encode_points
    from gorillaspark.plans.maintenance import compact_sweep

    day = 86_400_000
    pts = spark.createDataFrame(
        [(f"s{k}", day + i * 60_000, float(i)) for k in range(3)
         for i in range(20)],
        "series_key string, ts_ms long, value double")
    io.append("blocks", encode_points(pts), commit_key="b/0")
    got = []
    assert _spark_jobs(spark, lambda: got.append(
        compact_sweep(spark, io, "blocks", job_id="j"))) == 0
    assert got == [0]
    assert io.read("blocks").count() == 3
