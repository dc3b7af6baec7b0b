"""TableIO: snapshot-capable table access for the engine.

:class:`ParquetTableIO` keeps each table as parquet data directories
plus a JSON snapshot manifest (``_snapshots.json``) modelled on
Iceberg's snapshot log: every append commits a new snapshot entry
listing the directory it added, and readers pin a snapshot id and read
exactly the files committed up to it.

Each entry also records what its commit wrote: ``added_rows``,
``added_bytes`` and ``added_files``, read from the parquet footers and
sizes of the new files after the write and before the manifest lock
(Iceberg's snapshot summary carries the same as ``added-records``,
``added-files-size`` and ``added-data-files``). The counts stay when a
later rewrite empties the entry's file list; entries written before
they existed read them as None.

A write takes a Spark DataFrame or, for driver-side metadata such as
the checkpoint ledger's one-row commits, a ``pyarrow.Table`` that is
written with ``pq.write_table`` on the driver, so it starts no Spark
job; both land in a fresh data directory and commit the same way.

``read`` memoizes the DataFrame it resolves per table, keyed by the
tuple of live data directories the read covers. A hit skips Spark's
parquet schema-inference job and the file listing. This is safe
because a committed directory never changes: every write goes to a
fresh uuid directory, and ``rewrite`` and ``delete_snapshots_before``
change the tuple. Snapshot-pinned reads use the same key.

Writers are idempotent per ``commit_key``: re-running a failed job step
with the same key is a no-op (the resume contract in SURVEY.md §3.4).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: str
    committed_at_ms: int
    files: list[str]
    commit_key: str | None = None
    added_rows: int | None = None
    added_bytes: int | None = None
    added_files: int | None = None


class ParquetTableIO:
    """Parquet + JSON-manifest tables with snapshot semantics."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        # table -> (live data directories, the DataFrame reading them)
        self._reads: dict[str, tuple[tuple[str, ...], DataFrame]] = {}
        os.makedirs(root, exist_ok=True)

    # -- manifest ------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def snapshots(self, table: str) -> list[Snapshot]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        return [Snapshot(**s) for s in json.loads(open(p).read())]

    @contextlib.contextmanager
    def _manifest_lock(self, table: str, timeout_s: float = 30.0):
        """Serialize manifest read-modify-write across concurrent
        writers (e.g. a streaming sink plus a batch job sharing the
        warehouse): O_EXCL lockfile, stale locks broken after 60 s."""
        lock = self._manifest_path(table) + ".lock"
        os.makedirs(os.path.dirname(lock), exist_ok=True)
        deadline = time.time() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        # break the stale lock via rename: exactly ONE
                        # waiter wins the rename (unlink-then-create
                        # would let a second waiter's queued unlink
                        # delete the winner's fresh lock — TOCTOU)
                        stale = f"{lock}.stale.{uuid.uuid4().hex[:8]}"
                        os.rename(lock, stale)
                        os.unlink(stale)
                        continue
                except FileNotFoundError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"manifest lock busy: {lock}")
                time.sleep(0.05)
        try:
            yield
        finally:
            os.close(fd)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)

    def _store(self, table: str, snaps: list[Snapshot]) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump([s.__dict__ for s in snaps], f)
        os.replace(tmp, self._manifest_path(table))  # atomic commit

    def _write(self, table: str,
               df: DataFrame | pa.Table) -> tuple[str, dict]:
        """Write ``df`` to a fresh data directory; returns it with the
        entry counts of the parquet files just written there. A
        ``pyarrow.Table`` is written on the driver as one file."""
        path = os.path.join(self.root, table, "data", uuid.uuid4().hex[:12])
        if isinstance(df, pa.Table):
            os.makedirs(path)
            pq.write_table(df, os.path.join(path, "part-00000.parquet"))
        else:
            df.write.mode("overwrite").parquet(path)
        files = glob.glob(os.path.join(path, "*.parquet"))
        return path, {
            "added_rows": sum(pq.read_metadata(f).num_rows for f in files),
            "added_bytes": sum(os.path.getsize(f) for f in files),
            "added_files": len(files)}

    @staticmethod
    def _snapshot(path: str, commit_key: str | None,
                  counts: dict) -> Snapshot:
        return Snapshot(snapshot_id=uuid.uuid4().hex[:16],
                        committed_at_ms=int(time.time() * 1000),
                        files=[path], commit_key=commit_key, **counts)

    def committed_keys(self, table: str) -> set[str]:
        return {s.commit_key for s in self.snapshots(table) if s.commit_key}

    def committed(self, table: str, commit_key: str) -> Snapshot | None:
        """The entry committed under ``commit_key``, if any."""
        return next((s for s in self.snapshots(table)
                     if s.commit_key == commit_key), None)

    # -- I/O -------------------------------------------------------------
    def append(self, table: str, df: DataFrame | pa.Table,
               commit_key: str | None = None) -> Snapshot | None:
        """Write df as a new snapshot; no-op if commit_key already done."""
        if commit_key and commit_key in self.committed_keys(table):
            return None
        path, counts = self._write(table, df)
        with self._manifest_lock(table):
            # re-read inside the lock: another writer may have committed
            # this very commit_key since the pre-check
            snaps = self.snapshots(table)
            if commit_key and any(s.commit_key == commit_key for s in snaps):
                # lost a same-commit-key race after writing: remove the
                # orphaned data directory no snapshot will ever reference
                shutil.rmtree(path, ignore_errors=True)
                return None
            snap = self._snapshot(path, commit_key, counts)
            self._store(table, snaps + [snap])
            return snap

    def rewrite(self, table: str, df: DataFrame,
                commit_key: str | None = None,
                expected_snapshot_id: str | None = None) -> Snapshot | None:
        """Replace the table's contents up to ``expected_snapshot_id``
        with ``df`` in one atomic manifest swap — the parquet-fallback
        analogue of Iceberg's ``rewrite_data_files`` (compaction). The
        new data is fully written BEFORE the swap; replaced snapshots
        stay in the manifest with emptied file lists so their commit
        keys keep deduplicating replayed appends (crash-between-commits
        safety of plans/checkpoint.py survives a compaction). Old data
        dirs are removed only after the swap commits.

        ``expected_snapshot_id`` is the optimistic-concurrency anchor:
        the snapshot the caller read to build ``df``. Snapshots
        committed AFTER it (e.g. by a streaming sink running alongside
        the batch compactor) keep their files — their rows are not in
        ``df``, so emptying them would be silent data loss. If the
        expected snapshot is no longer in the manifest (retention raced
        the compactor), the rewrite aborts and returns None. With
        ``expected_snapshot_id=None`` the caller asserts ``df`` covers
        the whole table as of the swap, and every prior snapshot is
        replaced (the pre-concurrency behavior — only safe with a
        single writer).

        Collapses time-travel history up to the expected snapshot, like
        running Iceberg expire after a rewrite; no-op when
        ``commit_key`` was already committed.
        """
        if commit_key and commit_key in self.committed_keys(table):
            return None
        path, counts = self._write(table, df)  # reads old files: pre-swap
        with self._manifest_lock(table):
            snaps = self.snapshots(table)
            if commit_key and any(s.commit_key == commit_key
                                  for s in snaps):
                shutil.rmtree(path, ignore_errors=True)
                return None
            if expected_snapshot_id is None:
                n_replace = len(snaps)
            else:
                idx = [i for i, s in enumerate(snaps)
                       if s.snapshot_id == expected_snapshot_id]
                if not idx:
                    # anchor vanished (retention raced us): df may be
                    # stale in a way we can't reason about — abort
                    shutil.rmtree(path, ignore_errors=True)
                    return None
                n_replace = idx[0] + 1
            old_files = [f for s in snaps[:n_replace] for f in s.files]
            for s in snaps[:n_replace]:
                s.files = []
            snap = self._snapshot(path, commit_key, counts)
            # insert at the anchor position, NOT the manifest tail:
            # a cumulative read at any concurrent snapshot X that
            # landed after the anchor must still see the compacted
            # rows (the emptied base snapshots precede X), and a read
            # up to the rewrite must not include concurrent appends
            # (ADVICE r4)
            snaps.insert(n_replace, snap)
            self._store(table, snaps)
        for f in old_files:
            shutil.rmtree(f, ignore_errors=True)
        return snap

    def _live_dirs(self, table: str,
                   snapshot_id: str | None = None) -> tuple[str, ...]:
        """Data directories of the snapshots up to ``snapshot_id``
        (all of them when None or not found)."""
        snaps = self.snapshots(table)
        if snapshot_id is not None:
            upto = []
            for s in snaps:
                upto.append(s)
                if s.snapshot_id == snapshot_id:
                    break
            snaps = upto
        return tuple(f for s in snaps for f in s.files)

    def live_files(self, table: str) -> list[str]:
        """The parquet files of the table's live snapshots, for reads
        on the driver."""
        return [p for d in self._live_dirs(table)
                for p in sorted(glob.glob(os.path.join(d, "*.parquet")))]

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        dirs = self._live_dirs(table, snapshot_id)
        if not dirs:
            raise FileNotFoundError(f"table {table} has no snapshots")
        hit = self._reads.get(table)
        if hit is not None and hit[0] == dirs:
            return hit[1]
        df = self.spark.read.parquet(*dirs)
        self._reads[table] = (dirs, df)
        return df

    def current_snapshot_id(self, table: str) -> str | None:
        snaps = self.snapshots(table)
        return snaps[-1].snapshot_id if snaps else None

    def delete_snapshots_before(self, table: str, cutoff_ms: int) -> int:
        """Retention: drop whole snapshots whose commit time is before
        the cutoff, with their files; the data's own time is not
        consulted."""
        with self._manifest_lock(table):
            snaps = self.snapshots(table)
            keep, dropped = [], 0
            for s in snaps:
                if s.committed_at_ms < cutoff_ms:
                    for f in s.files:
                        shutil.rmtree(f, ignore_errors=True)
                    dropped += 1
                else:
                    keep.append(s)
            self._store(table, keep)
            return dropped
