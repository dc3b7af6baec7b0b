"""Correctness checks against DuckDB, an engine independent of Spark.

The reference recomputes the latency points from the input transcripts
in SQL, and every check reads the warehouse files straight from the
table manifests, never through the program. Each check returns the
names of the operations whose output was wrong.
"""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb
import numpy as np
import pyarrow as pa

from inputs import DAY_MS, day_str
TIERS = (("1m", 60_000), ("1h", 3_600_000), ("1d", DAY_MS))
REL = 1e-9
SKETCH_ALPHA = 0.01


def live_files(warehouse: str, table: str) -> list[str]:
    """Parquet files referenced by the table's live snapshots."""
    manifest = os.path.join(warehouse, table, "_snapshots.json")
    if not os.path.exists(manifest):
        return []
    with open(manifest) as f:
        snaps = json.load(f)
    return sorted(p for s in snaps for d in s["files"]
                  for p in glob.glob(os.path.join(d, "*.parquet")))


def stored_bytes(io) -> int:
    """Parquet bytes of the live ``blocks`` + ``rollups`` + ``sketch_1m``
    snapshots (``_meta`` is left out: its timestamps vary)."""
    return sum(os.path.getsize(p)
               for t in ("blocks", "rollups", "sketch_1m")
               for p in live_files(io.root, t))


def row_count(io, table: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in live_files(io.root, table))


def _scan(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in files) + "])"


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL * max(abs(a), abs(b), 1e-300)


class Reference:
    """Latency points recomputed in DuckDB from the transcripts.

    ``per_day`` mirrors ``rollup_job``: each day unit derives its points
    from that day's turns only, so the first turn of a conversation-day
    has no predecessor."""

    def __init__(self, tmp: str, tx_path: str, per_day: bool) -> None:
        os.makedirs(tmp, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.con.execute("SET threads = 2")
        part = "conv_id, epoch_ms(ts) // 86400000" if per_day else "conv_id"
        tbl = self.con.execute(f"""
            SELECT conv_id AS series_key, ts_ms,
                   CAST(ts_ms - prev AS DOUBLE) AS value
            FROM (SELECT conv_id, epoch_ms(ts) AS ts_ms,
                         lag(epoch_ms(ts)) OVER (PARTITION BY {part}
                                                 ORDER BY turn_idx) AS prev
                  FROM read_parquet('{tx_path}/*.parquet'))
            WHERE prev IS NOT NULL AND ts_ms > 0
            ORDER BY series_key, ts_ms""").arrow()
        bits = tbl.column("value").to_numpy().view(np.int64)
        self.pts = tbl.append_column("bits", pa.array(bits))
        self.con.register("ref", self.pts)
        self.n_points = self.pts.num_rows

    def q(self, sql: str, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def days(self) -> list[int]:
        return [r[0] for r in self.q(
            "SELECT DISTINCT ts_ms // 86400000 * 86400000 FROM ref ORDER BY 1")]

    def series_days(self) -> list[tuple[str, int]]:
        return [(r[0], r[1]) for r in self.q(
            "SELECT DISTINCT series_key, ts_ms // 86400000 * 86400000 "
            "FROM ref ORDER BY 1, 2")]

    def points(self, series: str, day_ms: int):
        return self.q("SELECT ts_ms, bits, value FROM ref WHERE series_key = ? "
                      "AND ts_ms >= ? AND ts_ms < ? ORDER BY ts_ms",
                      series, day_ms, day_ms + DAY_MS)


def _day(ms: int) -> str:
    return day_str(ms // DAY_MS)


def _decoded_blocks(io) -> pa.Table:
    """Every live block decoded by the codec kernel, read with pyarrow
    (no Spark): (series_key, ts_ms, bits)."""
    import pyarrow.parquet as pq
    from gorillaspark.codec.vector import decode_blocks_fast
    tbl = pa.concat_tables(
        pq.read_table(p, columns=["series_key", "words"])
        for p in live_files(io.root, "blocks")).combine_chunks()
    words = tbl.column("words").chunk(0)
    offsets, ts, vals = decode_blocks_fast(
        words.values.to_numpy().view(np.uint64),
        np.diff(words.offsets.to_numpy()))
    keys = tbl.column("series_key").chunk(0).take(
        pa.array(np.repeat(np.arange(tbl.num_rows), np.diff(offsets))))
    return pa.table({"series_key": keys, "ts_ms": ts,
                     "bits": vals.view(np.int64)})


def blocks_match(ref: Reference, io, label: str) -> list[str]:
    """Decoded ``blocks`` equal the reference points on raw value bits;
    a mismatch names the day (the unit that wrote it)."""
    ref.con.register("dec0", _decoded_blocks(io))
    rows = ref.q("""
        WITH dec AS (SELECT *, count(*) OVER (PARTITION BY series_key, ts_ms)
                                 AS n FROM dec0)
        SELECT DISTINCT coalesce(r.ts_ms, d.ts_ms) // 86400000 * 86400000
        FROM ref r FULL OUTER JOIN dec d USING (series_key, ts_ms)
        WHERE r.bits IS DISTINCT FROM d.bits OR d.n > 1 ORDER BY 1""")
    return [f"{label} {_day(r[0])}: decoded points differ" for r in rows]


def blocks_unique(ref: Reference, io, label: str) -> list[str]:
    """No (series_key, block_ts) is stored twice."""
    files = live_files(io.root, "blocks")
    n = ref.q(f"""SELECT count(*) FROM (SELECT series_key, block_ts
                  FROM {_scan(files)} GROUP BY 1, 2
                  HAVING count(*) > 1)""")[0][0]
    return [f"{label}: {n} series-days stored in more than one block"] \
        if n else []


def rollups_match(ref: Reference, io) -> list[str]:
    """Every tier row against a SQL rollup of the reference points:
    cnt/min/max exactly, sum/avg/p95 to a relative 1e-9."""
    files = live_files(io.root, "rollups")
    want = " UNION ALL ".join(f"""
        SELECT '{t}' AS tier, series_key, ts_ms - ts_ms % {ms} AS bucket_ms,
               count(*) AS cnt, sum(value) AS sum, avg(value) AS avg,
               min(value) AS min, max(value) AS max,
               quantile_cont(value, 0.95) AS p95
        FROM ref GROUP BY ALL""" for t, ms in TIERS)
    rows = ref.q(f"""
        WITH want AS ({want}),
             got AS (SELECT tier, series_key, epoch_ms(bucket) AS bucket_ms,
                            cnt, sum, avg, min, max, p95
                     FROM {_scan(files)})
        SELECT coalesce(w.bucket_ms, g.bucket_ms), w.cnt, g.cnt, w.min, g.min,
               w.max, g.max, w.sum, g.sum, w.avg, g.avg, w.p95, g.p95
        FROM want w FULL OUTER JOIN got g USING (tier, series_key, bucket_ms)
        """)
    bad = set()
    for r in rows:
        if None in r or not (r[1] == r[2] and r[3] == r[4] and r[5] == r[6]
                             and _close(r[7], r[8]) and _close(r[9], r[10])
                             and _close(r[11], r[12])):
            bad.add(r[0] - r[0] % DAY_MS)
    return [f"rollup unit {_day(d)}: tier rows differ" for d in sorted(bad)]


def sketch_counts_match(ref: Reference, io) -> list[str]:
    """The 1m sketch holds exactly one count per point of each minute."""
    files = live_files(io.root, "sketch_1m")
    rows = ref.q(f"""
        WITH want AS (SELECT series_key, ts_ms - ts_ms % 60000 AS bucket_ms,
                             count(*) AS cnt FROM ref GROUP BY ALL),
             got AS (SELECT series_key, bucket_ms, sum(cnt) AS cnt
                     FROM {_scan(files)} GROUP BY ALL)
        SELECT DISTINCT coalesce(w.bucket_ms, g.bucket_ms) // 86400000
                        * 86400000
        FROM want w FULL OUTER JOIN got g USING (series_key, bucket_ms)
        WHERE w.cnt IS DISTINCT FROM g.cnt ORDER BY 1""")
    return [f"sketch unit {_day(r[0])}: bin counts differ" for r in rows]


def meta_once(ref: Reference, io, jobs: list[str],
              units: list[str]) -> list[str]:
    """Exactly one ``done`` ledger row per stage and unit."""
    files = live_files(io.root, "_meta")
    got = {(j, u): n for j, u, n in ref.q(f"""
        SELECT job_id, unit, count(*) FROM {_scan(files)}
        WHERE status = 'done' GROUP BY ALL""")}
    return [f"ledger {j}/{u}: {got.get((j, u), 0)} done rows"
            for j in jobs for u in units if got.get((j, u), 0) != 1]


# -- read operations -------------------------------------------------------
def ops_match(ref: Reference, ops) -> list[str]:
    check = {"lookup": _lookup_ok, "panel": _panel_ok, "scan": _scan_ok}
    return [f"{op.name}: answer differs" for op in ops
            if not check[op.kind](ref, op)]


def _lookup_ok(ref: Reference, op) -> bool:
    got = op.result["points"].sort_by("ts_ms")
    want = ref.points(op.series, op.day_ms)
    bits = got.column("value").to_numpy().view(np.int64).tolist()
    return (got.column("ts_ms").to_pylist() == [r[0] for r in want]
            and bits == [r[1] for r in want])


def _scan_ok(ref: Reference, op) -> bool:
    want = ref.q("""
        SELECT series_key, ts_ms // 3600000 * 3600000, min(value), max(value),
               arg_min(value, ts_ms), arg_max(value, ts_ms), count(*)
        FROM ref WHERE ts_ms >= ? AND ts_ms < ? GROUP BY ALL ORDER BY 1, 2""",
                 op.day_ms, op.day_ms + DAY_MS)
    got = op.result["m4"].sort_by([("series_key", "ascending"),
                                   ("bucket_ms", "ascending")])
    cols = ("series_key", "bucket_ms", "v_min", "v_max", "v_first", "v_last",
            "n")
    return list(zip(*(got.column(c).to_pylist() for c in cols))) == want


def _panel_ok(ref: Reference, op) -> bool:
    s = op.series
    want_h1 = ref.q("""
        SELECT ts_ms - ts_ms % 3600000 AS b, count(*), sum(value), avg(value),
               min(value), max(value), quantile_cont(value, 0.95),
               list(value ORDER BY value)
        FROM ref WHERE series_key = ? GROUP BY b ORDER BY b""", s)
    h1 = op.result["h1"]
    bucket_ms = [us // 1000 for us in
                 h1.column("bucket").cast(pa.int64()).to_pylist()]
    got_h1 = sorted(zip(
        bucket_ms,
        *(h1.column(c).to_pylist()
          for c in ("cnt", "sum", "avg", "min", "max", "p95"))))
    if [r[0] for r in got_h1] != [r[0] for r in want_h1]:
        return False
    for g, w in zip(got_h1, want_h1):
        if g[1] != w[1] or g[4] != w[4] or g[5] != w[5] or not (
                _close(g[2], w[2]) and _close(g[3], w[3])
                and _close(g[6], w[6])):
            return False
    p95 = {b: (c, v) for b, c, v in zip(
        *(op.result["p95"].column(c).to_pylist()
          for c in ("bucket_ms", "cnt", "p95")))}
    for w in want_h1:
        vals = w[7]
        exact = vals[(19 * len(vals) + 19) // 20 - 1]   # nearest rank
        c, est = p95.get(w[0], (None, math.nan))
        if c != len(vals) or not abs(est - exact) <= SKETCH_ALPHA * abs(exact) \
                + 1e-9:
            return False
    return _gapfill_ok(ref.points(s, op.day_ms), op.result["gapfill"])


def _gapfill_ok(pts, got) -> bool:
    sums: dict[int, list[float]] = {}
    for ts, _, v in pts:
        sums.setdefault(ts - ts % 60_000, []).append(v)
    grid = range(min(sums), max(sums) + 60_000, 60_000)
    rows = sorted(zip(*(got.column(c).to_pylist()
                        for c in ("bucket_ms", "value", "filled"))))
    if [r[0] for r in rows] != list(grid):
        return False
    last = None
    for b, v, filled in rows:
        if (b in sums) == filled:
            return False
        want = sum(sums[b]) / len(sums[b]) if b in sums else last
        if not _close(v, want):
            return False
        last = want
    return True
