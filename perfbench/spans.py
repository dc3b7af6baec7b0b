"""Outside-in tracing: wrap the program's public functions with spans.

Nothing inside ``gorillaspark`` changes. ``Tracer.install`` replaces
module and class attributes with wrappers; each wrapper records a span
(name, start, end, parent) and tags the Spark jobs it starts with its
own job group, so jobs are counted per span. Spans stay in memory until
the run ends. A span's self time is its duration minus its children's.
The time spent in the wrappers themselves is summed, so the run can
report what tracing cost.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    jobs: int = 0                       # jobs tagged with this span only
    attrs: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


def _spark_context():
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    return sc if sc is not None and sc._jsc is not None else None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.own_s = 0.0                # time spent inside the wrappers
        self.counts: dict[str, float] = {}

    # -- spans ---------------------------------------------------------
    def _enter(self, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name,
                  parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        sc = _spark_context()
        if sc is not None:
            sc.setJobGroup(f"perfbench-{sp.sid}", name)
        return sp

    def _exit(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        self.stack.pop()
        sc = _spark_context()
        if sc is not None:
            sp.jobs = len(sc.statusTracker()
                          .getJobIdsForGroup(f"perfbench-{sp.sid}"))
            parent = self.stack[-1] if self.stack else None
            sc.setLocalProperty(
                "spark.jobGroup.id",
                f"perfbench-{parent.sid}" if parent else None)
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.dur

    def call(self, name: str, fn, *args, after=None, **kwargs):
        """Run ``fn`` inside a span named ``name``; ``after(span, result,
        args, kwargs)`` may attach counts to the span."""
        w0 = time.perf_counter()
        sp = self._enter(name)
        self.own_s += time.perf_counter() - w0
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            sp.attrs["error"] = True
            raise
        finally:
            w1 = time.perf_counter()
            self._exit(sp)
            self.own_s += time.perf_counter() - w1
        if after is not None:
            w2 = time.perf_counter()
            after(sp, out, args, kwargs)
            self.own_s += time.perf_counter() - w2
        return out

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    # -- wrapping ------------------------------------------------------
    def traced(self, fn, name: str, after=None):
        """``fn`` wrapped in a span named ``name``."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, after=after, **kwargs)
        return wrapper

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        setattr(owner, attr, self.traced(getattr(owner, attr), name, after))

    def wrap_count(self, owner, attr: str, key: str) -> None:
        """Count calls without a span (for cheap, very frequent calls)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(key)
            return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every public entry point the workloads reach."""
        from gorillaspark.jobs import rollup_job
        from gorillaspark.plans import checkpoint, maintenance, session
        from gorillaspark.sources import tableio
        from gorillaspark.streaming import stream_rollup

        pio = tableio.ParquetTableIO
        for owner in (session, rollup_job):
            self.wrap(owner, "build_session", "session.start")
        self.wrap(rollup_job, "main", "rollup_job.main")
        self.wrap(rollup_job, "day_units", "rollup_job.day_units")
        self.wrap(rollup_job, "run_resumable_shared",
                  "checkpoint.run_resumable_shared", after=_after_shared)
        for owner in (checkpoint, maintenance):
            self.wrap(owner, "completed_units", "checkpoint.completed_units")
            self.wrap(owner, "record_unit", "checkpoint.record_unit")
        self.wrap(checkpoint, "_commit_unit", "checkpoint.stage")
        self.wrap(rollup_job, "retention_sweep", "retention.sweep",
                  after=_after_result("retention.dropped"))
        for owner in (rollup_job, maintenance):
            self.wrap(owner, "compact_sweep", "maintenance.compact",
                      after=_after_result("maintenance.frag_groups"))
        self.wrap(pio, "append", "tableio.append", after=_after_write)
        self.wrap(pio, "rewrite", "tableio.rewrite", after=_after_write)
        self.wrap(pio, "read", "tableio.read", after=_after_read)
        self.wrap(pio, "delete_snapshots_before",
                  "tableio.delete_snapshots_before")
        self.wrap_count(pio, "snapshots", "tableio.manifest_reads")
        self.wrap(stream_rollup, "flush_carry", "stream_rollup.flush")

    # -- summaries -----------------------------------------------------
    def subtree_jobs(self, sp: Span) -> int:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total, todo = 0, [sp]
        while todo:
            s = todo.pop()
            total += s.jobs
            todo.extend(kids.get(s.sid, []))
        return total

    def top_level_s(self, t0: float, t1: float) -> float:
        return sum(s.dur for s in self.spans
                   if s.parent is None and s.t0 >= t0 and s.t1 <= t1)


def _after_result(key: str):
    def after(sp, out, args, kwargs):
        sp.attrs[key] = int(out or 0)
    return after


def _after_shared(sp, out, args, kwargs):
    stages, units = args[2], args[3]
    sp.attrs["planned"] = len(stages) * len(units)


def _after_write(sp, snap, args, kwargs):
    if snap is None:
        return
    n = 0
    for d in snap.files:
        for root, _, files in os.walk(d):
            n += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    sp.attrs["bytes"] = n


def _after_read(sp, df, args, kwargs):
    io, table = args[0], args[1]
    upto = args[2] if len(args) > 2 else kwargs.get("snapshot_id")
    n = 0
    for s in type(io).snapshots.__wrapped__(io, table):
        n += len(s.files)
        if s.snapshot_id == upto:
            break
    sp.attrs["files"] = n
