#!/usr/bin/env python3
"""gorillaspark benchmark: one workload per process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Every operation whose output failed a check is named on
its own ``FAILED`` line before it. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("backfill", "stream")


def _metric_units(root: str, trace: bool) -> dict[str, str]:
    """Metric names and units, from the benchmark's own definition."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _host_env(root: str, work: str, cpus: int) -> None:
    """Size Spark to this process's CPUs and keep every file it writes
    (shuffle, spill, temp files) inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "shuffle"),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "TMPDIR": tmp,
        # Python workers unpickle functions from both packages
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })


def _stop_spark() -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gorillaspark", "__init__.py")):
        print("perfbench: no gorillaspark package here; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    units = _metric_units(root, bool(args.trace))
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    _host_env(root, work, cpus)
    sys.path[:0] = [HERE, root]

    import workloads
    tracer = None
    if args.trace:
        from spans import Tracer
        tracer = Tracer()
        tracer.install()
    ctx = workloads.Ctx(root=root, work=work, seed=args.seed,
                        seconds=args.seconds, tracer=tracer,
                        t_start=T_START, cpus=cpus)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        # one operation can fail several checks
        failed = min(len(res.failures), res.attempted)
        if tracer is not None:
            import layers
            values = layers.per_layer(ctx, tracer, res)
        else:
            values = {**res.metrics, **workloads.read_metrics(res),
                      "ok_share": 1 - failed / res.attempted}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in units.items()}
        info = {"cpus": cpus, **res.info}
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for f in res.failures:
        print(f"FAILED {f}")
    print("INFO " + json.dumps(info))
    print(json.dumps({"correct": not res.failures,
                      "attempted": res.attempted,
                      "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
