"""Session defaults fit the host they start on."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
from gorillaspark.plans.session import build_session
spark = build_session(app="gorillaspark-cpu-default")
print(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_default_parallelism_is_affinity_cpu_count(tmp_path):
    """Without SPARK_GRAFT_CPUS, build_session runs local[N] with N the
    CPUs this process may run on, and shuffles into N partitions. It
    starts its own JVM in a fresh process, since the test session's
    Spark is already running."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env.update(PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, env.get("PYTHONPATH")) if p),
               SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "shuffle"))
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=300,
                         check=True)
    parallelism, shuffle = map(int, out.stdout.split()[-2:])
    assert parallelism == len(os.sched_getaffinity(0))
    assert shuffle == len(os.sched_getaffinity(0))
