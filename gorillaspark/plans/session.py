"""SparkSession factory with the engine's scale-oriented defaults.

Everything here is plain configuration — no custom Catalyst rules are
needed anywhere in the engine (SURVEY.md §4.2): the codec is opaque to
Catalyst inside pandas UDFs and every relational piece uses stock
operators, so AQE + Arrow + a shuffle as wide as the host's CPU count
is the whole story.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "gorillaspark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict[str, str] | None = None) -> SparkSession:
    """Create (or fetch) a session tuned for the engine.

    Defaults fit the host: local[N] with N = SPARK_GRAFT_CPUS, else the
    CPUs this process may run on, and a shuffle N partitions wide, so a
    shuffle runs one task per CPU (a wider one pays the per-task Python
    worker and Arrow cost for nothing, and writes more, smaller files
    per append). On a real cluster the same code runs under
    spark-submit where master/shuffle come from the cluster conf and
    AQE re-plans at runtime.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting handle hot
        # conv_id skew
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # convert sort-merge joins to shuffled-hash at runtime when
        # every post-shuffle build partition fits comfortably (r9: the
        # band self-joins of minhash/simhash sorted two copies of a
        # narrow relation for nothing; default 0 never converts). Size
        # is measured per partition at runtime, so big-build joins
        # keep sort-merge — scale-adaptive, not tuned to local[32];
        # SPARK_GRAFT_SHJ_THRESHOLD overrides (bytes, 0 disables)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "134217728"))
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow is the codec UDF transport; large batches amortize the
        # per-batch kernel overhead (segmented encode is O(1) calls/batch)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
        # keep scan partitions near executor-memory-friendly sizes
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # rollups aggregate with F.percentile (TypedImperativeAggregate
        # → ObjectHashAggregate), whose default sort-based fallback
        # triggers at just 128 in-memory groups — a (series, bucket)
        # rollup has millions, so the default silently turns the hash
        # aggregate into an external SORT per partition. 2097152 keeps
        # it a true hash aggregate for realistic per-task group counts
        # (measured r5: a 317k-groups-per-task 1m rollup is 8-11%
        # slower at 131072, where the fallback trips, and the r4
        # 16x-lower default bought nothing where it didn't — ADVICE
        # r4). Env-tunable down for memory-constrained executors: each
        # percentile buffer holds all group values, so millions of
        # live buffers per task is an OOM, not a win.
        .config("spark.sql.objectHashAggregate.sortBased."
                "fallbackThreshold",
                os.environ.get("SPARK_GRAFT_OBJ_HASH_FALLBACK",
                               "2097152"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill to tmpfs when available: local[N] writes shuffle
    # files per stage, and a disk-bandwidth floor would otherwise cap
    # multi-core scaling (on a real cluster this is executor-local SSD)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/gorillaspark-shuffle"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
