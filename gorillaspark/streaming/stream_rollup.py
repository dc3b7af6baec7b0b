"""Structured Streaming: continuous rollups and incremental encode.

* :func:`streaming_rollup` — watermarked tumbling-window aggregates
  (cnt/sum/avg/min/max per series per bucket). Late turns within the
  watermark update their bucket; beyond it they are dropped by the
  engine (the codec itself never sees out-of-order data — reference
  `README.adoc:150` declares out-of-order unsupported, so the streaming
  layer is where lateness is absorbed).
* :func:`incremental_encode` — foreachBatch micro-batch encode with an
  open-day carry: a (series, day) is *closed* once the accumulated
  stream holds a later-day point for that series; closed days are
  encoded and appended (one block per series-day, no per-batch
  fragmentation), while each series' trailing open day is parked in a
  batch-versioned carry table and re-unioned into the next batch.
  :func:`flush_carry` encodes whatever is still open when the stream
  ends (or at a scheduled day boundary). Exactly-once via TableIO
  commit keys per batch_id; the carry is batch-versioned so a replayed
  batch reads the same carry it read the first time.

p95 note: exact percentiles are not incrementally mergeable; streaming
tiers expose cnt/sum/avg/min/max and the batch job backfills exact p95
(the lambda-architecture split, documented in SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.encode import encode_points


def streaming_rollup(turns: DataFrame, span: str = "1 minute",
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming per-series tumbling rollup with late-data watermark.

    ``turns`` is a streaming DataFrame with (conv_id, ts, …); output is
    append-mode-compatible once the watermark passes a window.
    """
    return (
        turns
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", span).alias("w"),
                 F.col("conv_id").alias("series_key"))
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.min("ts").alias("first_ts"),
             F.max("ts").alias("last_ts"))
        .select("series_key", F.col("w.start").alias("bucket"), "cnt",
                "first_ts", "last_ts")
    )


def _stream_parquet(spark, path: str) -> DataFrame:
    """readStream a parquet directory, or a SINGLE parquet file by
    streaming its parent directory filtered to the exact basename
    (glob metacharacters escaped) — FileStreamSource insists on a
    directory; the old trailing-char bracket-glob trick broke when the
    path's last char was ']' and changed meaning with glob chars
    earlier in the path (ADVICE r4)."""
    import os
    import re
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        parent, base = os.path.split(path)
        safe = re.sub(r"([*?\[\]{}\\])", r"\\\1", base)
        return reader.option("pathGlobFilter", safe).parquet(parent)
    return reader.parquet(path)


def _run_to_completion(spark, agg: DataFrame, what: str) -> DataFrame:
    """Run a bounded streaming aggregate to completion into a memory
    sink (complete mode + availableNow trigger) and return the final
    snapshot as a table."""
    import uuid
    name = f"gs_{what}_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    if not q.awaitTermination(300):
        # fail crisply: reading the snapshot mid-query would return a
        # silently partial aggregate (and leave the query running)
        q.stop()
        raise TimeoutError(f"streaming {what} did not finish in 300s")
    return spark.table(name)


def rates_snapshot(spark, events_path: str, span: str = "1 hour",
                   ts_col: str = "ts",
                   key_col: str = "event_type") -> DataFrame:
    """Run a bounded streaming windowed aggregation to completion and
    return the final snapshot (complete mode + availableNow trigger).

    This is the batch-parity surface for the driver's correctness
    gate: the snapshot of the streaming state after the last
    micro-batch must equal the equivalent batch GROUP BY — the same
    code path a live deployment runs, exercised against a static
    oracle. Complete mode is used (not append) because at end-of-input
    the watermark never passes the final windows; a live pipeline
    would use append mode + watermark as in :func:`streaming_rollup`.
    """
    stream = _stream_parquet(spark, events_path)
    agg = (stream.groupBy(
               F.window(F.col(ts_col).cast("timestamp"), span).alias("w"),
               key_col)
           .agg(F.count(F.lit(1)).alias("messages")))
    return (_run_to_completion(spark, agg, "snapshot")
            .select(F.unix_millis(F.col("w.start")).alias("bucket_ms"),
                    F.col(key_col), "messages"))


def sketch_snapshot(spark, points_path: str, tier: str = "1m",
                    alpha: float | None = None,
                    transform=None) -> DataFrame:
    """Streaming DDSketch tier to completion: the mergeable-quantile
    counterpart of :func:`rates_snapshot`.

    The sketch tier (operators/sketch.py) is a plain count aggregate
    over (series, bucket, sign, bin), so unlike exact p95 it IS
    incrementally mergeable — a streaming groupBy count builds the
    identical sketch a batch pass builds (parity pinned by
    tests/test_streaming.py). This removes the p95 column from the
    lambda-architecture split documented above: streaming tiers can
    now carry a quantile with the sketch's stated 1% error bound
    instead of deferring to a batch backfill.

    ``points_path`` holds (series_key, ts_ms, value) parquet — or any
    parquet whose rows ``transform`` (a stream-safe projection applied
    before the sketch, e.g. the events→points select) maps to that
    shape. Returns the final sketch snapshot
    (series_key, bucket_ms, sign, bin, cnt).
    """
    from ..operators.sketch import DEFAULT_ALPHA, dd_sketch_tier
    alpha = DEFAULT_ALPHA if alpha is None else alpha
    stream = _stream_parquet(spark, points_path)
    if transform is not None:
        stream = transform(stream)
    # the batch operator works unchanged on a streaming DataFrame —
    # ONE definition of the sketch aggregate, so batch/stream parity
    # is structural, not a convention two copies must maintain
    agg = dd_sketch_tier(stream, tier, alpha)
    return _run_to_completion(spark, agg, "sketch")


def dedup_snapshot(spark, docs_path: str, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Streaming exact-dedup to completion: the ingest-time dedup a
    training-data pipeline runs as documents arrive, as a bounded
    snapshot for the correctness gate.

    The batch operator (operators/dedup.py dedup_exact — groupBy
    content sha256, keep min id + copy count) works unchanged on a
    streaming DataFrame because it is a plain hash aggregate: ONE
    definition, so batch/stream parity is structural, exactly like
    :func:`sketch_snapshot`. min/count are order-independent, so the
    snapshot is deterministic regardless of micro-batch arrival
    order — what makes a full value oracle possible. A live
    deployment would run the same aggregate in update mode against a
    keyed state store (or dropDuplicates for at-most-once emission);
    complete mode + availableNow is the end-of-input snapshot of that
    state.

    Returns (content_hash, keep_id, n_copies).
    """
    from ..operators.dedup import dedup_exact
    stream = _stream_parquet(spark, docs_path)
    agg = dedup_exact(stream, text_col, id_col)
    return _run_to_completion(spark, agg, "dedup")


_DAY_MS = 86_400_000


def _carry_dir(io, carry_table: str) -> str:
    import os
    return os.path.join(io.root, carry_table)


def _latest_carry(io, spark, carry_table: str, schema,
                  before_batch: int | None = None) -> DataFrame | None:
    """Newest carry snapshot (strictly before ``before_batch`` when
    given, so a replayed batch sees exactly the carry it saw first),
    read with ``schema`` — the micro-batch's, whose columns the carry
    holds (parquet matches them by name) — so no inference job runs."""
    import os
    root = _carry_dir(io, carry_table)
    if not os.path.isdir(root):
        return None
    ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(root)
                 if d.startswith("batch=")
                 and (before_batch is None
                      or int(d.split("=", 1)[1]) < before_batch))
    if not ids:
        return None
    return spark.read.schema(schema).parquet(
        os.path.join(root, f"batch={ids[-1]}"))


def incremental_encode(io, out_table: str = "blocks",
                       carry_table: str = "blocks_carry"):
    """foreachBatch sink: encode *closed* series-days to Gorilla blocks,
    carry each series' trailing open day to the next micro-batch.

    Without the carry, every micro-batch would fragment the same
    (series, day) into one partial block per batch — decode stays
    correct but compression and block accounting degrade. Here a day
    closes when a later-day point for the same series arrives; call
    :func:`flush_carry` once the stream is done to encode the
    still-open tails."""
    import os

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _latest_carry(io, spark, carry_table, batch_df.schema,
                             before_batch=batch_id)
        data = batch_df if prev is None \
            else batch_df.unionByName(prev)
        if data.isEmpty():
            return
        data = data.withColumn("_day", F.floor(F.col("ts_ms") / _DAY_MS))
        maxd = data.groupBy("series_key").agg(F.max("_day").alias("_max_day"))
        joined = data.join(maxd, "series_key")
        closed = joined.where(F.col("_day") < F.col("_max_day")) \
            .drop("_day", "_max_day")
        open_day = joined.where(F.col("_day") == F.col("_max_day")) \
            .drop("_day", "_max_day")
        if not closed.isEmpty():
            io.append(out_table, encode_points(closed, "double"),
                      commit_key=f"stream-batch/{batch_id}")
        root = _carry_dir(io, carry_table)
        open_day.write.mode("overwrite").parquet(
            os.path.join(root, f"batch={batch_id}"))
        # prune carry snapshots no replay can need: a replay of batch
        # N reads batch=N-1, so keep the two newest and drop the rest
        # (otherwise carry storage grows with batch COUNT, not data)
        import shutil
        for d in os.listdir(root):
            if d.startswith("batch=") \
                    and int(d.split("=", 1)[1]) < batch_id - 1:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    return sink


def flush_carry(io, spark, out_table: str = "blocks",
                carry_table: str = "blocks_carry") -> None:
    """Encode the still-open series-days left in the carry (end of
    stream, or a scheduled flush between fully-committed batches).
    Idempotent per carry snapshot via the commit key; after the flush
    commits, the carry snapshot is emptied in place so a continuing
    stream cannot union (and re-encode) the already-flushed points.
    Mid-stream callers must flush only after the previous batch's
    checkpoint committed — a replay of that batch would rebuild its
    carry and re-open the flushed day."""
    import glob
    import os

    import pyarrow.parquet as pq
    root = _carry_dir(io, carry_table)
    if not os.path.isdir(root):
        return
    ids = sorted(int(d.split("=", 1)[1]) for d in os.listdir(root)
                 if d.startswith("batch="))
    if not ids:
        return
    path = os.path.join(root, f"batch={ids[-1]}")
    if not sum(pq.read_metadata(f).num_rows
               for f in glob.glob(os.path.join(path, "*.parquet"))):
        return
    tail = spark.read.parquet(path)
    io.append(out_table, encode_points(tail, "double"),
              commit_key=f"stream-carry-flush/{ids[-1]}")
    # idempotent even if we crash between append and this overwrite:
    # a re-run's append is deduped by the commit key, the overwrite
    # re-applies (fresh empty frame: overwriting a path while reading
    # from it is rejected by the file source)
    spark.createDataFrame([], tail.schema).write.mode(
        "overwrite").parquet(path)
