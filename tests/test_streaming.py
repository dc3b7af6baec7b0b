"""Structured Streaming: watermarked rollups and incremental encode
through a file-source micro-batch run."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gorillaspark.sources.tableio import ParquetTableIO
from gorillaspark.streaming.stream_rollup import (
    incremental_encode,
    streaming_rollup,
)


@pytest.fixture()
def turn_stream(spark, tmp_path, transcripts):
    src = str(tmp_path / "src")
    transcripts.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(transcripts.schema).parquet(src)


def test_streaming_rollup_matches_batch(spark, tmp_path, transcripts,
                                        turn_stream):
    out = streaming_rollup(turn_stream, "1 minute")
    q = (out.writeStream.format("memory").queryName("roll1m")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT series_key, bucket, cnt FROM roll1m").toPandas()
    want = (transcripts.groupBy(
                F.col("conv_id").alias("series_key"),
                F.window("ts", "1 minute")["start"].alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))).toPandas()
    g = got.sort_values(["series_key", "bucket"]).reset_index(drop=True)
    w = want.sort_values(["series_key", "bucket"]).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["cnt"].to_numpy() == w["cnt"].to_numpy()).all()


def test_incremental_encode_foreachbatch(spark, tmp_path, transcripts):
    """Open-day carry: a day split across micro-batches must still end
    up in ONE block per (series, day), and the end-of-stream flush must
    account for every point exactly once."""
    from gorillaspark.operators.normalize import turn_latency_points
    from gorillaspark.streaming.stream_rollup import flush_carry
    pts = turn_latency_points(transcripts)
    # two time-split files → two micro-batches that split days apart
    lo, hi = pts.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    mid = (lo + hi) // 2
    src = str(tmp_path / "pts")
    pts.where(F.col("ts_ms") < mid).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b0")
    pts.where(F.col("ts_ms") >= mid).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b1")
    stream = (spark.readStream.schema(pts.schema)
              .option("maxFilesPerTrigger", "1").parquet(src + "/b{0,1}"))
    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    q = (stream.writeStream.foreachBatch(incremental_encode(io))
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    flush_carry(io, spark)
    blocks = io.read("blocks")
    assert blocks.agg(F.sum("n_points")).collect()[0][0] == pts.count()
    # the carry guarantee: no (series, day) fragmented across blocks
    frag = (blocks.groupBy("series_key", "block_ts")
            .agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1))
    assert frag.isEmpty()
    # replaying a batch id must not duplicate (commit key no-op)
    pdf = pts.limit(5).toPandas()
    incremental_encode(io)(spark.createDataFrame(pdf), batch_id=0)
    assert io.read("blocks").agg(F.sum("n_points")).collect()[0][0] \
        == pts.count()


def test_stateful_latency_across_microbatches(spark, tmp_path, transcripts):
    """applyInPandasWithState: the first turn of a later micro-batch
    gets its latency against state from an earlier one."""
    from gorillaspark.operators.normalize import with_turn_latency
    from gorillaspark.streaming.stateful import streaming_latency_points

    src = str(tmp_path / "statesrc")
    # two time-ordered files → two micro-batches (maxFilesPerTrigger=1):
    # every conversation's later turns arrive in batch 2, so their first
    # latency there must come from batch-1 state
    cut = 30
    transcripts.where(F.col("turn_idx") < cut).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b0")
    transcripts.where(F.col("turn_idx") >= cut).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b1")
    stream = (spark.readStream.schema(transcripts.schema)
              .option("maxFilesPerTrigger", "1")
              .option("latestFirst", "false")
              .parquet(src + "/b{0,1}"))
    out = streaming_latency_points(stream)
    q = (out.writeStream.format("memory").queryName("statelat")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckstate"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM statelat").toPandas()
    batch = with_turn_latency(transcripts).toPandas()
    # file listing order is lexicographic (b0 then b1) → zero stragglers
    # and exact equality with the batch lag computation
    assert (got["dropped"] == 0).all()
    merged = got.merge(batch[["conv_id", "turn_idx", "latency_ms"]],
                       on=["conv_id", "turn_idx"],
                       suffixes=("", "_batch"))
    assert len(merged) == len(batch)
    both = merged.dropna(subset=["latency_ms", "latency_ms_batch"])
    assert (both["latency_ms"] == both["latency_ms_batch"]).all()
    # NULL latencies only on each conversation's first turn
    assert merged["latency_ms"].isna().sum() \
        == merged["latency_ms_batch"].isna().sum()


def test_streaming_rollup_append_mode_with_watermark(spark, tmp_path,
                                                     transcripts):
    """Append mode: only watermark-expired windows are emitted. With
    two time-split micro-batches, batch-2 data advances the watermark
    past all batch-1 windows, so the appended output must contain every
    window strictly older than (max event time − watermark)."""
    import pandas as pd
    lo, hi = transcripts.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    src = str(tmp_path / "wmsrc")
    transcripts.where(F.col("ts") < F.lit(mid)).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b0")
    transcripts.where(F.col("ts") >= F.lit(mid)).coalesce(1) \
        .write.mode("overwrite").parquet(src + "/b1")
    stream = (spark.readStream.schema(transcripts.schema)
              .option("maxFilesPerTrigger", "1").parquet(src + "/b{0,1}"))
    out = streaming_rollup(stream, "1 minute", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("wmroll")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckwm"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("SELECT series_key, bucket, cnt FROM wmroll").toPandas()
    assert len(got) > 0
    # every emitted window is complete → counts match the batch rollup
    want = (transcripts.groupBy(
                F.col("conv_id").alias("series_key"),
                F.window("ts", "1 minute")["start"].alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))).toPandas()
    m = got.merge(want, on=["series_key", "bucket"],
                  suffixes=("", "_want"))
    assert len(m) == len(got)
    assert (m["cnt"] == m["cnt_want"]).all()


def test_open_day_carry_three_batches_one_block(spark, tmp_path):
    """VERDICT r2 #7: one day arriving across ≥3 micro-batches must
    flush to exactly ONE block, bit-identical to the single-pass batch
    encode of the same points — no per-batch fragmentation."""
    from gorillaspark.operators.encode import encode_points
    from gorillaspark.streaming.stream_rollup import flush_carry

    day0 = 1_700_000_000_000 - (1_700_000_000_000 % 86_400_000)
    rows = [("s1", day0 + i * 60_000, float(i % 17) + 0.25)
            for i in range(90)]
    schema = "series_key string, ts_ms long, value double"
    pts = spark.createDataFrame(rows, schema)

    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    sink = incremental_encode(io)
    for b in range(3):  # same open day drips in over three batches
        sink(spark.createDataFrame(rows[b * 30:(b + 1) * 30], schema), b)
    with pytest.raises(FileNotFoundError):  # nothing closed → no blocks
        io.read("blocks")
    flush_carry(io, spark)

    got = io.read("blocks").collect()
    assert len(got) == 1, [r.asDict() for r in got]
    [ref] = encode_points(pts, "double").collect()
    assert got[0]["n_points"] == 90 == ref["n_points"]
    assert list(got[0]["words"]) == list(ref["words"])
    assert got[0]["block_ts"] == ref["block_ts"]


def test_late_point_for_closed_day_is_counted_and_compacted(spark,
                                                            tmp_path):
    """A point that arrives after its series-day closed is encoded as a
    fragment: decode stays exact, the fragment is counted, and
    compaction merges it into the one block a single pass would write."""
    import numpy as np

    from gorillaspark.operators.encode import decode_points, encode_points
    from gorillaspark.plans.maintenance import (
        compact_sweep,
        fragmented_group_count,
    )
    from gorillaspark.streaming.stream_rollup import flush_carry

    day = 86_400_000
    day0 = 1_700_000_000_000 - (1_700_000_000_000 % day)
    schema = "series_key string, ts_ms long, value double"
    batches = [
        # day-0 points of two series
        [("s1", day0 + i * 60_000, float(i % 7) + 0.5) for i in range(40)]
        + [("s2", day0 + i * 90_000, -float(i)) for i in range(5)],
        # a day-1 point of s1 closes its day 0
        [("s1", day0 + day + 5_000, 3.25)],
        # late: lands inside s1's already-encoded day 0
        [("s1", day0 + 30 * 60_000 + 1, -1.75)],
    ]
    io = ParquetTableIO(spark, str(tmp_path / "wh"))
    sink = incremental_encode(io)
    for b, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), b)
    flush_carry(io, spark)
    rows = [r for b in batches for r in b]
    pts = spark.createDataFrame(rows, schema)

    got = (decode_points(io.read("blocks"), as_double=False).toPandas()
           .sort_values(["series_key", "ts_ms"]))
    want = sorted(rows)
    bits = np.array([v for _k, _t, v in want]).view(np.int64)
    assert list(zip(got.series_key, got.ts_ms)) \
        == [(k, t) for k, t, _v in want]
    assert (got["value"].to_numpy() == bits).all()

    assert fragmented_group_count(io.read("blocks")) == 1
    assert compact_sweep(spark, io, "blocks", job_id="late") == 1
    blocks = {(r.series_key, r.block_ts): (r.n_points, list(r.words))
              for r in io.read("blocks").collect()}
    ref = {(r.series_key, r.block_ts): (r.n_points, list(r.words))
           for r in encode_points(pts, "double").collect()}
    assert io.read("blocks").count() == len(blocks) == 3
    assert blocks == ref


def test_streaming_sketch_parity_across_microbatches(spark, tmp_path):
    """The DDSketch tier built incrementally by Structured Streaming
    (multiple micro-batches via maxFilesPerTrigger) must equal the
    batch-built sketch bin-for-bin — the mergeable-quantile analogue
    of the event-rates parity check, proving streaming tiers can carry
    a bounded-error p95 instead of deferring to a batch backfill."""
    import numpy as np

    from gorillaspark.operators.sketch import (
        dd_sketch_quantile,
        dd_sketch_tier,
    )
    from gorillaspark.streaming.stream_rollup import sketch_snapshot

    rng = np.random.default_rng(11)
    day = 86_400_000
    rows = [(f"s{i % 3}", int(day + rng.integers(0, 2 * day)),
             float(np.exp(rng.normal(3, 1.5))))
            for i in range(3000)]
    pts = spark.createDataFrame(
        rows, "series_key string, ts_ms long, value double")
    src = str(tmp_path / "sketch_src")
    # several files so availableNow runs >1 micro-batch
    pts.repartition(4).write.mode("overwrite").parquet(src)

    stream_sk = sketch_snapshot(spark, src, tier="1h").toPandas()
    batch_sk = dd_sketch_tier(pts, "1h").toPandas()
    key = ["series_key", "bucket_ms", "sign", "bin"]
    s = stream_sk.sort_values(key).reset_index(drop=True)[key + ["cnt"]]
    b = batch_sk.sort_values(key).reset_index(drop=True)[key + ["cnt"]]
    pd.testing.assert_frame_equal(
        s.astype({"cnt": "int64"}), b.astype({"cnt": "int64"}))

    # identical sketches → identical quantiles end-to-end
    sq = (dd_sketch_quantile(spark.createDataFrame(stream_sk))
          .toPandas().sort_values(["series_key", "bucket_ms"])
          .reset_index(drop=True))
    bq = (dd_sketch_quantile(dd_sketch_tier(pts, "1h"))
          .toPandas().sort_values(["series_key", "bucket_ms"])
          .reset_index(drop=True))
    pd.testing.assert_frame_equal(sq, bq)
