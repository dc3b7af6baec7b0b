"""End-to-end Spark pipeline tests: transcripts → points → Gorilla
blocks → decode round trip, rollup tiers vs a pandas oracle, gap-fill,
and text equality under stable turn ordering.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gorillaspark.operators.encode import (
    decode_points,
    encode_points,
    roundtrip_check,
)
from gorillaspark.operators.gapfill import gapfill_ffill
from gorillaspark.operators.normalize import (
    turn_latency_points,
    with_turn_latency,
)
from gorillaspark.operators.rollup import rollup_from_lower, rollup_tier


def test_generator_deterministic_and_skewed(spark):
    from gorillaspark.sources.transcripts import generate_transcripts
    a = generate_transcripts(spark, n_conv=10, mean_turns=30).toPandas()
    b = generate_transcripts(spark, n_conv=10, mean_turns=30).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    counts = a.groupby("conv_id").size()
    assert counts["conv000000"] >= 0.4 * counts.sum()  # hot conv skew
    # strictly increasing ts within conv
    for _, g in a.groupby("conv_id"):
        ts = g.sort_values("turn_idx")["ts"].to_numpy()
        assert (np.diff(ts.astype("datetime64[ms]").astype(np.int64)) > 0).all()


def test_turn_ordering_and_text_equality(spark, transcripts):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (BASELINE.json input_hint invariant): sorting the table twice along
    the stable key yields byte-identical text sequences."""
    once = (transcripts.orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", F.sha2("text", 256).alias("h")))
    again = (transcripts.repartition(7, "conv_id")
             .orderBy("conv_id", "turn_idx")
             .select("conv_id", "turn_idx", F.sha2("text", 256).alias("h2")))
    diff = (once.join(again, ["conv_id", "turn_idx"], "full_outer")
            .where((F.col("h") != F.col("h2"))
                   | F.col("h").isNull() | F.col("h2").isNull()))
    assert diff.count() == 0


def test_latency_points_match_pandas(spark, transcripts):
    pts = turn_latency_points(transcripts).toPandas()
    ref = transcripts.toPandas().sort_values(["conv_id", "turn_idx"])
    ref["ts_ms"] = ref["ts"].astype("datetime64[ms]").astype(np.int64)
    ref["lat"] = ref.groupby("conv_id")["ts_ms"].diff()
    ref = ref.dropna(subset=["lat"])
    got = pts.sort_values(["series_key", "ts_ms"]).reset_index(drop=True)
    want = (ref[["conv_id", "ts_ms", "lat"]]
            .sort_values(["conv_id", "ts_ms"]).reset_index(drop=True))
    assert len(got) == len(want)
    assert (got["series_key"].to_numpy() == want["conv_id"].to_numpy()).all()
    assert np.allclose(got["value"].to_numpy(), want["lat"].to_numpy())


def test_spark_roundtrip_bit_exact(spark, transcripts):
    pts = turn_latency_points(transcripts)
    bad = roundtrip_check(pts, value_kind="double")
    assert bad.count() == 0


def test_spark_roundtrip_adversarial_doubles(spark):
    """NaN payloads, -0.0, subnormals, ±Inf through the full Spark path.

    Built from rows (not pandas — pandas NaN would convert to Arrow
    NULL, which the encoder rejects by design) so genuine NaN doubles
    flow through the codec."""
    rows = []
    specials = [float("nan"), -0.0, 0.0, float("inf"), float("-inf"),
                5e-324, -5e-324, 1.7976931348623157e308, 1.0, -1.0]
    t = 1_500_400_800_001
    for i in range(400):
        rows.append(("s%d" % (i % 3), t + i * 7919,
                     specials[i % len(specials)] * (1 + (i % 5))))
    df = spark.createDataFrame(rows,
                               "series_key string, ts_ms long, value double")
    assert roundtrip_check(df, value_kind="double").count() == 0


def test_encode_rejects_null_values(spark):
    df = spark.createDataFrame(
        [("a", 1_500_400_800_001, 1.0), ("a", 1_500_400_800_002, None)],
        "series_key string, ts_ms long, value double")
    with pytest.raises(Exception, match="NULL"):
        encode_points(df).count()


def test_block_stats_reasonable(spark, transcripts):
    pts = turn_latency_points(transcripts)
    blocks = encode_points(pts).cache()
    stats = blocks.agg(
        F.sum("n_points").alias("pts"),
        F.sum(F.size("words")).alias("words")).collect()[0]
    assert stats["pts"] == pts.count()
    # compression: < 16 bytes/point (raw ts+value) on latency data
    assert stats["words"] * 8 < stats["pts"] * 16
    decoded = decode_points(blocks)
    assert decoded.count() == pts.count()
    blocks.unpersist()


def test_rollup_1m_matches_pandas_oracle(spark, transcripts):
    pts_df = turn_latency_points(transcripts)
    got = rollup_tier(pts_df, "1m").toPandas()
    pdf = pts_df.toPandas()
    pdf["bucket"] = (pdf["ts_ms"] // 60_000) * 60_000
    ref = pdf.groupby(["series_key", "bucket"])["value"].agg(
        cnt="count", sum="sum", avg="mean", min="min", max="max",
        p95=lambda s: s.quantile(0.95, interpolation="linear"))
    got["bucket_ms"] = got["bucket"].astype("datetime64[ms]").astype(np.int64)
    got = got.set_index(["series_key", "bucket_ms"]).sort_index()
    ref = ref.sort_index()
    assert len(got) == len(ref)
    for col in ["cnt", "sum", "avg", "min", "max", "p95"]:
        a = got[col].to_numpy(dtype=float)
        b = ref[col].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=1e-12), col


def test_rollup_cascade_consistency(spark, transcripts):
    pts = turn_latency_points(transcripts)
    m1 = rollup_tier(pts, "1m")
    h1 = rollup_from_lower(m1, "1h", p95_source=pts)
    direct = rollup_tier(pts, "1h")
    a = h1.select("series_key", "bucket", "cnt", "sum", "min", "max", "p95") \
        .toPandas().set_index(["series_key", "bucket"]).sort_index()
    b = direct.select("series_key", "bucket", "cnt", "sum", "min", "max",
                      "p95") \
        .toPandas().set_index(["series_key", "bucket"]).sort_index()
    assert len(a) == len(b)
    assert (a["cnt"] == b["cnt"]).all()
    for col in ["sum", "min", "max", "p95"]:
        assert np.allclose(a[col].to_numpy(), b[col].to_numpy(),
                           rtol=1e-12), col


def test_rollup_cascade_sketch_p95_within_bound(spark, transcripts):
    """The p95_sketch cascade mode: cnt/sum/min/max identical to the
    exact cascade, p95 within the sketch's 1% relative-error bound of
    the exact nearest-rank quantile — and NO raw re-read above the
    fine tier (the join input is the merged sketch, not points)."""
    from gorillaspark.operators.sketch import dd_sketch_tier

    pts = turn_latency_points(transcripts)
    m1 = rollup_tier(pts, "1m")
    sk = dd_sketch_tier(pts.select(
        "series_key", "ts_ms", F.col("value")), "1m")
    h1 = rollup_from_lower(m1, "1h", p95_sketch=sk)
    exact = rollup_from_lower(m1, "1h", p95_source=pts)
    a = h1.toPandas().set_index(["series_key", "bucket"]).sort_index()
    b = exact.toPandas().set_index(["series_key", "bucket"]).sort_index()
    assert len(a) == len(b) and (a["cnt"] == b["cnt"]).all()
    for col in ["sum", "min", "max"]:
        assert np.allclose(a[col].to_numpy(dtype=float),
                           b[col].to_numpy(dtype=float), rtol=1e-12)
    # the sketch guarantee is vs the exact NEAREST-RANK quantile
    # (F.percentile interpolates — a different convention that can
    # diverge arbitrarily on sparse buckets, so it is not the bound)
    from gorillaspark.operators.rollup import _bucket
    nr = (_bucket(pts, "1 hour")
          .groupBy("series_key", "bucket")
          .agg(F.array_sort(F.collect_list("value")).alias("vs"))
          .select("series_key", "bucket",
                  F.element_at(
                      "vs",
                      F.floor((19 * F.size("vs") + 19) / 20)
                      .cast("int")).alias("p95_nr"))
          .toPandas().set_index(["series_key", "bucket"]).sort_index())
    rel = np.abs(a["p95"].to_numpy() - nr["p95_nr"].to_numpy()) \
        / np.maximum(np.abs(nr["p95_nr"].to_numpy()), 1e-12)
    assert rel.max() <= 0.01 + 1e-9, rel.max()


def test_gapfill_ffill(spark):
    pdf = pd.DataFrame({
        "series_key": ["a"] * 3 + ["b"] * 2,
        "ts_ms": [60_000, 120_000, 360_000, 60_000, 65_000],
        "value": [1.0, 2.0, 3.0, 10.0, 20.0],
    })
    out = gapfill_ffill(spark.createDataFrame(pdf), "1m").toPandas()
    a = out[out.series_key == "a"].sort_values("bucket_ms")
    # grid spans 1m..6m inclusive → 6 buckets, gaps ffilled with 2.0
    assert len(a) == 6
    assert a["value"].tolist() == [1.0, 2.0, 2.0, 2.0, 2.0, 3.0]
    assert a["filled"].tolist() == [False, False, True, True, True, False]
    b = out[out.series_key == "b"]
    assert len(b) == 1 and not b["filled"].iloc[0]
    assert math.isclose(b["value"].iloc[0], 15.0)  # two points, avg agg


def test_spark_dfcm_and_v1_predictors(spark):
    """Non-default codecs through the full Spark path: DFCM predictor
    and the v1 wire format (scalar capability path)."""
    import random
    rng = random.Random(3)
    rows = [("s%d" % (i % 5), 1_500_400_800_001 + i * 9973,
             rng.random() * 1e5) for i in range(3000)]
    df = spark.createDataFrame(
        rows, "series_key string, ts_ms long, value double")
    for pred in ["dfcm:1024", "v1"]:
        blocks = encode_points(df, "double", predictor=pred)
        dec = decode_points(blocks, as_double=True) \
            .withColumnRenamed("value", "v2")
        j = df.join(dec, ["series_key", "ts_ms"], "full_outer")
        bad = j.where(F.col("value").isNull() | F.col("v2").isNull()
                      | (F.col("value") != F.col("v2"))).count()
        assert bad == 0, pred


def test_dfcm_repeat_asymmetry_is_mirrored():
    """The reference updates the predictor on xor==0 at encode but not
    decode (`ValueCompressor.java:34-35` vs `ValueDecompressor.java:53`)
    — a latent reference bug we mirror for bit-exactness. Under DFCM a
    repeated *prediction hit* therefore desyncs the streams; last-value
    is immune (its update is idempotent there)."""
    from gorillaspark.codec.scalar import GorillaDecoder, GorillaEncoder
    pts = [(1000 + 10 * i, v) for i, v in
           enumerate([5, 7, 7, 7, 9, 11, 7, 5])]
    enc = GorillaEncoder(999, predictor="dfcm:16")
    for t, v in pts:
        enc.add(t, v)
    out = GorillaDecoder(enc.close(), predictor="dfcm:16").read_all()
    # the desync manifests after the repeated-value run
    assert out[:2] == pts[:2]
    assert out != pts  # mirrored reference behavior, not a codec bug
    # last-value predictor round-trips the same series exactly
    enc2 = GorillaEncoder(999)
    for t, v in pts:
        enc2.add(t, v)
    assert GorillaDecoder(enc2.close()).read_all() == pts


def test_hot_conv_blocks_bounded(spark, transcripts):
    """Skew containment at the encode layout: the hot conversation
    (~50% of all turns) still produces day-bounded blocks, so no task
    receives an unbounded group (SURVEY §4.3 partitioning argument)."""
    pts = turn_latency_points(transcripts)
    blocks = encode_points(pts).cache()
    per_block = blocks.agg(F.max("n_points")).collect()[0][0]
    # a conv-day at ≥1ms spacing is hard-capped at 86.4M, but with the
    # generator's ~10s cadence a day holds ≤ ~8640 turns
    assert per_block <= 86_400
    hot = (blocks.where(F.col("series_key") == "conv000000")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("n_points").alias("pts")).collect()[0])
    hot_days = (pts.where(F.col("series_key") == "conv000000")
                .select((F.col("ts_ms") / 86_400_000).cast("long"))
                .distinct().count())
    assert hot["n"] == hot_days       # exactly one block per hot day
    assert hot["pts"] == pts.where(
        F.col("series_key") == "conv000000").count()
    blocks.unpersist()


def test_compact_blocks_bit_identical(spark):
    """Compacting fragmented day blocks must reproduce, word for word,
    the blocks a single-pass encode of the same points produces."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gorillaspark.operators.encode import compact_blocks, encode_points

    rng = np.random.default_rng(9)
    n = 20_000
    base = 1_700_000_000_000
    pdf = pd.DataFrame({
        "series_key": rng.integers(0, 12, n).astype(str),
        "ts_ms": base + rng.choice(
            np.arange(0, 5 * 86_400_000, 4_000), n, replace=False),
        "value": rng.normal(100, 20, n).round(3),
    })
    pts = spark.createDataFrame(pdf)
    truth = encode_points(pts, "double").toPandas()

    h = F.xxhash64("series_key", "ts_ms") % 2 == 0
    fragmented = encode_points(pts.where(h), "double").unionByName(
        encode_points(pts.where(~h), "double"))
    n_frag = fragmented.count()
    compacted = compact_blocks(fragmented, "double").toPandas()
    assert n_frag > len(truth)          # the fixture really fragments
    assert len(compacted) == len(truth)

    t = truth.sort_values(["series_key", "block_ts"]).reset_index(drop=True)
    c = compacted.sort_values(["series_key", "block_ts"]) \
        .reset_index(drop=True)
    assert (t["n_points"].values == c["n_points"].values).all()
    for a, b in zip(t["words"], c["words"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))
